"""Text normalization / analysis as Catalyst column expressions.

Everything here is built from ``pyspark.sql.functions`` only — JVM-side,
whole-stage-codegen-friendly, no Python in the hot path.  Parity targets are
the reference's scalar string processors (SURVEY.md §2.2, §2.7):

* clean_text      — domain/common.go:20  (CleanTextRE)
* clean_index_text— domain/common.go:21  (CleanIndexRE)
* strip_html      — index/builder.go:248-271 (htmlAddSpacesRE + sanitize)
* tokenize        — strings.Fields split (service.go:103, builder.go:264)
* word_filter     — builder.go:286-299 (runeLen<2, hyphen/quote edges)
* lang_of_token   — langdetect/component.go:21-88

plus training-data text analysis ops (quality scoring, subword-count
estimate) that a 100 TB pipeline needs.  The reference's query
processors (dimension suffixes, paper sizes, units) live in
``processors.py``; document fingerprints and SimHash in
``operators/dedup.py``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

# Parity with CleanTextRE (domain/common.go:20): anything outside the allowed
# alphabet becomes a space; lone " - " also removed.
_CLEAN_TEXT_BAD = r"[^0-9a-zA-Zа-яА-ЯёЁ\s\-.,+=`'*%]"
# Parity with CleanIndexRE (domain/common.go:21): stricter corpus alphabet —
# note digits are NOT allowed on the index side.
_CLEAN_INDEX_BAD = r"[^a-zA-Zа-яА-ЯёЁ\s\-`']"
# a hyphen standing alone between spaces
_LONE_HYPHEN = r"\s-\s"


def clean_text(col: Column) -> Column:
    c = F.regexp_replace(col, _CLEAN_TEXT_BAD, " ")
    return F.regexp_replace(c, _LONE_HYPHEN, " ")


def clean_index_text(col: Column) -> Column:
    c = F.regexp_replace(col, _CLEAN_INDEX_BAD, " ")
    return F.regexp_replace(c, _LONE_HYPHEN, " ")


def strip_html(col: Column) -> Column:
    """Insert spaces at tag boundaries, drop tags, then unescape the five
    standard entities (builder.go:248-271).

    Deliberate divergence from bluemonday StrictPolicy, documented for the
    parity record: bluemonday re-escapes text nodes (``&`` → ``&amp;``),
    which the reference's downstream alphabet regex then shreds into an
    ``amp`` token; here entities decode to their characters and the
    alphabet filter simply drops them.  Unclosed tags (``<foo`` with no
    ``>``) survive to the alphabet filter rather than swallowing the rest
    of the line.  ``&amp;`` decodes LAST so ``&amp;lt;`` yields the
    literal ``&lt;`` (no double-unescape)."""
    c = F.regexp_replace(col, r"<[^>]*>", " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&")):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def tokenize(col: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped (strings.Fields parity)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != F.lit(""))


def is_valid_word(tok: Column) -> Column:
    """Word filter parity (index/builder.go:286-299): ≥2 chars, no leading or
    trailing '-', no leading backtick/apostrophe."""
    return (
        (F.length(tok) >= 2)
        & ~tok.startswith("-")
        & ~tok.endswith("-")
        & ~tok.startswith("`")
        & ~tok.startswith("'")
    )


def normalize_words(col: Column) -> Column:
    """Lowercased, filtered token array from raw text — the index-build
    tokenization path (P2→P4→P5→P6)."""
    toks = tokenize(clean_index_text(F.lower(col)))
    return F.filter(toks, is_valid_word)


# ------------------------------------------------- Arrow twin (hot path)
#
# normalize_words evaluates as INTERPRETED higher-order functions (filter
# with a lambda never enters whole-stage codegen), which dominates every
# operator that tokenizes the full corpus.  ``arrow_normalize_words`` below
# reproduces it bit-for-bit with pyarrow.compute kernels over a whole Arrow
# batch, for the mapInArrow hot paths (index_build's counting pass,
# quality's pair stream); tests/test_vectorized_parity.py pins the parity
# on the fixtures, the corpus and hypothesis-generated strings:
#
# * Java regex \s is ASCII-only ([ \t\n\x0b\f\r]) — spelled explicitly so
#   RE2's \s (which lacks \x0b) can't diverge.
# * Spark lower() applies Java's full lowercase mapping, utf8_lower the
#   simple one.  They differ, inside this alphabet, only on U+0130 (dotted
#   capital I): Java gives "i" + U+0307, which the clean regex splits into
#   "i" and a space; the simple mapping gives a bare "i" that would join its
#   neighbours.  U+0130 is therefore expanded before utf8_lower.  The other
#   divergences (final sigma, titlecase digraphs) map outside the
#   [a-zа-яё\-`'] alphabet and are erased by the clean regex either way.
# * F.length / startswith / endswith count code points, as utf8_length does.

_WS_ARROW = "[ \t\n\x0b\f\r]"
_CLEAN_INDEX_BAD_ARROW = "[^a-zA-Zа-яА-ЯёЁ \t\n\x0b\f\r\\-`']"
_DASH_ARROW = f"{_WS_ARROW}-{_WS_ARROW}"


def arrow_normalize_words(texts: pa.Array) -> pa.ListArray:
    """Arrow twin of ``normalize_words``: one token list per text, null for
    a null text, bit-identical to the Catalyst expression."""
    t = pc.utf8_lower(pc.replace_substring(texts, "\u0130", "i\u0307"))
    t = pc.replace_substring_regex(t, _CLEAN_INDEX_BAD_ARROW, " ")
    t = pc.replace_substring_regex(t, _DASH_ARROW, " ")
    split = pc.split_pattern_regex(t, _WS_ARROW + "+")
    toks = pc.list_flatten(split)
    keep = pc.and_(
        pc.greater_equal(pc.utf8_length(toks), 2),
        pc.invert(pc.or_(pc.match_substring_regex(toks, "^[-`']"), pc.ends_with(toks, "-"))),
    )
    parents = pc.list_parent_indices(split).filter(keep).to_numpy()
    offsets = np.zeros(len(texts) + 1, dtype=np.int32)
    np.cumsum(np.bincount(parents, minlength=len(texts)), out=offsets[1:])
    return pa.ListArray.from_arrays(offsets, toks.filter(keep), mask=pc.is_null(texts))


_NUM_RE = r"^[0-9]+([.,][0-9]+)?$"
_RU_RE = r"^[а-яё\-`']+$"
_EN_RE = r"^[a-z\-`']+$"


def lang_of_token(tok: Column) -> Column:
    """Language tag of a lowercase token: num / ru / en / unknown.

    Column-expression analogue of LangByWord (langdetect/component.go:21-88).
    The reference tolerates ≤2 illegal runes by majority vote; we classify on
    the clean alphabet (inputs come pre-cleaned by clean_* above), which
    matches its behavior on all golden test words
    (langdetect/component_test.go:10-101).
    """
    return (
        F.when(tok.rlike(_NUM_RE), F.lit("num"))
        .when(tok.rlike(_RU_RE), F.lit("ru"))
        .when(tok.rlike(_EN_RE), F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


# ------------------------------------------------------- analysis (pipeline ops)

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "from", "that", "this", "be", "are", "was",
]


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-style subword count estimate: words + punctuation clusters, long
    words weighted by ceil(len/4) (common ~4 chars/token heuristic)."""
    words = tokenize(F.regexp_replace(text, r"([^\w\s])", r" $1 "))
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: alpha ratio, stopword presence,
    mean word length sanity, punctuation ratio.  All Catalyst expressions."""
    n_chars = F.greatest(F.length(text), F.lit(1))
    alpha_ratio = (F.length(F.regexp_replace(text, r"[^A-Za-zа-яА-Я ]", "")) / n_chars)
    punct_ratio = (F.length(F.regexp_replace(text, r"[^!?.,;:*%#@$^&]", "")) / n_chars)
    words = tokenize(F.lower(text))
    n_words = F.greatest(F.size(words), F.lit(1))
    stop_hits = F.size(F.array_intersect(words, F.array(*[F.lit(s) for s in _STOPWORDS])))
    stop_score = F.least(stop_hits / F.lit(3.0), F.lit(1.0))
    mean_wlen = F.length(text) / n_words
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 12), F.lit(1.0)).otherwise(F.lit(0.3))
    raw = alpha_ratio * 0.4 + stop_score * 0.3 + wlen_score * 0.2 + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.1
    return F.round(raw, 4)
