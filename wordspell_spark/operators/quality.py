"""Corpus-conditioned quality scoring — the CCNet-style filtering stage.

``functions/text.py``'s quality signals are row-local (length, punctuation,
stopword ratios); web-corpus pipelines additionally score each document
against a language model TRAINED ON THE CORPUS ITSELF (CCNet's
perplexity-bucket filter).  ``bigram_coherence`` is that stage with integer
arithmetic instead of log-space floats, so the score is bit-exactly
reproducible in any engine (the DuckDB oracle replicates it):

    coherence(doc) = Σ over adjacent token pairs (a, b) of
                     (1000 * corpus_count(a, b)) div corpus_count(a)

— the sum of empirical conditional next-token probabilities in permille.
Gibberish and boilerplate-free spam score low (their bigrams are rare);
natural text built from the corpus's own collocations scores high.  Rank
order matches the log-likelihood filter for the decisions that matter
(low-tail cutoffs), while staying exact.

Scale shape: ONE tokenize-and-pair pass (a single vectorized
mapInArrow — no window shuffle), two map-side combined groupBys for the
corpus unigram/bigram tables, then two joins that re-attach the counts to
the per-doc pair stream.  The n-gram tables are the small side at web
scale (vocab² bounded, heavy-tailed) — AQE broadcasts them when they fit.

Precondition: the id column is unique per row (a document PK) — with
duplicate ids the per-doc aggregates are meaningless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _paired_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id_col, a, b) — one row per token, ``b`` = next token or NULL.

    One mapInArrow runs the vectorized normalize-tokenize twin
    (``text.arrow_normalize_words``, bit-identical to the Catalyst
    pipeline — property-tested) over each batch and emits each doc's
    adjacent pairs directly.  Adjacency is row-local, so this needs NO
    shuffle: a window ``lead`` over the token stream would sort-shuffle it
    on doc_id, and at corpus scale that shuffle would be the operator's
    largest while carrying zero information the row didn't already have.
    """
    from typing import Iterator

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.text import arrow_normalize_words

    inp = docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    id_type = inp.schema["__id"].dataType.simpleString()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            words = arrow_normalize_words(batch.column(1))
            a = words.flatten()
            doc = pc.list_parent_indices(words)
            d = doc.to_numpy()
            # b: the next token of the same doc, NULL after a doc's last one
            last = np.ones(len(a), dtype=bool)
            last[:-1] = d[1:] != d[:-1]
            b = a.take(pa.array(np.arange(1, len(a) + 1), mask=last))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(doc), a, b], names=[id_col, "a", "b"]
            )

    return inp.mapInArrow(run, schema=f"{id_col} {id_type}, a string, b string")


def bigram_coherence(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_pairs, coherence_sum) — corpus-trained bigram coherence.

    Tokenization is the engine's standard normalize pipeline
    (``text.normalize_words`` semantics, via the Arrow twin in
    ``_paired_tokens``); pairs are adjacent tokens within a doc regardless
    of language (the LM sees the document as the corpus wrote it).
    ``coherence_sum`` is the integer permille sum defined in the module
    docstring; callers threshold on ``coherence_sum div n_pairs`` (mean
    conditional probability) or on the sum directly.  Docs with fewer than
    2 tokens get (0, 0) — present, never dropped."""
    from .dedup import _register_owned_cache

    if id_col in ("a", "b"):
        raise ValueError(f"id_col {id_col!r} collides with the internal pair columns")
    # the tokenize pass is the dominant cost and feeds three subplans
    # (unigram table, bigram table, scored pair stream) — persist it so it
    # runs ONCE.  One row per token: b is NULL after a doc's last token, so
    # the unigram table is a groupBy over the SAME relation.
    paired = _paired_tokens(docs, text_col, id_col).persist()
    uni = paired.groupBy("a").agg(F.count("*").alias("c_a"))
    pairs = paired.filter(F.col("b").isNotNull())
    bi = pairs.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    scored = (
        pairs.join(bi, ["a", "b"])
        .join(uni, "a")
        .withColumn("permille", F.expr("(1000 * c_ab) div c_a"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("permille").cast("long").alias("coherence_sum"),
    )
    # docs without a single pair still appear, scored (0, 0)
    all_ids = docs.select(id_col).distinct()
    out = (
        all_ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("coherence_sum", F.lit(0)).alias("coherence_sum"),
        )
    )
    _register_owned_cache(out, paired)
    return out


# Default segment separator: ASCII whitespace spelled as an EXPLICIT class.
# r"\s+" is NOT engine-portable: Java regex \s includes \x0b (vertical tab)
# while DuckDB's RE2 \s does not, so texts containing VT would score
# differently under the oracle (r4 ADVICE).  Literal control characters in
# a character class parse identically everywhere.
WHITESPACE_SEP = "[ \t\n\x0b\f\r]+"


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = WHITESPACE_SEP,
) -> DataFrame:
    """Gopher-style repetition signals: how much of the document is
    duplicated segments (lines for newline-separated corpora, words with
    the default whitespace separator).

    (doc_id, n_segments, n_distinct, dup_seg_permille, dup_char_permille):
    ``dup_seg_permille`` = share of segments that are repeats of an
    earlier one; ``dup_char_permille`` = share of characters inside those
    repeats (each distinct segment's first occurrence is 'original').
    Integer permille over an explicit-class separator (``WHITESPACE_SEP``),
    so any engine reproduces it exactly.  Boilerplate and template spam
    score high; prose scores low."""
    segs = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), sep)).alias("seg"),
    ).filter(F.length("seg") > 0)
    per_seg = segs.groupBy(id_col, "seg").agg(F.count("*").alias("c"))
    agg = per_seg.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_segments"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.col("c") * F.length("seg")).cast("long").alias("total_chars"),
        F.sum(F.length("seg")).cast("long").alias("distinct_chars"),
    )
    out = agg.select(
        id_col,
        "n_segments",
        "n_distinct",
        F.expr("(1000 * (n_segments - n_distinct)) div n_segments").alias("dup_seg_permille"),
        F.expr(
            "CASE WHEN total_chars = 0 THEN 0 "
            "ELSE (1000 * (total_chars - distinct_chars)) div total_chars END"
        ).alias("dup_char_permille"),
    )
    all_ids = docs.select(id_col).distinct()
    return all_ids.join(out, id_col, "left").select(
        id_col,
        *[
            F.coalesce(c, F.lit(0)).alias(c)
            for c in ("n_segments", "n_distinct", "dup_seg_permille", "dup_char_permille")
        ],
    )


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): plain character classes, no backrefs or lookaround.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("longnum", r"[0-9]{9,}", "<NUM>"),
]


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Contact-info scrubbing (the C4/Pile-style cleaning stage): emails,
    IPv4 addresses and long digit runs replaced by typed placeholder
    tokens, applied in that order so an address inside an email is
    redacted as the email.  Returns (doc_id, redacted, n_email, n_ipv4,
    n_longnum) — counts come from the text as seen by each stage, so a
    run is never double-counted.  Pure Catalyst regexp ops (engine-
    portable by construction of the patterns)."""
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return docs.select(F.col(id_col), cur.alias("redacted"), *counts)
