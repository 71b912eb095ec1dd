"""Seeded input generators for the benchmark workloads (numpy + pyarrow only).

Every generator is a pure function of (seed, size): the same seed gives the
same rows.  The program under test only ever sees the Parquet written here;
the in-memory tables stay with the benchmark, which computes its exact
oracles from them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from wordspell_spark.sources import fixtures

EN_LETTERS = "abcdefghijklmnopqrstuvwxyz"
# no "ё": clean/lower/lang rules treat it specially, and a corruption that
# produced it would test normalisation, not correction
RU_LETTERS = "абвгдежзийклмнопрстуфхцчшщъыьэюя"

INDEX_THRESHOLDS = {"en": 10, "ru": 23}  # index_build.DEFAULT_THRESHOLDS
PAIR_THRESHOLD = 50  # index_build.DEFAULT_PAIR_THRESHOLD

# Each corrupted query is one edit away from its truth: single-edit errors
# are the bulk of real misspellings (Damerau, CACM 7(3), 1964: about 80%).
# The classes come in equal shares by design, not as a model of typo rates:
# each correction tier (insertion, deletion, merge, split) and the
# pass-through path then carry the same load, and recall weighs them alike.
CORRUPTIONS = ("untouched", "delete", "insert", "merge", "split")


def write_parquet(table: pa.Table, path: str, n_splits: int) -> None:
    """Write with ``n_splits`` row groups so Spark reads that many splits."""
    rows_per_group = max(1, -(-table.num_rows // n_splits))
    pq.write_table(table, path, row_group_size=rows_per_group)


# ------------------------------------------------------------ token tables


def sequences(n_rows: int, seed: int) -> pa.Table:
    """The Zipfian, 70%-web-skewed ``sequences`` fixture of the library."""
    return fixtures.sequences_table(n_rows, seed)


# ------------------------------------------------------------ spell corpus


@dataclass
class SpellInputs:
    vocab: np.ndarray  # object array of words
    lang: np.ndarray  # object array, "en" / "ru" per vocab word
    doc_tokens: np.ndarray  # int64 vocab ids of the corpus, flattened
    doc_offsets: np.ndarray  # int64, len n_docs + 1
    corpus: pa.Table  # doc_id BIGINT, text STRING
    queries: pa.Table  # query_id BIGINT, query STRING
    truth: np.ndarray  # object array: expected correction per query
    kind: np.ndarray  # object array: corruption applied per query


def random_words(rng: np.random.Generator, letters: str, n: int) -> np.ndarray:
    alphabet = np.array(list(letters), dtype=object)
    lens = rng.integers(4, 11, size=n)
    chars = alphabet[rng.integers(0, len(letters), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return np.array(["".join(c) for c in np.split(chars, cuts)], dtype=object)


def _vocabulary(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` distinct words, 60% en and 40% ru, in a seeded random order:
    a word's position is its frequency rank in the corpus."""
    n_en = int(n * 0.6)
    words, langs = [], []
    for letters, lang, want in ((EN_LETTERS, "en", n_en), (RU_LETTERS, "ru", n - n_en)):
        # a word that is the concatenation of two others could be split by
        # the split tier of the corrector; keep the "untouched stays
        # untouched" oracle unambiguous by dropping such words
        cand = list(dict.fromkeys(random_words(rng, letters, want + want // 4)))
        seen = set(cand)
        keep = [w for w in cand if not any(w[:i] in seen and w[i:] in seen for i in range(2, len(w) - 1))]
        if len(keep) < want:
            raise ValueError(f"only {len(keep)} {lang} words for a vocabulary of {want}")
        words += keep[:want]
        langs += [lang] * want
    order = rng.permutation(n)
    return np.array(words, dtype=object)[order], np.array(langs, dtype=object)[order]


def spell_inputs(n_tokens: int, n_queries: int, seed: int) -> SpellInputs:
    """en+ru corpus of about ``n_tokens`` words, plus corrupted queries.

    Word frequencies follow the library's own token model
    (``fixtures._zipf_tokens``: Zipf s=1.1 over a 50,000-word vocabulary), so
    the index holds the vocabulary's head, the words at or above the
    per-language thresholds.  On top of that, ``n_tokens // 5000``
    same-language word pairs are planted often enough to become indexed
    bigrams, which the merge corruption needs.
    """
    rng = np.random.default_rng([seed, 2])
    vocab, lang = _vocabulary(rng, fixtures.VOCAB_SIZE)
    singles = fixtures._zipf_tokens(rng, n_tokens).astype(np.int64)

    # units: single words, plus planted phrases kept adjacent in the stream
    pools = (np.flatnonzero(lang == "en"), np.flatnonzero(lang == "ru"))
    n_phr = max(4, n_tokens // 5000)
    firsts = np.array([rng.choice(pools[i % 2]) for i in range(n_phr)])
    seconds = np.array([rng.choice(pools[i % 2]) for i in range(n_phr)])
    reps = rng.integers(PAIR_THRESHOLD + 5, PAIR_THRESHOLD + 40, size=n_phr)
    unit_a = np.concatenate([singles, np.repeat(firsts, reps)])
    unit_b = np.concatenate([np.full(singles.size, -1), np.repeat(seconds, reps)])
    order = rng.permutation(unit_a.size)
    unit_a, unit_b = unit_a[order], unit_b[order]

    # documents of 5..60 units; a phrase never straddles two documents
    sizes = rng.integers(5, 61, size=unit_a.size // 5 + 1)
    ends = np.cumsum(sizes)
    sizes = sizes[: int(np.searchsorted(ends, unit_a.size)) + 1]
    sizes[-1] -= int(sizes.sum()) - unit_a.size
    unit_len = 1 + (unit_b >= 0)
    tok_cum = np.concatenate([[0], np.cumsum(unit_len)])
    doc_offsets = tok_cum[np.concatenate([[0], np.cumsum(sizes)])].astype(np.int64)
    doc_tokens = np.empty(int(tok_cum[-1]), dtype=np.int64)
    doc_tokens[tok_cum[:-1]] = unit_a
    two = unit_b >= 0
    doc_tokens[tok_cum[:-1][two] + 1] = unit_b[two]

    words = vocab[doc_tokens]
    text = [" ".join(words[doc_offsets[i] : doc_offsets[i + 1]]) for i in range(len(sizes))]
    corpus = pa.table(
        {
            "doc_id": pa.array(np.arange(len(sizes), dtype=np.int64)),
            "text": pa.array(text, type=pa.string()),
        }
    )

    queries, truth, kind = _queries(rng, vocab, lang, doc_tokens, doc_offsets, n_queries)
    qtable = pa.table(
        {
            "query_id": pa.array(np.arange(n_queries, dtype=np.int64)),
            "query": pa.array(queries, type=pa.string()),
        }
    )
    return SpellInputs(vocab, lang, doc_tokens, doc_offsets, corpus, qtable, truth, kind)


def exact_index(vocab, lang, doc_tokens, doc_offsets) -> dict[tuple[str, str], int]:
    """Exact (lang, word) -> freq of ``build_frequency_index`` on this corpus:
    thresholded unigrams plus thresholded same-language adjacent bigrams."""
    v = vocab.size
    uni = np.bincount(doc_tokens, minlength=v)
    out: dict[tuple[str, str], int] = {}
    for i in np.flatnonzero(uni > 0):
        if uni[i] >= INDEX_THRESHOLDS[lang[i]]:
            out[(lang[i], vocab[i])] = int(uni[i])
    a, b = doc_tokens[:-1], doc_tokens[1:]
    same_doc = np.ones(a.size, dtype=bool)
    same_doc[doc_offsets[1:-1] - 1] = False  # pair across a doc boundary
    ok = same_doc & (lang[a] == lang[b])
    keys, cnt = np.unique(a[ok] * v + b[ok], return_counts=True)
    for k, c in zip(keys[cnt >= PAIR_THRESHOLD], cnt[cnt >= PAIR_THRESHOLD]):
        x, y = divmod(int(k), v)
        out[(lang[x], f"{vocab[x]} {vocab[y]}")] = int(c)
    return out


def _queries(rng, vocab, lang, doc_tokens, doc_offsets, n):
    """Queries over the index, each indexed word or bigram equally likely.
    Under Zipf a frequency-weighted pick would put a few head words, whose
    lengths (and so correction costs) vary by seed, into most queries."""
    index = exact_index(vocab, lang, doc_tokens, doc_offsets)
    uni = np.array([w for (_, w) in index if " " not in w], dtype=object)
    pairs = np.array([w for (_, w) in index if " " in w], dtype=object)
    long_words = np.array([w for w in uni if len(w) >= 6], dtype=object)
    usable = [
        k for k in CORRUPTIONS
        if (k != "merge" or pairs.size) and (k != "split" or long_words.size)
    ]
    kinds = np.array(usable, dtype=object)[rng.integers(0, len(usable), size=n)]
    alphabet = {"en": EN_LETTERS, "ru": RU_LETTERS}
    word_lang = dict(zip(vocab, lang))
    queries, truth = [], []
    for k in kinds:
        if k == "merge":
            w = pairs[rng.integers(pairs.size)]
            q = w.replace(" ", "")
        elif k == "split":
            w = long_words[rng.integers(long_words.size)]
            p = int(rng.integers(3, len(w) - 2))
            q = f"{w[:p]} {w[p:]}"
        else:
            w = uni[rng.integers(uni.size)]
            if k == "delete":
                p = int(rng.integers(len(w)))
                q = w[:p] + w[p + 1 :]
            elif k == "insert":
                p = int(rng.integers(len(w) + 1))
                letters = alphabet[word_lang[w]]
                q = w[:p] + letters[int(rng.integers(len(letters)))] + w[p:]
            else:
                q = w
        queries.append(q)
        truth.append(w)
    return queries, np.array(truth, dtype=object), kinds
