"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a text corpus,
plus embedding-cosine near-dup.  These generalize the reference's
fingerprint-style index keys (wordspell dedups queries with a hash set,
/root/reference/examples/speller/main.go:61-75) to corpus scale.

Design rules for 100 TB:

* Every candidate-pair generator is *bucketed* (LSH bands, simhash bands,
  same-source blocking) so the only shuffles are groupBys on small bucket
  keys — never an all-pairs crossJoin on the full corpus.
* Hashes default to the md5-derived family (`h64`) so results are
  deterministic across engines — the DuckDB oracles in __spark_entry__.py
  reproduce them bit-for-bit; the correctness gate stays on md5.  The
  signature operators additionally take ``hash_mode="fast"`` — a vectorized
  SipHash family for production deployments that need no cross-engine
  oracle (``_hash60_batch``; pair-set parity tested).
* Signature computation (minhash, simhash) runs as Arrow-batched Python —
  a single mapInPandas per relation doing tokenize→shingle→md5→fold with
  numpy, bit-identical to the Catalyst expression twins kept below
  (property-tested).  The expression forms evaluate interpreted (~100x
  slower, measured) and exist to pin the semantics the oracles mirror.
  Relational parts (joins, distinct, thresholds) stay Catalyst.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ------------------------------------------------------------------ hashing


def h64(col: Column) -> Column:
    """Deterministic 60-bit positive int64 from md5 — engine-portable.

    DuckDB equivalent: cast(('0x' || substr(md5(x),1,15)) as bigint).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def words_of(text: Column) -> Column:
    """Lowercased whitespace tokens (empty-safe)."""
    return F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda t: t != F.lit(""))


def shingles_of(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a document (sorted for determinism).

    Documents with fewer than ``n`` words have no shingles — the guard
    matters: an unguarded sequence(1, 0) descends to [1, 0] and slice(w, 0)
    throws INVALID_PARAMETER_VALUE.START for short docs.
    """
    w = words_of(text)
    sh = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_sort(F.array_distinct(sh))


# ----------------------------------------------- Python twins (hot path)
#
# The Catalyst forms above are the semantic reference (and what the DuckDB
# oracles mirror), but higher-order functions (transform/filter/array_sort
# with lambdas) evaluate INTERPRETED — measured ~15 ms/row for the shingle
# pipeline, which dwarfs the actual hashing.  The hot-path signature UDFs
# below therefore run the whole tokenize→shingle→md5 chain in Arrow-batched
# Python, bit-identical by construction:
#
# * tokenizer: Spark SQL trim strips the space char only (NOT Java
#   String.trim's <= U+0020 — hypothesis found that one); Java/RE2 '\\s' is
#   exactly Python re.ASCII '\\s' ([ \t\n\x0b\f\r]) — so lower → strip(' ')
#   → ASCII-\\s split → drop empties matches words_of for any input
#   (property-tested in tests/test_vectorized_parity.py).
# * hashes: hashlib.md5 over UTF-8 == Spark md5(cast(x as binary)) ==
#   DuckDB md5(varchar); the first 15 hex chars parse to the same 60-bit
#   int, so every downstream xor/min/concat is integer-exact.

_WS_RE = re.compile(r"\s+", re.ASCII)  # Java regex \s (ASCII-only)


def _py_words(text: str) -> list[str]:
    """Python twin of words_of (lower → trim → \\s+ split → drop empties)."""
    if text is None:
        return []
    t = text.lower().strip(" ")
    return [w for w in _WS_RE.split(t) if w]


def _md5_60(s: str) -> int:
    """Python twin of h64: first 15 hex chars of md5 as a 60-bit int."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


_FAST_HASH_KEY = "wordspellfast--0"  # exactly 16 bytes, pandas hash_array contract


def _hash60_batch(strings, fast: bool) -> np.ndarray:
    """60-bit positive int64 hashes of a string batch.

    ``fast=False`` (default everywhere): the md5-derived family the DuckDB
    oracles reproduce bit-for-bit — the correctness-gate mode.
    ``fast=True``: the production family (``hash_mode="fast"``) — one
    vectorized SipHash pass over the whole batch instead of a per-string
    md5 loop.  MinHash/SimHash only need a uniform 64-bit family, so the
    detected pair sets agree (parity-tested on the fixtures); what is lost
    is only cross-engine reproducibility of the raw hash values.  (Swapping
    ``F.xxhash64`` into ``h64`` does the same for the Catalyst-side
    expression twins.)
    """
    if fast:
        arr = np.asarray(list(strings), dtype=object)
        if arr.size == 0:
            return np.empty(0, dtype=np.int64)
        return (pd.util.hash_array(arr, hash_key=_FAST_HASH_KEY) >> np.uint64(4)).astype(
            np.int64
        )
    return np.fromiter((_md5_60(s) for s in strings), dtype=np.int64, count=len(strings))


def _check_hash_mode(hash_mode: str) -> bool:
    """Validate a hash_mode flag; returns the ``fast`` boolean."""
    if hash_mode not in ("md5", "fast"):
        raise ValueError(f"hash_mode must be 'md5' or 'fast', got {hash_mode!r}")
    return hash_mode == "fast"


def _batch_minhash_sigs(pdf: pd.DataFrame, masks: np.ndarray, n: int, fast: bool):
    """(ids, sig_matrix) for one Arrow batch of (__id, __text) rows.

    Every distinct shingle in the BATCH is hashed exactly once: cross-doc
    ``pd.factorize`` dedup (near-dup-rich corpora share most shingles)
    feeding ONE ``_hash60_batch`` call — per-doc hash calls were the
    dominant kernel cost, both as md5-loop interpreter round trips and as
    ``pd.util.hash_array`` per-call overhead (~0.1 ms/call, 15x the work
    itself on 8-string batches).  The per-doc min over (h ^ mask) then runs
    as segmented ``np.minimum.reduceat`` over doc-slice boundaries, chunked
    so the (shingles x num_perm) xor matrix stays ~64 MB.

    Values are bit-identical to the per-doc form (min is order-independent,
    the hash is per-string) — pinned by the existing parity suites.
    """
    ids: list = []
    sh_lists: list[list[str]] = []
    for doc_id, text in zip(pdf["__id"], pdf["__text"]):
        w = _py_words(text)
        if len(w) < n:
            continue
        ids.append(doc_id)
        sh_lists.append(list({" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}))
    num_perm = masks.size
    if not ids:
        return ids, np.empty((0, num_perm), dtype=np.int64)
    all_sh = [s for sh in sh_lists for s in sh]
    codes, uniq = pd.factorize(np.asarray(all_sh, dtype=object))
    flat_h = _hash60_batch(list(uniq), fast)[codes]
    lens = np.fromiter((len(sh) for sh in sh_lists), dtype=np.int64, count=len(ids))
    cum = np.concatenate([[0], np.cumsum(lens)])
    sigs = np.empty((len(ids), num_perm), dtype=np.int64)
    budget = max(8_000_000 // max(num_perm, 1), 1)  # xor-matrix rows per chunk
    d0 = 0
    while d0 < len(ids):
        d1, tot = d0, 0
        while d1 < len(ids) and (tot == 0 or tot + lens[d1] <= budget):
            tot += int(lens[d1])
            d1 += 1
        offs = (cum[d0:d1] - cum[d0]).astype(np.int64)
        sigs[d0:d1] = np.minimum.reduceat(
            flat_h[cum[d0] : cum[d1], None] ^ masks[None, :], offs, axis=0
        )
        d0 = d1
    return ids, sigs


# -------------------------------------------------------- cache ownership
#
# The pair generators persist shared subplans (both sides of an LSH
# self-join read the same banded relation).  A lazily returned DataFrame
# cannot unpersist its own dependencies — the caller owns the action — so
# each generator registers its caches on the result and callers release
# them after materializing.  bench.py and the pipeline tests do this; a
# leaked cache is bounded (id + band keys only) but accumulates across many
# calls in a long-lived session.


def _register_owned_cache(df: DataFrame, *cached: DataFrame) -> None:
    existing = list(getattr(df, "_owned_caches", ()))
    df._owned_caches = existing + list(cached)


def release_caches(df: DataFrame) -> None:
    """Unpersist every cached subplan a pair generator registered on df.
    Call after the result has been materialized (count/collect/write)."""
    for c in getattr(df, "_owned_caches", ()):  # pragma: no branch
        c.unpersist(blocking=False)
    df._owned_caches = []


# ------------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on a canonical fingerprint: md5 of the sorted word multiset.

    Whitespace/case-insensitive.  Returns one row per distinct fingerprint
    with the kept (min-id) doc and the duplicate count.  One groupBy shuffle
    on the 64-bit fingerprint — partial-aggregated map-side, skew-free.
    """
    fp = h64(F.concat_ws(" ", F.array_sort(words_of(F.col(text_col)))))
    return (
        docs.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


# ----------------------------------------------------------------- jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    n: int = 3,
    threshold: float = 0.5,
    max_block_rows: int = 10_000,
) -> DataFrame:
    """Same-block doc pairs with n-gram-shingle Jaccard ≥ threshold.

    This is the bounded *verification* operator: work is quadratic inside a
    block, so the block key must be partition-grain.  ``max_block_rows``
    enforces that lazily in-plan — a window count per block feeds an
    assert_true, so an oversized block fails the job fast with a clear
    message instead of silently exploding to ~rows² pairs (a 70 %-skewed
    source at corpus scale would be ~10^18 pairs).  Unblocked full-corpus
    near-dup goes through ``minhash_lsh_pairs``, whose cost follows true
    duplicate clusters.  Jaccard computed with array_intersect/array_union
    on distinct shingle sets — JVM-side.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        shingles_of(F.col(text_col), n).alias("sh"),
    ).filter(F.size("sh") > 0)
    if max_block_rows is not None:
        wb = Window.partitionBy("blk")
        guard = F.assert_true(
            F.count("*").over(wb) <= F.lit(max_block_rows),
            F.concat(
                F.lit(f"ngram_jaccard_pairs: block '"),
                F.col("blk").cast("string"),
                F.lit(
                    f"' exceeds max_block_rows={max_block_rows}; "
                    "use a finer block_col or minhash_lsh_pairs for unblocked near-dup"
                ),
            ),
        )
        base = base.withColumn("__guard", guard)
    else:
        base = base.withColumn("__guard", F.lit(None).cast("void"))
    a = base.select(F.col("id").alias("id_a"), "blk", F.col("sh").alias("sh_a"), "__guard")
    b = base.select(F.col("id").alias("id_b"), "blk", F.col("sh").alias("sh_b"))
    # keeping __guard through the join defeats column pruning of the assert
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b")).filter(F.col("__guard").isNull())
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.round(inter / union, 6)
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------------ minhash

DEFAULT_NUM_PERM = 16
DEFAULT_BAND_ROWS = 4


def _seed_masks(num_perm: int) -> list[int]:
    """Per-permutation xor masks, h64 of the seed index — computed driver-side
    so both Spark and the DuckDB oracle embed the same constants."""
    import hashlib

    return [
        int(hashlib.md5(f"minhash-seed-{s}".encode()).hexdigest()[:15], 16)
        for s in range(num_perm)
    ]


def minhash_signature(text: Column, num_perm: int = DEFAULT_NUM_PERM, n: int = 3) -> Column:
    """MinHash signature: per seed s, min over shingles of (h64(shingle) XOR mask_s).

    One md5 per shingle (the expensive part), then cheap xor re-permutations
    per seed — the classic xor-mask MinHash family.  Entirely row-local (no
    shuffle).  Empty docs get an empty signature.

    NOTE: expression twin for tests/oracles only — as a single expression
    the md5 subtree is copied into all num_perm array slots and every HOF
    evaluates interpreted; the hot path is ``minhash_signatures_df``
    (single mapInPandas, bit-identical).
    """
    sh = shingles_of(text, n)
    hashes = F.transform(sh, lambda x: h64(x))
    sig = F.array(
        *[
            F.array_min(F.transform(hashes, lambda h: h.bitwiseXOR(F.lit(mask))))
            for mask in _seed_masks(num_perm)
        ]
    )
    return F.when(F.size(sh) > 0, sig).otherwise(F.array().cast("array<bigint>"))


def minhash_signatures_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    n: int = 3,
    hash_mode: str = "md5",
) -> DataFrame:
    """(id, sig) — the hot-path MinHash signature, one Arrow-batched UDF.

    The whole tokenize→shingle→md5→xor/min chain runs in Python (see the
    parity notes above ``_py_words``): the Catalyst HOF pipeline evaluates
    interpreted at ~15 ms/row, vs ~0.1 ms/row here, and md5 costs the same
    in either runtime.  Values are bit-identical to ``minhash_signature``
    (property-tested).  Docs with no shingles (< n words) are dropped, as
    the expression form's size(sh) > 0 filter did.
    ``hash_mode``: "md5" (default; DuckDB-oracle-reproducible) or "fast"
    (production SipHash family, see ``_hash60_batch``).
    """
    masks = np.array(_seed_masks(num_perm), dtype=np.int64)
    fast = _check_hash_mode(hash_mode)

    # mapInPandas, not pandas_udf + filter: a filter on a UDF output column
    # gets its own ArrowEvalPython node (Catalyst extracts the UDF for the
    # condition AND for the projection → the whole chain runs twice,
    # plan-asserted in tests/test_plans.py).  Dropping no-shingle rows
    # inside the single pass keeps exactly one Python stage.
    from typing import Iterator

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # min over (h ^ mask) per seed; < 2^60 never touches the sign bit
            ids, sigs = _batch_minhash_sigs(pdf, masks, n, fast)
            yield pd.DataFrame(
                {"id": ids, "sig": pd.Series([r.tolist() for r in sigs], dtype=object)}
            )

    inp = docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    id_type = inp.schema["__id"].dataType.simpleString()
    return inp.mapInPandas(run, schema=f"id {id_type}, sig array<bigint>")


def minhash_band_hashes_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    band_rows: int = DEFAULT_BAND_ROWS,
    n: int = 3,
    hash_mode: str = "md5",
) -> DataFrame:
    """(id, band_idx, band_hash) — banded LSH keys, computed inside ONE UDF.

    Returning band hashes directly (band_hash = h64 of the comma-joined
    band slice of the signature, exactly as the expression form and the
    DuckDB oracle compute it) keeps the expensive chain behind a single
    projection: no optimizer rule can clone it into per-band copies, and
    the per-band work downstream is just a posexplode.
    """
    assert num_perm % band_rows == 0
    n_bands = num_perm // band_rows
    masks = np.array(_seed_masks(num_perm), dtype=np.int64)
    fast = _check_hash_mode(hash_mode)

    # one mapInPandas emits the exploded (id, band_idx, band_hash) rows
    # directly — no post-UDF filter (which would clone the Python stage, see
    # minhash_signatures_df) and no posexplode node
    from typing import Iterator

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = _batch_minhash_sigs(pdf, masks, n, fast)
            # band strings for the WHOLE batch feed one hash call — the
            # per-doc 8-string calls were pure per-call overhead (see
            # _batch_minhash_sigs)
            strs = [
                ",".join(str(v) for v in sigs[d, b * band_rows : (b + 1) * band_rows])
                for d in range(len(ids))
                for b in range(n_bands)
            ]
            yield pd.DataFrame(
                {
                    "id": [i for i in ids for _ in range(n_bands)],
                    "band_idx": np.tile(np.arange(n_bands, dtype=np.int32), len(ids)),
                    "band_hash": _hash60_batch(strs, fast),
                }
            )

    inp = docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    id_type = inp.schema["__id"].dataType.simpleString()
    return inp.mapInPandas(run, schema=f"id {id_type}, band_idx int, band_hash bigint")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    band_rows: int = DEFAULT_BAND_ROWS,
    n: int = 3,
    hash_mode: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    bands = num_perm/band_rows; two docs are candidates if any band of their
    signatures agrees exactly.  The only shuffle is the self-join on
    (band_idx, band_hash) — bucket sizes follow true duplicate clusters, so
    a pathological cluster (e.g. boilerplate pages) is the data's skew, not
    the algorithm's; cap cluster fan-out upstream with exact_dedup first.
    Returns distinct (id_a, id_b) with id_a < id_b.

    The banded relation is persisted so the self-join's two sides share one
    signature pass.  The cache is registered on the returned DataFrame —
    after materializing (count/collect/write), call ``release_caches(pairs)``
    to free executor storage (long-lived sessions would otherwise accumulate
    cached blocks until LRU pressure).
    """
    banded = minhash_band_hashes_df(docs, text_col, id_col, num_perm, band_rows, n, hash_mode)
    # persist: both sides of the self-join share this subplan; without it the
    # signature UDF runs twice (MLlib's approxSimilarityJoin caches the same
    # way).  Rows are (id, band, hash) — tiny relative to the corpus.
    banded = banded.persist()
    a = banded.select(F.col("id").alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col("id").alias("id_b"), "band_idx", "band_hash")
    pairs = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    _register_owned_cache(pairs, banded)
    return pairs


# ------------------------------------------------------------------ simhash

SIMHASH_BITS = 32


def simhash32(text: Column) -> Column:
    """32-bit SimHash over words: per-word md5 hash, ±1 vote per bit, sign.

    Pure Catalyst: one aggregate per bit over the word-hash array.  32 bits
    (not 64) keeps the expression tree — and the DuckDB oracle — tractable
    while Hamming-band dedup stays meaningful.
    """
    hashes = F.transform(words_of(text), lambda w: h64(w))
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        out = out + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash32_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "md5",
) -> DataFrame:
    """(id, sh) — same values as ``simhash32``, computed in one Arrow-batched
    UDF: Python tokenize + md5 (parity notes at ``_py_words``), then a numpy
    bit-vote fold, instead of an interpreted HOF word pipeline feeding 32
    interpreted aggregate passes.  Docs with no words hash to 0, matching
    the expression form's empty-array aggregate."""
    fast = _check_hash_mode(hash_mode)

    @F.pandas_udf("long")
    def sh_udf(texts: pd.Series) -> pd.Series:
        m = len(texts)
        if m == 0:
            return pd.Series([], dtype=np.int64)
        # words keep duplicates: each occurrence votes, as in simhash32 —
        # but hash each DISTINCT word once per batch and gather: corpora
        # are Zipfian, so the md5 loop shrinks by the batch's vocabulary
        # ratio (~10-30x) while every occurrence still votes identically
        words_rows = [_py_words(t) for t in texts]
        all_words = [w for r in words_rows for w in r]
        if all_words:
            codes, uniq = pd.factorize(np.asarray(all_words, dtype=object))
            flat_h = _hash60_batch(list(uniq), fast)[codes]
        else:
            flat_h = np.empty(0, dtype=np.int64)
        hs_rows, pos = [], 0
        for r in words_rows:
            hs_rows.append(flat_h[pos : pos + len(r)])
            pos += len(r)
        lens = np.fromiter((len(r) for r in hs_rows), dtype=np.int64, count=m)
        sh = np.zeros(m, dtype=np.int64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([r for r in hs_rows if len(r)])
            nzlens = lens[nz]
            offsets = np.concatenate([[0], np.cumsum(nzlens)[:-1]])
            acc = np.zeros(int(nz.sum()), dtype=np.int64)
            for b in range(SIMHASH_BITS):
                ones = np.add.reduceat((flat >> b) & 1, offsets)
                # vote = ones - (len - ones); bit set iff vote > 0
                acc += ((2 * ones - nzlens) > 0).astype(np.int64) << b
            sh[nz] = acc
        return pd.Series(sh)

    return docs.select(F.col(id_col).alias("id"), sh_udf(F.col(text_col)).alias("sh"))


def banded_hamming_pairs(
    base: DataFrame,
    bits: int,
    max_hamming: int,
    n_bands: int,
    fp_col: str = "fp",
) -> DataFrame:
    """Near-dup pairs among ``bits``-wide fingerprints with Hamming distance
    ≤ ``max_hamming`` — the ONE banded plan shared by simhash text dedup
    and pHash image dedup (``multimodal.fingerprint_pairs``).

    Pigeonhole banding: with n_bands > max_hamming, any in-budget pair
    agrees exactly on ≥1 band, so the self-join runs on (band_idx,
    band_bits) buckets, never all-pairs.  The fingerprint rides through
    the band join (one long, the same width as the id), so the exact
    ``bit_count(xor)`` distance filters candidates IN the join stage,
    before any further shuffle: the distinct then dedups only true
    near-pairs (≤ n_bands copies each) instead of the full candidate
    blow-up, and no re-attach join is needed.  (The ids-only-distinct +
    re-attach form shuffled every band collision and joined base back
    twice — measured ~2x the CPU and ~2.5x the wall on collision-heavy
    inputs.)  ``shiftrightunsigned`` keeps 64-bit fingerprints stored as
    signed longs band-stable; for non-negative values it equals
    ``shiftright``.  The caller owns persisting ``base`` and registering
    caches."""
    assert n_bands > max_hamming, "pigeonhole requires n_bands > max_hamming"
    assert bits % n_bands == 0
    w = bits // n_bands
    bands = base.select(
        "id",
        F.col(fp_col).alias("__fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(fp_col), b * w).bitwiseAND(F.lit((1 << w) - 1))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_bits"),
    )
    a = bands.select(F.col("id").alias("id_a"), F.col("__fp").alias("fp_a"), "band_idx", "band_bits")
    b = bands.select(F.col("id").alias("id_b"), F.col("__fp").alias("fp_b"), "band_idx", "band_bits")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    hash_mode: str = "md5",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Pigeonhole banding: with n_bands > max_hamming, any pair within the
    Hamming budget agrees exactly on ≥1 band — so the self-join runs on
    (band_idx, band_bits) buckets, never all-pairs.  Exact distance is then
    verified with bit_count(xor) on the candidates only.
    """
    # persist: the (id, simhash) relation feeds both sides of the band join;
    # the plan itself (in-join bit_count filter, no re-attach) lives in
    # banded_hamming_pairs, shared with pHash image dedup
    base = simhash32_df(docs, text_col, id_col, hash_mode).persist()
    pairs = banded_hamming_pairs(base, SIMHASH_BITS, max_hamming, n_bands, fp_col="sh")
    _register_owned_cache(pairs, base)
    return pairs


def _py_shingles(text: str | None, n: int) -> set[str]:
    """Python twin of ``shingles_of`` as an (unordered) set — same distinct
    n-word shingle STRINGS by construction (``_py_words`` parity + identical
    ``" ".join`` windows); order is irrelevant to every consumer (joins and
    aggregates)."""
    w = _py_words(text)
    if len(w) < n:
        return set()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share word
    n-grams with an evaluation set (the standard pre-training hygiene
    step — eval items leaking into training data inflate benchmarks).

    Returns (doc_id, n_shingles, n_hits): ``n_hits`` = how many of the
    doc's DISTINCT n-grams appear anywhere in the eval set; callers drop
    or down-weight docs with n_hits > 0 (or a fraction threshold).  Every
    doc stays present (0 hits included), so the output is a full
    decontamination report, not just the offenders.

    Scale shape: eval sets are small by nature (benchmarks), so their
    distinct-shingle set rides to the corpus side as a broadcast; the
    training side is ONE pass and zero-shingle docs stay present.

    The eval texts are collected driver-side (eager — same size contract
    as ``F.broadcast``), their shingle set is broadcast to the Python
    workers, and one mapInPandas computes ``len(doc_shingles & eval_set)``
    per doc — one OUTPUT ROW PER DOC, no join, no shuffle, and no shingle
    strings on the Arrow wire.  ``_py_shingles`` is bit-identical to
    ``shingles_of``, the form the DuckDB oracle mirrors (property-tested).
    An interpreted-HOF explode + broadcast-join form costs ~4x the
    kernel's busy-CPU, and an attempt that Arrow-shipped per-shingle rows
    into a Catalyst join measured worse still — serializing the exploded
    shingle stream dwarfs the interpreted-HOF cost it saved.

    Precondition: ``id_col`` is unique per row (a document PK); each input
    row gets its own report row, so duplicate ids are not merged.

    The eval broadcast is registered on the returned DataFrame: callers
    that materialize many reports in one session should
    ``release_caches(df)`` afterwards (the contract gate's one-call-per-query
    pattern doesn't need to)."""
    from typing import Iterator

    spark = docs.sparkSession
    eval_texts = [r[0] for r in eval_docs.select(eval_text_col).collect()]
    eval_set: set[str] = set()
    for t in eval_texts:
        eval_set |= _py_shingles(t, n)
    bc = spark.sparkContext.broadcast(eval_set)

    inp = docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    id_type = inp.schema["__id"].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ev = bc.value
        for pdf in batches:
            sets = [_py_shingles(t, n) for t in pdf["__text"]]
            yield pd.DataFrame(
                {
                    id_col: pdf["__id"].to_numpy(),
                    "n_shingles": np.fromiter(
                        (len(s) for s in sets), dtype=np.int64, count=len(sets)
                    ),
                    "n_hits": np.fromiter(
                        (len(s & ev) for s in sets), dtype=np.int64, count=len(sets)
                    ),
                }
            )

    out = inp.mapInPandas(run, schema=f"{id_col} {id_type}, n_shingles long, n_hits long")
    # Broadcast objects expose the same unpersist protocol the cache
    # registry releases — without this, every call leaks one copy of
    # the eval set into the block manager for the session's lifetime.
    _register_owned_cache(out, bc)
    return out
