"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus a random-hyperplane
LSH-bucketed variant as the scale path: at 10^9+ vectors the crossJoin is
impossible, but hyperplane buckets turn ANN into a groupBy-sized join with
recall controlled by (n_planes, n_tables).

Distance math runs on Arrow-batched numpy (matmul signatures, cumsum-exact
cosine) — Catalyst higher-order functions evaluate *interpreted* and were
measured 100x slower; the expression twins (``cosine``,
``hyperplane_signature``) are kept because they define the semantics the
DuckDB oracles mirror, and the UDFs reproduce them bit-for-bit (sequential
IEEE summation via cumsum, identical md5-derived planes).  Everything is
deterministic: planes/centroids are md5-derived, no driver-side randomness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _register_owned_cache, h64


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_udf():
    """Vectorized cosine — bit-identical to the ``cosine`` expression twin.

    The Catalyst form accumulates left-to-right (aggregate(zip_with), start
    0.0), as does DuckDB's list_sum in the oracles.  numpy's sum/dot use
    pairwise/BLAS order, whose last-ulp drift could flip a round(…, 6) or a
    rank tie — so this UDF accumulates with ``cumsum(axis=1)``, which is
    inherently sequential per row: the same IEEE double additions in the
    same order, vectorized across the batch instead of across dimensions.

    Precondition: array ELEMENTS must be non-null.  Arrow delivers an
    element-level NULL to the UDF as NaN — indistinguishable from a real
    NaN — so this UDF returns NaN where the Catalyst twin would return
    NULL.  Row-level nulls and length mismatches do map to NULL, matching
    the twin.  (Real-NaN elements propagate to NaN in both engines.)
    """

    @F.pandas_udf("double")
    def cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        m = len(a)
        if m == 0:
            return pd.Series([], dtype=np.float64)
        out: list[float | None] = [None] * m  # null-length-mismatch → null, as zip_with does
        by_len: dict[int, list[int]] = {}
        for i in range(m):
            va, vb = a.iloc[i], b.iloc[i]
            if va is None or vb is None or len(va) != len(vb):
                continue
            by_len.setdefault(len(va), []).append(i)
        with np.errstate(invalid="ignore", divide="ignore"):
            for length, idxs in by_len.items():
                if length == 0:
                    for i in idxs:
                        out[i] = float("nan")  # 0.0 / (0.0 * 0.0), as Catalyst
                    continue
                A = np.stack([np.asarray(a.iloc[i], dtype=np.float64) for i in idxs])
                B = np.stack([np.asarray(b.iloc[i], dtype=np.float64) for i in idxs])
                dots = (A * B).cumsum(axis=1)[:, -1]
                na = np.sqrt((A * A).cumsum(axis=1)[:, -1])
                nb = np.sqrt((B * B).cumsum(axis=1)[:, -1])
                sims = dots / (na * nb)
                for j, i in enumerate(idxs):
                    out[i] = float(sims[j])
        return pd.Series(out, dtype=object)

    return cos_udf


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the corpus.

    The corpus side never shuffles raw vectors — the only shuffle is the
    per-query top-k aggregation, and with broadcast(queries) the join is
    map-side.  Returns (query_id, neighbor_id, cos_sim, rank).
    """
    q = F.broadcast(
        queries.select(F.col(query_id_col), as_double(F.col(vec_col)).alias("__qv"))
    )
    c = vectors.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("__cv"))
    scored = q.crossJoin(c).filter(F.col(query_id_col) != F.col("neighbor_id"))
    sim = F.round(cosine_udf()(F.col("__qv"), F.col("__cv")), 6)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select(query_id_col, "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------- LSH


def _plane_component(plane: int, dim_idx: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1] — computed
    driver-side (md5) and shipped as a literal, so executors do zero hashing."""
    import hashlib

    h = int(hashlib.md5(f"plane{plane}#{dim_idx}".encode()).hexdigest()[:15], 16)
    return (h % 2_000_001) / 1_000_000.0 - 1.0


def hyperplane_signature(vec: Column, n_planes: int = 16, dim: int = 64) -> Column:
    """Sign pattern of the vector against n_planes hash-derived hyperplanes,
    packed into one int64 bucket key.  Row-local, shuffle-free; planes are
    literal double arrays baked into the plan.

    This is the *expression twin* kept for oracle/test parity — interpreted
    HOF evaluation makes it ~100x slower than ``hyperplane_signatures_df``,
    which is the hot path everywhere below.
    """
    v = as_double(vec)
    out = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(_plane_component(p, j)) for j in range(dim)])
        # slice to the actual vector length so shorter vectors (dim must be
        # >= the true dimension) never see null-padded zip_with products
        proj = F.aggregate(
            F.zip_with(v, F.slice(plane, 1, F.size(v)), lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        out = out + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def plane_matrix(n_planes: int, dim: int) -> np.ndarray:
    """(n_planes, dim) float64 hyperplane matrix — same md5 derivation as
    ``_plane_component``, materialized driver-side for the vectorized path."""
    return np.array(
        [[_plane_component(p, j) for j in range(dim)] for p in range(n_planes)],
        dtype=np.float64,
    )


def _rows_and_signatures(vs, P: np.ndarray, dim: int) -> tuple[list, np.ndarray]:
    """Shared signature kernel: a sequence of (possibly null/ragged) vectors →
    (float64 row list with None gaps, packed int64 signatures).

    One numpy matmul per distinct length; null/empty vectors sign to 0.
    Both ``hyperplane_signatures_df`` and the broadcast ``lsh_topk`` path
    call this, so their bucket assignment is identical by construction.

    Vectors SHORTER than ``dim`` project against the first ``len`` plane
    components — the same semantics as the sliced expression twin
    (``F.slice(plane, 1, F.size(v))``).  Note the DuckDB contract oracle
    embeds the full dim-width plane literals and assumes a uniform-dim
    corpus; mixed-dimension inputs are outside its parity claim (vectors
    LONGER than dim fail fast below).
    """
    n_planes = P.shape[0]
    shifts = np.arange(n_planes, dtype=np.int64)
    m = len(vs)
    sigs = np.zeros(m, dtype=np.int64)
    by_len: dict[int, list[int]] = {}
    rows: list[np.ndarray | None] = []
    for i, v in enumerate(vs):
        if v is None:
            rows.append(None)
            continue
        r = np.asarray(v, dtype=np.float64)
        rows.append(r)
        if len(r) > dim:
            raise ValueError(
                f"hyperplane signatures: vector of length {len(r)} exceeds "
                f"plane dim={dim}; pass dim >= the true embedding dimension"
            )
        if len(r):
            by_len.setdefault(len(r), []).append(i)
    for length, idxs in by_len.items():
        V = np.stack([rows[i] for i in idxs])
        proj = V @ P[:, :length].T  # (len(idxs), n_planes)
        sigs[idxs] = ((proj > 0).astype(np.int64) << shifts).sum(axis=1)
    return rows, sigs


def hyperplane_signatures_df(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
    out_col: str = "sig",
) -> DataFrame:
    """(id, sig) — vectorized hyperplane signatures: one Arrow batch →
    one numpy matmul against the broadcast plane matrix → sign bit-pack.

    Replaces the per-row/per-plane interpreted ``aggregate(zip_with(...))``
    (~512 lambda evaluations per 64-dim vector) with ``(V @ P.T) > 0``.
    Values match the expression twin (property-tested): float64 summation
    order differs (BLAS pairwise vs left-to-right), but a sign flip needs
    |projection| ≲ 1e-13, which real-valued embeddings never sit on.

    Vectors longer than ``dim`` fail fast — the expression twin would
    silently null-pad and collapse every signature to 0, degrading LSH to
    one all-pairs bucket (the failure mode flagged in round-1 ADVICE).
    """
    P = plane_matrix(n_planes, dim)

    @F.pandas_udf("long")
    def sig_udf(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=np.int64)
        _, sigs = _rows_and_signatures(list(vs), P, dim)
        return pd.Series(sigs)

    return df.select(F.col(id_col), sig_udf(F.col(vec_col)).alias(out_col))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 16,
    n_bands: int = 8,
    dim: int = 64,
    max_broadcast_queries: int = 2048,
) -> DataFrame:
    """ANN top-k: candidates share ≥1 LSH band with the query, then exact
    cosine re-rank.

    Two physical plans behind one logical contract (identical results),
    chosen by the size of the query side:

    - **broadcast kernel** (query side ≤ ``max_broadcast_queries`` rows —
      the common serving shape): signatures, band match, cumsum-exact
      cosine and a conservative partition-local top-k all run in ONE
      ``mapInPandas`` pass over the corpus; the only shuffle is the tiny
      per-query merge window.  Two stages total, a single corpus scan at
      any scale — this replaced a ~7-stage explode/join/distinct plan
      whose fixed stage overhead dominated (15 s for 65 ms of compute).
    - **banded join** (larger query sides): per-band explode + join on
      (band_idx, band_bits) with IDs-only candidates — corpus-side work
      proportional to bucket collisions, not |corpus| × |queries|.

    Bands of n_planes/n_bands planes each trade recall (more bands → more
    candidates) against cost.  The 16/8 default measured recall 0.96-0.98
    vs brute force at k=5 on the 64-dim fixtures (8/4 gave 0.70-0.84).
    Cosines accumulate left-to-right (cumsum trick) in both plans, so
    values are bit-identical to the brute-force / DuckDB oracle.

    **Eager evaluation caveat**: with ``max_broadcast_queries > 0``, sizing
    the query side runs a Spark job (``take(max_broadcast_queries + 1)``)
    at *call* time and — when the broadcast kernel is chosen — snapshots
    the query rows on the driver as of that moment.  Callers constructing
    plans ahead of execution, or over expensive / nondeterministic query
    lineage, should pass ``max_broadcast_queries=0``: the call then stays
    purely lazy (no job, no snapshot) and always plans the banded join.
    """
    assert n_planes % n_bands == 0
    if max_broadcast_queries > 0:
        head = queries.select(query_id_col, vec_col).take(max_broadcast_queries + 1)
        if len(head) <= max_broadcast_queries:
            return _lsh_topk_broadcast(
                vectors,
                head,
                k,
                id_col,
                vec_col,
                query_id_col,
                n_planes,
                n_bands,
                dim,
                qid_type=_spark_type(queries, query_id_col),
            )
    return _lsh_topk_banded_join(
        vectors, queries, k, id_col, vec_col, query_id_col, n_planes, n_bands, dim
    )


def _spark_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def _lsh_topk_broadcast(
    vectors: DataFrame,
    q_rows: list,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    n_planes: int,
    n_bands: int,
    dim: int,
    qid_type: str,
) -> DataFrame:
    """Single-pass corpus kernel for a driver-collected query set.

    Partition-local pruning is conservative: within each Arrow batch and
    query we keep every candidate whose raw cosine is within 1e-6 of the
    k-th best — since |x - round(x, 6)| ≤ 5e-7, that margin keeps every row
    that could still win the global (round(sim,6) DESC, neighbor_id ASC)
    window, so the merge result is identical to scoring all candidates.
    Null-length-mismatch sims (→ NULL, sorts last) are capped at k per
    batch; NaN sims (zero-length vectors; Spark sorts NaN greatest) are
    all kept.  The global window then reproduces the banded-join ordering
    bit-for-bit.
    """
    w_bits = n_planes // n_bands
    mask = (1 << w_bits) - 1
    P = plane_matrix(n_planes, dim)
    nq = len(q_rows)
    q_ids = np.asarray([r[query_id_col] for r in q_rows], dtype=object)
    q_vecs, q_sigs = _rows_and_signatures([r[vec_col] for r in q_rows], P, dim)
    q_len = np.asarray([-1 if v is None else len(v) for v in q_vecs])
    q_bits = np.stack([(q_sigs >> (b * w_bits)) & mask for b in range(n_bands)])  # (n_bands, nq)
    # query norms, left-to-right accumulation (cosine_udf parity)
    q_norms = np.asarray(
        [np.sqrt((v * v).cumsum()[-1]) if v is not None and len(v) else np.nan for v in q_vecs]
    )
    CHUNK = 2048  # corpus rows per mask block: bounds the (nq x CHUNK) matrices

    def kernel(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), CHUNK):
                chunk = pdf.iloc[lo : lo + CHUNK]
                nbr = chunk[id_col].to_numpy()
                rows, sigs = _rows_and_signatures(list(chunk[vec_col]), P, dim)
                nc = len(rows)
                c_len = np.asarray([-2 if v is None else len(v) for v in rows])
                # band-match matrix: pair (q, c) is a candidate iff the two
                # signatures agree on >= 1 band — the same predicate as the
                # (band_idx, band_bits) equi-join in the banded plan
                M = np.zeros((nq, nc), dtype=bool)
                for b in range(n_bands):
                    cb = (sigs >> (b * w_bits)) & mask
                    M |= q_bits[b][:, None] == cb[None, :]
                M &= q_ids[:, None] != nbr[None, :]  # drop self-pairs
                if not M.any():
                    continue
                len_eq = q_len[:, None] == c_len[None, :]
                null_pairs = M & (~len_eq | (q_len < 0)[:, None] | (c_len < 0)[None, :])
                zero_pairs = M & len_eq & (q_len == 0)[:, None]  # NaN (0/0), as Catalyst
                live = M & len_eq & (q_len > 0)[:, None]
                # BLAS selection scores: one matmul per distinct length —
                # last-ulp off the sequential-cumsum truth, used only to pick
                # survivors with a 3e-6 margin (covers round(…,6) reordering
                # plus BLAS-vs-cumsum drift), then survivors are rescored
                # exactly.  The merge window sees bit-identical sims.
                sel = np.full((nq, nc), -np.inf)
                for length in np.unique(q_len[q_len > 0]):
                    qg = np.nonzero(q_len == length)[0]
                    cg = np.nonzero(c_len == length)[0]
                    if not len(qg) or not len(cg):
                        continue
                    Q = np.stack([q_vecs[i] for i in qg])
                    C = np.stack([rows[i] for i in cg])
                    cn = np.sqrt((C * C).sum(axis=1))
                    with np.errstate(invalid="ignore", divide="ignore"):
                        G = (Q @ C.T) / (q_norms[qg][:, None] * cn[None, :])
                    sel[np.ix_(qg, cg)] = G
                out_q, out_n, out_s = [], [], []
                for q in np.nonzero(M.any(axis=1))[0]:
                    cand = np.nonzero(live[q])[0]
                    vals = sel[q, cand]
                    fin = np.isfinite(vals)
                    if fin.sum() > k:
                        kth = np.partition(vals[fin], -k)[-k]
                        # non-finite selection scores (zero-norm vectors:
                        # 0/0 -> NaN here, NULL after the Arrow object-series
                        # conversion) must survive the prune — the banded
                        # plan emits those pairs as NULL-sim rows, so
                        # dropping them here would be a membership divergence
                        cand = cand[(vals >= kth - 3e-6) | ~np.isfinite(vals)]
                    if len(cand):
                        # exact rescore, sequential accumulation (parity)
                        A = np.stack([q_vecs[q]] * len(cand))
                        B = np.stack([rows[c] for c in cand])
                        with np.errstate(invalid="ignore", divide="ignore"):
                            dots = (A * B).cumsum(axis=1)[:, -1]
                            nb = np.sqrt((B * B).cumsum(axis=1)[:, -1])
                            sims = dots / (q_norms[q] * nb)
                        out_q += [q_ids[q]] * len(cand)
                        out_n += list(nbr[cand])
                        out_s += [float(s) for s in sims]
                    zc = np.nonzero(zero_pairs[q])[0]
                    if len(zc):  # both-empty vectors: NaN, sorts greatest
                        out_q += [q_ids[q]] * len(zc)
                        out_n += list(nbr[zc])
                        out_s += [float("nan")] * len(zc)
                    # NULL sims sort last with ties broken by neighbor_id ASC
                    # in the global window; keep each chunk's k SMALLEST
                    # neighbor ids (not the first k in corpus-scan order) so
                    # the merge sees exactly the rows the banded plan —
                    # which keeps all NULL candidates — would rank first.
                    nc_idx = np.nonzero(null_pairs[q])[0]
                    nullc = nc_idx[np.argsort(nbr[nc_idx], kind="stable")][:k]
                    if len(nullc):
                        out_q += [q_ids[q]] * len(nullc)
                        out_n += list(nbr[nullc])
                        out_s += [None] * len(nullc)
                if out_q:
                    yield pd.DataFrame(
                        {
                            "__qid": out_q,
                            "neighbor_id": out_n,
                            "__raw": pd.Series(out_s, dtype=object),
                        }
                    )

    schema = (
        f"__qid {qid_type}, "
        f"neighbor_id {_spark_type(vectors, id_col)}, __raw double"
    )
    scored = vectors.select(id_col, vec_col).mapInPandas(kernel, schema=schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select(
            F.col("__qid").alias(query_id_col),
            "neighbor_id",
            F.round(F.col("__raw"), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _lsh_topk_banded_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    n_planes: int,
    n_bands: int,
    dim: int,
) -> DataFrame:
    w_bits = n_planes // n_bands

    def banded(df: DataFrame, idc: str) -> DataFrame:
        sigd = hyperplane_signatures_df(df, idc, vec_col, n_planes, dim)
        return sigd.select(
            F.col(idc),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("sig"), b * w_bits).bitwiseAND(F.lit((1 << w_bits) - 1))
                        for b in range(n_bands)
                    ]
                )
            ).alias("band_idx", "band_bits"),
        )

    # candidate generation carries IDS ONLY — a pair colliding in several
    # bands would otherwise shuffle its (2 x dim) double vectors once per
    # band through the distinct; vectors are re-attached after dedup
    qb = F.broadcast(banded(queries, query_id_col))
    cb = banded(vectors.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    cand = qb.join(cb, ["band_idx", "band_bits"])
    # self-pair drop: only meaningful (and only cast-safe under ANSI — e.g.
    # string query ids over long corpus ids would throw on the implicit
    # cast) when the two id types match; distinct types can never self-pair,
    # matching the broadcast kernel's Python `!=` semantics
    if queries.schema[query_id_col].dataType == vectors.schema[id_col].dataType:
        cand = cand.filter(F.col(query_id_col) != F.col("neighbor_id"))
    cand = cand.select(query_id_col, "neighbor_id").distinct()
    qv = F.broadcast(queries.select(F.col(query_id_col), as_double(F.col(vec_col)).alias("__qv")))
    cv = vectors.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("__cv"))
    scored = cand.join(qv, query_id_col).join(cv, "neighbor_id")
    sim = F.round(cosine_udf()(F.col("__qv"), F.col("__cv")), 6)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select(query_id_col, "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_train_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means centroids for IVF (Lloyd iterations
    on cosine similarity).

    Scale shape: each iteration is ONE mapInPandas pass emitting per-cell
    partial (sum, count) vectors per partition — O(partitions x n_cells)
    rows collected to the driver, independent of corpus size; the corpus
    itself never shuffles.  Init is the hash-sampled seed set (same
    derivation as untrained ivf_topk), assignment ties break toward the
    lower cell index, so the whole procedure is reproducible bit-for-bit.
    Empty cells keep their previous centroid.
    """
    v = vectors.select(as_double(F.col(vec_col)).alias("__v"), F.col(id_col).alias("__cid"))
    seed_rows = (
        v.withColumn("__h", h64(F.col("__cid").cast("string")))
        .orderBy("__h")
        .limit(n_cells)
        .select("__v")
        .collect()
    )
    if not seed_rows:
        raise ValueError("ivf_train_centroids: empty corpus")
    # corpora smaller than n_cells seed fewer cells (cnts/nz arrays must
    # match the centroid count — round-2 ADVICE crash)
    n_cells = min(n_cells, len(seed_rows))
    C = np.stack([np.asarray(r["__v"], dtype=np.float64) for r in seed_rows])
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    vec_only = v.select("__v")
    for _ in range(n_iters):
        Cb = C  # captured by value in the closure below

        def partial_sums(batches):
            import pandas as _pd

            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["__v"]])
                Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
                cell = np.argmax(Vn @ Cb.T, axis=1)  # ties -> lowest index
                out_cells, sums, cnts = [], [], []
                for c in np.unique(cell):
                    mask = cell == c
                    out_cells.append(int(c))
                    sums.append(V[mask].sum(axis=0).tolist())
                    cnts.append(int(mask.sum()))
                yield _pd.DataFrame({"cell": out_cells, "vsum": _pd.Series(sums, dtype=object), "cnt": cnts})

        rows = vec_only.mapInPandas(
            partial_sums, schema="cell int, vsum array<double>, cnt long"
        ).collect()
        sums = np.zeros_like(C)
        cnts = np.zeros(n_cells, dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["vsum"], dtype=np.float64)
            cnts[r["cell"]] += r["cnt"]
        newC = C.copy()
        nz = cnts > 0
        newC[nz] = sums[nz] / cnts[nz, None]
        newC = newC / np.maximum(np.linalg.norm(newC, axis=1, keepdims=True), 1e-12)
        C = newC
    return C


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into n_cells Voronoi cells around
    deterministic hash-chosen centroids; a query scans only its n_probe
    nearest cells.

    Scale shape: cell assignment is one broadcast join against n_cells
    centroid vectors (map-side, no shuffle of the corpus beyond writing the
    cell key); the query-side join touches n_probe/n_cells of the data —
    the classic IVF cost model, expressed relationally.  Default centroids
    are hash-sampled corpus vectors (deterministic, no k-means iterations —
    and DuckDB-oracle-reproducible); pass ``centroids`` from
    ``ivf_train_centroids`` for trained cells with better recall — the
    plan is identical either way.
    """
    v = vectors.select(F.col(id_col).alias("__cid"), as_double(F.col(vec_col)).alias("__v"))
    if centroids is not None:
        spark = vectors.sparkSession
        cents = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cell_id long, __cv array<double>",
        )
    else:
        # deterministic centroid sample: smallest n_cells ids by md5 hash
        cents = (
            v.withColumn("__h", h64(F.col("__cid").cast("string")))
            .orderBy("__h")
            .limit(n_cells)
            .select(F.col("__cid").alias("cell_id"), F.col("__v").alias("__cv"))
        )
    bc = F.broadcast(cents)

    def assign(df: DataFrame, idc: str, vec: str, n_keep: int) -> DataFrame:
        scored = df.crossJoin(bc).select(
            F.col(idc),
            "cell_id",
            cosine_udf()(F.col(vec), F.col("__cv")).alias("__sim"),
        )
        w = Window.partitionBy(idc).orderBy(F.desc("__sim"), F.asc("cell_id"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_keep)
            .select(idc, "cell_id")
        )

    corpus_cells = assign(v.withColumnRenamed("__cid", "neighbor_id").withColumnRenamed("__v", "__nv"), "neighbor_id", "__nv", 1)
    q = queries.select(F.col(query_id_col), as_double(F.col(vec_col)).alias("__qv"))
    query_cells = F.broadcast(assign(q, query_id_col, "__qv", n_probe))

    cand = (
        query_cells.join(corpus_cells, "cell_id")
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    cv = v.select(F.col("__cid").alias("neighbor_id"), F.col("__v").alias("__nv"))
    scored = cand.join(F.broadcast(q), query_id_col).join(cv, "neighbor_id")
    sim = F.round(cosine_udf()(F.col("__qv"), F.col("__nv")), 6)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select(query_id_col, "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidate buckets.

    Same banding as lsh_topk; exact cosine verifies candidates.  High
    thresholds ⇒ near-collinear vectors ⇒ high per-band collision
    probability, so recall at threshold ≥ .9 is near-total while cost stays
    bucket-local.  Call ``dedup.release_caches`` on the result after the
    action to free the shared banded subplan.
    """
    assert n_planes % n_bands == 0
    w_bits = n_planes // n_bands
    sigd = hyperplane_signatures_df(vectors, id_col, vec_col, n_planes, dim)
    base = sigd.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), b * w_bits).bitwiseAND(F.lit((1 << w_bits) - 1))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_bits"),
    )
    # persist: both sides of the self-join share the banded-signature subplan;
    # candidates carry IDS ONLY through the distinct (vectors re-attached
    # after dedup — multi-band collisions must not shuffle vectors per band)
    base = base.persist()
    a = base.select(F.col("id").alias("id_a"), "band_idx", "band_bits")
    b = base.select(F.col("id").alias("id_b"), "band_idx", "band_bits")
    cand = (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = vectors.select(F.col(id_col).alias("__vid"), as_double(F.col(vec_col)).alias("__v"))
    scored = (
        cand.join(vecs.withColumnRenamed("__vid", "id_a").withColumnRenamed("__v", "va"), "id_a")
        .join(vecs.withColumnRenamed("__vid", "id_b").withColumnRenamed("__v", "vb"), "id_b")
    )
    sim = F.round(cosine_udf()(F.col("va"), F.col("vb")), 6)
    pairs = scored.select("id_a", "id_b", sim.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )
    _register_owned_cache(pairs, base)
    return pairs
