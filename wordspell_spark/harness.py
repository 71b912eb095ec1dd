"""Spark aggregation harness — two-level mergeable-sketch builds.

This is the architectural core (SURVEY.md §3.2): the Spark-native
generalization of the reference's partial→final additive accumulator merge
(/root/reference/components/index/models.go:58-72) and its single shared
Bloom build loop (/root/reference/builder.go:97-119).

    Stage A  mapInPandas over input partitions: one partial sketch per
             (group key, kind) per partition — the map-side combine.
             Output is tiny: ≤ |groups| x |kinds| rows per partition, each
             a byte payload.
    Stage B  automatic, only when the partial frame has more than 64
             partitions: salted groupBy(keys, salt) merges of fan-in 64 —
             the middle level of a treeAggregate, and the skew-bounding
             intermediate reduce of FP-Hadoop (VLDB 2015).
    Stage C  groupBy(keys) final merge → one payload per group.

Why this shape at 100 TB: the shuffle after stage A moves only
|partitions| × |groups| payloads (KBs each), never raw rows, so a skewed
``source`` (70% web in the fixture) cannot create a hot shuffle partition of
raw data — skew is absorbed map-side, and stage B bounds the final merge
fan-in however many partitions the input has.  No per-row Python anywhere:
kernels consume whole Arrow batches as numpy arrays (BASELINE.json
input_hint).  ``merge_partials`` (stages B and C) is the one grouped-map
merge in the package: the checkpoint finalize, the streaming state merge
and the deletion-Bloom build fold their partials through it too.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .sketches import SketchSpec, serde
from .sketches.hashing import unique_hashes

_FANIN = 64  # partials one merge task folds per group; more add a tree level
_SALT = "__salt"


def _flatten_values(series: pd.Series) -> np.ndarray:
    """Column values → flat numpy array; array columns are exploded in C.

    Detects array columns from the first NON-null element — a null in row 0
    must not silently switch a list column onto the scalar path.
    """
    if series.empty:
        return np.empty(0)
    non_null = series.dropna()
    if non_null.empty:
        return np.empty(0)
    first = non_null.iloc[0]
    if isinstance(first, (np.ndarray, list)):
        chunks = [np.asarray(v) for v in non_null if len(v)]
        if not chunks:
            return np.empty(0)
        return np.concatenate(chunks)
    vals = series.to_numpy()
    if vals.dtype == object:
        return vals[pd.notna(vals)]
    return vals[~pd.isna(vals)]


def num_partitions(df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()`` without running ``df``'s shuffles.

    Under adaptive execution ``df.rdd`` runs every shuffle stage below
    ``df`` to plan the final one — for a streaming state merge that is the
    whole micro-batch build, run a second time.  Planned without it, a
    shuffle stays a lazy RDD whose partition count is known up front.  The
    switch is session-wide for the few milliseconds of planning: a query
    planned on the same session by another thread meanwhile runs without
    adaptive execution (still correct, maybe slower)."""
    conf = df.sparkSession.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.rdd.getNumPartitions()
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe)


def _fold(partials: DataFrame, keys: list[str]) -> DataFrame:
    """One groupBy(keys) merge level; the output schema is the input's."""
    cols = partials.columns

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        payloads = list(pdf["sketch"])
        kind = serde.peek_kind(payloads[0])
        head = pdf.iloc[[0]][keys].reset_index(drop=True)
        head["sketch"] = [SketchSpec(kind).merge_payloads(payloads)]
        for c in cols:
            if c not in head:
                head[c] = [pdf[c].sum() if c in ("rows", "items") else pdf[c].max()]
        return head[cols]

    # an explicit exchange even over one partition, where groupBy needs none:
    # chained into the partial builder's task, the merge would hold a second
    # Python worker; in its own stage it reuses the builder's
    shuffled = partials.repartition(*keys) if keys else partials.repartition(1)
    return shuffled.groupBy(*keys).applyInPandas(merge_group, schema=partials.schema)


def merge_partials(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Merge partial-sketch rows to one row per ``keys`` group.

    ``partials`` holds a ``sketch`` payload column; each group's kernel is
    read from its payloads' header, so one call folds mixed kinds (keyed
    by ``kind``) and needs no spec.  ``rows``/``items`` are summed and any
    other column is max-aggregated (e.g. the windowed state's
    ``max_event_ts`` watermark).  The output schema is the input's.

    When ``partials`` has more than 64 partitions, salted tree levels of
    fan-in 64 run before the final merge (stage B), so no merge task folds
    more than ~64 payloads per group however wide the input.
    """
    keys = list(keys)
    n = num_partitions(partials)
    while n > _FANIN:
        n = -(-n // _FANIN)  # salt values, ~64 partials per (group, salt)
        salted = partials.withColumn(_SALT, F.floor(F.rand(seed=0) * n))
        partials = _fold(salted, [*keys, _SALT]).drop(_SALT)
    return _fold(partials, keys)


def build_sketches(
    df: DataFrame,
    spec: SketchSpec,
    group_cols: list[str] | None,
    value_col: str,
) -> DataFrame:
    """Build one merged sketch per group over ``value_col``.

    Returns DataFrame[*group_cols, sketch BINARY, rows LONG, items LONG]
    where ``rows`` counts input rows and ``items`` counts values fed to the
    sketch (array columns contribute their element count).  The one-kind
    case of ``build_sketches_multi``.
    """
    return build_sketches_multi(df, {spec.kind: (spec, value_col)}, group_cols).drop("kind")


def build_sketches_multi(
    df: DataFrame,
    specs: dict[str, tuple[SketchSpec, str]],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Build SEVERAL sketch kinds per group in ONE pass over the data.

    ``specs``: {kind_name: (SketchSpec, value_col)}.  Returns a long-format
    DataFrame[*group_cols, kind STRING, sketch BINARY, rows LONG, items LONG];
    no ``group_cols`` means one global sketch per kind.

    Why: at 100 TB the scan IS the cost — five separate builds read the
    input five times and pay five job/shuffle latencies.  One mapInPandas
    maintains all states per group and the single merge shuffle carries
    |partitions| x |groups| x |kinds| KB payloads.
    """
    group_cols = list(group_cols or [])
    value_cols = sorted({vc for _, vc in specs.values()})
    narrow = df.select(*group_cols, *value_cols)
    out_schema = StructType(
        [narrow.schema[c] for c in group_cols]
        + [
            StructField("kind", StringType(), False),
            StructField("sketch", BinaryType(), False),
            StructField("rows", LongType(), False),
            StructField("items", LongType(), False),
        ]
    )
    spec_items = sorted(specs.items())  # deterministic kind order

    def partial_build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One partial sketch per group key per *partition* (not per batch):
        # states persist across the batch iterator = map-side combine.
        states: dict[tuple, dict] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            groups = pdf.groupby(group_cols, sort=False, dropna=False) if group_cols else [((), pdf)]
            for key, sub in groups:
                key = key if isinstance(key, tuple) else (key,)
                ent = states.get(key)
                if ent is None:
                    ent = states[key] = {
                        name: [spec.create(), 0, 0] for name, (spec, _) in spec_items
                    }
                flats = {vc: _flatten_values(sub[vc]) for vc in value_cols}
                # shared-hash fast path: every hash-keyed kind (bloom / hll /
                # cms / theta) derives all its state from the same
                # h1 = hash64(v), so dedupe each value column ONCE per batch
                # and hash only its distinct values (``unique_hashes``) — the
                # kernels then scatter over the distinct set only.
                # Bit-identical payloads (idempotent kinds ignore counts; cms
                # adds them as weights); on Zipfian token batches this cuts
                # the dominant hash + dedupe cost from once-per-kind to
                # once-per-column.
                hashed: dict[str, tuple[np.ndarray, np.ndarray]] = {}
                for name, (spec, vc) in spec_items:
                    st = ent[name]
                    fast = getattr(spec.module, "update_unique_hashes", None)
                    if fast is not None:
                        if vc not in hashed:
                            hashed[vc] = unique_hashes(flats[vc])
                        fast(st[0], *hashed[vc])
                    else:
                        spec.update(st[0], flats[vc])
                    st[1] += len(sub)
                    st[2] += len(flats[vc])
        if not states:
            return
        rows = [
            (*k, name, specs[name][0].serialize(st), nrows, nitems)
            for k, kinds in states.items()
            for name, (st, nrows, nitems) in kinds.items()
        ]
        yield pd.DataFrame(rows, columns=[*group_cols, "kind", "sketch", "rows", "items"])

    partials = narrow.mapInPandas(partial_build, schema=out_schema)
    return merge_partials(partials, [*group_cols, "kind"])


def collect_sketches(result: DataFrame, spec: SketchSpec, group_cols: list[str] | None):
    """Driver-side: final payloads → {group_key: state} (cold-start load,
    parity with /root/reference/service.go:42-100)."""
    group_cols = list(group_cols or [])
    rows = result.collect()
    if not group_cols:
        assert len(rows) <= 1
        return spec.deserialize(rows[0]["sketch"]) if rows else spec.create()
    out = {}
    for r in rows:
        key = tuple(r[c] for c in group_cols)
        out[key if len(key) > 1 else key[0]] = spec.deserialize(r["sketch"])
    return out


# ---------------------------------------------------------------- query-side


# kind -> (kernel query function, UDF return type)
_POINT_QUERIES = {"bloom": ("contains", "boolean"), "cms": ("query", "long"), "freq": ("query", "long")}


def make_point_query_udf(spark: SparkSession, payload: bytes):
    """Broadcast a bloom, cms or freq payload; return a vectorized pandas
    UDF that answers point queries against it.

    bloom gives boolean membership (``contains``; parity: the query-time
    ``Test`` gate in the reference's service.go:224).  cms and freq give a
    long estimated count (``query``): CMS never undercounts, Misra–Gries
    never overcounts, so querying both brackets the true frequency.
    """
    kind = serde.peek_kind(payload)
    if kind not in _POINT_QUERIES:
        raise ValueError(f"no point-query UDF for sketch kind {kind!r}; know {sorted(_POINT_QUERIES)}")
    fn, return_type = _POINT_QUERIES[kind]
    module = SketchSpec(kind).module
    deserialize, query = module.deserialize, getattr(module, fn)
    bc = spark.sparkContext.broadcast(payload)

    @F.pandas_udf(return_type)
    def point_query(values: pd.Series) -> pd.Series:
        return pd.Series(query(deserialize(bc.value), values.to_numpy()))

    return point_query
