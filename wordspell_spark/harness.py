"""Spark aggregation harness — two-level mergeable-sketch builds.

This is the architectural core (SURVEY.md §3.2): the Spark-native
generalization of the reference's partial→final additive accumulator merge
(/root/reference/components/index/models.go:58-72) and its single shared
Bloom build loop (/root/reference/builder.go:97-119).

    Stage A  mapInArrow over input partitions: one partial sketch per
             (group key, kind) per partition — the map-side combine.
             Each Arrow batch is split by group key, each value column is
             flattened and deduped once, and every kind reads that one
             dedupe.  Output is tiny: ≤ |groups| x |kinds| rows per
             partition, each a byte payload.
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
kernels consume whole Arrow batches as numpy arrays, with no pandas
conversion in between (BASELINE.json input_hint).  ``merge_partials``
(stages B and C) is the one grouped-map merge in the package: the
checkpoint finalize, the streaming state merge and the deletion-Bloom build
fold their partials through it too.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .sketches import SketchSpec, serde
from .sketches.hashing import distinct_hashes

_FANIN = 64  # partials one merge task folds per group; more add a tree level
_SALT = "__salt"


def _values(col: pa.Array) -> np.ndarray:
    """One value column → the flat numpy array a sketch reads.

    List columns are flattened and their null elements dropped; both keep
    the element dtype, so an int column stays int.  Scalar columns drop
    nulls, and float columns NaN as well.
    """
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        return col.flatten().drop_null().to_numpy(zero_copy_only=False)
    vals = col.drop_null().to_numpy(zero_copy_only=False)
    return vals[~np.isnan(vals)] if vals.dtype.kind == "f" else vals


def _groups(batch: pa.RecordBatch, group_cols: list[str]) -> Iterator[tuple[tuple, pa.RecordBatch]]:
    """Split ``batch`` by its ``group_cols`` values → (key, rows) pairs in
    first-appearance order; a null key is a group of its own.  Each
    group's rows keep their batch order."""
    if not group_cols:
        yield (), batch
        return
    gid = np.zeros(batch.num_rows, dtype=np.int64)
    for c in group_cols:
        enc = pc.dictionary_encode(batch.column(c), null_encoding="encode")
        gid = pd.factorize(gid * len(enc.dictionary) + enc.indices.to_numpy())[0]
    sizes = np.bincount(gid)
    if sizes.size > 1:
        batch = batch.take(np.argsort(gid, kind="stable"))
    for start, n in zip(np.cumsum(sizes) - sizes, sizes):
        rows = batch.slice(start, n)
        yield tuple(rows.column(c)[0].as_py() for c in group_cols), rows


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
    input five times and pay five job/shuffle latencies.  One mapInArrow
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
    arrow_schema = to_arrow_schema(out_schema)
    spec_items = sorted(specs.items())  # deterministic kind order

    def partial_build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # One partial sketch per group key per *partition* (not per batch):
        # states persist across the batch iterator = map-side combine.
        states: dict[tuple, dict] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            for key, rows in _groups(batch, group_cols):
                ent = states.get(key)
                if ent is None:
                    ent = states[key] = {
                        name: [spec.create(), 0, 0] for name, (spec, _) in spec_items
                    }
                flats = {vc: _values(rows.column(vc)) for vc in value_cols}
                # shared dedupe: every value-keyed kind derives all its state
                # from the distinct values, their h1 = hash64(v) keys and
                # their counts, so dedupe and hash each value column ONCE per
                # (batch, group) (``distinct_hashes``) and let each kind read
                # that one result: bloom / hll / cms / theta through
                # ``update_unique_hashes``, freq / sample through
                # ``update_distinct``.  Bit-identical payloads (idempotent
                # kinds ignore counts; cms adds them as weights).
                shared: dict[str, tuple] = {}
                for name, (spec, vc) in spec_items:
                    st = ent[name]
                    by_value = getattr(spec.module, "update_distinct", None)
                    by_hash = getattr(spec.module, "update_unique_hashes", None)
                    if by_value is None and by_hash is None:
                        spec.update(st[0], flats[vc])
                    else:
                        if vc not in shared:
                            shared[vc] = distinct_hashes(flats[vc])
                        uniq, keys, counts = shared[vc]
                        if by_value is not None:
                            by_value(st[0], uniq, keys, counts)
                        else:
                            by_hash(st[0], keys, counts)
                    st[1] += rows.num_rows
                    st[2] += len(flats[vc])
        if not states:
            return
        out = [
            (*k, name, specs[name][0].serialize(st), nrows, nitems)
            for k, kinds in states.items()
            for name, (st, nrows, nitems) in kinds.items()
        ]
        yield pa.RecordBatch.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*out), arrow_schema)],
            schema=arrow_schema,
        )

    partials = narrow.mapInArrow(partial_build, schema=out_schema)
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
