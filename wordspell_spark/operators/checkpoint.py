"""Resumable sketch builds: per-partition lineage + checkpointed partials.

North-rule requirement: sketch jobs over 10^12 sequences must be resumable
from checkpoint with per-partition lineage and metrics written alongside
sketch state.  Spark restatement of the reference's build/serve artifact
swap (design notes /root/reference/components/index/service.go:23-38,
builder.go:29-36): the build is idempotent per *bucket*, and a re-run only
rebuilds buckets missing from the checkpoint table.

Layout (one Parquet/Iceberg table per job):

    checkpoint/<job_id>/partials/run=<run_id>/   bucket LONG, <group_cols...>,
                                                 sketch BINARY, rows LONG, items LONG
    checkpoint/<job_id>/manifest/                bucket LONG, run STRING, n_buckets LONG

* ``bucket`` is a deterministic hash of the row key (NOT Spark's physical
  partition id — physical ids change with cluster size; the hash bucket is
  stable lineage).  rows/items per (bucket, group) are the audit metrics.
* Completion is recorded in the **manifest**, written after a run's partials
  land.  This is what makes an *empty* bucket (hash range with no rows — it
  produces zero partial rows) distinguishable from a *not-yet-built* bucket:
  round-1 ADVICE found that inferring completion from partial-data presence
  rescanned empty buckets forever and made finalize unfinishable.
* Crash-safety: partials are written to a run-scoped directory first, the
  manifest second.  A crash in between leaves an orphan run directory that
  no manifest row references; the rebuild writes a fresh run, and finalize
  reads only manifest-referenced (bucket, run) pairs — so double-appended
  partials can never double-count the additive sketches.
* The manifest records the job's bucket count from its first run on.  A
  bucket id names a hash range only for that count, so a run or finalize
  under any other count raises instead of mixing ranges (which would drop
  or double-count rows).
* Resume = rebuild the buckets absent from the manifest; with
  partition-pruned sources (Iceberg partition on the same key) the rescan
  reads only the missing files.
* Finalize = groupBy(group_cols) merge of all referenced bucket partials —
  cheap: payloads are KBs, fan-in = n_buckets.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..harness import build_sketches, merge_partials
from ..sketches import SketchSpec
from ..sources.io import hadoop_fs

BUCKET_COL = "bucket"
N_BUCKETS_COL = "n_buckets"


def _bucket_of(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).alias(BUCKET_COL)


def _partials_path(checkpoint_dir: str, job_id: str) -> str:
    return os.path.join(checkpoint_dir, job_id, "partials")


def _manifest_path(checkpoint_dir: str, job_id: str) -> str:
    return os.path.join(checkpoint_dir, job_id, "manifest")


def _read_manifest(spark: SparkSession, checkpoint_dir: str, job_id: str) -> DataFrame | None:
    path = _manifest_path(checkpoint_dir, job_id)
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return spark.read.parquet(path)


def _manifest_rows(spark: SparkSession, checkpoint_dir: str, job_id: str) -> list:
    mani = _read_manifest(spark, checkpoint_dir, job_id)
    return [] if mani is None else mani.select(BUCKET_COL, N_BUCKETS_COL).distinct().collect()


def completed_buckets(spark: SparkSession, checkpoint_dir: str, job_id: str) -> set[int]:
    return {r[BUCKET_COL] for r in _manifest_rows(spark, checkpoint_dir, job_id)}


def _completed(spark: SparkSession, checkpoint_dir: str, job_id: str, n_buckets: int) -> set[int]:
    """``completed_buckets``; raises ValueError if the job's manifest
    records another bucket count than ``n_buckets``."""
    rows = _manifest_rows(spark, checkpoint_dir, job_id)
    other = {r[N_BUCKETS_COL] for r in rows} - {n_buckets}
    if other:
        raise ValueError(f"job {job_id} is bucketed {sorted(other)} ways, not {n_buckets}")
    return {r[BUCKET_COL] for r in rows}


def run_checkpointed_build(
    df: DataFrame,
    spec: SketchSpec,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    checkpoint_dir: str,
    job_id: str,
    n_buckets: int = 64,
    max_buckets_this_run: int | None = None,
) -> int:
    """Build partial sketches for all not-yet-checkpointed buckets.

    ``max_buckets_this_run`` lets tests (and ops) simulate a job killed
    mid-flight: only the first k missing buckets are built; a later call
    resumes the rest.  Returns the number of buckets built in this run.
    Raises ValueError if an earlier run of the job used another
    ``n_buckets``.
    """
    spark = df.sparkSession
    done = _completed(spark, checkpoint_dir, job_id, n_buckets)
    todo = sorted(set(range(n_buckets)) - done)
    if max_buckets_this_run is not None:
        todo = todo[:max_buckets_this_run]
    if not todo:
        return 0

    run_id = uuid.uuid4().hex[:12]
    bucketed = df.withColumn(BUCKET_COL, _bucket_of(key_col, n_buckets)).filter(
        F.col(BUCKET_COL).isin(todo)
    )
    partials = build_sketches(bucketed, spec, [BUCKET_COL, *group_cols], value_col)
    partials.write.mode("overwrite").parquet(
        os.path.join(_partials_path(checkpoint_dir, job_id), f"run={run_id}")
    )
    # manifest AFTER partials: every bucket this run scanned is now complete,
    # including the ones that produced no rows
    manifest = spark.createDataFrame(
        [(int(b), run_id, n_buckets) for b in todo], f"{BUCKET_COL} long, run string, {N_BUCKETS_COL} long"
    )
    manifest.coalesce(1).write.mode("append").parquet(_manifest_path(checkpoint_dir, job_id))
    return len(todo)


def _winner_runs(mani: DataFrame) -> DataFrame:
    """One (bucket, run) per bucket.  Duplicates can only arise from
    concurrent builders; min(run) picks a deterministic winner."""
    return mani.groupBy(BUCKET_COL).agg(F.min("run").alias("run"))


def _referenced_partials(spark: SparkSession, checkpoint_dir: str, job_id: str) -> DataFrame:
    mani = _read_manifest(spark, checkpoint_dir, job_id)
    if mani is None:
        raise RuntimeError(f"job {job_id}: no manifest at {_manifest_path(checkpoint_dir, job_id)}")
    partials = spark.read.parquet(_partials_path(checkpoint_dir, job_id))
    return partials.join(F.broadcast(_winner_runs(mani)), [BUCKET_COL, "run"]).drop("run")


def finalize(
    spark: SparkSession,
    spec: SketchSpec,
    group_cols: list[str],
    checkpoint_dir: str,
    job_id: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Merge checkpointed bucket partials → final per-group sketch table.

    Raises if any bucket is missing from the manifest (the job isn't
    finished) — finalize is the atomic-swap moment; partial results must
    never look complete.  Completeness is judged on the manifest, so empty
    buckets finalize like any other; a ``n_buckets`` other than the one
    the job was built with raises ValueError.  ``merge_partials`` reads
    each group's kernel from its payloads, so ``spec`` only names the kind
    built.
    """
    have = _completed(spark, checkpoint_dir, job_id, n_buckets)
    missing = set(range(n_buckets)) - have
    if missing:
        raise RuntimeError(f"job {job_id}: {len(missing)} buckets missing, e.g. {sorted(missing)[:5]}")

    partials = _referenced_partials(spark, checkpoint_dir, job_id).drop(BUCKET_COL)
    return merge_partials(partials, group_cols)


def lineage_metrics(spark: SparkSession, checkpoint_dir: str, job_id: str) -> DataFrame:
    """Audit view: per-bucket rows/items metrics — the lineage record.
    Reads only manifest-referenced partials, so orphan runs from crashed
    attempts never inflate the audit."""
    return _referenced_partials(spark, checkpoint_dir, job_id).select(BUCKET_COL, "rows", "items")
