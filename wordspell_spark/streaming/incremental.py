"""Incremental sketch maintenance over Structured Streaming.

Sketches are mergeable by construction, so streaming increments are trivial
(SURVEY.md §2.10): each micro-batch builds per-group partial sketches with
the SAME two-level harness as the batch path, then merges them into a
persistent state table inside ``foreachBatch``.

Exactly-once, concretely (round-1 ADVICE fixed the original scheme, which
double-counted on epoch replay and could lose state to a transient read
error):

* State lives in **epoch-stamped directories**: ``<state>/epochs/epoch=<id>``.
  A directory counts only once Spark's ``_SUCCESS`` marker exists — a crash
  mid-write leaves an unreferenced partial dir that the same epoch's retry
  simply overwrites.  No pointer file to swap, so there is no non-atomic
  swap window at all: the directory listing is the manifest.
* The **current** state is the highest successful epoch id.  foreachBatch
  epoch ids are monotonically increasing per checkpoint, so a replayed
  epoch (``epoch_id <= current``) is skipped instead of re-merged — that is
  what makes CMS/KLL/t-digest (additive, non-idempotent) exactly-once.
* "First epoch" is decided by an explicit existence check of the epochs
  directory — any other IO failure propagates (the old bare ``except``
  silently restarted state from scratch on a transient error).
* Old epochs are garbage-collected, keeping the last ``keep_epochs`` for
  post-crash inspection.

At scale this is the standing analogue of the reference's weekly rebuild
(/root/reference/components/index/service.go:23-38): instead of re-scanning
the corpus, new partitions land in the lakehouse and the sketch state
absorbs them in O(new data).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..harness import build_sketches, merge_partials
from ..sketches import SketchSpec
from ..sources.io import hadoop_fs

_EPOCH_RE = re.compile(r"epoch=(\d+)$")


def _epochs_dir(state_path: str) -> str:
    return state_path.rstrip("/") + "/epochs"


def _epoch_dir(state_path: str, epoch_id: int) -> str:
    return f"{_epochs_dir(state_path)}/epoch={epoch_id}"


def completed_epochs(spark: SparkSession, state_path: str) -> list[int]:
    """Successful epoch ids, ascending.  Missing dir ⇒ [] (first epoch);
    any other IO error propagates — it must NOT be mistaken for a fresh
    start."""
    fs, root = hadoop_fs(spark, _epochs_dir(state_path))
    if not fs.exists(root):
        return []
    out = []
    for status in fs.listStatus(root):
        m = _EPOCH_RE.search(status.getPath().getName())
        if not m:
            continue
        eid = int(m.group(1))
        success = spark._jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
        if fs.exists(success):
            out.append(eid)
    return sorted(out)


def current_epoch(spark: SparkSession, state_path: str) -> int | None:
    done = completed_epochs(spark, state_path)
    return done[-1] if done else None


def _run_marker(state_path: str) -> str:
    return _epochs_dir(state_path) + "/_run_id"


def _read_small(spark: SparkSession, path: str, limit: int) -> str | None:
    """The first ``limit`` bytes of a small file as text; None if absent."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readNBytes(limit)).decode("utf-8")
    finally:
        stream.close()


def _read_run_marker(spark: SparkSession, state_path: str) -> str | None:
    text = _read_small(spark, _run_marker(state_path), 4096)
    return None if text is None else text.strip()


def _write_run_marker(spark: SparkSession, state_path: str, run_id: str) -> None:
    fs, p = hadoop_fs(spark, _run_marker(state_path))
    out = fs.create(p, True)
    try:
        out.write(bytearray(run_id.encode("utf-8")))
    finally:
        out.close()


def streaming_run_id(spark: SparkSession, checkpoint_path: str) -> str | None:
    """The streaming query id recorded in the checkpoint's ``metadata`` file.

    Structured Streaming mints a fresh UUID whenever a checkpoint directory
    is created, so this identifies the *run lineage*: deleting/recreating
    the checkpoint (which restarts foreachBatch epoch ids at 0) yields a
    different id even at the same path.  None until the query has started.
    """
    import json

    text = _read_small(spark, checkpoint_path.rstrip("/") + "/metadata", 65536)
    if text is None:
        return None
    try:
        return str(json.loads(text)["id"])
    except (ValueError, KeyError):
        return None


def merge_into_state(
    spark: SparkSession,
    new_partials: DataFrame,
    spec: SketchSpec,
    group_cols: list[str],
    state_path: str,
    epoch_id: int,
    keep_epochs: int = 2,
    run_id: str | None = None,
) -> bool:
    """Merge freshly-built partials into the persistent sketch-state table.

    Returns True if the epoch was applied, False if it was a replay of an
    already-committed epoch (skipped — re-merging would double-count the
    additive sketches).  Payloads are KBs per group, so the read-merge-write
    is cheap and safe per micro-batch.  ``merge_partials`` reads each
    group's kernel from its payloads, so ``spec`` only names the kind built.

    ``run_id`` guards the replay skip (round-2 ADVICE): foreachBatch epoch
    ids restart at 0 when a streaming checkpoint is deleted/recreated or a
    different query is pointed at the same ``state_path`` — without the
    guard every new batch would satisfy ``epoch_id <= latest`` and be
    silently dropped.  The id of the run that committed the high-water mark
    is persisted next to the epoch dirs; a low epoch from a DIFFERENT run
    raises instead of skipping.
    """
    latest = current_epoch(spark, state_path)
    if latest is not None and epoch_id <= latest:
        committed_run = _read_run_marker(spark, state_path)
        if run_id is not None and committed_run is not None and run_id != committed_run:
            raise RuntimeError(
                f"epoch {epoch_id} <= committed high-water mark {latest} under "
                f"{state_path}, but it comes from streaming run {run_id!r} while the "
                f"state was committed by run {committed_run!r}.  The checkpoint was "
                f"deleted/recreated (epoch ids restarted) or another query shares this "
                f"state_path — skipping would silently drop all new data.  Point the "
                f"new run at a fresh state_path, or restore the original checkpoint."
            )
        return False  # same-run epoch replay after a downstream crash: already absorbed

    if latest is None:
        combined = new_partials
    else:
        old = spark.read.parquet(_epoch_dir(state_path, latest))
        combined = old.unionByName(new_partials)

    # columns beyond the harness triple ride along max-aggregated — e.g. the
    # windowed variant's max_event_ts watermark column
    merged = merge_partials(combined, group_cols)
    # overwrite is retry-safe: a half-written dir from a crashed attempt of
    # THIS epoch has no _SUCCESS and is simply replaced; it becomes current
    # only once the write (and its _SUCCESS) completes
    merged.write.mode("overwrite").parquet(_epoch_dir(state_path, epoch_id))
    if run_id is not None:
        _write_run_marker(spark, state_path, run_id)

    # GC: drop everything but the newest keep_epochs successful states
    done = completed_epochs(spark, state_path)
    fs, _ = hadoop_fs(spark, _epochs_dir(state_path))
    for eid in done[:-keep_epochs] if keep_epochs > 0 else done[:-1]:
        _, p = hadoop_fs(spark, _epoch_dir(state_path, eid))
        fs.delete(p, True)
    return True


def incremental_sketch_query(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    spec: SketchSpec,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_path: str,
):
    """Start an availableNow streaming query maintaining the sketch state.

    Returns the StreamingQuery; call ``.awaitTermination()``.  Re-running
    with the same checkpoint only processes files not yet absorbed — the
    streaming twin of operators/checkpoint.py's bucket resume.
    """
    return absorbing_query(
        spark, input_path, input_schema,
        lambda batch_df: build_sketches(batch_df, spec, group_cols, value_col),
        spec, group_cols, state_path, checkpoint_path,
    )


def absorbing_query(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    to_partials,
    spec: SketchSpec,
    merge_keys: list[str],
    state_path: str,
    checkpoint_path: str,
):
    """availableNow streaming query whose foreachBatch merges
    ``to_partials(batch_df)`` into the state table on ``merge_keys``, under
    the run-id guard of ``merge_into_state`` (the query's checkpoint id,
    read once the query has written its metadata)."""
    stream = spark.readStream.schema(input_schema).parquet(input_path)
    run_cache: dict[str, str | None] = {}

    def absorb(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        sess = batch_df.sparkSession
        if "id" not in run_cache:
            run_cache["id"] = streaming_run_id(sess, checkpoint_path)
        merge_into_state(
            sess, to_partials(batch_df), spec, merge_keys, state_path, epoch_id,
            run_id=run_cache["id"],
        )

    return (
        stream.writeStream.foreachBatch(absorb)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The current sketch-state table (latest successful epoch)."""
    latest = current_epoch(spark, state_path)
    if latest is None:
        raise FileNotFoundError(f"no committed sketch state under {state_path}")
    return spark.read.parquet(_epoch_dir(state_path, latest))
