"""Structured Streaming incremental sketch maintenance (SURVEY.md §2.10)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from wordspell_spark.sources.fixtures import sequences_table

SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


@pytest.fixture()
def chunked_input(tmp_path):
    """Two parquet files landing at different times in one input dir."""
    tbl = sequences_table(4000)
    d = tmp_path / "stream_in"
    d.mkdir()
    pq.write_table(tbl.slice(0, 2000), str(d / "part-0.parquet"))
    return d, tbl


def test_incremental_equals_batch(spark, tmp_path, chunked_input):
    from wordspell_spark.sketches import SketchSpec, hll
    from wordspell_spark.streaming.incremental import incremental_sketch_query, read_state

    input_dir, tbl = chunked_input
    spec = SketchSpec("hll", {"p": 12})
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = incremental_sketch_query(
            spark, str(input_dir), SCHEMA, spec, ["source"], "tokens", state, ckpt
        )
        q.awaitTermination()

    # epoch 1: first file only
    run_stream()
    first = {
        r["source"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
        for r in read_state(spark, state).collect()
    }
    assert first

    # second file lands; re-run with the same checkpoint → only new file read
    pq.write_table(tbl.slice(2000, 2000), str(input_dir / "part-1.parquet"))
    run_stream()
    final_rows = read_state(spark, state).collect()
    final = {
        r["source"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
        for r in final_rows
    }

    # oracle: one-shot batch build over the full table
    from wordspell_spark.harness import build_sketches

    full_df = spark.createDataFrame(tbl.to_pandas(), SCHEMA)
    batch = {
        r["source"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
        for r in build_sketches(full_df, spec, ["source"], "tokens").collect()
    }
    assert final == batch

    # lineage metrics absorbed every row exactly once
    assert sum(r["rows"] for r in final_rows) == 4000


def test_incremental_theta_byte_identical_to_batch(spark, tmp_path, chunked_input):
    """r5 kind through the generic streaming path: theta's merge is order-
    free bit-exactly, so incremental state must equal the one-shot payload
    byte-for-byte (stronger than the HLL estimate check above)."""
    from wordspell_spark.harness import build_sketches
    from wordspell_spark.sketches import SketchSpec
    from wordspell_spark.streaming.incremental import incremental_sketch_query, read_state

    input_dir, tbl = chunked_input
    spec = SketchSpec("theta", {"k": 256})
    state = str(tmp_path / "state_theta")
    ckpt = str(tmp_path / "ckpt_theta")
    q = incremental_sketch_query(
        spark, str(input_dir), SCHEMA, spec, ["source"], "tokens", state, ckpt
    )
    q.awaitTermination()
    streamed = {
        r["source"]: bytes(r["sketch"]) for r in read_state(spark, state).collect()
    }
    full_df = spark.createDataFrame(tbl.slice(0, 2000).to_pandas(), SCHEMA)
    batch = {
        r["source"]: bytes(r["sketch"])
        for r in build_sketches(full_df, spec, ["source"], "tokens").collect()
    }
    assert streamed == batch


def test_epoch_replay_is_skipped(spark, tmp_path):
    """Re-delivering an epoch (foreachBatch replay after a downstream crash)
    must NOT re-merge its partials — CMS/KLL/t-digest are additive, so a
    re-merge double-counts (round-1 ADVICE)."""
    from wordspell_spark.harness import build_sketches
    from wordspell_spark.sketches import SketchSpec, cms
    from wordspell_spark.streaming.incremental import (
        completed_epochs,
        merge_into_state,
        read_state,
    )

    spec = SketchSpec("cms", {"eps": 0.01, "delta": 0.01})
    state = str(tmp_path / "replay_state")
    df = spark.createDataFrame(
        [("a", ["x", "x", "y"]), ("a", ["x"])], "source string, tokens array<string>"
    )
    partials = build_sketches(df, spec, ["source"], "tokens")

    assert merge_into_state(spark, partials, spec, ["source"], state, epoch_id=0) is True
    payload0 = bytes(read_state(spark, state).first()["sketch"])
    x0 = int(cms.query(cms.deserialize(payload0), ["x"])[0])

    # replay of epoch 0: skipped, state unchanged
    assert merge_into_state(spark, partials, spec, ["source"], state, epoch_id=0) is False
    assert bytes(read_state(spark, state).first()["sketch"]) == payload0

    # a NEW epoch applies and accumulates
    assert merge_into_state(spark, partials, spec, ["source"], state, epoch_id=1) is True
    x1 = int(cms.query(cms.deserialize(bytes(read_state(spark, state).first()["sketch"])), ["x"])[0])
    assert x1 == 2 * x0
    assert completed_epochs(spark, state) == [0, 1]


def test_epoch_regression_from_different_run_raises(spark, tmp_path):
    """A low epoch id from a DIFFERENT streaming run (checkpoint deleted and
    recreated → foreachBatch epochs restart at 0) must raise, not silently
    skip every new batch (round-2 ADVICE)."""
    import pytest

    from wordspell_spark.harness import build_sketches
    from wordspell_spark.sketches import SketchSpec
    from wordspell_spark.streaming.incremental import merge_into_state, read_state

    spec = SketchSpec("cms", {"eps": 0.01, "delta": 0.01})
    state = str(tmp_path / "run_guard_state")
    df = spark.createDataFrame([("a", ["x", "y"])], "source string, tokens array<string>")
    partials = build_sketches(df, spec, ["source"], "tokens")

    assert merge_into_state(spark, partials, spec, ["source"], state, epoch_id=2, run_id="run-A")
    payload = bytes(read_state(spark, state).first()["sketch"])

    # same run replaying an old epoch: fine, skipped
    assert (
        merge_into_state(spark, partials, spec, ["source"], state, epoch_id=1, run_id="run-A")
        is False
    )
    # recreated checkpoint (new run id, epochs restart at 0): loud failure
    with pytest.raises(RuntimeError, match="run-B"):
        merge_into_state(spark, partials, spec, ["source"], state, epoch_id=0, run_id="run-B")
    assert bytes(read_state(spark, state).first()["sketch"]) == payload
    # a new-run epoch ABOVE the mark applies and re-stamps ownership
    assert merge_into_state(spark, partials, spec, ["source"], state, epoch_id=3, run_id="run-B")
    with pytest.raises(RuntimeError, match="run-A"):
        merge_into_state(spark, partials, spec, ["source"], state, epoch_id=1, run_id="run-A")


def test_stateful_sketch_stream(spark, tmp_path):
    """applyInPandasWithState keeps per-group sketch state in the state store;
    final emitted estimates equal the batch build."""
    import pyarrow.parquet as pq

    from wordspell_spark.sketches import SketchSpec, hll
    from wordspell_spark.streaming.stateful import stateful_sketch_stream

    tbl = sequences_table(3000)
    d = tmp_path / "in"
    d.mkdir()
    pq.write_table(tbl, str(d / "part-0.parquet"))

    spec = SketchSpec("hll", {"p": 12})
    stream = spark.readStream.schema(SCHEMA).parquet(str(d))
    out = stateful_sketch_stream(stream, spec, "source", "tokens")
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_sketches")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r["group"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
        for r in spark.sql("select * from stateful_sketches").collect()
    }
    from wordspell_spark.harness import build_sketches

    full_df = spark.createDataFrame(tbl.to_pandas(), SCHEMA)
    batch = {
        r["source"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
        for r in build_sketches(full_df, spec, ["source"], "tokens").collect()
    }
    assert got == batch


def test_io_sources_roundtrip(spark, tmp_path):
    """S8/S9/S10 sink-source plumbing (sources/io.py)."""
    from wordspell_spark.sources.io import (
        load_sketch_table,
        read_query_log,
        save_sketch_table,
        write_corrections,
    )

    log = tmp_path / "queries.raw"
    log.write_text("first query\n\nsecond query\n   \nthird\n")
    q = read_query_log(spark, str(log))
    assert [r["query"] for r in q.orderBy("query").collect()] == [
        "first query", "second query", "third",
    ]

    from wordspell_spark.harness import build_sketches
    from wordspell_spark.sketches import SketchSpec, hll

    df = spark.createDataFrame([("a", [1, 2]), ("b", [2, 3])], "source string, tokens array<int>")
    sk = build_sketches(df, SketchSpec("hll", {"p": 12}), ["source"], "tokens")
    save_sketch_table(sk, str(tmp_path / "sk"))
    back = load_sketch_table(spark, str(tmp_path / "sk"))
    assert back.count() == 2
    est = hll.estimate(hll.deserialize(bytes(back.filter("source='a'").first()["sketch"])))
    assert round(est) == 2

    cor = q.withColumn("corrected", q["query"])
    write_corrections(cor, str(tmp_path / "corr"))
    write_corrections(cor, str(tmp_path / "corr"))  # append mode accumulates
    assert spark.read.parquet(str(tmp_path / "corr")).count() == 6


WIN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"


def _events(rows):
    """(doc_id, tokens, source, ts) tuples -> a WIN_SCHEMA arrow table."""
    import pyarrow as pa

    return pa.table(
        {
            "doc_id": [r[0] for r in rows],
            "tokens": pa.array([r[1] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[1]) for r in rows], pa.int32()),
            "source": [r[2] for r in rows],
            "ts": pa.array([r[3] for r in rows], pa.timestamp("us")),
        }
    )


def test_windowed_sketch_with_late_data(spark, tmp_path):
    """Event-time windows + watermark sealing: a late event (arriving in a
    later file) merges into its original window; per-window estimates equal
    the batch build; sealing follows max_event_ts - lateness."""
    import datetime as dt

    from wordspell_spark.harness import build_sketches
    from wordspell_spark.sketches import SketchSpec, hll
    from wordspell_spark.streaming.windowed import (
        read_windowed_state,
        windowed_sketch_query,
    )

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    d = tmp_path / "win_in"
    d.mkdir()
    # file 1: events in hours 0 and 1
    rows1 = [
        ("a", [1, 2, 3], "web", t0),
        ("b", [2, 3, 4], "web", t0 + dt.timedelta(minutes=30)),
        ("c", [5, 6], "web", t0 + dt.timedelta(hours=1, minutes=5)),
    ]
    import pyarrow.parquet as pq

    pq.write_table(_events(rows1), str(d / "f1.parquet"))

    spec = SketchSpec("hll", {"p": 12})
    state = str(tmp_path / "win_state")
    ckpt = str(tmp_path / "win_ckpt")

    def run():
        q = windowed_sketch_query(
            spark, str(d), WIN_SCHEMA, spec, ["source"], "tokens", "ts", "1 hour", state, ckpt
        )
        q.awaitTermination()

    run()
    st1 = {r["window_start"]: r for r in read_windowed_state(spark, state, "1 hour", "2 hours").collect()}
    assert len(st1) == 2

    # file 2: a LATE event for hour 0 (new tokens) plus an event at hour 5
    rows2 = [
        ("late", [7, 8, 9], "web", t0 + dt.timedelta(minutes=45)),
        ("d", [1], "web", t0 + dt.timedelta(hours=5)),
    ]
    pq.write_table(_events(rows2), str(d / "f2.parquet"))
    run()

    out = read_windowed_state(spark, state, "1 hour", "2 hours").collect()
    by_win = {r["window_start"]: r for r in out}
    assert len(by_win) == 3

    # the hour-0 window absorbed the late event: estimate == distinct{1..4,7,8,9}
    w0 = by_win[t0]
    est0 = hll.estimate(hll.deserialize(bytes(w0["sketch"])))
    assert round(est0) == 7
    assert w0["rows"] == 3  # a, b + late

    # exactly-once bookkeeping across both runs
    assert sum(r["rows"] for r in out) == 5

    # watermark = max_ts (hour 5) - 2h lateness = hour 3 → hours 0 and 1
    # sealed, hour 5 still open
    sealed = {r["window_start"]: r["sealed"] for r in out}
    assert sealed[t0] and sealed[t0 + dt.timedelta(hours=1)]
    assert not sealed[t0 + dt.timedelta(hours=5)]

    # per-window estimates equal a batch build over all the data
    full = spark.createDataFrame(_events(rows1 + rows2).to_pandas(), WIN_SCHEMA)
    from pyspark.sql import functions as F

    batch = build_sketches(
        full.withColumn("window_start", F.window("ts", "1 hour")["start"]),
        spec,
        ["window_start", "source"],
        "tokens",
    )
    for r in batch.collect():
        got = hll.estimate(hll.deserialize(bytes(by_win[r["window_start"]]["sketch"])))
        want = hll.estimate(hll.deserialize(bytes(r["sketch"])))
        assert got == want


def test_windowed_recreated_checkpoint_raises(spark, tmp_path):
    """Deleting the windowed query's checkpoint restarts its epoch ids at 0.
    Every new batch then looks like a replay of a committed epoch; the
    run-id guard must fail the query instead of dropping the new data."""
    import datetime as dt
    import shutil

    from wordspell_spark.sketches import SketchSpec
    from wordspell_spark.streaming.incremental import current_epoch
    from wordspell_spark.streaming.windowed import windowed_sketch_query

    t0 = dt.datetime(2026, 1, 1)
    d = tmp_path / "win_in"
    d.mkdir()
    pq.write_table(_events([("a", [1, 2], "web", t0)]), str(d / "f1.parquet"))
    state, ckpt = str(tmp_path / "win_state"), tmp_path / "win_ckpt"

    def run():
        windowed_sketch_query(
            spark, str(d), WIN_SCHEMA, SketchSpec("hll", {"p": 10}), ["source"],
            "tokens", "ts", "1 hour", state, str(ckpt),
        ).awaitTermination()

    run()
    assert current_epoch(spark, state) == 0
    shutil.rmtree(ckpt)
    pq.write_table(_events([("b", [3], "web", t0)]), str(d / "f2.parquet"))
    with pytest.raises(Exception, match="streaming run"):
        run()
    assert current_epoch(spark, state) == 0
