"""Event-time windowed sketch aggregation with watermark-based sealing.

The third streaming shape (after incremental.py's standing state table and
stateful.py's state-store aggregation): sketches per **event-time window**,
with late data handled the way mergeable sketches make natural —

* each micro-batch builds partial sketches per (window_start, group) with
  the same two-level harness as the batch path and merges them into the
  epoch-stamped state table (incremental.py's exactly-once machinery,
  reused with the window as an extra group column);
* a **late event simply merges into its window's existing sketch** — no
  recomputation, no dropped data inside the lateness bound, because sketch
  merge is associative and commutative;
* the **watermark** (max observed event time − allowed lateness, carried
  in the state itself as a max-merged column) decides when a window is
  *sealed*: consumers read ``sealed`` windows as final and open windows as
  running estimates.  This restates Structured Streaming's append-mode
  window semantics over a queryable lakehouse table.

Window assignment is Spark's own ``F.window`` (tumbling), so boundaries
match ``groupBy(window(ts, d))`` byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..harness import build_sketches
from ..sketches import SketchSpec
from .incremental import absorbing_query, read_state

WINDOW_COL = "window_start"
MAX_TS_COL = "max_event_ts"


def windowed_sketch_query(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    spec: SketchSpec,
    group_cols: list[str],
    value_col: str,
    ts_col: str,
    window_duration: str,
    state_path: str,
    checkpoint_path: str,
):
    """availableNow streaming query maintaining per-(event-time window,
    group) sketches.  Returns the StreamingQuery."""
    keys = [WINDOW_COL, *group_cols]

    def to_partials(batch_df: DataFrame) -> DataFrame:
        win = batch_df.withColumn(
            WINDOW_COL, F.window(F.col(ts_col), window_duration)["start"]
        )
        mx = batch_df.select(F.max(ts_col)).first()[0]
        return build_sketches(win, spec, keys, value_col).withColumn(
            MAX_TS_COL, F.lit(mx).cast("timestamp")
        )

    return absorbing_query(
        spark, input_path, input_schema, to_partials, spec, keys, state_path, checkpoint_path
    )


def read_windowed_state(
    spark: SparkSession,
    state_path: str,
    window_duration: str,
    allowed_lateness: str,
) -> DataFrame:
    """Current windowed sketch table with the sealing verdict.

    watermark = max event time seen across the whole state − allowed
    lateness; a window is ``sealed`` once window_end ≤ watermark — the
    append-mode emission rule, with open windows still queryable.
    """
    from pyspark.sql import Window

    st = read_state(spark, state_path)
    wm = F.max(MAX_TS_COL).over(Window.partitionBy()) - F.expr(
        f"INTERVAL {allowed_lateness}"
    )
    w_end = F.col(WINDOW_COL) + F.expr(f"INTERVAL {window_duration}")
    return st.withColumn("sealed", w_end <= wm)
