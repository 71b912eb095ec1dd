"""Custom stateful streaming sketch via applyInPandasWithState.

Where incremental.py keeps sketch state in a lakehouse table (foreachBatch,
exactly-once via file-source checkpoints), this variant keeps the state in
Spark's streaming state store itself — the idiomatic route for *low-latency*
standing aggregations where emitting per-micro-batch estimates matters more
than a queryable state table.

Each micro-batch first runs the builder's stage A
(``harness.partial_sketches``): one partial payload per (group, input
partition), built map-side from Arrow batches.  The shuffle into the state
operator therefore carries only those payloads, never raw rows, so a skewed
group cannot make a hot partition of raw data.  The state function only
folds payloads — state = merge(old_state, *batch_partials) — and sums
``rows``/``items``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..harness import partial_sketches
from ..sketches import SketchSpec

OUT_SCHEMA = "group string, sketch binary, rows long, items long"
STATE_SCHEMA = "sketch binary, rows long, items long"


def sketch_update_fn(spec: SketchSpec):
    """Build the (key, partials, state) -> rows function for
    applyInPandasWithState: fold the micro-batch's partial payloads into the
    group's sketch state and emit the updated payload."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        payloads, rows, items = [], 0, 0
        if state.exists:
            old_payload, rows, items = state.get
            payloads.append(bytes(old_payload))
        for pdf in pdfs:
            payloads.extend(pdf["sketch"])
            rows += int(pdf["rows"].sum())
            items += int(pdf["items"].sum())
        payload = spec.merge_payloads(payloads)
        state.update((payload, rows, items))
        yield pd.DataFrame(
            {"group": [key[0]], "sketch": [payload], "rows": [rows], "items": [items]}
        )

    return update


def stateful_sketch_stream(
    stream_df: DataFrame,
    spec: SketchSpec,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming DataFrame of per-group updated sketch payloads, one row per
    group per micro-batch (output mode: update)."""
    partials = partial_sketches(stream_df, {spec.kind: (spec, value_col)}, [group_col])
    return partials.drop("kind").groupBy(group_col).applyInPandasWithState(
        sketch_update_fn(spec),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
