"""Custom stateful streaming sketch via applyInPandasWithState.

Where incremental.py keeps sketch state in a lakehouse table (foreachBatch,
exactly-once via file-source checkpoints), this variant keeps the state in
Spark's streaming state store itself — the idiomatic route for *low-latency*
standing aggregations where emitting per-micro-batch estimates matters more
than a queryable state table.  Sketch payloads are small and mergeable, so
they are ideal state-store values: update = merge(old_state, batch_partial).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sketches import SketchSpec

OUT_SCHEMA = "group string, sketch binary, rows long, items long"
STATE_SCHEMA = "sketch binary, rows long, items long"


def _flatten_values(series: pd.Series) -> np.ndarray:
    """Column values → flat numpy array; array columns are exploded in C.

    Detects array columns from the first NON-null element — a null in row 0
    must not silently switch a list column onto the scalar path.  Arrow →
    pandas turns an int column holding a null into float64, so its values
    hash as floats here; ``harness.build_sketches`` reads Arrow and keeps
    the ints.
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


def sketch_update_fn(spec: SketchSpec, value_col: str):
    """Build the (key, batches, state) -> rows function for
    applyInPandasWithState: merge the incoming micro-batch into the group's
    sketch state and emit the updated payload."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        st = spec.create()
        rows = items = 0
        for pdf in pdfs:
            if pdf.empty:
                continue
            vals = _flatten_values(pdf[value_col])
            spec.update(st, vals)
            rows += len(pdf)
            items += len(vals)
        if state.exists:
            old_payload, old_rows, old_items = state.get
            st = spec.merge(spec.deserialize(bytes(old_payload)), st)
            rows += old_rows
            items += old_items
        payload = spec.serialize(st)
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
    return stream_df.groupBy(group_col).applyInPandasWithState(
        sketch_update_fn(spec, value_col),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
