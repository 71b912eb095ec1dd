"""Mergeable Misra–Gries frequent-items (heavy hitters) kernel.

The deterministic companion to the count-min sketch (cms.py): CMS answers
point frequency queries for ANY key but never says which keys matter; this
summary carries the candidate heavy-hitter ITEMS themselves, with the
classic Misra–Gries guarantees for a k-counter summary over n items:

    f(x) - dec  <=  est(x)  <=  f(x)        for every item x
    dec         <=  n / (k + 1)             (dec = total decrement weight)

so any item with true frequency above n/(k+1) is guaranteed retained.
Merging two summaries is counter-addition followed by one trim — the
Agarwal et al. "Mergeable Summaries" (PODS'12) construction — which keeps
the same bound for any merge tree shape (property-tested over all
associations, like kll/tdigest).  The trim subtracts the (k+1)-th largest
count from every counter and drops the non-positive ones: at least k+1
counters each lose the full subtracted amount, which is what caps ``dec``.

Values may be int64-like or strings (token ids or tokens).  Updates are
batch-vectorized over the DISTINCT values of a batch (``distinct_hashes``,
shared with the other value-keyed kinds in the multi-kind build): the
counter add and the trim run on numpy arrays, and only the <= k survivors
become dict entries, never per-row Python.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import serde
from .hashing import distinct_hashes, normalize_items as _normalize_keys

DEFAULT_K = 256

_PARAMS = struct.Struct("<I")
_BODY_HEAD = struct.Struct("<qqIB")  # n, dec, entries, item vtype


@dataclass
class FreqState:
    k: int
    n: int = 0  # total items processed
    dec: int = 0  # total decrement weight (the error bound)
    counters: dict = field(default_factory=dict)

    def copy(self) -> "FreqState":
        return FreqState(self.k, self.n, self.dec, dict(self.counters))


def create(k: int = DEFAULT_K) -> FreqState:
    if not 1 <= k <= (1 << 20):
        raise ValueError(f"k must be in [1, 2^20], got {k}")
    return FreqState(k)


def update(state: FreqState, values) -> FreqState:
    return update_distinct(state, *distinct_hashes(values))


def update_distinct(state: FreqState, uniq, keys, counts) -> FreqState:
    """Update from ``distinct_hashes`` output (``keys`` is unused): add each
    distinct value's count to the counters and trim.  The union with the
    state's counters and the trim run on numpy arrays; the result is the
    Misra-Gries state of a per-item dict add, since the trim depends only on
    the multiset of merged counts.  Nulls are skipped."""
    uniq, counts = np.asarray(uniq), np.asarray(counts, dtype=np.int64)
    if uniq.dtype.kind not in "iu":
        live = ~pd.isna(uniq)
        uniq, counts = uniq[live], counts[live]
    if uniq.size == 0:
        return state
    items, c = _item_array(uniq), state.counters
    try:
        old = np.fromiter(c, dtype=items.dtype, count=len(c))
    except (TypeError, ValueError, OverflowError):  # items of another type
        items, old = items.astype(object), np.fromiter(c, dtype=object, count=len(c))
    codes, union = pd.factorize(np.concatenate([old, items]))
    totals = np.zeros(len(union), dtype=np.int64)
    np.add.at(totals, codes, np.concatenate([np.fromiter(c.values(), np.int64, len(c)), counts]))
    state.n += int(counts.sum())
    if len(union) > state.k:  # the _trim rule, on arrays
        m = int(np.partition(totals, -(state.k + 1))[-(state.k + 1)])
        keep = totals > m
        union, totals = union[keep], totals[keep] - m
        state.dec += m
    state.counters = dict(zip(_normalize_keys(np.asarray(union)), totals.tolist()))
    return state


def _item_array(uniq: np.ndarray) -> np.ndarray:
    """Distinct values as canonical items in an array: int64 for integers,
    strings as they are, anything else through ``normalize_items``."""
    if uniq.dtype.kind in "iu" and np.can_cast(uniq.dtype, np.int64):
        return uniq.astype(np.int64, copy=False)
    if uniq.dtype == object and pd.api.types.infer_dtype(uniq, skipna=False) == "string":
        return uniq
    return np.array(_normalize_keys(uniq), dtype=object)


def _trim(state: FreqState) -> None:
    c = state.counters
    if len(c) <= state.k:
        return
    counts = np.fromiter(c.values(), dtype=np.int64, count=len(c))
    # m = the (k+1)-th largest count; subtracting it zeroes everything at or
    # below rank k+1, so at most k counters (those strictly above m) survive
    m = int(np.partition(counts, -(state.k + 1))[-(state.k + 1)])
    state.counters = {it: v - m for it, v in c.items() if v > m}
    state.dec += m


def merge(a: FreqState, b: FreqState) -> FreqState:
    if a.k != b.k:
        raise serde.SketchFormatError(f"freq k mismatch: {a.k} vs {b.k}")
    out = a.copy()
    c = out.counters
    for it, v in b.counters.items():
        c[it] = c.get(it, 0) + v
    out.n += b.n
    out.dec += b.dec
    _trim(out)
    return out


def _key_or_none(v):
    """Lenient query-side key normalization: unsupported/null → None."""
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (str, np.str_)):
        return str(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None  # None / NaN / float / anything a sketch can't hold


def query(state: FreqState, items) -> np.ndarray:
    """Estimated count per item (0 for untracked; true count <= est + dec).

    Query-side is LENIENT: nulls and non-int/str values return 0 instead
    of raising (a ``make_point_query_udf`` column may be nullable),
    matching the cms point query's tolerate-anything behavior."""
    arr = np.asarray(items)
    if arr.dtype.kind in "US":
        arr = arr.astype(object)
    c = state.counters
    return np.fromiter(
        (c.get(_key_or_none(v), 0) for v in arr.ravel()), dtype=np.int64, count=arr.size
    )


def error_bound(state: FreqState) -> int:
    """Max undercount: f(x) - query(x) <= this, and it is <= n/(k+1)."""
    return state.dec


def top_items(state: FreqState, n: int | None = None) -> list:
    """[(item, est, upper=est+dec)] by est desc, item asc tiebreak.

    Items must be homogeneous (all int or all str — what ``serialize``
    enforces); the tiebreak is then numeric for ints, lexicographic for
    strings."""
    rows = sorted(state.counters.items(), key=lambda kv: (-kv[1], kv[0]))
    if n is not None:
        rows = rows[:n]
    return [(it, v, v + state.dec) for it, v in rows]


def serialize(state: FreqState) -> bytes:
    items = sorted(state.counters.items(), key=lambda kv: str(kv[0]))
    vtype, block = serde.pack_items([it for it, _ in items], "freq")
    counts = np.array([v for _, v in items], dtype="<i8").tobytes()
    body = _BODY_HEAD.pack(state.n, state.dec, len(items), vtype) + block + counts
    return serde.pack_header(serde.KIND_FREQ, _PARAMS.pack(state.k)) + body


def deserialize(payload: bytes) -> FreqState:
    _, params, body = serde.unpack(payload, serde.KIND_FREQ)
    (k,) = _PARAMS.unpack(params)
    if len(body) < _BODY_HEAD.size:
        raise serde.SketchFormatError("freq body too short")
    n, dec, n_entries, vtype = _BODY_HEAD.unpack_from(body, 0)
    if n_entries > k:
        raise serde.SketchFormatError("freq body holds more than k entries")
    items, end = serde.unpack_items(body, _BODY_HEAD.size, n_entries, vtype, "freq")
    counts = np.frombuffer(body[end : end + 8 * n_entries], dtype="<i8")
    if counts.size != n_entries:
        raise serde.SketchFormatError("freq body size mismatch")
    counters = dict(zip(items, counts.tolist()))
    return FreqState(k, int(n), int(dec), counters)
