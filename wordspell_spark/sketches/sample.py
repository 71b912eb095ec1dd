"""Mergeable bottom-k-by-hash DISTINCT-VALUE sample kernel.

The value-carrying sibling of the theta sketch (theta.py): where theta
retains only the k smallest ``hash64`` keys (enough for cardinality and
set algebra), this summary retains the VALUES those keys belong to — a
deterministic, mergeable uniform sample of the distinct values of a
column.  What it answers that no other kind here can: "show me ~k
representative distinct tokens per source", "which concrete values does
this barely-seen shard contain", auditing/debug sampling that is STABLE
across re-runs, partitionings and merge trees (``randomSplit``/``sample``
give none of that).

Sampling rule: a value is retained iff its ``hash64`` is among the k
smallest distinct hashes seen — so membership is a pure function of the
value, and the merged sample of any partition tree equals the sample of
the union (bit-exact associative/commutative/idempotent, property-tested;
on the 2^-64 chance of a hash collision the smaller value wins, keeping
the rule deterministic).  Below k distinct values the sample is EXACT —
it IS the distinct set — which the driver-gate oracle exploits the same
way theta's exact mode does.

Estimate of total distinct cardinality comes for free (same estimator as
theta: (k-1) * 2^64 / k-th smallest hash, RSE <= 1/sqrt(k-2)).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from . import serde
from .hashing import distinct_hashes, hash64, kmv_estimate, kmv_rse, normalize_items

DEFAULT_K = 1024

_U64 = np.uint64
_PARAMS = struct.Struct("<I")
_BODY_HEAD = struct.Struct("<IB")  # entries, item vtype


class SampleState:
    """hashes: sorted ascending distinct u64, len <= k; values[i] is the
    value whose hash64 is hashes[i] (python ints or strs, homogeneous)."""

    __slots__ = ("k", "hashes", "values")

    def __init__(self, k: int, hashes: np.ndarray, values: list):
        self.k = k
        self.hashes = hashes
        self.values = values

    def copy(self) -> "SampleState":
        return SampleState(self.k, self.hashes.copy(), list(self.values))


def create(k: int = DEFAULT_K) -> SampleState:
    if not 16 <= k <= (1 << 20):
        raise ValueError(f"k must be in [16, 2^20], got {k}")
    return SampleState(k, np.empty(0, dtype=_U64), [])


def is_exact(state: SampleState) -> bool:
    return state.hashes.size < state.k


def update(state: SampleState, values) -> SampleState:
    return update_distinct(state, *distinct_hashes(values))


def update_distinct(state: SampleState, uniq, keys, counts=None) -> SampleState:
    """Update from ``distinct_hashes`` output (``counts`` is unused): the
    values come deduped and hashed, so no key is computed here.  Nulls are
    skipped.
    Before any python-level work, only the candidates that can reach the
    bottom k are kept: keys <= the k-th smallest DISTINCT candidate key
    (and <= the state's largest once it is full).  Every tie is kept, so
    equal-hash distinct values (a 2^-64 collision) still reach
    ``_absorb``'s min-value rule."""
    uniq, h = np.asarray(uniq), np.asarray(keys, dtype=_U64)
    if uniq.dtype.kind not in "iu":
        live = ~pd.isna(uniq)
        uniq, h = uniq[live], h[live]
    keep = np.ones(h.size, dtype=bool)
    if h.size > state.k:
        # the cut is the k-th smallest DISTINCT key: the k smallest keys
        # give it directly unless one of them repeats (a 64-bit collision)
        ranked = np.partition(h, state.k - 1)
        if np.unique(ranked[: state.k]).size < state.k:
            ranked = np.unique(h)
        if ranked.size > state.k:
            keep = h <= ranked[state.k - 1]
    if not is_exact(state):
        keep &= h <= state.hashes[-1]
    if not keep.any():
        return state
    return _absorb(state, h[keep], normalize_items(uniq[keep]))


def _absorb(state: SampleState, h: np.ndarray, items: list) -> SampleState:
    """Merge (hash, value) candidates into the bottom-k state."""
    if not is_exact(state):
        # <= (not <): an equal-hash candidate must reach the collision
        # min-rule below, or associativity would break in the 2^-64 case
        keep = h <= state.hashes[-1]
        if not keep.any():
            return state
        h = h[keep]
        items = [it for it, k_ in zip(items, keep) if k_]
    cand: dict[int, object] = {}
    for hv, it in zip(h.tolist(), items):
        prev = cand.get(hv)
        # collision rule: smaller value wins (deterministic, associative)
        if prev is None or it < prev:
            cand[hv] = it
    cur = dict(zip(state.hashes.tolist(), state.values))
    for hv, it in cand.items():
        prev = cur.get(hv)
        if prev is None or it < prev:
            cur[hv] = it
    hashes = np.fromiter(cur.keys(), dtype=_U64, count=len(cur))
    order = np.argsort(hashes, kind="stable")
    hashes = hashes[order][: state.k]
    vals_all = list(cur.values())
    state.hashes = hashes
    state.values = [vals_all[i] for i in order[: state.k]]
    return state


def merge(a: SampleState, b: SampleState) -> SampleState:
    if a.k != b.k:
        raise serde.SketchFormatError(f"sample k mismatch: {a.k} vs {b.k}")
    out = a.copy()
    return _absorb(out, b.hashes, list(b.values))


def sample(state: SampleState) -> list:
    """The retained distinct values, in hash order (the canonical order —
    deterministic across any build/merge shape).  Exact-mode states return
    the full distinct set."""
    return list(state.values)


def estimate(state: SampleState) -> float:
    """Distinct-count estimate (the shared KMV estimator, hashing.py)."""
    return kmv_estimate(state.hashes, state.k)


def rse(state: SampleState) -> float:
    return kmv_rse(state.hashes, state.k)


def serialize(state: SampleState) -> bytes:
    vtype, block = serde.pack_items(state.values, "sample")
    hbytes = np.ascontiguousarray(state.hashes, dtype="<u8").tobytes()
    body = _BODY_HEAD.pack(state.hashes.size, vtype) + hbytes + block
    return serde.pack_header(serde.KIND_SAMPLE, _PARAMS.pack(state.k)) + body


def deserialize(payload: bytes) -> SampleState:
    _, (k,), body = serde.unpack(payload, serde.KIND_SAMPLE, _PARAMS)
    if not 16 <= k <= (1 << 20):  # same bounds as create(); corrupt k would
        raise serde.SketchFormatError(f"sample k out of range: {k}")  # crash later
    n, vtype = body.read(_BODY_HEAD)
    if n > k:
        raise serde.SketchFormatError("sample body holds more than k entries")
    hashes = body.array("<u8", n).astype(_U64)
    if n > 1 and not (hashes[1:] > hashes[:-1]).all():
        raise serde.SketchFormatError("sample hashes not strictly ascending")
    values = serde.unpack_items(body, n, vtype)
    body.end()
    # each value must hash to its key, as distinct_hashes hashed it
    if n and (hash64(np.array(values, dtype=object)) != hashes).any():
        raise serde.SketchFormatError("sample value does not hash to its key")
    return SampleState(k, hashes, values)
