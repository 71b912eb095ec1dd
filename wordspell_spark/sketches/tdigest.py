"""Mergeable t-digest kernel (pure numpy, vectorized compression).

Second quantile sketch besides KLL (BASELINE.json north_star): better tail
accuracy, approximate merges.  Dunning's MergingDigest variant with the k1
scale function  k(q) = δ/(2π)·asin(2q−1): clusters sized so the k-width of
each is ≈1, giving rank error O(1/δ) at the median and ~q(1−q)/δ at the
tails.

Vectorization note: the classical merge pass is sequential; we instead bucket
sorted centroids by ⌊k(q_mid)⌋ and reduce with ``np.add.reduceat`` — same
cluster geometry, fully vectorized (no per-row Python, per input_hint).
Merges are approximate, so property tests assert bound preservation, not bit
equality (SURVEY.md §7 "t-digest merge accuracy").
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from . import serde

DEFAULT_DELTA = 200.0
_PARAMS = struct.Struct("<d")
_HEAD = struct.Struct("<dddI")  # n, min, max, centroids
_BUFFER_FACTOR = 16  # compress when buffered points exceed δ * factor


@dataclass
class TDigestState:
    delta: float
    means: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.float64))
    weights: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.float64))
    buffer: list = field(default_factory=list)  # uncompressed raw points
    n: float = 0.0
    min_v: float = np.inf
    max_v: float = -np.inf

    def copy(self) -> "TDigestState":
        return TDigestState(self.delta, self.means.copy(), self.weights.copy(), [b.copy() for b in self.buffer], self.n, self.min_v, self.max_v)


def create(delta: float = DEFAULT_DELTA) -> TDigestState:
    return TDigestState(delta=delta)


def _k_scale(q: np.ndarray, delta: float) -> np.ndarray:
    return (delta / (2 * np.pi)) * np.arcsin(np.clip(2 * q - 1, -1.0, 1.0))


def _compress_arrays(means: np.ndarray, weights: np.ndarray, delta: float) -> tuple[np.ndarray, np.ndarray]:
    if means.size == 0:
        return means, weights
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = weights.sum()
    cum = np.cumsum(weights)
    q_mid = (cum - weights / 2) / total
    groups = np.floor(_k_scale(q_mid, delta)).astype(np.int64)
    # reduceat over group boundaries
    boundaries = np.flatnonzero(np.diff(groups)) + 1
    starts = np.concatenate([[0], boundaries])
    w_out = np.add.reduceat(weights, starts)
    m_out = np.add.reduceat(means * weights, starts) / w_out
    return m_out, w_out


def _flush(state: TDigestState) -> None:
    if not state.buffer and state.means.size <= 2 * int(state.delta) + 10:
        return
    parts = [state.means * 1.0] if state.means.size else []
    wparts = [state.weights * 1.0] if state.weights.size else []
    for b in state.buffer:
        parts.append(b)
        wparts.append(np.ones(b.size, dtype=np.float64))
    state.buffer = []
    if not parts:
        return
    means = np.concatenate(parts)
    weights = np.concatenate(wparts)
    state.means, state.weights = _compress_arrays(means, weights, state.delta)


def update(state: TDigestState, values) -> TDigestState:
    arr = np.asarray(values, dtype=np.float64)
    arr = arr[~np.isnan(arr)]
    if arr.size == 0:
        return state
    state.min_v = min(state.min_v, float(arr.min()))
    state.max_v = max(state.max_v, float(arr.max()))
    state.n += arr.size
    state.buffer.append(arr)
    if sum(b.size for b in state.buffer) > _BUFFER_FACTOR * state.delta:
        _flush(state)
    return state


def merge(a: TDigestState, b: TDigestState) -> TDigestState:
    if a.delta != b.delta:
        raise serde.SketchFormatError(f"tdigest delta mismatch: {a.delta} vs {b.delta}")
    out = a.copy()
    out.n += b.n
    out.min_v = min(out.min_v, b.min_v)
    out.max_v = max(out.max_v, b.max_v)
    bb = b.copy()
    _flush(bb)
    if bb.means.size:
        out.means = np.concatenate([out.means, bb.means])
        out.weights = np.concatenate([out.weights, bb.weights])
    _flush(out)
    out.means, out.weights = _compress_arrays(out.means, out.weights, out.delta)
    return out


def quantile(state: TDigestState, q) -> np.ndarray:
    st = state.copy()
    _flush(st)
    st.means, st.weights = _compress_arrays(st.means, st.weights, st.delta)
    qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
    if st.means.size == 0:
        return np.full(qs.shape, np.nan)
    total = st.weights.sum()
    cum = np.cumsum(st.weights) - st.weights / 2  # centroid mid-ranks
    targets = np.clip(qs, 0.0, 1.0) * total
    out = np.interp(targets, cum, st.means, left=st.min_v, right=st.max_v)
    out = np.where(qs <= 0.0, st.min_v, out)
    out = np.where(qs >= 1.0, st.max_v, out)
    return out


def rank(state: TDigestState, values) -> np.ndarray:
    st = state.copy()
    _flush(st)
    xs = np.atleast_1d(np.asarray(values, dtype=np.float64))
    if st.means.size == 0:
        return np.full(xs.shape, np.nan)
    total = st.weights.sum()
    cum = np.cumsum(st.weights) - st.weights / 2
    return np.interp(xs, st.means, cum, left=0.0, right=total) / total


def serialize(state: TDigestState) -> bytes:
    st = state.copy()
    _flush(st)
    st.means, st.weights = _compress_arrays(st.means, st.weights, st.delta)
    head = _HEAD.pack(st.n, st.min_v, st.max_v, st.means.size)
    centroids = np.concatenate([st.means, st.weights]).astype("<f8").tobytes()
    return serde.pack_header(serde.KIND_TDIGEST, _PARAMS.pack(st.delta)) + head + centroids


def deserialize(payload: bytes) -> TDigestState:
    _, (delta,), body = serde.unpack(payload, serde.KIND_TDIGEST, _PARAMS)
    if not (np.isfinite(delta) and delta > 0):
        raise serde.SketchFormatError(f"tdigest delta out of range: {delta}")
    n, min_v, max_v, ncent = body.read(_HEAD)
    means, weights = body.array("<f8", 2 * ncent).astype(np.float64).reshape(2, ncent)
    body.end()
    # a legit state never holds NaN (update filters it), weights <= 0 or a
    # weight sum past float range — NaN would poison every later merge
    if np.isnan(means).any() or (weights <= 0).any() or not np.isfinite(weights.sum()):
        raise serde.SketchFormatError("tdigest centroids corrupt (NaN, weight <= 0 or weight sum not finite)")
    if not (n >= 0) or np.isnan(min_v) or np.isnan(max_v):
        raise serde.SketchFormatError("tdigest summary stats corrupt")
    # serialize writes compressed centroids, and compressing them again
    # changes nothing; any other centroid list is not a serialized state
    m2, w2 = _compress_arrays(means, weights, delta)
    if not (np.array_equal(m2, means) and np.array_equal(w2, weights)):
        raise serde.SketchFormatError("tdigest centroids are not in compressed form")
    return TDigestState(delta, means, weights, [], n, min_v, max_v)
