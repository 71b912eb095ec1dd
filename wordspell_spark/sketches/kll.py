"""Mergeable KLL quantile sketch kernel (pure numpy).

Answers ``n_tok`` quantiles (BASELINE.json north_star), parity target for
Spark's ``percentile_approx`` (which itself is an approximate quantile sketch
and serves as our secondary oracle in tests).

Karnin–Lang–Liberty (FOCS'16) compactor hierarchy: level l holds items of
weight 2**l; when a level overflows its capacity ``k * c**(H-1-l)`` the level
is sorted and every other item is promoted to level l+1.  Rank error is
O(1/k) with high probability; we assert a conservative 3.0/k bound in tests.

Determinism: the even/odd compaction coin comes from a counter-based
splitmix64 stream stored in the state, so a given update sequence is fully
reproducible.  Merge is NOT bit-associative (compaction order differs) —
property tests assert rank-error bounds for every association instead
(SURVEY.md §5, "t-digest merge accuracy" note applies to KLL too).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from . import serde
from .hashing import splitmix64

DEFAULT_K = 200
_C = 2.0 / 3.0
_PARAMS = struct.Struct("<I")


@dataclass
class KllState:
    k: int
    compactors: list[np.ndarray] = field(default_factory=list)  # float64 arrays, level l → weight 2**l
    n: int = 0  # total item count (weighted)
    min_v: float = np.inf
    max_v: float = -np.inf
    coin: int = 0  # counter for the deterministic compaction coin

    def copy(self) -> "KllState":
        return KllState(self.k, [c.copy() for c in self.compactors], self.n, self.min_v, self.max_v, self.coin)


def create(k: int = DEFAULT_K) -> KllState:
    return KllState(k=k, compactors=[np.empty(0, dtype=np.float64)])


def _capacity(state: KllState, level: int) -> int:
    height = len(state.compactors)
    return max(2, int(np.ceil(state.k * _C ** (height - 1 - level))))


def _total_capacity(state: KllState) -> int:
    return sum(_capacity(state, lvl) for lvl in range(len(state.compactors)))


def _next_coin(state: KllState) -> int:
    state.coin += 1
    return int(splitmix64(np.array([state.coin], dtype=np.uint64))[0] & np.uint64(1))


def _compress(state: KllState) -> None:
    while sum(c.size for c in state.compactors) > _total_capacity(state):
        for lvl in range(len(state.compactors)):
            if state.compactors[lvl].size > _capacity(state, lvl):
                if lvl + 1 == len(state.compactors):
                    state.compactors.append(np.empty(0, dtype=np.float64))
                items = np.sort(state.compactors[lvl])
                offset = _next_coin(state)
                promoted = items[offset::2]
                state.compactors[lvl] = np.empty(0, dtype=np.float64)
                state.compactors[lvl + 1] = np.concatenate([state.compactors[lvl + 1], promoted])
                break
        else:  # no level overflows individually → done
            break


def update(state: KllState, values) -> KllState:
    arr = np.asarray(values, dtype=np.float64)
    arr = arr[~np.isnan(arr)]
    if arr.size == 0:
        return state
    state.min_v = min(state.min_v, float(arr.min()))
    state.max_v = max(state.max_v, float(arr.max()))
    state.n += arr.size
    # Feed level 0 in capacity-sized chunks so huge Arrow batches never blow
    # up a single compaction sort.
    cap0 = max(state.k, 2)
    for start in range(0, arr.size, cap0):
        state.compactors[0] = np.concatenate([state.compactors[0], arr[start : start + cap0]])
        _compress(state)
    return state


def merge(a: KllState, b: KllState) -> KllState:
    if a.k != b.k:
        raise serde.SketchFormatError(f"kll k mismatch: {a.k} vs {b.k}")
    out = a.copy()
    out.n += b.n
    out.min_v = min(out.min_v, b.min_v)
    out.max_v = max(out.max_v, b.max_v)
    out.coin = max(a.coin, b.coin) + 1
    while len(out.compactors) < len(b.compactors):
        out.compactors.append(np.empty(0, dtype=np.float64))
    for lvl, items in enumerate(b.compactors):
        if items.size:
            out.compactors[lvl] = np.concatenate([out.compactors[lvl], items])
    _compress(out)
    return out


def _weighted_items(state: KllState) -> tuple[np.ndarray, np.ndarray]:
    vals, weights = [], []
    for lvl, items in enumerate(state.compactors):
        if items.size:
            vals.append(items)
            weights.append(np.full(items.size, 1 << lvl, dtype=np.int64))
    if not vals:
        return np.empty(0), np.empty(0, dtype=np.int64)
    v = np.concatenate(vals)
    w = np.concatenate(weights)
    order = np.argsort(v, kind="stable")
    return v[order], w[order]


def quantile(state: KllState, q) -> np.ndarray:
    """Vectorized quantile estimates for q in [0,1] (scalar or array)."""
    qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
    v, w = _weighted_items(state)
    if v.size == 0:
        return np.full(qs.shape, np.nan)
    cum = np.cumsum(w)
    targets = np.clip(qs, 0.0, 1.0) * cum[-1]
    idx = np.searchsorted(cum, targets, side="left").clip(max=v.size - 1)
    out = v[idx]
    out = np.where(qs <= 0.0, state.min_v, out)
    out = np.where(qs >= 1.0, state.max_v, out)
    return out if np.ndim(q) else out  # always ndarray for vectorized use


def rank(state: KllState, values) -> np.ndarray:
    """Estimated normalized rank of each value."""
    xs = np.atleast_1d(np.asarray(values, dtype=np.float64))
    v, w = _weighted_items(state)
    if v.size == 0:
        return np.full(xs.shape, np.nan)
    cum = np.concatenate([[0], np.cumsum(w)])
    idx = np.searchsorted(v, xs, side="right")
    return cum[idx] / cum[-1]


def error_bound(state: KllState) -> float:
    """Conservative high-probability normalized rank error."""
    return 3.0 / state.k


def serialize(state: KllState) -> bytes:
    params = _PARAMS.pack(state.k)
    head = struct.pack("<qddqI", state.n, state.min_v, state.max_v, state.coin, len(state.compactors))
    parts = [head]
    for items in state.compactors:
        parts.append(struct.pack("<I", items.size))
        parts.append(items.astype("<f8").tobytes())
    return serde.pack_header(serde.KIND_KLL, params) + b"".join(parts)


def deserialize(payload: bytes) -> KllState:
    _, params, body = serde.unpack(payload, serde.KIND_KLL)
    (k,) = _PARAMS.unpack(params)
    n, min_v, max_v, coin, nlevels = struct.unpack_from("<qddqI", body, 0)
    off = struct.calcsize("<qddqI")
    compactors = []
    for level in range(nlevels):
        if off + 4 > len(body):
            raise serde.SketchFormatError("kll body truncated (level header)")
        (sz,) = struct.unpack_from("<I", body, off)
        off += 4
        items = np.frombuffer(body[off : off + 8 * sz], dtype="<f8").astype(np.float64)
        if items.size != sz:
            raise serde.SketchFormatError("kll body truncated (compactor items)")
        if np.isnan(items).any():  # update filters NaN; a stored NaN is bit-rot
            raise serde.SketchFormatError("kll compactor corrupt (NaN item)")
        compactors.append(items)
        off += 8 * sz
    if off != len(body):
        raise serde.SketchFormatError("kll body has trailing bytes")
    if n < 0 or np.isnan(min_v) or np.isnan(max_v):
        raise serde.SketchFormatError("kll summary stats corrupt")
    return KllState(k, compactors, n, min_v, max_v, coin)
