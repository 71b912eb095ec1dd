"""Mergeable count-min sketch kernel (pure numpy, vectorized).

Answers heavy-hitter token frequencies (BASELINE.json north_star) — the
sketch analogue of the reference's exact word-frequency index
(/root/reference/components/index/builder.go:224-246) whose additive merge
(components/index/models.go:58-72) is exactly the CMS merge contract:
counter-wise sum.

Cormode–Muthukrishnan guarantees with width w = ceil(e/ε), depth d =
ceil(ln(1/δ)): estimate ≥ true count, and ≤ true + ε·N with probability
1 − δ (N = total added weight).  Conservative update is deliberately NOT
used — it breaks merge linearity, and mergeability is the whole point here.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from . import serde
from .hashing import double_hash, splitmix64, unique_hashes

_U64 = np.uint64
_PARAMS = struct.Struct("<II")  # width, depth
_TOTAL = struct.Struct("<q")  # total added weight, first in either body
_MAX_SPARSE_CELLS = 1 << 24  # sparse wire form up to here: 128 MB of cells (see serialize)

DEFAULT_EPS = 1e-4
DEFAULT_DELTA = 1e-3


def dims_for(eps: float = DEFAULT_EPS, delta: float = DEFAULT_DELTA) -> tuple[int, int]:
    width = int(math.ceil(math.e / eps))
    depth = int(math.ceil(math.log(1.0 / delta)))
    return width, max(1, depth)


@dataclass
class CmsState:
    width: int
    depth: int
    counts: np.ndarray  # int64 (depth, width)
    total: int  # total added weight N (for the ε·N bound)

    def copy(self) -> "CmsState":
        return CmsState(self.width, self.depth, self.counts.copy(), self.total)


def create(eps: float = DEFAULT_EPS, delta: float = DEFAULT_DELTA, *, width: int | None = None, depth: int | None = None) -> CmsState:
    if width is None or depth is None:
        width, depth = dims_for(eps, delta)
    return CmsState(width, depth, np.zeros((depth, width), dtype=np.int64), 0)


def _row_idx(h1: np.ndarray, h2: np.ndarray, d: int, width: int) -> np.ndarray:
    """Bucket indices for depth row d — computed per row to avoid
    materializing the (depth, n) matrix (a 100s-of-MB transient on
    10M-value Arrow batches, which dominated the update profile)."""
    return ((h1 + _U64(d) * h2) % _U64(width)).astype(np.int64)


def update(state: CmsState, values) -> CmsState:
    return update_unique_hashes(state, *unique_hashes(values))


def update_unique_hashes(state: CmsState, uh: np.ndarray, counts: np.ndarray) -> CmsState:
    """Update from ``unique_hashes`` output: ``uh`` are the ``hash64`` keys
    of the batch's distinct values, ``counts`` their multiplicities.  A
    64-bit collision between two distinct values repeats a key; both
    counts then add, as they do when every value is hashed.

    Table-identical to hashing every value: every bucket index derives
    from (h1, h2 = splitmix64(h1)|1), and the weighted bincount adds exactly
    the per-key occurrence totals one-by-one counting would.  The bincounts
    run over the distinct set only — on Zipfian token batches that is 4-15x
    fewer index rows per depth.  bincount's float64 sums stay exact
    because the counts are integral and far below 2^53."""
    n = uh.size
    if n == 0:
        return state
    h1 = uh.astype(_U64, copy=False)
    h2 = splitmix64(h1) | _U64(1)
    w = np.asarray(counts, dtype=np.int64)
    for d in range(state.depth):
        idx = _row_idx(h1, h2, d, state.width)
        state.counts[d] += np.bincount(idx, weights=w, minlength=state.width).astype(np.int64)
    state.total += int(w.sum())
    return state


def query(state: CmsState, values) -> np.ndarray:
    """Vectorized point estimates: min over depth rows (never undercounts)."""
    h1, h2 = double_hash(values)
    if h1.size == 0:
        return np.empty(0, dtype=np.int64)
    est = state.counts[0][_row_idx(h1, h2, 0, state.width)]
    for d in range(1, state.depth):
        est = np.minimum(est, state.counts[d][_row_idx(h1, h2, d, state.width)])
    return est


def merge(a: CmsState, b: CmsState) -> CmsState:
    if (a.width, a.depth) != (b.width, b.depth):
        raise serde.SketchFormatError(f"cms dims mismatch: ({a.width},{a.depth}) vs ({b.width},{b.depth})")
    return CmsState(a.width, a.depth, a.counts + b.counts, a.total + b.total)


def error_bound(state: CmsState) -> float:
    """ε·N additive overcount bound with probability ≥ 1-δ."""
    return (math.e / state.width) * state.total


def _sparse_form(cells: int, n_set: int) -> bool:
    """Whether serialize writes ``cells`` counters, ``n_set`` nonzero, sparse."""
    return cells <= _MAX_SPARSE_CELLS and 12 * n_set + 12 < 8 * cells


def serialize(state: CmsState) -> bytes:
    """Dense cells, or the sparse nonzero cells whenever ``12*nonzero + 12
    < 8*cells``.  A (partition, group) partial that saw d distinct keys
    touches at most depth*d of the depth*width cells, so nearly-empty
    partials shrink ~width/d-fold on the shuffle."""
    params = _PARAMS.pack(state.width, state.depth)
    total = _TOTAL.pack(state.total)
    flat = state.counts.reshape(-1)
    # cheap gate first; the cap mirrors bloom's: corrupt sparse payloads
    # cannot force a giant allocation, and serialize applies the same cap
    # so every emitted payload round-trips
    if _sparse_form(flat.size, int(np.count_nonzero(flat))):
        nz = np.flatnonzero(flat)
        return serde.pack_header(serde.KIND_CMS, params, serde.FLAG_SPARSE) + total + serde.pack_sparse(nz, flat[nz])
    return serde.pack_header(serde.KIND_CMS, params) + total + state.counts.astype("<i8").tobytes()


def deserialize(payload: bytes) -> CmsState:
    flags, (width, depth), body = serde.unpack(payload, serde.KIND_CMS, _PARAMS, serde.FLAG_SPARSE)
    cells = depth * width
    (total,) = body.read(_TOTAL)
    if flags & serde.FLAG_SPARSE:
        if cells > _MAX_SPARSE_CELLS:
            raise serde.SketchFormatError(f"sparse cms cells={cells} above cap {_MAX_SPARSE_CELLS}")
        words, vals = serde.unpack_sparse(body, values=True)
        idx = serde.sparse_indices(words, cells, "cms")
        if (vals == 0).any():  # serialize drops zero cells
            raise serde.SketchFormatError("sparse cms holds a zero cell")
        flat = np.zeros(cells, dtype=np.int64)
        flat[idx] = vals
    else:
        flat = body.array("<i8", cells).astype(np.int64)
    body.end()
    serde.check_form(flags, _sparse_form(cells, int(np.count_nonzero(flat))), "cms")
    return CmsState(width, depth, flat.reshape(depth, width), total)
