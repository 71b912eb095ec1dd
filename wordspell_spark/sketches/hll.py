"""Mergeable HyperLogLog kernel (pure numpy, vectorized).

Answers distinct-token cardinality per source (BASELINE.json north_star) —
the sketch analogue of the reference's exact sizing pre-pass
(/root/reference/components/index/service.go:122-138) and a drop-in for
Spark's ``approx_count_distinct`` (which we use as a secondary oracle in
tests).

Standard Flajolet–Furet–Gandouet–Meunier HLL with 64-bit hashing:
m = 2**p registers; register j keeps the max leading-zero-rank of hashes
routed to it.  Relative standard error ≈ 1.04 / sqrt(m) — the published
bound the driver's north_star checks.  Merge = elementwise max (idempotent,
commutative, associative — bit-exact property tests).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from . import serde
from .hashing import unique_hashes

DEFAULT_P = 14  # m = 16384 registers → RSE ≈ 0.81%

_U64 = np.uint64
_PARAMS = struct.Struct("<B")


@dataclass
class HllState:
    p: int
    registers: np.ndarray  # uint8, length 2**p

    @property
    def m(self) -> int:
        return 1 << self.p

    def copy(self) -> "HllState":
        return HllState(self.p, self.registers.copy())


def create(p: int = DEFAULT_P) -> HllState:
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    return HllState(p, np.zeros(1 << p, dtype=np.uint8))


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for u64 (binary search, 6 steps).

    Avoids float log2 which is inexact above 2**53.
    """
    x = x.astype(_U64, copy=True)
    n = np.full(x.shape, 64, dtype=np.int64)
    shift = 32
    while shift:
        s = _U64(shift)
        big = (x >> s) != 0
        n = np.where(big, n - shift, n)
        x = np.where(big, x >> s, x)
        shift >>= 1
    return np.where(x != 0, n - 1, n)  # n-1 accounts for the last set bit


def update(state: HllState, values) -> HllState:
    return update_unique_hashes(state, *unique_hashes(values))


def update_unique_hashes(state: HllState, uh: np.ndarray, counts: np.ndarray | None = None) -> HllState:
    """Update from ``unique_hashes`` output: ``hash64`` keys of the distinct
    values (a 64-bit collision can repeat a key; register max is idempotent,
    so a repeat is harmless).  ``counts`` is ignored for the same reason;
    the clz / bincount passes run on the distinct set only."""
    if uh.size == 0:
        return state
    h = uh.astype(_U64, copy=False)
    p = _U64(state.p)
    idx = (h >> (_U64(64) - p)).astype(np.int64)
    w = h << p  # remaining 64-p bits, left-aligned
    rank = (_clz64(w) + 1).clip(max=64 - state.p + 1).astype(np.int64)
    # grouped max via one bincount over (register, rank) cells — np.maximum.at
    # is a slow generic ufunc.at; rank <= 64-p+1 keeps the table tiny
    max_rank = 64 - state.p + 1
    cells = np.bincount(idx * (max_rank + 1) + rank, minlength=(1 << state.p) * (max_rank + 1))
    table = cells.reshape(1 << state.p, max_rank + 1) > 0
    batch_max = (max_rank - np.argmax(table[:, ::-1], axis=1)).astype(np.uint8)
    batch_max[~table.any(axis=1)] = 0
    np.maximum(state.registers, batch_max, out=state.registers)
    return state


def merge(a: HllState, b: HllState) -> HllState:
    if a.p != b.p:
        raise serde.SketchFormatError(f"hll precision mismatch: {a.p} vs {b.p}")
    return HllState(a.p, np.maximum(a.registers, b.registers))


def estimate(state: HllState) -> float:
    """Cardinality estimate with small-range correction (linear counting)."""
    m = state.m
    regs = state.registers.astype(np.float64)
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    raw = alpha * m * m / np.sum(np.exp2(-regs))
    zeros = int(np.count_nonzero(state.registers == 0))
    if raw <= 2.5 * m and zeros > 0:
        return m * np.log(m / zeros)  # linear counting
    return float(raw)


def rse(state: HllState) -> float:
    """Published relative standard error bound 1.04 / sqrt(m)."""
    return 1.04 / (state.m ** 0.5)


def _sparse_form(m: int, n_set: int) -> bool:
    """Whether serialize writes ``m`` registers, ``n_set`` nonzero, sparse."""
    return 4 * n_set + 4 < m


def serialize(state: HllState) -> bytes:
    """Dense registers, or the sparse nonzero registers as ``idx << 6 |
    rank`` words (rank <= 64-p+1 <= 61 fits 6 bits; p <= 18 keeps idx in
    26 bits) whenever ``4*nonzero + 4 < m``.  Why: at high-cardinality
    group keys the partial-payload shuffle carries |partitions| x |groups|
    payloads, and a group seen a handful of times per partition pays the
    full 2^p dense bytes for a few set registers — sparse cuts that
    ~30-200x."""
    regs = state.registers
    if _sparse_form(regs.size, int(np.count_nonzero(regs))):  # cheap gate: no index materialization
        nz = np.flatnonzero(regs)
        packed = (nz.astype(np.uint32) << np.uint32(6)) | regs[nz].astype(np.uint32)
        body = serde.pack_sparse(packed)
        return serde.pack_header(serde.KIND_HLL, _PARAMS.pack(state.p), serde.FLAG_SPARSE) + body
    return serde.pack_header(serde.KIND_HLL, _PARAMS.pack(state.p)) + regs.tobytes()


def deserialize(payload: bytes) -> HllState:
    flags, (p,), body = serde.unpack(payload, serde.KIND_HLL, _PARAMS, serde.FLAG_SPARSE)
    if not 4 <= p <= 18:  # same bounds as create(); an empty sparse body
        raise serde.SketchFormatError(f"hll p out of range: {p}")  # would allocate 2^p
    if flags & serde.FLAG_SPARSE:
        packed, _ = serde.unpack_sparse(body)
        idx = serde.sparse_indices(packed >> np.uint32(6), 1 << p, "hll")
        ranks = (packed & np.uint32(0x3F)).astype(np.uint8)
        if (ranks == 0).any() or (ranks > 64 - p + 1).any():
            raise serde.SketchFormatError("sparse hll rank out of range")
        regs = np.zeros(1 << p, dtype=np.uint8)
        regs[idx] = ranks
    else:
        regs = body.array(np.uint8, 1 << p).copy()
    body.end()
    serde.check_form(flags, _sparse_form(regs.size, int(np.count_nonzero(regs))), "hll")
    return HllState(p, regs)
