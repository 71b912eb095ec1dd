"""Mergeable Bloom filter kernel (pure numpy, vectorized).

Reproduces the semantics of the reference's Bloom component
(/root/reference/components/bloomfilter/component.go:44-138): sized from an
element-count estimate and a target false-positive rate (``NewWithEstimates``,
component.go:52), Add/Test with zero false negatives, byte-blob persistence.
Default FPR mirrors the reference's 0.005 (component.go:16); builder examples
use 0.01 (examples/indexbuilder/main.go:20).

Differences by design (Spark-first, SURVEY.md §2.11):

* batch-vectorized ``update`` over numpy arrays, not per-element ``Add``;
* ``merge`` = bitwise OR of bit arrays with identical geometry — the UDAF
  merge contract (SURVEY.md §2.9 U3);
* explicit versioned little-endian payload instead of Go gob.

State layout: ``m`` bits kept as a boolean array in memory (scatter-fast
updates — the build path sets ~k bits per element per Arrow batch, and
pack/unpack per update would dominate), packed to little-endian u64 words
only at the serde boundary.  ``k`` hash functions via Kirsch–Mitzenmacher
double hashing (hashing.py).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from . import serde
from .hashing import double_hash, splitmix64, unique_hashes

DEFAULT_FPR = 0.005  # reference default, component.go:16

_U64 = np.uint64
_PARAMS = struct.Struct("<QI")  # m_bits, k
_MAX_SPARSE_M = 1 << 27  # sparse wire form up to here: 128 MB of bits (see serialize)


def optimal_m_k(n: int, p: float) -> tuple[int, int]:
    """Optimal bit count / hash count for n elements at FPR p.

    Same formulas bits-and-blooms uses under ``NewWithEstimates``.
    """
    n = max(1, int(n))
    m = max(64, int(math.ceil(-n * math.log(p) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64  # whole u64 words
    k = max(1, round((m / n) * math.log(2)))
    return m, k


@dataclass
class BloomState:
    m: int  # number of bits
    k: int  # number of hash functions
    bits: np.ndarray  # bool array, length m (packed to u64 words on serialize)

    def copy(self) -> "BloomState":
        return BloomState(self.m, self.k, self.bits.copy())


def create(n_estimate: int = 1_000_000, fpr: float = DEFAULT_FPR, *, m: int | None = None, k: int | None = None) -> BloomState:
    if m is None or k is None:
        m, k = optimal_m_k(n_estimate, fpr)
    return BloomState(m, k, np.zeros(m, dtype=bool))


def _set_bits(state: BloomState, h1: np.ndarray, h2: np.ndarray) -> None:
    if h1.size == 0:
        return
    m = _U64(state.m)
    for i in range(state.k):
        idx = (h1 + _U64(i) * h2) % m
        state.bits[idx.astype(np.int64)] = True


def _test_bits(state: BloomState, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    if h1.size == 0:
        return np.empty(0, dtype=bool)
    m = _U64(state.m)
    out = np.ones(h1.shape, dtype=bool)
    for i in range(state.k):
        idx = (h1 + _U64(i) * h2) % m
        out &= state.bits[idx.astype(np.int64)]
    return out


def update(state: BloomState, values) -> BloomState:
    """Insert a batch of values (str / bytes / int / float array).

    Values are deduped before hashing — bit-setting is idempotent and
    Zipfian batches are mostly repeats, so this cuts the dominant hash +
    random-write cost by the batch's duplication factor."""
    return update_unique_hashes(state, *unique_hashes(values))


def update_hashes(state: BloomState, h1: np.ndarray) -> BloomState:
    """Insert pre-hashed 64-bit keys (e.g. row_hash_u32_matrix output).

    Repeated keys are not deduped: bit-setting is idempotent, so the
    filter is the same either way, and callers hand in near-distinct keys
    (``unique_hashes`` output, SymSpell deletion neighborhoods) for which
    an O(n log n) sort would be pure overhead."""
    h1 = h1.astype(_U64, copy=False)
    _set_bits(state, h1, splitmix64(h1) | _U64(1))
    return state


def update_unique_hashes(state: BloomState, uh: np.ndarray, counts: np.ndarray | None = None) -> BloomState:
    """Update from ``unique_hashes`` output: ``hash64`` keys of the distinct
    values (a 64-bit collision can repeat a key; bit-setting is idempotent,
    so a repeat is harmless).  ``counts`` is ignored for the same reason.
    Every probe index derives from h1, as in ``double_hash``."""
    return update_hashes(state, uh)


def contains(state: BloomState, values) -> np.ndarray:
    """Vectorized membership test — no false negatives, FPR-bounded positives.

    Parity: ``Test`` at components/bloomfilter/component.go:86-94.
    """
    h1, h2 = double_hash(values)
    return _test_bits(state, h1, h2)


def contains_hashes(state: BloomState, h1: np.ndarray) -> np.ndarray:
    h1 = h1.astype(_U64, copy=False)
    return _test_bits(state, h1, splitmix64(h1) | _U64(1))


def merge(a: BloomState, b: BloomState) -> BloomState:
    """Set-union of two filters — requires identical geometry."""
    if (a.m, a.k) != (b.m, b.k):
        raise serde.SketchFormatError(f"bloom geometry mismatch: ({a.m},{a.k}) vs ({b.m},{b.k})")
    return BloomState(a.m, a.k, a.bits | b.bits)


def _sparse_form(m: int, n_set: int) -> bool:
    """Whether serialize writes ``m`` bits, ``n_set`` of them set, sparse."""
    return m <= _MAX_SPARSE_M and 4 * n_set + 4 < m // 8


def serialize(state: BloomState) -> bytes:
    """Dense packed bits, or the sparse set-bit indices whenever
    ``4*set_bits + 4 < m/8`` (and m fits u32 indexing).  Why: the filter
    is sized once for the FULL expected element count (the reference's
    NewWithEstimates discipline), so a partial built from one partition's
    slice of one group carries a huge, almost-empty bit array — at
    n_estimate=200k that is ~430 KB dense per (partition, group) payload;
    a partition that saw 100 items serializes to ~5 KB sparse."""
    params = _PARAMS.pack(state.m, state.k)
    # cheap gate first (no index materialization on the dense/saturated
    # path); the _MAX_SPARSE_M cap bounds what a corrupt sparse payload can
    # force deserialize to allocate — serialize applies the same cap so
    # every emitted payload stays round-trippable
    if _sparse_form(state.m, int(np.count_nonzero(state.bits))):
        body = serde.pack_sparse(np.flatnonzero(state.bits))
        return serde.pack_header(serde.KIND_BLOOM, params, serde.FLAG_SPARSE) + body
    packed = np.packbits(state.bits, bitorder="little")  # LSB-first == old u64-word layout
    return serde.pack_header(serde.KIND_BLOOM, params) + packed.tobytes()


def deserialize(payload: bytes) -> BloomState:
    flags, (m, k), body = serde.unpack(payload, serde.KIND_BLOOM, _PARAMS, serde.FLAG_SPARSE)
    if flags & serde.FLAG_SPARSE:
        if m > _MAX_SPARSE_M:
            # a 30-byte corrupt payload must not force a giant allocation;
            # legit filters above the cap always serialize dense, where the
            # body-size cross-check rejects a lying header for free
            raise serde.SketchFormatError(f"sparse bloom m={m} above cap {_MAX_SPARSE_M}")
        words, _ = serde.unpack_sparse(body)
        bits = np.zeros(m, dtype=np.bool_)
        bits[serde.sparse_indices(words, m, "bloom")] = True
    else:
        bits = np.unpackbits(body.array(np.uint8, -(-m // 8)), bitorder="little").view(np.bool_)
        if bits[m:].any():  # packbits pads an m % 8 != 0 filter with zero bits
            raise serde.SketchFormatError("bloom padding bits set")
        bits = bits[:m]
    body.end()
    serde.check_form(flags, _sparse_form(m, int(np.count_nonzero(bits))), "bloom")
    return BloomState(m, k, bits)
