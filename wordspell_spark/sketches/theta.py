"""Mergeable Theta/KMV sketch kernel (pure numpy, vectorized).

Distinct-count with SET EXPRESSIONS: where HLL (hll.py) answers only
cardinality, a theta sketch retains the k smallest 64-bit hash values, so
union / intersection / difference cardinalities are estimable across
sketches built independently — "how many distinct tokens do the web and
wiki sources share?" is one line against per-source payloads.  This extends
the reference's per-source distinct sizing pass
(/root/reference/components/index/service.go:122-138) the same way hll.py
does, but keeps enough state for set algebra (Beyer et al., "On Synopses
for Distinct-Value Estimation Under Multiset Operations", SIGMOD'07).

State: the ``min(k, n_distinct)`` smallest distinct ``hash64`` values,
sorted ascending.  Exact mode while fewer than k are retained (estimate is
exact); at k the sketch becomes estimating with

    theta    = hashes[k-1]                    (the k-th smallest, exclusive)
    estimate = (k-1) * 2^64 / theta           RSE <= 1 / sqrt(k - 2)

Merge = k-smallest-of-union — bit-exactly associative, commutative and
idempotent (property-tested), unlike DataSketches' theta union whose theta
depends on merge order.  Set-expression estimates restrict both operands to
hashes below ``min(theta_a, theta_b)``, where retained-membership equals
true-set membership, so mixed exact/estimating operands stay unbiased.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from . import serde
from .hashing import kmv_estimate, kmv_rse, unique_hashes

DEFAULT_K = 4096  # RSE = 1/sqrt(k-2) ~ 1.56%

_U64 = np.uint64
_FULL_SCALE = 2.0**64
_PARAMS = struct.Struct("<I")


@dataclass
class ThetaState:
    k: int
    hashes: np.ndarray  # uint64, sorted ascending, distinct, len <= k

    def copy(self) -> "ThetaState":
        return ThetaState(self.k, self.hashes.copy())


def create(k: int = DEFAULT_K) -> ThetaState:
    if not 16 <= k <= (1 << 22):
        raise ValueError(f"k must be in [16, 2^22], got {k}")
    return ThetaState(k, np.empty(0, dtype=_U64))


def is_exact(state: ThetaState) -> bool:
    return state.hashes.size < state.k


def _theta(state: ThetaState) -> float:
    """Exclusive hash-space threshold as a float in (0, 2^64]."""
    if is_exact(state):
        return _FULL_SCALE
    return float(state.hashes[-1])


def _retained(state: ThetaState) -> np.ndarray:
    """Hashes strictly below theta (all of them in exact mode)."""
    if is_exact(state):
        return state.hashes
    return state.hashes[:-1]


def update(state: ThetaState, values) -> ThetaState:
    return update_unique_hashes(state, *unique_hashes(values))


def update_unique_hashes(state: ThetaState, uh: np.ndarray, counts: np.ndarray | None = None) -> ThetaState:
    """Update from ``unique_hashes`` output: ``hash64`` keys of the distinct
    values (a 64-bit collision can repeat a key; retention is idempotent,
    so a repeat is harmless).  ``counts`` is ignored for the same reason."""
    if uh.size == 0:
        return state
    h = uh.astype(_U64, copy=False)
    if not is_exact(state):
        # only candidates below the current k-th smallest can enter
        h = h[h < state.hashes[-1]]
        if h.size == 0:
            return state
    # union1d = unique(concatenate) — dedupes against the existing state too
    merged = np.union1d(state.hashes, h)
    state.hashes = merged[: state.k]
    return state


def merge(a: ThetaState, b: ThetaState) -> ThetaState:
    if a.k != b.k:
        raise serde.SketchFormatError(f"theta k mismatch: {a.k} vs {b.k}")
    return ThetaState(a.k, np.union1d(a.hashes, b.hashes)[: a.k])


def estimate(state: ThetaState) -> float:
    """Distinct-count estimate; exact while fewer than k hashes retained
    (the shared KMV estimator, hashing.py — also used by sample.py)."""
    return kmv_estimate(state.hashes, state.k)


def rse(state: ThetaState) -> float:
    """Published relative standard error bound 1/sqrt(k-2); 0 in exact mode."""
    return kmv_rse(state.hashes, state.k)


def union_estimate(a: ThetaState, b: ThetaState) -> float:
    return estimate(merge(a, b))


def _below_common_theta(a: ThetaState, b: ThetaState) -> tuple[np.ndarray, np.ndarray, float]:
    t = min(_theta(a), _theta(b))
    ra, rb = _retained(a), _retained(b)
    if t < _FULL_SCALE:
        # retained arrays are sorted — slice with searchsorted, no mask pass
        ra = ra[: np.searchsorted(ra, t)]
        rb = rb[: np.searchsorted(rb, t)]
    return ra, rb, t


def intersect_estimate(a: ThetaState, b: ThetaState) -> float:
    """|A ∩ B| estimate.  Below ``min(theta_a, theta_b)`` retention equals
    true membership, so the scaled overlap count is unbiased; exact when
    both operands are exact."""
    if a.k != b.k:
        raise serde.SketchFormatError(f"theta k mismatch: {a.k} vs {b.k}")
    ra, rb, t = _below_common_theta(a, b)
    n = np.intersect1d(ra, rb, assume_unique=True).size
    return n * _FULL_SCALE / t


def difference_estimate(a: ThetaState, b: ThetaState) -> float:
    """|A \\ B| estimate (same common-theta restriction as intersect)."""
    if a.k != b.k:
        raise serde.SketchFormatError(f"theta k mismatch: {a.k} vs {b.k}")
    ra, rb, t = _below_common_theta(a, b)
    n = np.setdiff1d(ra, rb, assume_unique=True).size
    return n * _FULL_SCALE / t


def jaccard_estimate(a: ThetaState, b: ThetaState) -> float:
    """J(A,B) from the common-theta sample (0.0 for two empty sketches)."""
    if a.k != b.k:
        raise serde.SketchFormatError(f"theta k mismatch: {a.k} vs {b.k}")
    ra, rb, _ = _below_common_theta(a, b)
    inter = np.intersect1d(ra, rb, assume_unique=True).size
    union = ra.size + rb.size - inter
    return inter / union if union else 0.0


def serialize(state: ThetaState) -> bytes:
    head = struct.pack("<Q", state.hashes.size)
    body = np.ascontiguousarray(state.hashes, dtype="<u8").tobytes()
    return serde.pack_header(serde.KIND_THETA, _PARAMS.pack(state.k)) + head + body


def deserialize(payload: bytes) -> ThetaState:
    _, params, body = serde.unpack(payload, serde.KIND_THETA)
    (k,) = _PARAMS.unpack(params)
    if not 16 <= k <= (1 << 22):  # same bounds as create(); corrupt k would
        raise serde.SketchFormatError(f"theta k out of range: {k}")  # crash later
    if len(body) < 8:
        raise serde.SketchFormatError("theta body too short")
    (n,) = struct.unpack_from("<Q", body, 0)
    hashes = np.frombuffer(body[8:], dtype="<u8").astype(_U64)
    if hashes.size != n:
        raise serde.SketchFormatError("theta body size mismatch")
    if hashes.size > k:
        raise serde.SketchFormatError("theta body holds more than k hashes")
    if hashes.size > 1 and not (hashes[1:] > hashes[:-1]).all():
        raise serde.SketchFormatError("theta hashes not strictly ascending")
    return ThetaState(k, hashes)
