"""Sketch kernel registry — the uniform API the Spark harness drives.

Every kernel module implements (SURVEY.md §2.11, the generalization of the
reference's Bloom component Add/Test/Reset/Save/Load surface at
/root/reference/components/bloomfilter/component.go:44-138):

    create(**params) -> state
    update(state, values: np.ndarray) -> state          # batch, vectorized
    merge(a, b) -> state                                # associative-by-bound
    serialize(state) -> bytes                           # versioned LE payload
    deserialize(payload: bytes) -> state

plus kind-specific query functions (``contains``, ``estimate``, ``query``,
``quantile``).  ``SketchSpec`` captures (kind, params) so partial builders on
executors construct byte-compatible states, mirroring the reference fixing
filter geometry up front (component.go:60-68).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from . import bloom, cms, freq, hll, kll, sample, serde, tdigest, theta

_MODULES = {
    "bloom": bloom,
    "hll": hll,
    "cms": cms,
    "kll": kll,
    "tdigest": tdigest,
    "theta": theta,
    "freq": freq,
    "sample": sample,
}


@dataclass(frozen=True)
class SketchSpec:
    """Picklable description of a sketch family — shipped to executors."""

    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self):
        if self.kind not in _MODULES:
            raise ValueError(f"unknown sketch kind {self.kind!r}; know {sorted(_MODULES)}")

    @property
    def module(self):
        return _MODULES[self.kind]

    def create(self):
        return self.module.create(**self.params)

    def update(self, state, values):
        return self.module.update(state, values)

    def merge(self, a, b):
        return self.module.merge(a, b)

    def serialize(self, state) -> bytes:
        return self.module.serialize(state)

    def deserialize(self, payload: bytes):
        return self.module.deserialize(payload)

    def merge_payloads(self, payloads) -> bytes:
        """Fold serialized payloads into one — the UDAF merge contract."""
        it = iter(payloads)
        state = self.deserialize(next(it))
        for p in it:
            state = self.merge(state, self.deserialize(p))
        return self.serialize(state)


def module_for(kind: str):
    return _MODULES[kind]


def deserialize_any(payload: bytes):
    """Dispatch on the payload header → (kind_name, state)."""
    kind_id = serde.peek_kind(payload)
    name = serde.KIND_NAMES[kind_id]
    return name, _MODULES[name].deserialize(payload)


__all__ = [
    "SketchSpec",
    "bloom",
    "hll",
    "cms",
    "kll",
    "tdigest",
    "theta",
    "freq",
    "sample",
    "serde",
    "module_for",
    "deserialize_any",
]
