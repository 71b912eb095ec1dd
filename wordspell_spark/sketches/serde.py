"""Versioned little-endian wire format for sketch payloads — the one spec.

The reference persists its Bloom filter with Go's ``gob``
(components/bloomfilter/component.go:97-138) — opaque and Go-only.  We use an
explicit, documented little-endian layout instead so payloads are portable and
byte-stable across Python/numpy versions (SURVEY.md §7 "serialization
discipline").  Every rule below is written out once, here; the kernels call
these helpers and add only their own geometry caps and value checks.

Header (12 bytes), then the params block, then the kind-specific body:

    magic   : 4 bytes  b"WSPK"
    version : u8       format version (bump on any layout/hash change)
    kind    : u8       sketch kind id (see KIND_*); any other id is rejected
    flags   : u16      FLAG_SPARSE or 0; a reader rejects bits it does not know
    plen    : u32      length of the params block

Params and body per kind (all little-endian):

    bloom    params m_bits u64, k u32   body packed bits, LSB-first, m/8 bytes
                                        | sparse: set-bit indices
    hll      params p u8                body 2^p u8 registers
                                        | sparse: words ``idx << 6 | rank``
    cms      params width u32, depth u32 body total i64, depth*width i64 cells
                                        | sparse: prefix total i64, flat cell
                                          indices row*width+col, i64 values
    kll      params k u32               body n i64, min f64, max f64, coin i64,
                                        levels u32, per level (u32 count,
                                        count f64 items)
    tdigest  params delta f64           body n f64, min f64, max f64, c u32,
                                        c f64 means, c f64 weights
    theta    params k u32               body n u64, n ascending u64 hashes
    freq     params k u32               body n i64, dec i64, count u32, vtype u8,
                                        item block, count i64 counters
    sample   params k u32               body count u32, vtype u8, count
                                        ascending u64 hashes, item block

Sparse body (``pack_sparse``; only with FLAG_SPARSE):

    [prefix] | count u32 | count ascending u32 words | [count i64 values]

Item block (``pack_items``; freq and sample, vtype in the kernel's head):

    vtype 0 (int): count i64 items
    vtype 1 (str): count u32 UTF-8 byte lengths, then the concatenated bytes

``merge`` MUST reject payloads whose (version, kind, params) differ — the
analogue of the reference fixing filter geometry up front via ``Reset(size)``
(components/bloomfilter/component.go:60-68).
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"WSPK"
VERSION = 1

KIND_BLOOM = 1
KIND_HLL = 2
KIND_CMS = 3
KIND_KLL = 4
KIND_TDIGEST = 5
KIND_THETA = 6
KIND_FREQ = 7
KIND_SAMPLE = 8

KIND_NAMES = {
    KIND_BLOOM: "bloom",
    KIND_HLL: "hll",
    KIND_CMS: "cms",
    KIND_KLL: "kll",
    KIND_TDIGEST: "tdigest",
    KIND_THETA: "theta",
    KIND_FREQ: "freq",
    KIND_SAMPLE: "sample",
}

_HEADER = struct.Struct("<4sBBHI")
_COUNT = struct.Struct("<I")

FLAG_SPARSE = 0x0001  # kind-specific compact body for nearly-empty sketches

_ITEM_INT = 0
_ITEM_STR = 1


class SketchFormatError(ValueError):
    pass


def pack_header(kind: int, params: bytes, flags: int = 0) -> bytes:
    return _HEADER.pack(MAGIC, VERSION, kind, flags, len(params)) + params


def unpack_header_full(
    payload: bytes | bytearray | memoryview,
) -> tuple[int, int, bytes, memoryview]:
    """Return (kind, flags, params_bytes, body_memoryview)."""
    buf = memoryview(payload)
    if len(buf) < _HEADER.size:
        raise SketchFormatError(f"payload too short: {len(buf)} bytes")
    magic, version, kind, flags, plen = _HEADER.unpack_from(buf, 0)
    if magic != MAGIC:
        raise SketchFormatError(f"bad magic {magic!r}")
    if version != VERSION:
        raise SketchFormatError(f"unsupported version {version}")
    off = _HEADER.size
    params = bytes(buf[off : off + plen])
    return kind, flags, params, buf[off + plen :]


def unpack(
    payload: bytes | bytearray | memoryview, kind: int, flags_ok: int = 0
) -> tuple[int, bytes, memoryview]:
    """Return (flags, params, body) of a ``kind`` payload.  Any other kind,
    or a flag bit outside ``flags_ok``, raises: a reader that predates a
    flag must not misparse the body it marks."""
    got, flags, params, body = unpack_header_full(payload)
    name = KIND_NAMES[kind]
    if got != kind:
        raise SketchFormatError(f"not a {name} payload (kind={got})")
    if flags & ~flags_ok:
        raise SketchFormatError(f"unknown {name} flags 0x{flags:04x}")
    return flags, params, body


def peek_kind(payload: bytes) -> str:
    """The kind name in the payload header; an unknown kind id raises."""
    kind, _, _, _ = unpack_header_full(payload)
    if kind not in KIND_NAMES:
        raise SketchFormatError(f"unknown sketch kind {kind}")
    return KIND_NAMES[kind]


def pack_sparse(words: np.ndarray, values: np.ndarray | None = None, prefix: bytes = b"") -> bytes:
    """Sparse body: ``prefix``, u32 count, the u32 ``words``, then the i64
    ``values`` (one per word) if given."""
    body = prefix + _COUNT.pack(words.size) + np.ascontiguousarray(words, dtype="<u4").tobytes()
    if values is not None:
        body += np.ascontiguousarray(values, dtype="<i8").tobytes()
    return body


def unpack_sparse(
    body: memoryview, what: str, prefix: int = 0, values: bool = False
) -> tuple[memoryview, np.ndarray, np.ndarray | None]:
    """Split a sparse body into (prefix bytes, u32 words, i64 values or None),
    checking that the count matches the body size."""
    head = prefix + _COUNT.size
    stride = 12 if values else 4
    if len(body) < head or (len(body) - head) % stride:
        raise SketchFormatError(f"sparse {what} body size mismatch")
    (n,) = _COUNT.unpack_from(body, prefix)
    end = head + 4 * n if values else len(body)
    words = np.frombuffer(body[head:end], dtype="<u4")
    vals = np.frombuffer(body[end:], dtype="<i8") if values else None
    if words.size != n or (values and vals.size != n):
        raise SketchFormatError(f"sparse {what} body size mismatch")
    return body[:prefix], words, vals


def sparse_indices(idx: np.ndarray, size: int, what: str) -> np.ndarray:
    """``idx`` as int64, checked strictly ascending and below ``size`` — a
    repeated or out-of-range index would silently drop or misplace a cell."""
    idx = idx.astype(np.int64)
    if idx.size and (idx[-1] >= size or (np.diff(idx) <= 0).any()):
        raise SketchFormatError(f"sparse {what} indices not ascending in range")
    return idx


def pack_items(items: list, what: str) -> tuple[int, bytes]:
    """(vtype, item block) for a homogeneous list of ints or strs."""
    vtype = _ITEM_STR if items and isinstance(items[0], str) else _ITEM_INT
    if any(isinstance(it, str) != (vtype == _ITEM_STR) for it in items):
        raise SketchFormatError(f"{what} sketch holds mixed int/str items")
    if vtype == _ITEM_INT:
        return vtype, np.array(items, dtype="<i8").tobytes()
    blobs = [it.encode("utf-8") for it in items]
    return vtype, np.array([len(b) for b in blobs], dtype="<u4").tobytes() + b"".join(blobs)


def unpack_items(body: memoryview, off: int, n: int, vtype: int, what: str) -> tuple[list, int]:
    """Read ``n`` items of ``vtype`` at ``body[off:]``; return (items, end)."""
    if vtype == _ITEM_INT:
        if len(body) < off + 8 * n:
            raise SketchFormatError(f"{what} body size mismatch")
        vals = np.frombuffer(body[off : off + 8 * n], dtype="<i8")
        return [int(v) for v in vals], off + 8 * n
    if vtype != _ITEM_STR:
        raise SketchFormatError(f"unknown {what} value type {vtype}")
    lens = np.frombuffer(body[off : off + 4 * n], dtype="<u4")
    off += 4 * n
    end = off + int(lens.sum())
    if lens.size != n or len(body) < end:
        raise SketchFormatError(f"{what} body size mismatch")
    blob = bytes(body[off:end])
    items, pos = [], 0
    try:
        for ln in lens.tolist():
            items.append(blob[pos : pos + ln].decode("utf-8"))
            pos += ln
    except UnicodeDecodeError as e:
        raise SketchFormatError(f"{what} item is not UTF-8") from e
    return items, end
