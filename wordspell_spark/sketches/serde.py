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

Reader rule: ``unpack`` requires the params block to be exactly the kind's
params size, and every body byte is read through one bounds-checked ``Body``
whose ``end`` rejects trailing bytes, so a corrupt payload raises
``SketchFormatError`` and nothing else.  One encoding per state: a reader
rejects every body its serializer never writes (the other dense/sparse form,
unsorted freq items, uncompressed t-digest centroids), so an accepted payload
re-serializes byte-identical.

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


class Body:
    """Bounds-checked cursor over a payload body: every read checks that
    its bytes are there before slicing them, and ``end`` requires that every
    byte was read, so a short or padded body is a ``SketchFormatError``."""

    def __init__(self, buf: memoryview, what: str):
        self.buf, self.off, self.what = buf, 0, what

    def read(self, fmt: struct.Struct) -> tuple:
        return fmt.unpack(self.array(np.uint8, fmt.size))

    def array(self, dtype, n: int) -> np.ndarray:
        """The next ``n`` items of ``dtype`` as a read-only array."""
        dt = np.dtype(dtype)
        end = self.off + dt.itemsize * n
        if end > len(self.buf):
            raise SketchFormatError(f"{self.what} body truncated: needs {end} bytes, has {len(self.buf)}")
        arr, self.off = np.frombuffer(self.buf[self.off : end], dtype=dt), end
        return arr

    def end(self) -> None:
        if self.off != len(self.buf):
            raise SketchFormatError(f"{self.what} body has {len(self.buf) - self.off} trailing bytes")


def unpack(
    payload: bytes | bytearray | memoryview, kind: int, params: struct.Struct, flags_ok: int = 0
) -> tuple[int, tuple, Body]:
    """Return (flags, params tuple, body cursor) of a ``kind`` payload.  Any
    other kind, a params block of other than ``params.size`` bytes, or a flag
    bit outside ``flags_ok`` (a reader must not misparse a body it marks) raises."""
    got, flags, block, body = unpack_header_full(payload)
    name = KIND_NAMES[kind]
    if got != kind:
        raise SketchFormatError(f"not a {name} payload (kind={got})")
    if flags & ~flags_ok:
        raise SketchFormatError(f"unknown {name} flags 0x{flags:04x}")
    if len(block) != params.size:
        raise SketchFormatError(f"{name} params block is {len(block)} bytes, not {params.size}")
    return flags, params.unpack(block), Body(body, name)


def check_form(flags: int, sparse: bool, what: str) -> None:
    """One encoding per state: ``sparse`` is the form serialize picks."""
    if bool(flags & FLAG_SPARSE) != sparse:
        raise SketchFormatError(f"{what} payload not in the form serialize picks for its state")


def peek_kind(payload: bytes) -> str:
    """The kind name in the payload header; an unknown kind id raises."""
    kind, _, _, _ = unpack_header_full(payload)
    if kind not in KIND_NAMES:
        raise SketchFormatError(f"unknown sketch kind {kind}")
    return KIND_NAMES[kind]


def pack_sparse(words: np.ndarray, values: np.ndarray | None = None) -> bytes:
    """Sparse body after the kernel's prefix: u32 count, the u32 ``words``,
    then the i64 ``values`` (one per word) if given."""
    body = _COUNT.pack(words.size) + np.ascontiguousarray(words, dtype="<u4").tobytes()
    if values is not None:
        body += np.ascontiguousarray(values, dtype="<i8").tobytes()
    return body


def unpack_sparse(body: Body, values: bool = False) -> tuple[np.ndarray, np.ndarray | None]:
    """Read what ``pack_sparse`` wrote: (u32 words, i64 values or None)."""
    (n,) = body.read(_COUNT)
    return body.array("<u4", n), body.array("<i8", n) if values else None


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


def unpack_items(body: Body, n: int, vtype: int) -> list:
    """Read ``n`` items of ``vtype`` from ``body``."""
    if vtype == _ITEM_INT:
        return body.array("<i8", n).tolist()
    if vtype != _ITEM_STR:
        raise SketchFormatError(f"unknown {body.what} value type {vtype}")
    lens = body.array("<u4", n)
    blob = body.array(np.uint8, int(lens.sum())).tobytes()
    items, pos = [], 0
    try:
        for ln in lens.tolist():
            items.append(blob[pos : pos + ln].decode("utf-8"))
            pos += ln
    except UnicodeDecodeError as e:
        raise SketchFormatError(f"{body.what} item is not UTF-8") from e
    return items
