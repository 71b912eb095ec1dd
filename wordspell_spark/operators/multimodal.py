"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct; decode / feature-extraction are Arrow-batched pandas
UDFs over ``mapInPandas``.

Decode is tiered (``_decode``):

1. **Real container parsing** — ``decode_image_header`` reads the actual
   bytes of PNG / JPEG / GIF / BMP / WEBP headers (pure ``struct``, no
   image libraries needed) and returns true (width, height, format).
   The PIXEL path is real for four containers (``decode_pixels``):
   PNG (``decode_png_pixels`` — stdlib zlib inflate + scanline unfilter,
   all 5 filters, every 8-bit color type), BMP (``decode_bmp_pixels`` —
   uncompressed 8/24/32-bit, both row orders), GIF
   (``decode_gif_frames`` — full stdlib LZW decode, multi-frame
   compositing; feeds ``sample_frames``), and baseline JPEG
   (``jpeg.decode_jpeg_pixels`` — pure-numpy Huffman entropy decode +
   dequantize + IDCT, grayscale and 4:4:4 color).  Pixels drive
   ``pixel_features`` statistics and nearest-neighbor ``resize_images``
   re-encoded via ``make_png``.
2. **PIL, feature-detected** — if Pillow is importable, unrecognized
   containers fall through to a full decoder (and ``resize_images``
   operates on real pixels).
3. **Deterministic fake** — synthetic payloads that are not images (e.g.
   the text-derived fixture corpus) get the clearly-marked md5-derived
   stand-in, so plumbing stays testable in codec-less containers.  Only
   lossy-VP8 WebP and 12-bit/arithmetic JPEG pixel decode stay behind
   this tier; WebP-lossless is REAL via ``operators/webp.py`` and both
   sequential and progressive Huffman JPEG (incl. subsampled chroma) via
   ``operators/jpeg.py``.

At 100 TB the rule is: never shuffle the binary column.  All derivations
here are row-local (mapInPandas, no groupBy touches ``payload``); any
downstream join moves only (doc_id, features).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 8

try:  # feature detection: Pillow is optional everywhere
    from PIL import Image as _PIL_Image  # pragma: no cover

    HAVE_PIL = True
except ImportError:
    _PIL_Image = None
    HAVE_PIL = False

METADATA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
        StructField("features", ArrayType(FloatType(), False)),
    ]
)


def attach_binary(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of the text as the payload.

    In production this column comes straight from the lakehouse scan
    (Parquet/Iceberg BINARY); the engine never re-encodes it.
    """
    return docs.select(F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("payload"))


def decode_image_header(payload: bytes) -> tuple[int, int, str] | None:
    """REAL image metadata decode from container bytes — no codec library.

    Parses the actual binary headers of the common web formats:

    * PNG  — IHDR chunk, big-endian u32 width/height at offset 16
    * JPEG — walks marker segments to the first SOF0/1/2 frame header
    * GIF  — logical screen descriptor, little-endian u16 at offset 6
    * BMP  — BITMAPINFOHEADER, little-endian i32 at offset 18
    * WEBP — RIFF container: VP8X canvas, VP8L stream bits, or VP8 frame tag

    Returns (width, height, format) or None if the payload is not a
    recognized image container.
    """
    n = len(payload)
    if n >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return w, h, "png"
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return w, h, "gif"
    if n >= 26 and payload[:2] == b"BM":
        hdr_size = struct.unpack("<I", payload[14:18])[0]
        if hdr_size >= 40:
            w, h = struct.unpack("<ii", payload[18:26])
            return w, abs(h), "bmp"  # negative height = top-down rows
    if n >= 16 and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        chunk = payload[12:16]
        if chunk == b"VP8X" and n >= 30:
            # 24-bit little-endian canvas size minus one, at offset 24
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return w, h, "webp"
        if chunk == b"VP8L" and n >= 25 and payload[20] == 0x2F:
            bits = int.from_bytes(payload[21:25], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "webp"
        if chunk == b"VP8 " and n >= 30 and payload[23:26] == b"\x9d\x01\x2a":
            w, h = struct.unpack("<HH", payload[26:30])
            return w & 0x3FFF, h & 0x3FFF, "webp"
    if n >= 4 and payload[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        while i + 9 < n:
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2 frame header
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return w, h, "jpeg"
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # no length field
                i += 2
                continue
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return None
    return None


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """STUB decode — deterministic fake for payloads that are NOT real image
    containers (the synthetic text-derived fixtures).  Clearly marked; real
    bytes never reach this (see ``_decode``).  DuckDB-reproducible: md5 of
    the payload bytes."""
    h = hashlib.md5(payload).hexdigest()
    width = int(h[:4], 16) % 1920 + 1
    height = int(h[4:8], 16) % 1080 + 1
    fmt = ["jpeg", "png", "webp"][int(h[8:10], 16) % 3]
    return width, height, fmt


def _decode(payload: bytes) -> tuple[int, int, str]:
    """Tiered decode: real header parse → PIL (if importable) → fake."""
    real = decode_image_header(payload)
    if real is not None:
        return real
    if HAVE_PIL:  # pragma: no cover — Pillow absent in the CI container
        import io

        try:
            with _PIL_Image.open(io.BytesIO(payload)) as im:
                return im.width, im.height, (im.format or "unknown").lower()
        except Exception:  # noqa: BLE001 — not an image PIL knows
            pass
    return _fake_decode(payload)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def make_png(width: int, height: int, pixels: np.ndarray | None = None) -> bytes:
    """Build a REAL, fully valid 8-bit PNG (IHDR + zlib IDAT + IEND, correct
    CRCs) — pure stdlib.  Used by tests and the ``multimodal_real_decode``
    contract query to prove the header parser runs against actual container
    bytes.

    ``pixels``: optional uint8 array — (H, W) grayscale or (H, W, 3) RGB.
    Defaults to the original row-gradient grayscale fill."""
    import zlib

    if pixels is None:
        color_type = 0
        raw = b"".join(b"\x00" + bytes([i % 256] * width) for i in range(height))
    else:
        px = np.ascontiguousarray(pixels, dtype=np.uint8)
        if px.ndim == 2:
            px = px[:, :, None]
        height, width = px.shape[:2]
        color_type = {1: 0, 3: 2}[px.shape[2]]
        raw = b"".join(b"\x00" + px[i].tobytes() for i in range(height))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, offset: int, height: int, stride: int, bpp: int) -> np.ndarray | None:
    """Undo the five PNG scanline filters over ``height`` rows of
    ``stride`` bytes (each prefixed by one filter-type byte) starting at
    ``offset``; returns (height, stride) uint8 or None on a bad filter."""
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_start = offset + y * (1 + stride)
        ftype = raw[row_start]
        filt = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=row_start + 1)
        if ftype == 0:  # None
            cur = filt.copy()
        elif ftype == 2:  # Up
            cur = filt + prev  # uint8 arithmetic wraps mod 256, as the spec
        elif ftype == 1:  # Sub — sequential along the row, per byte lane
            cur = filt.copy()
            for x in range(bpp, stride):
                cur[x] = (int(cur[x]) + int(cur[x - bpp])) & 0xFF
        elif ftype == 3:  # Average
            cur = filt.copy()
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(filt[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = filt.copy()
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(filt[x]) + pred) & 0xFF
        else:
            return None
        out[y] = cur
        prev = cur
    return out


def _png_rows_to_samples(rows: np.ndarray, width: int, channels: int, depth: int) -> np.ndarray:
    """(n_rows, stride_bytes) unfiltered bytes → (n_rows, width, channels)
    uint8 samples.  16-bit scales down to 8 (high byte); 1/2/4-bit unpack
    MSB-first per the spec (values are palette indices or gray levels —
    gray is rescaled to full 8-bit range by the caller)."""
    n = rows.shape[0]
    if depth == 8:
        return rows[:, : width * channels].reshape(n, width, channels)
    if depth == 16:
        u16 = rows[:, : width * channels * 2].reshape(n, width * channels, 2)
        return u16[:, :, 0].reshape(n, width, channels)  # big-endian high byte
    bits = np.unpackbits(rows, axis=1)  # MSB-first
    per = 8 // depth
    # sample i spans bits [i*depth, (i+1)*depth), MSB first
    idx = np.arange(rows.shape[1] * per) * depth
    vals = np.zeros((n, rows.shape[1] * per), dtype=np.uint8)
    for k in range(depth):
        vals |= bits[:, idx + k] << (depth - 1 - k)
    return vals[:, :width].reshape(n, width, 1)


# Adam7 pass grid: (x0, y0, dx, dy)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def decode_png_pixels(payload: bytes) -> np.ndarray | None:
    """REAL PNG pixel decode — pure stdlib (zlib inflate + per-row
    unfilter), the inverse of ``make_png``.  No image library needed.

    Supports every PNG color type (gray, RGB, palette, gray+alpha, RGBA)
    at bit depths 1/2/4/8/16 (16-bit scaled to 8), all five scanline
    filters, and Adam7 interlacing.  Returns an (H, W, C) uint8 array, or
    None for truncated/corrupt streams — callers fall back to the md5 stub
    path, so an unsupported file degrades, never crashes.
    """
    import zlib

    if len(payload) < 33 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, idat, plte, trns = 8, [], None, None
    width = height = channels = None
    try:
        while pos + 8 <= len(payload):
            (length,), typ = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if len(data) < length:
                return None
            if typ == b"IHDR":
                width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data[:13]
                )
                channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
                if channels is None or interlace not in (0, 1):
                    return None
                if depth not in (1, 2, 4, 8, 16) or (
                    depth < 8 and color not in (0, 3)
                ) or (depth == 16 and color == 3):
                    return None  # combinations the spec forbids
                color_type = color
            elif typ == b"PLTE":
                plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif typ == b"tRNS":
                trns = np.frombuffer(data, dtype=np.uint8)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            pos += 12 + length
        if width is None or not idat:
            return None
        raw = zlib.decompress(b"".join(idat))
    except (struct.error, zlib.error):
        return None
    bpp = max(1, channels * depth // 8)

    def stride_of(w: int) -> int:
        return (w * channels * depth + 7) // 8

    if interlace == 0:
        stride = stride_of(width)
        if len(raw) != height * (1 + stride):
            return None
        rows = _png_unfilter(raw, 0, height, stride, bpp)
        if rows is None:
            return None
        px = _png_rows_to_samples(rows, width, channels, depth)
    else:  # Adam7: seven independently-filtered sub-images, scattered back
        px = np.zeros((height, width, channels), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(width - x0) // dx))
            ph = max(0, -(-(height - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            stride = stride_of(pw)
            need = ph * (1 + stride)
            if offset + need > len(raw):
                return None
            rows = _png_unfilter(raw, offset, ph, stride, bpp)
            if rows is None:
                return None
            offset += need
            px[y0::dy, x0::dx] = _png_rows_to_samples(rows, pw, channels, depth)
        if offset != len(raw):
            return None
    if color_type == 0 and depth < 8:  # gray: rescale to full 8-bit range
        px = (px.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(np.uint8)
    if color_type == 3:  # palette → RGB(A)
        if plte is None or px.max() >= len(plte):
            return None
        rgb = plte[px[:, :, 0]]
        if trns is not None:
            alpha = np.full((height, width, 1), 255, dtype=np.uint8)
            idx = px[:, :, 0]
            in_rng = idx < len(trns)
            alpha[in_rng, 0] = trns[idx[in_rng]]
            return np.concatenate([rgb, alpha], axis=2)
        return rgb
    return px


def make_bmp(pixels: np.ndarray, top_down: bool = False) -> bytes:
    """Build a REAL, fully valid uncompressed 24-bit BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER + BGR pixel rows, 4-byte row padding) — pure stdlib.

    ``pixels``: (H, W) grayscale (replicated to BGR) or (H, W, 3) RGB uint8.
    ``top_down``: emit rows top-to-bottom with negative biHeight (the less
    common but spec-valid orientation) — exercised by tests so the decoder's
    row-order handling is proven against both layouts."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    h, w = px.shape[:2]
    bgr = px[:, :, ::-1]
    pad = (-3 * w) % 4
    if not top_down:
        bgr = bgr[::-1]  # bottom-up is the default BMP row order
    rows = b"".join(bgr[i].tobytes() + b"\x00" * pad for i in range(h))
    info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(rows), 0, 0, 14 + 40)
    return file_hdr + info + rows


def decode_bmp_pixels(payload: bytes) -> np.ndarray | None:
    """REAL BMP pixel decode — pure stdlib struct + numpy, the inverse of
    ``make_bmp`` and more: uncompressed (BI_RGB) 8-bit-palette, 24-bit BGR
    and 32-bit BGRA payloads, both bottom-up (positive height) and top-down
    (negative height) row orders, 4-byte row padding.

    Returns (H, W, C) uint8 — C=3 for 8/24-bit, C=4 (RGBA) for 32-bit — or
    None for exotic variants (bitfields, 1/4/16-bit, RLE4), which fall
    back to the md5 stub path like unsupported PNGs.  r4: BI_RLE8
    compression is REAL (encoded/absolute runs, end-of-line/bitmap and
    delta escapes)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    try:
        data_off = struct.unpack("<I", payload[10:14])[0]
        hdr_size = struct.unpack("<I", payload[14:18])[0]
        if hdr_size < 40:  # BITMAPCOREHEADER not supported
            return None
        w, h_raw, _planes, bpp, compression = struct.unpack("<iiHHI", payload[18:34])
    except struct.error:
        return None
    if compression not in (0, 1) or bpp not in (8, 24, 32) or w <= 0 or h_raw == 0:
        return None
    if compression == 1 and bpp != 8:
        return None  # BI_RLE8 is defined for 8-bit only
    top_down, h = h_raw < 0, abs(h_raw)
    palette = None
    if bpp == 8:
        n_colors = struct.unpack("<I", payload[46:50])[0] or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(payload, dtype=np.uint8, count=n_colors * 4, offset=pal_off)
        palette = pal.reshape(-1, 4)[:, [2, 1, 0]]  # BGRX → RGB
    bytes_pp = bpp // 8
    if compression == 1:  # BI_RLE8: decode into the (file-order) row grid
        grid = np.zeros((h, w), dtype=np.uint8)
        x = y = 0
        i = data_off
        while i + 1 < len(payload):
            cnt, val = payload[i], payload[i + 1]
            i += 2
            if cnt:  # encoded run (clamped: malformed deltas can put x > w)
                if y >= h:
                    return None
                run = max(0, min(cnt, w - x))
                grid[y, x : x + run] = val
                x += run
            elif val == 0:  # end of line
                x, y = 0, y + 1
            elif val == 1:  # end of bitmap
                break
            elif val == 2:  # delta: skipped pixels stay 0 (spec: undefined)
                if i + 2 > len(payload):
                    return None
                x, y = x + payload[i], y + payload[i + 1]
                i += 2
            else:  # absolute run of `val` raw indices, padded to even
                if i + val > len(payload) or y >= h:
                    return None
                run = max(0, min(val, w - x))
                grid[y, x : x + run] = np.frombuffer(
                    payload, dtype=np.uint8, count=run, offset=i
                )
                x += run
                i += val + (val & 1)
        if grid.max() >= len(palette):  # degrade, never crash
            return None
        rows = grid
        if not top_down:
            rows = rows[::-1]
        return palette[rows]
    stride = (w * bytes_pp + 3) & ~3
    need = data_off + stride * h
    if len(payload) < need:
        return None
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)[:, : w * bytes_pp]
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        if rows.max() >= len(palette):
            return None  # index past biClrUsed: degrade, never crash
        return palette[rows]
    px = rows.reshape(h, w, bytes_pp)
    if bpp == 24:
        return px[:, :, ::-1].copy()  # BGR → RGB
    # 32-bit BGRA → RGBA
    return px[:, :, [2, 1, 0, 3]].copy()


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW encode (LSB-first variable-width codes, CLEAR/END,
    code width grows 1 past each power of two, dictionary reset at 4096).
    Pure stdlib; inverse of ``_lzw_decode`` (round-trip property-tested
    across the 2^9/2^10 width boundaries and the 4096 reset)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = n_bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    def reset() -> tuple[dict[bytes, int], int, int]:
        return {bytes([i]): i for i in range(clear)}, end + 1, min_code_size + 1

    table, next_code, width = reset()
    emit(clear, width)
    w = b""
    for ch in indices:
        wk = w + bytes([ch])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        # the decoder registers this entry one code later, so its counter
        # trails ours by one: it bumps width when ITS next_code hits
        # 2^width, which is when OUR next_code hits 2^width + 1
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear, width)
            table, next_code, width = reset()
        w = bytes([ch])
    if w:
        emit(table[w], width)
    emit(end, width)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytearray | None:
    """GIF-flavor LZW decode (the standard algorithm: KwK special case,
    width bump at 2^width, 12-bit cap, CLEAR resets).  Returns the index
    stream, or None on a corrupt code; stops after ``max_pixels``."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    width = min_code_size + 1
    next_code, prev = end + 1, -1
    acc = n_bits = pos = 0
    n = len(data)
    while len(out) < max_pixels:
        while n_bits < width:
            if pos >= n:
                return out  # stream ended without END code — accept partial
            acc |= data[pos] << n_bits
            pos += 1
            n_bits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            table = table[: end + 1]
            width, next_code, prev = min_code_size + 1, end + 1, -1
            continue
        if code == end:
            break
        if prev < 0:  # first code after a clear must be a literal
            if code >= clear:
                return None
            out.extend(table[code])
            prev = code
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code:  # KwK: w + first byte of w
            entry = table[prev] + table[prev][:1]
        else:
            return None
        if next_code < 4096:
            table.append(table[prev] + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        out.extend(entry)
        prev = code
    return out


_GRAY_PALETTE = bytes(v for i in range(256) for v in (i, i, i))


def make_gif(frames: list[np.ndarray], delay_cs: int = 10) -> bytes:
    """Build a REAL, fully valid animated GIF89a (logical screen descriptor,
    256-gray global color table, per-frame graphic-control + image
    descriptor + genuine LZW-compressed index stream) — pure stdlib.

    ``frames``: list of (H, W) uint8 grayscale arrays, all the same shape
    (each value indexes the 256-entry gray global palette).  Used by tests
    and the frame-sampling contract checks to prove ``sample_frames``
    decodes actual multi-frame container bytes."""
    if not frames:
        raise ValueError("make_gif needs at least one frame")
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    # screen descriptor: GCT present, 8 bits/color, 256-entry table
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += _GRAY_PALETTE
    # netscape looping extension — standard for multi-frame
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        if fr.shape != (h, w):
            raise ValueError("all frames must share the canvas shape")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"  # GCE
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"  # image descriptor
        out.append(8)  # LZW min code size
        compressed = _lzw_encode(np.ascontiguousarray(fr, dtype=np.uint8).tobytes(), 8)
        for i in range(0, len(compressed), 255):  # sub-block framing
            chunk = compressed[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def decode_gif_frames(payload: bytes) -> list[np.ndarray] | None:
    """REAL multi-frame GIF pixel decode — pure stdlib LZW + numpy, the
    inverse of ``make_gif`` and more: GIF87a/89a, global and local color
    tables of any size, sub-rectangle frames composited onto the running
    canvas (disposal "draw on top"), partial LZW streams accepted.

    Returns a list of (H, W, 3) uint8 RGB canvases, one per rendered frame
    (r4: incl. 4-pass interlaced frames, deinterlaced to display order), or
    None for payloads this decoder doesn't handle (truncated descriptors) —
    callers fall back to the stub path.
    Transparency indices are drawn opaque (dedup/feature pipelines want
    deterministic pixels, not compositing fidelity)."""
    n = len(payload)
    if n < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, dtype=np.uint8, count=3 * size, offset=pos).reshape(-1, 3)
        pos += 3 * size
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    frames: list[np.ndarray] = []
    try:
        while pos < n:
            block = payload[pos]
            pos += 1
            if block == 0x3B:  # trailer
                break
            if block == 0x21:  # extension: label + sub-blocks, skip
                pos += 1
                while pos < n and payload[pos]:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if block != 0x2C:  # not an image descriptor — corrupt
                return None
            fx, fy, fw, fh, ipacked = struct.unpack("<HHHHB", payload[pos : pos + 9])
            pos += 9
            interlaced = bool(ipacked & 0x40)
            ct = gct
            if ipacked & 0x80:
                size = 2 << (ipacked & 0x07)
                ct = np.frombuffer(payload, dtype=np.uint8, count=3 * size, offset=pos).reshape(-1, 3)
                pos += 3 * size
            if ct is None:
                return None
            min_code = payload[pos]
            pos += 1
            chunks = []
            while pos < n and payload[pos]:
                ln = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(b"".join(chunks), min_code, fw * fh)
            if idx is None or len(idx) < fw * fh:
                return None
            indices = np.frombuffer(bytes(idx[: fw * fh]), dtype=np.uint8).reshape(fh, fw)
            if interlaced:
                # GIF 4-pass interlace: rows are stored pass-by-pass
                # (every 8th from 0, every 8th from 4, every 4th from 2,
                # every 2nd from 1) — scatter back to display order
                order = np.concatenate(
                    [np.arange(s, fh, step) for s, step in ((0, 8), (4, 8), (2, 4), (1, 2))]
                )
                deinter = np.empty_like(indices)
                deinter[order] = indices
                indices = deinter
            if indices.max() >= len(ct):
                return None
            canvas[fy : fy + fh, fx : fx + fw] = ct[indices]
            frames.append(canvas.copy())
    except (struct.error, IndexError):
        return None
    return frames or None


def decode_pixels(payload: bytes) -> np.ndarray | None:
    """Generic REAL pixel decode: dispatch on container magic to the PNG,
    BMP, GIF, baseline-JPEG, or WebP-lossless pure-python decoder (GIF
    renders the first frame).  Returns (H, W, C) uint8 or None when no
    real decoder applies (lossy VP8 WebP, 12-bit/arithmetic JPEG)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(payload)
    if payload[:2] == b"BM":
        return decode_bmp_pixels(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        frames = decode_gif_frames(payload)
        return frames[0] if frames else None
    if payload[:2] == b"\xff\xd8":
        from wordspell_spark.operators.jpeg import decode_jpeg_pixels

        return decode_jpeg_pixels(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from wordspell_spark.operators.webp import decode_webp_pixels

        return decode_webp_pixels(payload)
    return None


def png_luminance(px: np.ndarray) -> np.ndarray:
    """(H, W) float64 luminance in [0, 255] from any decoded channel count
    (gray / gray+alpha use the gray channel; RGB(A) uses BT.601 weights)."""
    if px.shape[2] <= 2:
        return px[:, :, 0].astype(np.float64)
    p = px.astype(np.float64)
    return 0.299 * p[:, :, 0] + 0.587 * p[:, :, 1] + 0.114 * p[:, :, 2]


def pixel_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray | None:
    """REAL pixel features for PNG / BMP / GIF / baseline-JPEG payloads
    (None otherwise).

    8 deterministic luminance statistics — mean, std, quartiles, mean
    |horizontal|/|vertical| gradient, log-aspect — the classic cheap
    image-quality/dedup signals.  A production model plugs in here as
    Arrow-batched inference with the same (payload → float32[dim])
    contract."""
    px = decode_pixels(payload)
    if px is None:
        return None
    lum = png_luminance(px) / 255.0
    h, w = lum.shape
    gx = float(np.abs(np.diff(lum, axis=1)).mean()) if w > 1 else 0.0
    gy = float(np.abs(np.diff(lum, axis=0)).mean()) if h > 1 else 0.0
    q25, q50, q75 = (float(x) for x in np.quantile(lum, [0.25, 0.5, 0.75]))
    feats = np.array(
        [float(lum.mean()), float(lum.std()), q25, q50, q75, gx, gy, float(np.log(w / h))],
        dtype=np.float32,
    )
    if dim <= 8:
        return feats[:dim]
    return np.pad(feats, (0, dim - 8))


# kept name from the PNG-only rounds; the pixel path now also covers BMP/GIF
png_features = pixel_features


def resize_png_pixels(px: np.ndarray, nw: int, nh: int) -> np.ndarray:
    """Nearest-neighbor resample (deterministic, pure numpy index math)."""
    h, w = px.shape[:2]
    rows = np.minimum((np.arange(nh) * h) // nh, h - 1)
    cols = np.minimum((np.arange(nw) * w) // nw, w - 1)
    return px[rows][:, cols]


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """STUB feature extractor: md5-seeded unit vector (real models plug in
    here as Arrow-batched inference)."""
    h = hashlib.md5(b"feat|" + payload).digest()
    seed = int.from_bytes(h[:8], "little")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim).astype(np.float32)
    return v / np.linalg.norm(v)


def _features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Tiered features: REAL pixel statistics for PNG / BMP / GIF /
    baseline-JPEG / WebP-lossless payloads (``pixel_features`` — stdlib +
    pure-numpy decode, no image library), md5 stand-in for the rest
    (lossy VP8 needs a perceptual codec this container doesn't ship;
    12-bit/arithmetic JPEG stays out of the Huffman subset)."""
    real = pixel_features(payload, dim)
    return real if real is not None else _fake_features(payload, dim)


def decode_metadata(binary_df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Binary payloads → typed metadata + feature vector, Arrow-batched.

    One mapInPandas pass; the payload column is dropped on output so nothing
    downstream ever shuffles bytes.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = pdf[payload_col].to_list()
            meta = [_decode(p) for p in payloads]
            feats = [_features(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "n_bytes": np.array([len(p) for p in payloads], dtype=np.int32),
                    "width": np.array([m[0] for m in meta], dtype=np.int32),
                    "height": np.array([m[1] for m in meta], dtype=np.int32),
                    "format": [m[2] for m in meta],
                    "features": feats,
                }
            )

    return binary_df.mapInPandas(run, schema=METADATA_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_images(
    binary_df: DataFrame,
    target_w: int = 256,
    target_h: int = 256,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Aspect-preserving resize into the target box.

    Tiered like ``_decode``: PNG / BMP / GIF / baseline-JPEG payloads get
    REAL pixel resampling (``decode_pixels`` → nearest-neighbor →
    re-encoded as PNG, the engine's canonical resized container); other
    real images
    go through PIL when importable; synthetic payloads keep the
    clearly-marked md5 stand-in.  The Spark contract — row-local
    mapInPandas, binary in/binary out, no shuffle — is identical on every
    tier."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, _ = _decode(payload)
                scale = min(target_w / w, target_h / h, 1.0)
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                px = decode_pixels(payload)
                if px is not None:
                    resized = resize_png_pixels(px, nw, nh)
                    if resized.shape[2] in (1, 3):
                        out_bytes = make_png(nw, nh, resized[:, :, 0] if resized.shape[2] == 1 else resized)
                    else:
                        # alpha channels (gray+alpha, RGBA): emit the true
                        # luminance plane (BT.601 for RGBA, the gray plane
                        # for gray+alpha) and drop alpha — NOT channel 0,
                        # which for RGBA would be the red channel
                        lum = png_luminance(resized).round().astype(np.uint8)
                        out_bytes = make_png(nw, nh, lum)
                elif HAVE_PIL and decode_image_header(payload) is not None:
                    import io  # pragma: no cover — real-pixel path, PIL-gated

                    with _PIL_Image.open(io.BytesIO(payload)) as im:
                        buf = io.BytesIO()
                        im.resize((nw, nh)).save(buf, format=im.format or "PNG")
                        out_bytes = buf.getvalue()
                else:
                    out_bytes = hashlib.md5(b"resize|%d|%d|" % (nw, nh) + payload).digest()
                rows.append((doc_id, nw, nh, out_bytes))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "payload"])

    return binary_df.mapInPandas(run, schema=RESIZE_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    binary_df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Uniform temporal frame sampling, 1 → ≤n_frames rows per payload.

    REAL for two multi-frame containers:

    * animated GIF — the stdlib LZW decoder (``decode_gif_frames``)
      renders every frame onto the running canvas;
    * AVI/MJPEG video — ``video.decode_avi_frames`` walks the RIFF movi
      list and entropy-decodes each frame with the pure-numpy baseline
      JPEG codec (``operators/jpeg.py``).

    ``n_frames`` uniformly-spaced rendered frames are selected (all frames,
    each once, when the sequence is shorter), and each sampled frame is
    re-emitted as a standalone PNG — so downstream feature extraction
    consumes the same canonical container ``resize_images`` emits.

    Other payloads (mp4/h264/vp9 need a real inter-frame codec) keep the
    clearly-marked md5 stub frames.  The Spark contract — row-local
    mapInPandas, binary in / exploded binary out, no shuffle of payload
    bytes — is identical on all tiers."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .video import decode_avi_frames, is_avi

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload[:6] in (b"GIF87a", b"GIF89a"):
                    frames = decode_gif_frames(payload)
                elif is_avi(bytes(payload)):
                    frames = decode_avi_frames(bytes(payload))
                else:
                    frames = None
                if frames is not None:
                    take = min(n_frames, len(frames))
                    picks = np.unique(
                        np.round(np.linspace(0, len(frames) - 1, take)).astype(int)
                    )
                    for i, t in enumerate(picks):
                        rows.append((doc_id, i, make_png(0, 0, frames[t])))
                else:
                    for i in range(n_frames):
                        rows.append(
                            (doc_id, i, hashlib.md5(b"frame|%d|" % i + payload).digest())
                        )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return binary_df.mapInPandas(run, schema=FRAMES_SCHEMA)


def multimodal_metadata(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """End-to-end: attach payload → decode → metadata table (no features,
    so the result is exactly DuckDB-oracle-checkable via md5)."""
    meta = decode_metadata(attach_binary(docs, text_col, id_col))
    return meta.select("doc_id", "n_bytes", "width", "height", "format")


# ---------------------------------------------------------------------------
# Perceptual image dedup: pHash over REAL decoded pixels + banded Hamming
# self-join (the image-modality sibling of dedup.simhash_pairs)
# ---------------------------------------------------------------------------

PHASH_BITS = 64

# orthonormal 32-point DCT-II matrix for the pHash low-frequency block
_PHASH_DCT = np.sqrt(2.0 / 32.0) * np.cos(
    np.pi * (np.arange(32)[None, :] + 0.5) * np.arange(32)[:, None] / 32.0
)
_PHASH_DCT[0] *= np.sqrt(0.5)


def phash64(payload: bytes) -> int | None:
    """64-bit perceptual hash from genuinely decoded pixels, or None when
    no real decoder applies (the fake tier must never produce a phash —
    colliding md5 stand-ins would fabricate near-dups).

    Classic DCT pHash: luminance → nearest-sample to 32x32 → 2D DCT-II →
    top-left 8x8 low-frequency block → each of the 63 non-DC coefficients
    compared to their median (bit 63 is always 0).  Deterministic pure
    numpy; robust to small pixel perturbations and to lossy re-encoding,
    which is exactly the near-dup signal exact hashing cannot give."""
    px = decode_pixels(payload)
    if px is None:
        return None
    lum = png_luminance(px)
    h, w = lum.shape
    ri = np.round(np.linspace(0, h - 1, 32)).astype(int)
    ci = np.round(np.linspace(0, w - 1, 32)).astype(int)
    small = lum[np.ix_(ri, ci)]
    coef = (_PHASH_DCT @ small @ _PHASH_DCT.T)[:8, :8].reshape(-1)[1:]  # drop DC
    med = np.median(coef)
    bits = coef > med
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v


def phash_test_pattern(seed: int, h: int = 40, w: int = 48) -> np.ndarray:
    """Deterministic fixture image with explicit random LOW-FREQUENCY
    structure: an 8x8 random coefficient block inverse-DCT'd to pixels, so
    the pHash sign pattern is far from its decision boundary — near pairs
    (± small pixel noise) land at Hamming ≤2, distinct seeds at ≥18.  The
    one generator behind the image_phash_neardup oracle AND its pytest
    twin (smooth analytic patterns collide: sign-of-coefficient hashes are
    coarse)."""
    rng = np.random.default_rng(seed)
    c = np.zeros((32, 32))
    c[:8, :8] = rng.uniform(-1, 1, (8, 8)) * 400
    c[0, 0] = 4000  # bright DC anchor keeps pixels in range
    img32 = np.clip(_PHASH_DCT.T @ c @ _PHASH_DCT, 0, 255).astype(np.uint8)
    ri = np.round(np.linspace(0, 31, h)).astype(int)
    ci = np.round(np.linspace(0, 31, w)).astype(int)
    return img32[np.ix_(ri, ci)]


def image_phash(
    binary_df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """payload → (id, phash LONG); rows whose payload has no real pixel
    decode are dropped (never fabricated).  Row-local mapInPandas — the
    binary column stays behind; only (id, 8-byte hash) moves, so the
    downstream banded join shuffles KB-scale rows at any corpus size."""
    narrow = binary_df.select(F.col(id_col).alias("id"), F.col(payload_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, p in zip(pdf["id"], pdf["payload"]):
                hv = phash64(bytes(p)) if p is not None else None
                if hv is not None:
                    ids.append(int(i))
                    # store as signed int64 (two's complement bit pattern)
                    hashes.append(hv - (1 << 64) if hv >= (1 << 63) else hv)
            yield pd.DataFrame({"id": pd.Series(ids, dtype="int64"),
                                "phash": pd.Series(hashes, dtype="int64")})

    schema = StructType([StructField("id", LongType()), StructField("phash", LongType())])
    return narrow.mapInPandas(run, schema=schema)


def fingerprint_pairs(
    fp_df: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    bits: int = PHASH_BITS,
    fp_col: str = "phash",
) -> DataFrame:
    """Near-dup pairs among 64-bit fingerprints with Hamming ≤ max_hamming —
    a thin wrapper over the ONE banded-Hamming plan shared with simhash
    text dedup (``dedup.banded_hamming_pairs``: pigeonhole band join,
    in-join ``bit_count(xor)`` filter, never all-pairs).  Scales as the
    number of band-bucket collisions, not corpus²."""
    from .dedup import _register_owned_cache, banded_hamming_pairs

    base = fp_df.select("id", F.col(fp_col).alias("fp")).persist()
    pairs = banded_hamming_pairs(base, bits, max_hamming, n_bands, fp_col="fp")
    _register_owned_cache(pairs, base)
    return pairs


def image_neardup_pairs(
    binary_df: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """End-to-end perceptual image dedup: real pixel decode → pHash →
    banded Hamming self-join.  Catches re-encoded / slightly-perturbed
    duplicates that exact byte hashing misses — the image-side analog of
    MinHash text dedup, and the reason the engine insists on REAL decode
    tiers (md5 stand-ins would either never collide or collide wrongly)."""
    return fingerprint_pairs(
        image_phash(binary_df, id_col, payload_col), max_hamming, n_bands
    )
