"""Audio column plumbing: opaque binary payloads + typed metadata.

The audio analog of ``operators/multimodal.py`` (same design rules — the
reference engine has no audio path; this is LLM-training-pipeline extension
surface).  Audio rides through the engine as a ``binary`` column; decode /
feature-extraction / resampling are Arrow-batched pandas UDFs over
``mapInPandas``.

Decode is tiered like images:

1. **Real container parsing** — pure ``struct``/int bit-twiddling, no
   audio libraries:

   - WAV/RIFF: full chunk walk + REAL PCM sample decode (8-bit unsigned,
     16-bit signed, 32-bit signed, mono or interleaved multi-channel) —
     PCM is the one mainstream audio coding that needs no codec, so the
     sample path is real end to end: features (duration, RMS, peak, ZCR,
     DC offset) and linear-interpolation ``resample_audio`` re-encoded
     via ``make_wav``.
   - FLAC: REAL lossless sample decode (``operators/flac.py`` — pure
     python/numpy bitstream decoder: rice-coded residuals over fixed and
     LPC predictors, left/right/mid-side stereo decorrelation, CRC-8/16
     verified frames, wasted bits; plus the STREAMINFO fast path for
     metadata-only reads).  Features and ``resample_audio`` (transcoded
     to WAV) run on genuinely entropy-decoded samples.
   - MP3: first frame header after an ID3v2 skip (MPEG version, layer,
     sample rate, channel mode) — header-real.
   - OGG: Vorbis identification header on the first page (channels,
     rate) — header-real.

2. **Deterministic fake** — payloads that are not recognized audio (or
   perceptual codecs whose sample decode needs a real DSP stack — mp3,
   vorbis) get the clearly-marked md5-derived stand-in feature vector, so
   the plumbing stays testable without native codecs.

At 100 TB the rule is identical to images: never shuffle the binary
column.  Every derivation here is row-local (``mapInPandas``); downstream
joins move only (doc_id, features/metadata).
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
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

AUDIO_FEATURE_DIM = 8

AUDIO_METADATA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("format", StringType()),
        StructField("features", ArrayType(FloatType(), False)),
    ]
)


# ---------------------------------------------------------------------------
# WAV build + decode (the REAL sample path — PCM needs no codec)
# ---------------------------------------------------------------------------

def make_wav(samples: np.ndarray, rate: int = 8000, bits: int = 16) -> bytes:
    """Serialize PCM samples into a canonical RIFF/WAVE payload.

    ``samples``: shape (n,) mono or (n, channels) interleaved-on-write;
    integer values already in the target bit range (int16 for 16, uint8
    for 8, int32 for 32).  The sibling of ``multimodal.make_png`` — the
    engine builds its own fixtures so oracle queries can predict sample
    statistics arithmetically.
    """
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bits == 8:
        raw = s.astype(np.uint8).tobytes()
    elif bits == 16:
        raw = s.astype("<i2").tobytes()
    elif bits == 32:
        raw = s.astype("<i4").tobytes()
    else:
        raise ValueError(f"unsupported bits={bits}")
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    if len(raw) % 2:
        body += b"\x00"  # RIFF chunks pad to even
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int, int] | None:
    """REAL WAV decode: (samples (n, ch) int ndarray, rate, bits) or None.

    Walks RIFF chunks (tolerates extra chunks like LIST/fact before or
    after ``data``).  Covers integer PCM (8-bit unsigned / 16-bit / 32-bit
    signed LE), IEEE float32 PCM (format 3 — quantized to int32 full
    scale), and WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping either SubFormat
    (the layout most DAWs emit for >2-channel or >16-bit files).  Anything
    else — compressed WAVE formats — returns None and callers fall back to
    the declared-fake tier.
    """
    try:
        if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        from .riff import walk_chunks

        fmt, data = None, None
        for cid, body, size in walk_chunks(payload, 12, len(payload)):
            if cid == b"fmt ":
                fmt = payload[body : body + size]
            elif cid == b"data":
                data = payload[body : body + size]
        if fmt is None or data is None or len(fmt) < 16:
            return None
        audio_fmt, ch, rate, _br, block, bits = struct.unpack_from("<HHIIHH", fmt, 0)
        if audio_fmt == 0xFFFE and len(fmt) >= 40:
            # WAVE_FORMAT_EXTENSIBLE: the real format is the SubFormat
            # GUID's leading u16 (1 = PCM, 3 = IEEE float)
            audio_fmt = struct.unpack_from("<H", fmt, 24)[0]
        is_float = audio_fmt == 3
        if is_float and bits != 32:
            return None
        if audio_fmt not in (1, 3) or ch < 1 or bits not in (8, 16, 32) or block != ch * bits // 8:
            return None
        n = len(data) // block
        if n == 0:
            return None
        if is_float:
            f = np.frombuffer(data[: n * block], dtype="<f4").reshape(n, ch)
            # NaN/inf glitches (real DAW exports have them) quantize to 0 /
            # full scale instead of the undefined NaN→int cast
            f = np.nan_to_num(f.astype(np.float64), nan=0.0, posinf=1.0, neginf=-1.0)
            s = np.clip(
                np.rint(f * 2147483648.0), -(2**31), 2**31 - 1
            ).astype(np.int32)
            return s, int(rate), 32
        dt = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}[bits]
        s = np.frombuffer(data[: n * block], dtype=dt).reshape(n, ch)
        return s, int(rate), int(bits)
    except (struct.error, ValueError):
        return None


# ---------------------------------------------------------------------------
# Header-real parsers for compressed containers (no sample decode)
# ---------------------------------------------------------------------------

_MP3_RATES = {0b00: 44100, 0b01: 48000, 0b10: 32000}  # MPEG1
_MP3_RATES_V2 = {0b00: 22050, 0b01: 24000, 0b10: 16000}
_MP3_RATES_V25 = {0b00: 11025, 0b01: 12000, 0b10: 8000}


def _flac_streaminfo(payload: bytes) -> tuple[int, int, int, int] | None:
    """(rate, channels, bits, total_samples) from the STREAMINFO block.

    STREAMINFO is mandatory-first per the FLAC spec: 'fLaC', a 4-byte
    block header (type 0), then 34 bytes; rate/channels/bits/totals are
    packed big-endian at bit offsets 80/100/103/108.
    """
    if len(payload) < 4 + 4 + 34 or payload[:4] != b"fLaC":
        return None
    if payload[4] & 0x7F != 0:  # block type must be STREAMINFO
        return None
    info = payload[8 : 8 + 34]
    v = int.from_bytes(info[10:18], "big")  # rate(20) ch(3) bits(5) total(36)
    rate = v >> 44
    ch = ((v >> 41) & 0x7) + 1
    bits = ((v >> 36) & 0x1F) + 1
    total = v & ((1 << 36) - 1)
    if rate == 0:
        return None
    return rate, ch, bits, total


def _mp3_header(payload: bytes) -> tuple[int, int] | None:
    """(rate, channels) from the first MPEG audio frame header.

    Skips an ID3v2 tag (syncsafe length; +10 more when the header flags a
    footer, ID3v2.4 §3.1 — without that a footered tag lands the sync probe
    10 bytes early and a valid MP3 degrades to the fake tier, r4 ADVICE),
    then scans a bounded window for the 11-bit frame sync (tags in the wild
    over- and under-report by padding).  Layer/bitrate are not needed
    downstream, so only the version+rate+mode fields are read.
    """
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        pos = 10 + (
            ((payload[6] & 0x7F) << 21)
            | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7)
            | (payload[9] & 0x7F)
        )
        if payload[5] & 0x10:  # footer-present flag
            pos += 10
        # bounded forward scan for a VALID frame header at-or-after the
        # computed offset (tags in the wild pad past their declared size).
        # Only after a REAL ID3 preamble: scanning untagged payloads would
        # let random binaries alias a 0xFFE sync (~1/2048 per offset).
        # The scan must not COMMIT to the first sync-looking pair either —
        # residual tag bytes can contain e.g. 0xFF 0xE1 (sync bits match,
        # reserved layer) ahead of the genuine frame — so each candidate
        # is fully validated and the scan continues on failure.
        end = min(pos + 4096, len(payload) - 4)
        while pos <= end:
            got = _parse_frame_header(payload, pos)
            if got is not None:
                return got
            pos += 1
        return None
    if pos + 4 > len(payload):
        return None
    return _parse_frame_header(payload, pos)


def _parse_frame_header(payload: bytes, pos: int) -> tuple[int, int] | None:
    """Validate + parse one MPEG audio frame header at ``pos``."""
    if pos + 4 > len(payload):
        return None
    b0, b1, b2, b3 = payload[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version = (b1 >> 3) & 0x3  # 0=MPEG2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    if version == 0b01:
        return None  # reserved version code: not a valid frame
    if (b1 >> 1) & 0x3 == 0b00:
        return None  # reserved layer code (also rejects JPEG APP1 0xFF 0xE1)
    rate_idx = (b2 >> 2) & 0x3
    if rate_idx == 0b11:
        return None
    table = {0b11: _MP3_RATES, 0b10: _MP3_RATES_V2, 0b00: _MP3_RATES_V25}[version]
    mode = (b3 >> 6) & 0x3
    return table[rate_idx], 1 if mode == 0b11 else 2


def _ogg_vorbis_header(payload: bytes) -> tuple[int, int] | None:
    """(rate, channels) from the Vorbis identification header on page 1."""
    if payload[:4] != b"OggS":
        return None
    idx = payload.find(b"\x01vorbis", 0, 512)
    if idx < 0 or idx + 16 > len(payload):
        return None
    ch = payload[idx + 11]
    (rate,) = struct.unpack_from("<I", payload, idx + 12)
    if rate == 0 or ch == 0:
        return None
    return rate, ch


def decode_audio_header(payload: bytes) -> tuple[int, int, int, int, str] | None:
    """REAL audio metadata from container bytes — no codec library.

    Returns (sample_rate, channels, bits, n_frames, format) or None.
    n_frames is -1 where the container does not carry it (mp3/ogg without
    a full frame walk); bits is -1 for formats that don't fix a PCM width.
    """
    try:
        wav = decode_wav(payload)
        if wav is not None:
            s, rate, bits = wav
            return rate, s.shape[1], bits, s.shape[0], "wav"
        flac = _flac_streaminfo(payload)
        if flac is not None:
            rate, ch, bits, total = flac
            return rate, ch, bits, total if total else -1, "flac"
        mp3 = _mp3_header(payload)
        if mp3 is not None:
            return mp3[0], mp3[1], -1, -1, "mp3"
        ogg = _ogg_vorbis_header(payload)
        if ogg is not None:
            return ogg[0], ogg[1], -1, -1, "ogg"
        return None
    except (struct.error, ValueError, IndexError):
        return None


# ---------------------------------------------------------------------------
# Features + resample (real for WAV + FLAC; declared fake elsewhere)
# ---------------------------------------------------------------------------

def decode_audio_samples(payload: bytes) -> tuple[np.ndarray, int, int] | None:
    """Signed zero-centered PCM from any REAL-decode container.

    WAV (PCM, no codec) or FLAC (full lossless entropy decode —
    ``operators/flac.py``: rice-coded fixed/LPC predictors, stereo
    decorrelation, CRC-verified frames).  WAV 8-bit unsigned is re-centered
    to signed here so downstream normalization is uniformly
    ``s / 2^(bits-1)`` across containers (FLAC PCM is signed at every
    depth).  Returns (samples (n, ch), rate, bits) or None."""
    wav = decode_wav(payload)
    if wav is not None:
        s, rate, bits = wav
        if bits == 8:
            s = s.astype(np.int16) - 128
        return s, rate, bits
    from .flac import decode_flac

    return decode_flac(payload)


def wav_features(payload: bytes, dim: int = AUDIO_FEATURE_DIM) -> np.ndarray | None:
    """REAL audio features from decoded PCM samples (WAV container, or
    FLAC through the full lossless decoder)."""
    dec = decode_audio_samples(payload)
    if dec is None:
        return None
    return pcm_stats(*dec, dim=dim)


def pcm_stats(s: np.ndarray, rate: int, bits: int, dim: int = AUDIO_FEATURE_DIM) -> np.ndarray:
    """Feature vector from already-decoded signed zero-centered PCM.

    [duration_s, rms, peak, zcr, dc_mean, rate/1e5, channels, bits/32]
    with rms/peak/dc on the normalized [-1, 1) full scale and zcr the
    fraction of adjacent sign changes on channel 0 (sign of 0 counts as
    non-negative, matching ``np.signbit``).
    """
    x = s.astype(np.float64) / float(1 << (bits - 1))
    c0 = x[:, 0]
    if len(c0) > 1:
        flips = np.signbit(c0[1:]) != np.signbit(c0[:-1])
        zcr = float(np.mean(flips))
    else:
        zcr = 0.0
    feats = np.array(
        [
            s.shape[0] / rate,
            float(np.sqrt(np.mean(x * x))),
            float(np.max(np.abs(x))),
            zcr,
            float(np.mean(x)),
            rate / 1e5,
            float(s.shape[1]),
            bits / 32.0,
        ],
        dtype=np.float32,
    )
    return feats[:dim]


def _fake_audio_features(payload: bytes, dim: int = AUDIO_FEATURE_DIM) -> np.ndarray:
    """DETERMINISTIC FAKE for non-PCM payloads (no native codec in this
    container) — md5-derived, clearly marked, mirrors multimodal._fake_features."""
    h = hashlib.md5(payload).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype="<u4")
    return (raw.astype(np.float32) / np.float32(2**32)).astype(np.float32)


def _audio_features(payload: bytes, dim: int = AUDIO_FEATURE_DIM) -> np.ndarray:
    real = wav_features(payload, dim)
    return real if real is not None else _fake_audio_features(payload, dim)


def resample_wav(payload: bytes, new_rate: int) -> bytes | None:
    """Linear-interpolation resample of decodable PCM, re-encoded via
    make_wav.

    The audio analog of ``multimodal.resize_images``: real sample math
    (np.interp per channel on the normalized scale, rounded back to the
    original bit width), row-local, no native codec.  FLAC input is
    transcoded (decoded losslessly, re-emitted as WAV — the canonical
    container of this pipeline, as resize re-emits PNG).  Returns None for
    undecodable payloads — callers keep the original bytes and flag the row.
    """
    dec = decode_audio_samples(payload)
    if dec is None or new_rate <= 0:
        return None
    s, rate, bits = dec
    if bits not in (8, 16, 32):  # make_wav widths; FLAC 24-bit widens
        s, bits = s.astype(np.int64) << (32 - bits), 32
    n = s.shape[0]
    m = max(1, int(round(n * new_rate / rate)))
    old_t = np.arange(n, dtype=np.float64) / rate
    new_t = np.arange(m, dtype=np.float64) / new_rate
    x = s.astype(np.float64) / float(1 << (bits - 1))
    out = np.stack([np.interp(new_t, old_t, x[:, c]) for c in range(s.shape[1])], axis=1)
    if bits == 8:
        q = np.clip(np.rint(out * 128.0 + 128.0), 0, 255).astype(np.uint8)
    elif bits == 16:
        q = np.clip(np.rint(out * 32768.0), -32768, 32767).astype(np.int16)
    else:
        q = np.clip(np.rint(out * 2147483648.0), -(2**31), 2**31 - 1).astype(np.int32)
    return make_wav(q, rate=new_rate, bits=bits)


# ---------------------------------------------------------------------------
# Spark surface — row-local mapInPandas, binary column never shuffled
# ---------------------------------------------------------------------------

def audio_metadata(
    binary_df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Typed metadata + features for an audio binary column.

    One ArrowEvalPython pass, no shuffle: output carries only metadata and
    the small feature vector — the payload stays behind, per the
    never-shuffle-binary rule.
    """
    narrow = binary_df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                # decode PCM at most once per row: the WAV fast path feeds
                # both the header row and the features from one decode
                wav = decode_wav(payload)
                if wav is not None:
                    s, rate, bits = wav
                    ch, n_frames, fmt = s.shape[1], s.shape[0], "wav"
                    if bits == 8:
                        s = s.astype(np.int16) - 128
                    feats = pcm_stats(s, rate, bits)
                else:
                    hdr = decode_audio_header(payload)
                    if hdr is None:
                        rate, ch, bits, n_frames, fmt = -1, -1, -1, -1, "unknown"
                    else:
                        rate, ch, bits, n_frames, fmt = hdr
                    feats = _audio_features(payload)
                rows.append(
                    (int(doc_id), len(payload), rate, ch, bits, n_frames, fmt,
                     [float(v) for v in feats])
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bytes", "sample_rate", "channels", "bits",
                         "n_frames", "format", "features"],
            )

    return narrow.mapInPandas(extract, schema=AUDIO_METADATA_SCHEMA)


def resample_audio(
    binary_df: DataFrame,
    new_rate: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resample every PCM payload to ``new_rate`` (row-local).

    Returns DataFrame[id, payload BINARY, resampled BOOLEAN]; non-PCM rows
    keep their original bytes with resampled=false (honest partial op,
    like resize_images' passthrough tier).
    """
    narrow = binary_df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("resampled", BooleanType()),
        ]
    )

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                out = resample_wav(payload, new_rate)
                rows.append((int(doc_id), out if out is not None else payload, out is not None))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "resampled"])

    return narrow.mapInPandas(work, schema=schema)
