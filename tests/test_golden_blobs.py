"""Cross-version payload stability — pinned golden blobs per sketch kind.

Round-3 verdict item 8: same-process serialize→deserialize round trips can't
catch silent numpy/endianness/hash drift, because both directions drift
together.  These tests pin (a) the exact BYTES a deterministic build must
produce and (b) the query answers the stored fixture must yield, so either
side drifting alone — or both drifting together — fails loudly.  Regenerate
fixtures ONLY with an intentional serde.VERSION bump:
``python tools/make_golden_sketches.py``.
"""

from __future__ import annotations

import os
import struct
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from make_golden_sketches import SPECS, build  # noqa: E402

from wordspell_spark.sketches import (  # noqa: E402
    SketchSpec,
    bloom,
    cms,
    deserialize_any,
    freq,
    hll,
    kll,
    sample,
    serde,
    tdigest,
    theta,
)


FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _stored(kind: str) -> bytes:
    with open(os.path.join(FIXTURES, f"golden_{kind}.bin"), "rb") as f:
        return f.read()


@pytest.mark.parametrize("kind", sorted(SPECS))
def test_deterministic_build_is_byte_identical(kind):
    """The full chain — hashing, accumulation, serialization layout — must
    reproduce the pinned bytes exactly on today's numpy/python."""
    assert build(kind) == _stored(kind), (
        f"{kind} payload drifted from the golden fixture; if the format "
        f"changed intentionally, bump serde.VERSION and regenerate"
    )


@pytest.mark.parametrize("kind", sorted(SPECS))
def test_stored_blob_roundtrips_through_merge(kind):
    """The fixture must stay consumable by merge_payloads (the UDAF
    contract): merging a blob with itself is well-defined for every kind."""
    spec, _ = SPECS[kind]
    merged = spec.merge_payloads([_stored(kind), _stored(kind)])
    assert isinstance(merged, bytes) and len(merged) > 12


@pytest.mark.parametrize("kind_id", [0, 9, 255])
@pytest.mark.parametrize("kind", sorted(SPECS))
def test_unknown_kind_byte_is_a_format_error(kind, kind_id):
    """A kind id outside KIND_* is a corrupt payload, never a KeyError."""
    blob = bytearray(_stored(kind))
    blob[5] = kind_id  # magic 4, version 1, then the kind byte
    with pytest.raises(serde.SketchFormatError, match=f"unknown sketch kind {kind_id}"):
        deserialize_any(bytes(blob))


@pytest.mark.parametrize("cut", ["+1", "+8", "-1", "-8", "no body"])
@pytest.mark.parametrize("kind", sorted(SPECS))
def test_body_length_is_checked_exactly(kind, cut):
    """Trailing bytes and a short body are a corrupt payload: the reader
    checks the exact body length instead of reading a prefix of it (or
    failing inside numpy/struct with a bare error)."""
    blob = _stored(kind)
    if cut == "no body":
        blob = blob[: len(blob) - len(serde.unpack_header_full(blob)[3])]
    elif cut[0] == "+":
        blob = blob + b"\x00" * int(cut[1:])
    else:
        blob = blob[: int(cut)]
    with pytest.raises(serde.SketchFormatError):
        deserialize_any(blob)


@pytest.mark.parametrize("kind", ["freq", "sample"])
def test_invalid_utf8_item_is_a_format_error(kind):
    """A str item that is not UTF-8 is a corrupt payload, never a bare
    UnicodeDecodeError."""
    blob = bytearray(_stored(kind))
    blob[blob.index(b"tok")] = 0xFF  # first byte of a stored item; never UTF-8
    with pytest.raises(serde.SketchFormatError, match="not UTF-8"):
        deserialize_any(bytes(blob))


def _mutants(blob: bytes, seed: int):
    """xor 0x01 / 0xFF at up to 400 sampled positions (every header and
    params byte included), appends of 1 and 8 bytes, and 60 truncations."""
    rng = np.random.default_rng(seed)
    pos = np.arange(len(blob))
    if len(blob) > 400:
        pos = np.union1d(np.arange(32), rng.choice(len(blob), 368, replace=False))
    for p in pos.tolist():
        for x in (0x01, 0xFF):
            m = bytearray(blob)
            m[p] ^= x
            yield bytes(m)
    yield blob + b"\x00"
    yield blob + b"\x00" * 8
    for cut in np.unique(np.linspace(0, len(blob) - 1, 60).astype(int)).tolist():
        yield blob[:cut]


@pytest.mark.parametrize("kind", sorted(SPECS))
def test_golden_blob_fuzz_only_format_errors_and_canonical_states(kind):
    """Every mutant of a golden blob either raises SketchFormatError (no
    struct.error, bare ValueError, numpy error or RuntimeWarning) or is a
    state its serializer writes back byte-identical: one encoding per
    state, so a corrupted partial cannot merge in normalized form."""
    for i, m in enumerate(_mutants(_stored(kind), seed=len(kind))):
        try:
            name, state = deserialize_any(m)
        except serde.SketchFormatError:
            continue
        assert SketchSpec(name).serialize(state) == m, f"mutant {i} accepted in a non-canonical form"


@pytest.mark.parametrize("delta", [-1, +1])
@pytest.mark.parametrize("kind", sorted(SPECS))
def test_params_block_size_is_checked_exactly(kind, delta):
    """A params block one byte short or long is a format error, never a
    struct.error from unpacking it."""
    got, flags, params, body = serde.unpack_header_full(_stored(kind))
    params = params[:-1] if delta < 0 else params + b"\x00"
    with pytest.raises(serde.SketchFormatError, match="params block"):
        deserialize_any(serde.pack_header(got, params, flags) + bytes(body))


def _forms(kind: str, state) -> tuple[bytes, bytes]:
    """(dense body, sparse body) of a bloom / hll / cms state, by hand."""
    if kind == "bloom":
        return np.packbits(state.bits, bitorder="little").tobytes(), serde.pack_sparse(np.flatnonzero(state.bits))
    if kind == "hll":
        nz = np.flatnonzero(state.registers)
        words = (nz.astype(np.uint32) << np.uint32(6)) | state.registers[nz]
        return state.registers.tobytes(), serde.pack_sparse(words)
    flat, total = state.counts.reshape(-1), struct.pack("<q", state.total)
    nz = np.flatnonzero(flat)
    return total + flat.astype("<i8").tobytes(), total + serde.pack_sparse(nz, flat[nz])


@pytest.mark.parametrize(
    "spec",
    [
        SketchSpec("bloom", {"n_estimate": 200_000, "fpr": 0.01}),
        SketchSpec("hll", {"p": 14}),
        SketchSpec("cms", {"width": 4096, "depth": 4}),
    ],
    ids=lambda spec: spec.kind,
)
@pytest.mark.parametrize("n", [1, 50_000])
def test_only_the_form_serialize_picks_is_read(spec, n):
    """A nearly empty bloom / hll / cms serializes sparse and a full one
    dense; the same state in the other form is a format error, not a
    second encoding of it."""
    state = spec.update(spec.create(), np.arange(n))
    payload = spec.serialize(state)
    kind, flags, params, _ = serde.unpack_header_full(payload)
    dense, sparse = _forms(spec.kind, state)
    assert flags == (serde.FLAG_SPARSE if n == 1 else 0)
    assert payload.endswith(sparse if flags else dense)  # the hand-built forms are right
    other = serde.pack_header(kind, params, flags ^ serde.FLAG_SPARSE) + (dense if flags else sparse)
    with pytest.raises(serde.SketchFormatError, match="form serialize picks"):
        spec.deserialize(other)


def test_sparse_cms_zero_cell_is_a_format_error():
    """serialize drops zero cells, so a stored zero is corruption."""
    blob = _stored("cms_sparse")
    with pytest.raises(serde.SketchFormatError, match="zero cell"):
        deserialize_any(blob[:-8] + b"\x00" * 8)  # the last i64 value


def test_sparse_geometry_above_the_cap_is_a_format_error():
    """A few dozen sparse bytes cannot name a state larger than 128 MB:
    a geometry one step past the cap is rejected before any allocation."""
    one = serde.pack_sparse(np.array([0], dtype=np.uint32), np.array([1]))
    big_cms = serde.pack_header(
        serde.KIND_CMS, cms._PARAMS.pack(cms._MAX_SPARSE_CELLS + 1, 1), serde.FLAG_SPARSE
    ) + cms._TOTAL.pack(1) + one
    big_bloom = serde.pack_header(
        serde.KIND_BLOOM, bloom._PARAMS.pack(bloom._MAX_SPARSE_M + 64, 3), serde.FLAG_SPARSE
    ) + serde.pack_sparse(np.array([0], dtype=np.uint32))
    assert (cms._MAX_SPARSE_CELLS, bloom._MAX_SPARSE_M) == (1 << 24, 1 << 27)
    for blob in (big_cms, big_bloom):
        assert len(blob) < 64
        with pytest.raises(serde.SketchFormatError, match="above cap"):
            deserialize_any(blob)


@pytest.mark.parametrize("kind", ["bloom_sparse", "hll_sparse", "cms_sparse"])
def test_sparse_fixtures_carry_the_sparse_form(kind):
    """The *_sparse blobs pin the sparse body, not a second dense one."""
    _, flags, _, _ = serde.unpack_header_full(_stored(kind))
    assert flags == serde.FLAG_SPARSE


def test_bloom_golden_queries():
    state = SPECS["bloom"][0].deserialize(_stored("bloom"))
    got = bloom.contains(state, ["tok1", "tok996", "never-seen-A", "never-seen-B"])
    assert got.tolist() == [True, True, False, False]


def test_hll_golden_estimate():
    state = SPECS["hll"][0].deserialize(_stored("hll"))
    assert hll.estimate(state) == pytest.approx(505.569, abs=1e-3)


def test_cms_golden_counts():
    state = SPECS["cms"][0].deserialize(_stored("cms"))
    assert cms.query(state, ["tok0", "tok1", "tok16"]).tolist() == [16, 21, 11]


def test_kll_golden_quantiles():
    state = SPECS["kll"][0].deserialize(_stored("kll"))
    got = kll.quantile(state, [0.1, 0.5, 0.9])
    assert np.allclose(got, [-133.66666667, 0.33333333, 130.66666667], atol=1e-6)


def test_tdigest_golden_quantiles():
    state = SPECS["tdigest"][0].deserialize(_stored("tdigest"))
    got = tdigest.quantile(state, [0.1, 0.5, 0.9])
    assert np.allclose(got, [-133.504077, -0.166667, 133.170744], atol=1e-5)


def test_theta_golden_estimate():
    state = SPECS["theta"][0].deserialize(_stored("theta"))
    assert not theta.is_exact(state)  # k=256 < 499 distinct tokens
    assert theta.estimate(state) == pytest.approx(491.782, abs=1e-3)
    # a sketch intersected with itself estimates its own cardinality
    assert theta.intersect_estimate(state, state) == pytest.approx(theta.estimate(state), rel=1e-6)


def test_freq_golden_counts():
    state = SPECS["freq"][0].deserialize(_stored("freq"))
    assert (state.n, state.dec) == (5000, 10)
    assert freq.query(state, ["tok0", "tok1", "tok16"]).tolist() == [0, 1, 1]


def test_sample_golden():
    state = SPECS["sample"][0].deserialize(_stored("sample"))
    assert not sample.is_exact(state)  # k=128 < 499 distinct tokens
    assert sample.estimate(state) == pytest.approx(521.858, abs=1e-3)
    assert sample.sample(state)[:3] == ["tok760", "tok738", "tok565"]
    # the retained hash set must equal a theta build at the same k
    th = theta.update(theta.create(k=128), SPECS["sample"][1][:2500])
    theta.update(th, SPECS["sample"][1][2500:])
    assert (state.hashes == th.hashes).all()


def test_int_item_fixtures():
    """freq_int / sample_int pin the int form of the item block."""
    fr = SPECS["freq_int"][0].deserialize(_stored("freq_int"))
    assert (fr.n, fr.dec) == (5000, 10)
    assert freq.query(fr, [0, 1, 16]).tolist() == [0, 1, 1]
    sm = SPECS["sample_int"][0].deserialize(_stored("sample_int"))
    assert sample.sample(sm)[:3] == [0, 636, 933]
    assert sample.estimate(sm) == pytest.approx(559.904, abs=1e-3)


@pytest.mark.parametrize("kind", ["sample", "sample_int"])
def test_sample_value_must_hash_to_its_key(kind):
    """One flipped bit in a stored value ("tok760" -> "tok761", 0 -> 1)
    leaves a well-formed body whose value no longer hashes to its key: a
    corrupt payload, not a state that merges silently and re-serializes
    byte-identical."""
    blob = bytearray(_stored(kind))
    first = sample.deserialize(bytes(blob)).values[0]
    if isinstance(first, str):
        blob[blob.index(first.encode()) + len(first) - 1] ^= 1
    else:
        blob[len(blob) - 8 * sample.deserialize(bytes(blob)).hashes.size] ^= 1
    with pytest.raises(serde.SketchFormatError, match="does not hash to its key"):
        sample.deserialize(bytes(blob))
