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
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from make_golden_sketches import SPECS, build  # noqa: E402

from wordspell_spark.sketches import bloom, cms, freq, hll, kll, sample, serde, tdigest, theta  # noqa: E402


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
