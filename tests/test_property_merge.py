"""Hypothesis property tests for the sketch merge laws (north rule:
merge-associativity verified under pytest).  Pure kernels, no Spark.

Exact-state kinds (bloom, hll, cms) must satisfy associativity and
commutativity BIT-FOR-BIT; quantile kinds (kll, t-digest) are approximate by
design, so the law checked is bound preservation: any association order must
answer rank queries within the sketch's error bound of the exact answer.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wordspell_spark.sketches import SketchSpec, bloom, cms, freq, hll, kll, sample, tdigest, theta


ints = st.lists(st.integers(min_value=0, max_value=1_000_000), min_size=0, max_size=300)

_SETTINGS = dict(max_examples=40, deadline=None)


def _np(xs):
    return np.asarray(xs, dtype=np.int64)


class TestExactMergeLaws:
    @settings(**_SETTINGS)
    @given(ints, ints, ints)
    def test_bloom_associative_commutative(self, a, b, c):
        mk = lambda xs: bloom.update(bloom.create(n_estimate=2000, fpr=0.01), _np(xs))
        sa, sb, sc = mk(a), mk(b), mk(c)
        ab_c = bloom.merge(bloom.merge(sa.copy(), sb), sc)
        a_bc = bloom.merge(sa.copy(), bloom.merge(sb.copy(), sc))
        ba_c = bloom.merge(bloom.merge(sb.copy(), sa), sc)
        assert (ab_c.bits == a_bc.bits).all()
        assert (ab_c.bits == ba_c.bits).all()
        # zero false negatives always
        if a:
            assert bloom.contains(ab_c, _np(a)).all()

    @settings(**_SETTINGS)
    @given(ints, ints, ints)
    def test_hll_associative_commutative(self, a, b, c):
        mk = lambda xs: hll.update(hll.create(p=10), _np(xs))
        sa, sb, sc = mk(a), mk(b), mk(c)
        ab_c = hll.merge(hll.merge(sa, sb), sc)
        a_bc = hll.merge(sa, hll.merge(sb, sc))
        assert (ab_c.registers == a_bc.registers).all()
        # merge == single-pass build over the concatenation
        union = hll.update(hll.create(p=10), _np(a + b + c))
        assert (ab_c.registers == union.registers).all()

    @settings(**_SETTINGS)
    @given(ints, ints, ints)
    def test_cms_merge_linear(self, a, b, c):
        mk = lambda xs: cms.update(cms.create(width=512, depth=4), _np(xs))
        sa, sb, sc = mk(a), mk(b), mk(c)
        ab_c = cms.merge(cms.merge(sa, sb), sc)
        union = cms.update(cms.create(width=512, depth=4), _np(a + b + c))
        assert (ab_c.counts == union.counts).all()
        assert ab_c.total == union.total

    @settings(**_SETTINGS)
    @given(ints, ints, ints)
    def test_theta_associative_commutative(self, a, b, c):
        mk = lambda xs: theta.update(theta.create(k=64), _np(xs))
        sa, sb, sc = mk(a), mk(b), mk(c)
        ab_c = theta.merge(theta.merge(sa, sb), sc)
        a_bc = theta.merge(sa, theta.merge(sb, sc))
        cb_a = theta.merge(sc, theta.merge(sb, sa))
        assert (ab_c.hashes == a_bc.hashes).all()
        assert (ab_c.hashes == cb_a.hashes).all()
        # merge == single-pass build over the concatenation
        union = theta.update(theta.create(k=64), _np(a + b + c))
        assert (ab_c.hashes == union.hashes).all()
        # exact mode: estimate is exactly the distinct count
        distinct = len(set(a + b + c))
        if distinct < 64:
            assert theta.estimate(ab_c) == float(distinct)

    @settings(**_SETTINGS)
    @given(ints, ints, ints)
    def test_sample_associative_commutative_and_exact(self, a, b, c):
        mk = lambda xs: sample.update(sample.create(k=32), _np(xs))
        sa, sb, sc = mk(a), mk(b), mk(c)
        ab_c = sample.merge(sample.merge(sa, sb), sc)
        a_bc = sample.merge(sa, sample.merge(sb, sc))
        cb_a = sample.merge(sc, sample.merge(sb, sa))
        assert (ab_c.hashes == a_bc.hashes).all() and ab_c.values == a_bc.values
        assert (ab_c.hashes == cb_a.hashes).all() and ab_c.values == cb_a.values
        union = sample.update(sample.create(k=32), _np(a + b + c))
        assert (ab_c.hashes == union.hashes).all() and ab_c.values == union.values
        distinct = set(a + b + c)
        if len(distinct) < 32:
            assert set(sample.sample(ab_c)) == distinct  # exact mode IS the set
        else:
            assert set(sample.sample(ab_c)) <= distinct

    @settings(**_SETTINGS)
    @given(ints, ints)
    def test_serde_roundtrip_preserves_merge(self, a, b):
        for spec in [
            SketchSpec("bloom", {"n_estimate": 2000, "fpr": 0.01}),
            SketchSpec("hll", {"p": 10}),
            SketchSpec("cms", {"width": 512, "depth": 4}),
            SketchSpec("theta", {"k": 64}),
        ]:
            pa = spec.serialize(spec.update(spec.create(), _np(a)))
            pb = spec.serialize(spec.update(spec.create(), _np(b)))
            m1 = spec.merge_payloads([pa, pb])
            m2 = spec.merge_payloads([pb, pa])
            assert m1 == m2  # byte-stable commutativity through serde


class TestQuantileBoundPreservation:
    @settings(**_SETTINGS)
    @given(ints, ints, ints)
    def test_kll_rank_bound_any_association(self, a, b, c):
        all_vals = np.sort(_np(a + b + c))
        n = all_vals.size
        if n < 10:
            return
        mk = lambda xs: kll.update(kll.create(k=128), _np(xs))
        merged = [
            kll.merge(kll.merge(mk(a), mk(b)), mk(c)),
            kll.merge(mk(a), kll.merge(mk(b), mk(c))),
        ]
        eps = kll.error_bound(merged[0]) + 0.05
        for st_ in merged:
            for q in (0.25, 0.5, 0.9):
                est = float(kll.quantile(st_, [q])[0])
                # under ties the estimate's rank is an interval
                lo = np.searchsorted(all_vals, est, side="left") / n
                hi = np.searchsorted(all_vals, est, side="right") / n
                assert lo - eps - 1e-9 <= q <= hi + eps + 1e-9

    @settings(**_SETTINGS)
    @given(ints, ints)
    def test_tdigest_mean_and_bounds_preserved(self, a, b):
        vals = _np(a + b)
        if vals.size == 0:
            return
        sa = tdigest.update(tdigest.create(delta=100.0), _np(a))
        sb = tdigest.update(tdigest.create(delta=100.0), _np(b))
        m = tdigest.merge(sa, sb)
        assert m.n == vals.size
        assert m.min_v == vals.min() and m.max_v == vals.max()
        got_mean = float((m.means * m.weights).sum() / m.weights.sum())
        assert got_mean == pytest.approx(float(vals.mean()), rel=1e-9)

    @settings(**_SETTINGS)
    @given(
        st.lists(
            st.lists(st.floats(-1e9, 1e9, allow_nan=False), max_size=400), min_size=1, max_size=3
        ),
        st.sampled_from([10.0, 20.0, 50.0, 100.0, 200.0, 1000.0]),
    )
    def test_tdigest_payload_centroids_are_a_compression_fixed_point(self, parts, delta):
        """The reader rejects centroids that compress to something else, so
        every serialized digest (built or merged) must be a fixed point of
        ``_compress_arrays`` and re-serialize byte-identical."""
        states = [tdigest.update(tdigest.create(delta=delta), np.asarray(p_, dtype=np.float64)) for p_ in parts]
        merged = states[0]
        for s_ in states[1:]:
            merged = tdigest.merge(merged, s_)
        for s_ in [*states, merged]:
            payload = tdigest.serialize(s_)
            back = tdigest.deserialize(payload)
            means, weights = tdigest._compress_arrays(back.means, back.weights, delta)
            assert np.array_equal(means, back.means) and np.array_equal(weights, back.weights)
            assert tdigest.serialize(back) == payload


class TestFreqBoundPreservation:
    """Misra–Gries merge is approximate by design (which ties drop depends
    on association) — the preserved law is the MG guarantee itself."""

    @settings(**_SETTINGS)
    @given(ints, ints, ints)
    def test_freq_mg_bound_any_association(self, a, b, c):
        mk = lambda xs: freq.update(freq.create(k=16), _np(xs))
        merged = [
            freq.merge(freq.merge(mk(a), mk(b)), mk(c)),
            freq.merge(mk(a), freq.merge(mk(b), mk(c))),
            freq.merge(mk(c), freq.merge(mk(a), mk(b))),
        ]
        all_vals = _np(a + b + c)
        n = all_vals.size
        if n == 0:
            for m in merged:
                assert m.n == 0 and m.dec == 0 and not m.counters
            return
        uniq, true_counts = np.unique(all_vals, return_counts=True)
        for m in merged:
            assert m.n == n
            assert m.dec <= n // (16 + 1) + 1
            est = freq.query(m, uniq)
            assert (est <= true_counts).all()
            assert (true_counts - est <= m.dec).all()
