"""Kernel unit + property tests (no Spark needed — pure numpy).

Mirrors the reference's component tests
(/root/reference/components/bloomfilter/component_test.go:11-29 add→test
roundtrip) and adds the north-rule-mandated merge-associativity and
error-bound properties (BASELINE.json north_rule, SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pytest

from wordspell_spark.sketches import (
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


RNG = np.random.default_rng(42)


# ---------------------------------------------------------------- bloom

class TestBloom:
    def test_add_then_test_zero_false_negatives(self):
        words = np.array([f"word-{i}" for i in range(5000)], dtype=object)
        st = bloom.create(n_estimate=5000, fpr=0.01)
        bloom.update(st, words)
        assert bloom.contains(st, words).all(), "bloom must have zero false negatives"

    def test_fpr_within_configured_bound(self):
        n = 20_000
        members = np.array([f"in-{i}" for i in range(n)], dtype=object)
        probes = np.array([f"out-{i}" for i in range(n * 5)], dtype=object)
        st = bloom.create(n_estimate=n, fpr=0.01)
        bloom.update(st, members)
        fp = bloom.contains(st, probes).mean()
        assert fp <= 0.02, f"observed FPR {fp:.4f} > 2x configured 0.01"

    def test_merge_is_union_and_bit_associative(self):
        a_vals = np.array([f"a{i}" for i in range(1000)], dtype=object)
        b_vals = np.array([f"b{i}" for i in range(1000)], dtype=object)
        c_vals = np.array([f"c{i}" for i in range(1000)], dtype=object)
        mk = lambda vals: bloom.update(bloom.create(4000, 0.01), vals)
        a, b, c = mk(a_vals), mk(b_vals), mk(c_vals)
        ab_c = bloom.merge(bloom.merge(a, b), c)
        a_bc = bloom.merge(a, bloom.merge(b, c))
        ba_c = bloom.merge(bloom.merge(b, a), c)
        assert (ab_c.bits == a_bc.bits).all()
        assert (ab_c.bits == ba_c.bits).all()
        # identity: merge with empty filter is a no-op
        empty = bloom.create(4000, 0.01)
        assert (bloom.merge(a, empty).bits == a.bits).all()
        # union semantics: everything from all three present
        allv = np.concatenate([a_vals, b_vals, c_vals])
        assert bloom.contains(ab_c, allv).all()

    def test_geometry_mismatch_rejected(self):
        with pytest.raises(serde.SketchFormatError):
            bloom.merge(bloom.create(100, 0.01), bloom.create(100000, 0.01))

    def test_serde_roundtrip(self):
        st = bloom.update(bloom.create(1000, 0.005), np.array(["x", "y"], dtype=object))
        rt = bloom.deserialize(bloom.serialize(st))
        assert (rt.bits == st.bits).all() and rt.m == st.m and rt.k == st.k
        assert bloom.serialize(rt) == bloom.serialize(st)  # byte-stable

    def test_int_and_u32row_paths(self):
        tokens = RNG.integers(0, 50_000, size=3000)
        st = bloom.create(3000, 0.01)
        bloom.update(st, tokens)
        assert bloom.contains(st, tokens).all()
        # row path: 3-grams as uint32 matrix
        mat = RNG.integers(0, 50_000, size=(500, 3)).astype(np.uint32)
        from wordspell_spark.sketches.hashing import row_hash_u32_matrix

        st2 = bloom.update_hashes(bloom.create(500, 0.01), row_hash_u32_matrix(mat))
        assert bloom.contains_hashes(st2, row_hash_u32_matrix(mat)).all()

    def test_padding_does_not_alias(self):
        """Rows equal after padding but with different valid lengths differ."""
        from wordspell_spark.sketches.hashing import row_hash_u32_matrix

        mat = np.array([[5, 7, 0], [5, 7, 0]], dtype=np.uint32)
        h = row_hash_u32_matrix(mat, valid_len=np.array([2, 3]))
        assert h[0] != h[1]

    def test_repeated_hashes_build_same_filter(self):
        """update_hashes never dedupes: repeated keys must build the exact
        filter their np.unique builds — the deletion-bloom path relies on
        bit-set idempotence."""
        h = RNG.integers(0, 2**63, size=20_000, dtype=np.uint64)
        h = np.concatenate([h, h[:5000]])  # real duplicates too
        a = bloom.update_hashes(bloom.create(20_000, 0.01), h)
        b = bloom.update_hashes(bloom.create(20_000, 0.01), np.unique(h))
        assert bloom.serialize(a) == bloom.serialize(b)

    def test_float_dedupe_keeps_bit_distinct_values(self):
        """±0.0 hash differently (bit-pattern hash); the idempotent-update
        dedupe must not collapse them (round-2 ADVICE, hll.py:84)."""
        from wordspell_spark.sketches.hashing import double_hash

        vals = np.array([0.0, -0.0, 0.0, -0.0, 1.5])
        st = bloom.update(bloom.create(64, 0.01), vals)
        ref = bloom.create(64, 0.01)  # no-dedupe reference: one value at a time
        for v in [0.0, -0.0, 1.5]:
            h1, h2 = double_hash(np.array([v]))
            bloom._set_bits(ref, h1, h2)
        assert (st.bits == ref.bits).all()
        # HLL: two bit-distinct zeros count as two distinct values
        sh = hll.update(hll.create(p=12), np.array([0.0, -0.0, 0.0, -0.0]))
        ref_h = hll.update_unique_hashes(hll.create(p=12), np.concatenate(
            [self._hash1(0.0), self._hash1(-0.0)]))
        assert (sh.registers == ref_h.registers).all()

    @staticmethod
    def _hash1(v: float) -> np.ndarray:
        from wordspell_spark.sketches.hashing import hash64

        return hash64(np.array([v]))


# ---------------------------------------------------------------- hll

class TestHll:
    def test_estimate_within_rse_bound(self):
        for true_n in (100, 5_000, 200_000):
            vals = np.array([f"v{i}" for i in range(true_n)], dtype=object)
            st = hll.create(p=14)
            hll.update(st, vals)
            est = hll.estimate(st)
            tol = 4 * hll.rse(st)  # 4 sigma
            assert abs(est - true_n) <= tol * true_n + 2, f"n={true_n} est={est}"

    def test_merge_bit_associative_commutative(self):
        chunks = [np.array([f"{c}-{i}" for i in range(4000)], dtype=object) for c in "abc"]
        sts = [hll.update(hll.create(12), ch) for ch in chunks]
        m1 = hll.merge(hll.merge(sts[0], sts[1]), sts[2])
        m2 = hll.merge(sts[0], hll.merge(sts[1], sts[2]))
        m3 = hll.merge(sts[2], hll.merge(sts[1], sts[0]))
        assert (m1.registers == m2.registers).all()
        assert (m1.registers == m3.registers).all()
        # idempotent: merging a sketch with itself changes nothing
        assert (hll.merge(m1, m1).registers == m1.registers).all()

    def test_merge_equals_union_build(self):
        a = np.array([f"x{i}" for i in range(3000)], dtype=object)
        b = np.array([f"x{i}" for i in range(1500, 4500)], dtype=object)  # overlap
        st_merged = hll.merge(hll.update(hll.create(13), a), hll.update(hll.create(13), b))
        st_direct = hll.update(hll.update(hll.create(13), a), b)
        assert (st_merged.registers == st_direct.registers).all()

    def test_small_range_linear_counting(self):
        st = hll.update(hll.create(14), np.arange(10))
        assert abs(hll.estimate(st) - 10) < 1.0

    def test_serde_roundtrip(self):
        st = hll.update(hll.create(10), np.arange(1000))
        rt = hll.deserialize(hll.serialize(st))
        assert rt.p == st.p and (rt.registers == st.registers).all()

    def test_sparse_wire_form(self):
        """Nearly-empty sketches serialize sparse (the many-groups shuffle
        payload optimization); registers round-trip exactly, mixed
        sparse/dense merges are bit-identical, and both forms are
        serialize-stable."""
        small = hll.update(hll.create(p=14), np.arange(30))
        ps = hll.serialize(small)
        assert len(ps) < 200 < (1 << 14)  # ~120x under the dense form
        rt = hll.deserialize(ps)
        assert rt.p == small.p and (rt.registers == small.registers).all()
        assert hll.serialize(rt) == ps  # stable

        big = hll.update(hll.create(p=10), np.arange(100_000))
        pb = hll.serialize(big)
        assert len(pb) == 12 + 1 + (1 << 10)  # full sketches stay dense
        assert hll.serialize(hll.deserialize(pb)) == pb

        spec = SketchSpec("hll", {"p": 10})
        tiny = spec.serialize(spec.update(spec.create(), np.arange(5)))
        merged = spec.deserialize(spec.merge_payloads([tiny, pb]))
        direct = hll.merge(hll.deserialize(tiny), hll.deserialize(pb))
        assert (merged.registers == direct.registers).all()

        # estimates agree through the sparse form
        assert hll.estimate(rt) == hll.estimate(small)

    def test_sparse_wire_rejects_corruption(self):
        ps = hll.serialize(hll.update(hll.create(p=12), np.arange(10)))
        for bad in (ps[: len(ps) // 2], ps[:13], ps + b"xx"):
            with pytest.raises((serde.SketchFormatError, ValueError)):
                hll.deserialize(bad)
        # a flagged payload must not slip through a flag-naive reader
        with pytest.raises(serde.SketchFormatError):
            serde.unpack(ps, serde.KIND_HLL, hll._PARAMS)

    def test_sparse_wire_rejects_crafted_corruption(self):
        """Duplicated indices and out-of-range ranks must raise, not
        silently corrupt registers (review finding: dup idx dropped a
        register and rank=63 inflated every downstream union estimate)."""
        import struct

        st = hll.update(hll.create(p=12), np.arange(10))
        p = hll.serialize(st)
        _, _, params, body = serde.unpack_header_full(p)
        (n,) = struct.unpack_from("<I", bytes(body), 0)
        packed = np.frombuffer(bytes(body)[4:], dtype="<u4").copy()
        dup = packed.copy()
        dup[1] = dup[0]
        bad = serde.pack_header(serde.KIND_HLL, params, serde.FLAG_SPARSE) + struct.pack("<I", n) + dup.tobytes()
        with pytest.raises(serde.SketchFormatError):
            hll.deserialize(bad)
        hi = packed.copy()
        hi[0] = (hi[0] & ~np.uint32(0x3F)) | np.uint32(63)  # max legal for p=12 is 53
        bad = serde.pack_header(serde.KIND_HLL, params, serde.FLAG_SPARSE) + struct.pack("<I", n) + hi.tobytes()
        with pytest.raises(serde.SketchFormatError):
            hll.deserialize(bad)


class TestSparseWireForms:
    """Bloom and CMS sparse payloads (the many-groups shuffle optimization,
    same header flag as HLL's): nearly-empty partials shrink 85x / 1000x+;
    bits/counts round-trip exactly, mixed sparse/dense merges are
    bit-identical, full sketches stay dense, corruption rejects loudly."""

    def test_bloom_sparse(self):
        st = bloom.create(200_000, 0.005)
        bloom.update(st, np.array([f"t{i}" for i in range(100)], dtype=object))
        p = bloom.serialize(st)
        assert len(p) < st.m // 8 // 50  # >50x under dense
        rt = bloom.deserialize(p)
        assert (rt.m, rt.k) == (st.m, st.k) and (rt.bits == st.bits).all()
        assert bloom.serialize(rt) == p
        assert bloom.contains(rt, np.array(["t5", "t99", "absent"], dtype=object)).tolist() == [True, True, False]
        full = bloom.update(bloom.create(1000, 0.01), np.arange(1000))
        pf = bloom.serialize(full)
        assert len(pf) >= full.m // 8  # saturated filter stays dense
        spec = SketchSpec("bloom", {"n_estimate": 1000, "fpr": 0.01})
        tiny = spec.serialize(spec.update(spec.create(), np.arange(5)))
        merged = spec.deserialize(spec.merge_payloads([tiny, pf]))
        assert (merged.bits == (bloom.deserialize(tiny).bits | full.bits)).all()
        for bad in (p[: len(p) // 2], p + b"xy"):
            with pytest.raises((serde.SketchFormatError, ValueError)):
                bloom.deserialize(bad)

    def test_cms_sparse(self):
        st = cms.create(eps=1e-4, delta=1e-3)
        cms.update(st, np.array([1, 1, 2, 3]))
        p = cms.serialize(st)
        assert len(p) < 8 * st.counts.size // 1000  # >1000x under dense
        rt = cms.deserialize(p)
        assert rt.total == st.total and (rt.counts == st.counts).all()
        assert cms.serialize(rt) == p
        assert cms.query(rt, np.array([1, 2, 3, 99])).tolist() == cms.query(st, np.array([1, 2, 3, 99])).tolist()
        full = cms.update(cms.create(width=64, depth=3), np.arange(5000))
        pf = cms.serialize(full)
        assert (cms.deserialize(pf).counts == full.counts).all()
        spec = SketchSpec("cms", {"width": 64, "depth": 3})
        mixed = spec.deserialize(spec.merge_payloads([p_sp := cms.serialize(cms.update(cms.create(width=64, depth=3), np.array([7]))), pf]))
        direct = cms.merge(cms.deserialize(p_sp), full)
        assert (mixed.counts == direct.counts).all() and mixed.total == direct.total
        for bad in (p[: len(p) // 2], p + b"xy"):
            with pytest.raises((serde.SketchFormatError, ValueError)):
                cms.deserialize(bad)

    def test_mutation_fuzz_never_crashes_or_allocates_big(self):
        """Deterministic byte-flip fuzz over every kind's valid payloads
        (dense and sparse forms): deserialize must either raise a
        SketchFormatError or return a state that re-serializes to the
        mutated bytes — never crash the interpreter, hang, attempt a giant
        allocation (the caps added for the crafted-corruption findings make
        this a testable contract) or normalize a body into another one."""
        import itertools

        rng = np.random.default_rng(99)
        payloads = []
        for kind, params, data in [
            ("bloom", {"n_estimate": 1000, "fpr": 0.01}, np.arange(500)),  # dense-ish
            ("bloom", {"n_estimate": 100_000, "fpr": 0.005}, np.arange(40)),  # sparse
            ("hll", {"p": 12}, np.arange(2000)),
            ("hll", {"p": 14}, np.arange(20)),  # sparse
            ("cms", {"width": 128, "depth": 3}, np.arange(500)),
            ("cms", {"eps": 1e-4, "delta": 1e-3}, np.arange(5)),  # sparse
            ("kll", {"k": 64}, np.arange(500).astype(float)),
            ("tdigest", {"delta": 50.0}, np.arange(500).astype(float)),
            ("theta", {"k": 64}, np.arange(500)),
            ("freq", {"k": 16}, np.arange(500) % 37),
            ("sample", {"k": 64}, np.arange(500)),
        ]:
            spec = SketchSpec(kind, params)
            payloads.append((spec, spec.serialize(spec.update(spec.create(), data))))
        for (spec, p), _trial in itertools.product(payloads, range(60)):
            buf = bytearray(p)
            for _ in range(int(rng.integers(1, 5))):
                buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
            try:
                st = spec.deserialize(bytes(buf))
            except serde.SketchFormatError:
                continue
            # accepted: one encoding per state, so the state re-serializes
            # to exactly the accepted bytes
            assert spec.serialize(st) == bytes(buf)

    def test_corrupt_geometry_cannot_force_giant_allocation(self):
        """A ~30-byte payload lying about m / width*depth must raise before
        the dense in-memory array is allocated (review finding: a claimed
        m=2^40 attempted a 1 TB np.zeros)."""
        import struct

        bad_bloom = serde.pack_header(
            serde.KIND_BLOOM, struct.pack("<QI", 1 << 40, 7), serde.FLAG_SPARSE
        ) + struct.pack("<I", 1) + struct.pack("<I", 5)
        with pytest.raises(serde.SketchFormatError):
            bloom.deserialize(bad_bloom)
        bad_cms = serde.pack_header(
            serde.KIND_CMS, struct.pack("<II", 1 << 31, 1 << 10), serde.FLAG_SPARSE
        ) + struct.pack("<qI", 0, 0)
        with pytest.raises(serde.SketchFormatError):
            cms.deserialize(bad_cms)

    def test_hll_precision_outside_create_bounds_is_rejected(self):
        """An empty sparse hll body with p=60 would allocate 2^60 registers;
        p is held to create()'s [4, 18] before anything is allocated."""
        import struct

        for p in (3, 19, 60):
            bad = serde.pack_header(serde.KIND_HLL, struct.pack("<B", p), serde.FLAG_SPARSE) + struct.pack("<I", 0)
            with pytest.raises(serde.SketchFormatError, match="p out of range"):
                hll.deserialize(bad)

    def test_bloom_bit_count_not_a_multiple_of_8(self):
        """packbits pads the last byte, so a filter of m % 8 != 0 bits must
        read back from ceil(m/8) bytes; an m that disagrees with the body
        (here m+1 on a 1024-bit filter) is rejected, not accepted with a
        bit array one short of m."""
        st = bloom.update(bloom.create(m=1001, k=3), np.arange(400))
        p = bloom.serialize(st)
        rt = bloom.deserialize(p)
        assert rt.bits.size == 1001 and (rt.bits == st.bits).all()
        assert bloom.serialize(rt) == p
        bad = bytearray(bloom.serialize(bloom.update(bloom.create(m=1024, k=3), np.arange(400))))
        bad[12] ^= 1  # m (u64 right after the 12-byte header): 1024 -> 1025
        with pytest.raises(serde.SketchFormatError):
            bloom.deserialize(bytes(bad))


# ---------------------------------------------------------------- cms

class TestCms:
    def test_never_undercounts_and_eps_bound(self):
        zipf = RNG.zipf(1.3, size=200_000).clip(max=10_000)
        st = cms.create(eps=1e-3, delta=1e-3)
        cms.update(st, zipf)
        uniq, true_counts = np.unique(zipf, return_counts=True)
        est = cms.query(st, uniq)
        assert (est >= true_counts).all(), "CMS must never undercount"
        bound = cms.error_bound(st)
        frac_over = ((est - true_counts) > bound).mean()
        assert frac_over <= 1e-3 + 0.01, f"{frac_over:.4f} of keys exceed eps*N bound"

    def test_weighted_update_matches_repeat(self):
        from wordspell_spark.sketches.hashing import hash64

        st1 = cms.create(width=1000, depth=4)
        cms.update(st1, np.array([7, 7, 7, 9]))
        st2 = cms.create(width=1000, depth=4)
        cms.update_unique_hashes(st2, hash64(np.array([7, 9])), np.array([3, 1]))
        assert (st1.counts == st2.counts).all() and st1.total == st2.total

    def test_merge_linear_and_associative(self):
        batches = [RNG.integers(0, 1000, size=5000) for _ in range(3)]
        mk = lambda b: cms.update(cms.create(width=2000, depth=5), b)
        a, b, c = (mk(x) for x in batches)
        m1 = cms.merge(cms.merge(a, b), c)
        m2 = cms.merge(a, cms.merge(b, c))
        assert (m1.counts == m2.counts).all() and m1.total == m2.total
        direct = cms.update(cms.update(mk(batches[0]), batches[1]), batches[2])
        assert (m1.counts == direct.counts).all()

    def test_serde_roundtrip(self):
        st = cms.update(cms.create(width=100, depth=3), np.arange(50))
        rt = cms.deserialize(cms.serialize(st))
        assert (rt.counts == st.counts).all() and rt.total == st.total


# ---------------------------------------------------------------- kll

class TestKll:
    def test_rank_error_bound(self):
        data = RNG.normal(size=100_000)
        st = kll.update(kll.create(k=200), data)
        qs = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
        est = kll.quantile(st, qs)
        sorted_d = np.sort(data)
        true_ranks = np.searchsorted(sorted_d, est) / data.size
        err = np.abs(true_ranks - qs)
        assert err.max() <= kll.error_bound(st), f"rank errors {err}"

    def test_merge_preserves_bound_all_associations(self):
        parts = [RNG.normal(loc=i, size=30_000) for i in range(3)]
        sts = [kll.update(kll.create(k=200), p) for p in parts]
        alldata = np.sort(np.concatenate(parts))
        for merged in (
            kll.merge(kll.merge(sts[0], sts[1]), sts[2]),
            kll.merge(sts[0], kll.merge(sts[1], sts[2])),
            kll.merge(sts[2], kll.merge(sts[0], sts[1])),
        ):
            assert merged.n == alldata.size
            qs = np.array([0.1, 0.5, 0.9])
            est = kll.quantile(merged, qs)
            true_ranks = np.searchsorted(alldata, est) / alldata.size
            assert np.abs(true_ranks - qs).max() <= 2 * kll.error_bound(merged)

    def test_exact_when_small(self):
        data = np.arange(100, dtype=float)
        st = kll.update(kll.create(k=200), data)
        assert kll.quantile(st, 0.0)[0] == 0.0
        assert kll.quantile(st, 1.0)[0] == 99.0
        assert abs(kll.quantile(st, 0.5)[0] - 50.0) <= 1.0

    def test_deterministic(self):
        data = RNG.permutation(50_000).astype(float)
        s1 = kll.update(kll.create(k=150), data.copy())
        s2 = kll.update(kll.create(k=150), data.copy())
        assert kll.serialize(s1) == kll.serialize(s2)

    def test_serde_roundtrip(self):
        st = kll.update(kll.create(k=120), RNG.normal(size=10_000))
        rt = kll.deserialize(kll.serialize(st))
        assert rt.n == st.n
        assert (kll.quantile(rt, np.linspace(0, 1, 11)) == kll.quantile(st, np.linspace(0, 1, 11))).all()


# ---------------------------------------------------------------- tdigest

class TestTDigest:
    def test_rank_error_bound(self):
        data = RNG.exponential(size=100_000)
        st = tdigest.update(tdigest.create(delta=200), data)
        qs = np.array([0.001, 0.01, 0.1, 0.5, 0.9, 0.99, 0.999])
        est = tdigest.quantile(st, qs)
        sorted_d = np.sort(data)
        true_ranks = np.searchsorted(sorted_d, est) / data.size
        err = np.abs(true_ranks - qs)
        # k1 scale: error ~ q(1-q); assert generous uniform cap + tight tails
        assert err.max() <= 0.02, f"rank errors {err}"
        assert err[0] <= 0.002 and err[-1] <= 0.002, "tails must be tight"

    def test_merge_preserves_bound_all_associations(self):
        parts = [RNG.normal(loc=3 * i, size=40_000) for i in range(3)]
        sts = [tdigest.update(tdigest.create(delta=200), p) for p in parts]
        alldata = np.sort(np.concatenate(parts))
        for merged in (
            tdigest.merge(tdigest.merge(sts[0], sts[1]), sts[2]),
            tdigest.merge(sts[0], tdigest.merge(sts[1], sts[2])),
            tdigest.merge(sts[1], tdigest.merge(sts[2], sts[0])),
        ):
            assert merged.n == alldata.size
            qs = np.array([0.05, 0.5, 0.95])
            est = tdigest.quantile(merged, qs)
            true_ranks = np.searchsorted(alldata, est) / alldata.size
            assert np.abs(true_ranks - qs).max() <= 0.03

    def test_centroid_count_bounded(self):
        st = tdigest.update(tdigest.create(delta=100), RNG.normal(size=500_000))
        rt = tdigest.deserialize(tdigest.serialize(st))
        assert rt.means.size <= 2 * 100 + 20, f"{rt.means.size} centroids for delta=100"

    def test_weighted_mean_preserved(self):
        data = RNG.uniform(size=50_000)
        st = tdigest.update(tdigest.create(delta=200), data)
        rt = tdigest.deserialize(tdigest.serialize(st))
        approx_mean = float((rt.means * rt.weights).sum() / rt.weights.sum())
        assert abs(approx_mean - data.mean()) < 1e-9

    def test_serde_roundtrip(self):
        st = tdigest.update(tdigest.create(delta=150), RNG.normal(size=20_000))
        rt = tdigest.deserialize(tdigest.serialize(st))
        q = np.array([0.25, 0.5, 0.75])
        assert np.allclose(tdigest.quantile(rt, q), tdigest.quantile(st, q))


# ---------------------------------------------------------------- registry / spec

class TestTheta:
    def test_estimate_within_rse_bound(self):
        for true_n in (100, 5_000, 100_000):
            vals = np.array([f"v{i}" for i in range(true_n)], dtype=object)
            st = theta.update(theta.create(k=4096), vals)
            tol = 4 * theta.rse(st)  # 4 sigma; rse() is 0 in exact mode
            assert abs(theta.estimate(st) - true_n) <= tol * true_n + 1e-9

    def test_exact_mode_below_k(self):
        st = theta.update(theta.create(k=1024), np.arange(700))
        assert theta.is_exact(st) and theta.estimate(st) == 700.0
        # duplicates don't advance it out of exact mode
        theta.update(st, np.arange(700))
        assert theta.estimate(st) == 700.0

    def test_merge_bit_associative_commutative_idempotent(self):
        chunks = [np.array([f"{c}-{i}" for i in range(3000)], dtype=object) for c in "abc"]
        sts = [theta.update(theta.create(k=512), ch) for ch in chunks]
        m1 = theta.merge(theta.merge(sts[0], sts[1]), sts[2])
        m2 = theta.merge(sts[0], theta.merge(sts[1], sts[2]))
        m3 = theta.merge(sts[2], theta.merge(sts[1], sts[0]))
        assert (m1.hashes == m2.hashes).all() and (m1.hashes == m3.hashes).all()
        assert (theta.merge(m1, m1).hashes == m1.hashes).all()

    def test_merge_equals_union_build(self):
        a = np.array([f"x{i}" for i in range(3000)], dtype=object)
        b = np.array([f"x{i}" for i in range(1500, 4500)], dtype=object)
        merged = theta.merge(
            theta.update(theta.create(k=256), a), theta.update(theta.create(k=256), b)
        )
        direct = theta.update(theta.update(theta.create(k=256), a), b)
        assert (merged.hashes == direct.hashes).all()

    def test_set_expressions_within_bound(self):
        # A = [0, 30k), B = [20k, 60k): |A∩B|=10k, |A\B|=20k, |A∪B|=60k
        A = np.array([f"t{i}" for i in range(30_000)], dtype=object)
        B = np.array([f"t{i}" for i in range(20_000, 60_000)], dtype=object)
        sa = theta.update(theta.create(k=4096), A)
        sb = theta.update(theta.create(k=4096), B)
        # intersection/difference estimators have higher variance than the
        # plain estimate (fewer effective samples) — allow 6x the union RSE
        tol = 6 * (1.0 / (4096 - 2) ** 0.5) * 60_000
        assert abs(theta.union_estimate(sa, sb) - 60_000) <= tol
        assert abs(theta.intersect_estimate(sa, sb) - 10_000) <= tol
        assert abs(theta.difference_estimate(sa, sb) - 20_000) <= tol
        assert abs(theta.jaccard_estimate(sa, sb) - 1 / 6) <= 6 * (1.0 / (4096 - 2) ** 0.5)

    def test_set_expressions_exact_when_both_exact(self):
        sa = theta.update(theta.create(k=1024), np.arange(500))
        sb = theta.update(theta.create(k=1024), np.arange(300, 800))
        assert theta.intersect_estimate(sa, sb) == 200.0
        assert theta.difference_estimate(sa, sb) == 300.0

    def test_mixed_exact_estimating_operands(self):
        # small exact sketch ∩ large estimating sketch: subset ⇒ est ≈ |small|
        small = theta.update(theta.create(k=4096), np.array([f"t{i}" for i in range(2000)], dtype=object))
        big = theta.update(
            theta.create(k=4096), np.array([f"t{i}" for i in range(100_000)], dtype=object)
        )
        est = theta.intersect_estimate(small, big)
        assert abs(est - 2000) <= 6 * theta.rse(big) * 2000 + 50

    def test_geometry_mismatch_rejected(self):
        with pytest.raises(serde.SketchFormatError):
            theta.merge(theta.create(k=64), theta.create(k=128))

    def test_serde_roundtrip(self):
        st = theta.update(theta.create(k=128), np.arange(1000))
        rt = theta.deserialize(theta.serialize(st))
        assert rt.k == st.k and (rt.hashes == st.hashes).all()


class TestFreq:
    @staticmethod
    def _zipf(n=200_000, seed=7):
        rng = np.random.default_rng(seed)
        z = rng.zipf(1.3, n)
        return z[z < 10_000]

    def test_mg_guarantees(self):
        vals = self._zipf()
        st = freq.create(k=64)
        for chunk in np.array_split(vals, 9):
            freq.update(st, chunk)
        assert st.dec <= st.n // (64 + 1) + 1, "dec must stay <= n/(k+1)"
        uniq, true_counts = np.unique(vals, return_counts=True)
        est = freq.query(st, uniq)
        assert (est <= true_counts).all(), "MG never overcounts"
        assert (true_counts - est <= st.dec).all(), "undercount bounded by dec"

    def test_heavy_hitters_guaranteed_retained(self):
        vals = self._zipf()
        st = freq.update(freq.create(k=64), vals)
        thresh = st.n / (64 + 1)
        uniq, true_counts = np.unique(vals, return_counts=True)
        for v, c in zip(uniq, true_counts):
            if c > thresh:
                assert int(v) in st.counters, f"item {v} (count {c}) dropped"

    def test_merge_preserves_bounds_all_associations(self):
        vals = self._zipf()
        parts = np.array_split(vals, 3)
        mk = lambda p: freq.update(freq.create(k=48), p)
        a, b, c = (mk(p) for p in parts)
        uniq, true_counts = np.unique(vals, return_counts=True)
        for m in (
            freq.merge(freq.merge(a, b), c),
            freq.merge(a, freq.merge(b, c)),
            freq.merge(c, freq.merge(b, a)),
        ):
            assert m.n == vals.size
            assert m.dec <= m.n // (48 + 1) + 1
            est = freq.query(m, uniq)
            assert (est <= true_counts).all()
            assert (true_counts - est <= m.dec).all()

    def test_exact_when_few_items(self):
        vals = np.array(["a"] * 5 + ["b"] * 3 + ["c"], dtype=object)
        st = freq.update(freq.create(k=16), vals)
        assert st.dec == 0
        assert freq.query(st, ["a", "b", "c", "d"]).tolist() == [5, 3, 1, 0]

    def test_update_matches_one_shot(self):
        vals = self._zipf(50_000)
        one = freq.update(freq.create(k=32), vals)
        # batch splits change WHICH ties are dropped but never the bounds;
        # with a generous k the heavy head must agree exactly
        batched = freq.create(k=32)
        for chunk in np.array_split(vals, 5):
            freq.update(batched, chunk)
        top_one = [it for it, _, _ in freq.top_items(one, 5)]
        top_batched = [it for it, _, _ in freq.top_items(batched, 5)]
        assert top_one == top_batched

    def test_string_and_int_items(self):
        ss = freq.update(freq.create(k=8), np.array(["x", "y", "x"], dtype=object))
        assert freq.query(ss, ["x", "y"]).tolist() == [2, 1]
        si = freq.update(freq.create(k=8), np.array([5, 5, 9]))
        assert freq.query(si, [5, 9]).tolist() == [2, 1]
        with pytest.raises(serde.SketchFormatError):
            merged = freq.merge(ss, si)
            freq.serialize(merged)  # mixed item types must not serialize

    def test_geometry_mismatch_rejected(self):
        with pytest.raises(serde.SketchFormatError):
            freq.merge(freq.create(k=8), freq.create(k=16))

    def test_serde_roundtrip_both_value_types(self):
        for vals in (
            np.array([f"w{i % 37}" for i in range(500)], dtype=object),
            np.arange(500) % 37,
        ):
            st = freq.update(freq.create(k=16), vals)
            rt = freq.deserialize(freq.serialize(st))
            assert (rt.k, rt.n, rt.dec, rt.counters) == (st.k, st.n, st.dec, st.counters)


class TestSample:
    def test_merge_equals_oneshot_and_associative(self):
        A = np.array([f"v{i}" for i in range(20000)], dtype=object)
        parts = np.array_split(A, 5)
        mk = lambda p: sample.update(sample.create(k=256), p)
        sts = [mk(p) for p in parts]
        m1 = sample.merge(sample.merge(sts[0], sts[1]), sts[2])
        m2 = sample.merge(sts[0], sample.merge(sts[1], sts[2]))
        assert (m1.hashes == m2.hashes).all() and m1.values == m2.values
        full = sts[0]
        for s in sts[1:]:
            full = sample.merge(full, s)
        one = sample.update(sample.create(k=256), A)
        assert (full.hashes == one.hashes).all() and full.values == one.values

    def test_sample_is_subset_and_estimate_bounded(self):
        A = np.array([f"v{i}" for i in range(50000)], dtype=object)
        st = sample.update(sample.create(k=1024), A)
        s = sample.sample(st)
        assert len(s) == 1024 == len(set(s))
        assert set(s) <= set(A.tolist())
        assert abs(sample.estimate(st) - 50000) <= 5 * sample.rse(st) * 50000

    def test_exact_mode_is_the_distinct_set(self):
        st = sample.update(sample.create(k=64), np.array(["a", "b", "a", "c"], dtype=object))
        assert sample.is_exact(st)
        assert sorted(sample.sample(st)) == ["a", "b", "c"]
        assert sample.estimate(st) == 3.0

    def test_retains_same_hashes_as_theta(self):
        """Cross-kind invariant: the sample is theta's retained set with
        values attached — same k, same input, identical hash arrays."""
        A = np.array([f"v{i}" for i in range(9000)], dtype=object)
        ss = sample.update(sample.create(k=512), A)
        ts = theta.update(theta.create(k=512), A)
        assert (ss.hashes == ts.hashes).all()

    def test_stability_across_partitionings(self):
        """The sample is a pure function of the value set — any split of
        the input yields the same sample (what randomSplit can't give)."""
        A = np.array([f"v{i}" for i in range(5000)], dtype=object)
        rng = np.random.default_rng(5)
        base = sample.update(sample.create(k=128), A)
        for _ in range(3):
            perm = rng.permutation(A)
            st = sample.create(k=128)
            for chunk in np.array_split(perm, int(rng.integers(2, 9))):
                sample.update(st, chunk)
            assert (st.hashes == base.hashes).all() and st.values == base.values

    def test_serde_roundtrip_both_value_types(self):
        for vals in (
            np.array([f"w{i}" for i in range(300)], dtype=object),
            np.arange(300),
            np.arange(300).astype(object),
        ):
            st = sample.update(sample.create(k=64), vals)
            rt = sample.deserialize(sample.serialize(st))
            assert rt.k == st.k and (rt.hashes == st.hashes).all() and rt.values == st.values

    def test_geometry_mismatch_rejected(self):
        with pytest.raises(serde.SketchFormatError):
            sample.merge(sample.create(k=64), sample.create(k=128))

    def test_int_items_keyed_as_int64_whatever_array_holds_them(self):
        """An int item gets its int64 key from an object array too, so the
        same ints from both array kinds make one state (the reader checks
        each value against that key)."""
        vals = np.arange(0, 3000, 7)
        one = sample.update(sample.create(k=64), vals)
        obj = sample.update(sample.create(k=64), vals.astype(object))
        assert sample.serialize(obj) == sample.serialize(one)

    def test_nulls_skipped(self):
        st = sample.update(
            sample.create(k=64), np.array(["a", None, float("nan"), "b"], dtype=object)
        )
        assert sorted(sample.sample(st)) == ["a", "b"]

    def test_corrupt_k_rejected_before_it_can_crash_later(self):
        """k=0/1 in a corrupted params block must raise at deserialize, not
        as an IndexError/ZeroDivisionError from estimate/update later
        (third-review finding; theta had the same gap)."""
        import struct

        head = serde._HEADER.size
        p = sample.serialize(sample.create(k=64))
        bad = serde.pack_header(serde.KIND_SAMPLE, struct.pack("<I", 0)) + bytes(p[head + 4 :])
        with pytest.raises(serde.SketchFormatError):
            sample.deserialize(bad)
        tp = theta.serialize(theta.create(k=64))
        badt = serde.pack_header(serde.KIND_THETA, struct.pack("<I", 1)) + bytes(tp[head + 4 :])
        with pytest.raises(serde.SketchFormatError):
            theta.deserialize(badt)

    def test_kll_truncated_compactor_rejected(self):
        """An 8-aligned truncation used to deserialize into a state with
        silently missing items (third-review finding)."""
        st = kll.update(kll.create(k=20), np.arange(100).astype(float))
        p = kll.serialize(st)
        with pytest.raises(serde.SketchFormatError):
            kll.deserialize(p[:-16])


class TestSpecRegistry:
    def test_spec_roundtrip_all_kinds(self):
        data = RNG.integers(0, 1000, size=2000)
        for kind, params in [
            ("bloom", {"n_estimate": 2000, "fpr": 0.01}),
            ("hll", {"p": 12}),
            ("cms", {"width": 500, "depth": 4}),
            ("kll", {"k": 100}),
            ("tdigest", {"delta": 100.0}),
            ("theta", {"k": 512}),
            ("freq", {"k": 64}),
            ("sample", {"k": 64}),
        ]:
            spec = SketchSpec(kind, params)
            st = spec.update(spec.create(), data)
            payload = spec.serialize(st)
            name, rt = deserialize_any(payload)
            assert name == kind
            merged = spec.merge_payloads([payload, payload])
            assert isinstance(merged, bytes)

    def test_unknown_kind_rejected(self):
        with pytest.raises(ValueError):
            SketchSpec("hyperminhash")

    def test_cross_kind_merge_rejected(self):
        b = bloom.serialize(bloom.create(100, 0.01))
        h = hll.serialize(hll.create(8))
        with pytest.raises(serde.SketchFormatError):
            SketchSpec("bloom").merge_payloads([b, h])


class TestSerdeRobustness:
    """Corrupted payloads must raise SketchFormatError, never crash or
    silently produce a wrong state."""

    def test_truncated_and_garbage_payloads(self):
        import numpy as np
        import pytest as _pytest

        from wordspell_spark.sketches import SketchSpec, serde

        for kind, params in [
            ("bloom", {"n_estimate": 100, "fpr": 0.01}),
            ("hll", {"p": 8}),
            ("cms", {"eps": 0.01, "delta": 0.1}),
            ("kll", {"k": 64}),
            ("tdigest", {"delta": 50.0}),
            ("theta", {"k": 64}),
            ("freq", {"k": 16}),
            ("sample", {"k": 16}),
        ]:
            spec = SketchSpec(kind, params)
            good = spec.serialize(spec.update(spec.create(), np.arange(50)))
            # round-trip sanity
            spec.deserialize(good)
            for bad in (good[: len(good) // 2], b"", b"garbage", good[:4]):
                with _pytest.raises((serde.SketchFormatError, ValueError)):
                    spec.deserialize(bad)

    def test_tdigest_corrupt_delta_rejected(self):
        """A corrupt compression parameter must raise, not reach
        ``_compress_arrays`` (a negative or non-finite delta overflows its
        int64 cast)."""
        import struct

        import numpy as np
        import pytest as _pytest

        from wordspell_spark.sketches import serde, tdigest

        good = tdigest.serialize(tdigest.update(tdigest.create(50.0), np.arange(50.0)))
        off = good.index(struct.pack("<d", 50.0))
        for delta in (-1.29e122, 0.0, -0.0, float("inf"), float("nan")):
            bad = good[:off] + struct.pack("<d", delta) + good[off + 8 :]
            with _pytest.raises(serde.SketchFormatError):
                tdigest.deserialize(bad)

    def test_cross_kind_payloads_rejected(self):
        import numpy as np

        import pytest as _pytest

        from wordspell_spark.sketches import SketchSpec, serde

        hll_payload = SketchSpec("hll", {"p": 8}).serialize(
            SketchSpec("hll", {"p": 8}).update(SketchSpec("hll", {"p": 8}).create(), np.arange(10))
        )
        with _pytest.raises(serde.SketchFormatError):
            SketchSpec("bloom", {"n_estimate": 100}).deserialize(hll_payload)


class TestSharedHashFastPath:
    """The multi-kind harness dedupes each batch once, hashes the distinct
    values (``distinct_hashes``) and feeds every hash-keyed kind (bloom /
    hll / cms / theta) the same (hashes, counts) aggregate via
    ``update_unique_hashes``, and freq / sample the (values, hashes,
    counts) via ``update_distinct``.  That is only sound if it is
    BIT-IDENTICAL to updating value by value — pin it per kind, over
    Zipfian (mostly-repeat), near-unique, null-holding and empty batches."""

    @staticmethod
    def _batches():
        import numpy as np

        rng = np.random.default_rng(41)
        vocab = np.array([f"tok{i}" for i in range(5000)], dtype=object)
        zipf = vocab[np.clip(rng.zipf(1.3, 20000) - 1, 0, len(vocab) - 1)]
        uniq = np.array([f"u{i}" for i in range(7000)], dtype=object)
        return [zipf, uniq, np.array([], dtype=object), vocab[:17]]

    @pytest.mark.parametrize(
        "kind,params",
        [
            ("bloom", {"n_estimate": 20000}),
            ("hll", {"p": 12}),
            ("cms", {"width": 2048, "depth": 5}),
            ("theta", {"k": 1024}),
        ],
    )
    def test_bit_identical_to_per_value_update(self, kind, params):
        import pandas as pd

        from wordspell_spark.sketches.hashing import hash64

        spec = SketchSpec(kind, params)
        slow, fast = spec.create(), spec.create()
        fast_update = getattr(spec.module, "update_unique_hashes")
        for batch in self._batches():
            spec.update(slow, batch)
            codes, uh = pd.factorize(hash64(batch))
            fast_update(fast, np.asarray(uh, dtype=np.uint64), np.bincount(codes))
        assert spec.serialize(slow) == spec.serialize(fast)

    @staticmethod
    def _value_batches():
        """Two homogeneous batch sequences: Zipf int32, and Zipf strings,
        near-unique, a few, and strings with None/NaN; both hold an empty
        batch.  With k=256 the Zipf batches trim the Misra-Gries counters,
        and with k=1024 they fill the sample."""
        rng = np.random.default_rng(43)
        ints = [(rng.zipf(1.1, n) % 50_000).astype(np.int32) for n in (20_000, 300, 9_000)]
        strs = TestSharedHashFastPath._batches()
        holed = strs[0][:5000].copy()
        holed[::97] = None
        holed[::89] = np.nan
        return [[*ints, np.array([], dtype=np.int32), ints[0][::3]], [*strs, holed]]

    @staticmethod
    def _per_value_freq(ref, batch):
        """Misra-Gries batch update, one dict add per value, then one trim."""
        counters, n, dec, k = ref
        for v in batch.tolist():
            if v is None or v != v:
                continue
            counters[v] = counters.get(v, 0) + 1
            n += 1
        if len(counters) > k:
            m = sorted(counters.values(), reverse=True)[k]
            counters = {it: c - m for it, c in counters.items() if c > m}
            dec += m
        return counters, n, dec, k

    @staticmethod
    def _per_value_sample(ref, batch, k):
        """Bottom-k by hash, every value hashed; on equal hashes the
        smaller value wins."""
        from wordspell_spark.sketches.hashing import hash64

        for hv, v in zip(hash64(batch).tolist(), batch.tolist()):
            if v is None or v != v:
                continue
            if hv not in ref or v < ref[hv]:
                ref[hv] = v
        return dict(sorted(ref.items())[:k])

    @pytest.mark.parametrize("kind,k", [("freq", 256), ("sample", 1024)])
    def test_value_kinds_bit_identical_to_per_value_update(self, kind, k):
        from wordspell_spark.sketches.hashing import distinct_hashes

        spec = SketchSpec(kind, {"k": k})
        for batches in self._value_batches():
            fast, slow = spec.create(), spec.create()
            ref = ({}, 0, 0, k) if kind == "freq" else {}
            trims = 0
            for batch in batches:
                spec.module.update_distinct(fast, *distinct_hashes(batch))
                spec.update(slow, batch)
                if kind == "freq":
                    dec = ref[2]
                    ref = self._per_value_freq(ref, batch)
                    trims += ref[2] > dec
                    assert (fast.counters, fast.n, fast.dec) == ref[:3]
                else:
                    ref = self._per_value_sample(ref, batch, k)
                    assert fast.hashes.tolist() == list(ref)
                    assert fast.values == list(ref.values())
                assert spec.serialize(slow) == spec.serialize(fast)
            assert kind == "sample" or trims >= 2
            assert kind == "freq" or fast.hashes.size == k

    def test_sample_colliding_keys_keep_the_smaller_value(self):
        """Two distinct values on one key (a 64-bit collision) just inside
        the bottom k: the preselect must count DISTINCT keys to place its
        cut, and the smaller value must win, exactly as ``_absorb`` does
        with every candidate."""
        keys = np.array([1, 2, 3, 4, 5, 5, *range(6, 20)], dtype=np.uint64)
        values = np.arange(keys.size)[::-1].copy()  # key 5 holds 15 and 14
        want = sample._absorb(sample.create(16), keys, values.tolist())
        got = sample.update_distinct(sample.create(16), values, keys, np.ones(keys.size))
        assert sample.serialize(got) == sample.serialize(want)
        assert got.hashes.size == 16 and got.values[4] == 14
        # the same candidates against a full state whose largest hash is 16
        full = sample.update_distinct(sample.create(16), np.arange(100, 116), np.arange(1, 17, dtype=np.uint64) * 2)
        want = sample._absorb(full.copy(), keys, values.tolist())
        assert sample.serialize(sample.update_distinct(full, values, keys, None)) == sample.serialize(want)

    def test_unique_hashes_same_multiset_as_hash_then_count(self):
        """Dedupe-then-hash must yield exactly the (key, count) multiset of
        hash-then-count: ±0.0 and NaN payloads stay apart (hash64 hashes
        float bits), and nulls keep the keys hash64 gives them."""
        from wordspell_spark.sketches.hashing import hash64, unique_hashes

        nan2 = (np.array([np.nan]).view(np.uint64) | np.uint64(1)).view(np.float64)[0]
        batches = [
            np.clip(np.random.default_rng(5).zipf(1.2, 50000), 0, 10**6).astype(np.int32),
            np.array([0.0, -0.0, np.nan, nan2, 1.5, 1.5, -0.0]),
            np.array(["a", None, "b", np.nan, "a", None], dtype=object),
            np.array(["x", "y", "x"]),
            np.array([], dtype=object),
        ]
        for batch in batches:
            keys, counts = unique_hashes(batch)
            want_keys, want_counts = np.unique(hash64(batch), return_counts=True)
            order = np.argsort(keys)
            assert np.array_equal(keys[order], want_keys), batch.dtype
            assert np.array_equal(counts[order], want_counts), batch.dtype

    def test_harness_multi_build_uses_fast_path(self, spark):
        """End-to-end: the Spark multi-kind build over a token column yields
        payloads byte-identical to the single-kind builds (same data, same
        partitioning), so the shared-hash path cannot drift silently."""
        from pyspark.sql import functions as F

        from wordspell_spark.harness import build_sketches, build_sketches_multi

        df = (
            spark.range(4000)
            .withColumn("source", (F.col("id") % 2).cast("string"))
            .withColumn("tok", F.concat(F.lit("w"), (F.col("id") % 97).cast("string")))
            .coalesce(4)
        )
        specs = {
            "bloom": (SketchSpec("bloom", {"n_estimate": 4000}), "tok"),
            "hll": (SketchSpec("hll", {"p": 12}), "tok"),
            "cms": (SketchSpec("cms", {"width": 1024, "depth": 4}), "tok"),
            "theta": (SketchSpec("theta", {"k": 64}), "tok"),  # 97 distinct > k: estimating
            "freq": (SketchSpec("freq", {"k": 32}), "tok"),  # reads the shared dedupe's values
        }
        multi = {
            (r["source"], r["kind"]): bytes(r["sketch"])
            for r in build_sketches_multi(df, specs, ["source"]).collect()
        }
        for kind, (spec, vc) in specs.items():
            single = {
                r["source"]: bytes(r["sketch"])
                for r in build_sketches(df, spec, ["source"], vc).collect()
            }
            for src, payload in single.items():
                if kind == "freq":
                    # MG trims depend on the order partial payloads arrive at
                    # the final merge, which the shuffle does not fix across
                    # different jobs — byte-identity would be flaky.  The
                    # preserved law is the MG bound itself.
                    from wordspell_spark.sketches import freq as FQ

                    m, s = FQ.deserialize(multi[(src, kind)]), FQ.deserialize(payload)
                    assert (m.k, m.n) == (s.k, s.n)
                    for st in (m, s):
                        assert st.dec <= st.n // (st.k + 1) + 1
                else:
                    assert multi[(src, kind)] == payload, (kind, src)


def test_hash64_keys_an_int_alike_whatever_array_holds_it():
    """An int in an object array gets the key of the same int in an int
    array, so feeding one kind the same ints through both array types
    counts them once; strs and nulls beside them keep their object keys."""
    from wordspell_spark.sketches.hashing import hash64

    ints = np.arange(1000)
    assert (hash64(ints.astype(object)) == hash64(ints)).all()
    mixed = np.array([3, "a", None, np.int32(7), float("nan"), -2], dtype=object)
    assert hash64(mixed)[[0, 3, 5]].tolist() == hash64(np.array([3, 7, -2])).tolist()
    assert hash64(mixed)[[1, 2, 4]].tolist() == hash64(np.array(["a", None, float("nan")], dtype=object)).tolist()
    th, hl = theta.create(k=4096), hll.create(p=12)
    for batch in (ints, ints.astype(object)):
        theta.update(th, batch)
        hll.update(hl, batch)
    assert theta.estimate(th) == 1000
    assert hll.serialize(hl) == hll.serialize(hll.update(hll.create(p=12), ints))
    bf = bloom.update(bloom.create(n_estimate=1000, fpr=0.01), ints)
    assert bloom.contains(bf, ints.astype(object)).all()
