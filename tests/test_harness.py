"""End-to-end Spark harness tests: build_sketches vs exact oracles.

The "minimum end-to-end slice" of SURVEY.md §7: HLL distinct tokens per
source validated against exact countDistinct, then the other kinds.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wordspell_spark.harness import (
    build_sketches,
    collect_sketches,
    make_point_query_udf,
)
from wordspell_spark.sketches import SketchSpec, bloom, cms, freq, hll, kll, tdigest, theta


@pytest.fixture(scope="module")
def exact_distinct_per_source(sequences_small):
    rows = (
        sequences_small.select("source", F.explode("tokens").alias("token"))
        .groupBy("source")
        .agg(F.countDistinct("token").alias("nd"))
        .collect()
    )
    return {r["source"]: r["nd"] for r in rows}


def test_hll_per_source_within_bound(spark, sequences_small, exact_distinct_per_source):
    spec = SketchSpec("hll", {"p": 14})
    result = build_sketches(sequences_small, spec, ["source"], "tokens")
    states = collect_sketches(result, spec, ["source"])
    assert set(states) == set(exact_distinct_per_source)
    for src, st in states.items():
        est, true = hll.estimate(st), exact_distinct_per_source[src]
        assert abs(est - true) <= 5 * hll.rse(st) * true + 2, f"{src}: {est} vs {true}"


def _tree_build(df, spec):
    """Build over >64 input partitions: the merge adds a salted tree level."""
    out = build_sketches(df.repartition(130), spec, ["source"], "tokens")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2 and "__salt" in plan, plan
    return collect_sketches(out, spec, ["source"])


def test_hll_salted_two_level_same_registers(spark, sequences_small):
    spec = SketchSpec("hll", {"p": 12})
    flat = collect_sketches(build_sketches(sequences_small, spec, ["source"], "tokens"), spec, ["source"])
    salted = _tree_build(sequences_small, spec)
    for src in flat:
        assert (flat[src].registers == salted[src].registers).all(), "salted tree must be bit-identical (HLL merge idempotent)"


def test_global_sketch_no_groups(spark, sequences_small):
    spec = SketchSpec("hll", {"p": 14})
    st = collect_sketches(build_sketches(sequences_small, spec, None, "tokens"), spec, None)
    true = sequences_small.select(F.explode("tokens").alias("t")).distinct().count()
    assert abs(hll.estimate(st) - true) <= 5 * hll.rse(st) * true + 2


def test_cms_heavy_hitters(spark, sequences_small):
    spec = SketchSpec("cms", {"eps": 1e-4, "delta": 1e-3})
    st = collect_sketches(build_sketches(sequences_small, spec, None, "tokens"), spec, None)
    top = (
        sequences_small.select(F.explode("tokens").alias("t"))
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"))
        .limit(20)
        .collect()
    )
    keys = np.array([r["t"] for r in top], dtype=np.int64)
    true = np.array([r["count"] for r in top], dtype=np.int64)
    est = cms.query(st, keys)
    assert (est >= true).all(), "CMS must never undercount"
    assert (est - true <= cms.error_bound(st)).all()
    assert st.total == sequences_small.select(F.sum("n_tok")).first()[0]


def test_theta_per_source_within_bound_and_set_ops(spark, sequences_small, exact_distinct_per_source):
    spec = SketchSpec("theta", {"k": 4096})
    states = collect_sketches(
        build_sketches(sequences_small, spec, ["source"], "tokens"), spec, ["source"]
    )
    assert set(states) == set(exact_distinct_per_source)
    for src, st in states.items():
        est, true = theta.estimate(st), exact_distinct_per_source[src]
        tol = 5 * theta.rse(st) * true + 2  # rse()==0 in exact mode
        assert abs(est - true) <= tol, f"{src}: {est} vs {true}"
    # pairwise intersection vs exact, for the two largest sources
    (a, b) = sorted(exact_distinct_per_source, key=exact_distinct_per_source.get)[-2:]
    toks = sequences_small.select("source", F.explode("tokens").alias("t"))
    inter_true = (
        toks.filter(F.col("source") == a).select("t").distinct()
        .join(toks.filter(F.col("source") == b).select("t").distinct(), "t")
        .count()
    )
    union_true = (
        exact_distinct_per_source[a] + exact_distinct_per_source[b] - inter_true
    )
    tol = 6 * (1.0 / (4096 - 2) ** 0.5) * union_true + 2
    assert abs(theta.intersect_estimate(states[a], states[b]) - inter_true) <= tol
    assert abs(theta.union_estimate(states[a], states[b]) - union_true) <= tol


def test_theta_salted_two_level_same_hashes(spark, sequences_small):
    spec = SketchSpec("theta", {"k": 512})
    flat = collect_sketches(build_sketches(sequences_small, spec, ["source"], "tokens"), spec, ["source"])
    salted = _tree_build(sequences_small, spec)
    for src in flat:
        assert (flat[src].hashes == salted[src].hashes).all(), "salted tree must be bit-identical (theta merge order-free)"


def test_freq_heavy_hitters_bounds_and_udf(spark, sequences_small):
    spec = SketchSpec("freq", {"k": 128})
    result = build_sketches(sequences_small, spec, None, "tokens")
    payload = bytes(result.first()["sketch"])
    st = freq.deserialize(payload)
    counts = (
        sequences_small.select(F.explode("tokens").alias("t")).groupBy("t").count().collect()
    )
    exact = {int(r["t"]): int(r["count"]) for r in counts}
    n = sum(exact.values())
    assert st.n == n
    assert st.dec <= n // (128 + 1) + 1
    top = sorted(exact.items(), key=lambda kv: -kv[1])[:20]
    est = freq.query(st, [k for k, _ in top])
    for (k, true), e in zip(top, est):
        assert e <= true and true - e <= st.dec, (k, int(e), true)
        if true > n / 129:
            assert int(k) in st.counters, f"guaranteed-heavy item {k} dropped"
    # broadcast UDF twin agrees with the driver-side query
    udf = make_point_query_udf(spark, payload)
    got = {
        int(r["t"]): int(r["mg"])
        for r in sequences_small.select(F.explode("tokens").alias("t"))
        .distinct()
        .limit(50)
        .select("t", udf("t").alias("mg"))
        .collect()
    }
    for t, mg in got.items():
        assert mg == int(freq.query(st, [t])[0])


def test_kll_and_tdigest_ntok_quantiles(spark, sequences_small):
    exact = sequences_small.selectExpr(
        "percentile(n_tok, array(0.1, 0.5, 0.9, 0.99)) as p"
    ).first()["p"]
    for kind, params, mod, tol in [
        ("kll", {"k": 200}, kll, None),
        ("tdigest", {"delta": 200.0}, tdigest, 0.02),
    ]:
        spec = SketchSpec(kind, params)
        st = collect_sketches(build_sketches(sequences_small, spec, None, "n_tok"), spec, None)
        qs = np.array([0.1, 0.5, 0.9, 0.99])
        est = mod.quantile(st, qs)
        # verify in rank space against the exact n_tok distribution
        ntok = np.sort(np.array(sequences_small.select("n_tok").toPandas()["n_tok"]))
        est_ranks = np.searchsorted(ntok, est, side="right") / ntok.size
        bound = mod.error_bound(st) if tol is None else tol
        # discrete data: allow rank slack of one repeated-value run
        assert np.abs(est_ranks - qs).max() <= bound + 0.02, f"{kind}: {est} vs {exact}"


def test_bloom_membership_udf_roundtrip(spark, sequences_small):
    distinct_tokens = sequences_small.select(F.explode("tokens").alias("t")).distinct()
    n = distinct_tokens.count()
    spec = SketchSpec("bloom", {"n_estimate": int(n * 1.2), "fpr": 0.01})
    result = build_sketches(sequences_small, spec, None, "tokens")
    payload = result.first()["sketch"]

    udf = make_point_query_udf(spark, payload)
    probed = distinct_tokens.withColumn("hit", udf(F.col("t")))
    assert probed.filter(~F.col("hit")).count() == 0, "zero false negatives"

    # absent keys: ids beyond the vocab → FPR-bounded positives
    absent = spark.range(100_000, 140_000).withColumn("t", F.col("id").cast("int"))
    fp = absent.withColumn("hit", udf(F.col("t"))).filter(F.col("hit")).count() / 40_000
    assert fp <= 0.02, f"observed FPR {fp}"


def test_point_query_udf_rejects_other_kinds(spark):
    spec = SketchSpec("hll", {"p": 8})
    payload = spec.serialize(spec.update(spec.create(), np.arange(10)))
    with pytest.raises(ValueError, match="hll"):
        make_point_query_udf(spark, payload)


def test_cms_count_udf(spark, sequences_small):
    spec = SketchSpec("cms", {"eps": 1e-4, "delta": 1e-3})
    payload = build_sketches(sequences_small, spec, None, "tokens").first()["sketch"]
    udf = make_point_query_udf(spark, payload)
    exact = (
        sequences_small.select(F.explode("tokens").alias("t")).groupBy("t").count().limit(500)
    )
    checked = exact.withColumn("est", udf(F.col("t")))
    bad = checked.filter(F.col("est") < F.col("count")).count()
    assert bad == 0


def test_rows_items_metrics(spark, sequences_small):
    spec = SketchSpec("hll", {"p": 10})
    result = build_sketches(sequences_small, spec, ["source"], "tokens")
    got = {r["source"]: (r["rows"], r["items"]) for r in result.collect()}
    exact = {
        r["source"]: (r["rows"], r["items"])
        for r in sequences_small.groupBy("source")
        .agg(F.count("*").alias("rows"), F.sum("n_tok").alias("items"))
        .collect()
    }
    assert got == exact


class TestMultiSketchBuild:
    def test_single_pass_matches_per_kind_builds(self, spark, sequences_small):
        from wordspell_spark.harness import build_sketches, build_sketches_multi
        from wordspell_spark.sketches import SketchSpec, deserialize_any, hll, kll

        df = sequences_small.limit(3000)
        specs = {
            "hll": (SketchSpec("hll", {"p": 12}), "tokens"),
            "kll": (SketchSpec("kll", {"k": 200}), "n_tok"),
        }
        multi = build_sketches_multi(df, specs, ["source"]).collect()
        assert {r["kind"] for r in multi} == {"hll", "kll"}

        hll_multi = {
            r["source"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
            for r in multi if r["kind"] == "hll"
        }
        hll_single = {
            r["source"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
            for r in build_sketches(df, specs["hll"][0], ["source"], "tokens").collect()
        }
        assert hll_multi == hll_single

        # rows metric counts input rows per group for every kind
        rows_by_kind = {}
        for r in multi:
            rows_by_kind.setdefault(r["kind"], 0)
            rows_by_kind[r["kind"]] += r["rows"]
        assert rows_by_kind["hll"] == rows_by_kind["kll"] == df.count()

        # payloads self-describe their kind
        kind, _ = deserialize_any(bytes(multi[0]["sketch"]))
        assert kind == multi[0]["kind"]


def test_flatten_values_null_first_row(spark):
    """A null array in row 0 must not switch the column onto the scalar path."""
    from wordspell_spark.harness import build_sketches
    from wordspell_spark.sketches import SketchSpec, hll

    df = spark.createDataFrame(
        [("a", None), ("a", [1, 2, 3]), ("a", [3, 4])],
        "source string, tokens array<int>",
    ).coalesce(1)
    out = build_sketches(df, SketchSpec("hll", {"p": 12}), ["source"], "tokens").collect()
    est = hll.estimate(hll.deserialize(bytes(out[0]["sketch"])))
    assert round(est) == 4
    assert out[0]["items"] == 5 and out[0]["rows"] == 3


@pytest.mark.parametrize(
    "ddl,rows,clean",
    [
        ("tokens array<int>", [([1, 2, 3],), ([4, None],)], [([1, 2, 3],), ([4],)]),
        ("tokens int", [(1,), (2,), (None,), (3,), (4,)], [(1,), (2,), (3,), (4,)]),
    ],
    ids=["array", "scalar"],
)
def test_null_in_int_column_keeps_int_hashes(spark, ddl, rows, clean):
    """A null element in an integer value column is dropped like a null
    scalar; it must not turn the batch's other values into floats, whose
    hashes differ from the ints' (Bloom false negatives, wrong HLL)."""
    from wordspell_spark.harness import build_sketches_multi

    specs = {
        "bloom": (SketchSpec("bloom", {"n_estimate": 100}), "tokens"),
        "hll": (SketchSpec("hll", {"p": 10}), "tokens"),
    }

    def build(data):
        df = spark.createDataFrame([("a", *r) for r in data], f"source string, {ddl}").coalesce(1)
        return {r["kind"]: r for r in build_sketches_multi(df, specs, ["source"]).collect()}

    got, want = build(rows), build(clean)
    assert bloom.contains(bloom.deserialize(bytes(got["bloom"]["sketch"])), [1, 2, 3, 4]).all()
    assert bytes(got["hll"]["sketch"]) == bytes(want["hll"]["sketch"])
    assert got["hll"]["items"] == 4 and got["hll"]["rows"] == len(rows)


# sha256 of every (source, kind) payload of the 8-kind build below: a change
# to stage A's map-side combine (grouping, flattening, the shared dedupe,
# Misra-Gries trims) that moves a byte fails the test
_PERFBENCH_SPECS = {
    "bloom": (SketchSpec("bloom", {"n_estimate": 200_000, "fpr": 0.005}), "tokens"),
    "hll": (SketchSpec("hll", {"p": 12}), "tokens"),
    "cms": (SketchSpec("cms", {"eps": 0.0005, "delta": 0.01}), "tokens"),
    "kll": (SketchSpec("kll", {"k": 200}), "n_tok"),
    "tdigest": (SketchSpec("tdigest", {"delta": 100.0}), "n_tok"),
    "theta": (SketchSpec("theta", {"k": 4096}), "tokens"),
    "freq": (SketchSpec("freq", {"k": 256}), "tokens"),
    "sample": (SketchSpec("sample", {"k": 1024}), "tokens"),
}
_GOLDEN_MULTI_SHA256 = {
    ("books", "bloom"): "02ba772022b0295d164e4ae66d874b1a36f3b4c6c4806ce1c438b0f1bad95f7d",
    ("books", "cms"): "b8dae3cdacd5031a8efa2b439eff1d5ca34efaca25a3b8920f464b127544f572",
    ("books", "freq"): "578bceb6e31b51c788fbcff4616040b12371c74632d45359e02b9b48c577e02e",
    ("books", "hll"): "acce62d40a22d52bb46b3c053cee99551b38f23970df48b8d550f8ab5625433c",
    ("books", "kll"): "6245f8c9bd59cb482f8fc44128a9670558501f35705cafcdd0a89f09961b0d87",
    ("books", "sample"): "df22b4007631402ec9c9c7e9ee18fe888cc44ea704a7795a08d077da432e6c7e",
    ("books", "tdigest"): "db162aeaf926849995f3d32852bf241d1b3fecb525d6a2beacd4e8004086f40f",
    ("books", "theta"): "6efffcb5c4cca6c920e459de7edea78676f6317d1dad1beb23747c981c832e19",
    ("code", "bloom"): "0aa5c0e6594934f867372f6284bdeefd8ea1f8b67e77e530c4d056d424ff6b11",
    ("code", "cms"): "4adce6a64a1041a29a6a9c443da7ed0532805fa6c7bbce6a51b104c584b551cb",
    ("code", "freq"): "98152e37fc08cd23f326a5e6a5e63fcb7595fc8c80ec7e16c63c7cb80acc809c",
    ("code", "hll"): "98f55d57a990d9b265fb67f22df2bb2b0fc816bc74bd0d6402439da86c680309",
    ("code", "kll"): "dc16c9803772f5591e02861b2c5df0cd35726c6c464f7ca27d22ef636efddcdc",
    ("code", "sample"): "3a9c03f28f0c55ded41ed788f5381c051c08e84f6af1580072e8ec413725568f",
    ("code", "tdigest"): "be3bd1316e0546b420a371e2f6ec343396958438b6a927949ac256966a22a229",
    ("code", "theta"): "82c25cde38a3fad9023b701028b5d96223d36f4cb167ece4ee9e4c115d5f0b8a",
    ("forums", "bloom"): "ec1eb9c75c53d4c0d0fc1c8faad5871ec5fa74cbc939736b14205ee48b5dd2c5",
    ("forums", "cms"): "d860dead32c72eac93a394d922d7fe601700ddd1d72524f1b08857c8480df24f",
    ("forums", "freq"): "3a10934c786e10111774ae7020c370790c028fc2796fbae406fdec345d27e9ac",
    ("forums", "hll"): "ff6b364450f3bae3c799b88987860e4a949e9fe4a848929a01becbae48bc7d9a",
    ("forums", "kll"): "2e3d16e929f3b7c6fbfe0dae534dd02815dbd4d28263fd4197dc958f16ff20af",
    ("forums", "sample"): "3afbfff99e1afc1f1fa3cc6e42bba95e75c2d35bf611a623bebe7e1ff41a599f",
    ("forums", "tdigest"): "976750a530725d417da66d99ce6df0b6e8a99c1b87f604641c7990cdd81f2b6f",
    ("forums", "theta"): "5c985d74fb275e891643eca5dc05dde2738a666753aa802bfda27a27e1b5b394",
    ("web", "bloom"): "8885971f9f1946c71a3fc5f367018558dc938cf03a6bcc46ead5023ce60ddb84",
    ("web", "cms"): "d22ef6771b62153b7b0c1935ce503cbd54ccacabee36f27a99ef924937921fa3",
    ("web", "freq"): "86500aeb6caedc11cdcade50928fefaaa55981ccd2ba1ef4bffd01de95c50e16",
    ("web", "hll"): "f2e7d309e917b395404d92fe222f62e3a859a9a1e8681f303125d172c45b559e",
    ("web", "kll"): "7cff7d478f60a05f41c89c1efdeb9392811b0460ed365c2d1ca990830a8477b1",
    ("web", "sample"): "9578fffe19b5a4c29d6a9d4824e664ea7eff42e3a1d3cb5df13a75e3e71ec136",
    ("web", "tdigest"): "c3341e7a9ff333354a36cd48556bc4b4de071d1c2ddf47478a3affb6fde84b86",
    ("web", "theta"): "1e5dd7cce77306bbd5933dc6b062dcbc7a62117979994fb4f8c530280e6b53c4",
    ("wiki", "bloom"): "68b1055b31e6ac0453760c387f433731ed5f68543251d7cf52faa42ccd552a9d",
    ("wiki", "cms"): "37a646bc4a63fec0c5f393ce1bb86ef2ec39c587895e22a15601d280bc28a06a",
    ("wiki", "freq"): "4f14a45ee7918243108d141b725334fa5fdb7d5bda798e88051807b69584c955",
    ("wiki", "hll"): "74115ce4b828b7220dbb98dc0fc62daa46f35c806a2303ca7334686304db3a2e",
    ("wiki", "kll"): "efa3be392bbd51a82c858bc4651af91ce9a23b976f9f88ef0e5df4e7ec1e4eda",
    ("wiki", "sample"): "d8de6dbbab04b515800d0051c3b485cda76df65924a7ddb9aba0e09c155926f2",
    ("wiki", "tdigest"): "a7948afcd190247dbce34402dc586659eb9561e7837752476f9dcafa5400d7e5",
    ("wiki", "theta"): "4eb3158ab4eddf46873328b8c2127300d93cc00cef04de9139d4fdbb7b432168",
}


def test_multi_build_golden_digests(spark):
    """All 8 kinds over the 800-row fixture in one partition, grouped by
    ``source``: every payload matches its pinned digest."""
    import hashlib

    from wordspell_spark.harness import build_sketches_multi
    from wordspell_spark.sources.fixtures import sequences_path

    df = spark.read.parquet(sequences_path(800)).coalesce(1)
    got = {
        (r["source"], r["kind"]): hashlib.sha256(bytes(r["sketch"])).hexdigest()
        for r in build_sketches_multi(df, _PERFBENCH_SPECS, ["source"]).collect()
    }
    assert got == _GOLDEN_MULTI_SHA256


class TestSecondaryOracles:
    """SURVEY §7 step 4: cross-check our sketches against Spark's OWN
    approximate aggregates — two independent implementations of the same
    algorithms family must land in the same neighborhood of the exact
    answer."""

    def test_hll_vs_approx_count_distinct(self, spark, sequences_small):
        import math

        from pyspark.sql import functions as F

        from wordspell_spark.harness import build_sketches
        from wordspell_spark.sketches import SketchSpec, hll

        df = sequences_small.limit(3000)
        ours = {
            r["source"]: hll.estimate(hll.deserialize(bytes(r["sketch"])))
            for r in build_sketches(df, SketchSpec("hll", {"p": 12}), ["source"], "tokens").collect()
        }
        toks = df.select("source", F.explode("tokens").alias("t"))
        spark_est = {
            r["source"]: r["e"]
            for r in toks.groupBy("source").agg(F.approx_count_distinct("t", 0.02).alias("e")).collect()
        }
        exact = {
            r["source"]: r["e"]
            for r in toks.groupBy("source").agg(F.countDistinct("t").alias("e")).collect()
        }
        rse = 1.04 / math.sqrt(1 << 12)
        for src, ex in exact.items():
            assert abs(ours[src] - ex) <= max(3 * rse * ex, 3), (src, ours[src], ex)
            assert abs(spark_est[src] - ex) <= max(0.06 * ex, 5)
            # the two approximations agree within their combined tolerance
            assert abs(ours[src] - spark_est[src]) <= max(0.08 * ex, 8)

    def test_kll_vs_percentile_approx(self, spark, sequences_small):
        from pyspark.sql import functions as F

        from wordspell_spark.harness import build_sketches
        from wordspell_spark.sketches import SketchSpec, kll

        df = sequences_small.limit(3000)
        payload = bytes(
            build_sketches(df, SketchSpec("kll", {"k": 200}), None, "n_tok").first()["sketch"]
        )
        state = kll.deserialize(payload)
        qs = [0.25, 0.5, 0.75, 0.9]
        ours = kll.quantile(state, qs)
        spark_qs = df.select(F.percentile_approx("n_tok", qs, 10_000).alias("p")).first()["p"]
        exact = df.approxQuantile("n_tok", qs, 0.0)
        n = df.count()
        for q, mine, sp, ex in zip(qs, ours, spark_qs, exact):
            # KLL rank-error bound (~1.7/k normalized rank) translated to a
            # generous value-space tolerance on this integer-valued column
            assert abs(float(mine) - ex) <= max(0.1 * ex, 3), (q, mine, ex)
            assert abs(float(sp) - ex) <= max(0.1 * ex, 3), (q, sp, ex)
