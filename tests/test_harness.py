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
