"""Physical-plan discipline tests: the plans we designed for are the plans
Catalyst actually produces (predicate pushdown, column pruning, broadcast
joins, shuffle-free serving).  These are 100TB-scale guarantees encoded as
regressions — if a refactor introduces an extra shuffle or drops a pushdown,
these fail long before a cluster run would."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark, testdata_dir):
    return spark.read.parquet(f"{testdata_dir}/documents.parquet")


def test_filter_pushdown_reaches_scan(spark, testdata_dir):
    li = spark.read.parquet(f"{testdata_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 10).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)" in plan, plan


def test_column_pruning_reaches_scan(spark, testdata_dir):
    li = spark.read.parquet(f"{testdata_dir}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = _plan(q)
    # scan must read only the two referenced columns
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string>" in plan, plan


def test_weight_lookup_is_broadcast_join(spark, docs):
    from wordspell_spark.operators.index_build import (
        build_frequency_index,
        tokenized_words,
        weight_lookup,
    )

    idx = build_frequency_index(docs, "text", ["doc_id"], thresholds={"ru": 2, "en": 2})
    toks = tokenized_words(docs, "text", ["doc_id"])
    plan = _plan(weight_lookup(toks, idx))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_top_customers_broadcasts_dimension(spark, testdata_dir):
    import __spark_entry__ as E

    plan = _plan(E.queries()["top_customers"](spark, testdata_dir))
    assert "BroadcastHashJoin" in plan, plan


@pytest.fixture(scope="module")
def spell_index(docs):
    from wordspell_spark.operators.index_build import build_frequency_index
    from wordspell_spark.operators.spell import build_deletion_bloom

    idx = build_frequency_index(docs, "text", ["doc_id"], thresholds={"ru": 2, "en": 2})
    return idx, build_deletion_bloom(idx, fpr=0.01)


def test_correction_plan_is_shuffle_free(spark, spell_index):
    from wordspell_spark.operators.spell import correct_queries

    # an input already as wide as the task slots, with no exchange of its own
    slots = spark.sparkContext.defaultParallelism
    ids = spark.range(0, 64, 1, slots)
    queries = ids.select(F.concat(F.lit("q"), F.col("id").cast("string")).alias("query"))
    plan = _plan(correct_queries(queries, *spell_index))
    # serving path: one MapInPandas over the scan, zero exchanges
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_correction_spreads_narrow_input(spark, docs, spell_index):
    from wordspell_spark.harness import num_partitions
    from wordspell_spark.operators.spell import correct_queries

    # one split of queries is spread round-robin over the task slots, below
    # the correction UDF; the index and Bloom payload stay broadcasts
    slots = spark.sparkContext.defaultParallelism
    queries = docs.select(F.col("text").alias("query"))
    assert num_partitions(queries) == 1
    out = correct_queries(queries, *spell_index)
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    assert f"Exchange RoundRobinPartitioning({slots})" in plan, plan
    assert plan.index("Exchange") > plan.index("MapInPandas"), plan
    assert num_partitions(out) == slots


def test_sketch_partials_single_shuffle(spark, docs):
    from wordspell_spark.harness import build_sketches, build_sketches_multi
    from wordspell_spark.sketches import SketchSpec

    words = docs.select(
        "source", F.col("n_chars").alias("n"), F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    word_kinds = {
        "bloom": {"n_estimate": 10_000},
        "hll": {"p": 12},
        "cms": {"eps": 0.01, "delta": 0.05},
        "theta": {"k": 256},
        "freq": {"k": 64},
        "sample": {"k": 64},
    }
    specs = {k: (SketchSpec(k, p), "w") for k, p in word_kinds.items()}
    specs["kll"] = (SketchSpec("kll", {"k": 64}), "n")
    specs["tdigest"] = (SketchSpec("tdigest", {"delta": 50.0}), "n")
    for out in (
        build_sketches(words, SketchSpec("hll", {"p": 12}), ["source"], "w"),
        build_sketches_multi(words, specs, ["source"]),
        build_sketches_multi(words, specs),
    ):
        plan = _plan(out)
        # exactly one exchange: the partial→final merge groupBy, above the
        # partial builder; raw rows never shuffle
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.index("Exchange hashpartitioning") < plan.index("MapInArrow"), plan


def test_minhash_pairs_shuffle_is_on_bands_only(spark, docs):
    from wordspell_spark.operators.dedup import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(docs))
    # the self-join key must be the band bucket, not raw text/shingles
    assert "band_hash" in plan
    # no broadcast of the full corpus side
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_python_stage_appears_once(spark, docs):
    # the tokenize→shingle→md5→fold chain lives behind ONE Python stage; a
    # filter on a UDF-output column would make Catalyst clone the UDF into
    # a second ArrowEvalPython (the round-2 regression this test caught) —
    # the mapInPandas form emits filtered, pre-exploded rows in one pass
    from wordspell_spark.operators.dedup import minhash_band_hashes_df, minhash_signatures_df

    for df in (minhash_band_hashes_df(docs), minhash_signatures_df(docs)):
        plan = _plan(df)
        n_py = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        assert n_py == 1, plan


def test_lsh_topk_broadcast_single_pass(spark, testdata_dir):
    """Small query side -> ONE corpus-scan MapInPandas + a tiny merge window;
    no per-band explode, no join, no distinct in the plan."""
    from wordspell_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0).withColumnRenamed("vec_id", "query_id")
    plan = _plan(lsh_topk(emb, q, k=5))
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("ArrowEvalPython") == 0, plan
    assert "Join" not in plan, plan


def test_lsh_topk_banded_join_fallback(spark, testdata_dir):
    """Large query side -> banded join strategy: one signature UDF per side
    + one cosine re-rank UDF; a regression that clones the matmul per band
    would raise this count."""
    from wordspell_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0).withColumnRenamed("vec_id", "query_id")
    plan = _plan(lsh_topk(emb, q, k=5, max_broadcast_queries=0))
    assert plan.count("ArrowEvalPython") <= 3, plan
    # the candidate join runs on band keys
    assert "band_bits" in plan


def test_ngram_guard_survives_column_pruning(spark, docs):
    from wordspell_spark.operators.dedup import ngram_jaccard_pairs

    plan = _plan(ngram_jaccard_pairs(docs, max_block_rows=10_000))
    # the in-plan block-size assert (compiled to if(cond, null, raise_error))
    # must not be pruned away
    assert "raise_error" in plan, plan


def test_simhash_pairs_filters_before_distinct(spark, docs):
    """The exact bit_count(xor) Hamming filter must run in the band-join
    stage, BELOW the pair distinct — so the distinct dedups only true
    near-pairs (<= n_bands copies each), never the full candidate blow-up —
    and the plan must contain exactly the band self-join: the old
    ids-only-distinct form re-joined signatures twice and cost ~2x the CPU."""
    from wordspell_spark.operators.dedup import simhash_pairs

    plan = _plan(simhash_pairs(docs))
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan
    # the tree prints root-first, so the filter sitting under the distinct's
    # HashAggregate must appear after it
    assert "bit_count" in plan, plan
    assert plan.index("bit_count") > plan.index("HashAggregate"), plan
