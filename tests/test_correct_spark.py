"""Spark-level correction pipeline tests: correct_queries end-to-end,
trademark protection, dupremove, deletion-bloom build (SURVEY.md §5
end-to-end layer; parity cases after /root/reference/service_test.go:167-237)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wordspell_spark.operators import spell
from wordspell_spark.operators.trademark import longest_match, protect_spans_batch
from wordspell_spark.sketches import bloom

INDEX_ROWS = [
    ("ru", "игрушки", 5000),
    ("ru", "для", 9000),
    ("ru", "детей", 4000),
    ("ru", "дихлофос", 1200),
    ("ru", "телефон", 8000),
    ("ru", "чехол", 3000),
    ("en", "spark", 700),
    ("en", "iphone", 900),
    ("ru", "игрушки для", 2000),
]


@pytest.fixture(scope="module")
def index_df(spark):
    return spark.createDataFrame(INDEX_ROWS, "lang string, word string, freq long")


@pytest.fixture(scope="module")
def bloom_payload(index_df):
    return spell.build_deletion_bloom(index_df, fpr=0.01)


def test_deletes_estimated_formula(index_df):
    # Σ len²+1 (+3 for 2-rune words) — index/service.go:122-138
    expect = sum(len(w) ** 2 + 1 + (3 if len(w) == 2 else 0) for _, w, _ in INDEX_ROWS)
    assert spell.deletes_estimated(index_df) == expect


def test_bloom_payload_covers_all_deletions(index_df, bloom_payload):
    from wordspell_spark.functions import mutate as M
    from wordspell_spark.sketches.hashing import row_hash_u32_matrix

    st = bloom.deserialize(bloom_payload)
    words = np.array([w for _, w, _ in INDEX_ROWS], dtype=object)
    mat, lens = M.encode_words(words)
    h = M.deletion_hashes(mat, lens)
    assert bloom.contains_hashes(st, h).all(), "zero false negatives over deletion universe"


def test_bloom_over_empty_index_is_empty_filter(index_df):
    """No partial filters (every word thresholded away) must merge to an
    empty filter of the sized geometry, not fail on a missing payload."""
    st = bloom.deserialize(spell.build_deletion_bloom(index_df.limit(0), fpr=0.01))
    assert st.m == bloom.optimal_m_k(64, 0.01)[0] and not st.bits.any()


def test_correct_queries_end_to_end(spark, index_df, bloom_payload):
    queries = spark.createDataFrame(
        [
            (0, "Тилифон"),            # 2-edit fix
            (1, "игрушкидля детей"),   # fused-word split via bigram key
            (2, "дихло фос"),          # pair merge
            (3, "1000.345"),           # number passthrough
            (4, "Zzzqqq"),             # unknown → as typed
            (5, "чехол чехол"),        # dupremove collapses
        ],
        "query_id long, query string",
    )
    out = spell.correct_queries(queries, index_df, bloom_payload)
    got = {r["query_id"]: r["corrected"] for r in out.collect()}
    assert got[0] == "телефон"
    assert got[1] == "игрушки для детей"
    assert got[2] == "дихлофос"
    assert got[3] == "1000.345"
    assert got[4] == "Zzzqqq"
    assert got[5] == "чехол"
    # schema: input columns preserved + corrected appended
    assert out.columns == ["query_id", "query", "corrected"]


def test_correct_queries_with_trademarks(spark, index_df, bloom_payload):
    queries = spark.createDataFrame(
        [(0, "Mazda super puper тилифон"), (1, "mazda тилифон")],
        "query_id long, query string",
    )
    out = spell.correct_queries(
        queries, index_df, bloom_payload, trademarks=["Mazda", "Mazda super puper"]
    )
    got = {r["query_id"]: r["corrected"] for r in out.collect()}
    # longest span protected verbatim; the rest corrected
    assert got[0] == "Mazda super puper телефон"
    # case-sensitive: lowercase "mazda" is NOT protected (and not in index)
    assert got[1].endswith("телефон")


def test_preprocessors_canonicalize(spark, index_df, bloom_payload):
    queries = spark.createDataFrame(
        [(0, "пленка 4 д"), (1, "бумага а 4"), (2, "коробка 20 x 30x40")],
        "query_id long, query string",
    )
    got = {
        r["query_id"]: r["corrected"]
        for r in spell.correct_queries(queries, index_df, bloom_payload).collect()
    }
    assert "4D" in got[0]
    assert "A4" in got[1]
    assert "20*30*40" in got[2]


def test_units_dimensions_end_to_end(spark, index_df, bloom_payload):
    """Full units/dimensions canonicalization through the serving path —
    combos are protected from correction and rendered with '#' → space,
    matching the reference's digest output (service.go:102-129 over the
    units/dimensions golden inputs)."""
    queries = spark.createDataFrame(
        [
            (0, "телефон L 3.14 mM"),
            (1, "9.14- 15.33 -99Кг дихлофос"),
            (2, "D = 72,18 iN"),
            (3, "скидка 55 -75 %"),
            # note: '/' would NOT survive CleanTextRE (domain/common.go:20
            # excludes it), in the reference service too — the processor
            # goldens feed words pre-clean; here we use separators that
            # survive the clean pass
            (4, "коробка 333 x 44Х55 Х 777х99кМ"),
            (5, "чехол 72,18шт"),
        ],
        "query_id long, query string",
    )
    got = {
        r["query_id"]: r["corrected"]
        for r in spell.correct_queries(queries, index_df, bloom_payload).collect()
    }
    assert got[0] == "телефон l3.14 mm"
    assert got[1] == "9.14-15.33-99 кг дихлофос"
    assert got[2] == "d=72,18 in"
    assert got[3].endswith("55-75%")
    assert got[4].endswith("333*44*55*777*99 км")
    assert got[5] == "чехол 72,18 шт"


def test_dupremove_semantics():
    # parity cases from processors/dupremove/processor_test.go behavior
    toks = np.array(["data-spark", "spark", "foo"], dtype=object)
    keep = spell.dupremove_batch(toks, np.zeros(3, dtype=np.int64))
    assert list(keep) == [True, False, True]  # right chunk of prev
    toks = np.array(["spark", "spark-sql"], dtype=object)
    keep = spell.dupremove_batch(toks, np.zeros(2, dtype=np.int64))
    assert list(keep) == [False, True]  # left chunk of next
    # triple repeat keeps one
    toks = np.array(["a", "a", "a"], dtype=object)
    keep = spell.dupremove_batch(toks, np.zeros(3, dtype=np.int64))
    assert keep.sum() == 1
    # query boundary: no cross-query dedup
    toks = np.array(["a", "a"], dtype=object)
    keep = spell.dupremove_batch(toks, np.array([0, 1]))
    assert list(keep) == [True, True]


def test_protect_spans_kernel():
    toks = np.array(["Mazda", "super", "puper", "x", "Mazda"], dtype=object)
    qid = np.zeros(5, dtype=np.int64)
    prot = protect_spans_batch(toks, qid, ["Mazda", "Mazda super puper", "Cooper super"])
    assert list(prot) == [True, True, True, False, True]
    # head-only match is not enough when head alone is not a trademark
    prot = protect_spans_batch(
        np.array(["Cooper", "x"], dtype=object), np.zeros(2, dtype=np.int64), ["Cooper super"]
    )
    assert list(prot) == [False, False]


def test_longest_match_dataframe(spark):
    tokens = spark.createDataFrame(
        [(1, 0, "Mazda"), (1, 1, "super"), (1, 2, "puper"), (1, 3, "cx5")],
        "doc_id long, pos long, word string",
    )
    tms = spark.createDataFrame(
        [("Mazda",), ("Mazda super",), ("Mazda super puper",)], "name string"
    )
    got = longest_match(tokens, tms).collect()
    assert len(got) == 1
    assert got[0]["trademark"] == "Mazda super puper" and got[0]["ngram_len"] == 3
