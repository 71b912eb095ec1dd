"""Bit-equality between the Catalyst expression twins (the semantic
reference, mirrored by the DuckDB oracles) and the Arrow-batched Python
hot paths that replaced them in round 2.

The hot paths re-implement tokenize→shingle→md5→fold in Python/numpy; these
tests pin the claim that they are *the same function*, not an
approximation — on the crafted fixture, on the sf0.001 corpus, and (for
the tokenizer) on hypothesis-generated strings.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "Mixed CASE   with\tweird   spacing\n and  tabs"),
    (3, "short doc"),  # < 3 words: no shingles
    (4, "ab"),  # single word
    (5, ""),  # empty
    (6, "  leading and trailing   "),
    (7, "punctuation, stays! attached?  tokens;"),
    (8, "кириллица тоже работает здесь нормально"),  # non-ASCII letters
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


class TestTokenizerTwin:
    def test_words_of_matches_python_twin(self, docs_df):
        from wordspell_spark.operators.dedup import _py_words, words_of

        got = {
            r["doc_id"]: r["w"]
            for r in docs_df.select("doc_id", words_of(F.col("text")).alias("w")).collect()
        }
        text = dict(DOCS)
        for i, t in text.items():
            assert got[i] == _py_words(t), f"doc {i}: {got[i]} != {_py_words(t)}"

    @settings(max_examples=50, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FF
            ),
            max_size=60,
        )
    )
    def test_hypothesis_strings(self, spark, s):
        # words_of and _py_words must agree on arbitrary text — including
        # unicode whitespace (NOT split: Java \s is ASCII-only), control
        # chars (kept: SQL trim strips the space char only), and case
        # folding.
        from wordspell_spark.operators.dedup import _py_words, words_of

        df = spark.createDataFrame([(s,)], "text string")
        got = df.select(words_of(F.col("text")).alias("w")).first()["w"]
        assert got == _py_words(s)


class TestMinhashParity:
    def test_signature_udf_equals_expression(self, docs_df):
        from wordspell_spark.operators.dedup import (
            minhash_signature,
            minhash_signatures_df,
            shingles_of,
        )

        expr = {
            r["doc_id"]: r["sig"]
            for r in docs_df.select(
                "doc_id",
                minhash_signature(F.col("text")).alias("sig"),
                F.size(shingles_of(F.col("text"))).alias("n_sh"),
            ).collect()
            if r["n_sh"] > 0
        }
        udf = {r["id"]: r["sig"] for r in minhash_signatures_df(docs_df).collect()}
        assert set(udf) == set(expr)
        for i in expr:
            assert udf[i] == expr[i], f"doc {i} signature drifted"

    def test_signature_udf_equals_expression_on_corpus(self, corpus_df):
        from wordspell_spark.operators.dedup import minhash_signature, minhash_signatures_df

        expr = {
            r["doc_id"]: r["sig"]
            for r in corpus_df.select(
                "doc_id", minhash_signature(F.col("text")).alias("sig")
            ).collect()
        }
        udf = {r["id"]: r["sig"] for r in minhash_signatures_df(corpus_df).collect()}
        for i, sig in udf.items():
            assert sig == expr[i]

    def test_band_hashes_match_expression_banding(self, corpus_df):
        from wordspell_spark.operators.dedup import (
            DEFAULT_BAND_ROWS,
            minhash_band_hashes_df,
            minhash_signatures_df,
        )

        sigs = {r["id"]: r["sig"] for r in minhash_signatures_df(corpus_df).collect()}
        got: dict[tuple[int, int], int] = {}
        for r in minhash_band_hashes_df(corpus_df).collect():
            got[(r["id"], r["band_idx"])] = r["band_hash"]
        for i, sig in sigs.items():
            for b in range(len(sig) // DEFAULT_BAND_ROWS):
                band = ",".join(
                    str(v) for v in sig[b * DEFAULT_BAND_ROWS : (b + 1) * DEFAULT_BAND_ROWS]
                )
                want = int(hashlib.md5(band.encode("utf-8")).hexdigest()[:15], 16)
                assert got[(i, b)] == want


class TestMd5Family:
    """``_hash60_batch`` is the one Python form of h64; these pin it to the
    hexdigest definition the DuckDB oracles mirror, computed inline."""

    @staticmethod
    def _hex60(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

    def test_batch_equals_hexdigest_form(self):
        from wordspell_spark.operators.dedup import _hash60_batch

        strs = ["", "a", "the quick brown fox", "кириллица тоже", "emoji 😀 𝔘𝔫𝔦", "0,-1,42,7"]
        got = _hash60_batch(strs)
        assert got.dtype == np.int64
        assert got.tolist() == [self._hex60(s) for s in strs]
        assert _hash60_batch([]).tolist() == []

    def test_seed_masks_equal_hexdigest_constants(self):
        from wordspell_spark.operators.dedup import _seed_masks

        want = [self._hex60(f"minhash-seed-{s}") for s in range(16)]
        assert _seed_masks(16) == want
        assert all(type(m) is int for m in _seed_masks(16))


class TestSimhashParity:
    def test_udf_equals_expression(self, docs_df):
        from wordspell_spark.operators.dedup import simhash32, simhash32_df

        expr = {
            r["doc_id"]: r["sh"]
            for r in docs_df.select("doc_id", simhash32(F.col("text")).alias("sh")).collect()
        }
        udf = {r["id"]: r["sh"] for r in simhash32_df(docs_df).collect()}
        assert udf == expr

    def test_udf_equals_expression_on_corpus(self, corpus_df):
        from wordspell_spark.operators.dedup import simhash32, simhash32_df

        expr = {
            r["doc_id"]: r["sh"]
            for r in corpus_df.select("doc_id", simhash32(F.col("text")).alias("sh")).collect()
        }
        udf = {r["id"]: r["sh"] for r in simhash32_df(corpus_df).collect()}
        assert udf == expr


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


class TestHyperplaneParity:
    def test_udf_equals_expression(self, emb_df):
        from wordspell_spark.operators.similarity import (
            hyperplane_signature,
            hyperplane_signatures_df,
        )

        expr = {
            r["vec_id"]: r["sig"]
            for r in emb_df.select(
                "vec_id", hyperplane_signature(F.col("embedding"), 8).alias("sig")
            ).collect()
        }
        udf = {
            r["vec_id"]: r["sig"]
            for r in hyperplane_signatures_df(emb_df, "vec_id", n_planes=8).collect()
        }
        assert udf == expr

    def test_overlong_vector_fails_fast(self, spark):
        from wordspell_spark.operators.similarity import hyperplane_signatures_df

        df = spark.createDataFrame([(0, [0.1] * 80)], "vec_id long, embedding array<float>")
        with pytest.raises(Exception, match="exceeds"):
            hyperplane_signatures_df(df, "vec_id", n_planes=8, dim=64).collect()


class TestCosineParity:
    def test_udf_equals_expression(self, emb_df):
        from wordspell_spark.operators.similarity import as_double, cosine, cosine_udf

        a = emb_df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        b = emb_df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")).limit(3000)
        out = pairs.select(
            cosine(as_double(F.col("va")), as_double(F.col("vb"))).alias("expr"),
            cosine_udf()(F.col("va"), F.col("vb")).alias("udf"),
        ).collect()
        assert out
        for r in out:
            # bit-identical, not approximately equal: cumsum reproduces the
            # exact left-to-right IEEE summation of aggregate(zip_with)
            assert r["expr"] == r["udf"], (r["expr"], r["udf"])


class TestJaccardBlockGuard:
    def test_oversized_block_fails_fast(self, spark):
        from wordspell_spark.operators.dedup import ngram_jaccard_pairs

        rows = [(i, "many words repeated over and over again here", "big") for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        with pytest.raises(Exception, match="max_block_rows"):
            ngram_jaccard_pairs(docs, max_block_rows=10).collect()

    def test_within_cap_unchanged(self, spark):
        from wordspell_spark.operators.dedup import ngram_jaccard_pairs

        rows = [
            (0, "alpha beta gamma delta epsilon", "a"),
            (1, "alpha beta gamma delta epsilon", "a"),
            (2, "other words entirely different here", "a"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        assert got == {(0, 1)}


class TestCacheRelease:
    def test_release_unpersists_registered_caches(self, spark, docs_df):
        from wordspell_spark.operators.dedup import minhash_lsh_pairs, release_caches

        pairs = minhash_lsh_pairs(docs_df)
        pairs.count()
        cached = list(getattr(pairs, "_owned_caches", ()))
        assert cached, "generator must register its persisted subplan"
        assert any(c.storageLevel.useMemory for c in cached)
        release_caches(pairs)
        assert not getattr(pairs, "_owned_caches")


def _arrow_words(texts: list) -> list:
    import pyarrow as pa

    from wordspell_spark.functions.text import arrow_normalize_words

    return arrow_normalize_words(pa.array(texts, pa.string())).to_pylist()


# characters where Java's lowercase or \s and Arrow's differ, or nearly do
_EDGE_CHARS = ["\u0130", "\u212a", "\x0b", "\xa0", "\x85"]


class TestNormalizeTwin:
    """The Arrow normalize_words twin behind the frequency index's counting
    pass and bigram_coherence's pair stream."""

    def test_fixture_docs(self, docs_df):
        from wordspell_spark.functions.text import normalize_words

        got = {
            r["doc_id"]: r["w"]
            for r in docs_df.select("doc_id", normalize_words(F.col("text")).alias("w")).collect()
        }
        ids, texts = zip(*DOCS)
        for i, w in zip(ids, _arrow_words(list(texts))):
            assert got[i] == w, f"doc {i}"

    @settings(max_examples=50, deadline=None)
    @given(
        st.text(
            alphabet=st.one_of(
                st.characters(codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x4FF),
                st.sampled_from(_EDGE_CHARS),
            ),
            max_size=60,
        )
    )
    def test_hypothesis_strings(self, spark, s):
        # covers Cyrillic + Greek (final-sigma casing) + unicode whitespace +
        # the -/`/' edge filters; the edge characters are drawn often enough
        # that dropping one of their mappings fails this test on its own
        from wordspell_spark.functions.text import normalize_words

        df = spark.createDataFrame([(s,)], "text string")
        got = df.select(normalize_words(F.col("text")).alias("w")).first()["w"]
        assert got == _arrow_words([s])[0]

    @pytest.mark.parametrize(
        "text",
        [
            "\u0130stanbul a\u0130b \u0130\u0130",  # Java lowercases İ to i + U+0307
            "\u212aelvin \u212a\u212a",  # Kelvin sign lowercases to ASCII k
            "ab\x0bcd",  # vertical tab: Java \s, not RE2 \s
            "ab\xa0cd nbsp\xa0",  # no-break space: outside both \s
            "ab\x85cd",  # next line: outside both \s
            "",
            None,
        ],
    )
    def test_edge_characters(self, spark, text):
        from wordspell_spark.functions.text import normalize_words

        df = spark.createDataFrame([(text,)], "text string")
        got = df.select(normalize_words(F.col("text")).alias("w")).first()["w"]
        assert got == _arrow_words([text])[0]

    def test_on_corpus(self, corpus_df):
        from wordspell_spark.functions.text import normalize_words

        rows = corpus_df.select("doc_id", "text", normalize_words(F.col("text")).alias("w")).collect()
        mine = _arrow_words([r["text"] for r in rows])
        for r, w in zip(rows, mine):
            assert r["w"] == w, f"doc {r['doc_id']}"


class TestShingleTwin:
    def test_py_shingles_matches_expression(self, docs_df):
        from wordspell_spark.operators.dedup import _py_shingles, shingles_of

        for n in (3, 5):
            got = {
                r["doc_id"]: set(r["sh"])
                for r in docs_df.select(
                    "doc_id", shingles_of(F.col("text"), n).alias("sh")
                ).collect()
            }
            for i, t in dict(DOCS).items():
                assert got[i] == _py_shingles(t, n), f"doc {i} n={n}"


class TestOracleRows:
    """The data-prep operators' production paths against the DuckDB oracles
    the contract gate uses — the same query, the same SQL, the same compare."""

    @pytest.mark.parametrize(
        "name",
        [
            "decontamination_report",
            "doc_bigram_coherence",
            "bpe_run_tokens",
            "unigram_counts",
            "bigram_counts",
            "freq_index",
            "trademark_matches",
        ],
    )
    def test_matches_duckdb_oracle(self, spark, testdata_dir, name):
        import duckdb

        import __spark_entry__ as E
        from tools.check_contract import compare

        from wordspell_spark.operators.dedup import release_caches

        sdf = E.queries()[name](spark, testdata_dir)
        got = sdf.toPandas()
        release_caches(sdf)
        con = duckdb.connect()
        con.execute(
            f"create view documents as select * from '{testdata_dir}/documents.parquet'"
        )
        want = con.sql(E.oracle_sql()[name]).df()
        assert len(got) > 0
        assert compare(name, got, want) == []
