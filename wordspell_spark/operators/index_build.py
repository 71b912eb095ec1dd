"""Frequency-index build operators — the offline pipeline (SURVEY.md §3.2).

Spark-first re-expression of the reference's ``Builder.Build()``
(reference builder.go:60-95, components/index/builder.go:58-108):

    scan → normalize/tokenize → unigram + pair counts → hash-agg →
    threshold filter → freq-desc index

Like the reference's one loop that fills ``data{words, dwords}`` per
document (index/models.go:32-36), ONE mapInArrow pass tokenizes each Arrow
batch (``text.arrow_normalize_words``, the vectorized twin of
``normalize_words``), forms same-language adjacent pairs inside each row,
and emits per-batch partial (lang, word, freq) counts for words and pairs
in one frame.  A single Catalyst ``groupBy(lang, word)`` sums them
(partial+final hash aggregation = the reference's accumulator merge,
index/models.go:58-72) and the threshold filter runs on the result.  A
word never contains a space and a pair always does, so the two kinds of
key share the one aggregate without colliding.  The only shuffle is that
groupBy, pre-aggregated map-side, so skew in raw documents never reaches
the wire.

``tokenized_words`` (posexplode with positions) stays in Catalyst for its
positional consumers (``weight_lookup``, ``longest_match``, the per-doc
language majority).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

# Reference thresholds (components/index/builder.go:24-26).
DEFAULT_THRESHOLDS = {"ru": 23, "en": 10}
DEFAULT_PAIR_THRESHOLD = 50
NUM_WEIGHT = 1000  # index/models.go:8, service.go:95-97

_COUNT_SCHEMA = "lang string, word string, freq long"
_LANGS = pa.array(["ru", "en"])


def tokenized_words(df: DataFrame, text_col: str, doc_cols: list[str]) -> DataFrame:
    """posexplode of the normalized word array → (doc_cols..., pos, word, lang).

    Position is kept for the positional consumers (``weight_lookup``,
    ``trademark.longest_match``); counting goes through ``_gram_counts``.
    """
    words = df.select(*doc_cols, F.posexplode(T.normalize_words(F.col(text_col))).alias("pos", "word"))
    return words.withColumn("lang", T.lang_of_token(F.col("word")))


def _batch_counts(texts: pa.Array, include_pairs: bool) -> pa.Table:
    """(lang, word, freq) counts of one batch's ru/en words and, with
    ``include_pairs``, its same-language adjacent pairs "a b" (A1/A2,
    index/builder.go:224-246; langdetect ParseWordPair, component.go:90-129).

    Pairs are adjacent in the row's filtered token list, so a token of
    another language (mixed alphabet) breaks the chain.  ``num`` cannot
    occur: the clean regex erases digits before tokenizing."""
    words = T.arrow_normalize_words(texts)
    toks = words.flatten()
    # index into _LANGS (ru before en: the when-chain order of
    # lang_of_token), -1 for neither
    ru = pc.match_substring_regex(toks, T._RU_RE).to_numpy(zero_copy_only=False)
    en = pc.match_substring_regex(toks, T._EN_RE).to_numpy(zero_copy_only=False)
    code = np.where(ru, 0, np.where(en, 1, -1)).astype(np.int8)
    keep = np.flatnonzero(code >= 0)
    grams, codes = [toks.take(keep)], [code[keep]]
    if include_pairs:
        doc = pc.list_parent_indices(words).to_numpy()
        i = np.flatnonzero((doc[1:] == doc[:-1]) & (code[1:] == code[:-1]) & (code[:-1] >= 0))
        grams.append(pc.binary_join_element_wise(toks.take(i), toks.take(i + 1), " "))
        codes.append(code[i])
    table = pa.table({"code": np.concatenate(codes), "word": pa.concat_arrays(grams)})
    counts = table.group_by(["code", "word"]).aggregate([([], "count_all")])
    lang = _LANGS.take(counts["code"])
    return pa.table({"lang": lang, "word": counts["word"], "freq": counts["count_all"]})


def _gram_counts(df: DataFrame, text_col: str, include_pairs: bool) -> DataFrame:
    """DataFrame[lang, word, freq] over ru/en words (and pairs): one
    mapInArrow counting pass, then one map-side-combined groupBy sum."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield from _batch_counts(batch.column(0), include_pairs).to_batches()

    counted = df.select(F.col(text_col)).mapInArrow(run, schema=_COUNT_SCHEMA)
    return counted.groupBy("lang", "word").agg(F.sum("freq").alias("freq"))


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Unigram frequency agg (A1, index/builder.go:224-246)."""
    return _gram_counts(df, text_col, include_pairs=False)


def bigram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Adjacent same-language pair counts (A2/W1/J4): the pair rows of the
    counter, one row per document (see ``build_frequency_index``)."""
    return _gram_counts(df, text_col, include_pairs=True).filter(F.col("word").contains(" "))


def build_frequency_index(
    df: DataFrame,
    text_col: str,
    doc_cols: list[str],
    thresholds: dict[str, int] | None = None,
    pair_threshold: int = DEFAULT_PAIR_THRESHOLD,
    include_pairs: bool = True,
) -> DataFrame:
    """Full index build: unigrams ∪ bigrams after thresholds (U1).

    Returns DataFrame[lang, word, freq] — the Spark equivalent of
    ru.index/en.index content (index/builder.go:191-217).

    Precondition: each row is one whole document, ``doc_cols`` its key.
    Pairs are formed inside a row, so a document split over several rows
    loses the pairs across its row boundaries; the counting pass never
    reads ``doc_cols``.
    """
    thresholds = thresholds or DEFAULT_THRESHOLDS
    counts = _gram_counts(df, text_col, include_pairs)
    # word → per-lang threshold, pair → pair_threshold (P7,
    # index/builder.go:71-93); a lang outside ``thresholds`` is dropped
    is_pair = F.col("word").contains(" ")
    cond = None
    for lang, t in thresholds.items():
        c = (F.col("lang") == lang) & (F.col("freq") >= F.when(is_pair, pair_threshold).otherwise(t))
        cond = c if cond is None else cond | c
    return counts.filter(cond)


def weight_lookup(tokens_df: DataFrame, index_df: DataFrame, token_col: str = "word") -> DataFrame:
    """Exact index probe with weight ranking (J1, index/service.go:84-110).

    Broadcast hash join — the index after thresholds is small relative to the
    corpus (this is why the reference can hold it in RAM).  Numbers get the
    fixed pseudo-weight 1000; misses get 0.
    """
    idx = F.broadcast(index_df.select(F.col("lang").alias("__ilang"), F.col("word").alias("__iword"), "freq"))
    joined = tokens_df.join(
        idx,
        (F.col(token_col) == F.col("__iword")) & (F.col("lang") == F.col("__ilang")),
        "left",
    ).drop("__ilang", "__iword")
    weight = (
        F.when(F.col("lang") == "num", F.lit(NUM_WEIGHT))
        .otherwise(F.coalesce(F.col("freq"), F.lit(0)))
        .cast("long")
    )
    return joined.withColumn("weight", weight).drop("freq")


def save_index(index_df: DataFrame, path: str) -> None:
    """Index text-format sink (S6): word\\tfreq, freq desc, one dir per lang."""
    (
        index_df.repartition("lang")
        .sortWithinPartitions(F.desc("freq"))
        .write.mode("overwrite")
        .partitionBy("lang")
        .option("sep", "\t")
        .csv(path)
    )


def load_index(spark, path: str) -> DataFrame:
    """Index text-format source (S7, index/service.go:176-245); duplicate
    keys are summed exactly as the reference does on load."""
    df = (
        spark.read.option("sep", "\t")
        .schema("word STRING, freq LONG")
        .csv(path)
    )
    # partition dir lang=... is recovered automatically by Spark
    return df.groupBy("lang", "word").agg(F.sum("freq").alias("freq"))
