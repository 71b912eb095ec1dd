"""Unit tests for Catalyst text functions (SURVEY.md §2.7) and the index
text-format sink/source (S6/S7).  Golden cases transliterate the reference's
index builder tests (index/builder_test.go); the query processors' goldens
live in tests/test_processors.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from wordspell_spark.functions import text as T


def _apply(spark, col_fn, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["o"] for r in df.select(col_fn(F.col("s")).alias("o")).collect()]


class TestCanonicalizers:
    def test_clean_text_strips_illegal(self, spark):
        out = _apply(spark, T.clean_text, ["привет! мир?", "a_b&c"])
        assert out == ["привет  мир ", "a b c"]

    def test_strip_html(self, spark):
        out = _apply(spark, T.strip_html, ["<b>bold</b> text<br/>"])
        assert out == [" bold  text "]

    def test_strip_html_entities(self, spark):
        """The five standard entities decode after tag removal; &amp; decodes
        LAST so '&amp;lt;' yields a literal '&lt;' (round-2 verdict item 8)."""
        out = _apply(
            spark,
            T.strip_html,
            [
                "Tom &amp; Jerry",
                "<b>5 &lt; 6 &gt; 4</b>",
                "&quot;ok&quot; &#39;a&#39; &apos;b&apos;",
                "&amp;lt; stays escaped",
            ],
        )
        assert out == [
            "Tom & Jerry",
            " 5 < 6 > 4 ",
            "\"ok\" 'a' 'b'",
            "&lt; stays escaped",
        ]

    def test_strip_html_entity_tokens_dropped_by_alphabet(self, spark):
        """Divergence from bluemonday pinned: the reference re-escapes '&'
        and its alphabet regex then emits an 'amp' token; here the decoded
        '&' is simply dropped — no phantom tokens."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame([("Tom &amp; Jerry",)], "t string")
        got = df.select(T.normalize_words(T.strip_html(F.col("t"))).alias("w")).first()["w"]
        assert got == ["tom", "jerry"]

    def test_strip_html_malformed_tag(self, spark):
        """An unclosed tag has no '>' to anchor the tag regex: the remainder
        survives to the alphabet filter instead of being swallowed
        (bluemonday would drop it) — pinned as documented behavior."""
        out = _apply(spark, T.strip_html, ["ok <broken rest of line"])
        assert out == ["ok <broken rest of line"]


class TestAnalysis:
    def test_bpe_ish_counts_longer_words_more(self, spark):
        short, long_ = _apply(spark, T.bpe_ish_token_count, ["cat dog", "extraordinarily"])
        assert short == 2  # two short words = 1 unit each
        assert long_ == 4  # ceil(15/4)

    def test_quality_score_ranges(self, spark):
        clean, junk = _apply(
            spark,
            T.quality_score,
            ["the quick brown fox is a good test of this text", "!!! ??? ### $$$ %%%"],
        )
        assert 0.0 <= junk < clean <= 1.0


class TestIndexSinkSource:
    def test_save_load_roundtrip(self, spark, testdata_dir, tmp_path):
        # S6/S7: word\tfreq text format, partitioned by lang, freq-desc order
        from wordspell_spark.operators.index_build import (
            build_frequency_index,
            load_index,
            save_index,
        )

        docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
        idx = build_frequency_index(docs, "text", ["doc_id"], thresholds={"ru": 2, "en": 2})
        path = str(tmp_path / "index")
        save_index(idx, path)
        back = load_index(spark, path)
        orig = {(r["lang"], r["word"]): r["freq"] for r in idx.collect()}
        rt = {(r["lang"], r["word"]): r["freq"] for r in back.collect()}
        assert rt == orig


class TestHtmlPreprocessGolden:
    """Golden token lists transliterated from the reference's
    index/builder_test.go:17-58 (htmlPreProcess / textPreProcess).

    The reference runs htmlAddSpacesRE + bluemonday StrictPolicy; our
    strip_html replaces each well-formed tag with a space — a superset of
    the space insertion — then the same CleanIndexRE/lower/filter chain.
    These goldens pin that the two pipelines agree token-for-token on the
    reference's own fixture (entities/malformed markup can still differ;
    the corpus data model is pre-tokenized text, see SURVEY.md §2.2).
    """

    IN_HTML = (
        '<h2 class="h4"> Отряд щенков к делу готов!</h2><p>Колготки российского '
        "производства выполнены из нату-раль-ного и экологически чистого хлопка "
        "с небольшим процентом полиамида и эластана. Пусть вас не пугает наличие "
        "синтетических материалов, ведь благодаря им бельё: </p><ul><li> удобнее "
        "сидит на ножках; </li><li> не сползает; </li><li> лучше тянется; </li>"
        "<li> легче надевается; </li><li> дольше служит. </li></ul>"
        '<h2 class="h4">Can`t</h2><ul><li> Оригинальный рисунок. </li><li> '
        "Приятная на ощупь ткань. </li><li> Изготовлено из отборной хлопковой "
        "пряжи наивысшего качества. </li></ul><p><b>Рекомендации по уходу</b>: "
        "стирка в бережном режиме при 40 °С. Вертикальная сушка. Осторожное "
        "глажение при температуре не более 110 °C. </p>"
    )
    IN_TEXT = 'Шина "N" нулевая TDM, 6х9x200 мм, 4/1, 4 группы/крепеж по центру, SQ0801-0036'

    CHECK_HTML = [
        "отряд", "щенков", "делу", "готов",
        "колготки", "российского", "производства", "выполнены", "из",
        "нату-раль-ного", "экологически", "чистого", "хлопка", "небольшим",
        "процентом", "полиамида", "эластана", "пусть", "вас", "не", "пугает",
        "наличие", "синтетических", "материалов", "ведь", "благодаря", "им",
        "бельё", "удобнее", "сидит", "на", "ножках", "не", "сползает", "лучше",
        "тянется", "легче", "надевается", "дольше", "служит", "can`t",
        "оригинальный", "рисунок", "приятная", "на", "ощупь", "ткань",
        "изготовлено", "из", "отборной", "хлопковой", "пряжи", "наивысшего",
        "качества", "рекомендации", "по", "уходу", "стирка", "бережном",
        "режиме", "при", "вертикальная", "сушка", "осторожное", "глажение",
        "при", "температуре", "не", "более",
    ]
    CHECK_TEXT = ["шина", "нулевая", "tdm", "мм", "группы", "крепеж", "по", "центру", "sq"]

    def test_html_preprocess_golden(self, spark):
        from pyspark.sql import functions as F

        from wordspell_spark.functions import text as T

        df = spark.createDataFrame([(0, self.IN_HTML), (1, self.IN_TEXT)], "i long, t string")
        got = {
            r["i"]: r["w"]
            for r in df.select(
                "i", T.normalize_words(T.strip_html(F.col("t"))).alias("w")
            ).collect()
        }
        assert got[0] == self.CHECK_HTML
        assert got[1] == self.CHECK_TEXT
