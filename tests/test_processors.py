"""Golden parity tests for the query pre-processors, transliterated 1:1
from the reference's table-driven suites:

* processors/units/processor_test.go       (TestProcessor_Process)
* processors/dimensions/processor_test.go  (TestProcessor_Process)
* processors/dimsuffix + papersizes        (pattern at start/middle/end/only)

No Spark needed — these are the scalar kernels the serving path batches.
"""

from __future__ import annotations

import pytest

from wordspell_spark.functions.processors import (
    dimensions_str,
    dimsuffix_str,
    papersizes_str,
    process_words,
    render_combo,
    split_chunk,
    units_str,
)


def _run(step, words):
    req = " ".join(words)
    return step(req).split()


UNITS_CASES = [
    # units/processor_test.go "ThreePatternsInTheMiddle"
    (
        ["head", "3.14", "mM", "spacer", "9.14-", "15.33", "-99Кг", "72,18шт", "tail"],
        ["head", "@3.14#mm", "spacer", "@9.14-15.33-99#кг", "@72,18#шт", "tail"],
    ),
    # "PatternAtStart"
    (
        ["3.14", "mm", "spacer", "9.14-", "15.33", "-99кг", "72,18Шт", "tail"],
        ["@3.14#mm", "spacer", "@9.14-15.33-99#кг", "@72,18#шт", "tail"],
    ),
    # "PatternAtEnd"
    (
        ["head", "L 3.14", "mm", "spacer", "9.14-", "15.33", "-99кг", "72,18шт"],
        ["head", "@l3.14#mm", "spacer", "@9.14-15.33-99#кг", "@72,18#шт"],
    ),
    # "PatternsOnly"
    (
        ["3.14mm", "9.14-", "15.33", "-99кг", "D = 72,18", "iN", "55", "-75", "%"],
        ["@3.14#mm", "@9.14-15.33-99#кг", "@d=72,18#in", "@55-75%"],
    ),
]


@pytest.mark.parametrize("words,check", UNITS_CASES)
def test_units_golden(words, check):
    assert _run(units_str, words) == check


DIMENSIONS_CASES = [
    # dimensions/processor_test.go "OnePattern"
    (
        ["head", "333", "x", "44Х55", "*", "777/99кМ", "tail"],
        ["head", "@333*44*55*777*99#км", "tail"],
    ),
    # "TwoPatternsTogether"
    (
        ["head", "333", "x", "44Х55", "*", "777/99км", "15/19Х16", "tail"],
        ["head", "@333*44*55*777*99#км", "@15*19*16", "tail"],
    ),
    # "PatternAtStart" (+ unit variants at end, mirroring the suite's tail
    # cases: 40x40 at the very end of the request)
    (
        ["333", "x", "44Х55", "*", "777/99км", "15/19Х16", "40x40"],
        ["@333*44*55*777*99#км", "@15*19*16", "@40*40"],
    ),
]


@pytest.mark.parametrize("words,check", DIMENSIONS_CASES)
def test_dimensions_golden(words, check):
    assert _run(dimensions_str, words) == check


DIMSUFFIX_CASES = [
    (["пазл", "4", "д"], ["пазл", "@4D"]),
    (["3d", "пленка"], ["@3D", "пленка"]),
    # back-to-back patterns need the double pass
    (["2", "D", "5", "d"], ["@2D", "@5D"]),
    (["head", "4д", "tail"], ["head", "@4D", "tail"]),
    # 6d out of range untouched
    (["6d"], ["6d"]),
]


@pytest.mark.parametrize("words,check", DIMSUFFIX_CASES)
def test_dimsuffix_golden(words, check):
    assert _run(dimsuffix_str, words) == check


PAPERSIZES_CASES = [
    (["бумага", "а", "4"], ["бумага", "@A4"]),
    (["формат", "b5"], ["формат", "@B5"]),
    (["А3", "папка"], ["@A3", "папка"]),
    # no digit lookahead in the reference: 'a 45' matches 'a 4' and the '5'
    # fuses into the combo token
    (["a", "45", "items"], ["@A45", "items"]),
    (["a7"], ["a7"]),  # size range is [0-6]
]


@pytest.mark.parametrize("words,check", PAPERSIZES_CASES)
def test_papersizes_golden(words, check):
    assert _run(papersizes_str, words) == check


class TestPipeline:
    def test_full_chain_order(self):
        # dimsuffix → dimensions → papersizes → units (service.go:77-83)
        words = ["пазл", "4д", "коробка", "333", "x", "44", "бумага", "а4", "L", "=", "56", "см"]
        out = process_words(words)
        assert out == ["пазл", "@4D", "коробка", "@333*44", "бумага", "@A4", "@l=56#см"]

    def test_render_combo(self):
        assert render_combo("@9.14-15.33-99#кг") == "9.14-15.33-99 кг"
        assert render_combo("@4D") == "4D"
        assert render_combo("@l=56#см") == "l=56 см"

    def test_split_chunk_edges(self):
        assert split_chunk(" 3.14 mm") == (" @", "3.14#mm", "")
        assert split_chunk("3.14 mm ") == ("@", "3.14#mm", " ")
        assert split_chunk("3.14") == ("@", "3.14", "")
