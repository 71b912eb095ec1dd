"""Faithful ports of the reference's query pre-processors (F2-F5).

Each processor consumes a word list, joins on single spaces, rewrites
pattern matches into protected "combo" tokens — ``@`` prefix, ``#`` as the
internal space — and re-splits (``Process`` in
processors/{dimsuffix,dimensions,papersizes,units}/processor.go; SplitChunk
in processors/common.go:9-22).  Downstream, a ``@``-token is a DigestReady
element: excluded from correction and finally rendered with ``@`` removed
and ``#`` → space (domain/digest.go:12-26).

Pipeline order is the reference's (service.go:77-83):
    trademarks → dimsuffix → dimensions → papersizes → units
(trademarks are handled separately as span protection in
operators/trademark.py — equivalent semantics over typed columns).

Regex notes: Go's regexp (RE2 syntax, leftmost-first alternation, greedy
quantifiers) matches Python ``re`` semantics for these patterns, with two
portability fixes baked in: ``[0-9]``/explicit ASCII whitespace classes
instead of ``\\d``/``\\s`` (Python's are Unicode-wide, RE2's are ASCII),
while ``(?i:...)`` keeps full-Unicode case folding for the Cyrillic unit
names — same as RE2.

These are *scalar kernels*: the serving path applies them inside the
Arrow-batched ``correct_queries`` mapInPandas (query strings are short;
the per-match Python replace functions mirror Go's
ReplaceAllStringFunc exactly, which no single regexp_replace column
expression can express).
"""

from __future__ import annotations

import re

_S = r"[ \t\n\x0b\f\r]"  # RE2 \s (ASCII)
_D = "[0-9]"  # RE2 \d (ASCII)

COMBO_PREFIX = "@"  # domain/common.go:17
COMBO_SEPARATOR = "#"  # domain/common.go:16


def split_chunk(chunk: str) -> tuple[str, str, str]:
    """SplitChunk parity (processors/common.go:9-22): keep the match's edge
    spaces out of the combo; body spaces become '#'."""
    prefix = COMBO_PREFIX
    suffix = ""
    if chunk.endswith(" "):
        suffix = " "
    if chunk.startswith(" "):
        prefix = " " + COMBO_PREFIX
    return prefix, chunk.strip().replace(" ", COMBO_SEPARATOR), suffix


# --------------------------------------------------------------- dimsuffix

_DIMSUFFIX_RE = re.compile(rf"(?:^|{_S})[2-5]{_S}?[dDдД](?:{_S}|$)")


def dimsuffix_str(req: str) -> str:
    def repl(m: re.Match) -> str:
        pre, body, suf = split_chunk(m.group(0))
        return pre + body[0] + "D" + suf

    # two passes, as the reference runs for back-to-back patterns
    # (dimsuffix/processor.go:22-26: the trailing (?:\s|$) consumes the
    # space the next pattern needs as its leading anchor)
    return _DIMSUFFIX_RE.sub(repl, _DIMSUFFIX_RE.sub(repl, req))


# -------------------------------------------------------------- dimensions

_DIM_UNITS = r"(?:мм|см|дм|м|км|дюйм|mm|cm|m|km|in|ft)"
_DIMENSIONS_RE = re.compile(
    rf"(?:^|{_S})(?:[{_D[1:-1]}.,]+{_S}?[xXхХ*/]{_S}?)+[{_D[1:-1]}.,]+(?i:{_S}?{_DIM_UNITS})?"
)
_DIM_SEP_RE = re.compile(rf"{_S}?[xXхХ*/]{_S}?")
_DIM_TAIL_RE = re.compile(rf"{_S}?(?i:{_DIM_UNITS})")


def dimensions_str(req: str) -> str:
    """'333 x 44Х55 * 777/99кМ' → '@333*44*55*777*99#км'
    (dimensions/processor.go:18-43)."""

    def repl(m: re.Match) -> str:
        res = _DIM_SEP_RE.sub("*", m.group(0))
        res = _DIM_TAIL_RE.sub(lambda t: " " + t.group(0).lstrip(" ").lower(), res)
        pre, body, suf = split_chunk(res)
        return pre + body + suf

    return _DIMENSIONS_RE.sub(repl, req)


# -------------------------------------------------------------- papersizes

_PAPER_MAP = {"а": "A", "А": "A", "a": "A", "A": "A", "b": "B", "B": "B", "В": "B"}
_PAPER_RE = re.compile(rf"(?:^|{_S})[aAаАbBВ]{_S}?[0-6]")


def papersizes_str(req: str) -> str:
    def repl(m: re.Match) -> str:
        pre, chunk, suf = split_chunk(m.group(0))
        return pre + (_PAPER_MAP[chunk[0]] + chunk[-1]).upper() + suf

    return _PAPER_RE.sub(repl, req)


# ------------------------------------------------------------------- units

# the full unit alternation, verbatim from units/processor.go:19-27 —
# alternation order matters (leftmost-first: 'мм' before 'м')
_UNITS_ALT = (
    "мм|см|дм|м|км|д|дюйм|mm|cm|m|km|in|ft"
    "|кв мм|кв см|кв м|кв км|sq mm|sq cm|sq m|sq km|sq in|sq ft"
    "|мм2|см2|м2|км2|д2|дюйм2|mm2|cm2|m2|km2|in2|ft2"
    "|куб мм|куб см|куб м|куб км|куб д|куб дюйм"
    "|мм3|см3|м3|км3|д3|дюйм3|mm3|cm3|m3|km3|in3|ft3"
    "|мл|л|мг|г|кг|в|вт|ом|ком|рад|град|шт"
)
# the tail re drops the single-letter 'д' and adds 'кв дюйм'/'куб дюйм'
# variants, exactly as the reference's two lists differ
_UNITS_TAIL_ALT = (
    "мм|см|дм|м|км|дюйм|mm|cm|m|km|in|ft"
    "|кв мм|кв см|кв м|кв км|кв дюйм|sq mm|sq cm|sq m|sq km|sq in|sq ft"
    "|мм2|см2|м2|км2|дюйм2|mm2|cm2|m2|km2|in2|ft2"
    "|куб мм|куб см|куб м|куб км|куб дюйм"
    "|мм3|см3|м3|км3|дюйм3|mm3|cm3|m3|km3|in3|ft3"
    "|мл|л|мг|г|кг|в|вт|ом|ком|рад|град|шт"
)

_NUM = rf"[{_D[1:-1]}.,]+{_S}?%?"
_UNITS_RE = re.compile(
    rf"(?:^|{_S})(?:(?i:l|d|r){_S}?=?)?{_S}?(?:(?:{_NUM}){_S}?-{_S}?)*(?:{_NUM})"
    rf"(?:{_S}?(?i:{_UNITS_ALT}))?"
)
_UNITS_PREFIX_RE = re.compile(rf"(?i:[ldr]{_S}?)")
_UNITS_HYPHEN_RE = re.compile(rf"{_S}?-{_S}?")
_UNITS_EQ_RE = re.compile(rf"{_S}?={_S}?")
_UNITS_TAIL_RE = re.compile(rf"{_S}?(?i:{_UNITS_TAIL_ALT})")


def units_str(req: str) -> str:
    """'L 3.14 mM' → '@l3.14#mm'; '9.14- 15.33 -99Кг' → '@9.14-15.33-99#кг';
    '55 -75 %' → '@55-75%' (units/processor.go:19-52)."""

    def repl(m: re.Match) -> str:
        res = _UNITS_HYPHEN_RE.sub("-", m.group(0))
        res = _UNITS_EQ_RE.sub("=", res)
        res = _UNITS_PREFIX_RE.sub(lambda p: p.group(0).strip().lower(), res)
        res = _UNITS_TAIL_RE.sub(lambda t: " " + t.group(0).lstrip(" ").lower(), res)
        pre, body, suf = split_chunk(res)
        return pre + body.replace(COMBO_SEPARATOR + "%", "%") + suf

    return _UNITS_RE.sub(repl, req)


# ---------------------------------------------------------------- pipeline

_PIPELINE = (dimsuffix_str, dimensions_str, papersizes_str, units_str)


def process_words(words: list[str]) -> list[str]:
    """The reference's full pre-processor chain over a word list
    (service.go:103-106): join on spaces, run each processor, re-split."""
    req = " ".join(words)
    for step in _PIPELINE:
        req = " ".join(req.split())  # each Process() re-Fields its input
        req = step(req)
    return req.split()


def render_combo(token: str) -> str:
    """DigestReady rendering (domain/digest.go:14-19): drop the first '@',
    '#' becomes a space."""
    return token.replace(COMBO_PREFIX, "", 1).replace(COMBO_SEPARATOR, " ")
