"""tools/loc.py counts code lines: docstrings, comments and blank lines are
left out, every other line a token touches counts."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from loc import code_lines, main  # noqa: E402

SNIPPET = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps its code line

# a whole-line comment


class A:
    """Class docstring."""

    x = 1


def f(a,
      b):
    """Function
    docstring."""
    sql = """
        select 1
    """
    return a + b  # 2 + 3 + 4 lines above, counted
'''


def test_code_lines_skip_docstrings_comments_blanks():
    # import, class A, x = 1, def (2 lines), sql string (3 lines), return
    assert code_lines(SNIPPET) == 9


def test_only_a_body_opening_string_is_a_docstring():
    assert code_lines('x = 1\n"""not a docstring"""\n') == 2
    assert code_lines('def g():\n    pass\n    """late string"""\n') == 3
    assert code_lines("") == 0


def test_main_prints_per_module_and_total(tmp_path, capsys):
    (tmp_path / "a.py").write_text(SNIPPET)
    (tmp_path / "b.py").write_text("y = 2\n")
    (tmp_path / "notes.txt").write_text("not python\n")
    assert main([str(tmp_path)]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split() for ln in lines] == [
        ["9", str(tmp_path / "a.py")],
        ["1", str(tmp_path / "b.py")],
        ["10", "total"],
    ]
