"""scripts/code_lines.py: the code-line counter simplicity claims quote."""

from __future__ import annotations

import importlib.util
import textwrap
from pathlib import Path

_SCRIPT = Path(__file__).resolve().parent.parent / "scripts/code_lines.py"


def _load():
    spec = importlib.util.spec_from_file_location("code_lines", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _count(source: str) -> int:
    return _load().code_lines(textwrap.dedent(source))


def test_docstring_only_function_counts_its_def_line():
    assert _count('''
        def f():
            """A docstring
            over three
            lines."""
        ''') == 1


def test_multiline_string_value_counts():
    # an oracle-style SQL literal is code, not a docstring
    assert _count('''
        ORACLE = """
        SELECT a
        FROM t
        """
        ''') == 4


def test_comments_and_blank_lines_do_not_count():
    assert _count('''
        # a comment

        x = 1  # trailing comment

            # indented comment
        y = 2
        ''') == 2


def test_directory_counts_every_py_file(tmp_path, capsys):
    (tmp_path / "pkg" / "sub").mkdir(parents=True)
    (tmp_path / "pkg" / "a.py").write_text("x = 1\n")
    (tmp_path / "pkg" / "sub" / "b.py").write_text("y = 2\nz = 3\n")
    (tmp_path / "pkg" / "notes.txt").write_text("not python\n")
    assert _load().main([str(tmp_path / "pkg")]) == 0
    rows = capsys.readouterr().out.splitlines()
    assert len(rows) == 3
    assert rows[-1].split() == ["3", "total"]
