"""tools/loc.py: the code-line count recorded for every change."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

SOURCE = '''"""Module docstring,
over two lines."""

import os  # a trailing comment keeps its line


class C:
    """Class docstring."""

    x = "a plain string is code"


def f(y):
    """Function docstring."""
    # a comment line
    return (y +
            1)
'''


def test_loc_counts_code_lines_only(tmp_path):
    """Blank lines, comment lines and the three docstrings drop out; a
    trailing comment and a statement spanning two lines still count."""
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "m.py").write_text(SOURCE)
    (tmp_path / "pkg" / "notes.txt").write_text("not python\n")
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "loc.py"), str(tmp_path / "pkg")],
        capture_output=True,
        text=True,
        check=True,
    )
    # import, class, x = ..., def, return (y +, 1)
    assert json.loads(out.stdout) == {"files": 1, "code_lines": 6}
