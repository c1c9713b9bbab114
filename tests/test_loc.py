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


def test_loc_counts_a_git_revision(tmp_path):
    """--rev reads the paths from a commit instead of the working tree:
    a two-commit repo counts each commit's code lines, and uncommitted
    edits do not count."""
    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, check=True, capture_output=True,
        )

    def loc(*args):
        out = subprocess.run(
            [sys.executable, str(REPO / "tools" / "loc.py"), "pkg", *args],
            cwd=tmp_path, capture_output=True, text=True, check=True,
        )
        return json.loads(out.stdout)

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    git("init", "-q")
    (pkg / "m.py").write_text(SOURCE)
    git("add", "-A")
    git("commit", "-q", "-m", "first")
    (pkg / "n.py").write_text("a = 1\nb = 2\n")
    git("add", "-A")
    git("commit", "-q", "-m", "second")
    (pkg / "n.py").write_text("a = 1\n")  # uncommitted
    assert loc("--rev", "HEAD~1") == {"files": 1, "code_lines": 6}
    assert loc("--rev", "HEAD") == {"files": 2, "code_lines": 8}
    assert loc() == {"files": 2, "code_lines": 7}
