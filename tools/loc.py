"""Count lines of Python code, leaving out blank lines, comments and
docstrings.

    python tools/loc.py tomixpanel_spark [more paths ...] [--rev REV]

Each path is a ``.py`` file or a directory searched recursively; with
``--rev`` the paths are read from that git revision (``git ls-tree`` and
``git show``, run in the current directory) instead of the working tree,
so a parent commit counts without a second checkout. Prints
one JSON line: ``{"files": N, "code_lines": M}``. A line counts when it
holds at least one token that is not a comment, a docstring or layout
(newline, indent); a string or expression spanning several lines counts
every line it spans. Docstrings are the leading string statements of the
module, of each class and of each function (found with ``ast``).
"""

from __future__ import annotations

import argparse
import ast
import io
import json
import subprocess
import tokenize
from pathlib import Path

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_spans(tree: ast.AST) -> list[tuple[int, int]]:
    spans = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                spans.append((body[0].lineno, body[0].end_lineno))
    return spans


def code_lines(source: str) -> int:
    """Number of code lines in one module's source text."""
    docs = _docstring_spans(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        (start, _), (end, _) = tok.start, tok.end
        if tok.type == tokenize.STRING and any(a <= start and end <= b for a, b in docs):
            continue
        lines.update(range(start, end + 1))
    return len(lines)


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], capture_output=True, text=True, check=True).stdout


def count(paths: list[str], rev: str | None = None) -> dict:
    if rev:
        names = _git("ls-tree", "-r", "--name-only", "--full-name", rev, "--", *paths)
        files = sorted(n for n in names.splitlines() if n.endswith(".py"))
        sources = [_git("show", f"{rev}:{n}") for n in files]
    else:
        files = sorted(
            f
            for p in map(Path, paths)
            for f in ([p] if p.is_file() else p.rglob("*.py"))
        )
        sources = [f.read_text() for f in files]
    return {"files": len(files), "code_lines": sum(map(code_lines, sources))}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--rev", help="count the paths as of this git revision")
    args = ap.parse_args()
    print(json.dumps(count(args.paths, args.rev)))
