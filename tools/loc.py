"""Count lines of Python code, leaving out blank lines, comments and
docstrings.

    python tools/loc.py tomixpanel_spark [more paths ...]

Each path is a ``.py`` file or a directory searched recursively. Prints
one JSON line: ``{"files": N, "code_lines": M}``. A line counts when it
holds at least one token that is not a comment, a docstring or layout
(newline, indent); a string or expression spanning several lines counts
every line it spans. Docstrings are the leading string statements of the
module, of each class and of each function (found with ``ast``).
"""

from __future__ import annotations

import ast
import io
import json
import sys
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


def count(paths: list[str]) -> dict:
    files = sorted(
        f
        for p in map(Path, paths)
        for f in ([p] if p.is_file() else p.rglob("*.py"))
    )
    return {"files": len(files), "code_lines": sum(code_lines(f.read_text()) for f in files)}


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print(json.dumps(count(sys.argv[1:])))
