"""Count code lines: blank lines, comment-only lines and
module/class/function docstrings are left out.

Usage: python tools/loc.py [path ...]   (default: webloghunter_spark/)

Prints one line per .py file (directories are walked), then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> set[int]:
    """Line numbers of `src` that hold code."""
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            doc = node.body[0]
            if isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant) \
                    and isinstance(doc.value.value, str):
                lines -= set(range(doc.lineno, doc.end_lineno + 1))
    return lines


if __name__ == "__main__":
    root = Path(__file__).resolve().parent.parent
    args = [Path(a) for a in sys.argv[1:]] or [root / "webloghunter_spark"]
    files = [f for a in args for f in (sorted(a.rglob("*.py")) if a.is_dir() else [a])]
    total = 0
    for f in files:
        n = len(code_lines(f.read_text()))
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
