"""Count physical and code lines of Python files — the line counts the
ROADMAP tracks for ``pandas_ai_spark/`` and ``functions/stats.py``.

A code line is a line holding at least one token that is not a
comment or a docstring; blank lines, comment-only lines and docstring
lines are excluded.

Usage: python tools/code_lines.py [path ...]   (files or directories;
default: pandas_ai_spark/functions/stats.py
pandas_ai_spark/functions/classify.py pandas_ai_spark)
"""
from __future__ import annotations

import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}
_STMT_END = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def count(path: str) -> tuple[int, int]:
    """(physical lines, code lines) of one Python file."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    code = set()
    for i, t in enumerate(toks):
        if t.type in _SKIP:
            continue
        if t.type == tokenize.STRING:
            prev = next((p for p in reversed(toks[:i])
                         if p.type not in (tokenize.NL, tokenize.COMMENT)),
                        None)
            nxt = toks[i + 1] if i + 1 < len(toks) else None
            if ((prev is None or prev.type in _STMT_END) and nxt is not None
                    and nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER)):
                continue  # a bare string statement: docstring
        code.update(range(t.start[0], t.end[0] + 1))
    return len(src.splitlines()), len(code)


def _files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(root, n)


def main(argv: list[str]) -> int:
    paths = argv or ["pandas_ai_spark/functions/stats.py",
                     "pandas_ai_spark/functions/classify.py",
                     "pandas_ai_spark"]
    for p in paths:
        lines = code = 0
        for f in _files(p):
            a, b = count(f)
            lines, code = lines + a, code + b
        print(f"{p}: {lines} lines, {code} code lines")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
