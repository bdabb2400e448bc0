"""Count code-only lines of Python files: lines holding at least one
token that is not a comment, a docstring or whitespace.

    python tools/code_lines.py presto_0_235_spark/sql/
    python tools/code_lines.py presto_0_235_spark/sql/frontend.py ...

Each argument is a file or a directory (searched recursively for
*.py). Prints one line per file, then the total. A docstring is the
string literal that is the first statement of a module, class or
function; every line it spans is left out, as are comment-only and
blank lines. A line of a multi-line statement counts when a token
other than a comment starts or continues on it.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(source: str) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) \
                    and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """The number of code-only lines of one Python source text."""
    docs = _docstring_lines(source)
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(n for n in range(tok.start[0], tok.end[0] + 1)
                     if n not in docs)
    return len(lines)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                out += [os.path.join(root, n) for n in names
                        if n.endswith(".py")]
        else:
            out.append(p)
    return sorted(out)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    total = 0
    for path in _files(argv):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:8d}  {path}")
    print(f"{total:8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
