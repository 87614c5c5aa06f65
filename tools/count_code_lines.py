"""Count code lines in Python files.

A code line is a physical line that holds part of a statement. Blank
lines, comment-only lines and the lines of a docstring (any statement
that is only a string literal) are not counted; a multi-line string used
inside an expression counts every line it spans.

Usage: python tools/count_code_lines.py FILE [FILE ...]

Prints one ``<count> <file>`` line per file, then ``<total> total`` when
more than one file is given.
"""

from __future__ import annotations

import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(path: str) -> int:
    """Number of code lines in one Python source file."""
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []

    def flush() -> None:
        # a statement made only of string literals is a docstring (or a
        # bare string expression), which documents rather than runs
        if stmt and any(t.type != tokenize.STRING for t in stmt):
            for t in stmt:
                lines.update(range(t.start[0], t.end[0] + 1))
        stmt.clear()

    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type == tokenize.NEWLINE:
                flush()
            elif tok.type not in _LAYOUT:
                stmt.append(tok)
    flush()
    return len(lines)


def main(paths: list[str]) -> None:
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n} {p}")
    if len(paths) > 1:
        print(f"{total} total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    main(sys.argv[1:])
