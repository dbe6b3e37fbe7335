"""Code-line count per Python file: lines that carry at least one token
other than a comment, a docstring or layout (newlines, indents).

A docstring is a string literal that stands alone as a statement — the
module/class/function docstrings and any bare string statement. Lines a
multi-line token spans all count, so a wrapped call or a multi-line
string argument counts every line it covers. This is the number the
ROADMAP's "the package's line count should fall" is measured in.

Usage: python tools/code_lines.py path.py [path.py ...]
Prints one "<count>  <path>" line per file, then a total when given more
than one file.
"""

from __future__ import annotations

import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.ENCODING}
# layout tokens carry no code, but they mark where statements start and end
_LAYOUT = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}
_STMT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, None}


def code_lines(path: str) -> int:
    with open(path, "rb") as fh:
        toks = [t for t in tokenize.tokenize(fh.readline) if t.type not in _SKIP]
    lines: set[int] = set()
    for i, tok in enumerate(toks):
        if tok.type in _LAYOUT:
            continue
        prev = toks[i - 1].type if i else None
        nxt = toks[i + 1].type if i + 1 < len(toks) else None
        if (
            tok.type == tokenize.STRING
            and prev in _STMT_START
            and nxt in (tokenize.NEWLINE, tokenize.ENDMARKER)
        ):
            continue  # a bare string statement: a docstring
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main(paths: list[str]) -> None:
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:>6}  {p}")
    if len(paths) > 1:
        print(f"{total:>6}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
