"""Count the engine's code lines: the figure quoted when a change is
said to leave the engine smaller or larger.

Counting rule: a physical line of a ``.py`` file counts when a token
other than a comment, a newline, an indent or a dedent starts, ends or
spans it, and that token is not a docstring. A docstring is a string
token that forms a statement of its own (a string literal alone on
its logical line, wherever it sits). Blank lines, comment-only lines and
docstring lines do not count; a line of code with a trailing comment
does, and so does each line of a multi-line expression or of a string
that is part of one.

Usage: python tools/loc.py [path ...]   (default: lynxkite_spark)
Prints one ``<lines>  <file>`` row per file and a ``total`` row.
"""

from __future__ import annotations

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


def code_lines(path: Path) -> int:
    """The number of code lines of one file, by the rule above."""
    with path.open("rb") as f:
        tokens = [t for t in tokenize.tokenize(f.readline) if t.type not in (tokenize.COMMENT, tokenize.NL)]
    lines: set[int] = set()
    for i, tok in enumerate(tokens):
        if tok.type in _LAYOUT:
            continue
        if tok.type == tokenize.STRING:
            before = tokens[i - 1].type if i else tokenize.NEWLINE
            after = tokens[i + 1].type if i + 1 < len(tokens) else tokenize.NEWLINE
            statement_start = before in (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING)
            if statement_start and after in (tokenize.NEWLINE, tokenize.ENDMARKER):
                continue  # a docstring
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main(argv: list[str]) -> int:
    roots = [Path(a) for a in argv] or [Path("lynxkite_spark")]
    files = sorted(p for r in roots for p in ([r] if r.is_file() else r.rglob("*.py")))
    total = 0
    for p in files:
        n = code_lines(p)
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
