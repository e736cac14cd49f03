"""Count code lines the way ROADMAP.md and CHANGES.md quote them.

A line counts when a Python token other than a comment, a docstring or
layout (newlines, indents) touches it; a multi-line string expression
counts every line it spans. A docstring is any statement that is only a
string literal (module, class and function docstrings, plus bare string
statements used as comments).

    python tools/code_lines.py                     # package + bench.py
    python tools/code_lines.py pyspark_streaming_base_spark/operators/bm25.py ...

Prints ``<count> <path>`` per argument (directories sum their ``*.py``
files) and a ``total`` line when given more than one path.
"""

from __future__ import annotations

import os
import sys
import tokenize

DEFAULT_PATHS = ("pyspark_streaming_base_spark", "bench.py")

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def file_code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        toks = list(tokenize.generate_tokens(f.readline))
    lines = set()
    prev = tokenize.NEWLINE
    i = 0
    while i < len(toks):
        t = toks[i]
        i += 1
        if t.type in _LAYOUT:
            if t.type in _STATEMENT_START:
                prev = t.type
            continue
        if t.type == tokenize.STRING and prev in _STATEMENT_START:
            # a statement that is only (implicitly concatenated) string
            # literals is a docstring: skip to its end
            j = i
            while toks[j].type in (tokenize.STRING, tokenize.NL, tokenize.COMMENT):
                j += 1
            if toks[j].type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                i = j
                continue
        prev = t.type
        lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def code_lines(path: str) -> int:
    if not os.path.isdir(path):
        return file_code_lines(path)
    return sum(
        file_code_lines(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
        if fn.endswith(".py")
    )


def main(argv: list) -> int:
    paths = argv or list(DEFAULT_PATHS)
    counts = [code_lines(p) for p in paths]
    for p, n in zip(paths, counts):
        print(f"{n} {p}")
    if len(paths) > 1:
        print(f"{sum(counts)} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
