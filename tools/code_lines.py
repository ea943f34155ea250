#!/usr/bin/env python3
"""Count code lines per source file and in total.

A code line is a line that is not blank and whose first non-blank
characters are not `//`, `/*` or `*` (so line comments and the lines of
block and doc comments do not count; a code line with a trailing
comment does).

    python3 tools/code_lines.py src/main/scala/graft/operators/Cascade.scala
"""
import sys


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.lstrip().startswith(("//", "/*", "*")))


def main(paths):
    if not paths:
        sys.exit("usage: code_lines.py FILE...")
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
