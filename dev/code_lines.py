#!/usr/bin/env python3
"""Counts Scala code lines: non-blank lines that do not start with a
comment marker, per file and in total.

Usage: python3 dev/code_lines.py [path ...]

Each path is a .scala file or a directory searched recursively for
them; with no path, src/main. The rule is the shell pipeline

  grep -v '^\\s*$' FILE | grep -cv '^\\s*\\(\\*\\|/\\*\\*\\|//\\)'

that is, a line counts unless it is blank or its first non-blank
characters are `*`, `/**` or `//` (so scaladoc bodies and closers,
scaladoc openers and line comments are left out; a code line with a
trailing comment counts).
"""
import os
import re
import sys

COMMENT = re.compile(r"\s*(\*|/\*\*|//)")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not COMMENT.match(line))


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for n in names:
                    if n.endswith(".scala"):
                        yield os.path.join(root, n)
        else:
            yield p


def main(argv):
    files = sorted(set(scala_files(argv or ["src/main"])))
    total = 0
    for f in files:
        n = code_lines(f)
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total ({len(files)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
