#!/usr/bin/env python3
"""Count code lines of Scala sources, the way CHANGES.md reports them.

A code line is a non-blank line that does not start (after leading
whitespace) with `//`, `/*` or `*`, and does not lie inside a
`/* ... */` block comment.

Usage:
    python3 tools/code_lines.py [PATH ...]

Each PATH is a .scala file or a directory searched recursively for
.scala files; the default is src/main. Prints one line per file
("<count> <path>", sorted by path) and a final "<total> total".
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            if "*/" in line:
                in_block = False
            continue
        if not line or line.startswith("//") or line.startswith("*"):
            continue
        if line.startswith("/*"):
            in_block = "*/" not in line[2:]
            continue
        n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for d, _, names in os.walk(path):
        found.extend(os.path.join(d, f) for f in names if f.endswith(".scala"))
    return found


def main(argv):
    paths = argv or ["src/main"]
    files = sorted({f for p in paths for f in scala_files(p)})
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d} {f}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
