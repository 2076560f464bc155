#!/usr/bin/env python3
"""Count code lines of Scala sources, the way CHANGES.md reports them.

A code line is a non-blank line that does not start (after leading
whitespace) with `//`, `/*` or `*`, and does not lie inside a
`/* ... */` block comment.

Usage:
    python3 tools/code_lines.py [--repeats] [PATH ...]

Each PATH is a .scala file or a directory searched recursively for
.scala files; the default is src/main. Prints one line per file
("<count> <path>", sorted by path) and a final "<total> total".

With --repeats, the count per file is of REPEATED code lines instead:
code lines (each stripped, runs of whitespace collapsed to one space)
that lie in a run of 4 consecutive code lines whose text already
appeared earlier, walking the files in sorted path order (so the first
copy of a run is not counted, every later copy is). Files with no
repeated line are not listed.
"""
import os
import sys

RUN = 4


def code_line_texts(text):
    out = []
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
        out.append(" ".join(line.split()))
    return out


def code_lines(text):
    return len(code_line_texts(text))


def repeated_lines(lines, seen):
    """Count the lines lying in a RUN-line window already in `seen`;
    every window of `lines` is added to `seen` as the walk passes it."""
    marked = [False] * len(lines)
    for i in range(len(lines) - RUN + 1):
        window = tuple(lines[i:i + RUN])
        if window in seen:
            marked[i:i + RUN] = [True] * RUN
        seen.add(window)
    return sum(marked)


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for d, _, names in os.walk(path):
        found.extend(os.path.join(d, f) for f in names if f.endswith(".scala"))
    return found


def main(argv):
    repeats = "--repeats" in argv
    paths = [a for a in argv if a != "--repeats"] or ["src/main"]
    files = sorted({f for p in paths for f in scala_files(p)})
    seen = set()
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines = code_line_texts(fh.read())
        n = repeated_lines(lines, seen) if repeats else len(lines)
        total += n
        if n or not repeats:
            print(f"{n:6d} {f}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
