#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps after masking run-specific tokens.

Usage:
    python3 tools/plans.py OLD_LOG NEW_LOG

Each LOG is the captured output of
    sbt "runMain graft.Explain"
(stdout and stderr together is fine: sbt's `[info] ` prefix is dropped
and every line outside a `===== <query> =====` block, logging included,
is ignored). Before comparing, each plan line is normalized so that
two runs of the same code give identical text:

  - expression ids (`#123`, `#123L`) and `plan_id=` values;
  - RDD ids (`MapPartitionsRDD[69]`) and `.scala:<line>` positions;
  - lambda and object addresses (`$$Lambda/0x...`, `@1a2b3c`);
  - temporary directories (`/tmp/...`, java.io.tmpdir roots);
  - the sbt checkout directory of each log (read from its
    "set current project ... (in build file:<dir>)" line) and its
    dataset directory (read from the first
    `InMemoryFileIndex [file:<dir>/<table>.parquet]` line);
  - the dataset token in artifact table names
    (`graft_art_<dataset token>[_<hash>]_<name>`).

Prints, per query whose normalized plan differs, the number of changed
lines and the unified diff, then a final
"<n> changed lines in <q> of <total> queries" line. Queries present in
only one log count all their lines as changed.
"""
import difflib
import re
import sys

# a query's header; Spark's own `===== Subqueries =====` sections are
# plan lines (query names are lowercase snake case)
HEADER = re.compile(r"^===== ([a-z][a-z0-9_]*) =====$")
MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\$\$Lambda[$/\w@.]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@ADDR"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "<tmp>"),
]


def dir_key(path):
    """The artifact store's dataset token of `path`."""
    return re.sub(r"^_+|_+$", "", re.sub(r"[^a-z0-9]+", "_", path.lower()))


def parse(path):
    with open(path, encoding="utf-8", errors="replace") as fh:
        raw = [l.rstrip("\n") for l in fh]
    lines = [l[len("[info] "):] if l.startswith("[info] ") else
             (l[len("[info]"):] if l == "[info]" else None) for l in raw]
    checkout = None
    for l in lines:
        m = l and re.search(r"\(in build file:(.*?)/?\)$", l)
        if m:
            checkout = m.group(1)
            break
    data = None
    for l in lines:
        m = l and re.search(r"InMemoryFileIndex \[file:(.*)/[^/]+\.parquet", l)
        if m:
            data = m.group(1)
            break
    subs = []
    if checkout:
        subs.append((re.compile(re.escape(checkout)), "<checkout>"))
    if data:
        subs.append((re.compile(r"graft_art_" + re.escape(dir_key(data)) +
                                r"(_[0-9a-f]{8})?_"), "graft_art_<data>_"))
        subs.append((re.compile(re.escape(data)), "<data>"))
    plans, cur = {}, None
    for l in lines:
        if l is None:
            continue
        m = HEADER.match(l.strip())
        if m:
            cur = plans.setdefault(m.group(1), [])
            continue
        if cur is None:
            continue
        for rx, rep in subs + MASKS:
            l = rx.sub(rep, l)
        cur.append(l.rstrip())
    for q in plans:
        while plans[q] and not plans[q][-1]:
            plans[q].pop()
    return plans


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    old, new = parse(argv[0]), parse(argv[1])
    total, changed_q = 0, 0
    for q in sorted(set(old) | set(new)):
        a, b = old.get(q, []), new.get(q, [])
        diff = [d for d in difflib.unified_diff(a, b, q, q, lineterm="", n=0)
                if d[:1] in "+-" and not d.startswith(("+++", "---"))]
        if diff:
            changed_q += 1
            total += len(diff)
            print(f"{len(diff):6d} {q}")
            print("\n".join(difflib.unified_diff(a, b, q, q, lineterm="")))
    print(f"{total} changed lines in {changed_q} of {len(set(old) | set(new))} queries")


if __name__ == "__main__":
    main(sys.argv[1:])
