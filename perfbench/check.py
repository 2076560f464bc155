"""Output check: registry outputs against their DuckDB oracles.

Each output the run wrote once (outside the timed region) is compared
with its ``SparkEntry.oracleSql`` query, run by DuckDB on the same
generated inputs: columns sorted by name, rows sorted by every column,
exact match except floats, which may differ by 1e-9 relative.
"""
import math
import os
import sys
import time

import duckdb

from inputs import TABLES


def _canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def _missing(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def _cell_eq(a, b):
    if _missing(a) or _missing(b):
        return _missing(a) and _missing(b)
    if isinstance(a, float) or isinstance(b, float):
        try:
            return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        except TypeError:
            pass
    return str(a) == str(b)


def compare(con, out_dir, sql):
    """(ok, detail) for one Spark output directory against its oracle."""
    got = _canon(con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df())
    exp = _canon(con.sql(sql).df())
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not _cell_eq(a, b):
                return False, f"row {i} column {c}: spark={a!r} oracle={b!r}"
    return True, f"{len(got)} rows match"


def oracle_checks(data_dir, outputs, oracle_sql):
    """name -> (ok, detail) for every output the run wrote."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    res = {}
    for name, out_dir in outputs.items():
        if name not in oracle_sql:
            res[name] = (False, "no oracle")
            continue
        try:
            t0 = time.monotonic()
            res[name] = compare(con, out_dir, oracle_sql[name])
            print(f"[perfbench] oracle {name}: {time.monotonic() - t0:.2f} s", file=sys.stderr)
        except Exception as e:  # an oracle or read error is a failed check
            res[name] = (False, f"{type(e).__name__}: {e}"[:300])
    con.close()
    return res
