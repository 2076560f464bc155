"""Seeded benchmark inputs.

A hash sample of the committed source tables in ``data/``: the seed
picks which parent keys survive, and each table is sampled on its parent
key so joins keep their matches (a lineitem row survives only with its
order and its part, an order only with its customer). Dimension tables
stay whole. Each sample is written with the source's single-file,
single-row-group layout, so partition counts, and with them the plans,
match the source's.
"""
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

KEEP_PCT = 90

# index_maintain's stream: the base share of each seeded order, and the
# number of batches the rest is cut into
BASE_PCT = 60
BATCHES = 16


def _kept(seed, key):
    return f"hash({int(seed)}, {key}) % 100 < {KEEP_PCT}"


def sample_sql(seed):
    """Table name -> the SELECT that samples it from the src_* views."""
    k = lambda c: _kept(seed, c)
    orders = f"SELECT * FROM src_orders WHERE {k('o_orderkey')} AND {k('o_custkey')}"
    return {
        "region": "SELECT * FROM src_region",
        "nation": "SELECT * FROM src_nation",
        "supplier": "SELECT * FROM src_supplier",
        "customer": f"SELECT * FROM src_customer WHERE {k('c_custkey')}",
        "part": f"SELECT * FROM src_part WHERE {k('p_partkey')}",
        "orders": orders,
        "lineitem": f"SELECT * FROM src_lineitem WHERE {k('l_partkey')} AND "
                    f"l_orderkey IN (SELECT o_orderkey FROM ({orders}))",
        "events": f"SELECT * FROM src_events WHERE {k('user_id')}",
        "documents": f"SELECT * FROM src_documents WHERE {k('doc_id')}",
        "embeddings": f"SELECT * FROM src_embeddings WHERE {k('vec_id')}",
    }


def generate(src_dir, out_dir, seed):
    """Writes the seed's sample of every table to ``out_dir/<t>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # one thread: the sample's row order is then a function of the seed
    con.execute("SET threads = 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(src_dir, t)}.parquet')")
    for t, sql in sample_sql(seed).items():
        pq.write_table(con.sql(sql).arrow(), os.path.join(out_dir, f"{t}.parquet"))
    con.close()
    maintenance_split(out_dir, seed)


def maintenance_split(data_dir, seed):
    """index_maintain's seeded stream: documents (doc_id, text) and part
    nodes (key, price), each ordered by a seed-keyed hash of its key, cut
    into a base of BASE_PCT percent and BATCHES equal batches after it.
    Written as ``data_dir/maint/<docs|nodes>/{base,bNNN}.parquet``.
    """
    con = duckdb.connect()
    con.execute("SET threads = 1")
    rels = {"docs": ("documents", "doc_id", "doc_id, text"),
            "nodes": ("part", "key", "p_partkey AS key, p_retailprice AS price")}
    for name, (table, key, cols) in rels.items():
        out = os.path.join(data_dir, "maint", name)
        os.makedirs(out, exist_ok=True)
        rel = con.sql(f"SELECT {cols} FROM read_parquet('{os.path.join(data_dir, table)}.parquet')")
        ordered = con.sql(f"SELECT * FROM rel ORDER BY hash({int(seed) + 1}, {key}), {key}").arrow()
        n = ordered.num_rows
        n_base = n * BASE_PCT // 100
        per = max(1, (n - n_base) // BATCHES)
        pq.write_table(ordered.slice(0, n_base), os.path.join(out, "base.parquet"))
        for b in range(BATCHES):
            pq.write_table(ordered.slice(n_base + b * per, per),
                           os.path.join(out, f"b{b:03d}.parquet"))
    con.close()
