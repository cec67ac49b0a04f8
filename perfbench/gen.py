"""Seeded input generator for the benchmark.

The base inputs, committed under ``perfbench/data/<scale>/``, are copies
of the sf0.01 and sf0.001 star-schema test tables (TESTDATA.md); the
benchmark reads nothing outside its checkout. Seed 0 reproduces them
byte for byte. Any other seed applies, in DuckDB:

- a seeded bijective relabelling of each key space below (customers,
  parts, suppliers, orders, documents, embedding vectors), applied to
  every column that holds keys of that space, so foreign keys stay
  consistent;
- a seeded row order for every table.

Each key space is permuted within its own key set, so row counts, key
ranges and per-key degree distributions are unchanged: every seed does
the same amount of work, while query outputs differ.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Key space -> every (table, column) that holds its keys.
KEY_SPACES: dict[str, tuple[tuple[str, str], ...]] = {
    # events.user_id joins c_custkey (the stream enrichment and the
    # A/B queries), so it shares the customer key space.
    "cust": (("customer", "c_custkey"), ("orders", "o_custkey"), ("events", "user_id")),
    "part": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "supp": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "order": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "doc": (("documents", "doc_id"),),
    "vec": (("embeddings", "vec_id"),),
}
# Bump when the output for a given (scale, seed) changes, so data dirs
# (and the derived caches keyed on their path) never serve stale files.
GEN_VERSION = 2


def generate(work_dir: str, scale: str, seed: int) -> str:
    """Write the tables for ``seed`` (once) and return their directory."""
    out = os.path.join(work_dir, "data", f"{scale}-seed{seed}-g{GEN_VERSION}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    src = os.path.join(BASE_DIR, scale)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no base inputs for scale {scale!r} at {src}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if seed == 0:
        for t in TABLES:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet"))
    else:
        _relabel(src, tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, out)
    return out


def _relabel(src: str, dst: str, seed: int) -> None:
    con = duckdb.connect()
    try:
        renamed: dict[tuple[str, str], str] = {}
        for space, cols in KEY_SPACES.items():
            keys = " UNION ".join(
                f"SELECT {c} AS k FROM read_parquet('{src}/{t}.parquet')" for t, c in cols
            )
            # The i-th smallest key maps to the i-th key in seeded order.
            con.execute(
                f"""
                CREATE TABLE map_{space} AS
                WITH keys AS (SELECT DISTINCT k FROM ({keys}) WHERE k IS NOT NULL),
                s AS (SELECT k, row_number() OVER (ORDER BY k) AS i FROM keys),
                p AS (SELECT k, row_number() OVER (ORDER BY hash(k, {seed}), k) AS i FROM keys)
                SELECT s.k AS old, p.k AS new FROM s JOIN p USING (i)
                """
            )
            for t, c in cols:
                renamed[(t, c)] = space
        for t in TABLES:
            path = f"{src}/{t}.parquet"
            schema = pq.read_schema(path).remove_metadata()
            select, joins = [], []
            for j, c in enumerate(schema.names):
                space = renamed.get((t, c))
                if space is None:
                    select.append(f'b."{c}"')
                else:
                    select.append(f'm{j}.new AS "{c}"')
                    joins.append(f'LEFT JOIN map_{space} m{j} ON m{j}.old = b."{c}"')
            sql = (
                f"SELECT {', '.join(select)} "
                f"FROM read_parquet('{path}', file_row_number = true) b {' '.join(joins)} "
                f"ORDER BY hash(b.file_row_number, {seed}), b.file_row_number"
            )
            table = con.execute(sql).arrow().cast(schema)
            pq.write_table(table, f"{dst}/{t}.parquet")
    finally:
        con.close()
