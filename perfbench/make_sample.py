"""Cut the benchmark's input pools from the engine's fixture tables.

    python3 perfbench/make_sample.py <fixture_dir>    # e.g. the sf0.1 tables

Writes ``perfbench/data/{documents,events,lineitem,orders}.parquet``:
a fixed-seed sample of the fixture's rows, which ``gen.py`` draws
every workload input from. The benchmark itself reads only these
files, so it needs nothing outside its checkout. Re-running the script
on the same fixture gives the same files.
"""

from __future__ import annotations

import os
import sys

import duckdb

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SAMPLE_SEED = 0

# rows kept per table; lineitem keeps every line of
# LINEITEM_ORDERS sampled orders, so orders keep their 1-7 lines.
DOCUMENTS = 3_000
EVENTS = 20_000
LINEITEM_ORDERS = 15_000
ORDERS = 40_000


def sample(fixtures: str) -> None:
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # a deterministic row order
    os.makedirs(OUT, exist_ok=True)

    def src(t: str) -> str:
        return f"read_parquet('{os.path.join(fixtures, t + '.parquet')}')"

    def pick(t: str, key: str, n: int) -> str:
        # a seeded, order-independent choice of n keys
        return f"SELECT {key} FROM {src(t)} ORDER BY hash({key} + {SAMPLE_SEED}), {key} LIMIT {n}"

    def copy(query: str, name: str) -> None:
        path = os.path.join(OUT, f"{name}.parquet")
        con.execute(f"COPY ({query}) TO '{path}' (FORMAT PARQUET, COMPRESSION ZSTD)")
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        print(f"{name}: {rows} rows, {os.path.getsize(path)} bytes")

    copy(
        f"SELECT text, lang, source FROM {src('documents')} "
        f"WHERE doc_id IN ({pick('documents', 'doc_id', DOCUMENTS)}) ORDER BY doc_id",
        "documents",
    )
    copy(
        f"SELECT user_id, event_type, value, props FROM {src('events')} "
        f"WHERE event_id IN ({pick('events', 'event_id', EVENTS)}) ORDER BY event_id",
        "events",
    )
    # the fixture repeats (l_orderkey, l_linenumber) pairs; number each
    # order's lines 1..n so the pair is the key a keep-latest dedup needs
    cols = [d[0] for d in con.execute(f"SELECT * FROM {src('lineitem')} LIMIT 0").description]
    order = ", ".join(cols)
    renumbered = ", ".join(
        f"CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY {order}) AS INTEGER) AS {c}"
        if c == "l_linenumber"
        else c
        for c in cols
    )
    copy(
        f"SELECT {renumbered} FROM {src('lineitem')} WHERE l_orderkey IN "
        f"(SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey FROM {src('lineitem')}) "
        f" ORDER BY hash(l_orderkey + {SAMPLE_SEED}), l_orderkey LIMIT {LINEITEM_ORDERS}) "
        "ORDER BY l_orderkey, l_linenumber",
        "lineitem",
    )
    copy(
        f"SELECT * FROM {src('orders')} "
        f"WHERE o_orderkey IN ({pick('orders', 'o_orderkey', ORDERS)}) ORDER BY o_orderkey",
        "orders",
    )
    con.close()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sample(sys.argv[1])
