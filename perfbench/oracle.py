"""Output checks: each workload's results replayed independently in
DuckDB over the same generated inputs. Every check returns the number
of wrong operations; any wrong operation fails the run."""

from __future__ import annotations

import glob
import json
import os
import sys

import duckdb


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{path}')"


def table_files(root: str) -> str:
    """A warehouse table directory as a DuckDB scan (hive-free, flat)."""
    return _pq(os.path.join(root, "*.parquet"))


def same_rows(con, expected: str, actual: str) -> tuple[bool, str]:
    """Multiset equality of two queries with the same column order."""
    diff = con.execute(
        f"""SELECT
              (SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual}))),
              (SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected}))),
              (SELECT count(*) FROM ({expected}))"""
    ).fetchone()
    return diff[0] == 0 and diff[1] == 0, f"missing={diff[0]} extra={diff[1]} expected_rows={diff[2]}"


def _note(ok: bool, what: str, detail: str) -> int:
    if not ok:
        print(f"perfbench: WRONG {what}: {detail}", file=sys.stderr)
    return 0 if ok else 1


# --- warehouse_sync ---------------------------------------------------------

LINEITEM_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, "
    "epoch_us(l_shipdate) AS shipdate, epoch_us(l_delivered_at) AS delivered"
)
STORE_COLS = "store, order_id, epoch_us(ts) AS ts, status, customer_id, total"
ORDERS_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "epoch_us(o_orderdate) AS orderdate, o_orderpriority"
)


def check_warehouse(ctx, w) -> int:
    """Replay the op sequence: keep-latest dedup of the refresh
    source, per-store watermark appends of each slice, every dashboard
    read against the replayed table, and the CDC merges into the
    snapshot."""
    con = _con()
    wrong = 0
    inputs, root = w.inputs, w.root
    if any(r["kind"] == "refresh" and r["ok"] for r in ctx.ops):
        expected = f"""
          SELECT {LINEITEM_COLS} FROM (
            SELECT *, row_number() OVER (
              PARTITION BY l_orderkey, l_linenumber ORDER BY l_delivered_at DESC) AS rn
            FROM {_pq(inputs + '/lineitem.parquet')}) WHERE rn = 1"""
        ok, detail = same_rows(con, expected, f"SELECT {LINEITEM_COLS} FROM {table_files(root + '/lineitem')}")
        wrong += _note(ok, "refresh lineitem", detail)

    con.execute(f"CREATE TABLE synced AS SELECT {STORE_COLS} FROM {_pq(inputs + '/feed_00000.parquet')} LIMIT 0")
    exists = False
    for e in ctx.ops:
        if e["kind"] in ("initial_sync", "sync") and e["ok"]:
            feed = f"{inputs}/feed_{e['k']:05d}.parquet"
            src = f"SELECT {STORE_COLS} FROM {_pq(feed)}"
            if exists:
                src = f"""
                  SELECT s.* FROM ({src}) s
                  LEFT JOIN (SELECT store, max(ts) AS wm FROM synced GROUP BY store) w USING (store)
                  WHERE w.wm IS NULL OR s.ts > w.wm"""
            n = con.execute(f"SELECT count(*) FROM ({src})").fetchone()[0]
            con.execute(f"INSERT INTO synced {src}")
            exists = True
            wrong += _note(n == e["rows"], f"sync {e['k']}", f"appended {e['rows']} expected {n}")
        elif e["kind"] == "read" and e["ok"]:
            exp = con.execute(
                "SELECT store, count(*), sum(total), max(order_id) FROM synced GROUP BY store ORDER BY store"
            ).fetchall()
            got = e["result"]
            ok = len(exp) == len(got) and all(
                a[0] == b[0] and a[1] == b[1] and abs(a[2] - b[2]) < 0.011 and a[3] == b[3]
                for a, b in zip(exp, got)
            )
            wrong += _note(ok, f"read {e['k']}", f"got {got[:2]}... expected {exp[:2]}...")
    if exists:
        ok, detail = same_rows(con, "SELECT * FROM synced", f"SELECT {STORE_COLS} FROM {table_files(root + '/store_orders')}")
        wrong += _note(ok, "final store_orders", detail)

    if any(r["kind"] == "snapshot_load" and r["ok"] for r in ctx.ops):
        con.execute(f"CREATE TABLE snap AS SELECT {ORDERS_COLS} FROM {_pq(inputs + '/orders_snapshot.parquet')}")
        for e in ctx.ops:
            if e["kind"] != "upsert" or not e["ok"]:
                continue
            batch = _pq(inputs + f"/cdc_{e['j']:05d}.parquet")
            con.execute(f"DELETE FROM snap WHERE o_orderkey IN (SELECT o_orderkey FROM {batch})")
            con.execute(f"INSERT INTO snap SELECT {ORDERS_COLS} FROM {batch} WHERE NOT _deleted")
        ok, detail = same_rows(con, "SELECT * FROM snap", f"SELECT {ORDERS_COLS} FROM {table_files(root + '/orders_snapshot')}")
        wrong += _note(ok, "final orders_snapshot", detail)
    con.close()
    return wrong


# --- corpus_build -----------------------------------------------------------

CHUNK_COLS = "doc_id, chunk_idx, chunk_text, n_tokens"


def materialized(oracle_sql: str) -> str:
    """The pl7 oracle with its shared intermediates materialized once:
    DuckDB inlines a plain CTE at every reference, and the recursive
    closure references the candidate edges on every iteration."""
    for cte in ("survivors", "cand", "edges"):
        if oracle_sql.count(f"{cte} AS (") != 1:
            raise ValueError(f"pl7 oracle has no single CTE {cte!r}")
        oracle_sql = oracle_sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (")
    return oracle_sql


def check_corpus_build(docs_path: str, out_dir: str, with_counts: bool) -> tuple[bool, str, dict]:
    """One corpus build against the engine's own declarative pl7
    oracle, run over the same generated documents. ``with_counts``
    also returns the build's work counts from the same replay:
    documents in, quality keeps, LSH candidate pairs among the
    exact-dedup survivors, and near-duplicates the clustering
    removed."""
    from dot_spark.queries import ORACLE

    sql = materialized(ORACLE["pl7_corpus_build_pipeline"])
    con = _con()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {_pq(docs_path)}")
    ok, detail = same_rows(
        con,
        f"SELECT {CHUNK_COLS} FROM ({sql})",
        f"SELECT {CHUNK_COLS} FROM {table_files(out_dir)}",
    )
    counts = {}
    if with_counts:
        body, tail = sql.rsplit("SELECT * FROM chunks", 1)
        row = con.execute(
            body
            + """SELECT (SELECT count(*) FROM documents), (SELECT count(*) FROM kept),
                        (SELECT count(*) FROM cand),
                        (SELECT count(*) FROM survivors) - (SELECT count(*) FROM canon)"""
            + tail
        ).fetchone()
        counts = dict(zip(("docs", "kept", "candidate_pairs", "near_dups_removed"), row))
    con.close()
    return ok, detail, counts


# --- event_routing ----------------------------------------------------------

ROUTE_SQL = """CASE event_type WHEN 'error' THEN 'retry'
                               WHEN 'purchase' THEN 'completed'
                               ELSE 'ignore' END"""


def committed_files(tx_root: str) -> dict[int, list[str]]:
    """batch_id -> data files, read straight from the commit log."""
    out: dict[int, list[str]] = {}
    for m in sorted(glob.glob(os.path.join(tx_root, "_log", "v*.json"))):
        with open(m) as f:
            body = json.load(f)
        out.setdefault(body.get("batch_id"), []).extend(body.get("add", []))
    return out


def check_events(tx_root: str, sent_ids: list[int], sent_types: list[str]) -> dict:
    """Every distinct event delivered must be committed exactly once
    with the route its type calls for. Returns per-event commit
    batches and the number of missing and of wrong events."""
    import pyarrow as pa

    con = _con()
    sent = pa.table({"event_id": pa.array(sent_ids, pa.int64()), "event_type": sent_types})
    con.register("sent", sent)
    con.execute("CREATE TABLE got (event_id BIGINT, route VARCHAR, batch_id BIGINT)")
    for bid, files in committed_files(tx_root).items():
        if files:
            con.execute(
                f"INSERT INTO got SELECT event_id, route, {bid} FROM read_parquet({files!r})"
            )
    missing, dup, misrouted, foreign = con.execute(
        f"""SELECT
          (SELECT count(*) FROM sent WHERE event_id NOT IN (SELECT event_id FROM got)),
          (SELECT count(*) FROM (SELECT event_id FROM got GROUP BY 1 HAVING count(*) > 1)),
          (SELECT count(*) FROM got JOIN sent USING (event_id) WHERE got.route <> {ROUTE_SQL}),
          (SELECT count(*) FROM got WHERE event_id NOT IN (SELECT event_id FROM sent))"""
    ).fetchone()
    batch_of = dict(con.execute("SELECT event_id, min(batch_id) FROM got GROUP BY 1").fetchall())
    con.close()
    for what, n in (("missing", missing), ("duplicated", dup), ("misrouted", misrouted), ("unknown", foreign)):
        _note(n == 0, f"events {what}", str(n))
    return {
        "batch_of": batch_of,
        "missing": missing,
        "wrong": dup + misrouted + foreign,
    }

