"""Workload-relevant figures of input tables, to compare the generated
inputs with the fixture they are drawn from.

    python3 perfbench/profile_inputs.py fixture <fixture_dir>
    python3 perfbench/profile_inputs.py generated <seed>

Prints one JSON object: for the documents, the text shape and the
work the pl7 corpus build does on them (quality keep ratio, LSH
candidate pairs per document, near-duplicates removed); for the
events, the type mix, users, duplicate ids and out-of-order share.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import event_routing, gen, oracle  # noqa: E402


def document_figures(con, path: str) -> dict:
    from dot_spark.queries import ORACLE

    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    docs, p50, lo, hi = q(
        "SELECT count(*), median(n), min(n), max(n) FROM "
        "(SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS n FROM documents)"
    )
    vocab = q("SELECT count(DISTINCT w) FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM documents)")[0]
    exact = q("SELECT count(*) - count(DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) FROM documents")[0]
    body, tail = oracle.materialized(ORACLE["pl7_corpus_build_pipeline"]).rsplit("SELECT * FROM chunks", 1)
    kept, survivors, cand, canon, chunks = q(
        body
        + """SELECT (SELECT count(*) FROM kept), (SELECT count(*) FROM survivors),
                    (SELECT count(*) FROM cand), (SELECT count(*) FROM canon),
                    (SELECT count(*) FROM chunks)"""
        + tail
    )
    return {
        "docs": docs,
        "tokens_p50": p50,
        "tokens_min": lo,
        "tokens_max": hi,
        "vocabulary": vocab,
        "exact_dup_share": round(exact / docs, 4),
        "keep_ratio": round(kept / docs, 4),
        # LSH candidates grow with the square of the corpus size; the
        # rate per document pair is what the text distribution sets
        "candidate_pairs_per_doc": round(cand / docs, 3),
        "candidate_pairs_per_1k_doc_pairs": round(cand / (survivors * (survivors - 1) / 2) * 1000, 3),
        "near_dup_removed_share": round((survivors - canon) / survivors, 4),
        "chunks_per_doc": round(chunks / docs, 3),
    }


def event_figures(con, scan: str) -> dict:
    con.execute(f"CREATE OR REPLACE VIEW ev AS SELECT * FROM {scan}")
    q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    rows, ids, users, value_p50 = q("SELECT count(*), count(DISTINCT event_id), count(DISTINCT user_id), median(value) FROM ev")
    types = dict(con.execute("SELECT event_type, round(count(*) / sum(count(*)) OVER (), 3) FROM ev GROUP BY 1 ORDER BY 1").fetchall())
    # an event more than a second behind the newest one delivered before it
    late = q(
        """SELECT count(*) FILTER (WHERE ts < prev_max - INTERVAL 1 SECOND) FROM (
             SELECT ts, max(ts) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             FROM (SELECT ts, row_number() OVER () AS rn FROM ev))"""
    )[0]
    return {
        "rows": rows,
        "users": users,
        "value_p50": value_p50,
        "type_shares": types,
        "duplicate_id_share": round(1 - ids / rows, 4),
        "out_of_order_share": round(late / rows, 4),
    }


def fixture(d: str) -> dict:
    con = duckdb.connect()
    return {
        "documents": document_figures(con, os.path.join(d, "documents.parquet")),
        "events": event_figures(con, f"read_parquet('{os.path.join(d, 'events.parquet')}') ORDER BY event_id"),
    }


def generated(seed: int) -> dict:
    """One documents variant and the delivery files of the first 4 s
    of the event_routing base phase, in delivery order."""
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as tmp:
        docs = os.path.join(tmp, "documents.parquet")
        gen.write_parquet(gen.documents(seed, 0), docs)
        prev: list = []
        for i, due, n in [f for f in event_routing.schedule(8.0, seed)[0] if f[1] < 4.0]:
            body, _ = gen.event_file(seed, i, n, due, prev[-3:])
            with open(os.path.join(tmp, f"{i:06d}.jsonl"), "wb") as f:
                f.write(body)
            prev.append((i, n, due))
        return {
            "documents": document_figures(con, docs),
            "events": event_figures(
                con,
                f"read_json('{tmp}/*.jsonl', format='newline_delimited', filename=true, "
                f"columns={{event_id: 'BIGINT', ts: 'TIMESTAMP', user_id: 'BIGINT', "
                f"event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}}) ORDER BY filename",
            ),
        }


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] not in ("fixture", "generated"):
        sys.exit(__doc__)
    out = fixture(sys.argv[2]) if sys.argv[1] == "fixture" else generated(int(sys.argv[2]))
    print(json.dumps(out, indent=1))
