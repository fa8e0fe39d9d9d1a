"""Seeded input generator for the benchmark workloads.

Every input is drawn from the pools in ``perfbench/data`` (a fixed
sample of the engine's sf0.1 fixture tables, cut by
``make_sample.py``), so values, text and their distributions are the
fixture's own. What a workload adds on top is stated here as module
constants and recorded in every result (``input_properties``):
re-delivered rows, slice overlap, the CDC mix, injected near-duplicate
families and duplicate or late events. Each generator is a pure
function of ``(seed, index)``: the same seed gives byte-identical
files, and a workload can draw its k-th input on demand without
holding state.
"""

from __future__ import annotations

import datetime as dt
import functools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
EPOCH_US = int(EPOCH.timestamp()) * 1_000_000

# --- warehouse_sync ------------------------------------------------------
LINEITEM_DUP_SHARE = 0.05  # re-delivered rows in the full-refresh source
STORES = 8  # tenants: a feed row's store is its customer key mod STORES
SLICE_ROWS = 2_000  # new rows per incremental time slice
SLICE_OVERLAP = 0.25  # share of the previous slice re-delivered in the next
SLICE_US = 600 * 1_000_000  # event-time width of one slice
SNAPSHOT_ROWS = 20_000  # orders snapshot the CDC batches merge into
CDC_ROWS = 400
CDC_MIX = {"update": 0.6, "insert": 0.3, "delete": 0.1}
INSERT_KEY_BASE = 10_000_000  # above every fixture order key
FEED_STATUS = {"F": "completed", "O": "processing", "P": "pending"}

# --- corpus_build --------------------------------------------------------
DOCS = 1_200  # a quarter of the fixture corpus (5000 documents)
DOC_EXACT_SHARE = 0.02  # case/whitespace variants of another doc
DOC_FAMILY_SHARE = 0.10  # docs that belong to an injected chained near-dup family
DOC_FAMILY_LEN = 4  # chain length: each member is an edit of the previous
DOC_EDIT_TOKENS = 1  # token substitutions per chain step

# --- event_routing -------------------------------------------------------
EVENT_DUP_SHARE = 0.05  # re-delivered copies of events from earlier files
EVENT_LATE_SHARE = 0.05  # events whose event time lags delivery
EVENT_LATE_MAX_S = 120.0  # lag bound, well inside the 10-minute watermark
EVENT_ID_STRIDE = 1_000_000  # ids of file i are i * STRIDE + j


@functools.cache
def pool(name: str) -> pa.Table:
    """One of the fixture samples in ``perfbench/data``."""
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


@functools.cache
def _column(name: str, col: str) -> np.ndarray:
    return pool(name).column(col).to_numpy(zero_copy_only=False)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us", tz="UTC"))


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --- warehouse_sync ------------------------------------------------------


def _utc(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """A fixture timestamp (naive, UTC) as a UTC timestamp."""
    return col.cast(pa.timestamp("us", tz="UTC"))


def lineitem(seed: int, rows: int | None = None, dup_share: float = LINEITEM_DUP_SHARE) -> pa.Table:
    """Full-refresh source: the first ``rows`` lines of the lineitem
    pool (all of it by default) plus re-delivered copies of a
    ``dup_share`` of them, in a seeded order. A copy carries a later
    ``l_delivered_at`` and another fixture quantity, so keep-latest
    dedup has a visible winner."""
    r = _rng(seed, 1)
    base = pool("lineitem")
    base = base.slice(0, rows) if rows is not None else base
    n = base.num_rows
    n_dup = int(n * dup_share)
    pick = np.sort(r.choice(n, n_dup, replace=False))
    dups = base.take(pick)
    qty = _column("lineitem", "l_quantity")
    dups = dups.set_column(
        dups.schema.get_field_index("l_quantity"), "l_quantity", pa.array(r.choice(qty, n_dup))
    )
    delivered = np.concatenate(
        [np.full(n, EPOCH_US, dtype=np.int64), EPOCH_US + r.integers(1, 86_400, n_dup) * 1_000_000]
    )
    t = pa.concat_tables([base, dups])
    t = t.set_column(t.schema.get_field_index("l_shipdate"), "l_shipdate", _utc(t.column("l_shipdate")))
    t = t.append_column("l_delivered_at", _ts(delivered))
    return t.take(r.permutation(t.num_rows))


LINEITEM_SCHEMA = {
    "l_orderkey": "bigint",
    "l_partkey": "bigint",
    "l_suppkey": "bigint",
    "l_linenumber": "int",
    "l_quantity": "double",
    "l_extendedprice": "double",
    "l_discount": "double",
    "l_tax": "double",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipdate": "timestamp",
    "l_delivered_at": "timestamp",
}
LINEITEM_KEYS = ("l_orderkey", "l_linenumber")
LINEITEM_ORDER = ("l_delivered_at",)


def _window_rows(seed: int, k: int) -> dict[str, np.ndarray]:
    """The SLICE_ROWS store orders whose event time falls in window k
    (sorted by ts; ts strictly inside the window). Customer, status
    and total come from fixture orders drawn with replacement."""
    r = _rng(seed, 2, k)
    lo = EPOCH_US + k * SLICE_US
    src = r.integers(0, pool("orders").num_rows, SLICE_ROWS)
    cust = _column("orders", "o_custkey")[src]
    status = np.vectorize(FEED_STATUS.get)(_column("orders", "o_orderstatus")[src])
    return {
        "store": (cust % STORES).astype(np.int32),
        "order_id": k * SLICE_ROWS + np.arange(SLICE_ROWS, dtype=np.int64),
        "ts_us": np.sort(r.integers(lo + 1, lo + SLICE_US, SLICE_ROWS)),
        "status": status,
        "customer_id": cust,
        "total": _column("orders", "o_totalprice")[src],
    }


def feed_slice(seed: int, k: int) -> pa.Table:
    """Incremental source page k: window k plus the newest
    SLICE_OVERLAP share of window k-1, re-delivered as a retried API
    page would be."""
    rows = _window_rows(seed, k)
    if k > 0:
        prev = _window_rows(seed, k - 1)
        keep = int(SLICE_ROWS * SLICE_OVERLAP)
        rows = {c: np.concatenate([prev[c][-keep:], rows[c]]) for c in rows}
    return pa.table(
        {
            "store": rows["store"],
            "order_id": rows["order_id"],
            "ts": _ts(rows["ts_us"]),
            "status": rows["status"],
            "customer_id": rows["customer_id"],
            "total": rows["total"],
        }
    )


def _orders(rows: np.ndarray, keys: np.ndarray | None = None) -> pa.Table:
    """Rows of the orders pool, optionally re-keyed."""
    t = pool("orders").take(rows)
    t = t.set_column(t.schema.get_field_index("o_orderdate"), "o_orderdate", _utc(t.column("o_orderdate")))
    if keys is not None:
        t = t.set_column(0, "o_orderkey", pa.array(keys.astype(np.int64)))
    return t


@functools.cache
def _snapshot_rows(seed: int, rows: int) -> np.ndarray:
    return np.sort(_rng(seed, 3).choice(pool("orders").num_rows, rows, replace=False))


def orders_snapshot(seed: int, rows: int = SNAPSHOT_ROWS) -> pa.Table:
    """A seeded choice of ``rows`` fixture orders."""
    return _orders(_snapshot_rows(seed, rows))


def cdc_batch(seed: int, k: int) -> pa.Table:
    """CDC batch k against the orders snapshot, in the CDC_MIX shares:
    updates (a snapshot key with another fixture order's values),
    deletes of snapshot keys, and inserts of fresh keys. Keys are
    unique within a batch."""
    r = _rng(seed, 4, k)
    n_upd = int(CDC_ROWS * CDC_MIX["update"])
    n_ins = int(CDC_ROWS * CDC_MIX["insert"])
    n_del = CDC_ROWS - n_upd - n_ins
    snap_keys = _column("orders", "o_orderkey")[_snapshot_rows(seed, SNAPSHOT_ROWS)]
    existing = r.choice(snap_keys, n_upd + n_del, replace=False)
    fresh = INSERT_KEY_BASE + k * n_ins + np.arange(n_ins)
    keys = np.concatenate([existing, fresh])
    t = _orders(r.integers(0, pool("orders").num_rows, len(keys)), keys)
    deleted = np.zeros(len(keys), dtype=bool)
    deleted[n_upd : n_upd + n_del] = True
    return t.append_column("_deleted", pa.array(deleted))


# --- corpus_build --------------------------------------------------------


@functools.cache
def _vocab() -> tuple[str, ...]:
    """The documents pool's vocabulary, most frequent word first."""
    words = pc.utf8_split_whitespace(pool("documents").column("text")).combine_chunks().flatten()
    counts = pc.value_counts(words).to_pylist()
    return tuple(c["values"] for c in sorted(counts, key=lambda c: (-c["counts"], c["values"])))


def documents(seed: int, k: int, n_docs: int = DOCS) -> pa.Table:
    """Corpus variant k: fixture documents drawn from the pool, plus
    injected chained near-duplicate families (member i+1 is member i
    with DOC_EDIT_TOKENS words swapped for other pool words, so a
    family's ends can miss each other's LSH buckets and the closure
    takes several rounds) and exact duplicates that differ only in
    case and spacing. Family heads are pool documents too."""
    r = _rng(seed, 5, k)
    vocab = _vocab()
    n_family = int(n_docs * DOC_FAMILY_SHARE) // DOC_FAMILY_LEN * DOC_FAMILY_LEN
    n_exact = int(n_docs * DOC_EXACT_SHARE)
    n_heads = n_family // DOC_FAMILY_LEN
    n_base = n_docs - n_family - n_exact
    rows = r.choice(pool("documents").num_rows, n_base + n_heads, replace=False)
    text = _column("documents", "text")
    lang = list(_column("documents", "lang")[rows[:n_base]])
    source = list(_column("documents", "source")[rows[:n_base]])
    joined = list(text[rows[:n_base]])
    for head in rows[n_base:]:
        doc = str(text[head]).split(" ")
        for _ in range(DOC_FAMILY_LEN):
            joined.append(" ".join(doc))
            lang.append(_column("documents", "lang")[head])
            source.append(_column("documents", "source")[head])
            doc = list(doc)
            for pos in r.choice(len(doc), DOC_EDIT_TOKENS, replace=False):
                doc[pos] = vocab[(vocab.index(doc[pos]) + 1 + int(r.integers(0, len(vocab) - 1))) % len(vocab)]
    for src in r.choice(len(joined), n_exact, replace=False):
        joined.append("  " + joined[src].upper().replace(" ", "  ") + " ")
        lang.append(lang[src])
        source.append(source[src])
    order = r.permutation(len(joined))
    out = [joined[i] for i in order]
    return pa.table(
        {
            "doc_id": k * 100_000 + np.arange(len(out), dtype=np.int64),
            "text": out,
            "lang": [lang[i] for i in order],
            "source": [source[i] for i in order],
            "n_chars": np.array([len(t) for t in out], dtype=np.int64),
        }
    )


# --- event_routing -------------------------------------------------------


def fresh_events(seed: int, i: int, n: int, due_s: float) -> dict[str, np.ndarray]:
    """The ``n`` new events of delivery file i: fixture events drawn
    with replacement, recycled with fresh ids and an event time just
    before ``due_s``, a EVENT_LATE_SHARE of them up to
    EVENT_LATE_MAX_S earlier."""
    r = _rng(seed, 6, i)
    src = r.integers(0, pool("events").num_rows, n)
    ts = EPOCH_US + int(due_s * 1e6) - r.integers(0, 50_000, n)
    late = r.random(n) < EVENT_LATE_SHARE
    ts = ts - late * r.integers(1, int(EVENT_LATE_MAX_S * 1e6), n)
    return {
        "event_id": i * EVENT_ID_STRIDE + np.arange(n, dtype=np.int64),
        "ts_us": ts,
        **{c: _column("events", c)[src] for c in ("user_id", "event_type", "value", "props")},
    }


def arrival_jitter(seed: int, n: int) -> np.ndarray:
    """Where in its slot each of ``n`` delivery files is due, as a
    share of the slot in [0, 1)."""
    return _rng(seed, 8).random(n)


def event_file(seed: int, i: int, n: int, due_s: float, prev: list[tuple[int, int, float]]) -> tuple[bytes, np.ndarray]:
    """JSONL body of delivery file i: ``n`` fresh events created at
    ``due_s`` (seconds after the schedule start) plus re-delivered
    copies of events from the files in ``prev`` ((index, n, due_s) of
    the last few files), EVENT_DUP_SHARE of ``n``. Returns the body and
    the fresh event ids."""
    rows = fresh_events(seed, i, n, due_s)
    r = _rng(seed, 7, i)
    n_dup = int(round(n * EVENT_DUP_SHARE)) if prev else 0
    if n_dup:
        pi, pn, pdue = prev[int(r.integers(0, len(prev)))]
        old = fresh_events(seed, pi, pn, pdue)
        pick = np.sort(r.choice(pn, min(n_dup, pn), replace=False))
        rows = {c: np.concatenate([rows[c], old[c][pick]]) for c in rows}
    ts = np.datetime_as_string(rows["ts_us"].astype("datetime64[us]"), unit="us")
    body = pd.DataFrame(
        {
            "event_id": rows["event_id"],
            "ts": np.char.add(ts.astype(str), "Z"),
            "user_id": rows["user_id"],
            "event_type": rows["event_type"],
            "value": rows["value"],
            "props": rows["props"],
        }
    ).to_json(orient="records", lines=True)
    return body.encode(), rows["event_id"][:n]


EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def properties() -> dict:
    """The generated inputs' workload-relevant properties."""
    return {
        "pools": {name: pool(name).num_rows for name in ("lineitem", "orders", "documents", "events")},
        "warehouse_sync": {
            "lineitem_rows": pool("lineitem").num_rows,
            "lineitem_dup_share": LINEITEM_DUP_SHARE,
            "stores": STORES,
            "slice_rows": SLICE_ROWS,
            "slice_overlap_share": SLICE_OVERLAP,
            "snapshot_rows": SNAPSHOT_ROWS,
            "cdc_rows": CDC_ROWS,
            "cdc_mix": CDC_MIX,
        },
        "corpus_build": {
            "docs": DOCS,
            "exact_dup_share": DOC_EXACT_SHARE,
            "family_share": DOC_FAMILY_SHARE,
            "family_chain_len": DOC_FAMILY_LEN,
            "edit_tokens_per_step": DOC_EDIT_TOKENS,
        },
        "event_routing": {
            "dup_share": EVENT_DUP_SHARE,
            "late_share": EVENT_LATE_SHARE,
            "late_max_s": EVENT_LATE_MAX_S,
        },
    }
