"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench import gen, oracle
from perfbench.spans import Span, Timed, Tracer, covered, traced_functions
from perfbench.stats import min_samples, percentile, summarize


# --- percentiles and the sample-count rule ----------------------------------


def test_min_samples_leaves_ten_beyond():
    assert min_samples(90) == 100
    assert min_samples(50) == 20
    assert min_samples(99) == 1000


def test_p90_needs_a_hundred_samples():
    assert summarize(list(range(99)))["p90"] is None
    full = summarize([float(x) for x in range(100)])
    assert full["n"] == 100
    assert full["p90"] == pytest.approx(89.1)


def test_median_is_given_for_short_series():
    s = summarize([3.0, 1.0, 2.0])
    assert s["p50"] == 2.0 and s["p90"] is None


def test_percentile_interpolates_like_numpy():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 90) == 5


# --- spans -----------------------------------------------------------------


def _tracer(spans: list[tuple[str, int | None, float, float]]) -> Tracer:
    tr = Tracer(enabled=True)
    for i, (name, parent, start, end) in enumerate(spans):
        tr.spans.append(Span(i, name, parent, 1, start, end))
    return tr


def test_self_time_subtracts_union_of_children():
    tr = _tracer(
        [
            ("pipelines.sync", None, 0.0, 10.0),
            ("loads.write", 0, 1.0, 4.0),
            ("loads.adopt", 0, 3.0, 5.0),  # overlaps the write: counted once
            ("loads.read", 0, 9.0, 12.0),  # runs past the parent: clipped
        ]
    )
    assert tr.self_time(0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tr.self_time(1) == pytest.approx(3.0)


def test_covered_handles_disjoint_and_nested():
    assert covered([(0, 1), (2, 3)], 0, 3) == 2
    assert covered([(0, 3), (1, 2)], 0, 3) == 3
    assert covered([], 0, 3) == 0


def test_named_counts_nested_same_name_once():
    tr = _tracer(
        [
            ("loads.Warehouse.rewrite", None, 0, 5),
            ("loads.Warehouse.write", 0, 1, 4),
            ("loads.Warehouse.write", 1, 2, 3),
            ("loads.Warehouse.write", None, 6, 7),
        ]
    )
    assert [s.id for s in tr.named("loads.Warehouse.write")] == [1, 3]
    assert [s.id for s in tr.named("loads.Warehouse.write", under="loads.Warehouse.rewrite")] == [1]


def test_live_spans_nest_and_share_op():
    tr = Tracer(enabled=True)
    with tr.span("a"):
        with tr.span("b"):
            pass
    with tr.span("c"):
        pass
    a, b, c = tr.spans
    assert b.parent == a.id and a.op == b.op != c.op
    assert a.start <= b.start <= b.end <= a.end


class _Table:
    def __init__(self):
        self.root = "/t"

    def path(self, name):
        return f"{self.root}/{name}"

    def write(self, name):
        self.flush()
        return self.path(name)

    def flush(self):
        self.flushed = True


def test_timed_proxy_makes_calls_on_self_child_spans():
    tr = Tracer(enabled=True)
    t = Timed(_Table(), "loads.Table", tr)
    assert t.write("x") == "/t/x"
    assert [s.name for s in tr.spans] == ["loads.Table.write", "loads.Table.flush"]
    assert tr.spans[1].parent == tr.spans[0].id
    assert t.root == "/t" and t.flushed  # attributes pass through both ways


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("a"):
        pass
    assert tr.spans == []


# --- generator determinism -------------------------------------------------


def _bytes(tmp_path, name: str, table) -> bytes:
    path = os.path.join(tmp_path, name)
    gen.write_parquet(table, path)
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.lineitem(seed, rows=2_000),
        lambda seed: gen.feed_slice(seed, 3),
        lambda seed: gen.cdc_batch(seed, 2),
        lambda seed: gen.orders_snapshot(seed, rows=1_000),
        lambda seed: gen.documents(seed, 1, n_docs=200),
    ],
)
def test_same_seed_gives_identical_files(tmp_path, make):
    a = _bytes(tmp_path, "a.parquet", make(7))
    b = _bytes(tmp_path, "b.parquet", make(7))
    c = _bytes(tmp_path, "c.parquet", make(8))
    assert a == b
    assert a != c


def test_event_files_are_deterministic_and_redeliver():
    prev = [(4, 100, 1.0)]
    a, ids_a = gen.event_file(7, 5, 100, 1.25, prev)
    b, ids_b = gen.event_file(7, 5, 100, 1.25, prev)
    assert a == b and list(ids_a) == list(ids_b)
    lines = a.decode().splitlines()
    assert len(lines) == 100 + round(100 * gen.EVENT_DUP_SHARE)
    old = set(int(x) for x in gen.fresh_events(7, 4, 100, 1.0)["event_id"])
    redelivered = [line for line in lines[100:] if int(line.split(",")[0].split(":")[1]) in old]
    assert len(redelivered) == len(lines) - 100


def test_event_schedule_is_seeded_and_keeps_each_file_in_its_slot():
    from perfbench.event_routing import BASE_RATE, FILE_INTERVAL_S, PEAK_RATE, schedule

    plan, half = schedule(2.0, 7)
    assert plan == schedule(2.0, 7)[0]
    assert plan != schedule(2.0, 8)[0]
    assert len(plan) == round(2.0 / FILE_INTERVAL_S) and half == 1.0
    for k, (i, due, n) in enumerate(plan):
        slot = k * FILE_INTERVAL_S
        assert i == k + 1 and slot <= due < slot + FILE_INTERVAL_S
        assert n == int((BASE_RATE if slot < half else PEAK_RATE) * FILE_INTERVAL_S)


def test_feed_slices_overlap_by_the_stated_share():
    a, b = gen.feed_slice(3, 0), gen.feed_slice(3, 1)
    shared = set(a.column("order_id").to_pylist()) & set(b.column("order_id").to_pylist())
    assert len(shared) == int(gen.SLICE_ROWS * gen.SLICE_OVERLAP)


def test_cdc_batch_mix_and_unique_keys():
    t = gen.cdc_batch(3, 0)
    keys = t.column("o_orderkey").to_pylist()
    assert len(keys) == len(set(keys)) == gen.CDC_ROWS
    assert sum(t.column("_deleted").to_pylist()) == gen.CDC_ROWS - int(
        gen.CDC_ROWS * gen.CDC_MIX["update"]
    ) - int(gen.CDC_ROWS * gen.CDC_MIX["insert"])


# --- the oracle catches a planted wrong row --------------------------------


def _oracle_output(docs_path: str, out_dir: str) -> None:
    from dot_spark.queries import ORACLE

    sql = oracle.materialized(ORACLE["pl7_corpus_build_pipeline"])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    os.makedirs(out_dir)
    con.execute(
        f"COPY (SELECT {oracle.CHUNK_COLS} FROM ({sql})) TO '{out_dir}/part-0.parquet' (FORMAT PARQUET)"
    )
    con.close()


def test_corpus_check_passes_the_replay_and_catches_a_planted_row(tmp_path):
    docs = os.path.join(tmp_path, "docs.parquet")
    gen.write_parquet(gen.documents(5, 0, n_docs=150), docs)
    out = os.path.join(tmp_path, "corpus")
    _oracle_output(docs, out)
    ok, _, counts = oracle.check_corpus_build(docs, out, with_counts=True)
    assert ok and counts["docs"] == 150

    part = os.path.join(out, "part-0.parquet")
    rows = pq.read_table(part).to_pylist()
    rows[0]["chunk_text"] += " planted"
    import pyarrow as pa

    pq.write_table(pa.Table.from_pylist(rows), part)
    ok, detail, _ = oracle.check_corpus_build(docs, out, with_counts=False)
    assert not ok and "missing=1 extra=1" in detail


def test_same_rows_is_a_multiset_comparison():
    con = duckdb.connect()
    ok, _ = oracle.same_rows(con, "SELECT * FROM (VALUES (1), (1), (2))", "SELECT * FROM (VALUES (1), (2), (1))")
    assert ok
    ok, detail = oracle.same_rows(con, "SELECT * FROM (VALUES (1), (1), (2))", "SELECT * FROM (VALUES (1), (2), (2))")
    assert not ok and detail.startswith("missing=1 extra=1")


def test_event_check_flags_duplicate_and_misrouted_commits(tmp_path):
    import json

    import pyarrow as pa

    root = os.path.join(tmp_path, "tx")
    os.makedirs(os.path.join(root, "_log"))
    files = []
    for b, rows in enumerate(
        [
            [(1, "retry"), (2, "completed")],
            [(3, "ignore"), (1, "retry")],  # event 1 committed twice
        ]
    ):
        path = os.path.join(root, f"b{b}.parquet")
        pq.write_table(pa.table({"event_id": [r[0] for r in rows], "route": [r[1] for r in rows]}), path)
        files.append(path)
        with open(os.path.join(root, "_log", f"v{b + 1:08d}.json"), "w") as f:
            json.dump({"op": "append", "batch_id": b, "add": [path]}, f)
    res = oracle.check_events(root, [1, 2, 3, 4], ["error", "purchase", "click", "view"])
    assert res["missing"] == 1  # event 4 never committed
    assert res["wrong"] == 1  # event 1 twice
    assert res["batch_of"][1] == 0


# --- a dropped event fails the run -------------------------------------------

ROUTES = {"error": "retry", "purchase": "completed"}


def _routing_run(tmp_path, drop: int | None, drained: bool):
    """An event_routing run whose commit log holds every event of two
    delivery files except event ``drop``, checked after a drain that
    did or did not finish."""
    import json

    import pyarrow as pa

    from perfbench.event_routing import EventRouting
    from perfbench.harness import Context

    wl = EventRouting(Context(str(tmp_path), str(tmp_path), 7, 1.0, False))
    wl.files = [{"i": 1, "n": 20}, {"i": 2, "n": 20}]
    wl.drained = drained
    wl.tx_root = os.path.join(tmp_path, "tx")
    os.makedirs(os.path.join(wl.tx_root, "_log"))
    for b, f in enumerate(wl.files):
        rows = gen.fresh_events(7, f["i"], f["n"], 0.0)
        keep = [j for j, e in enumerate(rows["event_id"]) if e != drop]
        path = os.path.join(wl.tx_root, f"b{b}.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": rows["event_id"][keep],
                    "route": [ROUTES.get(t, "ignore") for t in rows["event_type"][keep]],
                }
            ),
            path,
        )
        with open(os.path.join(wl.tx_root, "_log", f"v{b + 1:08d}.json"), "w") as out:
            json.dump({"op": "append", "batch_id": b, "add": [path]}, out)
    wl.ctx.wrong = wl.check()
    return wl


def test_event_routing_all_committed_is_correct(tmp_path):
    wl = _routing_run(tmp_path, drop=None, drained=True)
    assert wl.ctx.wrong == 0 and wl.outcome() == (40, 0)


def test_event_dropped_after_a_finished_drain_is_wrong(tmp_path):
    # the run's exit status is 1 whenever ctx.wrong > 0
    wl = _routing_run(tmp_path, drop=2 * gen.EVENT_ID_STRIDE + 3, drained=True)
    assert wl.ctx.wrong == 1
    assert wl.outcome() == (40, 1)


def test_event_uncommitted_after_a_timed_out_drain_is_failed(tmp_path):
    wl = _routing_run(tmp_path, drop=2 * gen.EVENT_ID_STRIDE + 3, drained=False)
    assert wl.ctx.wrong == 0
    assert wl.outcome() == (40, 1)


# --- tracing helpers ---------------------------------------------------------


def test_traced_functions_swaps_and_restores():
    import types

    mod = types.ModuleType("dot_spark.operators.fake")
    mod.stage = lambda x: x + 1
    original = mod.stage
    import sys

    sys.modules[mod.__name__] = mod
    try:
        tr = Tracer(enabled=True)
        with traced_functions(tr, {mod.__name__: ("stage",)}):
            assert mod.stage(1) == 2
        assert mod.stage is original
        assert [s.name for s in tr.spans] == ["fake.stage"]
        with traced_functions(Tracer(enabled=False), {mod.__name__: ("stage",)}):
            assert mod.stage is original
    finally:
        del sys.modules[mod.__name__]


def test_broadcast_build_counts_the_map_job_it_reuses():
    s = Span(0, "pipelines.woo_incremental_by_store", None, 1, 0.0, 1.0)
    s.jobs = [
        {"id": 1, "ms": 40, "broadcast": False, "stages": [1]},  # map side of the MAX(ts) aggregate
        {"id": 2, "ms": 30, "broadcast": True, "stages": [1, 2]},  # the broadcast build
        {"id": 3, "ms": 500, "broadcast": False, "stages": [3]},  # the write
    ]
    assert Tracer(enabled=True).broadcast_build_ms(s) == 70


# --- inputs come from the fixture pools ---------------------------------------


def test_documents_are_drawn_from_the_pool():
    pool = set(gen.pool("documents").column("text").to_pylist())
    texts = gen.documents(3, 0, n_docs=200).column("text").to_pylist()
    n_base = 200 - int(200 * gen.DOC_FAMILY_SHARE) // gen.DOC_FAMILY_LEN * gen.DOC_FAMILY_LEN - int(
        200 * gen.DOC_EXACT_SHARE
    )
    assert sum(t in pool for t in texts) >= n_base


def test_refresh_source_is_the_lineitem_pool_plus_redeliveries():
    t = gen.lineitem(3, rows=1_000)
    assert t.num_rows == 1_000 + int(1_000 * gen.LINEITEM_DUP_SHARE)
    keys = set(zip(t.column("l_orderkey").to_pylist(), t.column("l_linenumber").to_pylist()))
    assert len(keys) == 1_000


# --- the metric catalogue is BENCHMARK.json -------------------------------------


def test_every_declared_per_layer_metric_gets_a_value():
    import json
    import types

    from perfbench.metrics import per_layer_values
    from perfbench.run import ROOT, contract_metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer"]]
    assert list(contract_metrics("per_layer")) == declared
    ctx = types.SimpleNamespace(setup={"start_s": 1.0, "warmup_s": 2.0}, tracer=Tracer(enabled=True))
    values = per_layer_values(ctx, {"text.keep_ratio": 0.8}, {"op_p50_s": 1.5}, declared)
    assert list(values) == declared and values["text.keep_ratio"] == 0.8


def test_a_wrong_build_still_counts_its_time():
    from perfbench.corpus_build import CorpusBuild
    from perfbench.harness import Context

    ctx = Context("/x", "/x", 1, 1.0, False)
    ctx.ops = [{"kind": "build", "ok": True, "wrong": True, "dur": 2.0}]
    assert CorpusBuild(ctx).end_to_end() == {"op_p50_s": 2.0}
