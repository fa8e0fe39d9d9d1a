"""event_routing: webhook events routed through the streaming layer
into a transactional table, offered by an open-loop generator.

A generator thread drops one JSONL delivery file in each
FILE_INTERVAL_S slot, at a seeded random point of it, and never waits
on the stream: first at BASE_RATE events/s, then at PEAK_RATE. A
share of each file re-delivers events from the previous files
(at-least-once delivery) and a share carries event times that lag
delivery, all well inside the 10-minute watermark. The stream is
``streaming.ingress.stream_jsonl_corpus`` ->
``streaming.state.stream_dedup`` -> ``streaming.fanout.route_events``
-> ``foreachBatch(txlog.exactly_once_sink(TxTable))``.

An event's latency runs from its file's due time to the commit of the
micro-batch whose manifest holds it; LATENCY_LIMIT_S is the limit on
the p90 (the reference's status poll runs every 30 s).
"""

from __future__ import annotations

import glob
import math
import os
import threading
import time

from perfbench import gen
from perfbench.harness import Workload
from perfbench.spans import Timed
from perfbench.stats import percentile, summarize

FILE_INTERVAL_S = 0.1
BASE_RATE = 2000  # events/s
PEAK_RATE = 32000  # events/s
LATENCY_LIMIT_S = 5.0
DRAIN_MAX_S = 30.0
PRIME_EVENTS = 50
# warm-up micro-batches, one delivery file each: the per-batch code
# paths the latency depends on are still warming for the first few
WARMUP_FILES = 10


class Generator(threading.Thread):
    """Writes the delivery files of ``schedule`` ((index, due_s, n)
    in due order) into ``dest``, each at ``t0 + due_s``."""

    def __init__(self, seed: int, dest: str, tmp: str, schedule: list, t0: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.seed, self.dest, self.tmp, self.schedule, self.t0 = seed, dest, tmp, schedule, t0
        self.files: list[dict] = []
        self.stop_flag = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            prev: list[tuple[int, int, float]] = []
            for i, due, n in self.schedule:
                body, ids = gen.event_file(self.seed, i, n, due, prev[-3:])
                wait = self.t0 + due - time.perf_counter()
                if self.stop_flag.wait(max(0.0, wait)):
                    return
                tmp = os.path.join(self.tmp, f"{i:06d}.jsonl")
                with open(tmp, "wb") as f:
                    f.write(body)
                os.rename(tmp, os.path.join(self.dest, f"{i:06d}.jsonl"))
                written = time.perf_counter()
                self.files.append({"i": i, "due": self.t0 + due, "written": written, "ids": ids, "n": n})
                prev.append((i, n, due))
        except BaseException as e:  # reported by the main thread
            self.error = e


def schedule(seconds: float, seed: int) -> tuple[list, float]:
    """Delivery files for a base phase then a peak phase, each half
    of ``seconds``; returns them and the phase boundary. Each file is
    due at a seeded random point of its FILE_INTERVAL_S slot, so the
    deliveries do not fall into step with the stream's micro-batches."""
    half = seconds / 2
    slots = math.ceil(seconds / FILE_INTERVAL_S - 1e-9)
    jitter = gen.arrival_jitter(seed, slots)
    out = []
    for k in range(slots):
        t = k * FILE_INTERVAL_S
        rate = BASE_RATE if t < half else PEAK_RATE
        out.append((k + 1, t + float(jitter[k]) * FILE_INTERVAL_S, int(rate * FILE_INTERVAL_S)))
    return out, half


class EventRouting(Workload):
    name = "event_routing"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.commits: dict[int, float] = {}

    def start(self, spark, src: str, tx_root: str, ckpt: str, trace: bool = False):
        from dot_spark.streaming.fanout import route_events
        from dot_spark.streaming.ingress import stream_jsonl_corpus
        from dot_spark.streaming.state import stream_dedup
        from dot_spark.txlog import TxTable, exactly_once_sink

        tr = self.ctx.tracer
        with tr.span("streaming.ingress.stream_jsonl_corpus"):
            stream = stream_jsonl_corpus(spark, src, schema=gen.EVENTS_DDL)
        with tr.span("streaming.state.stream_dedup"):
            deduped = stream_dedup(stream, ["event_id"], "ts", "10 minutes")
        with tr.span("streaming.fanout.route_events"):
            routed = route_events(deduped)
        table = TxTable(spark, tx_root)
        if trace:
            table = Timed(table, "txlog.TxTable", tr)
        sink = exactly_once_sink(table)
        commits = self.commits

        def on_batch(df, batch_id: int) -> None:
            with tr.span("txlog.exactly_once_sink"):
                sink(df, batch_id)
            commits[batch_id] = time.perf_counter()

        return (
            routed.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def warmup(self, ctx) -> None:
        src = ctx.fresh_dir("warm", "events")
        q = self.start(ctx.spark, src, ctx.fresh_dir("warm", "tx"), ctx.fresh_dir("warm", "ckpt"))
        try:
            prev = []
            for i in range(WARMUP_FILES):
                body, _ = gen.event_file(ctx.seed + 1, i, 500, 0.0, prev[-3:])
                with open(os.path.join(src, f"{i:06d}.jsonl"), "wb") as f:
                    f.write(body)
                prev.append((i, 500, 0.0))
                q.processAllAvailable()
        finally:
            q.stop()
        self.commits.clear()

    def run(self) -> None:
        ctx = self.ctx
        src = ctx.fresh_dir("events")
        tmp = ctx.fresh_dir("events_tmp")
        self.tx_root = ctx.fresh_dir("tx")
        q = self.start(ctx.spark, src, self.tx_root, ctx.fresh_dir("ckpt"), ctx.trace)
        try:
            # prime: one small file committed before the clock starts,
            # so the first measured batch is not the query's first
            prime = Generator(ctx.seed, src, tmp, [(0, 0.0, PRIME_EVENTS)], time.perf_counter())
            prime.run()
            q.processAllAvailable()
            plan, self.boundary = schedule(ctx.seconds, ctx.seed)
            t0 = time.perf_counter() + 0.5
            g = Generator(ctx.seed, src, tmp, plan, t0)
            self.t0 = t0
            g.start()
            g.join(ctx.seconds + 30)
            g.stop_flag.set()
            if g.error is not None:
                raise RuntimeError(f"generator failed: {g.error!r}")
            self.drain_s, self.drained = self._drain(q)
            self.progress = list(q.recentProgress)
        finally:
            q.stop()
        self.files = prime.files + g.files

    def _drain(self, q) -> tuple[float, bool]:
        """Wait until the stream has absorbed every delivered file, at
        most DRAIN_MAX_S. Returns the wait and whether the stream
        finished."""
        t = time.perf_counter()
        done = threading.Thread(target=q.processAllAvailable, daemon=True)
        done.start()
        done.join(DRAIN_MAX_S)
        return time.perf_counter() - t, not done.is_alive()

    # --- results -------------------------------------------------------

    def check(self) -> int:
        from perfbench.oracle import check_events

        ids, types = [], []
        for f in self.files:
            rows = gen.fresh_events(self.ctx.seed, f["i"], f["n"], 0.0)
            ids.extend(rows["event_id"].tolist())
            types.extend(rows["event_type"].tolist())
        res = check_events(self.tx_root, ids, types)
        self.sent = ids
        self.batch_of = res["batch_of"]
        if self.drained:
            # the stream caught up, so an event it never committed was dropped
            self.missing = 0
            return res["wrong"] + res["missing"]
        # the stream was still running late: an uncommitted event failed
        self.missing = res["missing"]
        return res["wrong"]

    def outcome(self) -> tuple[int, int]:
        return len(self.sent), self.missing + self.ctx.wrong

    def latencies(self) -> tuple[list[float], list[float]]:
        """Per-event latency (s) of the base and the peak phase; an
        event never committed counts as infinitely late."""
        base, peak = [], []
        for f in self.files:
            if f["i"] == 0:
                continue
            phase = base if f["due"] - self.t0 < self.boundary else peak
            for eid in f["ids"]:
                b = self.batch_of.get(int(eid))
                c = self.commits.get(b) if b is not None else None
                phase.append(c - f["due"] if c is not None else float("inf"))
        return base, peak

    def end_to_end(self) -> dict:
        # over every event of the run: the base phase alone is a dozen
        # overhead-bound micro-batches, whose latency swings with host
        # contention far more than the peak phase's
        base, peak = self.latencies()
        return {"op_p50_s": percentile(base + peak, 50)}

    def report(self) -> dict:
        base, peak = self.latencies()
        b, p = summarize(base, (50, 90, 99)), summarize(peak, (50, 90, 99))
        return {
            "offered_rates_per_s": {"base": BASE_RATE, "peak": PEAK_RATE},
            "latency_limit_p90_s": LATENCY_LIMIT_S,
            "route_s": b,
            "peak_s": p,
            "base_meets_limit": b["p90"] is not None and b["p90"] <= LATENCY_LIMIT_S,
            "peak_meets_limit": p["p90"] is not None and p["p90"] <= LATENCY_LIMIT_S,
            "drain_s": self.drain_s,
            "drained": self.drained,
            "batches": len(self.commits),
        }

    def layers(self) -> dict:
        from perfbench.oracle import committed_files

        tr = self.ctx.tracer
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        dur = lambda key: [p["durationMs"].get(key, 0) / 1000 for p in prog]  # noqa: E731
        state = next((p["stateOperators"][0] for p in reversed(self.progress) if p.get("stateOperators")), {})
        rows_in = sum(p["numInputRows"] for p in self.progress)
        sinks = tr.named("txlog.exactly_once_sink")
        skips = [s for s in sinks if not any(c.name == "txlog.TxTable._stage" for c in tr.children(s.id))]
        committed = committed_files(self.tx_root)
        lateness = [f["written"] - f["due"] for f in self.files if f["i"] > 0]
        return {
            "streaming.batches": len(prog),
            "streaming.trigger_p50_s": percentile(dur("triggerExecution"), 50) if prog else None,
            "streaming.planning_s": percentile(dur("queryPlanning"), 50) if prog else None,
            "streaming.get_batch_s": percentile(dur("getBatch"), 50) if prog else None,
            "streaming.state_rows": state.get("numRowsTotal"),
            "streaming.state_bytes": state.get("memoryUsedBytes"),
            "streaming.dup_drop_ratio": (rows_in - len(self.batch_of)) / rows_in if rows_in else None,
            "streaming.backlog_files": self._max_backlog(),
            "txlog.commits": sum(1 for b, files in committed.items() if b is not None and files),
            "txlog.sink_s": percentile([tr.self_time(s.id) for s in sinks], 50) if sinks else None,
            "txlog.replay_skips": len(skips),
            "txlog.log_versions": len(glob.glob(os.path.join(self.tx_root, "_log", "v*.json"))),
            "gen.late_p99_s": percentile(lateness, 99) if lateness else None,
        }

    def _max_backlog(self) -> int:
        """Most delivery files written but not yet fully committed at
        any batch commit."""
        done_at = {}
        for f in self.files:
            ts = [self.commits.get(self.batch_of.get(int(e))) for e in f["ids"]]
            done_at[f["i"]] = max((t for t in ts if t is not None), default=float("inf"))
        worst = 0
        for c in self.commits.values():
            written = sum(1 for f in self.files if f["written"] <= c)
            finished = sum(1 for f in self.files if done_at[f["i"]] <= c)
            worst = max(worst, written - finished)
        return worst
