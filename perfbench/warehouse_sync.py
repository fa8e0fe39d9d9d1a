"""warehouse_sync: one client standing in for the sync scheduler, in a
closed loop.

First one full-refresh sync of lineitem whose source holds
re-delivered duplicates (``pipelines.okta_full_refresh``), then the
initial orders snapshot. Then a repeating cycle over 8 store tenants:
a per-store watermark sync of the next time slice, which overlaps the
previous slice as a re-delivered API page would
(``pipelines.woo_incremental_by_store``); a dashboard read over the
synced table (``Warehouse.read``); and every CDC_EVERY cycles a CDC
batch merged into the orders snapshot (``Warehouse.merge_upsert``).
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.harness import Workload
from perfbench.metrics import count_parquet, loads_layers
from perfbench.spans import Timed
from perfbench.stats import median, summarize

CDC_EVERY = 4
# Sync cycles per run = --seconds / CYCLE_S (the nominal cycle time), so
# every run measures the same work however fast the host runs it
CYCLE_S = 1.0
SYNC_TABLE = "store_orders"


def _feed_name(k: int) -> str:
    return f"feed_{k:05d}"


def _cdc_name(k: int) -> str:
    return f"cdc_{k:05d}"


class WarehouseSync(Workload):
    """The op records in ``ctx.ops`` (kind, slice or batch index,
    rows appended, read result) are the sequence the oracle replays."""

    name = "warehouse_sync"

    # --- the client's operations -----------------------------------------

    def _load(self, spark, name: str, inputs: str):
        from dot_spark.sources.registry import load_table

        with self.ctx.tracer.span("sources.load_table"):
            return load_table(spark, name, inputs)

    def refresh(self, wh, spark, inputs: str) -> None:
        from dot_spark.pipelines import okta_full_refresh

        src = self._load(spark, "lineitem", inputs)
        with self.ctx.tracer.span("pipelines.okta_full_refresh"):
            okta_full_refresh(
                wh,
                {"lineitem": src},
                {"lineitem": gen.LINEITEM_SCHEMA},
                {"lineitem": (list(gen.LINEITEM_KEYS), list(gen.LINEITEM_ORDER))},
            )

    def sync(self, wh, spark, inputs: str, k: int) -> int:
        from dot_spark.pipelines import woo_incremental_by_store

        src = self._load(spark, _feed_name(k), inputs)
        with self.ctx.tracer.span("pipelines.woo_incremental_by_store"):
            return woo_incremental_by_store(wh, src, SYNC_TABLE, store_col="store", ts_col="ts")

    def read(self, wh) -> list[tuple]:
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("loads.dashboard_read"):
            rows = (
                wh.read(SYNC_TABLE)
                .groupBy("store")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("total"), 2).alias("revenue"),
                    F.max("order_id").alias("last_order"),
                )
                .collect()
            )
        return sorted(tuple(r) for r in rows)

    def upsert(self, wh, spark, inputs: str, k: int) -> None:
        updates = self._load(spark, _cdc_name(k), inputs)
        wh.merge_upsert(updates, "orders_snapshot", ["o_orderkey"], delete_col="_deleted")

    # --- set-up and the measured loop ----------------------------------

    def warmup(self, ctx) -> None:
        """One small pass over every op type (its own warehouse and
        inputs, so the measured run starts from empty tables)."""
        from dot_spark.loads import Warehouse

        inputs = ctx.fresh_dir("warm", "inputs")
        wh = Warehouse(ctx.spark, ctx.fresh_dir("warm", "wh"))
        gen.write_parquet(gen.lineitem(ctx.seed, rows=4_000), f"{inputs}/lineitem.parquet")
        gen.write_parquet(gen.orders_snapshot(ctx.seed, rows=2_000), f"{inputs}/orders_snapshot.parquet")
        for k in range(2):
            gen.write_parquet(gen.feed_slice(ctx.seed + 1, k), f"{inputs}/{_feed_name(k)}.parquet")
        gen.write_parquet(gen.cdc_batch(ctx.seed + 1, 0), f"{inputs}/{_cdc_name(0)}.parquet")
        self.refresh(wh, ctx.spark, inputs)
        wh.write(self._load(ctx.spark, "orders_snapshot", inputs), "orders_snapshot")
        for k in range(2):
            self.sync(wh, ctx.spark, inputs, k)
            self.read(wh)
        self.upsert(wh, ctx.spark, inputs, 0)

    def run(self) -> None:
        from dot_spark.loads import Warehouse

        ctx = self.ctx
        spark = ctx.spark
        self.inputs = inputs = ctx.fresh_dir("inputs")
        self.root = ctx.fresh_dir("wh")
        wh = Warehouse(spark, self.root)
        if ctx.trace:
            wh = Timed(wh, "loads.Warehouse", ctx.tracer)
        gen.write_parquet(gen.lineitem(ctx.seed), f"{inputs}/lineitem.parquet")
        gen.write_parquet(gen.orders_snapshot(ctx.seed), f"{inputs}/orders_snapshot.parquet")

        with ctx.op("refresh"):
            self.refresh(wh, spark, inputs)
        with ctx.op("snapshot_load"):
            wh.write(self._load(spark, "orders_snapshot", inputs), "orders_snapshot")
        # slice 0 creates the table; later slices take the watermark path,
        # so there are at least two cycles
        for k in range(max(2, round(ctx.seconds / CYCLE_S))):
            gen.write_parquet(gen.feed_slice(ctx.seed, k), f"{inputs}/{_feed_name(k)}.parquet")
            with ctx.op("sync" if k else "initial_sync", k=k) as rec:
                rec["rows"] = self.sync(wh, spark, inputs, k)
            with ctx.op("read", k=k) as rec:
                rec["result"] = self.read(wh)
            if k % CDC_EVERY == CDC_EVERY - 1:
                j = k // CDC_EVERY
                gen.write_parquet(gen.cdc_batch(ctx.seed, j), f"{inputs}/{_cdc_name(j)}.parquet")
                with ctx.op("upsert", j=j):
                    self.upsert(wh, spark, inputs, j)

    # --- results -------------------------------------------------------

    def check(self) -> int:
        from perfbench.oracle import check_warehouse

        return check_warehouse(self.ctx, self)

    def end_to_end(self) -> dict:
        sync = self.ctx.durations("sync")
        return {"op_p50_s": median(sync)}

    def report(self) -> dict:
        """The workload's own metrics, with their sample counts."""
        ctx = self.ctx
        refresh = ctx.durations("refresh")
        return {
            "refresh_s": refresh[0] if refresh else None,
            "sync_s": summarize(ctx.durations("sync"), keep=100),
            "read_s": summarize(ctx.durations("read"), keep=100),
            "upsert_s": summarize(ctx.durations("upsert"), keep=100),
        }

    def layers(self) -> dict:
        tr = self.ctx.tracer
        refresh = tr.named("pipelines.okta_full_refresh")
        # the first sync creates the table: the watermark path starts at the second
        syncs = tr.named("pipelines.woo_incremental_by_store")[1:]
        # the refresh's first write is its only pass over the source
        scan = [c for s in refresh for c in tr.children(s.id) if c.name == "loads.Warehouse.write"][:1]
        dedup = tr.named("loads.Warehouse.write", under="loads.Warehouse.rewrite")
        synced = sum(r.get("rows") or 0 for r in self.ctx.ops if r["kind"] == "sync" and r["ok"])
        scanned = sum(
            gen.SLICE_ROWS + int(gen.SLICE_ROWS * gen.SLICE_OVERLAP)
            for r in self.ctx.ops
            if r["kind"] == "sync" and r["ok"]
        )

        def per_sync(name: str) -> float | None:
            by_op: dict[int, float] = {}
            for c in tr.named(name):
                by_op[c.op] = by_op.get(c.op, 0.0) + c.dur
            return median([by_op.get(s.op, 0.0) for s in syncs])

        return {
            # Spark's inputBytes counter reads near zero for local parquet
            # scans, so the bytes are the source file's size on disk
            "sources.input_bytes": os.path.getsize(f"{self.inputs}/lineitem.parquet") if scan else 0,
            "sources.input_rows": tr.stage_sum(scan, "input_rows"),
            "sources.scan_s": sum(s.dur for s in scan),
            "dedup.exec_s": sum(s.dur for s in dedup),
            "dedup.shuffle_bytes": tr.stage_sum(dedup, "shuffle_write_bytes"),
            "dedup.spill_bytes": tr.stage_sum(dedup, "spill_bytes"),
            "pipelines.sync_jobs": median([tr.stage_sum([s], "jobs") for s in syncs]),
            # the per-store MAX(ts) table each sync builds and broadcasts
            "pipelines.watermark_s": median(
                [sum(tr.broadcast_build_ms(c) for c in tr.subtree([s])) / 1000 for s in syncs]
            ),
            "pipelines.delta_yield": synced / scanned if scanned else None,
            **loads_layers(tr, self.inputs),
            "loads.write_s": per_sync("loads.Warehouse.write"),
            "loads.adopt_s": per_sync("loads.Warehouse.adopt_files"),
            "loads.table_files": count_parquet(f"{self.root}/{SYNC_TABLE}"),
            "loads.read_s": median([s.dur for s in tr.named("loads.dashboard_read")]),
        }
