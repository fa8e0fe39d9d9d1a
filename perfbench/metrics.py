"""How a run fills its metric values. The catalogue itself (names,
units, bounds) is ``BENCHMARK.json``."""

from __future__ import annotations

import os

from perfbench.stats import median


def per_layer_values(ctx, layers: dict, e2e: dict, names: list[str]) -> dict:
    """The per-layer metrics ``names`` for this run: the workload's own
    layer values, the session set-up, the Spark totals over the
    measured loop, and the tracer's own figures. A layer the workload
    does not exercise reports 0: no work."""
    spark = ctx.tracer.spark_counters()
    values = {
        "session.start_s": ctx.setup["start_s"],
        "session.warmup_s": ctx.setup["warmup_s"],
        "spark.jobs": spark["jobs"],
        "spark.tasks": spark["tasks"],
        "spark.executor_run_s": spark["executor_run_s"],
        "spark.cpu_s": spark["cpu_s"],
        "spark.gc_s": spark["gc_s"],
        "spark.shuffle_bytes": spark["shuffle_write_bytes"],
        "spark.spill_bytes": spark["spill_bytes"],
        "spark.failed_tasks": spark["failed_tasks"],
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.cost_s": ctx.tracer.cost_s,
        "trace.spans": len(ctx.tracer.spans),
        **layers,
    }
    return {m: (values.get(m) or 0) for m in names}


def loads_layers(tr, inputs: str) -> dict:
    """Table-layer values common to every workload that writes through
    a traced ``Warehouse``."""
    calls = [s for s in tr.spans if s.name.startswith("loads.Warehouse.")]
    written = tr.stage_sum(calls, "output_bytes")
    ingested = dir_bytes(inputs)
    return {
        "loads.promote_s": median([s.dur for s in tr.named("loads.Warehouse.promote")]),
        "loads.merge_s": median([s.dur for s in tr.named("loads.Warehouse.merge_upsert")]),
        "loads.files_written": tr.stage_sum(calls, "write_tasks"),
        "loads.write_amp": written / ingested if ingested else None,
    }


def count_parquet(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(f.endswith(".parquet") for f in files)
    return n


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
