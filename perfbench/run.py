"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload warehouse_sync --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from the seed, starts the engine on ``local[nproc]`` in this process,
runs the workload for about ``--seconds``, checks every output against a
DuckDB replay, and prints two JSON lines: the full report (machine,
inputs, every workload metric with its sample count), then the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer metrics, read from
spans recorded around each call into the engine; the traced run also
writes its spans under ``.perfbench_out/``.

Exit status: 0 when every output was right, 1 when any was wrong,
2 when the engine cannot be imported or the arguments are bad.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0] or ".") == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT  # never shadow stdlib modules with this directory's files
elif ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, harness  # noqa: E402
from perfbench.metrics import per_layer_values  # noqa: E402


def contract_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def workload_class(name: str):
    if name == "warehouse_sync":
        from perfbench.warehouse_sync import WarehouseSync

        return WarehouseSync
    if name == "corpus_build":
        from perfbench.corpus_build import CorpusBuild

        return CorpusBuild
    if name == "event_routing":
        from perfbench.event_routing import EventRouting

        return EventRouting
    raise ValueError(name)


WORKLOADS = ("warehouse_sync", "corpus_build", "event_routing")


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    try:
        import dot_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = harness.pin_environment(work)
    ctx = harness.Context(ROOT, work, args.seed, args.seconds, bool(args.trace))
    wl = workload_class(args.workload)(ctx)
    steal0, total0 = harness.cpu_ticks()
    try:
        ctx.set_up(wl.warmup)
        first_job = ctx.first_job_id()
        t0 = time.perf_counter()
        wl.run()
        run_s = time.perf_counter() - t0
        ctx.tracer.harvest_all(first_job)
        rss = harness.peak_rss_mb()
        machine = ctx.machine()
        harness.stop_engine(ctx.spark)
        t1 = time.perf_counter()
        ctx.wrong = wl.check()
        check_s = time.perf_counter() - t1
        layers = wl.layers() if ctx.trace else {}
    finally:
        harness.stop_engine(ctx.spark)
    steal1, total1 = harness.cpu_ticks()
    machine["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    machine["env"] = env

    attempted, failed = wl.outcome()
    e2e = {
        "setup_s": ctx.setup["start_s"] + ctx.setup["warmup_s"],
        "peak_rss_mb": rss,
        "ok_ratio": 1 - failed / attempted,
        **wl.end_to_end(),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_s": run_s,
        "check_s": check_s,
        "machine": machine,
        "inputs": {**gen.properties()[args.workload], "pools": gen.properties()["pools"]},
        "setup": ctx.setup,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "workload_metrics": wl.report(),
        "end_to_end": e2e,
    }
    if ctx.trace:
        units = contract_metrics("per_layer")
        per_layer = per_layer_values(ctx, layers, e2e, list(units))
        report["per_layer"] = per_layer
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        spans_path = os.path.join(out, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(ctx.tracer.dump(), f)
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
        metrics = {m: {"value": per_layer[m], "unit": u} for m, u in units.items()}
    else:
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in contract_metrics("end_to_end").items()}
    print(json.dumps(report, default=str))
    correct = ctx.wrong == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
