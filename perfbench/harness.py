"""Run context shared by the workloads: the pinned environment, the
Spark session set-up, the machine record and memory accounting."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.spans import Tracer


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_mem_gb() -> int:
    """A quarter of the machine's RAM, between 1 and 4 GB: the engine's
    default heap (24 GB) does not fit a small box."""
    return max(1, min(4, _meminfo_kb("MemTotal") // (4 * 1024 * 1024)))


def pin_environment(work: str) -> dict:
    """Set, before the JVM starts, the variables ``dot_spark.session``
    reads, and keep every scratch file of Spark and the JVM inside
    ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "DOT_SPARK_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata file under /tmp
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    }
    for k in ("DOT_SPARK_MASTER", "DOT_SPARK_SHUFFLE_PARTITIONS", "DOT_SPARK_DEFAULT_PARALLELISM"):
        os.environ.pop(k, None)
    os.environ.update(env)
    return env


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_sha(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


def _children(pid: int) -> list[int]:
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to exit; the ones
    still running."""
    end = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < end:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def stop_engine(spark=None) -> None:
    """Stop the session and end the JVM PySpark launched, with every
    process under it, waiting until each has exited. ``spark.stop()``
    alone leaves the JVM running until it notices, after this process
    has exited, that its stdin closed. Safe to call more than once."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    pids = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    left = _wait_gone(pids, 10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        left = _wait_gone(left, 10)


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and its
    live descendants (the JVM and Python workers)."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class Workload:
    """A workload drives the engine through ``warmup(ctx)`` and
    ``run()``, then reports through ``check``, ``end_to_end``,
    ``report`` and ``layers``."""

    def __init__(self, ctx: "Context"):
        self.ctx = ctx

    def outcome(self) -> tuple[int, int]:
        """(ops attempted, ops failed or wrong)."""
        return self.ctx.attempted, self.ctx.failed + self.ctx.wrong


@dataclass
class Context:
    """One benchmark run: where it writes, its seed, its tracer, and
    the records the workload fills in."""

    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    spark: object = None
    tracer: Tracer = field(default_factory=lambda: Tracer(enabled=False))
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    setup: dict = field(default_factory=dict)
    ops: list = field(default_factory=list)

    @contextmanager
    def op(self, kind: str, **info):
        """Time one client operation. An exception fails the op: it is
        counted, its traceback printed, and the run goes on."""
        rec = {"kind": kind, "ok": True, **info}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception:
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
            self.failed += 1
            print(f"perfbench: {kind} failed:\n{rec['error']}", file=sys.stderr)
        rec["start"] = t0
        rec["dur"] = time.perf_counter() - t0
        self.ops.append(rec)

    def durations(self, kind: str) -> list[float]:
        return [r["dur"] for r in self.ops if r["kind"] == kind and r["ok"]]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, *parts: str) -> str:
        d = self.path(*parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def set_up(self, warmup) -> None:
        """Launch the JVM, start the session and run ``warmup(ctx)``
        once: the cold start a user of a fresh process pays. (A second
        set-up in the same process would find the JVM warm and measure
        something else.)"""
        from dot_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        warmup(self)
        t2 = time.perf_counter()
        self.setup = {"start_s": t1 - t0, "warmup_s": t2 - t1}
        self.tracer = Tracer(self.spark, enabled=self.trace)

    def machine(self) -> dict:
        jvm = self.spark._jvm.java.lang.System
        return {
            "cores": nproc(),
            "heap": os.environ.get("DOT_SPARK_DRIVER_MEM"),
            "git_sha": git_sha(self.root),
            "spark": self.spark.version,
            "java": str(jvm.getProperty("java.version")),
            "python": sys.version.split()[0],
            "loadavg": loadavg(),
        }

    def first_job_id(self) -> int:
        """Id the next Spark job will get."""
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1
