"""corpus_build: the training-corpus build, raw documents to chunked
training examples, repeated in a closed loop on a fresh seeded corpus
variant each time.

Each build is the engine's own pl7 query,
``queries.pl7_corpus_build_pipeline``, run over the variant's
directory and written by one ``Warehouse.write``: ``text.quality_filter``
-> lazy barrier -> ``textdedup.dedup_corpus`` -> lazy barrier ->
``textdedup.contamination_flags`` (eval split = doc_id % 97 == 0) ->
``text.chunk_documents``.

With tracing on, the four stage functions are swapped, for the run,
for wrappers that record a span around each call; pl7 looks them up
when it is called, so the traced build runs the same plan. Its
barriers are lazy, so a stage's span holds only the Spark jobs that
stage's function launches itself: ``dedup_corpus`` (the first eager
point: its closure rounds) also runs the filter's scoring pass, and
the decontamination join and chunking run inside the final write.
The per-stage figures are taken from those jobs' stage counters.
"""

from __future__ import annotations

import sys

from perfbench import gen
from perfbench.harness import Workload
from perfbench.metrics import loads_layers
from perfbench.spans import Timed, traced_functions
from perfbench.stats import median, summarize

# Builds per run = --seconds / BUILD_S (the nominal build time), so
# every run measures the same work: in a time-bound loop a quiet host
# fits one more of the later, faster builds and the median moves with
# host noise. WARMUP_BUILDS get the JVM past its steepest warm-up.
BUILD_S = 4.0
WARMUP_BUILDS = 2

# pl7's stage functions, by module
STAGES = {
    "dot_spark.operators.text": ("quality_filter", "chunk_documents"),
    "dot_spark.operators.textdedup": ("dedup_corpus", "contamination_flags"),
}


class CorpusBuild(Workload):
    name = "corpus_build"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.counts: dict[int, dict] = {}  # per build, from the oracle replay

    def build(self, wh, spark, docs_dir: str, table: str) -> None:
        from dot_spark.queries import pl7_corpus_build_pipeline

        with self.ctx.tracer.span("queries.pl7_corpus_build_pipeline"):
            chunks = pl7_corpus_build_pipeline(spark, docs_dir)
        wh.write(chunks, table, "truncate")

    def variant(self, seed: int, k: int, where: str) -> str:
        """Write corpus variant k as ``documents.parquet`` in its own
        directory, the layout pl7 reads."""
        d = self.ctx.fresh_dir(where, f"v{k:03d}")
        gen.write_parquet(gen.documents(seed, k), f"{d}/documents.parquet")
        return d

    def warmup(self, ctx) -> None:
        """Full-size builds on other corpus variants."""
        from dot_spark.loads import Warehouse

        wh = Warehouse(ctx.spark, ctx.fresh_dir("warm", "wh"))
        for k in range(WARMUP_BUILDS):
            self.build(wh, ctx.spark, self.variant(ctx.seed + 1, k, "warm"), f"corpus_{k}")

    def run(self) -> None:
        from dot_spark.loads import Warehouse

        ctx = self.ctx
        self.dirs: dict[int, str] = {}
        self.root = ctx.fresh_dir("wh")
        wh = Warehouse(ctx.spark, self.root)
        with traced_functions(ctx.tracer, STAGES):
            if ctx.trace:
                wh = Timed(wh, "loads.Warehouse", ctx.tracer)
            for k in range(max(1, round(ctx.seconds / BUILD_S))):
                self.dirs[k] = self.variant(ctx.seed, k, "inputs")
                with ctx.op("build", k=k):
                    self.build(wh, ctx.spark, self.dirs[k], f"corpus_{k:03d}")

    # --- results -------------------------------------------------------

    def check(self) -> int:
        from perfbench.oracle import check_corpus_build

        wrong = 0
        for r in self.ctx.ops:
            if not r["ok"]:
                continue
            k = r["k"]
            ok, detail, self.counts[k] = check_corpus_build(
                f"{self.dirs[k]}/documents.parquet", f"{self.root}/corpus_{k:03d}", self.ctx.trace
            )
            if not ok:
                # the build ran, so its time still counts; its output does not
                print(f"perfbench: WRONG corpus build {k}: {detail}", file=sys.stderr)
                r["wrong"] = True
                wrong += 1
        return wrong

    def end_to_end(self) -> dict:
        b = self.ctx.durations("build")
        return {"op_p50_s": median(b)}

    def report(self) -> dict:
        return {"corpus_build_s": summarize(self.ctx.durations("build"), keep=100)}

    def layers(self) -> dict:
        tr = self.ctx.tracer
        dedup = tr.named("textdedup.dedup_corpus")
        writes = tr.named("loads.Warehouse.write")
        counts = list(self.counts.values())
        docs = sum(c["docs"] for c in counts)
        kept = sum(c["kept"] for c in counts)
        pairs = sum(c["candidate_pairs"] for c in counts)
        dups = sum(c["near_dups_removed"] for c in counts)
        builds = max(1, len(dedup))
        checked = max(1, len(counts))

        def executor_s(spans, keep) -> float | None:
            """Median per build of the executor run time of the stages
            under each span that ``keep`` selects."""
            return median([sum(c["executor_run_s"] for c in tr.stage_records([s]) if keep(c)) for s in spans])

        return {
            # the scoring pass: dedup_corpus's scans of the documents
            "text.filter_s": executor_s(dedup, lambda c: c["input_rows"] > 0),
            # chunking is fused into the final write's writing stage
            "text.chunk_s": executor_s(writes, lambda c: c["output_bytes"] > 0),
            "text.keep_ratio": kept / docs if docs else None,
            "textdedup.dedup_s": median([s.dur for s in dedup]),
            # the final write's other stages: the canon barrier, the
            # benchmark shingle index and the decontamination anti-join
            "textdedup.contam_s": executor_s(writes, lambda c: c["output_bytes"] == 0),
            "textdedup.jobs": tr.stage_sum(dedup, "jobs") / builds,
            "textdedup.shuffle_bytes": tr.stage_sum(dedup, "shuffle_write_bytes") / builds,
            "textdedup.candidate_pairs": pairs / checked,
            "textdedup.pair_yield": dups / pairs if pairs else None,
            **loads_layers(tr, self.ctx.path("inputs")),
            "loads.write_s": median([s.dur for s in writes]),
        }
