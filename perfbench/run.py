"""Repository benchmark: extraction-job and curation throughput.

    python3 perfbench/run.py --workload extract_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process at local[nproc] runs
a closed loop (one client; each job starts when the previous one ended)
for ``--seconds`` of job time and at least the workload's ``min_jobs``
jobs (three in a traced run: bare, traced, bare), then checks
every job's output against an independent recomputation. The last stdout
line is one JSON object: ``correct``, ``attempted`` (jobs), ``failed``
(jobs that raised or whose output check failed) and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. NOTES.md maps each layer metric to the end-to-end metric
and workload it should move.

Workloads (inputs generated from ``--seed`` by inputs.py):
  extract_cold    jobs/extract.py over a fresh results + lineage store
  curate          jobs/dedup.py (MinHash keep-list) then jobs/curate.py
                  with every stage on
  extract_resume  the same extraction job after 90% of the urls were
                  committed; runnable, but not in BENCHMARK.json (NOTES.md)
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from functools import reduce

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
import probes  # noqa: E402
from proc import PeakRss, become_subreaper, host_ticks, stop_tree, tree_cpu_s  # noqa: E402
from spans import Tracer, nesting_errors, total_by_name  # noqa: E402


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Metric name → unit, end-to-end and per-layer, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


@dataclass(frozen=True)
class Scale:
    base_docs: int  # extraction documents per replica
    replicas: int
    curate_base: int  # curation documents per replica (before copies)
    curate_replicas: int
    probe_rows: int  # payload sample of the single-process probes


SCALES = {
    "full": Scale(4000, 2, 300, 2, 2048),
    # curate needs ~300 documents: below that the LM gate keeps none and
    # jobs/curate.py fails reading its per-stage observations
    "tiny": Scale(100, 2, 300, 1, 128),
}


@dataclass
class Job:
    index: int
    wall_s: float
    cpu_s: float
    rss_mb: float  # peak RSS of the process tree during the job
    traced: bool
    ran: bool  # False when the job raised


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    scale: Scale
    cpus: int
    tracer: Tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @property
    def job_partitions(self) -> int:
        return 4 * self.cpus


def quiet():
    """Send the jobs' progress prints to stderr: stdout carries the result."""
    return contextlib.redirect_stdout(sys.stderr)


# ---------------------------------------------------------------- extraction


def synthesize(ctx: Ctx, docs_dir: str, pages_dir: str) -> None:
    from ocr_project_spark.datagen import synthesize_pages

    with ctx.tracer.span("datagen.synthesize"):
        synthesize_pages(ctx.spark, docs_dir, num_partitions=2 * ctx.cpus).write.parquet(
            pages_dir
        )


def extract_main(ctx: Ctx, pages: str, results: str, lineage: str) -> None:
    from ocr_project_spark.jobs import extract

    extract.main(
        ["--pages", pages, "--results", results, "--lineage", lineage,
         "--num-partitions", str(ctx.job_partitions)],
        spark=ctx.spark,
    )


def check_extraction(ctx: Ctx, stores: dict[int, str], docs_dir: str, facts: dict) -> dict[int, dict]:
    """Per store: one row per url, every well-formed doc's text
    byte-identical to documents.text, errors exactly at doc_id % 97 == 13."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    truth = spark.read.parquet(os.path.join(docs_dir, "documents.parquet")).select(
        "doc_id", F.col("text").alias("truth")
    )
    res = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(s).withColumn("job", F.lit(k)) for k, s in stores.items()],
    )
    malformed = F.col("doc_id") % inputs.MALFORMED_MOD == inputs.MALFORMED_REM
    failed = ~F.col("success")
    rows = {
        r["job"]: r
        for r in res.join(truth, "doc_id", "left")
        .groupBy("job")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("n_urls"),
            F.sum(failed.cast("long")).alias("n_failed"),
            F.sum((failed & ~malformed).cast("long")).alias("bad_failed"),
            F.sum((F.col("success") & (F.col("text") == F.col("truth"))).cast("long")).alias(
                "n_identical"
            ),
        )
        .collect()
    }
    n, bad = facts["n_docs"], facts["n_malformed"]
    out = {}
    for k in stores:
        r = rows.get(k)
        ok = (
            r is not None
            and r["n"] == n
            and r["n_urls"] == n
            and r["n_failed"] == bad
            and r["bad_failed"] == 0
            and r["n_identical"] == n - bad
        )
        out[k] = {"ok": ok, "failed_frac": (r["n_failed"] / r["n"]) if r else None}
    return out


class ExtractCold:
    name = "extract_cold"
    # the first job after warm-up still runs slow (JIT); the median of
    # three is a settled job
    min_jobs = 3
    # per-layer metrics of layers this workload never calls read 0
    unused_layers = ("dedup.", "components.", "textops.")

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.docs_dir = ctx.path("docs")
        self.pages = ctx.path("pages")
        self.last = 0  # index of the latest job, whose store the probes read

    @property
    def n_docs(self) -> int:
        return self.facts["n_docs"]

    def setup(self) -> None:
        ctx = self.ctx
        with ctx.tracer.span("inputs.generate"):
            self.facts = inputs.write_documents(
                self.docs_dir, ctx.seed, ctx.scale.base_docs, ctx.scale.replicas
            )
        synthesize(ctx, self.docs_dir, self.pages)
        self.warm_up()

    def warm_up(self) -> None:
        # the same job: a first job is dominated by one-off code generation
        with self.ctx.tracer.span("warmup"):
            extract_main(self.ctx, self.pages, self.ctx.path("warm_r"), self.ctx.path("warm_l"))

    def prepare(self, i: int) -> None:
        pass

    def job(self, i: int) -> None:
        self.last = i
        extract_main(self.ctx, self.pages, self.ctx.path(f"r{i}"), self.ctx.path(f"l{i}"))

    def check(self, indices: list[int]) -> dict[int, dict]:
        stores = {i: self.ctx.path(f"r{i}") for i in indices}
        return check_extraction(self.ctx, stores, self.docs_dir, self.facts)

    def done_store(self) -> str:
        # a rerun over the latest finished store: every url is done
        return self.ctx.path(f"r{self.last}")

    def layer_probes(self) -> dict:
        ctx = self.ctx
        out = probes.extraction_layers(ctx.tracer, ctx.spark, self.pages, ctx.scale.probe_rows, ctx.cpus)
        out.update(
            probes.pipeline_layers(
                ctx.tracer, ctx.spark, self.pages, self.done_store(), ctx.path(f"r{self.last}"),
                ctx.work, ctx.job_partitions,
            )
        )
        return out


class ExtractResume(ExtractCold):
    name = "extract_resume"

    def setup(self) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from ocr_project_spark.pipeline import run_job

        super().setup()
        ctx = self.ctx
        salt = inputs.resume_todo_key(ctx.seed)
        bucket = F.crc32(F.concat(F.lit(salt), F.col("url"))) % inputs.RESUME_TODO_MOD
        pages = ctx.spark.read.parquet(self.pages)
        # 50% cold, then 40% more through a resume-shaped run; 10% stay todo
        with ctx.tracer.span("resume.precommit"):
            for keep in (bucket >= inputs.RESUME_TODO_MOD // 2, bucket != 0):
                run_job(
                    ctx.spark, pages.where(keep), ctx.path("base_r"),
                    lineage_path=ctx.path("base_l"), num_partitions=ctx.job_partitions,
                )
        urls = pq.read_table(self.pages, columns=["url"]).column("url").to_pylist()
        self.expected_todo = sum(inputs.is_resume_todo(ctx.seed, u) for u in urls)

    def warm_up(self) -> None:
        pass  # the resume-shaped precommit run warms the same plan

    def prepare(self, i: int) -> None:
        shutil.copytree(self.ctx.path("base_r"), self.ctx.path(f"r{i}"))
        shutil.copytree(self.ctx.path("base_l"), self.ctx.path(f"l{i}"))

    def check(self, indices: list[int]) -> dict[int, dict]:
        """Extraction checks on the whole store, plus: the rerun's lineage
        counts exactly the todo rows."""
        from pyspark.sql import functions as F

        out = super().check(indices)
        for i, verdict in out.items():
            lin = self.ctx.spark.read.parquet(self.ctx.path(f"l{i}"))
            last = lin.agg(F.max("run_id")).collect()[0][0]
            n_rerun = lin.where(F.col("run_id") == last).agg(F.sum("n_docs")).collect()[0][0]
            verdict["ok"] = verdict["ok"] and n_rerun == self.expected_todo
        return out

    def done_store(self) -> str:
        return self.ctx.path("base_r")

    def layer_probes(self) -> dict:
        out = super().layer_probes()
        if out["resume.todo_rows"] != self.expected_todo:
            raise RuntimeError(
                f"resume_filter left {out['resume.todo_rows']} rows, expected {self.expected_todo}"
            )
        return out


# ------------------------------------------------------------------ curation


def dedup_main(ctx: Ctx, corpus: str, tag: str) -> str:
    from ocr_project_spark.jobs import dedup

    kept = ctx.path(f"{tag}_kept")
    dedup.main(
        ["--documents", corpus, "--keep", ctx.path(f"{tag}_keep"), "--kept-corpus", kept],
        spark=ctx.spark,
    )
    return kept


def curate_main(ctx: Ctx, docs: str, eval_path: str, tag: str) -> None:
    from ocr_project_spark.jobs import curate

    curate.main(
        ["--documents", docs, "--out", ctx.path(f"{tag}_out"), "--drop-repeated-lines",
         "--c4-clean", "--redact-pii", "--decontaminate-against", eval_path,
         "--quality-gate", "--lm-gate"],
        spark=ctx.spark,
    )


def parquet_ids(path: str) -> set[int]:
    import pyarrow.parquet as pq

    return set(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist())


class Curate:
    name = "curate"
    # No warm-up: every jobs/dedup.py + jobs/curate.py submit is a fresh
    # JVM, so users pay the one-off code generation on every job, and the
    # cold job's time repeats more closely than a warm one's. It outlasts
    # the run, so a run is one job.
    min_jobs = 1
    unused_layers = (
        "kernels.", "markers.", "operators.", "skew.", "resume.", "lineage.", "pipeline.",
    )

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    @property
    def n_docs(self) -> int:
        return self.facts["n_docs"]

    def setup(self) -> None:
        ctx, sc = self.ctx, self.ctx.scale
        with ctx.tracer.span("inputs.generate"):
            self.facts = inputs.write_curate_corpus(
                ctx.path("corpus"), ctx.seed, sc.curate_base, sc.curate_replicas
            )

    def prepare(self, i: int) -> None:
        pass

    def job(self, i) -> None:
        kept = dedup_main(self.ctx, self.facts["corpus"], f"j{i}")
        curate_main(self.ctx, kept, self.facts["eval"], f"j{i}")

    def check(self, indices: list[int]) -> dict[int, dict]:
        f = self.facts
        keep = oracle.expected_keep(f["ids"], f["texts"], f["planted_pairs"])
        final = oracle.expected_curated(f["ids"], f["texts"], keep, f["eval_texts"])["lm_gate"]
        return {
            i: {
                "ok": parquet_ids(self.ctx.path(f"j{i}_keep")) == keep
                and parquet_ids(self.ctx.path(f"j{i}_out")) == final,
                "failed_frac": None,
            }
            for i in indices
        }

    def layer_probes(self) -> dict:
        ctx = self.ctx
        return probes.corpus_layers(ctx.tracer, ctx.spark, self.facts["corpus"], self.facts["eval"])


WORKLOADS = {w.name: w for w in (ExtractCold, ExtractResume, Curate)}


# -------------------------------------------------------------------- driver


def trace_points():
    """Public functions the jobs call, wrapped in spans on traced jobs."""
    from ocr_project_spark import components, dedup, pipeline, textops

    return [
        (pipeline, "run_job", "pipeline.run_job"),
        (pipeline, "read_parquet_if_exists", "lineage.read_prior"),
        (pipeline, "completed_urls", "resume.completed_urls"),
        (pipeline, "resume_filter", "resume.resume_filter"),
        (pipeline, "run_extraction", "pipeline.run_extraction"),
        (pipeline, "this_run_results", "pipeline.this_run_results"),
        (pipeline, "lineage_rows", "lineage.lineage_rows"),
        (dedup, "minhash_dedup_keep", "dedup.minhash_dedup_keep"),
        (dedup, "minhash_near_dup_pairs", "dedup.minhash_near_dup_pairs"),
        (dedup, "remove_repeated_lines", "dedup.remove_repeated_lines"),
        (components, "near_dup_keep", "components.near_dup_keep"),
        (components, "connected_components", "components.connected_components"),
        (textops, "c4_line_filter", "textops.c4_line_filter"),
        (textops, "redact_pii", "textops.redact_pii"),
        (textops, "decontaminate", "textops.decontaminate"),
        (textops, "quality_gate", "textops.quality_gate"),
        (textops, "gram_lm_scores", "textops.gram_lm_scores"),
    ]


def session_env(work: str, trace: bool) -> dict[str, str]:
    """Size the session for this machine through the variables
    ocr_project_spark.session reads, and keep every file Spark, the JVM
    and Python workers write inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))  # ≤ a quarter of RAM
    for d in ("conf", "local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    defaults = {
        # the whole heap committed and touched up front: how far G1 grows
        # the heap otherwise depends on GC timing, which made peak RSS vary
        # by a quarter between runs; what remains is Python workers and
        # JVM native memory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{driver_gb}g -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        defaults.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/events",
                "spark.eventLog.compress": "false",
            }
        )
    with open(os.path.join(work, "conf", "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    with open(os.path.join(work, "conf", "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_CONF_DIR": os.path.join(work, "conf"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def run(args, work: str, t_start: float) -> dict:
    e2e_units, layer_units = metric_units()
    env = session_env(work, args.trace)
    cpus = int(env["SPARK_GRAFT_CPUS"])
    scale = SCALES[args.scale]
    tracer = Tracer()
    sys.path.insert(0, ROOT)
    from ocr_project_spark.session import build_session

    with tracer.span("setup") as setup_span:
        with tracer.span("session.start") as start_span:
            spark = build_session(app_name=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, work, args.seed, scale, cpus, tracer)
        wl = WORKLOADS[args.workload](ctx)
        with quiet():
            wl.setup()
    setup_s = time.perf_counter() - t_start

    jobs: list[Job] = []
    points = trace_points() if args.trace else []
    t0_ms = time.time() * 1e3
    steal0, total0 = host_ticks()
    with tracer.span("jobs"):
        t_loop = time.perf_counter()
        # in the traced run every other job records spans around the
        # public functions it calls; the rest measure the same job bare
        while (
            len(jobs) < max(wl.min_jobs, 3 if args.trace else 1)
            or time.perf_counter() - t_loop < args.seconds
        ):
            i = len(jobs)
            wl.prepare(i)
            traced = bool(args.trace) and i % 2 == 1
            ran = True
            with contextlib.ExitStack() as stack:
                for mod, attr, name in points if traced else []:
                    stack.enter_context(probes.patched(mod, attr, tracer.wrap(name, getattr(mod, attr))))
                c0, w0 = tree_cpu_s(), time.perf_counter()
                try:
                    with PeakRss() as rss, tracer.span("job"), quiet():
                        wl.job(i)
                except Exception:  # noqa: BLE001 — a failed job is counted, the loop goes on
                    traceback.print_exc()
                    ran = False
                w1, c1 = time.perf_counter(), tree_cpu_s()
            jobs.append(Job(i, w1 - w0, c1 - c0, rss.peak, traced, ran))
    t1_ms = time.time() * 1e3
    steal1, total1 = host_ticks()

    ran = [j for j in jobs if j.ran]
    with quiet():
        verdicts = wl.check([j.index for j in ran])
    n_failed = len(jobs) - sum(v["ok"] for v in verdicts.values())
    fracs = sorted({v["failed_frac"] for v in verdicts.values() if v["failed_frac"] is not None})

    layer: dict[str, float] = {}
    correct = n_failed == 0
    if args.trace:
        with tracer.span("probes"), quiet():
            layer.update(wl.layer_probes())
    spark.stop()
    if args.trace:
        layer.update(eventlog.counters(os.path.join(work, "events"), t0_ms, t1_ms, len(jobs)))
        layer["session.start_s"] = start_span.end - start_span.start
        layer["datagen.synthesize_s"] = float(total_by_name(tracer.spans, "datagen.synthesize"))
        # the first job is left out: on curate it is the cold one
        traced = [j.wall_s for j in ran if j.traced]
        bare = [j.wall_s for j in ran if not j.traced and j.index > 0]
        layer["trace.overhead_s"] = (
            statistics.median(traced) - statistics.median(bare) if traced and bare else float("nan")
        )
        for name in layer_units:
            if name not in layer:
                if not name.startswith(wl.unused_layers):
                    raise RuntimeError(f"the traced run measured no {name}")
                layer[name] = 0.0
        errors = nesting_errors(tracer.spans)
        for e in errors:
            print(f"span error: {e}", file=sys.stderr)
        correct = correct and not errors
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))

    timed = [j for j in ran if not j.traced] or ran
    if not timed:
        raise RuntimeError("no job completed")
    n = wl.n_docs
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": statistics.median(n / j.wall_s for j in timed),
        "job_s": statistics.median(j.wall_s for j in timed),
        "cpu_s_per_kdoc": statistics.median(j.cpu_s / n * 1e3 for j in timed),
        "peak_rss_mb": statistics.median(j.rss_mb for j in timed),
    }
    phases = {
        s.name: round(s.end - s.start, 3) for s in tracer.spans if s.parent == setup_span.id
    }
    print(
        f"# {args.workload} seed={args.seed} docs={n} jobs={len(jobs)} "
        f"(timed {len(timed)}, traced {sum(j.traced for j in jobs)}, failed {n_failed}) "
        f"job_s={[round(j.wall_s, 3) for j in jobs]} "
        f"median docs_per_s={e2e['docs_per_s']:.2f} docs/s job_s={e2e['job_s']:.3f} s "
        f"failed_frac={fracs} setup={phases} "
        f"host_steal={(steal1 - steal0) / max(total1 - total0, 1):.3f} "
        f"SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
        f"SPARK_DRIVER_MEM={env['SPARK_DRIVER_MEM']}"
    )
    metrics, units = (layer, layer_units) if args.trace else (e2e, e2e_units)
    return {
        "correct": correct,
        "attempted": len(jobs),
        "failed": n_failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    return p.parse_args(argv)


def stop_spark() -> None:
    """Stop the session, if one started, and end its JVM the way PySpark
    does when the driver exits: end of file on the JVM's stdin."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass  # stop_tree kills it
    SparkContext._gateway = SparkContext._jvm = None


def _exit_on_signal(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_project_spark")):
        print("perfbench: run from a checkout holding ocr_project_spark/", file=sys.stderr)
        return 2
    # every process the run starts (the JVM, the Python workers it forks)
    # is stopped and reaped before exit, on every path out
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work, t_start)
    finally:
        try:
            stop_spark()
        finally:
            stop_tree()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
