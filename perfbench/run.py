"""Layered, cold-aware benchmark of the fletcher_spark query registry.

    python3 perfbench/run.py --workload columnar --seed 1 --seconds 5 --trace 0

One invocation is one fresh process: it starts a ``local[<cores>]``
SparkSession, loads the bundled sf0.01 tables, runs one cold pass over
the workload's registry queries and then warm passes: at least three,
and more until ``--seconds`` of warm time have gone by.  Load is a closed loop with one client: the
driver thread builds a query, forces it to the ``noop`` sink, and only
then starts the next.  The seed permutes the query order of each pass
and nothing else.  After the timed passes every query's output is
collected once and checked against its DuckDB oracle.

``--trace 0`` reports the gated end-to-end metrics (set-up time, peak
memory) and prints the cold and warm pass times (wall clock and CPU),
query latencies and the failed fraction beside them.  ``--trace 1``
wraps each layer's public functions, tags jobs with one job group per
query, pass and phase, reads Spark's status stores, and reports the
per-layer metrics.  Human-readable lines come first; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from the harness's first statement

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
WORK = HERE / ".work"
TABLES = tuple(
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import host  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle  # noqa: E402
from spark_status import StatusReader, drain  # noqa: E402

#: The metrics the benchmark gates on.  Pass times are not among them:
#: on a shared 4-vCPU VM the same work ran 20-40 % slower from one run to
#: the next, in wall and in CPU time alike, so they are only reported.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

#: Pass times and query latencies, reported beside the gated metrics.
REPORTED = {
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "io.load_tables_cold_s": "s",
    "io.load_tables_warm_s": "s",
    "io.scan_bytes": "B",
    "io.write_bytes": "B",
    "queries.build_cold_s": "s",
    "queries.build_warm_s": "s",
    "queries.self_s": "s",
    "queries.build_jobs_cold": "count",
    "queries.build_jobs_warm": "count",
    "queries.py4j_calls": "count",
    "pipeline.self_s": "s",
    "pipeline.calls": "count",
    "operators.self_s": "s",
    "operators.calls": "count",
    "udf.worker_start_s": "s",
    "udf.worker_init_s": "s",
    "udf.worker_run_s": "s",
    "udf.bytes_to_python": "B",
    "udf.bytes_from_python": "B",
    "udf.rows": "count",
    "spark.action_cold_s": "s",
    "spark.action_warm_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.core_util": "ratio",
    "spark.cold_extra_jobs": "count",
    "cache.storage_bytes": "B",
    "trace.warm_pass_s": "s",
    "trace.untraced_warm_pass_s": "s",
    "trace.overhead_s": "s",
}

#: Warm passes a run makes even when ``--seconds`` is already used up:
#: three, so that one disturbed pass cannot move the median.  The
#: traced run interleaves traced and untraced warm passes as T U U T,
#: so both kinds sit equally early and late in the run.
MIN_WARM_PASSES = 3
MIN_TRACED_WARM_PASSES = 4


def _no_span(name: str, layer: str):
    return contextlib.nullcontext()


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Run:
    """One benchmark run: a fresh session, its passes, and what they
    measured."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, run_dir: Path):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.run_dir = run_dir
        self.tmp = run_dir / "tmp"  # the process temp dir: the round-trip queries write here
        self.scratch = run_dir / "spark"  # Spark's and the JVM's own scratch files
        self.tmp.mkdir(parents=True)
        self.scratch.mkdir()
        self.cores = len(os.sched_getaffinity(0))
        self.contention = host.Contention()
        self.tracer = None
        # per pass: {"wall", "traced", "queries": {name: (build_s, action_s, py4j)}}
        self.passes: list[dict] = []
        self.last_frames: dict = {}
        self.phases: dict[str, float] = {}  # wall seconds per phase, as context

    # -- set-up -----------------------------------------------------------

    def _isolate(self) -> None:
        """Keep every file the run writes inside ``run_dir`` and let
        Spark's Python workers import fletcher_spark from any cwd."""
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.scratch)  # wins over spark.local.dir
        tempfile.tempdir = str(self.tmp)
        paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)

    def setup(self) -> None:
        self._isolate()
        if self.traced:
            self.tracer = spans.Tracer()
            self.tracer.on = True
            spans.install(self.tracer)
        from fletcher_spark.queries import registry

        registry.load_all()
        if self.tracer is not None:
            spans.rebind(self.tracer)
            spans.wrap_queries(self.tracer, registry.QUERIES)
        self.registry = registry
        self.names = workloads.queries(self.workload, registry.QUERIES)
        self.outcomes = stats.Outcomes(self.names)

        from fletcher_spark.io import load_tables
        from fletcher_spark.session import apply_runtime_confs

        span = self.tracer.span if self.tracer is not None else _no_span
        with span("session.start", "session"):
            spark = self._start_session()
            apply_runtime_confs(spark)
        self.spark = spark
        load_tables(spark, str(DATA))
        self.setup_s = time.perf_counter() - T0
        if self.tracer is not None:
            self.status = StatusReader(spark)

    def _start_session(self):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName(f"perfbench-{self.workload}")
            .master(f"local[{self.cores}]")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            # a fixed heap, so peak RSS does not follow GC heap resizing
            .config("spark.driver.memory", "1g")
            .config("spark.sql.warehouse.dir", str(self.run_dir / "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms1g -Djava.io.tmpdir={self.scratch} -XX:-UsePerfData",
            )
            # the traced run reads every job, stage and SQL execution back
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100000")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # -- passes -----------------------------------------------------------

    def run_pass(self, index: int, traced: bool) -> None:
        sc, tracer = self.spark.sparkContext, self.tracer
        if tracer is not None:
            tracer.on = traced
            if not traced:
                sc.setJobGroup(f"u{index}", "untraced pass")
        written = _dir_bytes(self.tmp) if traced else 0
        record = {"traced": traced, "queries": {}}
        frames = {}
        cpu = host.tree_cpu_s(os.getpid())
        t_pass = time.perf_counter()
        for name in stats.pass_order(self.names, self.seed, index):
            group = f"{index}:{name}"
            if traced:
                tracer.query = group
                sc.setJobGroup(f"{group}:build", "build")
                calls = tracer.py4j_calls
            try:
                t0 = time.perf_counter()
                df = self.registry.QUERIES[name](self.spark, str(DATA))
                t1 = time.perf_counter()
                if traced:
                    calls = tracer.py4j_calls - calls
                    sc.setJobGroup(f"{group}:action", "action")
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            except Exception as exc:  # a failing query must not hide the rest
                self.outcomes.fail(name, f"pass {index}: {type(exc).__name__}: {exc}".split("\n")[0])
                continue
            record["queries"][name] = (t1 - t0, t2 - t1, calls if traced else 0)
            frames[name] = df
        record["wall"] = time.perf_counter() - t_pass
        record["cpu"] = host.tree_cpu_s(os.getpid()) - cpu
        if traced:
            tracer.query = ""
            record["written"] = _dir_bytes(self.tmp) - written
            record["storage"] = self.status.storage_bytes()
        self.passes.append(record)
        self.last_frames = frames

    def run_passes(self) -> None:
        self.run_pass(0, traced=self.traced)
        t_warm = time.perf_counter()
        least = MIN_TRACED_WARM_PASSES if self.traced else MIN_WARM_PASSES
        index = 1
        while index <= least or time.perf_counter() - t_warm < self.seconds:
            # the traced run's own untraced passes give the tracing
            # overhead under the same conditions
            self.run_pass(index, traced=self.traced and index % 4 in (0, 1))
            index += 1
        if self.tracer is not None:
            self.tracer.on = False
        self.peak_rss_mb = host.peak_rss_mb(self._jvm_pid())

    def _jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    # -- correctness ------------------------------------------------------

    def check_outputs(self) -> None:
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup("oracle", "oracle check")
        oracle = Oracle(DATA, WORK / "oracle", self.tmp, TABLES)
        try:
            for name in self.names:
                df = self.last_frames.get(name)
                if df is None:
                    continue  # already failed in a timed pass
                try:
                    reason = oracle.check(name, self.registry.ORACLE.get(name), df.toPandas())
                except Exception as exc:
                    reason = f"oracle check: {type(exc).__name__}: {exc}".split("\n")[0]
                if reason is not None:
                    self.outcomes.fail(name, reason)
        finally:
            oracle.close()
        self.rows_only = [n for n in self.names if n not in self.registry.ORACLE]

    # -- metrics ----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup_s, "peak_rss_mb": self.peak_rss_mb}

    def reported(self) -> dict[str, float]:
        """Wall-clock pass times and query latencies, and the CPU seconds
        of the harness's process tree (driver, JVM, Python workers) per
        pass; warm figures are medians over the warm passes."""
        warm = self.passes[1:]
        self.samples = [b + a for p in warm for (b, a, _) in p["queries"].values()]
        return {
            "cold_pass_s": self.passes[0]["wall"],
            "warm_pass_s": statistics.median(p["wall"] for p in warm),
            "query_p50_s": statistics.median(self.samples),
            "query_p90_s": stats.percentile(self.samples, 0.9),
            "cold_pass_cpu_s": self.passes[0]["cpu"],
            "warm_pass_cpu_s": statistics.median(p["cpu"] for p in warm),
        }

    def per_layer(self) -> dict[str, float]:
        drain(self.spark)
        tracer, status = self.tracer, self.status
        traced = [i for i, p in enumerate(self.passes) if p["traced"]]
        warm = [i for i in traced if i > 0]
        untraced = [i for i, p in enumerate(self.passes) if not p["traced"]]

        spans = tracer.spans
        selfs = stats.self_times(spans)
        per_pass: dict[int, dict[str, float]] = {i: {} for i in traced}

        def add(i: int, key: str, value: float) -> None:
            per_pass[i][key] = per_pass[i].get(key, 0.0) + value

        load_tables_calls = [s for s in spans if s.name == "io.load_tables"]
        for s, own in zip(spans, selfs):
            if not s.query:
                continue
            i = int(s.query.split(":", 1)[0])
            if s.layer in ("queries", "pipeline", "operators"):
                add(i, f"{s.layer}.self_s", own)
                add(i, f"{s.layer}.calls", 1)
            if s.name == "io.load_tables":
                add(i, "io.load_tables_s", s.end - s.start)

        python_by_job = status.python_metrics_by_job()
        for i in traced:
            p = self.passes[i]
            add(i, "build_s", sum(b for b, _, _ in p["queries"].values()))
            add(i, "action_s", sum(a for _, a, _ in p["queries"].values()))
            add(i, "py4j", sum(c for _, _, c in p["queries"].values()))
            build_jobs, action_jobs = [], []
            for name in self.names:
                build_jobs += status.jobs(f"{i}:{name}:build")
                action_jobs += status.jobs(f"{i}:{name}:action")
            add(i, "build_jobs", len(build_jobs))
            add(i, "spark.jobs", len(action_jobs))
            for k, v in status.stage_totals(action_jobs).items():
                add(i, k, v)
            for j in build_jobs + action_jobs:
                for k, v in python_by_job.get(j, {}).items():
                    add(i, k, v)

        def warm_median(key: str) -> float:
            return statistics.median(per_pass[i].get(key, 0.0) for i in warm)

        cold = per_pass[0]
        session = next(s for s in spans if s.name == "session.start")
        out = {
            "session.start_s": session.end - session.start,
            "io.load_tables_cold_s": load_tables_calls[0].end - load_tables_calls[0].start,
            "io.load_tables_warm_s": warm_median("io.load_tables_s"),
            "io.write_bytes": statistics.median(self.passes[i]["written"] for i in warm),
            "queries.build_cold_s": cold["build_s"],
            "queries.build_warm_s": warm_median("build_s"),
            "queries.build_jobs_cold": cold["build_jobs"],
            "queries.build_jobs_warm": warm_median("build_jobs"),
            "queries.py4j_calls": warm_median("py4j"),
            "spark.action_cold_s": cold["action_s"],
            "spark.action_warm_s": warm_median("action_s"),
            "cache.storage_bytes": statistics.median(self.passes[i]["storage"] for i in warm),
        }
        for key in PER_LAYER:
            if key not in out and not key.startswith("trace.") and key not in (
                "spark.core_util",
                "spark.cold_extra_jobs",
            ):
                out[key] = warm_median(key)
        out["spark.core_util"] = out["spark.task_run_s"] / (out["spark.action_warm_s"] * self.cores)
        out["spark.cold_extra_jobs"] = (cold["build_jobs"] + cold["spark.jobs"]) - statistics.median(
            per_pass[i]["build_jobs"] + per_pass[i]["spark.jobs"] for i in warm
        )
        out["trace.warm_pass_s"] = statistics.median(self.passes[i]["wall"] for i in warm)
        out["trace.untraced_warm_pass_s"] = statistics.median(self.passes[i]["wall"] for i in untraced)
        out["trace.overhead_s"] = out["trace.warm_pass_s"] - out["trace.untraced_warm_pass_s"]
        return out

    def write_trace(self) -> Path:
        """Spans and per-query samples of the traced run, for offline reading."""
        out = WORK / "traces" / f"{self.workload}-seed{self.seed}-{os.getpid()}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        record = {
            "workload": self.workload,
            "seed": self.seed,
            "passes": self.passes,
            "spans": [vars(s) for s in self.tracer.spans],
        }
        out.write_text(json.dumps(record))
        return out

    # -- teardown ---------------------------------------------------------

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        run started to end."""
        spark = getattr(self, "spark", None)
        if spark is None:
            host.reap(os.getpid())
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        host.reap(os.getpid())


def _report(run: Run, metrics: dict[str, float], units: dict[str, str], context: dict) -> None:
    o = run.outcomes
    print(f"perfbench workload={run.workload} seed={run.seed} cores={run.cores} "
          f"queries={o.attempted} passes={len(run.passes)} trace={int(run.traced)}")
    for name, value in metrics.items():
        print(f"  {name:28s} {value:14.6g} {units[name]}")
    if not run.traced:
        reported = run.reported()
        print("  reported, not gated:")
        for name, value in reported.items():
            print(f"  {name:28s} {value:14.6g} {REPORTED[name]}")
        n = len(run.samples)
        p90 = reported["query_p90_s"]
        print(f"  query samples: {n} warm executions, {stats.beyond(run.samples, p90)} above p90")
        try:
            q, v = stats.tail_percentile(run.samples)
            print(f"  highest percentile with ten above it: p{round(q * 100)} = {v:.6g} s")
        except ValueError as exc:
            print(f"  highest percentile with ten above it: none ({exc})")
    walls = " ".join(f"{p['wall']:.3f}" for p in run.passes)
    print(f"  pass walls (s, cold first): {walls}")
    print(f"  {'failed_frac':28s} {o.failed_frac:14.6g} ratio ({o.failed}/{o.attempted})")
    for name, reason in sorted(o.failures.items()):
        print(f"    FAILED {name}: {reason}")
    if run.rows_only:
        print(f"    rows-only (no oracle): {', '.join(run.rows_only)}")
    print(f"  context (not used to drop samples): {json.dumps(context)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = WORK / f"run-{os.getpid()}"
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        run.setup()
        run.phases["setup"] = run.setup_s
        t = time.perf_counter()
        run.run_passes()
        run.phases["passes"] = time.perf_counter() - t
        if run.traced:
            metrics, units = run.per_layer(), PER_LAYER
        else:
            metrics, units = run.end_to_end(), END_TO_END
        t = time.perf_counter()
        run.check_outputs()
        run.phases["check"] = time.perf_counter() - t
        context = run.contention.finish()
        if run.traced:
            context["trace_file"] = str(run.write_trace().relative_to(ROOT))
    finally:
        t = time.perf_counter()
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        run.phases["stop"] = time.perf_counter() - t
    context["phases_s"] = {k: round(v, 2) for k, v in run.phases.items()}
    _report(run, metrics, units, context)
    result = {
        "correct": run.outcomes.failed == 0,
        "attempted": run.outcomes.attempted,
        "failed": run.outcomes.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
