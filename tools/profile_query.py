"""Per-query optimization profiler (guide §1: measure first).

Usage:
    python tools/profile_query.py [--plans DIR] [--runs N] [--jobs] <query> [<query> ...]
    python tools/profile_query.py --all            # every bench query
    python tools/profile_query.py --plans DIR --suffix _before <names>

For each query it reports, on one line per run:
    wall seconds | construction seconds | #Spark jobs the run triggered
    | #stages that ran (skipped stages excluded) | #tasks
and (with --plans) writes the post-construction ``explain("formatted")``
to ``<DIR>/<query><suffix>.txt``.  ``--jobs`` adds one line per job.
Each run is one job group, read back from Spark's own status stores
through ``perfbench/spark_status.StatusReader`` (the benchmark's
reader), so the count includes eager construction-time jobs (collects
inside materialize=True operators, localCheckpoints, persists) and
needs no web UI.

Same session shape as bench.py: local[$SPARK_GRAFT_CPUS] (default: the
CPUs this process may run on), shuffle partitions = cpus, runtime confs
applied, warm-up probe first.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "_before"
    runs = 2
    names: list[str] = []
    run_all = False
    verbose = False
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif a == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif a == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif a == "--all":
            run_all = True
            i += 1
        elif a == "--jobs":
            verbose = True
            i += 1
        else:
            names.append(a)
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    from pyspark.sql import SparkSession

    from fletcher_spark.queries import registry
    from fletcher_spark.session import apply_runtime_confs
    from perfbench.spark_status import StatusReader, drain

    registry.load_all()
    if run_all:
        names = [n for n in sorted(registry.QUERIES) if n not in registry.BENCH_EXCLUDE]

    spark = (
        SparkSession.builder.appName("fletcher-spark-profile")
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    apply_runtime_confs(spark)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    reader = StatusReader(spark)

    # warm-up: JVM + python worker pool (mirrors bench.py)
    from bench import _box_probe_df

    _box_probe_df(spark, sf_dir).write.mode("overwrite").format("noop").save()
    warm = spark.range(0, 32, 1, int(cpus)).groupBy("id").applyInPandas(
        lambda pdf: pdf, schema="id long"
    )
    warm.write.mode("overwrite").format("noop").save()

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    for name in names:
        fn = registry.QUERIES[name]
        for r in range(runs):
            group = f"profile:{name}:{r}"
            sc.setJobGroup(group, f"profile:{name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            drain(spark)
            jobs = sorted(reader.jobs(group))
            tot = reader.stage_totals(jobs)
            print(
                f"{name}  run{r}: wall={wall:.3f}s build={t_build:.3f}s "
                f"jobs={len(jobs)} stages={int(tot['spark.stages'])} "
                f"tasks={int(tot['spark.tasks'])}",
                flush=True,
            )
            if verbose:
                store = sc._jsc.sc().statusStore()
                for j in jobs:
                    jd = store.job(j)
                    t_sub, t_end = jd.submissionTime(), jd.completionTime()
                    dur = (
                        (t_end.get().getTime() - t_sub.get().getTime()) / 1e3
                        if t_sub.isDefined() and t_end.isDefined()
                        else -1
                    )
                    jt = reader.stage_totals([j])
                    print(
                        f"    job {j}: {dur:6.3f}s stages={int(jt['spark.stages'])} "
                        f"tasks={int(jt['spark.tasks']):4d} {jd.name()[:100]}",
                        flush=True,
                    )
            if r == runs - 1 and plans_dir:
                txt = df._jdf.queryExecution().explainString(mode)
                with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as f:
                    f.write(txt)

    spark.stop()


if __name__ == "__main__":
    main()
