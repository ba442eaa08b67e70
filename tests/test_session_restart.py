"""Stop-and-restart inside one process (ROADMAP aim 3, robustness).

Real callers stop a SparkSession and start a new one in the same
Python process.  Anything the library caches driver-side must then
either still work or be rebuilt — never serve a dangling py4j
reference or a stale result.  The two users of
``pipeline/similarity.expr_cached`` (a process-wide memo of parsed
Columns) are the sharpest case: the Columns parsed under the first
session are reused, unchanged, under the second.  ``io.load_tables``
memoizes its table map per session and must rebuild it; a stopped
session's map must not outlive the session once the caller drops it.

Runs in a subprocess, because stopping the shared test session would
break every later test.
"""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = ("ann_lsh_bucketed", "dedup_embedding_cosine")

SCRIPT = r"""
import gc
import sys
import weakref
sys.path.insert(0, {repo!r})
import duckdb
from fletcher_spark import io
from fletcher_spark.pipeline import similarity as SIM
from fletcher_spark.queries import registry
from fletcher_spark.session import get_spark
from tests.conftest import TABLES, pandas_canon

sf = {sf!r}
duck = duckdb.connect()
for t in TABLES:
    duck.sql(f"CREATE VIEW {{t}} AS SELECT * FROM '{{sf}}/{{t}}.parquet'")
registry.load_all()
want = {{
    name: pandas_canon(duck.sql(registry.ORACLE[name]).df(), name)
    for name in {queries!r}
}}
# non-vacuous: both queries return rows at this scale
assert all(len(rows) > 0 for rows, _ in want.values()), want

cached = []
table_maps = []
for attempt in (1, 2):
    spark = get_spark(f"restart-{{attempt}}", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    # the stopped first session's table map died with that session.
    # Checked once the next session exists: pyspark itself pins the
    # newest session (the RDD.toDF closure) until another is built.
    gc.collect()
    assert all(m() is None for m in table_maps), attempt
    for name in {queries!r}:
        got = pandas_canon(registry.QUERIES[name](spark, sf).toPandas(), name)
        assert got == want[name], (attempt, name)
    tables = io.load_tables(spark, sf)
    n = tables["documents"].count()
    assert n == duck.sql("SELECT count(*) FROM documents").fetchone()[0], (attempt, n)
    cached.append(SIM.expr_cached.cache_info().currsize)
    table_maps.append(weakref.ref(tables))
    del tables
    spark.stop()
    del spark
# the second session reused the Columns parsed under the first
assert cached[0] > 0 and cached[1] == cached[0], cached
"""


def test_queries_survive_session_stop_and_restart():
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, sf=SF_DIR, queries=QUERIES)],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
    )
    assert run.returncode == 0, run.stderr[-3000:]
