"""Driver simulation: the correctness sweep the grading driver runs.

A PLAIN SparkSession (not the fletcher_spark factory, so the runtime
confs must self-apply through ``load_tables``), the ``entry(spark)``
smoke collected twice (schema stability), then every ``queries()``
entry compared with ``duckdb.sql(oracle_sql()[name])`` on views over
the sf0.01 tables, through ``tests/conftest.pandas_canon`` (sorted
columns, type-tagged cells, sorted rows).

Usage:
    python tools/drive_driver.py                       # entry smoke x2 + full sweep
    python tools/drive_driver.py --names Q [Q ...]     # just these queries
    python tools/drive_driver.py --window N[:OFFSET]   # queries()[OFFSET:OFFSET+N]
    python tools/drive_driver.py --sf DIR ...          # another table set

``--names`` and ``--window`` skip the entry smoke.  ``--sf`` defaults to
the ``sf0.01`` directory next to the test tables (``tests/conftest.SF_DIR``).
Prints one OK/FAIL/ERR/ROWSONLY line per query and a SUMMARY line; the
exit code is 0 iff every checked query is green.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from tests.conftest import SF_DIR, TABLES, pandas_canon

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--names", nargs="+", help="check only these queries")
    ap.add_argument("--window", help="N[:OFFSET]: queries()[OFFSET:OFFSET+N]")
    ap.add_argument("--sf", default=os.path.join(os.path.dirname(SF_DIR), "sf0.01"))
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("driver-sim")
        .getOrCreate()
    )
    import __spark_entry__ as e

    if not (args.names or args.window):
        r1 = e.entry(spark)
        s1, n1 = r1.schema, len(r1.collect())
        r2 = e.entry(spark)
        assert r2.schema == s1 and len(r2.collect()) == n1
        print(f"entry smoke: {n1} rows, schema stable", flush=True)

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")
    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or list(qs)
    if args.window:
        n, _, off = args.window.partition(":")
        names = names[int(off or 0):int(off or 0) + int(n)]
    bad = 0
    for name in names:
        if name not in qs:
            bad += 1
            print(f"UNKNOWN {name}", flush=True)
            continue
        try:
            ps = qs[name](spark, args.sf).toPandas()
            if name not in oracles:
                print(f"ROWSONLY {name}: {len(ps)} rows", flush=True)
                continue
            po = duck.sql(oracles[name]).df()
            rs, cs = pandas_canon(ps, name)
            ro, co = pandas_canon(po, name)
            if cs == co and rs == ro:
                print(f"OK {name}: {len(rs)} rows", flush=True)
                continue
            bad += 1
            print(f"FAIL {name}: rows {len(rs)}/{len(ro)} cols_match={cs == co}", flush=True)
            diff = next((i for i, (a, b) in enumerate(zip(rs, ro)) if a != b), None)
            if cs == co and diff is not None:
                print(f"  spark : {rs[diff]}\n  oracle: {ro[diff]}", flush=True)
        except Exception:
            bad += 1
            print(f"ERR {name}: {traceback.format_exc(limit=2).splitlines()[-1]}", flush=True)
    print(f"SUMMARY: {len(names) - bad}/{len(names)} green", flush=True)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
