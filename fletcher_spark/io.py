"""Scans / sources / sinks + Arrow interchange.

Reference parity (SURVEY.md §2.1):

* ``fletcher.io.read_parquet`` (/root/reference/fletcher/io.py:9-26) —
  Parquet scan with column projection pushed into the reader.  Spark's
  ``FileSourceScanExec`` subsumes it: column pruning *and* predicate
  pushdown happen automatically when the plan is declarative; we expose
  the same convenience signature.
* ``pandas_from_arrow`` (/root/reference/fletcher/base.py:1712-1750) —
  Arrow ingest.  Spark 4 accepts ``pyarrow.Table`` directly in
  ``createDataFrame`` (Arrow-path, no row conversion).
* ``__arrow_array__`` egress (/root/reference/fletcher/base.py:411-413)
  — ``DataFrame.toArrow()`` in Spark 4.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    """Parquet scan with column projection.

    The ``select`` is collapsed into the scan by Catalyst (visible as
    ``ReadSchema`` in ``.explain``); filters applied later are pushed
    down as ``PushedFilters``.  At 100 TB this is the difference between
    reading 2 columns and reading 40.
    """
    df = spark.read.parquet(path)
    if columns is not None:
        df = df.select(*columns)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Iterable[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` yields partition-pruned reads later."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def from_arrow(spark: SparkSession, table: pa.Table | pa.RecordBatch) -> DataFrame:
    """Arrow ingest — ``pandas_from_arrow`` analog, zero row-by-row work."""
    if isinstance(table, pa.RecordBatch):
        table = pa.Table.from_batches([table])
    try:
        return spark.createDataFrame(table)  # Spark 4 native Arrow path
    except TypeError:  # pre-4.0 Spark: no pa.Table overload — pandas bridge
        return spark.createDataFrame(table.to_pandas())


def to_arrow(df: DataFrame) -> pa.Table:
    """Arrow egress — collect the DataFrame as a ``pyarrow.Table``."""
    return df.toArrow()


#: Row count at or below which an operator may solve its input on the
#: driver instead of running distributed rounds.  Same principle as
#: Spark's broadcast-join threshold: 4M rows of two 8-byte columns is
#: ~64 MB through Arrow into numpy — trivial for the driver — while
#: every distributed round or eager job costs a full scheduling round
#: trip.  The inputs gated here (verified near-dup pairs, trade-graph
#: edges, value histograms) are aggregates, orders of magnitude smaller
#: than the corpus, so at scale the gate still usually fires; the
#: distributed path stays the correctness backstop above it.
SMALL_INPUT_ROWS = 4_000_000


def small_input_or_none(df: DataFrame) -> pa.Table | None:
    """``df`` as an Arrow table when it has at most
    :data:`SMALL_INPUT_ROWS` rows and no NULL in any column, else
    ``None`` (the caller runs its distributed path).

    One job on the small path: ``limit(L+1)`` returns every row
    whenever there are at most L, so the same collect both answers "is
    the driver-local path safe?" and delivers the input.  Above the
    limit the probe is an early-exiting CollectLimit, a bounded partial
    pass.  NULLs fall through because the driver-local solvers
    (numpy union-find, k-core peel, cut ranks) have no NULL semantics
    of their own; the distributed paths own them."""
    tbl = df.limit(SMALL_INPUT_ROWS + 1).toArrow()
    if tbl.num_rows > SMALL_INPUT_ROWS or any(c.null_count for c in tbl.columns):
        return None
    return tbl


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan up to the session's task slots —
    ONLY when the scan yields fewer partitions than slots.

    Small-input guard for compute-heavy per-row work (shingling,
    sketches, regex batteries, vector math): a single-row-group parquet
    file arrives as ONE partition, serializing the whole map stage on
    one core no matter how many slots exist.  At cluster scale a table
    has thousands of splits, the gate is false, and this is the
    identity — no shuffle is ever added to a big scan.  When it does
    fire, the shuffle moves exactly the rows whose per-row compute
    dominates the move cost.

    The probe is ``inputFiles()`` (file-listing metadata), not
    ``df.rdd.getNumPartitions()`` — touching ``.rdd`` forces a
    plan→RDD conversion on the driver for every call (VERDICT r2).
    File count under-counts splits (one big file → many splits), so
    the gate may also fire on a monolithic multi-split file — accepted:
    the per-row-compute stages this guards want round-robin spread
    there anyway, and multi-file tables (the 100 TB case) still skip
    it.  A non-scan DataFrame (no input files) is left untouched — its
    parallelism was already set upstream.
    """
    slots = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < slots:
        return df.repartition(slots)
    return df


def widen_by_key(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit key-repartition to the session's task slots — the
    standing remedy for AQE's byte-based coalescing of CPU-bound
    stages (SCALE.md "AQE byte-coalescing vs CPU-bound stages").

    AQE sizes post-shuffle partitions by bytes; a grouped-map/cogroup/
    set-intersection stage over byte-small rows gets folded into one
    or two tasks and serializes.  An explicit ``repartition(n, keys)``
    is exempt from coalescing and, keyed on the grouping columns,
    satisfies the downstream distribution requirement — so it replaces
    (not adds to) the Exchange the grouped op would insert.  Apply to
    every Arrow/Python or per-row-set-op stage fed by a shuffle.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into files of
    ~``target_mb`` each and return the output file count.

    The operational fix for the classic ingest pathology — thousands of
    KB-sized files from streaming micro-batches or over-parallel writes
    make every downstream scan pay per-file open/footer costs and break
    split planning.  Sizing uses the dataset's actual on-disk bytes
    (file-listing metadata, no data read), then a round-robin
    ``repartition`` so output files are uniform.  At 100 TB this runs
    per-partition-directory (compact yesterday's partition, not the
    table).

    Writes to ``out_path`` (callers swap directories atomically —
    rename-based publish — rather than rewriting in place).
    """
    import math

    sc = spark.sparkContext
    conf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_col: str,
) -> None:
    """Write ``n_shards`` deterministic training shards: rows are
    range-partitioned on ``order_col`` (so shard k holds a contiguous
    key range) and sorted within each shard — the layout a sharded
    training loader expects (stable shard membership for checkpoint
    resume, sequential reads within a shard).

    Plan shape: one range Exchange (driver samples partition bounds —
    no global sort of the data) + per-shard local sort at write time.
    At 100 TB range partitioning is how you get both bounded shard
    sizes and deterministic membership; a round-robin split would load-
    balance better but shard membership would change with cluster
    parallelism, breaking resume.
    """
    (
        df.repartitionByRange(n_shards, order_col)
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(df: DataFrame, col_a: str, col_b: str, bits: int = 8) -> Column:
    """Morton (Z-order) key over two numeric columns: each column is
    min-max scaled onto a 2^bits grid, then the grid coordinates'
    bits are interleaved — points close in BOTH dimensions get close
    z-values, so sorting by z clusters them into the same files and
    row groups.  That is what makes multi-dimensional min/max pruning
    work: a single-column sort gives perfect pruning on one predicate
    and none on the other; z-order gives useful pruning on both.

    The scan for min/max is one aggregate producing 4 scalars (model
    state, like the k-means centroid pin — never data).  Min-max
    scaling is skew-sensitive; for heavy-tailed columns substitute the
    profiler's quantiles (operators/profile.py) as grid boundaries —
    the interleave below is unchanged.  Expression-only (shifts, masks,
    ors inside one codegen span), no UDF.
    """
    lo_a, hi_a, lo_b, hi_b = (
        df.agg(
            F.min(col_a).cast("double"),
            F.max(col_a).cast("double"),
            F.min(col_b).cast("double"),
            F.max(col_b).cast("double"),
        ).collect()[0]
    )
    if lo_a is None or lo_b is None:
        # empty input or an all-NULL cluster column: no meaningful
        # ordering exists; a constant key keeps the write valid
        return F.lit(0).cast("long")

    def _grid(c: str, lo: float, hi: float) -> Column:
        span = (hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
        # NULL values cluster at grid cell 0 — the coalesce must run
        # BEFORE least(), which skips NULL operands and would otherwise
        # send NULL rows silently into the top corner
        cell = F.coalesce(
            F.floor(scaled * ((1 << bits) - 1) + 0.5).cast("long"),
            F.lit(0).cast("long"),
        )
        return F.least(F.lit((1 << bits) - 1).cast("long"), cell)

    ga, gb = _grid(col_a, lo_a, hi_a), _grid(col_b, lo_b, hi_b)
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(ga, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(gb, i).bitwiseAND(one), 2 * i + 1))
    return z


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int, bits: int = 8
) -> None:
    """Write a parquet dataset clustered by the Z-order of two columns:
    range-partition on the z-value (driver-sampled bounds — no global
    sort) and sort within each file, so every file covers a compact
    rectangle in (col_a, col_b) space and min/max stats prune scans
    with predicates on EITHER or BOTH columns.  The layout tool behind
    "cluster the corpus by (source, length)" style table maintenance;
    effectiveness is asserted by bounding-box math in
    tests/test_zorder.py."""
    (
        df.withColumn("__z", zorder_value(df, col_a, col_b, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the ``events`` table to one timestamp convention.

    Output columns (append-only, schema-adaptive):

    * ``ts``    — ``TimestampType`` at µs precision (UTC session tz)
    * ``ts_us`` — ``bigint`` epoch microseconds (== DuckDB ``epoch_us(ts)``;
      the cross-engine comparison currency, since DuckDB's parquet reader
      also lands on µs)
    * ``ts_ns`` — ``bigint`` epoch nanoseconds

    Handles both storage layouts the harness has shipped: ``timestamp[us]``
    (read as TIMESTAMP or TIMESTAMP_NTZ) and legacy ``timestamp[ns]``
    surfaced as a raw long via ``spark.sql.legacy.parquet.nanosAsLong``.
    Pure projections — no shuffle, stays inside the scan's codegen stage.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):  # legacy nanos-as-long layout
        out = (
            df.withColumn("ts_ns", F.col("ts"))
            .withColumn("ts_us", F.expr("ts div 1000"))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    else:
        # timestamp[us] layout (TIMESTAMP or TIMESTAMP_NTZ; session tz is
        # UTC, so the NTZ→TZ cast is value-identity)
        out = (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("ts_us", F.unix_micros(F.col("ts")))
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
        )
    # One terminal select so column ORDER is layout-independent — the two
    # branches append ts_us/ts_ns in opposite orders, and positional ops
    # (union, select *) across layouts would silently pair them (ADVICE r2).
    return out.select(*df.columns, "ts_us", "ts_ns")


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Tables:
    """Lazy name→DataFrame mapping over the test star schema.

    Lazy so a query touching one table never plans scans of the other
    nine.  ``events.ts`` is normalized via :func:`normalize_events`
    (adds ``ts_us``/``ts_ns`` bigints next to a µs ``TimestampType``
    ``ts``, whatever the on-disk layout).
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = self._spark.read.parquet(f"{self._sf_dir}/{name}.parquet")
            if name == "events":
                df = normalize_events(df)
            self._cache[name] = df
        return self._cache[name]

    def keys(self):
        return TPCH_TABLES


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    """Lazy table map for ``sf_dir``; also applies runtime confs (UTC
    timezone, nanos-as-long) so results are deterministic regardless of
    who constructed the session.

    Memoized per (session, ``realpath(sf_dir)``) in the session's own
    memo (:func:`fletcher_spark.session._session_state`), so a stopped
    session's map dies with it.  Each ``spark.read.parquet`` call costs
    a footer read, an InMemoryFileIndex build and a dozen py4j
    round-trips (~30-150 ms measured at sf0.1), and every query
    invocation used to pay it fresh for every table it touches.
    Reusing the lazy DataFrame HANDLE caches only schema and file
    listing (what Spark's own catalog does for a registered table): no
    data, no results — every action on the handle still computes from
    the parquet input."""
    import os

    from fletcher_spark.session import _session_state, apply_runtime_confs

    apply_runtime_confs(spark)
    tables = _session_state(spark).setdefault("tables", {})
    key = os.path.realpath(sf_dir)
    if key not in tables:
        tables[key] = Tables(spark, sf_dir)
    return tables[key]
