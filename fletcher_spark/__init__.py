"""fletcher_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of xhochy/fletcher.

The reference (fletcher, an Arrow-backed pandas ExtensionArray library)
exposes a *columnar compute surface*: null-aware arithmetic, reductions,
an extensive UTF-8 string suite, selection/encoding primitives, Parquet
scan and Arrow interchange.  This package re-expresses that surface —
plus the relational layer fletcher borrowed from pandas (joins, grouping,
sorting, windows) and large-scale pipeline operators (dedup, similarity
search, text analysis) — as idiomatic PySpark: declarative DataFrame
plans optimized by Catalyst, vectorized Pandas UDFs only where built-in
expressions cannot express the semantics.

Design stance (SURVEY.md §7): thin, well-tested PySpark library.  All
operators are designed for a 1000-executor / 100 TB deployment even
though tests run on local[4] (tests/conftest.py):

* expressions stay JVM-side (whole-stage codegen) wherever possible;
* small dimension inputs are broadcast;
* no operator ever funnels unbounded data through a single partition
  (no global ``Window.orderBy`` without partition keys on big inputs);
* Python boundaries are Arrow-vectorized (``pandas_udf`` /
  ``mapInPandas``), never row-at-a-time.
"""

from fletcher_spark.session import get_spark
from fletcher_spark.io import (
    read_parquet,
    from_arrow,
    to_arrow,
    compact_parquet,
    write_training_shards,
    write_zordered,
    zorder_value,
    widen_by_key,
)
from fletcher_spark.accessor import fr_str
from fletcher_spark.plans import lint_plan, assert_scale_safe
from fletcher_spark.operators.profile import profile, key_skew_report
from fletcher_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    bloom_build,
    bloom_probe,
    kmv_minima,
    kmv_summary,
    kmv_merge,
    kmv_estimate,
)

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "read_parquet",
    "from_arrow",
    "to_arrow",
    "compact_parquet",
    "write_training_shards",
    "write_zordered",
    "zorder_value",
    "widen_by_key",
    "fr_str",
    "lint_plan",
    "assert_scale_safe",
    "profile",
    "key_skew_report",
    "cms_build",
    "cms_estimate",
    "bloom_build",
    "bloom_probe",
    "kmv_minima",
    "kmv_summary",
    "kmv_merge",
    "kmv_estimate",
    "__version__",
]
