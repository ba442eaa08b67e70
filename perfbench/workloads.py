"""The benchmark's workloads: which registry queries each one runs, and why.

Every run pays a fresh JVM, a cold pass, three warm passes and an
oracle check, and a comparison needs a few dozen runs.  So each
workload is a fixed subset of its query family, sized so that one run
takes about 35 s on a 4-core machine; the names are listed so a change
to a query's plan cannot move it between workloads.

The query counts are chosen so that, with three warm passes, the
nearest-rank p50 and p90 fall on one query's own samples rather than
on the boundary between two queries: a latency mix of a few distinct
queries jumps between neighbours when a percentile sits in the gap.
"""

from __future__ import annotations

WORKLOADS = {
    # Column compute (Arrow-typed arithmetic, Kleene logic, casts,
    # reductions, UTF-8 string kernels, reshaping, windows, joins) and
    # TPC-H: every fifth name, in sorted order, of the families that
    # have no Python exec, launch no job while building warm and run
    # fewer than 10 jobs per action, plus one join.
    "columnar": (
        "arith_null_propagation", "date_arith_extract", "grouping_sets_flag_status",
        "join_salted_skew", "kleene_logic", "q10_returned_items", "q18_large_volume_customers",
        "q4_order_priority_exists", "reductions_mode_percentile",
        "setitem_set_where", "str_cat_dummies", "str_predicates", "str_trim_pad",
        "unpivot_measures", "window_rank_family",
    ),
    # Multi-stage pipelines that launch jobs while being built or run
    # many jobs per action: the prefix-filter similarity join, the
    # driver-local union-find and k-core paths, and two dedup queries
    # that share a persisted shingle frame through Spark's cache manager.
    "pipelines": (
        "dedup_cc_clusters", "dedup_minhash_lsh", "dedup_prefix_filter_join",
        "dedup_simhash_pairs", "graph_kcore_peel",
    ),
    # Data leaving the JVM: one query per Python exec kind
    # (ArrowEvalPython, FlatMapGroupsInPandas, FlatMapCoGroupsInPandas,
    # MapInArrow, MapInPandas), a per-user recursive fold in grouped
    # pandas, Arrow to the driver, and two file round trips whose writes
    # run while the query is built.
    "interchange": (
        "udf_prefix_length", "udf_grouped_map_zscore", "udf_cogroup_fulfillment",
        "udf_arrow_batch_stats", "mm_decode_jpeg_roundtrip", "events_ewma",
        "io_arrow_roundtrip", "io_shard_roundtrip", "io_csv_roundtrip",
    ),
}


def queries(workload: str, registered) -> list[str]:
    """Sorted query names of ``workload``.  Raises ``KeyError`` for an
    unknown workload or a listed name the registry does not have."""
    names = WORKLOADS[workload]
    missing = sorted(set(names) - set(registered))
    if missing:
        raise KeyError(f"{workload}: not registered: {missing}")
    return sorted(names)
