"""Value pins for the SQL-text vector and bucket-key folds
(pipeline/similarity.py, operators/kmeans.py, the LSH band and SimHash
chunk keys of pipeline/dedup.py).

Each fold exists once, as SQL text parsed in one call (a Column-API
HOF lambda costs a py4j round-trip cascade per node).  Its twin here is
a pure-Python reference with the same semantics: a left fold over
doubles starting from 0.0, SQL ``zip_with`` padding and NULL
propagation, md5 band keys, and integer bit slicing.  Every row must
match exactly, including the NULL and empty-array edges.
"""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from fletcher_spark.operators import kmeans as KM
from fletcher_spark.pipeline import dedup as D
from fletcher_spark.pipeline import similarity as SIM

PLANES = SIM.hyperplane_signs(8, 4, seed="twin-test")

VEC_ROWS = [
    (1, [1.0, 2.0, -3.5, 0.25], [0.5, -1.0, 2.0, 4.0]),
    (2, [0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]),
    (3, [-2.5, 1e-5, 3e7, -0.125], [2.0, -2.0, 0.5, -0.5]),
    (4, None, [1.0, 2.0, 3.0, 4.0]),
    (5, [1.5, -1.5, 2.25, -2.25], None),
    (6, [], []),
    (7, [0.5, 0.5, 0.5, 0.5], [0.1, 0.2, 0.3, 0.4]),
]

SIG = [11, 22, 33, 44, 55, 66, 77, 88, 99, 100, 101, 102]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VEC_ROWS, "vec_id long, a array<double>, b array<double>")


def _fold(a, b, op):
    """``aggregate(zip_with(a, b, op), 0.0D, +)`` in SQL semantics:
    NULL arrays give NULL, the shorter array pads with NULL, and a NULL
    element poisons the sum from there on."""
    if a is None or b is None:
        return None
    acc = 0.0
    for i in range(max(len(a), len(b))):
        x = a[i] if i < len(a) else None
        y = b[i] if i < len(b) else None
        if acc is None or x is None or y is None:
            acc = None
        else:
            acc = acc + op(float(x), float(y))
    return acc


def dot_ref(a, b):
    return _fold(a, b, lambda x, y: x * y)


def l2_norm_ref(a):
    d = dot_ref(a, a)
    return None if d is None else math.sqrt(d)


def sign_key_ref(vec, planes):
    # CASE WHEN NULL >= 0 falls through to '0'
    return "".join(
        "1" if (d := dot_ref(vec, row)) is not None and d >= 0 else "0" for row in planes
    )


def band_keys_ref(sig, bands, rows):
    """md5 of each band's '|'-joined rows; ``concat_ws`` skips NULLs."""
    out = []
    for b in range(bands):
        vals = [] if sig is None else sig[b * rows:(b + 1) * rows]
        out.append((b, hashlib.md5("|".join(str(v) for v in vals).encode()).hexdigest()))
    return out


def chunk_keys_ref(words, n_chunks):
    """Equal-width chunks of the concatenated signed 64-bit words, by
    integer bit slicing of the unsigned value (MSB-first)."""
    u = 0
    for w in words:
        u = (u << 64) | (w & ((1 << 64) - 1))
    total = 64 * len(words)
    width = total // n_chunks
    return [
        (k, (u >> (total - (k + 1) * width)) & ((1 << width) - 1)) for k in range(n_chunks)
    ]


def _collect(df, sql):
    return {r["vec_id"]: r["v"] for r in df.select("vec_id", F.expr(sql).alias("v")).collect()}


def test_dot_twin(vecs):
    got = _collect(vecs, SIM.dot_sql("`a`", "`b`"))
    for vid, a, b in VEC_ROWS:
        assert got[vid] == dot_ref(a, b), vid
    assert got[4] is None and got[5] is None and got[6] == 0.0


def test_l2_norm_twin(vecs):
    got = _collect(vecs, SIM.l2_norm_sql("`a`"))
    for vid, a, _ in VEC_ROWS:
        assert got[vid] == l2_norm_ref(a), vid


def test_cosine_twin(vecs):
    # the zero and empty vectors divide by zero under ANSI — cosine is
    # only ever applied to non-degenerate vectors in the queries
    nz = vecs.filter(~F.col("vec_id").isin(2, 6))
    got = _collect(nz, SIM.cosine_sql("`a`", "`b`"))
    for vid, a, b in VEC_ROWS:
        if vid in (2, 6):
            continue
        d, na, nb = dot_ref(a, b), l2_norm_ref(a), l2_norm_ref(b)
        want = None if None in (d, na, nb) else d / (na * nb)
        assert got[vid] == want, vid


def test_lsh_bucket_twin(vecs):
    got = _collect(vecs, SIM.lsh_bucket_sql("`a`", PLANES))
    for vid, a, _ in VEC_ROWS:
        assert got[vid] == sign_key_ref(a, PLANES), vid
    # a NULL (or empty) vector keys as all '0', not NULL
    assert got[4] == got[6] == "0" * len(PLANES)


def test_lsh_table_keys_twin(vecs):
    got = _collect(vecs, SIM.lsh_table_keys_sql("`a`", PLANES, 4))
    for vid, a, _ in VEC_ROWS:
        want = [(t, sign_key_ref(a, PLANES[4 * t:4 * t + 4])) for t in range(len(PLANES) // 4)]
        assert [(e["band"], e["key"]) for e in got[vid]] == want, vid


def test_nearest_struct_twin(vecs):
    # row 7 sits at d2 = 1.0 from both cid 1 and cid 3: the tie breaks on
    # the lowest cid however the centroids are listed
    cent = [(3, [1.0, 1.0, 1.0, 1.0]), (2, [1.0, 2.0, -3.5, 0.25]), (1, [0.0, 0.0, 0.0, 0.0])]
    got = _collect(vecs, KM.nearest_struct_sql("`a`", cent))
    for vid, a, _ in VEC_ROWS:
        # a NULL or empty vector makes every d2 NULL; the tuple min then
        # falls to the lowest cid, as Spark's struct order does
        want = min(
            (_fold(a, cv, lambda x, y: (x - y) * (x - y)), cid) for cid, cv in cent
        )
        assert (got[vid]["d2"], got[vid]["cid"]) == want, vid
    assert (got[7]["d2"], got[7]["cid"]) == (1.0, 1)
    assert (got[4]["d2"], got[4]["cid"]) == (None, 1)


def test_lsh_band_keys_twin(spark):
    rows = [(1, SIG), (2, None), (3, [-(2**63), 2**63 - 1, 0, -1, 5, 6, 7, 8, 9, 10, 11, 12])]
    df = spark.createDataFrame(rows, "doc_id long, sig array<long>")
    for bands, rws in [(4, 3), (3, 4), (2, 6)]:
        got = {
            r["doc_id"]: [(e["band"], e["key"]) for e in r["bk"]]
            for r in df.select(
                "doc_id", F.expr(D.lsh_band_keys_sql("sig", bands, rws)).alias("bk")
            ).collect()
        }
        for doc_id, sig in rows:
            assert got[doc_id] == band_keys_ref(sig, bands, rws), (bands, rws, doc_id)
        # a NULL signature keys every band as md5('')
        assert {k for _, k in got[2]} == {hashlib.md5(b"").hexdigest()}


def test_lsh_band_keys_adaptive_twin(spark):
    ns = (1, 20_000, 20_001, 100_000, 2_000_000, 5_000_000)
    rows = [(i, SIG, n) for i, n in enumerate(ns)]
    df = spark.createDataFrame(rows, "doc_id long, sig array<long>, n long")
    got = {
        r["doc_id"]: [(e["band"], e["key"]) for e in r["bk"]]
        for r in df.select(
            "doc_id", F.expr(D.lsh_band_keys_adaptive_sql("sig", "n")).alias("bk")
        ).collect()
    }
    for doc_id, sig, n in rows:
        bands, rws = next(
            ((b, r) for max_n, b, r in D.LSH_BAND_LADDER if n <= max_n), D.LSH_BAND_FLOOR
        )
        assert got[doc_id] == band_keys_ref(sig, bands, rws), n


def test_simhash_chunk_key_twins(spark):
    rows = [
        (1, -0x123456789ABCDEF0, 0x7EDCBA9876543210),
        (2, 0, -1),
        (3, 2**63 - 1, -(2**63)),
        (4, -(2**63), 2**63 - 1),
        (5, -1, 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, sig1 long, sig2 long")
    got = df.select(
        "doc_id",
        F.expr(D.simhash_chunks_packed_sql("sig1", 8)).alias("s64"),
        F.expr(D.simhash_chunks_packed_128_sql("sig1", "sig2", 8)).alias("s128"),
    ).collect()
    by_id = {r["doc_id"]: r for r in got}
    for doc_id, s1, s2 in rows:
        r = by_id[doc_id]
        assert [(e["band"], e["key"]) for e in r["s64"]] == chunk_keys_ref([s1], 8), doc_id
        assert [(e["band"], e["key"]) for e in r["s128"]] == chunk_keys_ref([s1, s2], 8), doc_id


def test_assign_nearest_ties_break_low_cid(spark):
    # two equidistant centroids: struct comparison orders d2 then cid
    v = spark.createDataFrame([(1, [0.0, 0.0])], "id long, v array<double>")
    cent = [(7, [1.0, 0.0]), (3, [-1.0, 0.0])]
    out = KM.assign_nearest(v, cent, "id", "v").collect()[0]
    assert out["cid"] == 3 and out["d2"] == 1.0


def test_repr_double_literals_roundtrip(spark):
    # the `D`-suffixed repr path must round-trip awkward doubles exactly
    vals = [1e-5, 3e7, -0.1, 2.0 / 3.0, 1.7976931348623157e308, 5e-324]
    cent = [(1, vals)]
    got = spark.sql(f"SELECT {KM.centroid_literal_sql(cent)} AS c").collect()[0]["c"]
    assert list(got[0]["cv"]) == vals
