"""kNN golden-fixture cases (FIXTURES.md F4, mirroring the reference's
knn/ resource suite): fixed small cases with known answers, run at
parallelism 1 and 4 — results must be identical (partitioning-invariant,
like the reference's p1/p4 golden files)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sedona_spark.operators import knn_join

CASES = {
    # name: (objects, queries, k, expected {qid: [oid,...]})
    "simple": (
        [(i, float(i), float(i)) for i in range(1, 21)],  # diagonal line
        [(0, 10.0, 10.0)],
        3,
        {0: [10, 9, 11]},  # dist 0, √2, √2 — tie broken by oid
    ),
    "collinear": (
        [(i, float(i), 0.0) for i in range(10)],
        [(0, 0.0, 0.0), (1, 9.5, 0.0)],
        3,
        {0: [0, 1, 2], 1: [9, 8, 7]},
    ),
    "duplicate_queries": (
        [(i, float(i), float(i % 3)) for i in range(12)],
        [(0, 5.0, 1.0), (1, 5.0, 1.0)],  # same point twice
        4,
        None,  # computed below; both qids must agree
    ),
    "clustered_far_query": (
        [(i, float(i % 5), float(i // 5)) for i in range(25)],
        [(0, 400.0, 400.0)],  # forces multi-round ring expansion
        4,
        # (4,4)=24; (4,3)=19 ties (3,4)=23 → oid order; then (3,3)=18
        {0: [24, 19, 23, 18]},
    ),
}


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("parts", [1, 4])
def test_knn_golden(spark, case, parts):
    objs, qs, k, expected = CASES[case]
    odf = spark.createDataFrame(objs, "oid int, ox double, oy double").repartition(parts)
    qdf = spark.createDataFrame(qs, "qid int, qx double, qy double").repartition(parts)
    res = knn_join(qdf, odf, k=k, level=6, query_id="qid", qx="qx", qy="qy")
    got = {}
    for r in res.orderBy("qid", "knn_rank").collect():
        got.setdefault(r.qid, []).append(r.oid)

    if expected is None:
        # duplicate-query semantics: identical answers for identical points
        assert got[0] == got[1] and len(got[0]) == k
        arr = np.array([(x, y) for _, x, y in objs])
        d2 = ((arr - [5.0, 1.0]) ** 2).sum(axis=1)
        order = sorted(range(len(objs)), key=lambda i: (d2[i], i))[:k]
        assert got[0] == order
    else:
        assert got == expected, case


def test_knn_releases_object_cache_when_it_fails(spark):
    """A call that runs out of rounds still unpersists its object table."""
    rng = np.random.default_rng(5)
    objs = [(i, float(x), float(y))
            for i, (x, y) in enumerate(rng.normal(0.0, 0.5, (1000, 2)))]
    odf = spark.createDataFrame(objs, "oid int, ox double, oy double")
    qdf = spark.createDataFrame([(0, 170.0, 80.0)], "qid int, qx double, qy double")
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(RuntimeError, match="max_rounds"):
        knn_join(qdf, odf, k=5, query_id="qid", qx="qx", qy="qy", max_rounds=1)
    assert cache.isEmpty()


def test_knn_releases_round_checkpoints_when_it_fails(spark):
    """A call that runs out of rounds leaves no round checkpoint blocks
    registered (the rounds' ``localCheckpoint`` RDDs are unpersisted)."""
    rng = np.random.default_rng(5)
    objs = [(i, float(x), float(y))
            for i, (x, y) in enumerate(rng.normal(0.0, 0.5, (1000, 2)))]
    odf = spark.createDataFrame(objs, "oid int, ox double, oy double")
    qdf = spark.createDataFrame([(0, 170.0, 80.0)], "qid int, qx double, qy double")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="max_rounds"):
        knn_join(qdf, odf, k=5, query_id="qid", qx="qx", qy="qy", max_rounds=1)
    assert persistent().size() == before
