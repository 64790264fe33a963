"""Zonal/keyed-join aggregations and DBSCAN vs brute-force oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sedona_spark.operators import dbscan, join_collect_by_key, join_count_by_key, zonal_stats


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(21)
    xy = rng.uniform(0, 100, size=(800, 2))
    df = spark.createDataFrame(
        [(i, float(a), float(b), int(i % 7)) for i, (a, b) in enumerate(xy)],
        "point_id int, x double, y double, val int",
    ).cache()
    return xy, df


@pytest.fixture(scope="module")
def rects(spark):
    rows = [
        (j, 10.0 * j, 5.0 * j, 10.0 * j + 8.0, 5.0 * j + 9.0) for j in range(9)
    ]
    return spark.createDataFrame(
        rows, "zone_id int, xmin double, ymin double, xmax double, ymax double"
    )


def _expected_matches(xy, rows):
    out = {}
    for j, x0, y0, x1, y1 in rows:
        ids = [
            i
            for i, (a, b) in enumerate(xy)
            if x0 <= a <= x1 and y0 <= b <= y1
        ]
        out[j] = ids
    return out


def test_count_by_key(spark, pts, rects):
    xy, pdf = pts
    rows = [(r.zone_id, r.xmin, r.ymin, r.xmax, r.ymax) for r in rects.collect()]
    exp = _expected_matches(xy, rows)
    got = {
        r.zone_id: r.n_matches
        for r in join_count_by_key(pdf, rects, "zone_id", level=6).collect()
    }
    for j, ids in exp.items():
        assert got.get(j, 0) == len(ids)


def test_collect_by_key(spark, pts, rects):
    xy, pdf = pts
    rows = [(r.zone_id, r.xmin, r.ymin, r.xmax, r.ymax) for r in rects.collect()]
    exp = _expected_matches(xy, rows)
    got = {
        r.zone_id: list(r.matches)
        for r in join_collect_by_key(pdf, rects, "zone_id", "point_id", level=6).collect()
    }
    for j, ids in exp.items():
        if ids:
            assert got[j] == sorted(ids)


def test_zonal_stats(spark, pts, rects):
    xy, pdf = pts
    rows = [(r.zone_id, r.xmin, r.ymin, r.xmax, r.ymax) for r in rects.collect()]
    exp = _expected_matches(xy, rows)
    got = {r.zone_id: r for r in zonal_stats(pdf, rects, "zone_id", "val", level=6).collect()}
    for j, ids in exp.items():
        if ids:
            vals = [i % 7 for i in ids]
            assert got[j].n == len(ids)
            assert got[j].val_sum == sum(vals)
            assert got[j].val_min == min(vals)
            assert got[j].val_max == max(vals)


def _brute_dbscan(xy, eps, min_pts):
    n = len(xy)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    neigh = d2 <= eps * eps
    core = neigh.sum(axis=1) >= min_pts
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        if core[i]:
            for j in range(n):
                if core[j] and neigh[i, j]:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
    labels = {}
    for i in range(n):
        if core[i]:
            labels[i] = find(i)
    for i in range(n):
        if not core[i]:
            cands = [labels[j] for j in np.nonzero(neigh[i] & core)[0]]
            labels[i] = min(cands) if cands else -1
    return labels, core


def test_dbscan_vs_bruteforce(spark):
    rng = np.random.default_rng(5)
    # two dense blobs + sparse noise
    blob1 = rng.normal((20, 20), 0.5, size=(40, 2))
    blob2 = rng.normal((60, 60), 0.5, size=(40, 2))
    noise = rng.uniform(0, 100, size=(20, 2))
    xy = np.vstack([blob1, blob2, noise])
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(xy)],
        "point_id int, x double, y double",
    )
    eps, min_pts = 2.0, 5
    got = {r.point_id: r.cluster for r in dbscan(df, eps, min_pts, level=6).collect()}
    exp, core = _brute_dbscan(xy, eps, min_pts)

    # cluster ids must induce the same partition (core points) and the same
    # noise set; border assignment ties may differ only when a border point
    # touches two clusters — min-rule on both sides makes it deterministic
    import itertools

    for i, j in itertools.combinations(range(len(xy)), 2):
        if core[i] and core[j]:
            assert (exp[i] == exp[j]) == (got[i] == got[j]), (i, j)
    for i in range(len(xy)):
        assert (exp[i] == -1) == (got[i] == -1), i
        if not core[i] and exp[i] != -1:
            assert got[i] == got[exp[i]]  # attached to the min core's cluster


def test_dbscan_string_ids(spark):
    """String ids cluster like integer ids: 80 points eps apart on a line
    form one cluster labelled with the min xxhash64 of its ids, and a far
    point is noise."""
    rows = [(i, float(i), 0.0) for i in range(80)] + [(80, 60.0, 60.0)]
    sdf = spark.createDataFrame(
        [(f"p{i:03d}", x, y) for i, x, y in rows], "point_id string, x double, y double"
    )
    idf = spark.createDataFrame(rows, "point_id int, x double, y double")
    got_s = {r.point_id: r.cluster for r in dbscan(sdf, 1.0, 2, level=6).collect()}
    got_i = {r.point_id: r.cluster for r in dbscan(idf, 1.0, 2, level=6).collect()}

    want = sdf.filter(F.col("y") == 0).agg(F.min(F.xxhash64("point_id"))).collect()[0][0]
    assert {got_s[f"p{i:03d}"] for i in range(80)} == {want}
    assert got_s["p080"] == -1
    assert {got_i[i] for i in range(80)} == {0} and got_i[80] == -1
    # same partition as the integer-id run
    for i in range(81):
        for j in range(i + 1, 81):
            assert (got_s[f"p{i:03d}"] == got_s[f"p{j:03d}"]) == (got_i[i] == got_i[j])
