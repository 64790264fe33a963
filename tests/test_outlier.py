"""LOF vs a numpy oracle; a planted far outlier must have the max LOF."""

import numpy as np
import pytest

from sedona_spark.operators.outlier import local_outlier_factor


def _lof_oracle(xy, k):
    n = len(xy)
    d = np.sqrt(((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2))
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1, kind="stable")[:, :k]
    kdist = d[np.arange(n), nn[:, -1]]
    lrd = np.empty(n)
    for i in range(n):
        reach = np.maximum(d[i, nn[i]], kdist[nn[i]])
        lrd[i] = 1.0 / (reach.mean() + 1e-10)
    lof = np.empty(n)
    for i in range(n):
        lof[i] = lrd[nn[i]].mean() / lrd[i]
    return lof


def test_lof_vs_numpy(spark):
    rng = np.random.default_rng(6)
    xy = rng.uniform(0, 30, size=(150, 2))
    xy[0] = (80.0, 80.0)  # planted outlier
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(xy)],
        "point_id int, x double, y double",
    )
    k = 5
    got = {r.point_id: r.lof for r in local_outlier_factor(df, k, level=6).collect()}
    exp = _lof_oracle(xy, k)

    # ties in kNN membership can differ only on equidistant sets (none in
    # random data) → values must agree tightly
    for i in range(150):
        assert got[i] == pytest.approx(exp[i], rel=1e-9), i
    assert max(got, key=got.get) == 0  # the planted outlier tops LOF


def test_lof_coincident_points(spark):
    """>k coincident points: reach distances are all 0 → lrd = 1/1e-10 and
    LOF = 1.0 exactly (not NULL), per the sklearn/reference epsilon rule."""
    rows = [(i, 5.0, 5.0) for i in range(8)] + [(100, 40.0, 40.0)]
    df = spark.createDataFrame(rows, "point_id int, x double, y double")
    got = {r.point_id: r.lof for r in local_outlier_factor(df, 5, level=6).collect()}
    for i in range(8):
        assert got[i] is not None
        assert got[i] == pytest.approx(1.0, abs=1e-9), i
    assert got[100] > 10.0  # far point is a strong outlier


def test_lof_releases_its_cache(spark):
    """The kNN frame LOF caches is released once the result exists."""
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(rng.uniform(0, 30, (60, 2)))],
        "point_id int, x double, y double",
    )
    spark.catalog.clearCache()
    assert local_outlier_factor(df, 4, level=6).count() == 60
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
