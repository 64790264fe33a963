"""NULL geometry through the Arrow-batched PIP classifiers: SQL
three-valued logic, so every predicate over a NULL geometry is NULL."""

import pytest
from pyspark.sql import functions as F

import sedona_spark
from sedona_spark.functions import st
from sedona_spark.operators.spatial_join import pip_join

UNIT_SQUARE = [0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 0.0]


@pytest.fixture(scope="module")
def reg(spark):
    sedona_spark.register(spark)
    return spark


def test_sql_pip_predicates_null_geometry(reg):
    rows = reg.sql(
        "SELECT k, ST_Contains(g, 5e-1, 5e-1) c, ST_Disjoint(g, 5e-1, 5e-1) d, "
        "ST_Disjoint(g, 2e0, 2e0) d_out, ST_PIP(g, 5e-1, 5e-1) cls FROM VALUES "
        "(0, CAST(NULL AS ARRAY<ARRAY<DOUBLE>>)), "
        "(1, array(array(0e0, 0e0, 1e0, 0e0, 1e0, 1e0, 0e0, 1e0, 0e0, 0e0))) AS t(k, g)"
    ).collect()
    got = {r["k"]: (r["c"], r["d"], r["d_out"], r["cls"]) for r in rows}
    assert got == {0: (None, None, None, None), 1: (True, False, True, 2)}


def test_sql_pip_all_null_batch(reg):
    rows = reg.sql(
        "SELECT ST_Contains(CAST(NULL AS ARRAY<ARRAY<DOUBLE>>), 5e-1, 5e-1) c"
    ).collect()
    assert rows[0]["c"] is None


def test_column_pip_predicates_null_ring(spark):
    df = spark.createDataFrame(
        [(0, None, 0.5, 0.5), (1, UNIT_SQUARE, 0.5, 0.5), (2, UNIT_SQUARE, 1.0, 0.5)],
        "k int, ring array<double>, x double, y double",
    )
    got = {
        r["k"]: (r["c"], r["v"], r["cls"])
        for r in df.select(
            "k",
            st.st_contains_point(F.col("ring"), F.col("x"), F.col("y")).alias("c"),
            st.st_covers_point(F.col("ring"), F.col("x"), F.col("y")).alias("v"),
            st.pip_class(F.col("ring"), F.col("x"), F.col("y")).alias("cls"),
        ).collect()
    }
    assert got == {0: (None, None, None), 1: (True, True, 2), 2: (False, True, 1)}


def test_pip_join_ignores_null_ring_zone(spark):
    points = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 3.0, 3.0)], "pid int, x double, y double"
    )
    zones = spark.createDataFrame(
        [(10, UNIT_SQUARE), (11, None)], "zid int, ring array<double>"
    )
    pairs = {(r["pid"], r["zid"]) for r in pip_join(points, zones).collect()}
    assert pairs == {(1, 10)}
