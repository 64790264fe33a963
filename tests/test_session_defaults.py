"""The per-query floor defaults of ``get_spark``: no Python call-site capture
per ``functions`` call, and a codegen cache that holds every class the
engine's join queries generate, so a repeated query compiles nothing."""

import types

import pytest
from pyspark.errors import utils as error_utils
from pyspark.sql import SparkSession

from sedona_spark.operators.distance_join import distance_join
from sedona_spark.operators.knn import knn_join
from sedona_spark.operators.range_query import range_query
from sedona_spark.operators.spatial_join import (
    pip_join, pip_join_multi, pip_join_rect)
from sedona_spark.operators.tile import tile_assign
from sedona_spark.session import CONF_CODEGEN_CACHE, CONF_DF_DEBUGGING, get_spark


def test_get_spark_sets_defaults_and_extra_conf_wins(monkeypatch):
    seen = []

    def fake_get_or_create(self):
        seen.append(dict(self._options))
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    get_spark("floor_conf", cpus=1)
    get_spark("floor_conf", cpus=1,
              extra_conf={CONF_DF_DEBUGGING: "true", CONF_CODEGEN_CACHE: "64"})
    assert seen[0][CONF_DF_DEBUGGING] == "false"
    assert seen[0][CONF_CODEGEN_CACHE] == "1000"
    assert seen[1][CONF_DF_DEBUGGING] == "true"
    assert seen[1][CONF_CODEGEN_CACHE] == "64"


def test_session_conf_values(spark):
    assert spark.conf.get(CONF_DF_DEBUGGING) == "false"
    assert spark.conf.get(CONF_CODEGEN_CACHE) == "1000"


def _square(x0, y0, s):
    return [x0, y0, x0 + s, y0, x0 + s, y0 + s, x0, y0 + s, x0, y0]


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Small join inputs, stored as parquet and read back the way callers
    feed the engine, so the planner sizes both join sides before any stage
    runs (a DataFrame built from a local list has no size estimate, and
    AQE then broadcasts whichever side's shuffle happens to finish first)."""
    root = tmp_path_factory.mktemp("floor_inputs")
    shells = [_square(-4.0 + 3 * i, -4.0 + 2 * (i % 3), 1.5 + 0.5 * i) for i in range(4)]
    hole = _square(-3.5, -3.5, 0.5)
    tables = {
        "points": ([(i, (i % 40) * 0.25 - 5.0, (i // 40) * 0.25 - 5.0)
                    for i in range(1600)], "pid long, x double, y double"),
        "zones": ([(i, r) for i, r in enumerate(shells)],
                  "zid long, ring array<double>"),
        "zones_multi": ([(i, [r, hole] if i == 0 else [r]) for i, r in enumerate(shells)],
                        "zid long, geom array<array<double>>"),
        "rects": ([(i, r[0], r[1], r[4], r[5]) for i, r in enumerate(shells)],
                  "rid long, xmin double, ymin double, xmax double, ymax double"),
        "sites": ([(i, -4.0 + i, 1.0 - 0.5 * i) for i in range(6)],
                  "sid long, x double, y double"),
        "queries": ([(i, 0.3 * i - 1.0, 0.2 * i) for i in range(6)],
                    "qid long, qx double, qy double"),
        "images": ([(f"img{i}", 32 + 16 * (i % 3), 32, -4.0 + i, 2.0 - 0.5 * i)
                    for i in range(8)],
                   "image_id string, w int, h int, lon double, lat double"),
    }
    dfs = {}
    for name, (rows, schema) in tables.items():
        path = str(root / name)
        spark.createDataFrame(rows, schema).write.parquet(path)
        dfs[name] = spark.read.parquet(path)
    return types.SimpleNamespace(**dfs)


def test_building_a_join_captures_no_call_site(spark, inputs, monkeypatch):
    calls = []
    real = error_utils._capture_call_site

    def counting(depth):
        calls.append(depth)
        return real(depth)

    monkeypatch.setattr(error_utils, "_capture_call_site", counting)
    # re-read the flag from the active session rather than the process cache
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    pip_join(inputs.points, inputs.zones)
    assert calls == []


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_join_queries_compile_nothing(spark, inputs):
    i = inputs
    window = _square(-3.0, -3.0, 4.0)
    ops = {
        "pip_join": lambda: pip_join(i.points, i.zones),
        "pip_join_multi": lambda: pip_join_multi(i.points, i.zones_multi),
        "pip_join_rect": lambda: pip_join_rect(i.points, i.rects),
        "distance_join": lambda: distance_join(
            i.sites, i.points.withColumnsRenamed({"x": "bx", "y": "by"}), 0.6),
        "knn_join": lambda: knn_join(
            i.queries, i.points.withColumnsRenamed({"pid": "oid", "x": "ox", "y": "oy"}),
            5, query_id="qid", qx="qx", qy="qy"),
        "range_query": lambda: range_query(i.points, window, "intersects"),
        "tile_assign": lambda: tile_assign(i.images, 16, 16, 8),
    }

    def run_all():
        rows, compiled = {}, {}
        for name, op in ops.items():
            before = _compiles(spark)
            rows[name] = sorted(op().collect())
            compiled[name] = _compiles(spark) - before
        return rows, compiled

    first, _ = run_all()
    assert all(first.values())
    again, compiled = run_all()
    assert again == first
    assert compiled == dict.fromkeys(ops, 0)
