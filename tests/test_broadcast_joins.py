"""Broadcast index joins (operators/broadcast_index.py): the point × zone
joins and the Euclidean kNN join must return exactly the rows, column names,
types and order of the cell / rounds plans they replace when the small side
fits ``spark.sql.autoBroadcastJoinThreshold``. Every parity test runs the
same call at the default threshold and at ``-1`` (which forces the cell or
rounds plan) over parquet inputs, so the size estimate exists."""

import contextlib

import pytest
from pyspark.sql import functions as F

from sedona_spark.operators import broadcast_index, knn
from sedona_spark.operators.knn import knn_join, knn_join_broadcast
from sedona_spark.operators.spatial_join import pip_join, pip_join_multi
from sedona_spark.streaming.cellify import stream_spatial_join

from test_knn_golden import CASES

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _parquet(spark, tmp_path, name, rows, schema, parts=1):
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema).repartition(parts).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _run(df):
    return [(f.name, f.dataType) for f in df.schema], sorted(tuple(r) for r in df.collect())


def _both(spark, build):
    """(schema, rows, plan) of ``build()`` on the index path and on the
    cell / rounds path."""
    idx = build()
    out = _run(idx) + (_plan(idx),)
    with _threshold(spark, "-1"):
        cell = build()
        return out, _run(cell) + (_plan(cell),)


# unit square, a triangle, an L-shaped (concave) ring, and rings with no area
_RINGS = [
    (1, [0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0]),
    (2, [2.0, 0.0, 4.0, 0.0, 3.0, 2.0, 2.0, 0.0]),
    (3, [0.0, 2.0, 2.0, 2.0, 2.0, 3.0, 1.0, 3.0, 1.0, 4.0, 0.0, 4.0]),
    (4, None),
    (5, []),
]
# a holed square, a two-part multipolygon, and empty or NULL geometries
_GEOMS = [
    (1, [[0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0], [1.0, 1.0, 3.0, 1.0, 3.0, 3.0, 1.0, 3.0]]),
    (2, [[5.0, 0.0, 6.0, 0.0, 6.0, 1.0, 5.0, 1.0], [7.0, 0.0, 8.0, 0.0, 8.0, 1.0, 7.0, 1.0]]),
    (3, None),
    (4, []),
    (5, [[]]),
]


def _points(spark, tmp_path):
    # a lattice at half steps: vertices, edge points, interiors, hole edges
    rows = [(i * 20 + j, i * 0.5, j * 0.5) for i in range(18) for j in range(10)]
    rows += [(1000, None, 0.5), (1001, 0.5, None), (1002, 0.25, 0.75)]
    return _parquet(spark, tmp_path, "points", rows, "pid long, x double, y double", parts=3)


@pytest.mark.parametrize("predicate", ["contains", "covers"])
def test_pip_join_parity(spark, tmp_path, predicate):
    pts = _points(spark, tmp_path)
    zones = _parquet(spark, tmp_path, "zones", _RINGS, "zid int, ring array<double>")
    (s_i, r_i, plan), (s_c, r_c, cell_plan) = _both(
        spark, lambda: pip_join(pts, zones, predicate, level=3))
    assert s_i == s_c and r_i == r_c and r_i
    assert [n for n, _ in s_i] == ["pid", "x", "y", "zid", "ring"]
    # boundary points match only under covers
    assert ((0, 0.0, 0.0, 1, _RINGS[0][1]) in r_i) == (predicate == "covers")
    assert "MapInArrow" in plan and "Generate" not in plan and "Exchange" not in plan
    assert "Generate" in cell_plan


@pytest.mark.parametrize("predicate", ["contains", "covers"])
def test_pip_join_multi_parity(spark, tmp_path, predicate):
    pts = _points(spark, tmp_path)
    zones = _parquet(spark, tmp_path, "zones", _GEOMS, "zid int, geom array<array<double>>")
    (s_i, r_i, plan), (s_c, r_c, _) = _both(
        spark, lambda: pip_join_multi(pts, zones, predicate, level=4))
    assert s_i == s_c and r_i == r_c and r_i
    hit = {(r[0], r[3]) for r in r_i}
    assert (4 * 20 + 4, 1) not in hit  # (2, 2) is inside the hole
    assert ((2 * 20 + 2, 1) in hit) == (predicate == "covers")  # hole corner (1, 1)
    assert (11 * 20 + 1, 2) in hit and (15 * 20 + 1, 2) in hit  # both parts
    assert "Generate" not in plan and "Exchange" not in plan


def test_pip_join_zones_with_envelope_columns(spark, tmp_path):
    """Zones that already carry xmin..ymax use those columns as the
    envelope (here looser than the ring) and lose them in the output."""
    pts = _points(spark, tmp_path)
    rows = [(zid, ring, -1.0, -1.0, 5.0, 5.0) for zid, ring in _RINGS[:3]]
    zones = _parquet(spark, tmp_path, "zones", rows,
                     "zid int, ring array<double>, xmin double, ymin double, "
                     "xmax double, ymax double")
    (s_i, r_i, _), (s_c, r_c, _) = _both(spark, lambda: pip_join(pts, zones, level=5))
    assert s_i == s_c and r_i == r_c and r_i
    assert [n for n, _ in s_i] == ["pid", "x", "y", "zid", "ring"]


def test_pip_join_empty_sides(spark, tmp_path):
    pts = _points(spark, tmp_path)
    zones = _parquet(spark, tmp_path, "zones", _RINGS, "zid int, ring array<double>")
    for p, z in ((pts, zones.filter(F.lit(False))), (pts.filter(F.lit(False)), zones)):
        (s_i, r_i, _), (s_c, r_c, _) = _both(spark, lambda: pip_join(p, z))
        assert s_i == s_c and r_i == r_c == []


def test_streaming_point_side_and_streaming_small_side(spark, tmp_path):
    pts = _points(spark, tmp_path)
    zones = _parquet(spark, tmp_path, "zones", _RINGS, "zid int, ring array<double>")
    stream = spark.readStream.schema(pts.schema).parquet(str(tmp_path / "points"))
    assert not broadcast_index.indexable(stream)
    assert broadcast_index.indexable(zones)
    joined = stream_spatial_join(stream, zones, level=3, lon="x", lat="y")
    q = (joined.writeStream.format("memory").queryName("bcast_pip")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.sql("select * from bcast_pip").collect())
    finally:
        q.stop()
    assert got == _run(pip_join(pts, zones, level=3))[1] and got


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("parts", [1, 4])
def test_knn_golden_parity(spark, tmp_path, case, parts):
    objs, qs, k, expected = CASES[case]
    odf = _parquet(spark, tmp_path, "objs", objs, "oid int, ox double, oy double", parts)
    qdf = _parquet(spark, tmp_path, "qs", qs, "qid int, qx double, qy double", parts)
    (s_i, r_i, plan), (s_c, r_c, _) = _both(spark, lambda: knn_join(
        qdf, odf, k=k, level=6, query_id="qid", qx="qx", qy="qy"))
    assert s_i == s_c and r_i == r_c  # dist_sq compared exactly
    assert [n for n, _ in s_i] == ["qid", "qx", "qy", "oid", "ox", "oy", "dist_sq", "knn_rank"]
    assert "Exchange" not in plan and "MapInArrow" in plan
    if expected is not None:
        got = {}
        for r in sorted(r_i, key=lambda r: (r[0], r[7])):
            got.setdefault(r[0], []).append(r[3])
        assert got == expected


def _lattice(spark, tmp_path, n=12):
    """Objects on an integer lattice (many exact distance ties) and
    queries at lattice points and cell centres."""
    objs = [(i * n + j, float(i), float(j)) for i in range(n) for j in range(n)]
    qs = [(q, float(q % n), float((q * 7) % n)) for q in range(0, n * n, 5)]
    qs += [(1000 + q, q + 0.5, q * 0.5 + 0.5) for q in range(4)]
    odf = _parquet(spark, tmp_path, "objs", objs, "oid int, ox double, oy double", 3)
    qdf = _parquet(spark, tmp_path, "qs", qs, "qid int, qx double, qy double", 2)
    return qdf, odf


@pytest.mark.parametrize("include_ties", [False, True])
def test_knn_ties_and_exclude_pair_parity(spark, tmp_path, include_ties):
    qdf, odf = _lattice(spark, tmp_path)
    (s_i, r_i, _), (s_c, r_c, _) = _both(spark, lambda: knn_join(
        qdf, odf, k=5, level=4, query_id="qid", qx="qx", qy="qy",
        include_ties=include_ties))
    assert s_i == s_c and r_i == r_c
    if include_ties:
        assert len(r_i) > 5 * qdf.count()  # tied rows all kept
    # the self-join spelling of operators/outlier.py: no query meets itself
    self_q = odf.select(F.col("oid").alias("qid"), F.col("ox").alias("qx"),
                        F.col("oy").alias("qy"))
    (s_i, r_i, _), (s_c, r_c, _) = _both(spark, lambda: knn_join(
        self_q, odf, k=4, level=4, query_id="qid", qx="qx", qy="qy",
        include_ties=include_ties, exclude_pair=("qid", "oid")))
    assert s_i == s_c and r_i == r_c
    assert all(r[0] != r[3] for r in r_i)


def test_knn_k_exceeds_objects_and_empty_sides(spark, tmp_path):
    qdf, odf = _lattice(spark, tmp_path, n=3)
    for q, o in ((qdf, odf), (qdf.filter(F.lit(False)), odf), (qdf, odf.filter(F.lit(False)))):
        (s_i, r_i, _), (s_c, r_c, _) = _both(spark, lambda: knn_join(
            q, o, k=20, level=5, query_id="qid", qx="qx", qy="qy"))
        assert s_i == s_c and r_i == r_c
    assert len(_run(knn_join(qdf, odf, k=20, level=5, query_id="qid", qx="qx",
                             qy="qy"))[1]) == 9 * qdf.count()


def test_knn_streaming_objects_never_indexed(spark, tmp_path):
    _, odf = _lattice(spark, tmp_path, n=3)
    stream = spark.readStream.schema(odf.schema).parquet(str(tmp_path / "objs"))
    assert not broadcast_index.indexable(stream)
    with _threshold(spark, "-1"):
        assert not broadcast_index.indexable(odf)


def test_knn_join_broadcast_query_chunks(spark, tmp_path, monkeypatch):
    """The query-side broadcast kNN scans the objects in fixed-size query
    chunks; a chunk of 2 gives the same rows, ties included."""
    qdf, odf = _lattice(spark, tmp_path)

    def rows():
        return _run(knn_join_broadcast(qdf, odf, k=5, query_id="qid", qx="qx", qy="qy"))

    whole = rows()
    monkeypatch.setattr(knn, "_QUERY_CHUNK", 2)
    assert rows() == whole and len(whole[1]) == 5 * qdf.count()
