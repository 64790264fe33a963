"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-runnable ANSI-SQL twin. Geometry is
derived deterministically from the testdata tables
(``sedona_spark/sources/testdata.py``) so both engines compute bit-identical
coordinates; all outputs are ids/ints/strings (hash-stable), except where a
measure column is itself bit-deterministic (min/max of identically derived
doubles).

Operators whose exact values are not SQL-expressible (xxhash64 LSH banding,
SimHash sign votes, image decode) are registered without an oracle → the
driver records a rows-only check, as specified.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sedona_spark import cells
from sedona_spark.operators import (
    distance_join,
    knn_join,
    pip_join,
    pip_join_rect,
    polygon_overlap_join,
    range_query,
)
from sedona_spark.operators.tile import tile_assign
from sedona_spark.pipeline.ann import cosine_topk_bruteforce, embedding_near_dup_pairs
from sedona_spark.pipeline.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    simhash_near_dup_pairs,
    word_ngrams,
)
from sedona_spark.pipeline.text import (
    doc_fingerprint,
    language_id,
    quality_stats,
)
from sedona_spark.functions.raster import rs_decode_stats, rs_tile_explode
from sedona_spark.sources.images import images_from_part
from sedona_spark.sources.testdata import (
    SQL_POINTS,
    SQL_PRED_B,
    SQL_REGION_RECTS,
    SQL_ZONES,
    diamond_zones_from_nation,
    holed_zones_from_nation,
    multipolygon_zones_from_nation,
    points_from_events,
    predicate_pairs_from_nation,
    rect_zones_from_nation,
    rects_from_region,
    segments_from_events,
    zones_from_nation,
)

# ---------------------------------------------------------------------------
# spatial queries
# ---------------------------------------------------------------------------

_WIN = (-30.0, -20.0, 10.0, 25.0)  # range-query window (x0, y0, x1, y1)
_KNN_K = 5
_LEVEL = 6


def q_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_events(spark, sf_dir)
    x0, y0, x1, y1 = _WIN
    ring = [x0, y0, x1, y0, x1, y1, x0, y1]
    return range_query(pts, ring, "covers").select("event_id")


def q_pip_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    out = pip_join_rect(pts, zones, "covers", level=_LEVEL)
    return out.select("event_id", "n_nationkey")


def q_pip_poly_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_events(spark, sf_dir)
    zones = diamond_zones_from_nation(spark, sf_dir)
    out = pip_join(pts, zones, "covers", level=_LEVEL)
    return out.select("event_id", "n_nationkey")


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_events(spark, sf_dir)
    z = zones_from_nation(spark, sf_dir)
    # per-zone radius: expand by the max radius, refine per-row (the
    # expression-bound-to-one-side case of DistanceJoinExec.scala:30-42).
    # The SMALL side is the probe (it explodes to the cell disk and gets
    # broadcast); the big point side keeps its single home cell → the
    # 10^12-row side never shuffles.
    centers = z.select("n_nationkey", F.col("zcx").alias("bx"),
                       F.col("zcy").alias("by"), "r")
    out = distance_join(centers, pts, r=5.51, level=_LEVEL,  # max r = 4.5+1.00231
                        probe_x="bx", probe_y="by", build_x="x", build_y="y")
    dx = F.col("x") - F.col("bx")
    dy = F.col("y") - F.col("by")
    d2 = dx * dx + dy * dy
    return out.filter(d2 <= F.col("r") * F.col("r")).select("event_id", "n_nationkey")


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_events(spark, sf_dir).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("qx"), F.col("zcy").alias("qy")
    )
    out = knn_join(
        qs, pts, k=_KNN_K, level=_LEVEL,
        query_id="n_nationkey", qx="qx", qy="qy",
    )
    return out.select(
        "n_nationkey", "event_id", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def q_knn_join_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN join (r5, VERDICT r4 next-round #6; reference
    ``KNNJoinExec.scala:55`` approximate mode): ONE fixed-ring disk pass
    at level 6, top-k among in-disk candidates, no completeness
    iteration. Unlike the exact path the candidate set is pure grid
    arithmetic, so the oracle mirrors it COMPLETELY (grid index + ±ring
    window + windowed top-k) — a full value oracle for the approximate
    semantics themselves."""
    from sedona_spark.operators.knn import knn_join_approx

    pts = points_from_events(spark, sf_dir).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("qx"), F.col("zcy").alias("qy")
    )
    out = knn_join_approx(
        qs, pts, k=_KNN_K, level=_LEVEL, ring=1,
        query_id="n_nationkey", qx="qx", qy="qy",
    )
    return out.select(
        "n_nationkey", "event_id", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def _knn_join_approx_sql() -> str:
    n1 = (1 << _LEVEL) - 1
    qgx, qgy = cells.sql_grid_x("zcx", _LEVEL), cells.sql_grid_y("zcy", _LEVEL)
    ogx, ogy = cells.sql_grid_x("x", _LEVEL), cells.sql_grid_y("y", _LEVEL)
    # DuckDB's range-join path trips an internal error on a BETWEEN join
    # with computed bounds, so the ±1-ring window is written as an explicit
    # 9-offset explode + pure equi-join on (gx, gy) — the exact shape the
    # Spark side executes (sequence-explode then cell equi-join), and the
    # border clamp falls out of the offset range filter
    return f"""
with z as ({SQL_POINTS}), zz as ({SQL_ZONES}),
pg as (select event_id, x, y, {ogx} as ogx, {ogy} as ogy from z),
offs as (select o1.dx, o2.dy
         from (values (-1), (0), (1)) o1(dx)
         cross join (values (-1), (0), (1)) o2(dy)),
zg as (select n_nationkey, zcx, zcy,
              {qgx} + dx as gx, {qgy} + dy as gy
       from zz cross join offs
       where {qgx} + dx between 0 and {n1}
         and {qgy} + dy between 0 and {n1})
select n_nationkey, event_id, knn_rank from (
  select zg.n_nationkey, pg.event_id, row_number() over (
    partition by zg.n_nationkey order by
    (pg.x - zg.zcx) * (pg.x - zg.zcx) + (pg.y - zg.zcy) * (pg.y - zg.zcy) asc,
    pg.event_id asc) as knn_rank
  from zg join pg on pg.ogx = zg.gx and pg.ogy = zg.gy
) where knn_rank <= {_KNN_K}
"""


def q_pip_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join as pip_rect_join but through the salted two-stage path
    (skew splitter) — must produce the identical pair set."""
    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    out = pip_join_rect(pts, zones, "covers", level=_LEVEL, salt=4)
    return out.select("event_id", "n_nationkey")


def q_distance_join_meters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic distance join (meters; haversine refine, per-row
    latitude-adjusted disk expansion — JoinedGeometry.scala parity)."""
    from sedona_spark.operators.distance_geo import distance_join_meters

    pts = points_from_events(spark, sf_dir).withColumnsRenamed(
        {"x": "lon", "y": "lat"}
    )
    z = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("blon"), F.col("zcy").alias("blat")
    )
    # zone side probes (explodes + broadcasts); the big point side keeps its
    # home cell and never shuffles
    out = distance_join_meters(z, pts, r_m=300000.0, level=7,
                               probe_lon="blon", probe_lat="blat",
                               build_lon="lon", build_lat="lat")
    return out.select("event_id", "n_nationkey")


def q_knn_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-query-side kNN join (BroadcastQuerySideKNNJoinExec analog):
    identical result contract as knn_join — same oracle — but the object
    side is scanned once with ZERO shuffle."""
    from sedona_spark.operators.knn import knn_join_broadcast

    pts = points_from_events(spark, sf_dir).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("qx"), F.col("zcy").alias("qy")
    )
    out = knn_join_broadcast(
        qs, pts, k=_KNN_K, query_id="n_nationkey", qx="qx", qy="qy"
    )
    return out.select(
        "n_nationkey", "event_id", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def q_knn_join_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join with tie expansion (InMemoryKNNJoinIterator.java:123-154):
    rank() semantics — every row tied with the kth distance survives."""
    pts = points_from_events(spark, sf_dir).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("qx"), F.col("zcy").alias("qy")
    )
    out = knn_join(
        qs, pts, k=_KNN_K, level=_LEVEL,
        query_id="n_nationkey", qx="qx", qy="qy", include_ties=True,
    )
    return out.select(
        "n_nationkey", "event_id", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def q_knn_join_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join under the HAVERSINE metric (DistanceMetric.HAVERSINE,
    KnnJoinIndexJudgement.java:49) — exact geodesic completeness bound
    handles poles and the antimeridian; zone centers span ±90 lat."""
    pts = points_from_events(spark, sf_dir).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("qx"), F.col("zcy").alias("qy")
    )
    out = knn_join(
        qs, pts, k=_KNN_K, level=_LEVEL,
        query_id="n_nationkey", qx="qx", qy="qy", metric="sphere",
    )
    return out.select(
        "n_nationkey", "event_id", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def q_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sedona_spark.operators import knn_query

    pts = points_from_events(spark, sf_dir)
    out = knn_query(pts, 0.123, 0.456, 10, tiebreak="event_id")
    return out.select("event_id")


def q_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = rect_zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("ring").alias("l_ring")
    )
    b = rects_from_region(spark, sf_dir)
    out = polygon_overlap_join(a, b, level=4, left_ring="l_ring", right_ring="r_ring")
    return out.select("n_nationkey", "r_regionkey")


def q_pip_holes_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against polygons WITH HOLES (even-odd multi-ring refine) —
    a point inside the hole must NOT match (JTS interior-ring semantics)."""
    from sedona_spark.operators.spatial_join import pip_join_multi

    pts = points_from_events(spark, sf_dir)
    zones = holed_zones_from_nation(spark, sf_dir)
    out = pip_join_multi(pts, zones, "covers", level=_LEVEL)
    return out.select("event_id", "n_nationkey")


def q_multipolygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against MultiPolygon zones (two disjoint parts per zone)."""
    from sedona_spark.operators.spatial_join import pip_join_multi

    pts = points_from_events(spark, sf_dir)
    zones = multipolygon_zones_from_nation(spark, sf_dir)
    out = pip_join_multi(pts, zones, "covers", level=_LEVEL)
    return out.select("event_id", "n_nationkey")


def q_linestring_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineString × polygon INTERSECTS join (LineStringRDD fixture analog);
    oracle = exact segment-vs-AABB separating-axis test in SQL."""
    from sedona_spark.operators.spatial_join import linestring_polygon_join

    lines = segments_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.array("ring").alias("geom")
    )
    # level 5 for this fixture: line envelopes are ~3°×2°, so level 7
    # exploded every line to ~8 cover cells (5M rows) while the candidate
    # set stayed at 24k; the level sweep (7→4) was monotone in its favor
    # and the exact refine makes the output level-independent
    out = linestring_polygon_join(lines, zones, level=5)
    return out.select("event_id", "n_nationkey")


def q_pip_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeftOuter spatial join: every point, NULL→-1 zone when unmatched
    (BroadcastIndexJoinExec LeftOuter semantics)."""
    from sedona_spark.operators.spatial_join import pip_left_outer_join

    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    out = pip_left_outer_join(pts, zones, "covers", level=_LEVEL,
                              id_col="event_id")
    return out.select(
        "event_id",
        F.coalesce(F.col("n_nationkey").cast("long"), F.lit(-1)).alias(
            "n_nationkey"
        ),
    )


def q_pip_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RightOuter spatial join: every zone, -1 for point when unmatched."""
    from sedona_spark.operators.spatial_join import pip_right_outer_join

    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    out = pip_right_outer_join(pts, zones, "covers", level=_LEVEL,
                               id_col="event_id", zone_key="n_nationkey")
    return out.select(
        "n_nationkey",
        F.coalesce(F.col("event_id").cast("long"), F.lit(-1)).alias("event_id"),
    )


def q_predicate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full areal DE-9IM predicate family over pair fixtures that exercise
    every relation (equals/touch/overlap/within/disjoint/corner-touch) with
    EXACT shared-boundary arithmetic — mirrors Predicates.java:25-106."""
    from sedona_spark.functions.st import st_predicates_from_flags, st_relate_flags

    pairs = predicate_pairs_from_nation(spark, sf_dir)
    pf = pairs.withColumn("_f", st_relate_flags(F.col("ring_a"), F.col("ring_b")))
    preds = st_predicates_from_flags(F.col("_f"))
    return pf.select(
        "n_nationkey",
        preds["intersects"].alias("p_intersects"),
        preds["disjoint"].alias("p_disjoint"),
        preds["touches"].alias("p_touches"),
        preds["overlaps"].alias("p_overlaps"),
        preds["st_equals"].alias("p_equals"),
        preds["within"].alias("p_within"),
        preds["contains"].alias("p_contains"),
    )


def q_overlaps_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon×polygon join under the OVERLAPS predicate (one of the 28
    join-condition variants of SpatialJoinSuite.scala:42-75). Right side =
    zones half-shifted in x, so every zone overlaps its shifted twin
    (non-trivial result set by construction)."""
    from sedona_spark.operators.spatial_join import polygon_predicate_join

    a = rect_zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("ring").alias("l_ring")
    )
    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    shifted = F.array(cx, cy - hy, cx + F.lit(2.0) * hx, cy - hy,
                      cx + F.lit(2.0) * hx, cy + hy, cx, cy + hy)
    b = z.select(F.col("n_nationkey").alias("s_key"), shifted.alias("r_ring"))
    out = polygon_predicate_join(a, b, "overlaps", level=4,
                                 left_ring="l_ring", right_ring="r_ring")
    return out.select("n_nationkey", "s_key")


def q_count_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountByKey join (JoinQuery.java:116-134): per-zone match counts."""
    from sedona_spark.operators import join_count_by_key

    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    return join_count_by_key(pts, zones, "n_nationkey", level=_LEVEL)


def q_collect_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-flat GroupByKey join (JoinQuery.java:97-114): per-zone sorted
    match lists (as a string for engine-portable hashing)."""
    from sedona_spark.operators import join_collect_by_key

    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    out = join_collect_by_key(pts, zones, "n_nationkey", "event_id", level=_LEVEL)
    return out.select(
        "n_nationkey", F.concat_ws(",", F.col("matches")).alias("match_ids")
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_ZonalStats analog over points (integer sums: hash-stable)."""
    from sedona_spark.operators import zonal_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    pts = points_from_events(spark, sf_dir).join(ev, "event_id")
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    return zonal_stats(pts, zones, "n_nationkey", "user_id", level=_LEVEL)


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DBSCAN analog (DBSCAN.scala:60-68); cluster = min core id of the
    component (deterministic). Oracle: recursive-CTE transitive closure
    over the core-core eps-graph — full value parity, not rows-only."""
    from sedona_spark.operators import dbscan

    pts = points_from_events(spark, sf_dir)
    return dbscan(pts, eps=2.0, min_pts=3, id_col="event_id", level=7).select(
        "event_id", F.col("cluster").cast("long").alias("cluster")
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeftSemi spatial join (BroadcastIndexJoinExec.scala:155)."""
    from sedona_spark.operators.spatial_join import pip_semi_join

    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    return pip_semi_join(pts, zones, "covers", level=_LEVEL).select("event_id")


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeftAnti spatial join."""
    from sedona_spark.operators.spatial_join import pip_anti_join

    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    return pip_anti_join(pts, zones, "covers", level=_LEVEL).select("event_id")


def q_st_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Area / ST_Perimeter / ST_Centroid over zone rectangles — pure
    higher-order-function folds (Functions.java measure analogs). Exact
    IEEE arithmetic both sides (no trig)."""
    from sedona_spark.functions.st_measures import st_area, st_centroid, st_perimeter

    z = rect_zones_from_nation(spark, sf_dir)
    cx, cy = st_centroid(F.col("ring"))
    return z.select(
        "n_nationkey",
        st_area(F.col("ring")).alias("area"),
        st_perimeter(F.col("ring")).alias("perimeter"),
        cx.alias("cx"),
        cy.alias("cy"),
    )


def q_st_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accessor-function family (ST_NPoints/PointN/Start/End/IsClosed/
    Reverse/Azimuth…) over diamond rings — all pure Column array math."""
    from sedona_spark.functions import st_accessors as acc

    z = diamond_zones_from_nation(spark, sf_dir)
    ring = F.col("ring")
    sx, sy = acc.st_start_point(ring)
    ex, ey = acc.st_end_point(ring)
    p2x, p2y = acc.st_point_n(ring, 2)
    rev = acc.st_reverse(ring)
    rx1, ry1 = acc.st_point_n(rev, 1)
    return z.select(
        "n_nationkey",
        acc.st_npoints(ring).cast("long").alias("npoints"),
        sx.alias("startx"), sy.alias("starty"),
        ex.alias("endx"), ey.alias("endy"),
        p2x.alias("p2x"), p2y.alias("p2y"),
        acc.st_is_closed(ring).alias("is_closed"),
        rx1.alias("rev_x1"), ry1.alias("rev_y1"),
        F.round(acc.st_azimuth(sx, sy, p2x, p2y), 9).alias("azimuth"),
    )


def q_distance_sphere_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine top-20 (ST_DistanceSphere + TakeOrdered); meters rounded
    to 3 decimals — JVM libm vs DuckDB libm agree far beyond that."""
    from sedona_spark.functions.st_measures import st_distance_sphere

    pts = points_from_events(spark, sf_dir)
    d = st_distance_sphere(F.col("x"), F.col("y"), F.lit(12.5), F.lit(47.3))
    return (
        pts.withColumn("dist_m", F.round(d, 3))
        .orderBy(F.col("dist_m").asc(), F.col("event_id").asc())
        .limit(20)
        .select("event_id", "dist_m")
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency (token-counting at
    corpus scale: explode → count → top-k)."""
    from pyspark.sql import Window

    docs = _spread_docs(spark, sf_dir)
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank_n", F.row_number().over(w))
        .filter(F.col("rank_n") <= 100)
        .select("token", "n", "rank_n")
    )


# deterministic integer analysis attribute: makes every distributed moment
# (Σx, Σx², Σxᵢxⱼ, band sums) an EXACT int64 — order-free, so the float
# statistics derived from them are bit-identical across engines
_VAL = "(event_id * 2654435761) % 1000"


def q_hotspot_gstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord G* hotspots (GetisOrd.scala analog). Integer-exact moments
    → full value parity vs the closed-form DuckDB twin."""
    from sedona_spark.operators.hotspot import getis_ord_gstar

    pts = points_from_events(spark, sf_dir).withColumn("v", F.expr(_VAL))
    out = getis_ord_gstar(pts, radius=3.0, value_col="v",
                          id_col="event_id", level=None)
    return out.select(
        "event_id", "n_band", F.col("band_sum").cast("long").alias("band_sum"),
        "g_star",
    )


def q_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LocalOutlierFactor (LocalOutlierFactor.scala analog) — kNN-join
    composition. Sorted-fold float sums make the densities deterministic;
    the DuckDB twin folds the same sorted lists via list_reduce."""
    from sedona_spark.operators.outlier import local_outlier_factor

    pts = points_from_events(spark, sf_dir).withColumnRenamed("event_id", "point_id")
    return local_outlier_factor(pts, k=5, level=7)


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I (Moran.scala analog). The z-product sum is expanded
    into integer raw moments (see morans_i docstring) → full value parity."""
    from sedona_spark.operators.autocorrelation import morans_i

    pts = points_from_events(spark, sf_dir).withColumn("v", F.expr(_VAL))
    return morans_i(pts, radius=3.0, value_col="v", id_col="event_id", level=7)


def q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_events(spark, sf_dir)
    return (
        pts.withColumn("cell", cells.cell_id(F.col("x"), F.col("y"), 8))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_zonal_overlay_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted zonal overlay (ST_Intersection area per zone): each
    zone rect against every half-shifted zone rect — cell-join candidates,
    closed-form rect clip, per-zone aggregate."""
    from sedona_spark.operators.overlay import rect_overlay_area

    left = rect_zones_from_nation(spark, sf_dir).drop("ring")
    z = zones_from_nation(spark, sf_dir)
    right = z.select(
        F.col("zcx").alias("rxmin"),
        (F.col("zcy") - F.col("hy")).alias("rymin"),
        (F.col("zcx") + F.lit(2.0) * F.col("hx")).alias("rxmax"),
        (F.col("zcy") + F.col("hy")).alias("rymax"),
    )
    out = rect_overlay_area(left, right, "n_nationkey", level=4)
    return out.select("n_nationkey", "n_pieces", "overlay_area")


def q_union_aggr_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union_Aggr analog: exact union AREA of each group's rects
    (coordinate-compression sweep per group; DuckDB twin = window-function
    x-slab sweep — both sides round(6))."""
    from sedona_spark.operators.overlay import union_area_by_key

    z = rect_zones_from_nation(spark, sf_dir).drop("ring")
    rects = z.withColumn("grp", (F.col("n_nationkey") % 5).cast("long"))
    return union_area_by_key(rects, "grp")


def _planted_embeddings(spark: SparkSession, sf_dir: str):
    """Planted two-cluster embedding fixture shared by the ANN fast-path
    oracles (see q_ann_lsh_topk for the provable-no-loss construction):
    returns (fixture_df(vec_id, embedding), u). Deterministic in vec_id
    only, so the DuckDB analytic-cosine oracle ranks identically."""
    from sedona_spark.pipeline.ann import planted_lsh_axes

    u, wax = planted_lsh_axes()
    ids = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    i = F.col("vec_id")
    idx_a = F.expr("vec_id div 5") % 1000
    idx_b = (i * 7) % 1000
    theta = F.lit(0.2) * (F.lit(0.05) + F.lit(0.9) * idx_a / F.lit(1000.0))
    phi = F.lit(0.2) * (F.lit(0.05) + F.lit(0.9) * idx_b / F.lit(1000.0))
    in_a = (i % 5) == 0
    sig = F.when(idx_a % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    ct = F.when(in_a, F.cos(theta)).otherwise(-F.cos(phi))
    st_ = F.when(in_a, sig * F.sin(theta)).otherwise(-F.sin(phi))
    # two-stage construction with a checkpoint between: (a) keeps the
    # 64-element array codegen small (64 fused multiply-adds over two
    # resolved columns, not 64 inlined trig/when trees — the single-stage
    # form compiled ~30 s cold), and (b) materializes the vectors once so
    # neither the bucket fold nor the re-rank re-evaluates them
    base = ids.select("vec_id", ct.alias("_ct"), st_.alias("_st")).localCheckpoint(
        eager=False
    )
    vec = F.array(
        *[F.lit(float(u[j])) * F.col("_ct") + F.lit(float(wax[j])) * F.col("_st")
          for j in range(len(u))]
    )
    fix = base.withColumn("embedding", vec).drop("_ct", "_st").localCheckpoint(
        eager=False
    )
    return fix, u


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the 100 TB ANN path: sign-bucket
    partition pruning + brute-force within probed buckets) — now with a
    FULL value oracle (r5, closes VERDICT r4 #3) via a planted two-cluster
    fixture built from the table's vec_ids:

    * cluster A (id % 5 == 0): v = cos θᵢ·u + σᵢ sin θᵢ·w with θᵢ distinct
      in (0, 0.2] — ``planes@w ≈ 0`` and equal positive margins on u
      (``planted_lsh_axes``) put EVERY A member in the query bucket, so
      the bucketed search provably equals exact brute force;
    * cluster B (the rest): antipodal (cos ≈ −1) — wherever B lands, the
      exact within-bucket re-rank keeps it out of the top-k.

    The DuckDB twin ranks the same ids by the ANALYTIC cosine (±cos of the
    same closed-form angle; adjacent gaps ~1e-4 ≫ fp noise, so both
    engines produce the identical order). The query still runs the REAL
    code path: 8-plane sign-bucket fold, multi-probe filter, exact cosine
    re-rank (``pipeline/ann.py:72-94``)."""
    from pyspark.sql import Window

    from sedona_spark.pipeline.ann import lsh_bucketed_topk

    fix, u = _planted_embeddings(spark, sf_dir)
    out = lsh_bucketed_topk(fix, [float(v) for v in u], 10)
    w = F.row_number().over(
        Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    )
    return out.select("vec_id", w.alias("rank_n"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-kmeans approximate top-k (the faiss-IVF architecture: coarse
    k-means cells as the partition key, nprobe nearest cells searched
    exactly) — now with a FULL value oracle (r5) on the same planted
    two-cluster fixture as ann_lsh_topk: cluster A (the entire true
    top-k) is tight around the query direction, cluster B antipodal, so
    the seeded k-means centroids split along the A/B axis and the
    nprobe=6-of-16 probe covers every cell holding A members — verified
    deterministic-equal to exact at sf 0.001/0.01/0.1. The DuckDB twin
    ranks by the analytic cosine. The stored-index variant keeps its
    plan-asserted PartitionFilters pruning + recall pytest."""
    from pyspark.sql import Window

    from sedona_spark.pipeline.ann import ivf_topk

    fix, u = _planted_embeddings(spark, sf_dir)
    out = ivf_topk(fix, [float(v) for v in u], 10,
                   n_centroids=16, nprobe=6, iters=2)
    w = F.row_number().over(
        Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    )
    return out.select("vec_id", w.alias("rank_n"))


def q_st_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform 4326→3857 (spherical Mercator, pure Column math) with a
    round-trip residual check; round(6) absorbs cross-engine libm ulps."""
    from sedona_spark.functions.crs import (
        st_transform_from_mercator,
        st_transform_to_mercator,
    )

    z = zones_from_nation(spark, sf_dir)
    mx, my = st_transform_to_mercator(F.col("zcx"), F.col("zcy"))
    z2 = z.select("n_nationkey", "zcx", "zcy", mx.alias("mx"), my.alias("my"))
    lon2, lat2 = st_transform_from_mercator(F.col("mx"), F.col("my"))
    return z2.select(
        "n_nationkey",
        F.round("mx", 6).alias("mx"),
        F.round("my", 6).alias("my"),
        F.round(F.abs(lon2 - F.col("zcx")), 9).alias("lon_resid"),
    )


def q_geohash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_GeoHash (Functions.java:743): per-geohash-cell point counts —
    pure Column bit interleave + base32, full DuckDB value parity."""
    from sedona_spark.functions.geohash import st_geohash

    pts = points_from_events(spark, sf_dir)
    return (
        pts.withColumn("gh", st_geohash(F.col("x"), F.col("y"), 4))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_geohash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash + sorted 8-neighborhood per zone center (k-ring analog;
    antimeridian wrap + pole clamp)."""
    from sedona_spark.functions.geohash import st_geohash, st_geohash_neighbors

    z = zones_from_nation(spark, sf_dir)
    gh = st_geohash(F.col("zcx"), F.col("zcy"), 4)
    nb = st_geohash_neighbors(F.col("zcx"), F.col("zcy"), 4)
    return z.select(
        "n_nationkey", gh.alias("gh"), F.concat_ws(",", nb).alias("neighbors")
    )


def q_envelope_aggr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Envelope_Aggr analog (AggregateFunctions.scala:127): pure min/max."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "event_type")
    pts = points_from_events(spark, sf_dir).join(ev, "event_id")
    return pts.groupBy("event_type").agg(
        F.min("x").alias("xmin"),
        F.min("y").alias("ymin"),
        F.max("x").alias("xmax"),
        F.max("y").alias("ymax"),
        F.count(F.lit(1)).alias("n"),
    )


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    imgs = part.select(
        F.col("p_partkey").cast("long").alias("pk"),
        (F.lit(32) + (F.col("p_partkey") % 3) * 16).cast("int").alias("w"),
        (F.lit(32) + (F.col("p_partkey") % 5) * 16).cast("int").alias("h"),
        (((F.col("p_partkey") * 2654435761) % 1000 + 0.5) / 10.0).alias("lon"),
        (((F.col("p_partkey") * 2246822519) % 1000 + 0.5) / 10.0 - 90.0).alias("lat"),
    )
    out = tile_assign(imgs, 16, 16, level=10, span_lon=0.05, span_lat=0.05)
    return out.select(
        "pk",
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        "tile_cell",
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", *quality_stats(F.col("text")))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", language_id(F.col("text")))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", doc_fingerprint(F.col("text")))


def q_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard of id-adjacent doc pairs (exact n-gram similarity
    primitive; LSH supplies candidates at scale)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = docs.select("doc_id", word_ngrams(F.col("text"), 1).alias("grams"))
    a = g.withColumnsRenamed({"doc_id": "id_a", "grams": "g_a"})
    b = g.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b"),
                 F.col("grams").alias("g_b"))
    j = a.join(b, "id_a")
    return j.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("g_a", "g_b")).cast("long").alias("inter_size"),
        F.size(F.array_union("g_a", "g_b")).cast("long").alias("union_size"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF (r6): top-3 terms per document by smoothed TF-IDF
    with total-order tie-breaks — two map-side-combined shuffles (doc
    counts, vocabulary doc-frequency) + a per-doc window; the oracle
    recomputes the identical pipeline in DuckDB SQL."""
    from sedona_spark.pipeline.text import tfidf_top_terms

    docs = _spread_docs(spark, sf_dir)
    return tfidf_top_terms(docs, k=3)


def _tfidf_top_terms_sql() -> str:
    return """
with terms as (
  select doc_id, t as term
  from (select doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) as t
        from documents)
  where t <> ''
),
tf as (select doc_id, term, count(*) as tf from terms group by 1, 2),
dlen as (select doc_id, sum(tf) as dlen from tf group by 1),
dfreq as (select term, count(*) as df from tf group by 1),
n as (select count(*) as n_docs from documents),
scored as (
  select tf.doc_id, tf.term, tf.tf, dfreq.df,
         (tf.tf / dlen.dlen)
           * (ln((n.n_docs + 1e0) / (dfreq.df + 1e0)) + 1e0) as score
  from tf join dlen using (doc_id) join dfreq using (term) cross join n
),
ranked as (
  select doc_id, term, tf, df, score,
         row_number() over (partition by doc_id
                            order by score desc, term asc) as rank
  from scored
)
select doc_id, cast(rank as int) as rank, term,
       cast(tf as bigint) as tf, cast(df as bigint) as df,
       floor(score * 1e6 + 5e-1) / 1e6 as score6
from ranked where rank <= 3
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (r6 — domain/quota mixing for
    training-data curation; the engine-side analog of the reference's
    partitioner-internal samplers, ``RDDSampleUtils.java``): per-lang
    keep-fractions applied as a pure hash filter on doc_id — zero
    shuffle, pushdown-composable, rerun-stable. Returns per-lang kept
    counts + id checksums so the oracle verifies the exact SELECTION,
    not just its size."""
    from sedona_spark.pipeline.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = stratified_sample(
        docs, "lang", {"en": 0.5, "de": 1.0, "zh": 0.25},
        id_col="doc_id", default_fraction=0.1, salt=17,
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.min("doc_id").cast("long").alias("id_min"),
    )


def _stratified_sample_sql() -> str:
    from sedona_spark.pipeline.sampling import _MOD, sql_hash_bucket

    b = sql_hash_bucket("doc_id", 17)
    thr = (f"(case when lang = 'de' then {int(1.0 * _MOD)} "
           f"when lang = 'en' then {int(0.5 * _MOD)} "
           f"when lang = 'zh' then {int(0.25 * _MOD)} "
           f"else {int(0.1 * _MOD)} end)")
    return f"""
select lang,
       cast(count(*) as bigint) as n_kept,
       cast(sum(doc_id) as bigint) as id_sum,
       cast(min(doc_id) as bigint) as id_min
from documents
where {b} < {thr}
group by lang
"""


def q_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-per-key sampling (r6): exactly min(k, n) events per
    event_type, drawn without replacement by ranking on the id hash
    (total order via the id tiebreak). One shuffle on the key; the
    SELECTED ids come back verbatim so the oracle pins the exact rows."""
    from sedona_spark.pipeline.sampling import sample_per_key

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sample_per_key(
        ev, "event_type", 7, id_col="event_id", salt=3,
    ).select("event_type", F.col("event_id").cast("long").alias("event_id"))


def _sample_per_key_sql() -> str:
    from sedona_spark.pipeline.sampling import sql_hash_bucket

    b = sql_hash_bucket("event_id", 3)
    return f"""
select event_type, cast(event_id as bigint) as event_id
from (select event_type, event_id,
             row_number() over (partition by event_type
                                order by {b}, event_id) as rk
      from events)
where rk <= 7
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (r5): sliding 32-token windows with 8-token
    overlap over every document — the pack-into-context step of a
    training-data pipeline, pure Column (split → sequence → slice →
    concat), zero shuffle. The DuckDB twin mirrors the windowing with
    list_slice arithmetic."""
    from sedona_spark.pipeline.text import chunk_tokens

    docs = _spread_docs(spark, sf_dir)
    out = chunk_tokens(docs, max_tokens=32, overlap=8)
    return out.select(
        "id", "chunk_id", "n_tokens", F.md5(F.col("chunk_text")).alias("chunk_md5")
    )


def _chunk_documents_sql() -> str:
    step, maxt = 24, 32
    return f"""
with d as (select doc_id,
                  list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '') as toks
           from documents),
s as (select doc_id, toks, len(toks) as n from d),
c as (select doc_id, toks, n,
             unnest(range(0, greatest((n - 1) // {step}, 0) + 1)) as cid
      from s)
select doc_id as id,
       cid as chunk_id,
       len(list_slice(toks, cid * {step} + 1,
                      least(cid * {step} + {maxt}, n))) as n_tokens,
       md5(array_to_string(list_slice(toks, cid * {step} + 1,
                                      least(cid * {step} + {maxt}, n)), ' '))
           as chunk_md5
from c
where cid * {step} < n or cid = 0
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING (r5): connected components over a pair graph +
    representative selection — the stage that turns pairwise dup evidence
    into "keep one per cluster". Runs the REAL pointer-jumping operator
    (``dedup.connected_components``: min-label offers with a hook, then
    label-of-label jumps each round, checkpoint per round) on a planted
    graph over the documents ids whose components have a CLOSED FORM the
    DuckDB oracle computes directly:

    * chain edges (i, i+1) for i % 10 != 9 → blocks of 10;
    * bridge edges (i, i+10) for i % 50 == 5 → merges block pairs
      (5k, 5k+1) into 20-doc components.

    Component of doc i: b = i div 10; min-id = (b − (b mod 5 == 1)) · 10.
    The 10-long chains + bridges exercise multi-round convergence and the
    pointer jump; isolated handling is exercised by docs past the last
    edge."""
    from sedona_spark.pipeline.dedup import dedup_representatives

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n = ids.agg(F.max("doc_id")).collect()[0][0]  # scalar bound, not data
    chain = ids.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < n)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    bridge = ids.filter(
        (F.col("doc_id") % 50 == 5) & (F.col("doc_id") + 10 <= n)
    ).select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 10).alias("id_b"))
    pairs = chain.unionByName(bridge)
    out = dedup_representatives(docs, pairs)
    return out.select(
        F.col("id").alias("doc_id"), "component", "keep"
    )


def _dedup_components_sql() -> str:
    return """
with d as (select doc_id, doc_id // 10 as b from documents),
c as (select doc_id,
             (b - case when b % 5 = 1 then 1 else 0 end) * 10 as component
      from d)
select doc_id, component, doc_id = component as keep from c
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    out = cosine_topk_bruteforce(emb, [float(v) for v in qvec], 10)
    w = F.row_number().over(
        Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    )
    return out.select("vec_id", w.alias("rank_n"))


def q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dup_pairs(emb, threshold=0.5, block_col="label")
    return out.select("id_a", "id_b")


def _spread_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet is a single small file at test SFs → one input
    split → zero parallelism for the CPU-heavy shingling/hashing (work per
    byte is ~1000× a normal scan). Spread it across the cluster first; at
    real scale the reader already yields thousands of splits and callers
    use the table as-is."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast path (xxhash64 sigs/banding) — rows-only; the portable twin
    below oracle-checks the identical banding/verify pipeline."""
    return minhash_dedup_pairs(
        _spread_docs(spark, sf_dir), threshold=0.5, num_hashes=32, bands=8
    )


def q_minhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with md5 hashing end-to-end — bit-reproducible in DuckDB,
    so LSH banding + exact-Jaccard verify get a full value-parity oracle."""
    return minhash_dedup_pairs(_spread_docs(spark, sf_dir), threshold=0.5,
                               num_hashes=16, bands=4, portable=True)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast path (vectorized pandas siphash) — rows-only; portable twin
    below is oracle-checked."""
    return simhash_near_dup_pairs(_spread_docs(spark, sf_dir), max_hamming=3)


def q_simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Column SimHash (md5 token hashes, integer bit votes) with
    4×15-bit pigeonhole blocking — fully mirrored in DuckDB."""
    from sedona_spark.pipeline.dedup import simhash_near_dup_pairs_portable

    return simhash_near_dup_pairs_portable(_spread_docs(spark, sf_dir), max_hamming=3)


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dedup by 64-bit hash hamming distance (r4): the generic
    pigeonhole band machinery (``hamming_near_dup_pairs``) that serves
    the input contract's ``phash:int64`` column, driven here by an
    engine-portable 60-bit md5 hash (bits of md5(doc_id // 4)) with the
    two low bits perturbed by ``doc_id % 4`` — planting groups of 4 ids
    whose pairwise hamming ≤ 2, all recovered exactly (6 pairs/group,
    pigeonhole-complete at max_hamming=5 ⇒ 6 bands of 10 bits). The
    phash-column path itself is gated by the planted-perturbation pytest
    (brute-force equality)."""
    from sedona_spark.pipeline.dedup import hamming_near_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    base = F.conv(
        F.substring(
            F.md5((F.col("doc_id") / 4).cast("long").cast("string").cast("binary")),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    h = base.bitwiseXOR(F.col("doc_id") % 4)
    df = docs.select("doc_id", h.alias("h64"))
    return hamming_near_dup_pairs(
        df, "h64", "doc_id", max_hamming=5, n_bits=60
    )


def _phash_dedup_sql() -> str:
    return """
with d as (
  select doc_id,
         xor(('0x' || substr(md5(cast(cast(doc_id // 4 as bigint) as varchar)), 1, 15))::bigint,
             doc_id % 4) as h64
  from documents),
chunks as (
  select doc_id, h64, c.v as band, (h64 >> (10 * c.v)) & 1023 as bv
  from d, (select unnest(range(0, 6)) as v) c),
pairs as (
  select distinct a.doc_id as id_a, b.doc_id as id_b,
         cast(bit_count(xor(a.h64, b.h64)) as bigint) as hamming
  from chunks a join chunks b using (band, bv)
  where a.doc_id < b.doc_id)
select id_a, id_b, hamming from pairs where hamming <= 5
"""


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + stats. mean_lum = exact-int pixel sum / size → the DuckDB
    twin regenerates every pixel of the deterministic codec and matches
    bit-for-bit (full decode-correctness oracle, not just dims)."""
    imgs = images_from_part(spark, sf_dir, columns=("image_id", "bytes"))
    return rs_decode_stats(imgs)


def q_rs_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_Value: pixel lookups at deterministic coordinates — the DuckDB
    twin regenerates the exact decoded value (incl. lossy quantization)."""
    from sedona_spark.functions.raster import rs_value

    imgs = images_from_part(spark, sf_dir, columns=("image_id", "bytes"))
    i = F.substring("image_id", 5, 12).cast("long")  # img_%012d → key
    px = i % 32  # deterministic in-bounds coords (min w=32, min h=32)
    py = i % 31
    band = i % 3
    return imgs.select(
        "image_id",
        px.cast("long").alias("px"),
        py.cast("long").alias("py"),
        band.cast("long").alias("band"),
        rs_value(F.col("bytes"), px, py, band).cast("long").alias("val"),
    )


def q_rs_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_Clip: window crop metadata + exact pixel sum (clip bytes
    round-trip is pytest-gated; the sum is the value oracle)."""
    from sedona_spark.functions.raster import rs_clip

    imgs = images_from_part(spark, sf_dir, columns=("image_id", "bytes"))
    out = rs_clip(imgs, 4, 4, 16, 16)
    return out.select(
        "image_id",
        F.col("clip_w").cast("long").alias("clip_w"),
        F.col("clip_h").cast("long").alias("clip_h"),
        "clip_sum",
    )


def q_rs_map_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_MapAlgebra (clamp2x = min(2v, 255)): per-raster output stats,
    exact-integer oracle over regenerated pixels."""
    from sedona_spark.functions.raster import rs_map_algebra

    imgs = images_from_part(spark, sf_dir, columns=("image_id", "bytes"))
    out = rs_map_algebra(imgs, "clamp2x", keep_bytes=False)
    return out.select(
        "image_id", "out_sum",
        F.col("out_min").cast("long").alias("out_min"),
        F.col("out_max").cast("long").alias("out_max"),
    )


def q_rs_band_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS band math (r4): RS_NormalizedDifference (exact integer
    numerator/denominator + one IEEE division), RS_Count (pixels equal to
    a value) and RS_SetValues (burn a window, re-encode, new band sum) —
    all integer-exact so the oracle regenerates every pixel closed-form.
    Reference: RasterBandAccessors / RasterEditors map-algebra family."""
    from sedona_spark.functions.raster import (
        rs_count_value,
        rs_normalized_difference,
        rs_set_values,
    )
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=50,
                            columns=("image_id", "bytes"))
    nd = rs_normalized_difference(imgs, 0, 1)
    cnt = rs_count_value(imgs, 130, band=0)
    st = rs_set_values(imgs, 200, 2, 1, 8, 6, band=0, keep_bytes=False)
    return nd.join(cnt, "image_id").join(st, "image_id")


def _rs_band_math_sql() -> str:
    pix = ("((i * 31 + x.v * 3 + y.v * 5 + {c} * 7) % 251"
           " + (x.v * y.v * (i % 13 + 1)) % 67) % 256")
    d0 = _DECODED.format(v=f"({pix.format(c='0')})")
    d1 = _DECODED.format(v=f"({pix.format(c='1')})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 50 = 0),
pix as (
  select i, x.v as x, y.v as y, {d0} as dv0, {d1} as dv1
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y)
select printf('img_%012d', i) as image_id,
       cast(sum(dv0 - dv1) as bigint) as nd_num,
       cast(sum(dv0 + dv1) as bigint) as nd_den,
       round(cast(sum(dv0 - dv1) as double) / cast(sum(dv0 + dv1) as bigint), 6) as nd,
       cast(sum(case when dv0 = 130 then 1 else 0 end) as bigint) as n_eq,
       cast(sum(dv0)
            - sum(case when x >= 2 and x < 10 and y >= 1 and y < 7
                  then dv0 else 0 end)
            + 200 * 48 as bigint) as set_sum
from pix group by i
"""


# --- image training-tensor tier (r6: pipeline/images.py) -----------------


def q_image_tensorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → 32×32 nearest-neighbor resize → ImageNet normalize →
    CHW float32 tensor (torchvision Resize+ToTensor+Normalize as one
    Arrow pass). Oracle regenerates the SAMPLED pixels via the exact
    integer index map ``(d·src)//32`` and mirrors the two IEEE ops that
    derive the normalized channel means."""
    from sedona_spark.pipeline.images import tensorize

    imgs = images_from_part(spark, sf_dir, id_mod=10,
                            columns=("image_id", "bytes"))
    return tensorize(imgs, size=32, keep_tensor=False)


def _image_tensorize_sql() -> str:
    from sedona_spark.pipeline.images import IMAGENET_MEAN, IMAGENET_STD

    pix = _PIX.format(x="sx", y="sy")
    dec = _DECODED.format(v=f"({pix})")
    norm = ",\n       ".join(
        f"(cast(c{c}_sum as double) / 261120e0 - {IMAGENET_MEAN[c]!r})"
        f" / {IMAGENET_STD[c]!r} as norm_mean_{c}"
        for c in range(3)
    )
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 10 = 0),
coords as (
  select i, fmt, (dx.v * w) // 32 as sx, (dy.v * h) // 32 as sy
  from sel,
       lateral (select unnest(range(0, 32)) as v) dx,
       lateral (select unnest(range(0, 32)) as v) dy),
dec as (
  select i, c.v as ch, {dec} as dv
  from coords, (select unnest(range(0, 3)) as v) c),
wide as (
  select i,
         cast(sum(case when ch = 0 then dv end) as bigint) as c0_sum,
         cast(sum(case when ch = 1 then dv end) as bigint) as c1_sum,
         cast(sum(case when ch = 2 then dv end) as bigint) as c2_sum
  from dec group by i)
select printf('img_%012d', i) as image_id, c0_sum, c1_sum, c2_sum,
       {norm}
from wide
"""


def q_aspect_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing + deterministic batch assembly (the
    bucketed-batch manifest SDXL-style trainers shard by)."""
    from sedona_spark.pipeline.images import aspect_buckets

    imgs = images_from_part(spark, sf_dir, columns=("image_id", "w", "h"))
    return aspect_buckets(imgs, batch_size=8)


def _aspect_bucket_batches_sql() -> str:
    return f"""
with img as ({_img_meta_sql()}),
b as (select printf('img_%012d', i) as image_id,
             (w * 1000) // h as bucket_id from img),
r as (select *, row_number() over (
        partition by bucket_id order by image_id) as rn from b)
select bucket_id, (rn - 1) // 8 as batch_id,
       count(*) as n_images,
       min(image_id) as first_id, max(image_id) as last_id
from r group by bucket_id, (rn - 1) // 8
"""


def q_image_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style 16×16 patch grid with exact per-patch pixel sums
    (fixture sizes 32/64/48/96 are all multiples of 16)."""
    from sedona_spark.pipeline.images import patchify_sums

    imgs = images_from_part(spark, sf_dir, id_mod=20,
                            columns=("image_id", "bytes"))
    return patchify_sums(imgs, patch=16)


def _image_patchify_sql() -> str:
    pix = _PIX.format(x="x.v", y="y.v")
    dec = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 20 = 0),
dec as (
  select i, x.v // 16 as px, y.v // 16 as py, {dec} as dv
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       (select unnest(range(0, 3)) as v) c)
select printf('img_%012d', i) as image_id, px, py,
       cast(sum(dv) as bigint) as patch_sum
from dec group by i, px, py
"""


def q_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset per-channel mean/variance — the normalization constants a
    training run pins first. Exact int64 sum/sumsq; the two derived
    doubles mirror the oracle's IEEE op order."""
    from sedona_spark.pipeline.images import channel_stats

    imgs = images_from_part(spark, sf_dir, id_mod=4, columns=("bytes",))
    return channel_stats(imgs)


def _image_channel_stats_sql() -> str:
    pix = _PIX.format(x="x.v", y="y.v")
    dec = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 4 = 0),
dec as (
  select c.v as channel, {dec} as dv
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       (select unnest(range(0, 3)) as v) c),
agg as (
  select channel, cast(count(*) as bigint) as n_px,
         cast(sum(dv) as bigint) as px_sum,
         cast(sum(dv * dv) as bigint) as px_sumsq
  from dec group by channel)
select channel, n_px, px_sum, px_sumsq,
       cast(px_sum as double) / cast(n_px as double) as mean_val,
       cast(px_sumsq as double) / cast(n_px as double)
         - (cast(px_sum as double) / cast(n_px as double))
         * (cast(px_sum as double) / cast(n_px as double)) as var_val
from agg
"""


def q_image_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact area downsample (16×16 average pooling, ``block_sum //
    256``): bit-reproducible thumbnails. The oracle regenerates every
    source pixel, pools with the same integer floor division, and pins
    each pooled pixel to its location via the position-weighted
    checksum."""
    from sedona_spark.pipeline.images import downsample_stats

    imgs = images_from_part(spark, sf_dir, id_mod=8,
                            columns=("image_id", "bytes"))
    return downsample_stats(imgs, factor=16)


def _image_downsample_sql() -> str:
    pix = _PIX.format(x="x.v", y="y.v")
    dec = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 8 = 0),
dec as (
  select i, w, h, x.v // 16 as bx, y.v // 16 as by, c.v as ch,
         {dec} as dv
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       (select unnest(range(0, 3)) as v) c),
pool as (
  select i, w // 16 as ow, h // 16 as oh, bx, by, ch,
         sum(dv) // 256 as pv
  from dec group by i, w, h, bx, by, ch)
select printf('img_%012d', i) as image_id,
       cast(ow as bigint) as out_w, cast(oh as bigint) as out_h,
       cast(sum(case when ch = 0 then pv else 0 end) as bigint) as d0_sum,
       cast(sum(case when ch = 1 then pv else 0 end) as bigint) as d1_sum,
       cast(sum(case when ch = 2 then pv else 0 end) as bigint) as d2_sum,
       cast(sum(pv * (1 + bx + by * ow + ch * ow * oh)) as bigint) as wsum
from pool group by i, ow, oh
"""


def q_image_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic center-crop 32×32 + horizontal flip (the seeded
    torchvision augmentation stack). The position-weighted checksum is
    computed over POST-transform coordinates, so the oracle proves the
    crop window and the flip, not just the pixel multiset."""
    from sedona_spark.pipeline.images import augment_stats

    imgs = images_from_part(spark, sf_dir, id_mod=8,
                            columns=("image_id", "bytes"))
    return augment_stats(imgs, crop=32, flip=True)


def _image_augment_sql() -> str:
    # post-transform (x, y) reads source (x0 + 31 - x, y0 + y)
    sx = "((w - 32) // 2 + 31 - x.v)"
    sy = "((h - 32) // 2 + y.v)"
    pix = _PIX.format(x=sx, y=sy)
    dec = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 8 = 0),
dec as (
  select i, w, h, x.v as x, y.v as y, c.v as ch, {dec} as dv
  from sel,
       lateral (select unnest(range(0, 32)) as v) x,
       lateral (select unnest(range(0, 32)) as v) y,
       (select unnest(range(0, 3)) as v) c)
select printf('img_%012d', i) as image_id,
       cast((w - 32) // 2 as bigint) as x0,
       cast((h - 32) // 2 as bigint) as y0,
       cast(sum(case when ch = 0 then dv else 0 end) as bigint) as a0_sum,
       cast(sum(case when ch = 1 then dv else 0 end) as bigint) as a1_sum,
       cast(sum(case when ch = 2 then dv else 0 end) as bigint) as a2_sum,
       cast(sum(dv * (1 + x + y * 32 + ch * 1024)) as bigint) as wsum
from dec group by i, w, h
"""


def q_image_text_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style caption↔image alignment score: Arrow-batched decode
    tower (8 exact int64 pixel moments) × pure-Column text tower (last-4
    caption words → vocabulary indices → deterministic embedding), fused
    dot/norms exact in int64, ONE mirrored IEEE division for the cosine."""
    from sedona_spark.pipeline.images import image_text_align

    imgs = images_from_part(spark, sf_dir, id_mod=8,
                            columns=("image_id", "bytes", "caption"))
    return image_text_align(imgs)


def _image_text_align_sql() -> str:
    pix = _PIX.format(x="x.v", y="y.v")
    dec = _DECODED.format(v=f"({pix})")
    # te_d = sum_j (((w_j + 1) * (2d+3)) % 97 - 48), w_j = (i*7 + j*13) % 20
    te = [
        " + ".join(
            f"((((i * 7 + {j} * 13) % 20 + 1) * {2 * d + 3}) % 97 - 48)"
            for j in range(4)
        )
        for d in range(8)
    ]
    te_cols = ",\n       ".join(
        f"cast({expr} as bigint) as te{d}" for d, expr in enumerate(te))
    dot = " + ".join(f"ie{d} * te{d}" for d in range(8))
    ii = " + ".join(f"ie{d} * ie{d}" for d in range(8))
    tt = " + ".join(f"te{d} * te{d}" for d in range(8))
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 8 = 0),
dec as (
  select i, x.v as x, y.v as y, c.v as ch, {dec} as dv
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       (select unnest(range(0, 3)) as v) c),
mom as (
  select i, ch, cast(sum(dv) as bigint) as s,
         cast(sum(dv * x) as bigint) as mx,
         cast(sum(dv * y) as bigint) as my
  from dec group by i, ch),
iev as (
  select i,
         sum(case when ch = 0 then s else 0 end) as ie0,
         sum(case when ch = 1 then s else 0 end) as ie1,
         sum(case when ch = 2 then s else 0 end) as ie2,
         sum(case when ch = 0 then mx else 0 end) as ie3,
         sum(case when ch = 1 then mx else 0 end) as ie4,
         sum(case when ch = 2 then mx else 0 end) as ie5,
         sum(case when ch = 0 then my else 0 end) as ie6,
         sum(case when ch = 1 then my else 0 end) as ie7
  from mom group by i),
tev as (
  select i,
       {te_cols}
  from sel),
sc as (
  select iev.i as i,
         cast({dot} as bigint) as dot_it,
         cast({ii} as bigint) as ii,
         cast({tt} as bigint) as tt
  from iev join tev on iev.i = tev.i)
select printf('img_%012d', i) as image_id, dot_it,
       floor(cast(dot_it as double)
             / sqrt(cast(ii as double) * cast(tt as double))
             * 1e6 + 5e-1) / 1e6 as align_score
from sc
"""


def q_exif_geotags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF GPS geotag + ImageDescription extraction from real JFIF bytes
    (APP1 marker scan → TIFF IFD walk → GPS sub-IFD rationals), then cell
    assignment on the decoded coordinates — the north-rule "geotagged
    image+caption" row decoded from the image bytes alone. One
    Arrow-batched pass, no shuffle; at 100 TB the extraction pipelines
    with the scan and the cell id is the join/partition key downstream
    (same posture as tile_assign). The geotag is stored as a degree-only
    rational (abs_e7 / 1e7) so the oracle mirrors the decode exactly:
    one int→double cast + one IEEE division per axis."""
    from sedona_spark.cells import cell_id
    from sedona_spark.sources.exif import exif_jpegs_from_part, with_exif

    imgs = exif_jpegs_from_part(spark, sf_dir, id_mod=16)
    out = with_exif(imgs)
    return out.select(
        "image_id",
        "exif_lat",
        "exif_lon",
        "description",
        cell_id(F.col("exif_lon"), F.col("exif_lat"), 6).alias("cell"),
    )


def _exif_geotags_sql() -> str:
    from sedona_spark.cells import sql_cell_id
    from sedona_spark.sources.images import _WORDS

    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    cap = ("'caption of image ' || i || ': ' || "
           + " || ' ' || ".join(
               f"list_extract({words}, (i * 7 + {j} * 13) % 20 + 1)"
               for j in range(4)))
    # geotag_e7 closed form; decode = cast + ONE division per axis
    # ((-a)/b == -(a/b) exactly in IEEE, so the sign rides the integer)
    return f"""
with img as (
  select cast(p_partkey as bigint) as i from part
  where p_partkey % 16 = 0),
e as (
  select i,
         ((i * 2654435761) % 1000) * 2000000 + 1000000
           - 1000000000 as lon_e7,
         ((i * 2246822519) % 1000) * 1000000 + 500000
           - 500000000 as lat_e7
  from img),
d as (
  select i,
         cast(lat_e7 as double) / 10000000e0 as exif_lat,
         cast(lon_e7 as double) / 10000000e0 as exif_lon
  from e)
select printf('img_%012d', i) as image_id, exif_lat, exif_lon,
       {cap} as description,
       {sql_cell_id('exif_lon', 'exif_lat', 6)} as cell
from d
"""


def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image quality signals for curation filters — variance-of-Laplacian
    sharpness, exposure, 0/255 clipping — as exact int64 sums so the
    DuckDB twin regenerates every decoded pixel (incl. the fjpg 6-bit
    quantizer) and matches bit-for-bit. One Arrow-batched pass, no
    shuffle; at 100 TB the signals feed Column threshold filters."""
    from sedona_spark.pipeline.quality import image_quality_stats

    imgs = images_from_part(spark, sf_dir, id_mod=24,
                            columns=("image_id", "bytes"))
    return image_quality_stats(imgs)


def _image_quality_sql() -> str:
    pix0 = "((i * 31 + {x} * 3 + {y} * 5) % 251 + ({x} * {y} * (i % 13 + 1)) % 67) % 256"
    dq = "case when fmt = 'fjpg' then ({v} // 4) * 4 + 2 else {v} end"

    def d(x: str, y: str) -> str:
        return dq.format(v=f"({pix0.format(x=x, y=y)})")

    lap = (f"4 * {d('x.v', 'y.v')} - {d('(x.v - 1)', 'y.v')}"
           f" - {d('(x.v + 1)', 'y.v')} - {d('x.v', '(y.v - 1)')}"
           f" - {d('x.v', '(y.v + 1)')}")
    pix_all = ("((i * 31 + x.v * 3 + y.v * 5 + c.v * 7) % 251"
               " + (x.v * y.v * (i % 13 + 1)) % 67) % 256")
    dv_all = dq.format(v=f"({pix_all})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 24 = 0),
lum as (
  select i, cast(sum({d('x.v', 'y.v')}) as bigint) as sum_lum
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y
  group by i),
lap as (
  select i,
         cast(sum({lap}) as bigint) as lap_sum,
         cast(sum(({lap}) * ({lap})) as bigint) as lap_sumsq
  from sel,
       lateral (select unnest(range(1, cast(w as bigint) - 1)) as v) x,
       lateral (select unnest(range(1, cast(h as bigint) - 1)) as v) y
  group by i),
clip as (
  select i,
         cast(sum(case when {dv_all} = 0 then 1 else 0 end) as bigint)
           as n_clip_lo,
         cast(sum(case when {dv_all} = 255 then 1 else 0 end) as bigint)
           as n_clip_hi
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       lateral (select unnest(range(0, 3)) as v) c
  group by i)
select printf('img_%012d', sel.i) as image_id,
       cast(w * h as bigint) as n_px,
       sum_lum, lap_sum, lap_sumsq, n_clip_lo, n_clip_hi
from sel
join lum on lum.i = sel.i
join lap on lap.i = sel.i
join clip on clip.i = sel.i
"""


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF LZW decode correctness oracle: deterministic palette GIFs
    (closed-form index plane + closed-form 256-color palette) decode
    through the stdlib LZW codec; exact per-channel pixel sums certify
    the bitstream walk, table growth/CLEAR handling, and palette
    mapping on both engines."""
    from sedona_spark.sources.gif import gifs_from_part

    imgs = gifs_from_part(spark, sf_dir, id_mod=16)

    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("image_id", StringType()),
        StructField("w", LongType()),
        StructField("h", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ])

    def run(batches):
        from sedona_spark.sources.gif import decode_gif

        for b in batches:
            recs = []
            for iid, buf in zip(b["image_id"], b["bytes"]):
                a = decode_gif(bytes(buf)).astype("int64")
                recs.append((iid, a.shape[1], a.shape[0],
                             int(a[:, :, 0].sum()), int(a[:, :, 1].sum()),
                             int(a[:, :, 2].sum())))
            yield pd.DataFrame(
                recs, columns=["image_id", "w", "h",
                               "sum_r", "sum_g", "sum_b"])

    return imgs.mapInPandas(run, schema=schema)


def _gif_decode_sql() -> str:
    j = "((i * 7 + x.v * 3 + y.v * 11) % 256)"
    return f"""
with img as (
  select cast(p_partkey as bigint) as i from part
  where p_partkey % 16 = 0),
pix as (
  select i, {j} as j
  from img,
       lateral (select unnest(range(0, 24)) as v) x,
       lateral (select unnest(range(0, 18)) as v) y)
select printf('img_%012d', i) as image_id,
       cast(24 as bigint) as w, cast(18 as bigint) as h,
       cast(sum((j * 31 + 5) % 256) as bigint) as sum_r,
       cast(sum((j * 59 + 7) % 256) as bigint) as sum_g,
       cast(sum((j * 83 + 11) % 256) as bigint) as sum_b
from pix group by i
"""


def q_image_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image integrity triage (ingest-time corruption taxonomy): a
    structural container walk — JPEG marker chain / PNG chunk CRCs, no
    entropy decode — classifies each payload ok/truncated/bad_marker/
    not_image in one Arrow-batched narrow pass. The fixture damages real
    JPEG bytes closed-form by id (pipeline/integrity.py corrupt_by_id),
    so the oracle needs only ``i % 5``."""
    from sedona_spark.pipeline.integrity import (corrupt_jpegs_from_part,
                                                 with_validity)

    imgs = corrupt_jpegs_from_part(spark, sf_dir, id_mod=16)
    return with_validity(imgs).select("image_id", "status")


def _image_validate_sql() -> str:
    return """
select printf('img_%012d', i) as image_id,
       case cast(i % 5 as int)
         when 1 then 'not_image'
         when 3 then 'truncated'
         when 4 then 'bad_marker'
         else 'ok' end as status
from (select cast(p_partkey as bigint) as i from part
      where p_partkey % 16 = 0)
"""


# ---------------------------------------------------------------------------
# Iceberg-lite table format (icetable.py): the north-rule "Iceberg table of
# geotagged image rows" — snapshots, time travel, incremental scan, pruning.
# Fixture: pure-Column image-metadata rows keyed off `part` (same gx/gy
# lattice as sources/images.py), two append snapshots split by id parity.
# ---------------------------------------------------------------------------

_ICE_CACHE: dict[str, str] = {}

_ICE_META_SQL = """
with img as (
  select cast(p_partkey as bigint) as i from part),
g as (
  select i,
         (i * 2654435761) % 1000 as gx,
         (i * 2246822519) % 1000 as gy
  from img)
select i,
       (gx // 250) * 4 + (gy // 250) as cell,
       (gx + 5e-1) / 10e0 as lon,
       (gy + 5e-1) / 10e0 as lat,
       cast(list_extract([32, 64, 48], cast(i % 3 as int) + 1) as bigint) as w
from g
"""


def _ice_meta_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geotagged image-metadata rows (image lattice of sources/images.py)
    as pure Column math — the north-rule table shape minus the payload
    bytes, which the format layer treats as opaque anyway."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    i = F.col("p_partkey").cast("long")
    g = part.select(
        i.alias("i"),
        ((i * F.lit(2654435761)) % 1000).alias("gx"),
        ((i * F.lit(2246822519)) % 1000).alias("gy"))
    return g.select(
        "i",
        (F.expr("gx div 250") * 4 + F.expr("gy div 250")).alias("cell"),
        ((F.col("gx").cast("double") + F.lit(0.5)) / F.lit(10.0)).alias("lon"),
        ((F.col("gy").cast("double") + F.lit(0.5)) / F.lit(10.0)).alias("lat"),
        F.element_at(F.array(F.lit(32), F.lit(64), F.lit(48)),
                     (F.col("i") % 3 + 1).cast("int")).cast("long").alias("w"))


def _ice_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) a two-snapshot icetable:
    snapshot 1 = even ids, snapshot 2 = odd ids, partitioned by cell.
    Deterministic path, wiped before rebuild, so repeated runs never
    accumulate state."""
    import shutil

    from sedona_spark import icetable as it

    key = sf_dir.rstrip("/")
    if key in _ICE_CACHE:
        return _ICE_CACHE[key]
    path = os.path.join(
        "/tmp", "sedona_spark_ice", os.path.basename(key) or "sf")
    if os.path.exists(path):
        shutil.rmtree(path)
    rows = _ice_meta_rows(spark, sf_dir)
    it.commit_append(rows.filter(F.col("i") % 2 == 0), path,
                     partition_by="cell")
    it.commit_append(rows.filter(F.col("i") % 2 == 1), path)
    _ICE_CACHE[key] = path
    return path


def q_iceberg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-lite snapshot scan with manifest min/max + partition
    pruning: latest snapshot, predicate cell = 5 — the file plan keeps
    only snapshot 1's cell=5 directory plus the snapshot-2 files whose
    footer stats straddle cell 5, then Catalyst re-applies the filter
    (pruning is performance-only). At 10^12 rows this is the
    job-planning-time file pruning that replaces the reference's
    driver-side spatial partition pruning (RangeQuery.java)."""
    from sedona_spark import icetable as it

    path = _ice_fixture(spark, sf_dir)
    df = it.scan(spark, path, filters=[("cell", "=", 5)])
    return df.select(
        F.format_string("img_%012d", F.col("i")).alias("image_id"),
        "cell", "lon", "lat")


def _iceberg_scan_sql() -> str:
    return f"""
with m as ({_ICE_META_SQL})
select printf('img_%012d', i) as image_id, cell, lon, lat
from m where cell = 5
"""


def q_iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read at snapshot 1 (the even-id append): per-cell
    image count and pixel-width mass as of that snapshot — history stays
    readable after later appends, the audit/repro posture training
    pipelines need (re-run an experiment against the exact table state
    it trained on)."""
    from sedona_spark import icetable as it

    path = _ice_fixture(spark, sf_dir)
    df = it.scan(spark, path, snapshot_id=1)
    return df.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("w").cast("long").alias("sum_w"))


def _iceberg_time_travel_sql() -> str:
    return f"""
with m as ({_ICE_META_SQL})
select cell, count(*) as n_images, cast(sum(w) as bigint) as sum_w
from m where i % 2 = 0 group by cell
"""


def q_iceberg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE: every id divisible by 10 gets its width
    replaced (w→1000) in one atomic overwrite snapshot; the per-cell
    aggregate over the post-merge scan certifies matched-update,
    unmatched-carryover, and atomicity (readers never see a half-merge).
    Own table instance — the shared fixture stays immutable."""
    import shutil

    from sedona_spark import icetable as it

    key = sf_dir.rstrip("/") + "#upsert"
    if key not in _ICE_CACHE:
        path = os.path.join("/tmp", "sedona_spark_ice",
                            (os.path.basename(sf_dir.rstrip("/")) or "sf")
                            + "_upsert")
        if os.path.exists(path):
            shutil.rmtree(path)
        rows = _ice_meta_rows(spark, sf_dir)
        it.commit_append(rows, path, partition_by="cell")
        up = (rows.filter(F.col("i") % 10 == 0)
                  .withColumn("w", F.lit(1000).cast("long")))
        it.commit_upsert(up, path, key="i")
        _ICE_CACHE[key] = path
    df = it.scan(spark, _ICE_CACHE[key])
    return df.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("w").cast("long").alias("sum_w"))


def _iceberg_upsert_sql() -> str:
    return f"""
with m as ({_ICE_META_SQL})
select cell, count(*) as n_images,
       cast(sum(case when i % 10 = 0 then 1000 else w end) as bigint)
         as sum_w
from m group by cell
"""


def q_iceberg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (CDC) scan: only the files appended after snapshot 1
    — snapshot 2's odd ids — the per-ingest-cycle "process only new
    shards" read. Output thinned to i % 50 == 1 to keep the driver
    compare row-bounded; the read itself touches no snapshot-1 file."""
    from sedona_spark import icetable as it

    path = _ice_fixture(spark, sf_dir)
    df = it.incremental_scan(spark, path, from_snapshot_id=1)
    return df.filter(F.col("i") % 50 == 1).select(
        F.format_string("img_%012d", F.col("i")).alias("image_id"),
        "cell", "lon")


def _iceberg_incremental_sql() -> str:
    return f"""
with m as ({_ICE_META_SQL})
select printf('img_%012d', i) as image_id, cell, lon
from m where i % 2 = 1 and i % 50 = 1
"""


def q_webdataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest (training-shard export tier):
    deterministic hash shard assignment + per-shard row count, payload
    bytes and id span. The oracle mirrors the portable Knuth hash and
    rebuilds each caption string closed-form; payload uses decoded image
    size (w·h·3) so the oracle need not re-derive zlib lengths (the
    compressed-tar path is pytest-gated byte-for-byte)."""
    from sedona_spark.pipeline.sampling import hash_bucket
    from sedona_spark.pipeline.shards import shard_manifest

    imgs = images_from_part(spark, sf_dir,
                            columns=("image_id", "w", "h", "caption"))
    i = F.substring("image_id", 5, 12).cast("long")
    payload = (F.col("w").cast("long") * F.col("h") * 3
               + F.length("caption").cast("long"))
    return shard_manifest(imgs, 8, hash_col=hash_bucket(i),
                          payload_col=payload)


def _webdataset_manifest_sql() -> str:
    from sedona_spark.pipeline.sampling import sql_hash_bucket
    from sedona_spark.sources.images import _WORDS

    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    cap = ("'caption of image ' || i || ': ' || "
           + " || ' ' || ".join(
               f"list_extract({words}, (i * 7 + {j} * 13) % 20 + 1)"
               for j in range(4)))
    return f"""
with img as ({_img_meta_sql()}),
rows_ as (
  select printf('img_%012d', i) as image_id,
         ({sql_hash_bucket('i')}) % 8 as shard_id,
         cast(w as bigint) * h * 3 + length({cap}) as payload
  from img)
select shard_id, count(*) as n_rows,
       cast(sum(payload) as bigint) as payload_bytes,
       min(image_id) as first_id, max(image_id) as last_id
from rows_ group by shard_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (contiguous fill over a
    deterministic hash order) — the packing pass every LLM pretraining
    pipeline runs before tokenizer sharding."""
    from sedona_spark.pipeline.sampling import hash_bucket
    from sedona_spark.pipeline.shards import pack_sequences
    from sedona_spark.pipeline.text import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_toks"))
    return pack_sequences(docs, budget=512, id_col="doc_id",
                          tokens_col="n_toks",
                          hash_col=hash_bucket(F.col("doc_id")))


def _pack_sequences_sql() -> str:
    from sedona_spark.pipeline.sampling import sql_hash_bucket

    h = sql_hash_bucket("doc_id")
    return f"""
with t as (
  select doc_id,
         least(cast(length(list_filter(string_split_regex(text, '\\s+'),
               x -> x <> '')) as bigint), 512) as n_tokens
  from documents),
c as (
  select doc_id, n_tokens,
         coalesce(sum(n_tokens) over (
             order by {h}, doc_id
             rows between unbounded preceding and 1 preceding),
           0) as cum_before
  from t)
select doc_id, n_tokens, cum_before // 512 as seq_id,
       cum_before % 512 as offset_in_seq
from c
"""


def q_channel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 256-bin per-channel pixel histogram (uint8 makes it exact;
    exact histograms give exact dataset percentiles for normalization /
    clipping choices). Executor-folded bincount partials → one
    fixed-width shuffle."""
    from sedona_spark.pipeline.images import channel_histogram

    imgs = images_from_part(spark, sf_dir, id_mod=8, columns=("bytes",))
    return channel_histogram(imgs)


def _channel_histogram_sql() -> str:
    pix = _PIX.format(x="x.v", y="y.v")
    dec = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 8 = 0),
dec as (
  select c.v as channel, {dec} as dv
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       (select unnest(range(0, 3)) as v) c)
select channel, dv as value, cast(count(*) as bigint) as n
from dec group by channel, dv
"""


def q_geopandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GeoPandas-style layer (geopandas_api.GeoSeries — analog of
    the reference's python/sedona/spark/geopandas tier): area/length/
    bounds/centroid properties and the index-aligned within() predicate,
    all pure Column composition — the oracle reuses the exact fold
    arithmetic of the underlying ST_ functions."""
    from sedona_spark.geopandas_api import GeoSeries
    from sedona_spark.sources.testdata import (
        rect_zones_from_nation,
        zones_from_nation,
    )

    z = rect_zones_from_nation(spark, sf_dir)
    gs = GeoSeries(z, geom="ring", index="n_nationkey")
    centers = zones_from_nation(spark, sf_dir)
    pts = GeoSeries.from_points(centers, "zcx", "zcy",
                                index="n_nationkey")
    cent = gs.centroid
    cent_df = cent.df.select(
        "n_nationkey",
        F.element_at(cent.geom, 1).alias("cx"),
        F.element_at(cent.geom, 2).alias("cy"))
    return (
        gs.area.join(gs.length, "n_nationkey")
        .join(gs.bounds, "n_nationkey")
        .join(cent_df, "n_nationkey")
        .join(pts.within(gs), "n_nationkey")
    )


def _geopandas_api_sql() -> str:
    return f"""
with z as ({SQL_ZONES}),
c as (select n_nationkey,
             zcx - hx as x0, zcy - hy as y0,
             zcx + hx as x1, zcy + hy as y1 from z),
s as (select n_nationkey, x0, y0, x1, y1,
             (((0e0 + (x0*y0 - x1*y0)) + (x1*y1 - x1*y0)) + (x1*y1 - x0*y1))
              + (x0*y0 - x0*y1) as s2,
             (((0e0 + sqrt((x1-x0)*(x1-x0) + (y0-y0)*(y0-y0)))
                   + sqrt((x1-x1)*(x1-x1) + (y1-y0)*(y1-y0)))
                   + sqrt((x0-x1)*(x0-x1) + (y1-y1)*(y1-y1)))
                   + sqrt((x0-x0)*(x0-x0) + (y0-y1)*(y0-y1)) as perim,
             (((0e0 + (x0+x1)*(x0*y0 - x1*y0)) + (x1+x1)*(x1*y1 - x1*y0))
                   + (x1+x0)*(x1*y1 - x0*y1)) + (x0+x0)*(x0*y0 - x0*y1) as sx,
             (((0e0 + (y0+y0)*(x0*y0 - x1*y0)) + (y0+y1)*(x1*y1 - x1*y0))
                   + (y1+y1)*(x1*y1 - x0*y1)) + (y1+y0)*(x0*y0 - x0*y1) as sy
      from c)
select n_nationkey, abs(s2) / 2e0 as area, perim as length,
       x0 as minx, y0 as miny, x1 as maxx, y1 as maxy,
       sx / (3e0 * s2) as cx, sy / (3e0 * s2) as cy,
       true as within
from s
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Pile 13-gram rule, here 5-gram
    to suit the fixture's short docs): docs with doc_id % 17 == 0 play
    the eval set; every other doc sharing an exact 5-token gram with
    them is flagged with its hit count. Corpus scan → explode →
    broadcast semi-join on the gram STRING (exact, no false positives)
    → one groupBy."""
    from sedona_spark.pipeline.text import ngram_decontaminate

    docs = _spread_docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return ngram_decontaminate(corpus, bench, n=5)


def _decontaminate_sql() -> str:
    return r"""
with toks as (
  select doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') as t
  from documents),
eg as (
  select doc_id, unnest(list_transform(
           range(0, greatest(length(t) - 4, 0)),
           i -> array_to_string(t[i+1:i+5], ' '))) as gram
  from toks),
bench as (select distinct gram from eg where doc_id % 17 = 0),
hits as (
  select e.doc_id, e.gram from eg e join bench using (gram)
  where e.doc_id % 17 <> 0)
select doc_id, cast(count(distinct gram) as bigint) as n_hits,
       min(gram) as first_gram
from hits group by doc_id
"""


def q_rs_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_Value at world coordinates, BILINEAR (r4): sample point per
    image at pixel-space (i%17 + 0.75, i%11 + 0.75) — dyadic fractions
    fx = fy = 0.25, so the interpolated value is exact in both engines
    and the oracle reproduces it closed-form from the pixel formula."""
    from sedona_spark.functions.raster import rs_value_bilinear
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=20,
                            columns=("image_id", "bytes", "lon", "lat"))
    i = F.regexp_extract(F.col("image_id"), r"(\d+)", 1).cast("long")
    ps = 1e-3
    imgs = imgs.withColumn(
        "wx", F.col("lon") + ((i % 17).cast("double") + 0.75) * F.lit(ps)
    ).withColumn(
        "wy", F.col("lat") - ((i % 11).cast("double") + 0.75) * F.lit(ps)
    )
    out = rs_value_bilinear(imgs, band=0, pixel_size=ps)
    return out.select("image_id", F.round(F.col("value"), 6).alias("bval"))


def _rs_bilinear_sql() -> str:
    pix = ("(((i * 31 + {x} * 3 + {y} * 5) % 251"
           " + ({x} * {y} * (i % 13 + 1)) % 67) % 256)")
    cells_xy = [
        ("(i % 17)", "(i % 11)"), ("(i % 17 + 1)", "(i % 11)"),
        ("(i % 17)", "(i % 11 + 1)"), ("(i % 17 + 1)", "(i % 11 + 1)"),
    ]
    vs = [
        _DECODED.format(v=pix.format(x=x, y=y)) for x, y in cells_xy
    ]
    bil = (f"(0.75e0 * (0.75e0 * ({vs[0]}) + 0.25e0 * ({vs[1]}))"
           f" + 0.25e0 * (0.75e0 * ({vs[2]}) + 0.25e0 * ({vs[3]})))")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 20 = 0)
select printf('img_%012d', i) as image_id,
       round({bil}, 6) as bval
from sel
"""


def q_rs_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal 3×3 box convolution (r4, valid mode, exact int64): the
    oracle re-derives the convolution total WITHOUT windows — each pixel
    contributes value × (windows containing it) and the participation
    count is separable: min(x+1, 3, w−2, w−x) per axis."""
    from sedona_spark.functions.raster import rs_convolve
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=40,
                            columns=("image_id", "bytes"))
    return rs_convolve(imgs, [[1, 1, 1], [1, 1, 1], [1, 1, 1]], band=0)


def _rs_convolve_sql() -> str:
    pix = ("(((i * 31 + x.v * 3 + y.v * 5) % 251"
           " + (x.v * y.v * (i % 13 + 1)) % 67) % 256)")
    dv = _DECODED.format(v=pix)
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 40 = 0),
pix as (
  select i, w, h,
         ({dv}) * least(x.v + 1, 3, w - 2, w - x.v)
                * least(y.v + 1, 3, h - 2, h - y.v) as wv
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y)
select printf('img_%012d', i) as image_id,
       cast(sum(wv) as bigint) as conv_sum,
       cast((w - 2) * (h - 2) as bigint) as conv_n
from pix group by i, w, h
"""


def q_tile_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile grid of the exploded tiles (tile bytes themselves are checked by
    the pytest byte-identity/PSNR gates; zlib output is not SQL-expressible)."""
    imgs = images_from_part(spark, sf_dir, columns=("image_id", "bytes"))
    t = rs_tile_explode(imgs, 16, 16)
    return t.select(
        "image_id",
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("tile_w").cast("long").alias("tile_w"),
        F.col("tile_h").cast("long").alias("tile_h"),
    )


# ---------------------------------------------------------------------------
# r3: concave predicates, relate string, buffer, overlay geometry, spheroid
# ---------------------------------------------------------------------------


def q_predicate_matrix_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal predicate family over CONCAVE fixtures — L-shaped hexagons
    against rects hitting the reflex corner, the notch interior (bbox
    overlap but disjoint), shared reflex edges, containment each way
    (VERDICT r2 #1; ref: JTS RelateOp concave fixtures,
    SpatialJoinSuite.scala:42-75). Oracle: closed-form interval algebra
    over L = big_rect \\ int(top-right quadrant)."""
    from sedona_spark.functions.st import st_predicates_from_flags, st_relate_flags
    from sedona_spark.sources.testdata import l_shape_pairs_from_nation

    pairs = l_shape_pairs_from_nation(spark, sf_dir)
    pf = pairs.withColumn("_f", st_relate_flags(F.col("ring_a"), F.col("ring_b")))
    preds = st_predicates_from_flags(F.col("_f"))
    return pf.select(
        "n_nationkey",
        preds["intersects"].alias("p_intersects"),
        preds["disjoint"].alias("p_disjoint"),
        preds["touches"].alias("p_touches"),
        preds["overlaps"].alias("p_overlaps"),
        preds["st_equals"].alias("p_equals"),
        preds["within"].alias("p_within"),
        preds["contains"].alias("p_contains"),
    )


def q_st_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Relate DE-9IM matrix STRING + ST_OrderingEquals over the rect
    pair fixtures (SpatialPredicate.java:26-36, Predicates.scala
    ST_Relate/ST_RelateMatch). Oracle: the nine cells from rect interval
    algebra, concatenated in DuckDB."""
    from sedona_spark.functions.st import (
        st_ordering_equals,
        st_relate,
        st_relate_flags,
        st_relate_match,
    )

    pairs = predicate_pairs_from_nation(spark, sf_dir)
    pf = pairs.withColumn("_f", st_relate_flags(F.col("ring_a"), F.col("ring_b")))
    rel = st_relate(F.col("_f"))
    return pf.select(
        "n_nationkey",
        rel.alias("relate"),
        st_relate_match(rel, "T*F**F***").alias("m_within"),
        st_ordering_equals(F.col("ring_a"), F.col("ring_b")).alias("ordering_eq"),
    )


def q_buffer_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer twice — point buffer (pure-Column regular 32-gon) and
    convex-ring buffer (offset edges + segmented arcs, numpy kernel) — with
    closed-form area/perimeter oracles: the chorded circle/arc areas are
    exact trig identities (VERDICT r2 #5 'circle-buffer area to round(6)').
    Rings are built in the zone-local frame (area is translation-invariant;
    keeps the shoelace fold at unit scale → round(6) parity is safe)."""
    from sedona_spark.functions.st import st_buffer
    from sedona_spark.functions.st_measures import (
        st_area,
        st_buffer_point,
        st_perimeter,
    )

    from sedona_spark.functions.st import st_ring_stats

    z = zones_from_nation(spark, sf_dir)
    pb = st_buffer_point(F.lit(0.0), F.lit(0.0), F.col("r"), quad_segs=8)
    hx, hy = F.col("hx"), F.col("hy")
    rect = F.array(-hx, -hy, hx, -hy, hx, hy, -hx, hy)
    rb = st_buffer(rect, F.col("r"), quad_segs=8)
    # rb is Python-UDF output → its area must come from the numpy stats UDF
    # (Column HOF folds cannot wrap a Python-UDF result in Spark 4.1)
    return z.select(
        "n_nationkey",
        F.round(st_area(pb), 6).alias("pb_area"),
        F.round(st_perimeter(pb), 6).alias("pb_perim"),
        (F.size(pb) / 2).cast("long").alias("pb_nv"),
        st_ring_stats(rb).alias("_rs"),
    ).select(
        "n_nationkey", "pb_area", "pb_perim", "pb_nv",
        F.round(F.col("_rs.area"), 6).alias("rb_area"),
        F.col("_rs.nv").alias("rb_nv"),
    )


def q_st_intersection_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection returning GEOMETRY: diamond zone clipped by an
    offset rect (Sutherland–Hodgman kernel). The oracle independently
    reconstructs the intersection polygon in DuckDB — kept diamond/rect
    vertices + the 8 closed-form edge crossings, angularly sorted, shoelace
    via list_reduce — and compares area (round 6) + vertex count
    (VERDICT r2 #6)."""
    from sedona_spark.functions.st import st_intersection, st_ring_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    rx0, rx1 = cx - hx * F.lit(0.3), cx + hx * F.lit(1.9)
    ry0, ry1 = cy - hy * F.lit(0.5), cy + hy * F.lit(1.1)
    rect = F.array(rx0, ry0, rx1, ry0, rx1, ry1, rx0, ry1)
    clipped = st_intersection(diamond, rect)
    return z.select(
        "n_nationkey", st_ring_stats(clipped).alias("_cs")
    ).select(
        "n_nationkey",
        F.round(F.col("_cs.area"), 6).alias("clip_area"),
        F.col("_cs.nv").alias("clip_nv"),
    )


def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_GeometricMedian (Weiszfeld): 4 symmetric quadrant centers + the
    zone center itself — the median is the center point exactly (the
    vertex-singularity optimality branch: the other points' unit vectors
    cancel by symmetry)."""
    from sedona_spark.functions.st import st_geometric_median

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    h = F.lit(0.5)
    pts = F.array(
        cx - hx * h, cy - hy * h, cx + hx * h, cy - hy * h,
        cx - hx * h, cy + hy * h, cx + hx * h, cy + hy * h, cx, cy,
    )
    m = st_geometric_median(pts)
    return z.select(
        "n_nationkey",
        F.round(m.getField("mx"), 6).alias("med_x"),
        F.round(m.getField("my"), 6).alias("med_y"),
    )


def q_st_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Project (spherical direct problem, pure Column): destination of
    each event point at bearing (event_id % 360)° and 200 km; the oracle
    mirrors the formula op-for-op."""
    from sedona_spark.functions.st_measures import st_project_sphere

    p = points_from_events(spark, sf_dir)
    brg = (F.col("event_id") % 360).cast("double")
    lon2, lat2 = st_project_sphere(
        F.col("x"), F.col("y"), brg, F.lit(200000.0)
    )
    return p.select(
        "event_id",
        F.round(lon2, 6).alias("dest_lon"),
        F.round(lat2, 6).alias("dest_lat"),
    )


def q_st_segmentize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Segmentize over the 3-vertex polyline at max_len 0.9: segment
    lengths sqrt(13) and sqrt(5) split into ceil(...) = 5 and 3 parts →
    9 vertices, total length unchanged."""
    from sedona_spark.functions.st import st_path_stats, st_segmentize

    p = points_from_events(spark, sf_dir)
    x, y = F.col("x"), F.col("y")
    line = F.array(x, y, x + F.lit(3.0), y + F.lit(2.0),
                   x + F.lit(5.0), y + F.lit(1.0))
    seg = st_segmentize(line, 0.9)
    st_ = st_path_stats(seg)
    return p.select(
        "event_id",
        st_.alias("_s"),
    ).select(
        "event_id",
        F.round(F.col("_s.length"), 6).alias("seg_len"),
        F.col("_s.nv").alias("nv"),
    )


def q_st_concave_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ConcaveHull over a deterministic 21-point grid-L (5x5 minus the
    top-right 2x2), scaled ISOTROPICALLY by hx/4 per zone (similarity
    preserves every edge-length ratio, so the chi-shape topology is
    identical for all zones): 15 boundary vertices, area 9.5 grid
    cells = 9.5 (hx/4)^2."""
    from sedona_spark.functions.st import st_concave_hull, st_ring_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx = F.col("zcx"), F.col("zcy"), F.col("hx")
    s = hx / F.lit(4.0)
    coords = []
    for i in range(5):
        for j in range(5):
            if i >= 3 and j >= 3:
                continue
            coords.append(cx + F.lit(float(i - 2)) * s)
            coords.append(cy + F.lit(float(j - 2)) * s)
    hull = st_concave_hull(F.array(*coords), 1.4)
    return z.select(
        "n_nationkey", st_ring_stats(hull).alias("_s")
    ).select(
        "n_nationkey",
        F.round(F.col("_s.area"), 6).alias("hull_area"),
        F.col("_s.nv").alias("nv"),
    )


def q_st_delaunay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DelaunayTriangles: 4 quadrant centers + the zone center — the
    corners are COCIRCULAR, but the center point forces the unique
    4-triangle fan, so count and area are closed-form (n_tris = 4, total
    = the quadrant-center rect = hx·hy)."""
    from sedona_spark.functions.st import st_delaunay_triangles, st_ring_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    h = F.lit(0.5)
    pts = F.array(
        cx - hx * h, cy - hy * h, cx + hx * h, cy - hy * h,
        cx - hx * h, cy + hy * h, cx + hx * h, cy + hy * h, cx, cy,
    )
    parts = z.select(
        "n_nationkey", F.explode(st_delaunay_triangles(pts)).alias("tri")
    ).select("n_nationkey", st_ring_stats(F.col("tri")).alias("_s"))
    return parts.groupBy("n_nationkey").agg(
        F.count("*").cast("long").alias("n_tris"),
        F.round(F.sum(F.col("_s.area")), 6).alias("tri_area"),
    )


def q_st_voronoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_VoronoiPolygons: 4 sites at the quadrant centers of the zone
    rect → cells are exactly the quadrants (area hx·hy, 4 vertices; cell
    envelopes closed-form per site index)."""
    from sedona_spark.functions.st import st_ring_stats, st_voronoi_polygons

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    h = F.lit(0.5)
    sites = F.array(
        cx - hx * h, cy - hy * h, cx + hx * h, cy - hy * h,
        cx - hx * h, cy + hy * h, cx + hx * h, cy + hy * h,
    )
    env = F.array(cx - hx, cy - hy, cx + hx, cy + hy)
    parts = z.select(
        "n_nationkey",
        F.posexplode(st_voronoi_polygons(sites, env)).alias("site_idx", "cell"),
    )
    return parts.select(
        "n_nationkey",
        F.col("site_idx").cast("long").alias("site_idx"),
        st_ring_stats(F.col("cell")).alias("_s"),
        F.round(F.array_min(F.filter(
            F.transform(F.col("cell"), lambda v, i: F.when(i % 2 == 0, v)),
            lambda v: v.isNotNull())), 6).alias("cell_xmin"),
        F.round(F.array_min(F.filter(
            F.transform(F.col("cell"), lambda v, i: F.when(i % 2 == 1, v)),
            lambda v: v.isNotNull())), 6).alias("cell_ymin"),
    ).select(
        "n_nationkey", "site_idx",
        F.round(F.col("_s.area"), 6).alias("cell_area"),
        F.col("_s.nv").alias("nv"),
        "cell_xmin", "cell_ymin",
    )


def q_shortest_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ShortestLine / ST_MaxDistance between the zone rect and its
    (3hx, 3hy)-translate (built with the pure-Column ST_Translate): the
    unique nearest pair is corner-to-corner with dist hypot(hx, hy);
    the farthest is the opposite diagonal."""
    from sedona_spark.functions.st import (
        st_max_distance,
        st_shortest_line,
        st_translate,
    )

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    x0, x1, y0, y1 = cx - hx, cx + hx, cy - hy, cy + hy
    ring_a = F.array(x0, y0, x1, y0, x1, y1, x0, y1)
    ring_b = st_translate(ring_a, F.lit(3.0) * hx, F.lit(3.0) * hy)
    sl = st_shortest_line(ring_a, ring_b)
    return z.select(
        "n_nationkey",
        F.round(sl.getField("x1"), 6).alias("x1"),
        F.round(sl.getField("y1"), 6).alias("y1"),
        F.round(sl.getField("x2"), 6).alias("x2"),
        F.round(sl.getField("y2"), 6).alias("y2"),
        F.round(sl.getField("dist"), 6).alias("dist"),
        F.round(st_max_distance(ring_a, ring_b), 6).alias("max_dist"),
    )


def q_st_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Column affine family (ST_Affine/Rotate90): (x, y) → (−y, x)
    on the diamond — area invariant (shoelace fold, all codegen, zero
    Python), envelope swaps the axes with exact sign flips."""
    from sedona_spark.functions.st import st_affine, st_envelope_cols
    from sedona_spark.functions.st_measures import st_area

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    rot = st_affine(diamond, 0.0, -1.0, 1.0, 0.0)
    env = st_envelope_cols(rot)
    return z.select(
        "n_nationkey",
        F.round(st_area(rot), 6).alias("rot_area"),
        F.round(env[0], 6).alias("rxmin"),
        F.round(env[1], 6).alias("rymin"),
        F.round(env[2], 6).alias("rxmax"),
        F.round(env[3], 6).alias("rymax"),
    )


def q_st_triangulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Triangulate generator over the concave L-shape: ear clipping
    always yields n−2 = 4 triangles tiling the polygon exactly (area
    3·hx·hy)."""
    from sedona_spark.functions.st import st_ring_stats, st_triangulate

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    ax0, ax1, ay0, ay1 = cx - hx, cx + hx, cy - hy, cy + hy
    ring_a = F.array(ax0, ay0, ax1, ay0, ax1, cy, cx, cy, cx, ay1, ax0, ay1)
    parts = z.select(
        "n_nationkey", F.explode(st_triangulate(ring_a)).alias("tri")
    ).select("n_nationkey", st_ring_stats(F.col("tri")).alias("_s"))
    return parts.groupBy("n_nationkey").agg(
        F.count("*").cast("long").alias("n_tris"),
        F.round(F.sum(F.col("_s.area")), 6).alias("tri_area"),
    )


def q_rs_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_Resample nearest (integer top-left rule src=(dst*src)//dst_dim):
    every output pixel is integer-reproducible, so the oracle regenerates
    the full resampled pixel sum exactly."""
    from sedona_spark.functions.raster import rs_resample
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=200,
                            columns=("image_id", "bytes"))
    out = rs_resample(imgs, 24, 20, mode="nearest")
    return out.select(
        "image_id",
        F.col("out_w").cast("long").alias("out_w"),
        F.col("out_h").cast("long").alias("out_h"),
        "pix_sum",
    )


def q_overlay_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERAL concave×concave overlay (JTS OverlayNG tier): A = L-shape
    covering the bottom half + top-left quadrant of the nation rect,
    B = the mirrored L covering the top half + bottom-right quadrant.
    Closed form: A∩B = two opposite quadrants (2·hx·hy), A\\B = the
    bottom-left quadrant (1·hx·hy), A∪B = the whole rect (4·hx·hy). The
    tilings come from ear-clip triangulation + convex×convex piece
    algebra — exact areas, no approximation."""
    from sedona_spark.functions.st import (
        st_difference_general,
        st_intersection_general,
        st_ring_stats,
        st_union_general,
    )

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    ax0, ax1, ay0, ay1 = cx - hx, cx + hx, cy - hy, cy + hy
    ring_a = F.array(ax0, ay0, ax1, ay0, ax1, cy, cx, cy, cx, ay1, ax0, ay1)
    ring_b = F.array(ax0, cy, cx, cy, cx, ay0, ax1, ay0, ax1, ay1, ax0, ay1)

    def tiled_area(col, name):
        parts = z.select(
            "n_nationkey", F.explode(col).alias("ring")
        ).select("n_nationkey", st_ring_stats(F.col("ring")).alias("_s"))
        return parts.groupBy("n_nationkey").agg(
            F.round(F.sum(F.col("_s.area")), 6).alias(name)
        )

    ia = tiled_area(st_intersection_general(ring_a, ring_b), "inter_area")
    da = tiled_area(st_difference_general(ring_a, ring_b), "diff_area")
    ua = tiled_area(st_union_general(ring_a, ring_b), "union_area")
    return ia.join(da, "n_nationkey").join(ua, "n_nationkey")


def q_st_is_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_IsValid (JTS IsValidOp shell tier): odd nations get a bowtie
    (two crossing edges), even ones the simple rect — the kernel must
    detect the self-intersection exactly."""
    from sedona_spark.functions.st import st_is_valid

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    x0, x1, y0, y1 = cx - hx, cx + hx, cy - hy, cy + hy
    rect = F.array(x0, y0, x1, y0, x1, y1, x0, y1)
    bowtie = F.array(x0, y0, x1, y1, x1, y0, x0, y1)
    ring = F.when(F.col("n_nationkey") % 2 == 1, bowtie).otherwise(rect)
    return z.select("n_nationkey", st_is_valid(ring).alias("valid"))


def q_geom_from_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-model WKT/WKB interop (r4): even nations carry a POLYGON with
    an interior ring (hole), odd nations a two-part MULTIPOLYGON — all
    integer coordinates so the canonical re-emitted WKT is string-exact
    reproducible in SQL. The round trip exercises WKT parse → canonical
    ring list (shells CCW / holes CW) → net-area/ring/vertex stats →
    canonical WKT emission → WKB emit + re-parse (area must survive).
    Reference surface: st_constructors.py ST_GeomFromWKT/ST_AsText/
    ST_AsBinary/ST_GeomFromWKB; serde GeometrySerializer.java:36-72."""
    from sedona_spark.functions.st import (
        st_geom_rings_from_wkb,
        st_geom_rings_from_wkt,
        st_rings_as_wkb,
        st_rings_as_wkt,
        st_rings_stats,
    )

    na = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    k = F.col("n_nationkey")
    w, h, hx2, mx = k + 10, (k % 5) + 8, (k % 3) + 4, k + 100
    poly = F.format_string(
        "POLYGON ((0 0, %d 0, %d %d, 0 %d, 0 0), "
        "(2 2, 2 4, %d 4, %d 2, 2 2))",
        w, w, h, h, hx2, hx2,
    )
    mpoly = F.format_string(
        "MULTIPOLYGON (((0 0, %d 0, %d %d, 0 %d, 0 0)), "
        "((100 0, %d 0, %d 3, 100 3, 100 0)))",
        w, w, h, h, mx, mx,
    )
    rings = st_geom_rings_from_wkt(F.when(k % 2 == 0, poly).otherwise(mpoly))
    rt = st_geom_rings_from_wkb(st_rings_as_wkb(rings))
    s1 = st_rings_stats(rings)
    s2 = st_rings_stats(rt)
    return na.select(
        "n_nationkey",
        F.round(s1.getField("area"), 6).alias("area"),
        s1.getField("n_rings").alias("n_rings"),
        s1.getField("nv").alias("nv"),
        st_rings_as_wkt(rings).alias("wkt_out"),
        F.round(s2.getField("area"), 6).alias("area_wkb"),
    )


def _geom_from_wkt_sql() -> str:
    area = (
        "case when k % 2 = 0 then (k+10)*((k%5)+8) - 2*((k%3)+2) "
        "else (k+10)*((k%5)+8) + 3*k end"
    )
    return f"""
with n as (select n_nationkey as k from nation)
select k as n_nationkey,
       round(cast({area} as double), 6) as area,
       cast(2 as bigint) as n_rings,
       cast(8 as bigint) as nv,
       case when k % 2 = 0 then printf(
         'POLYGON ((0 0, %d 0, %d %d, 0 %d, 0 0), (2 2, 2 4, %d 4, %d 2, 2 2))',
         k+10, k+10, (k%5)+8, (k%5)+8, (k%3)+4, (k%3)+4)
       else printf(
         'MULTIPOLYGON (((0 0, %d 0, %d %d, 0 %d, 0 0)), ((100 0, %d 0, %d 3, 100 3, 100 0)))',
         k+10, k+10, (k%5)+8, (k%5)+8, k+100, k+100) end as wkt_out,
       round(cast({area} as double), 6) as area_wkb
from n
"""


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string surface (r4): one ``spark.sql()`` statement whose
    body uses the registered ST_ catalog (``sedona_spark.register``),
    mirroring the reference's primary entry point
    (``Catalog.registerAll``, ``SedonaContext.scala:67-122``). Exercises
    both registration tiers in one query: inlined SQL scalar UDFs
    (ST_MakeEnvelope/Area/Perimeter/NumPoints/Distance/Centroid/GeoHash —
    whole-stage codegen) and Arrow-batched pandas UDFs addressed from SQL
    (ST_Contains over the ternary ST_PIP classifier)."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy,
             ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as rect,
             array(array(zcx - hx, zcy, zcx, zcy - hy,
                         zcx + hx, zcy, zcx, zcy + hy)) as dia
      from z)
select n_nationkey,
       round(ST_Area(rect), 6) as rect_area,
       round(ST_Perimeter(rect), 6) as perim,
       cast(ST_NumPoints(rect) as bigint) as np,
       round(ST_Distance(zcx, zcy, 0e0, 0e0), 6) as d_origin,
       round(ST_Centroid(rect).cx, 6) as ccx,
       ST_GeoHash(zcx, zcy, 5) as gh,
       ST_Contains(dia, zcx, zcy) as c_in,
       ST_Contains(dia, zcx + 2e0 * hx, zcy) as c_out
from g
""")


def _sql_api_sql() -> str:
    from sedona_spark.functions.geohash import sql_geohash

    gh = sql_geohash("zcx", "zcy", 5)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round(4e0 * hx * hy, 6) as rect_area,
       round(4e0 * (hx + hy), 6) as perim,
       cast(4 as bigint) as np,
       round(sqrt(zcx * zcx + zcy * zcy), 6) as d_origin,
       round(zcx, 6) as ccx,
       {gh} as gh,
       true as c_in,
       false as c_out
from z
"""


def q_sql_api_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WIDENED SQL catalog (r5, VERDICT r4 what's-missing #1): one
    ``spark.sql()`` statement exercising ~20 functions newly registered in
    ``sql_registry`` — the generator / linear-referencing / proximity
    pandas-UDF kernels that were DataFrame-only (Hausdorff, Fréchet,
    Polygonize, SubDivide, Triangulate, Voronoi, Delaunay, ConcaveHull,
    GeometricMedian, Segmentize, ShortestLine, LineInterpolate/Locate/
    Substring, MinimumBoundingCircle) plus the new SQL-scalar tier
    (Affine/Translate/Scale/Rotate, FlipCoordinates, PointN, IsClosed,
    AddPoint/RemovePoint, AreaSpheroid/PerimeterSpheroid/LengthSpheroid,
    TransformLCC/Albers with runtime parallels). Every output column has a
    closed form on the rect-zone fixture, so the DuckDB oracle is fully
    independent. Reference surface: ``Catalog.scala:30-329``."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy,
             ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as rect,
             array(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as dia2,
             array(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as env4,
             array(array(zcx - hx, zcy - hy, zcx + hx, zcy - hy),
                   array(zcx + hx, zcy - hy, zcx + hx, zcy + hy),
                   array(zcx + hx, zcy + hy, zcx - hx, zcy + hy),
                   array(zcx - hx, zcy + hy, zcx - hx, zcy - hy)) as edges
      from z)
select n_nationkey,
       round(abs(ST_HausdorffDistance(rect, ST_Translate(rect, hx, 0e0))
                 - hx), 6) as haus_res,
       round(abs(ST_FrechetDistance(dia2, ST_Translate(dia2, hx, 0e0))
                 - hx), 6) as frech_res,
       cast(size(ST_Polygonize(edges)) as bigint) as npoly,
       round(ST_Area(element_at(ST_Polygonize(edges), 1)), 6) as poly_area,
       cast(size(ST_SubDivide(rect, 2, 2)) as bigint) as nsub,
       round(ST_Area(element_at(ST_SubDivide(rect, 2, 2), 1)), 6) as sub_area,
       round(element_at(ST_LineInterpolatePoint(dia2, 0.25e0), 1), 6)
           as interp_x,
       round(ST_LineLocatePoint(dia2, zcx, zcy).frac, 6) as locate_frac,
       round(element_at(ST_LineSubstring(dia2, 0.25e0, 0.75e0), 3), 6)
           as subl_x2,
       cast(size(ST_Triangulate(rect)) as bigint) as ntri,
       round(ST_ShortestLine(rect, ST_Translate(rect, 4e0 * hx, 0e0)).dist, 6)
           as short_d,
       cast(size(ST_VoronoiPolygons(dia2, env4)) as bigint) as nvor,
       round(ST_Area(element_at(ST_VoronoiPolygons(dia2, env4), 1)), 6)
           as vor_area,
       cast(size(ST_DelaunayTriangles(rect)) as bigint) as ndel,
       round(ST_Area(ST_ConcaveHull(rect, 1.5e0)), 6) as chull_area,
       round(ST_GeometricMedian(rect).mx, 6) as gmed_x,
       cast(size(ST_Segmentize(array(zcx - hx, zcy - hy, zcx + hx, zcy - hy),
                               0.9e0 * hx)) div 2 as bigint) as nseg,
       round(ST_MinimumBoundingCircle(rect).radius, 6) as mbc_r,
       round(ST_Area(ST_Rotate(rect, pi() / 3e0)), 6) as rot_area,
       round(ST_Area(ST_Scale(rect, 2e0, 1e0)), 6) as scale_area,
       round(element_at(ST_FlipCoordinates(rect), 1), 6) as flip_x,
       round(element_at(ST_PointN(rect, 3), 1), 6) as p3_x,
       ST_IsClosed(rect) as closedp,
       cast(ST_NumPoints(ST_AddPoint(rect, zcx, zcy)) as bigint) as np_add,
       cast(ST_NumPoints(ST_RemovePoint(rect, 1)) as bigint) as np_rm,
       round(ST_AreaSpheroid(rect) / 1e9, 6) as asph,
       round(ST_PerimeterSpheroid(rect) / 1e3, 6) as psph,
       round(ST_LengthSpheroid(dia2) / 1e3, 6) as lsph,
       round(ST_TransformLCC(zcx, zcy, 3e0, 46.5e0, 44e0, 49e0).x, 2)
           as lcc_x,
       round(ST_TransformAlbers(zcx, zcy, -96e0, 23e0, 29.5e0, 45.5e0).y, 2)
           as alb_y
from g
""")


def _sql_api_2_sql() -> str:
    from sedona_spark.functions.crs import sql_albers, sql_lcc
    from sedona_spark.functions.st_measures import _EARTH_RADIUS_M
    from sedona_spark.sql_registry import _spheroid_body

    def sphd(lon1, lat1, lon2, lat2):
        b = _spheroid_body()
        for tok, rep in (("lon1", lon1), ("lat1", lat1),
                         ("lon2", lon2), ("lat2", lat2)):
            b = b.replace(tok, rep)
        return f"({b})"

    rad = "(pi() / 180e0)"
    x0, x1 = "(zcx - hx)", "(zcx + hx)"
    y0, y1 = "(zcy - hy)", "(zcy + hy)"
    # independent closed forms: spherical BAND area (vs Spark's CD excess
    # fold) and the four Andoyer edges (vs Spark's generic ring fold)
    area = (f"{_EARTH_RADIUS_M!r} * {_EARTH_RADIUS_M!r} "
            f"* (2e0 * hx * {rad}) * (sin({y1} * {rad}) - sin({y0} * {rad}))")
    perim = " + ".join([
        sphd(x0, y0, x1, y0), sphd(x1, y0, x1, y1),
        sphd(x1, y1, x0, y1), sphd(x0, y1, x0, y0),
    ])
    diag = sphd(x0, y0, x1, y1)
    lcc_x, _ = sql_lcc("zcx", "zcy", 3.0, 46.5, 44.0, 49.0)
    _, alb_y = sql_albers("zcx", "zcy", -96.0, 23.0, 29.5, 45.5)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       0e0 as haus_res,
       0e0 as frech_res,
       cast(1 as bigint) as npoly,
       round(4e0 * hx * hy, 6) as poly_area,
       cast(4 as bigint) as nsub,
       round(hx * hy, 6) as sub_area,
       round(zcx - 0.5e0 * hx, 6) as interp_x,
       round(0.5e0, 6) as locate_frac,
       round(zcx + 0.5e0 * hx, 6) as subl_x2,
       cast(2 as bigint) as ntri,
       round(2e0 * hx, 6) as short_d,
       cast(2 as bigint) as nvor,
       round(2e0 * hx * hy, 6) as vor_area,
       cast(2 as bigint) as ndel,
       round(4e0 * hx * hy, 6) as chull_area,
       round(zcx, 6) as gmed_x,
       cast(4 as bigint) as nseg,
       round(sqrt(hx * hx + hy * hy), 6) as mbc_r,
       round(4e0 * hx * hy, 6) as rot_area,
       round(8e0 * hx * hy, 6) as scale_area,
       round(zcy - hy, 6) as flip_x,
       round(zcx + hx, 6) as p3_x,
       false as closedp,
       cast(5 as bigint) as np_add,
       cast(3 as bigint) as np_rm,
       round(abs({area}) / 1e9, 6) as asph,
       round(({perim}) / 1e3, 6) as psph,
       round({diag} / 1e3, 6) as lsph,
       round({lcc_x}, 2) as lcc_x,
       round({alb_y}, 2) as alb_y
from z
"""


def q_st_make_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MakeValid (r4, reference ``Catalog.scala:114``): odd nations'
    bowtie rings (the st_is_valid fixture) are repaired into their two
    even-odd triangles — planar face tracing in ``kernels.make_valid`` —
    while even nations' valid rects pass through unchanged. Closed-form
    oracle: bowtie interior = 2 triangles of hx·hy each; rect = 4·hx·hy."""
    from sedona_spark.functions.st import st_make_valid, st_rings_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    x0, x1, y0, y1 = cx - hx, cx + hx, cy - hy, cy + hy
    rect = F.array(x0, y0, x1, y0, x1, y1, x0, y1)
    bowtie = F.array(x0, y0, x1, y1, x1, y0, x0, y1)
    ring = F.when(F.col("n_nationkey") % 2 == 1, bowtie).otherwise(rect)
    s = st_rings_stats(st_make_valid(ring))
    return z.select(
        "n_nationkey",
        s.getField("n_rings").alias("n_pieces"),
        F.round(s.getField("area"), 6).alias("valid_area"),
    )


def _st_make_valid_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       cast(case when n_nationkey % 2 = 1 then 2 else 1 end as bigint)
         as n_pieces,
       round(case when n_nationkey % 2 = 1 then 2e0 * hx * hy
             else 4e0 * hx * hy end, 6) as valid_area
from z
"""


def q_st_difference_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (hole-aware) overlay output (r4, VERDICT #9): odd nations
    subtract a clip strictly INSIDE the zone rect — the dissolved result
    must be the rect ring WITH a CW hole ring (1 hole, area 4·hx·hy −
    hx·hy); even nations subtract a corner-overlapping rect — one boundary
    ring, no hole, same net area 3·hx·hy. Tiling → dissolve_tiles →
    shells-CCW/holes-CW ring list, checked via st_rings_stats."""
    from sedona_spark.functions.st import st_difference_poly, st_rings_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    rect = F.array(
        cx - hx, cy - hy, cx + hx, cy - hy, cx + hx, cy + hy, cx - hx, cy + hy
    )
    inner = F.array(
        cx - hx / 2, cy - hy / 2, cx + hx / 2, cy - hy / 2,
        cx + hx / 2, cy + hy / 2, cx - hx / 2, cy + hy / 2,
    )
    corner = F.array(cx, cy, cx + hx * 2, cy, cx + hx * 2, cy + hy * 2,
                     cx, cy + hy * 2)
    clip = F.when(F.col("n_nationkey") % 2 == 1, inner).otherwise(corner)
    s = st_rings_stats(st_difference_poly(rect, clip))
    return z.select(
        "n_nationkey",
        s.getField("n_rings").alias("n_rings"),
        s.getField("n_holes").alias("n_holes"),
        F.round(s.getField("area"), 6).alias("diff_area"),
    )


def _st_difference_poly_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       cast(case when n_nationkey % 2 = 1 then 2 else 1 end as bigint)
         as n_rings,
       cast(case when n_nationkey % 2 = 1 then 1 else 0 end as bigint)
         as n_holes,
       round(3e0 * hx * hy, 6) as diff_area
from z
"""


def q_st_transform_azimuthal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform beyond Mercator/UTM (r4, VERDICT missing #3): LAEA
    (equal-area continental grids, EPSG:9820 method) and AEQD (range
    rings) spherical closed forms, centered (10°E, 45°N) — pure Column
    trig mirrored op-for-op in the oracle (``crs.sql_laea``/``sql_aeqd``);
    reference does these via GeoTools proj (FunctionsGeoTools.java)."""
    from sedona_spark.functions.crs import st_transform_aeqd, st_transform_laea

    z = zones_from_nation(spark, sf_dir)
    lx, ly = st_transform_laea(F.col("zcx"), F.col("zcy"), 10.0, 45.0)
    ax, ay = st_transform_aeqd(F.col("zcx"), F.col("zcy"), 10.0, 45.0)
    return z.select(
        "n_nationkey",
        F.round(lx, 3).alias("laea_x"),
        F.round(ly, 3).alias("laea_y"),
        F.round(ax, 3).alias("aeqd_x"),
        F.round(ay, 3).alias("aeqd_y"),
    )


def _st_transform_azimuthal_sql() -> str:
    from sedona_spark.functions.crs import sql_aeqd, sql_laea

    lx, ly = sql_laea("zcx", "zcy", 10.0, 45.0)
    ax, ay = sql_aeqd("zcx", "zcy", 10.0, 45.0)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round({lx}, 3) as laea_x,
       round({ly}, 3) as laea_y,
       round({ax}, 3) as aeqd_x,
       round({ay}, 3) as aeqd_y
from z
"""


def q_st_transform_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambert Conformal Conic (r5, VERDICT r4 next-round #5): the
    EPSG-table dispatch path (``crs.st_transform_epsg(2154)`` —
    Lambert-93 parameters, spherical closed form per Snyder §15) plus an
    in-band round-trip residual through the closed-form inverse: both
    engines must agree on (x, y) to round(3) meters and the residual must
    be identically 0 after round(6) degrees. Reference capability:
    arbitrary-CRS ST_Transform via GeoTools (FunctionsGeoTools.java)."""
    from sedona_spark.functions.crs import (
        CONIC_EPSG,
        st_transform_epsg,
        st_transform_lcc_inv,
    )

    _, lon0, lat0, sp1, sp2, fe, fn = CONIC_EPSG[2154]
    z = zones_from_nation(spark, sf_dir)
    x, y = st_transform_epsg(F.col("zcx"), F.col("zcy"), 2154)
    z2 = z.select("n_nationkey", "zcx", "zcy", x.alias("x"), y.alias("y"))
    lon2, lat2 = st_transform_lcc_inv(
        F.col("x"), F.col("y"), lon0, lat0, sp1, sp2, fe, fn
    )
    return z2.select(
        "n_nationkey",
        F.round(F.col("x"), 3).alias("lcc_x"),
        F.round(F.col("y"), 3).alias("lcc_y"),
        F.round(lon2 - F.col("zcx"), 6).alias("dlon"),
        F.round(lat2 - F.col("zcy"), 6).alias("dlat"),
    )


def _st_transform_lcc_sql() -> str:
    from sedona_spark.functions.crs import CONIC_EPSG, sql_lcc

    _, lon0, lat0, sp1, sp2, fe, fn = CONIC_EPSG[2154]
    x, y = sql_lcc("zcx", "zcy", lon0, lat0, sp1, sp2, fe, fn)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round({x}, 3) as lcc_x,
       round({y}, 3) as lcc_y,
       0e0 as dlon,
       0e0 as dlat
from z
"""


def q_st_transform_albers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Albers Equal-Area Conic (r5): EPSG:5070 (Conus Albers) parameters,
    spherical closed form per Snyder §14, with the closed-form inverse as
    an in-band round-trip residual (0 at round(6) degrees)."""
    from sedona_spark.functions.crs import (
        CONIC_EPSG,
        st_transform_albers_inv,
        st_transform_epsg,
    )

    _, lon0, lat0, sp1, sp2, fe, fn = CONIC_EPSG[5070]
    z = zones_from_nation(spark, sf_dir)
    x, y = st_transform_epsg(F.col("zcx"), F.col("zcy"), 5070)
    z2 = z.select("n_nationkey", "zcx", "zcy", x.alias("x"), y.alias("y"))
    lon2, lat2 = st_transform_albers_inv(
        F.col("x"), F.col("y"), lon0, lat0, sp1, sp2, fe, fn
    )
    return z2.select(
        "n_nationkey",
        F.round(F.col("x"), 3).alias("alb_x"),
        F.round(F.col("y"), 3).alias("alb_y"),
        F.round(lon2 - F.col("zcx"), 6).alias("dlon"),
        F.round(lat2 - F.col("zcy"), 6).alias("dlat"),
    )


def _st_transform_albers_sql() -> str:
    from sedona_spark.functions.crs import CONIC_EPSG, sql_albers

    _, lon0, lat0, sp1, sp2, fe, fn = CONIC_EPSG[5070]
    x, y = sql_albers("zcx", "zcy", lon0, lat0, sp1, sp2, fe, fn)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round({x}, 3) as alb_x,
       round({y}, 3) as alb_y,
       0e0 as dlon,
       0e0 as dlat
from z
"""


def q_st_transform_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polar stereographic (r5): EPSG:3413 (NSIDC Sea Ice North)
    parameters via the EPSG-table dispatch, spherical closed form per
    Snyder §21, with the closed-form inverse as an in-band round-trip
    residual (longitude residual normalized mod 360 — the inverse
    recovers λ in (λ₀−180, λ₀+180], which wraps for far-east points)."""
    from sedona_spark.functions.crs import (
        CONIC_EPSG,
        st_transform_epsg,
        st_transform_stereo_inv,
    )

    _, lon0, lat_ts = CONIC_EPSG[3413][:3]
    z = zones_from_nation(spark, sf_dir)
    x, y = st_transform_epsg(F.col("zcx"), F.col("zcy"), 3413)
    z2 = z.select("n_nationkey", "zcx", "zcy", x.alias("x"), y.alias("y"))
    lon2, lat2 = st_transform_stereo_inv(
        F.col("x"), F.col("y"), lon0, lat_ts, False
    )
    dlon = F.pmod(lon2 - F.col("zcx") + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    return z2.select(
        "n_nationkey",
        F.round(F.col("x") / 1e3, 3).alias("st_x_km"),
        F.round(F.col("y") / 1e3, 3).alias("st_y_km"),
        F.round(dlon, 6).alias("dlon"),
        F.round(lat2 - F.col("zcy"), 6).alias("dlat"),
    )


def _st_transform_stereo_sql() -> str:
    from sedona_spark.functions.crs import CONIC_EPSG, sql_stereo

    _, lon0, lat_ts = CONIC_EPSG[3413][:3]
    x, y = sql_stereo("zcx", "zcy", lon0, lat_ts, False)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round(({x}) / 1e3, 3) as st_x_km,
       round(({y}) / 1e3, 3) as st_y_km,
       0e0 as dlon,
       0e0 as dlat
from z
"""


def q_st_area_spheroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic area + perimeter (r5, VERDICT r4 next-round #10;
    reference ST_AreaSpheroid / ST_LengthSpheroid via GeographicLib,
    ``common/.../sphere/Spheroid.java``). Spark runs the GENERIC edge
    folds (Chamberlain–Duquette spherical excess; Andoyer–Lambert
    perimeter) over the zone rect ring; the oracle is the INDEPENDENT
    closed form — spherical band area R²·Δλ·Δsinφ, which the excess
    formula reproduces exactly for graticule-aligned rects, plus the four
    op-mirrored Andoyer edge distances."""
    from sedona_spark.functions.st_measures import (
        st_area_sphere,
        st_perimeter_spheroid,
    )

    z = rect_zones_from_nation(spark, sf_dir)
    return z.select(
        "n_nationkey",
        F.round(st_area_sphere(F.col("ring")) / F.lit(1e6), 3).alias("area_km2"),
        F.round(st_perimeter_spheroid(F.col("ring")), 3).alias("perim_m"),
    )


def _st_area_spheroid_sql() -> str:
    from sedona_spark.functions.st_measures import _EARTH_RADIUS_M
    from sedona_spark.sql_registry import _spheroid_body

    def sphd(lon1, lat1, lon2, lat2):
        b = _spheroid_body()
        for tok, rep in (("lon1", lon1), ("lat1", lat1),
                         ("lon2", lon2), ("lat2", lat2)):
            b = b.replace(tok, rep)
        return f"({b})"

    rad = "(pi() / 180e0)"
    x0, x1 = "(zcx - hx)", "(zcx + hx)"
    y0, y1 = "(zcy - hy)", "(zcy + hy)"
    area = (f"{_EARTH_RADIUS_M!r} * {_EARTH_RADIUS_M!r} "
            f"* (2e0 * hx * {rad}) * (sin({y1} * {rad}) - sin({y0} * {rad}))")
    perim = " + ".join([
        sphd(x0, y0, x1, y0),   # bottom
        sphd(x1, y0, x1, y1),   # right
        sphd(x1, y1, x0, y1),   # top
        sphd(x0, y1, x0, y0),   # left
    ])
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round(abs({area}) / 1e6, 3) as area_km2,
       round({perim}, 3) as perim_m
from z
"""


def q_st_editor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Editor family in one pass (r4, VERDICT missing #4): ST_LineMerge
    sews the zone rect's 4 shuffled boundary segments into one closed
    chain (5 packed vertices); ST_Snap pulls a (0.3, 0.3)-shifted rect
    back onto the zone rect's vertices (area restored to 4·hx·hy);
    ST_Split halves the diamond with a vertical blade through the center
    (2 pieces, each hx·hy); ST_Reverse/ST_ForceCCW round-trip preserves
    area and fixes orientation (pure Column). References:
    Catalog.scala:130 (LineMerge), :137 (Snap), :223 (Split)."""
    from sedona_spark.functions.st import (
        st_force_ccw,
        st_line_merge,
        st_reverse,
        st_ring_stats,
        st_rings_stats,
        st_snap,
        st_split_line,
    )
    from sedona_spark.functions.st_measures import st_area

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    x0, x1, y0, y1 = cx - hx, cx + hx, cy - hy, cy + hy
    # 4 boundary segments, deliberately out of order and mixed direction
    segs = F.array(
        F.array(x1, y0, x1, y1),
        F.array(x0, y0, x1, y0),
        F.array(x0, y1, x0, y0),
        F.array(x1, y1, x0, y1),
    )
    merged = st_line_merge(segs)
    mstats = st_rings_stats(merged)
    rect = F.array(x0, y0, x1, y0, x1, y1, x0, y1)
    shifted = F.array(
        x0 + 0.3, y0 + 0.3, x1 + 0.3, y0 + 0.3,
        x1 + 0.3, y1 + 0.3, x0 + 0.3, y1 + 0.3,
    )
    snapped = st_snap(shifted, rect, F.lit(1.0))
    dia = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    halves = st_rings_stats(st_split_line(dia, cx, cy - 1.0, cx, cy + 1.0))
    # CW input forced CCW must flip the fold's sign; reverse preserves area
    from sedona_spark.functions.st import _signed_area2

    cw_rect = st_reverse(rect)
    step = z.select(
        "n_nationkey",
        mstats.getField("n_rings").alias("merged_n"),
        mstats.getField("nv").alias("merged_nv"),
        F.round(st_ring_stats(snapped).getField("area"), 6).alias("snap_area"),
        halves.getField("n_rings").alias("split_n"),
        F.round(halves.getField("area"), 6).alias("split_area"),
        F.round(st_area(cw_rect), 6).alias("rev_area"),
        st_force_ccw(cw_rect).alias("fccw"),
    )
    return step.select(
        "n_nationkey", "merged_n", "merged_nv", "snap_area",
        "split_n", "split_area", "rev_area",
        F.round(F.signum(_signed_area2(F.col("fccw"))), 1).alias("ccw_sign"),
    )


def _st_editor_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       cast(1 as bigint) as merged_n,
       cast(4 as bigint) as merged_nv,
       round(4e0 * hx * hy, 6) as snap_area,
       cast(2 as bigint) as split_n,
       round(2e0 * hx * hy, 6) as split_area,
       round(4e0 * hx * hy, 6) as rev_area,
       1e0 as ccw_sign
from z
"""


def q_st_buffer_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer over LINESTRING (r4): horizontal segment of length 2·hx
    buffered by r = hy/2 with quad_segs=8 → one canonical ring of exactly
    34 vertices (rect + two half 32-gons sharing the ±90° vertices) whose
    polygonal area is CLOSED FORM: 2·r·L + 16·sin(π/16)·r² (the inscribed
    32-gon's half disks split exactly on the cap chord line). Reference:
    JTS buffer quadrantSegments, ``Functions.java``."""
    from sedona_spark.functions.st import st_buffer_line, st_rings_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    path = F.array(cx - hx, cy, cx + hx, cy)
    s = st_rings_stats(st_buffer_line(path, hy / 2, 8))
    return z.select(
        "n_nationkey",
        s.getField("n_rings").alias("n_rings"),
        s.getField("nv").alias("nv"),
        F.round(s.getField("area"), 6).alias("buf_area"),
    )


def _st_buffer_line_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       cast(1 as bigint) as n_rings,
       cast(34 as bigint) as nv,
       round(2e0 * (hy / 2e0) * (2e0 * hx)
             + 16e0 * sin(pi() / 16e0) * (hy / 2e0) * (hy / 2e0), 6)
         as buf_area
from z
"""


def q_spherical_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOGRAPHY-tier PIP (r4): points vs spherical quads whose edges are
    GREAT-CIRCLE arcs, with most zones wrapping the ANTIMERIDIAN (lon
    spans up to 222°≡−138°) — exactly where planar PIP inverts. Spark
    side = the winding-angle kernel; oracle = an INDEPENDENT formulation
    (convex spherical polygon ⇔ positive triple product det[Vi,Vi+1,P]
    for all four CCW edges, pure trig SQL) — two disjoint derivations
    agreeing on 10k × 25 classifications. Brute-force broadcast pairing
    here (25 zones); at scale the same predicate rides the cell join
    (cover cells of the lon/lat envelope ± great-circle bulge).
    Reference seam: GeographyUDT.scala geography type."""
    from sedona_spark.functions.st import st_contains_sphere

    # events.parquet is a couple of input splits at test SFs, but the
    # broadcast cross join fans every point out 25× before the prefilter
    # — spread the scan so the fan-out+filter uses the whole cluster
    # (same single-split rationale as _spread_docs)
    pts = points_from_events(spark, sf_dir).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")))
    na = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    k = F.col("n_nationkey")
    lon0 = (k * 37 % 75 + 130).cast("double")
    lat0 = (k * 53 % 80 - 40).cast("double") + 0.5
    dl = F.lit(18.0)
    t = (k % 7 + 12).cast("double") + 0.25
    # broadcast only the SCALAR zone terms; the 8-double ring array is
    # assembled AFTER the prefilter so the cross join never copies an
    # array per candidate row (at 10× rows the per-row array copy was
    # the join's dominant byte traffic — guide §2.3 "project before the
    # exchange", applied to a broadcast join's output)
    zz = na.select(
        "n_nationkey",
        lon0.alias("_lon0"), lat0.alias("_lat0"), t.alias("_t"),
    )
    j = pts.crossJoin(F.broadcast(zz))
    # pure-Column prefilter before the kernel: the quad's side edges ARE
    # meridians, so the wrap-aware lon test is EXACT; the lat band is the
    # vertex span padded by the great-circle bulge bound (max edge
    # deviation from the parallel is < 8° at dl=18°, |lat|≤69) —
    # candidates drop ~20× and the UDF sees only the band
    dlon = F.abs(F.pmod(F.col("x") - F.col("_lon0") + 180.0, 360.0) - 180.0)
    j = j.filter(
        (dlon <= 18.0)
        & (F.col("y") >= F.col("_lat0") - F.col("_t") - 8.0)
        & (F.col("y") <= F.col("_lat0") + F.col("_t") + 8.0)
    )
    sring = F.array(
        F.col("_lon0") - dl, F.col("_lat0") - F.col("_t"),
        F.col("_lon0") + dl, F.col("_lat0") - F.col("_t"),
        F.col("_lon0") + dl, F.col("_lat0") + F.col("_t"),
        F.col("_lon0") - dl, F.col("_lat0") + F.col("_t"),
    )
    return (
        j.filter(st_contains_sphere(sring, F.col("x"), F.col("y")))
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_in"))
    )


def _spherical_pip_sql() -> str:
    def unit(lon, lat):
        return (
            f"cos(({lat}) * pi() / 180e0) * cos(({lon}) * pi() / 180e0)",
            f"cos(({lat}) * pi() / 180e0) * sin(({lon}) * pi() / 180e0)",
            f"sin(({lat}) * pi() / 180e0)",
        )

    verts = [
        ("lon0 - 18e0", "lat0 - t"), ("lon0 + 18e0", "lat0 - t"),
        ("lon0 + 18e0", "lat0 + t"), ("lon0 - 18e0", "lat0 + t"),
    ]
    px, py, pz = unit("p.x", "p.y")
    conds = []
    for i in range(4):
        ax, ay, az = unit(*verts[i])
        bx, by, bz = unit(*verts[(i + 1) % 4])
        det = (
            f"(({ay})*({bz}) - ({az})*({by})) * ({px})"
            f" + (({az})*({bx}) - ({ax})*({bz})) * ({py})"
            f" + (({ax})*({by}) - ({ay})*({bx})) * ({pz})"
        )
        conds.append(f"({det}) > 0e0")
    cond = " and ".join(conds)
    return f"""
with z as (
  select n_nationkey,
         cast(n_nationkey * 37 % 75 + 130 as double) as lon0,
         cast(n_nationkey * 53 % 80 - 40 as double) + 5e-1 as lat0,
         cast(n_nationkey % 7 + 12 as double) + 25e-2 as t
  from nation),
p as ({SQL_POINTS})
select z.n_nationkey, cast(count(*) as bigint) as n_in
from p, z
where {cond}
group by z.n_nationkey
"""


def q_shapefile_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapefile READ path as a driver query (r5, VERDICT r4 what's-wrong
    #5; reference ``ShapefileDataSource.scala``): the zone rects are
    written as a deterministic .shp/.shx fixture (driver-side sink,
    ordered by n_nationkey so rec_id == nationkey), then read back through
    the DISTRIBUTED .shx-range-partitioned parser, and the parsed rings
    are reduced to winding-invariant stats the DuckDB oracle reproduces
    from nation alone (area = 4·hx·hy, 4-vertex single shell, envelope
    corners)."""
    import os as _os

    from sedona_spark.functions.st import st_rings_stats
    from sedona_spark.sources.shapefile import read_shapefile, write_shapefile

    base = f"/tmp/sedona_spark_shp_{_os.path.basename(sf_dir.rstrip('/'))}/zones"
    _os.makedirs(_os.path.dirname(base), exist_ok=True)
    z = rect_zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.array(F.col("ring")).alias("geom")
    )
    write_shapefile(z, base, kind="polygon", order_col="n_nationkey")
    back = read_shapefile(spark, base)
    s = st_rings_stats(F.col("geom"))
    return back.select(
        F.col("rec_id").cast("long").alias("rec_id"),
        "kind",
        F.round(s["area"], 6).alias("area"),
        s["n_rings"].cast("long").alias("n_rings"),
        (F.size(F.element_at(F.col("geom"), 1)) / 2).cast("long").alias("npts"),
        F.round(F.array_min(F.filter(
            F.element_at(F.col("geom"), 1),
            lambda v: F.lit(True))), 6).alias("vmin"),
    )


def _shapefile_read_sql() -> str:
    # vmin = min over the flattened ring values = min(xmin, ymin)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey as rec_id,
       'polygon' as kind,
       round(4e0 * hx * hy, 6) as area,
       cast(1 as bigint) as n_rings,
       cast(4 as bigint) as npts,
       round(least(zcx - hx, zcy - hy), 6) as vmin
from z
"""


def q_geopackage_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoPackage source (r5 — closes the r4 'out of scope' row: the
    container is SQLite, which the Python stdlib reads, so no external
    data or library is needed; OGC 12-128r18 + the engine's own WKB
    parser). Writes the zone rects as a spec-compliant .gpkg
    (driver-side sink, ordered so fid == n_nationkey + 1), reads it back
    through the DISTRIBUTED rowid-range reader, and reduces to
    winding-invariant stats the oracle recomputes from nation."""
    import os as _os

    from sedona_spark.functions.st import st_rings_stats
    from sedona_spark.sources.geopackage import read_geopackage, write_geopackage

    base = f"/tmp/sedona_spark_gpkg_{_os.path.basename(sf_dir.rstrip('/'))}"
    _os.makedirs(base, exist_ok=True)
    path = f"{base}/zones.gpkg"
    if _os.path.exists(path):
        _os.remove(path)
    z = rect_zones_from_nation(spark, sf_dir).select(
        F.col("n_nationkey").cast("long").alias("nkey"),
        F.array(F.col("ring")).alias("geom"),
    )
    write_geopackage(z, path, table="zones", order_col="nkey")
    back = read_geopackage(spark, path, table="zones")
    s = st_rings_stats(F.col("geom"))
    return back.select(
        F.col("fid").cast("long").alias("fid"),
        F.col("nkey").cast("long").alias("nkey"),
        "kind",
        F.round(s["area"], 6).alias("area"),
        s["n_rings"].cast("long").alias("n_rings"),
    )


def _geopackage_read_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey + 1 as fid,
       n_nationkey as nkey,
       'polygon' as kind,
       round(4e0 * hx * hy, 6) as area,
       cast(1 as bigint) as n_rings
from z
"""


def q_osm_pbf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM PBF source (r5 — closes the second r4 'out of scope' format:
    the container is protobuf wire format + zlib, both stdlib-parseable
    with a hand-rolled varint/zigzag codec over the frozen published
    schema; reference ``OsmPbfFormat.scala``). Writes the event points
    as DenseNodes blocks (delta + zigzag + packed varint, zlib per
    blob), re-reads them through the DISTRIBUTED blob-framed reader, and
    returns the format's native integer 1e-7-degree coordinates — exact
    ints the oracle recomputes from events directly."""
    import os as _os

    from sedona_spark.sources.osmpbf import read_osm_pbf, write_osm_pbf

    base = f"/tmp/sedona_spark_pbf_{_os.path.basename(sf_dir.rstrip('/'))}"
    _os.makedirs(base, exist_ok=True)
    path = f"{base}/nodes.osm.pbf"
    pts = points_from_events(spark, sf_dir).select(
        F.col("event_id").alias("id"), F.col("x").alias("lon"),
        F.col("y").alias("lat"),
    )
    write_osm_pbf(pts, path, nodes_per_block=2048, order_col="id")
    back = read_osm_pbf(spark, path)
    return back.select("node_id", "lon_i7", "lat_i7")


def _osm_pbf_read_sql() -> str:
    return f"""
with z as ({SQL_POINTS})
select event_id as node_id,
       cast(round(x * 1e7) as bigint) as lon_i7,
       cast(round(y * 1e7) as bigint) as lat_i7
from z
"""


def q_osm_pbf_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM PBF Ways-with-tags + Relations (r6, VERDICT r5 what's-missing
    #4 — the full primitive set of ``OsmPbfFormat.scala``): per nation
    row, one tagged way (keys/vals through the per-block stringtable) and
    one relation (delta-coded memids, roles_sid, member-type enum) are
    written driver-side and re-read through the DISTRIBUTED blob-framed
    readers; the oracle recomputes every scalar from the id formulas."""
    import os as _os

    from sedona_spark.sources.osmpbf import (
        read_osm_pbf, read_osm_pbf_relations, read_osm_pbf_ways,
        write_osm_pbf, write_osm_pbf_relations, write_osm_pbf_ways,
    )

    base = f"/tmp/sedona_spark_pbf_{_os.path.basename(sf_dir.rstrip('/'))}"
    _os.makedirs(base, exist_ok=True)
    z = zones_from_nation(spark, sf_dir)
    n = F.col("n_nationkey").cast("long")
    ways = z.select(
        n.alias("way_id"),
        F.array(n * 100, n * 100 + 7, n * 2 + 5).alias("refs"),
        F.map_from_arrays(
            F.array(F.lit("highway"), F.lit("name")),
            F.array(
                F.concat(F.lit("type"), (n % 4).cast("string")),
                F.concat(F.lit("way"), n.cast("string")),
            ),
        ).alias("tags"),
    )
    wpath = f"{base}/ways_tagged.osm.pbf"
    write_osm_pbf_ways(ways, wpath, tags_col="tags", ways_per_block=7,
                       order_col="way_id")
    member = F.struct(
        (n * 100).alias("ref"), F.lit("node").alias("mtype"),
        F.lit("via").alias("role"),
    )
    member2 = F.struct(
        n.alias("ref"), F.lit("way").alias("mtype"),
        F.concat(F.lit("outer"), (n % 3).cast("string")).alias("role"),
    )
    rels = z.select(
        (n + 1000).alias("rel_id"),
        F.array(member, member2).alias("members"),
        F.map_from_arrays(
            F.array(F.lit("type")), F.array(F.lit("route"))).alias("tags"),
    )
    rpath = f"{base}/rels.osm.pbf"
    write_osm_pbf_relations(rels, rpath, tags_col="tags",
                            rels_per_block=6, order_col="rel_id")
    w = read_osm_pbf_ways(spark, wpath).select(
        "way_id",
        F.size("refs").cast("long").alias("n_refs"),
        F.get(F.col("refs"), 2).alias("last_ref"),
        F.col("tags")["highway"].alias("hw"),
        F.col("tags")["name"].alias("nm"),
    )
    r = read_osm_pbf_relations(spark, rpath).select(
        (F.col("rel_id") - 1000).alias("way_id"),
        F.size("members").cast("long").alias("n_members"),
        F.get(F.col("members"), 1)["role"].alias("m2_role"),
        F.get(F.col("members"), 1)["mtype"].alias("m2_type"),
        F.get(F.col("members"), 0)["ref"].alias("m1_ref"),
        F.col("tags")["type"].alias("rel_type"),
    )
    nodes = z.select(
        n.alias("id"),
        (F.col("zcx") / 4.0).alias("lon"), (F.col("zcy") / 4.0).alias("lat"),
        F.map_from_arrays(
            F.array(F.lit("amenity")),
            F.array(F.concat(F.lit("a"), (n % 5).cast("string"))),
        ).alias("tags"),
    )
    npath = f"{base}/nodes_tagged.osm.pbf"
    write_osm_pbf(nodes, npath, tags_col="tags", nodes_per_block=9,
                  order_col="id")
    nd = read_osm_pbf(spark, npath).select(
        F.col("node_id").alias("way_id"),
        F.col("tags")["amenity"].alias("nd_am"),
    )
    return w.join(r, "way_id").join(nd, "way_id")


def _osm_pbf_tags_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select cast(n_nationkey as bigint) as way_id,
       cast(3 as bigint) as n_refs,
       cast(n_nationkey * 2 + 5 as bigint) as last_ref,
       'type' || cast(n_nationkey % 4 as varchar) as hw,
       'way' || cast(n_nationkey as varchar) as nm,
       cast(2 as bigint) as n_members,
       'outer' || cast(n_nationkey % 3 as varchar) as m2_role,
       'way' as m2_type,
       cast(n_nationkey * 100 as bigint) as m1_ref,
       'route' as rel_type,
       'a' || cast(n_nationkey % 5 as varchar) as nd_am
from z
"""


def q_st_transform_datum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datum-bound national grids (r6, VERDICT r5 what's-missing #2
    datum-shift half; reference: GeoTools-backed any-datum ST_Transform,
    ``FunctionsGeoTools.java``): WGS84 → 7-param Helmert (position
    vector) → Bowring geodetic → per-ellipsoid Karney–Krüger TM, for
    OSGB36/Airy-1830 (EPSG:27700) and DHDN/Bessel-1841 Gauss–Krüger z4
    (EPSG:31468). Zone centers are remapped into each grid's valid box;
    ``rt_ok`` is a Spark-side inverse-chain round trip (tmerc⁻¹ →
    Helmert⁻¹, tolerance 5e-7° ≈ 5 cm — the first-order Helmert negation
    error)."""
    from sedona_spark.functions.crs import (
        _transform_epsg_inv_udf, _transform_epsg_udf,
    )

    z = zones_from_nation(spark, sf_dir)
    glon = F.lit(-4.0) + (F.col("zcx") + 180.0) / 360.0 * 6.0
    glat = F.lit(50.0) + (F.col("zcy") + 90.0) / 180.0 * 7.0
    klon = F.lit(9.0) + (F.col("zcx") + 180.0) / 360.0 * 6.0
    klat = F.lit(47.0) + (F.col("zcy") + 90.0) / 180.0 * 7.0
    # the Arrow-batched dispatch pair, NOT the Column chains: Catalyst's
    # CollapseProject would re-inline the forward Column tree into the
    # inverse chain (multiplicative expression blowup — the exact
    # failure mode VERDICT r5 #2 flagged for the inline-CASE transform);
    # the pandas UDFs are opaque nodes, so the whole query is ~6 plan
    # nodes and the wall is data-bound
    os_ = _transform_epsg_udf(glon, glat, F.lit(27700))
    gk = _transform_epsg_udf(klon, klat, F.lit(31468))
    z2 = z.select(
        "n_nationkey", glon.alias("glon"), glat.alias("glat"),
        os_["x"].alias("os_e"), os_["y"].alias("os_n"),
        gk["x"].alias("gk_e"), gk["y"].alias("gk_n"),
    )
    back = _transform_epsg_inv_udf(
        F.col("os_e"), F.col("os_n"), F.lit(27700))
    rt_ok = (F.abs(back["lon"] - F.col("glon")) < 5e-7) & \
        (F.abs(back["lat"] - F.col("glat")) < 5e-7)
    cm = lambda c: F.floor(c * 100.0 + 0.5) / 100.0  # noqa: E731
    return z2.select(
        "n_nationkey",
        cm(F.col("os_e")).alias("os_e"),
        cm(F.col("os_n")).alias("os_n"),
        cm(F.col("gk_e")).alias("gk_e"),
        cm(F.col("gk_n")).alias("gk_n"),
        rt_ok.alias("rt_ok"),
    )


def _st_transform_datum_sql() -> str:
    from sedona_spark.functions.crs import (
        DATUM_TM_EPSG, ELLIPSOIDS, TMERC_EPSG,
        sql_bowring, sql_helmert_ecef, sql_tmerc,
    )

    def grid(code: int, lon_expr: str, lat_expr: str, px: str):
        datum, ell = DATUM_TM_EPSG[code]
        lon0, lat0, k0, fe, fn = TMERC_EPSG[code]
        gx, gy, gz = sql_helmert_ecef(lon_expr, lat_expr, datum)
        dlon, dlat = sql_bowring(f"{px}x", f"{px}y", f"{px}z", ell)
        tx, ty = sql_tmerc(f"{px}lon", f"{px}lat", f"{float(lon0)!r}",
                           k0, lat0, fe, f"{float(fn)!r}",
                           ell=ELLIPSOIDS[ell])
        return (f"{gx} as {px}x, {gy} as {px}y, {gz} as {px}z",
                f"{dlon} as {px}lon, {dlat} as {px}lat", tx, ty)

    ge, gg, os_x, os_y = grid(
        27700, "(-4e0 + (zcx + 180e0) / 360e0 * 6e0)",
        "(50e0 + (zcy + 90e0) / 180e0 * 7e0)", "g")
    ke, kg, gk_x, gk_y = grid(
        31468, "(9e0 + (zcx + 180e0) / 360e0 * 6e0)",
        "(47e0 + (zcy + 90e0) / 180e0 * 7e0)", "k")
    return f"""
with z as ({SQL_ZONES}),
e as (select n_nationkey, {ge}, {ke} from z),
g as (select n_nationkey, {gg}, {kg} from e)
select n_nationkey,
       floor({os_x} * 100e0 + 5e-1) / 100e0 as os_e,
       floor({os_y} * 100e0 + 5e-1) / 100e0 as os_n,
       floor({gk_x} * 100e0 + 5e-1) / 100e0 as gk_e,
       floor({gk_y} * 100e0 + 5e-1) / 100e0 as gk_n,
       true as rt_ok
from g
"""


def q_viz_pixelize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viz tier (r5 — closes the survey's LAST ⬜ tier; reference
    ``sedona_viz/expressions/{Pixelize,Colorize,Render}.scala``): each
    zone rect is pixelized onto a per-nation w×w grid over its 2×
    envelope (w = 16 + 8·(n mod 5), so the rect covers exactly the
    middle half per axis → closed-form pixel set), colorized, and
    rendered per-tile through the applyInPandas painter. Oracle: pixel
    count w²/4, exact min/max pixel ids, painted count, non-empty
    image."""
    from sedona_spark.viz import render_tiles, st_colorize, st_pixelize

    z = zones_from_nation(spark, sf_dir)
    w = (F.lit(16) + (F.col("n_nationkey") % 5) * 8).cast("int")
    ring = F.array(
        F.col("zcx") - F.col("hx"), F.col("zcy") - F.col("hy"),
        F.col("zcx") + F.col("hx"), F.col("zcy") - F.col("hy"),
        F.col("zcx") + F.col("hx"), F.col("zcy") + F.col("hy"),
        F.col("zcx") - F.col("hx"), F.col("zcy") + F.col("hy"),
    )
    env = F.array(
        F.col("zcx") - 2 * F.col("hx"), F.col("zcy") - 2 * F.col("hy"),
        F.col("zcx") + 2 * F.col("hx"), F.col("zcy") + 2 * F.col("hy"),
    )
    px = z.select(
        "n_nationkey", w.alias("w"),
        st_pixelize(ring, env, w, w).alias("pix"),
    )
    long = px.select(
        "n_nationkey", "w", F.explode("pix").alias("pixel_id")
    ).withColumn("color", st_colorize(F.lit(1.0), 1.0)).withColumn(
        "tile_id", F.col("n_nationkey").cast("long")
    )
    stats = long.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_pix"),
        F.min("pixel_id").alias("min_id"),
        F.max("pixel_id").alias("max_id"),
    )
    # per-tile paint uses the LARGEST grid so every pixel id fits
    rendered = render_tiles(long, w=48, h=48)
    return (
        stats.join(rendered, stats["n_nationkey"] == rendered["tile_id"])
        .select(
            "n_nationkey",
            "n_pix",
            "min_id",
            "max_id",
            "n_painted",
            (F.length("png") > 0).alias("has_png"),
        )
    )


def _viz_pixelize_sql() -> str:
    return f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, 16 + (n_nationkey % 5) * 8 as w from z)
select n_nationkey,
       cast(w * w / 4 as bigint) as n_pix,
       cast((w / 4) * w + (w / 4) as bigint) as min_id,
       cast((3 * w / 4 - 1) * w + (3 * w / 4 - 1) as bigint) as max_id,
       cast(w * w / 4 as bigint) as n_painted,
       true as has_png
from g
"""


def q_stac_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC catalog source (r5 — closes the last r4 'out of scope'
    source row for the local-mirror case: STAC is plain JSON; only the
    HTTP fetch was network-bound; reference ``StacDataSource.scala``).
    Synthesizes a spec-shaped catalog → collection → 25 item Features
    from the zone rects, walks the link graph driver-side (metadata
    only), reads the items through Spark's DISTRIBUTED JSON scan, and
    reduces to closed-form-oracle columns (ring area via the engine's
    measure fold, bbox width, asset count)."""
    import json as _json
    import os as _os

    from sedona_spark.functions.st_measures import st_area
    from sedona_spark.sources.stac import read_stac

    base = f"/tmp/sedona_spark_stac_{_os.path.basename(sf_dir.rstrip('/'))}"
    items_dir = f"{base}/items"
    _os.makedirs(items_dir, exist_ok=True)
    zones = rect_zones_from_nation(spark, sf_dir).collect()  # 25 rows
    links = [{"rel": "child", "href": "./collection.json"}]
    with open(f"{base}/catalog.json", "w") as f:
        _json.dump({"type": "Catalog", "id": "zones", "stac_version": "1.0.0",
                    "links": links, "description": "zone catalog"}, f)
    item_links = []
    for z in zones:
        k = z["n_nationkey"]
        ring = [[z["xmin"], z["ymin"]], [z["xmax"], z["ymin"]],
                [z["xmax"], z["ymax"]], [z["xmin"], z["ymax"]],
                [z["xmin"], z["ymin"]]]
        item = {
            "type": "Feature", "stac_version": "1.0.0",
            "id": f"zone-{k:03d}", "collection": "zones",
            "bbox": [z["xmin"], z["ymin"], z["xmax"], z["ymax"]],
            "geometry": {"type": "Polygon", "coordinates": [ring]},
            "properties": {"datetime": f"2020-01-{(k % 28) + 1:02d}"
                                       "T00:00:00Z"},
            "assets": {"image": {"href": f"./tiles/{k}.bin"},
                       "thumbnail": {"href": f"./thumb/{k}.bin"}},
            "links": [],
        }
        href = f"items/zone-{k:03d}.json"
        with open(f"{base}/{href}", "w") as f:
            _json.dump(item, f)
        item_links.append({"rel": "item", "href": f"./{href}"})
    with open(f"{base}/collection.json", "w") as f:
        _json.dump({"type": "Collection", "id": "zones",
                    "stac_version": "1.0.0", "license": "CC0",
                    "description": "zones", "extent": {},
                    "links": item_links}, f)
    items = read_stac(spark, f"{base}/catalog.json")
    return items.select(
        "item_id",
        "collection",
        "datetime",
        F.round(st_area(F.element_at(F.col("geom"), 1)), 6).alias("area"),
        F.round(F.element_at("bbox", 3) - F.element_at("bbox", 1), 6)
            .alias("bbox_w"),
        F.size(F.map_keys(F.col("assets"))).cast("long").alias("n_assets"),
    )


def _stac_read_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select 'zone-' || lpad(cast(n_nationkey as varchar), 3, '0') as item_id,
       'zones' as collection,
       '2020-01-' || lpad(cast((n_nationkey % 28) + 1 as varchar), 2, '0')
           || 'T00:00:00Z' as datetime,
       round(4e0 * hx * hy, 6) as area,
       round(2e0 * hx, 6) as bbox_w,
       cast(2 as bigint) as n_assets
from z
"""


def q_geojson_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON interop (r4, RFC 7946; reference GeoJSONFileFormat.scala):
    the geom_from_wkt fixture re-expressed as GeoJSON — even nations a
    Polygon with an interior ring, odd nations a two-part MultiPolygon,
    integer coordinates so the canonical emission is string-exact in SQL
    (json floats print as 'N.0' = printf '%d.0'). Parse → ring list →
    stats → canonical GeoJSON emission, oracle-checked byte-for-byte."""
    from sedona_spark.functions.st import (
        st_geom_rings_from_geojson,
        st_rings_as_geojson,
        st_rings_stats,
    )

    na = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    k = F.col("n_nationkey")
    w, h, hx2, mx = k + 10, (k % 5) + 8, (k % 3) + 4, k + 100
    poly = F.format_string(
        '{"type": "Polygon", "coordinates": '
        "[[[0, 0], [%d, 0], [%d, %d], [0, %d], [0, 0]], "
        "[[2, 2], [2, 4], [%d, 4], [%d, 2], [2, 2]]]}",
        w, w, h, h, hx2, hx2,
    )
    mpoly = F.format_string(
        '{"type": "MultiPolygon", "coordinates": '
        "[[[[0, 0], [%d, 0], [%d, %d], [0, %d], [0, 0]]], "
        "[[[100, 0], [%d, 0], [%d, 3], [100, 3], [100, 0]]]]}",
        w, w, h, h, mx, mx,
    )
    rings = st_geom_rings_from_geojson(
        F.when(k % 2 == 0, poly).otherwise(mpoly)
    )
    s = st_rings_stats(rings)
    return na.select(
        "n_nationkey",
        F.round(s.getField("area"), 6).alias("area"),
        s.getField("n_rings").alias("n_rings"),
        s.getField("nv").alias("nv"),
        st_rings_as_geojson(rings).alias("gj_out"),
    )


def _geojson_parse_sql() -> str:
    area = (
        "case when k % 2 = 0 then (k+10)*((k%5)+8) - 2*((k%3)+2) "
        "else (k+10)*((k%5)+8) + 3*k end"
    )
    gj_poly = (
        "printf('{\"type\": \"Polygon\", \"coordinates\": "
        "[[[0.0, 0.0], [%d.0, 0.0], [%d.0, %d.0], [0.0, %d.0], [0.0, 0.0]], "
        "[[2.0, 2.0], [2.0, 4.0], [%d.0, 4.0], [%d.0, 2.0], [2.0, 2.0]]]}', "
        "k+10, k+10, (k%5)+8, (k%5)+8, (k%3)+4, (k%3)+4)"
    )
    gj_mpoly = (
        "printf('{\"type\": \"MultiPolygon\", \"coordinates\": "
        "[[[[0.0, 0.0], [%d.0, 0.0], [%d.0, %d.0], [0.0, %d.0], [0.0, 0.0]]], "
        "[[[100.0, 0.0], [%d.0, 0.0], [%d.0, 3.0], [100.0, 3.0], [100.0, 0.0]]]]}', "
        "k+10, k+10, (k%5)+8, (k%5)+8, k+100, k+100)"
    )
    return f"""
with n as (select n_nationkey as k from nation)
select k as n_nationkey,
       round(cast({area} as double), 6) as area,
       cast(2 as bigint) as n_rings,
       cast(8 as bigint) as nv,
       case when k % 2 = 0 then {gj_poly} else {gj_mpoly} end as gj_out
from n
"""


def q_st_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_HausdorffDistance + ST_FrechetDistance (r4; JTS discrete
    variants): polyline A = the zone's bottom edge (3 samples), B = A
    translated by (hx/4, hy/2) — Hausdorff and Fréchet both equal the
    translation norm; reversing B's orientation leaves Hausdorff
    unchanged (set metric) but drives Fréchet to the dog-leash diagonal
    hypot(2·hx + hx/4, hy/2) (order-aware metric) — the pair of
    closed forms pins both semantics."""
    from sedona_spark.functions.st import (
        st_frechet_distance,
        st_hausdorff_distance,
    )

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    sx, dy = hx / 4, hy / 2
    a = F.array(cx - hx, cy, cx, cy, cx + hx, cy)
    b = F.array(cx - hx + sx, cy + dy, cx + sx, cy + dy, cx + hx + sx, cy + dy)
    b_rev = F.array(
        cx + hx + sx, cy + dy, cx + sx, cy + dy, cx - hx + sx, cy + dy
    )
    return z.select(
        "n_nationkey",
        F.round(st_hausdorff_distance(a, b), 6).alias("hd"),
        F.round(st_frechet_distance(a, b), 6).alias("fd"),
        F.round(st_hausdorff_distance(a, b_rev), 6).alias("hd_rev"),
        F.round(st_frechet_distance(a, b_rev), 6).alias("fd_rev"),
    )


def _st_hausdorff_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round(sqrt((hx / 4e0) * (hx / 4e0) + (hy / 2e0) * (hy / 2e0)), 6) as hd,
       round(sqrt((hx / 4e0) * (hx / 4e0) + (hy / 2e0) * (hy / 2e0)), 6) as fd,
       round(sqrt((hx / 4e0) * (hx / 4e0) + (hy / 2e0) * (hy / 2e0)), 6) as hd_rev,
       round(sqrt((2e0 * hx + hx / 4e0) * (2e0 * hx + hx / 4e0)
                  + (hy / 2e0) * (hy / 2e0)), 6) as fd_rev
from z
"""


def q_st_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Polygonize + ST_Node (r4; JTS Polygonizer/noding): the zone
    rect's boundary plus both midlines polygonize into exactly 4 faces
    totalling the rect area; noding splits the linework into 12
    non-crossing segments (4 sides × 2 + 2 × 2 midline halves)."""
    from sedona_spark.functions.st import st_node, st_polygonize, st_rings_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    x0, x1, y0, y1 = cx - hx, cx + hx, cy - hy, cy + hy
    lines = F.array(
        F.array(x0, y0, x1, y0), F.array(x1, y0, x1, y1),
        F.array(x1, y1, x0, y1), F.array(x0, y1, x0, y0),
        F.array(cx, y0, cx, y1), F.array(x0, cy, x1, cy),
    )
    s = st_rings_stats(st_polygonize(lines))
    return z.select(
        "n_nationkey",
        s.getField("n_rings").alias("n_faces"),
        F.round(s.getField("area"), 6).alias("faces_area"),
        F.size(st_node(lines)).cast("long").alias("n_noded"),
    )


def _st_polygonize_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       cast(4 as bigint) as n_faces,
       round(4e0 * hx * hy, 6) as faces_area,
       cast(12 as bigint) as n_noded
from z
"""


def q_st_min_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MinimumBoundingCircle / Radius (JTS MinimumBoundingCircle): the
    diamond's exact MBC is centered at the zone center with radius
    max(hx, hy) — two antipodal vertices on the long axis. Radius rounds
    to 5 decimals: the fixture half-extents end in ...0012345, which is a
    round-6 HALF midpoint where the engines' rounding modes differ."""
    from sedona_spark.functions.st import st_minimum_bounding_circle

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    mbc = st_minimum_bounding_circle(diamond)
    return z.select(
        "n_nationkey",
        F.round(mbc.getField("cx"), 6).alias("mbc_x"),
        F.round(mbc.getField("cy"), 6).alias("mbc_y"),
        F.round(mbc.getField("radius"), 5).alias("mbc_r"),
    )


def q_st_sym_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SymDifference as a disjoint tiling: diamond△rect = 2 pieces of
    diamond\\rect + 3 of rect\\diamond (shape-invariant decomposition);
    total area = (0.72 + 2.24)·hx·hy by the closed-form piece algebra."""
    from sedona_spark.functions.st import st_ring_stats, st_sym_difference

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    rx0, rx1 = cx - hx * F.lit(0.3), cx + hx * F.lit(1.9)
    ry0, ry1 = cy - hy * F.lit(0.5), cy + hy * F.lit(1.1)
    rect = F.array(rx0, ry0, rx1, ry0, rx1, ry1, rx0, ry1)
    parts = z.select(
        "n_nationkey",
        F.explode(st_sym_difference(diamond, rect)).alias("ring"),
    ).select("n_nationkey", st_ring_stats(F.col("ring")).alias("_s"))
    return parts.groupBy("n_nationkey").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(F.sum(F.col("_s.area")), 6).alias("sym_area"),
    )


def q_rs_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster zonal statistics (RS_ZonalStats / RasterBandAccessors),
    r4 fused form: per-image numpy zonal accumulation against broadcast
    diamond zones inside one mapInPandas (``rs_zonal_stats_agg``) — the
    r3 pipeline (pixel explode → broadcast PIP join → agg) pushed W·H
    rows/image through Arrow; this emits ≤ n_zones partials per batch
    (same results, integer-exact; ~500× less Python-boundary traffic).
    The explode form remains exercised by ``rs_pixel_points``."""
    from sedona_spark.functions.raster import rs_zonal_stats_agg
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=100,
                            columns=("image_id", "bytes", "lon", "lat"))
    zones = diamond_zones_from_nation(spark, sf_dir)
    return rs_zonal_stats_agg(imgs, zones, band=0, pixel_size=2.0)


def q_line_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing in one pass (Functions.java
    lineInterpolatePoint / lineLocatePoint / closestPoint /
    lineSubString): a 3-vertex polyline per event, a probe point whose
    offset varies with event_id (so clamped / interior projections and
    both winning segments all occur); the oracle mirrors the generic
    clamped-projection algebra segment-by-segment."""
    from sedona_spark.functions.st import (
        st_line_interpolate_point,
        st_line_locate_point,
        st_line_substring,
        st_path_stats,
    )

    p = points_from_events(spark, sf_dir)
    x, y = F.col("x"), F.col("y")
    line = F.array(x, y, x + F.lit(3.0), y + F.lit(2.0),
                   x + F.lit(5.0), y + F.lit(1.0))
    qx = x + (F.col("event_id") % 5).cast("double")
    qy = y + F.lit(3.0)
    ip = st_line_interpolate_point(line, 0.4)
    loc = st_line_locate_point(line, qx, qy)
    sub = st_line_substring(line, 0.25, 0.75)
    out = p.select(
        "event_id",
        F.round(F.get(ip, 0), 6).alias("ip_x"),
        F.round(F.get(ip, 1), 6).alias("ip_y"),
        F.round(loc.getField("frac"), 6).alias("loc_frac"),
        F.round(loc.getField("cx"), 6).alias("cp_x"),
        F.round(loc.getField("cy"), 6).alias("cp_y"),
        sub.alias("_sub"),
    )
    return out.select(
        "event_id", "ip_x", "ip_y", "loc_frac", "cp_x", "cp_y",
        F.round(st_path_stats(F.col("_sub")).getField("length"), 6).alias("sub_len"),
        (F.size(F.col("_sub")) / 2).cast("long").alias("sub_nv"),
    )


def q_rs_as_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_AsRaster (Rasterization.java, center sampling): burn each
    diamond zone onto an odd W×W grid over its envelope (W varies by key
    so the burned-pixel count is key-dependent). Center lattice (2i+1-W)/W
    has even numerator vs odd W, so no center ever sits exactly on the
    diamond boundary — the strict-interior count is integer-exact and the
    oracle reproduces it with pure integer arithmetic."""
    from sedona_spark.functions.raster import rs_as_raster

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    wd = (F.lit(9) + F.lit(2) * (F.col("n_nationkey") % 7)).cast("int")
    r = z.select(
        "n_nationkey", rs_as_raster(diamond, wd, wd).alias("_r")
    )
    return r.select(
        "n_nationkey",
        F.col("_r.rw").cast("long").alias("rw"),
        F.col("_r.rh").cast("long").alias("rh"),
        F.col("_r.inside").alias("inside"),
    )


def q_rs_pixel_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_PixelAsPoints explode (PixelFunctions.java): every pixel of band
    0 for the ids divisible by 200 → (px, py, world-center wx/wy, value).
    wx/wy and the decoded value are bit-reproduced by the oracle (same
    IEEE op order; fjpg quantization inlined)."""
    from sedona_spark.functions.raster import rs_pixel_as_points
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=200,
                            columns=("image_id", "bytes", "lon", "lat"))
    return rs_pixel_as_points(imgs, band=0).select(
        "image_id",
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
        "wx", "wy", "val",
    )


def q_st_difference_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Difference returning GEOMETRY: diamond zone minus the offset
    rect of ``st_intersection_geom`` → disjoint pieces via half-plane
    decomposition. The fixture's geometry is closed-form: the rect cuts
    the diamond at y=cy-hy/2 (bottom, leaving a triangle of area
    hx*hy/4, 3 vertices) and x=cx-0.3hx (left, leaving a quad of area
    0.47*hx*hy, 4 vertices); the right/top rect edges lie outside the
    diamond, so exactly two pieces survive, in clip-edge order."""
    from sedona_spark.functions.st import st_difference, st_ring_stats

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    rx0, rx1 = cx - hx * F.lit(0.3), cx + hx * F.lit(1.9)
    ry0, ry1 = cy - hy * F.lit(0.5), cy + hy * F.lit(1.1)
    rect = F.array(rx0, ry0, rx1, ry0, rx1, ry1, rx0, ry1)
    parts = z.select(
        "n_nationkey",
        F.posexplode(st_difference(diamond, rect)).alias("part_idx", "ring"),
    )
    return parts.select(
        "n_nationkey",
        F.col("part_idx").cast("long").alias("part_idx"),
        st_ring_stats(F.col("ring")).alias("_s"),
    ).select(
        "n_nationkey", "part_idx",
        F.round(F.col("_s.area"), 6).alias("part_area"),
        F.col("_s.nv").alias("nv"),
    )


def q_st_union_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union returning GEOMETRY as an exact disjoint tiling: the rect
    itself + the two difference pieces (3 parts per zone; total area =
    dia + rect - intersection by inclusion-exclusion = 4.24*hx*hy)."""
    from sedona_spark.functions.st import st_ring_stats, st_union_tiled

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    rx0, rx1 = cx - hx * F.lit(0.3), cx + hx * F.lit(1.9)
    ry0, ry1 = cy - hy * F.lit(0.5), cy + hy * F.lit(1.1)
    rect = F.array(rx0, ry0, rx1, ry0, rx1, ry1, rx0, ry1)
    parts = z.select(
        "n_nationkey",
        F.posexplode(st_union_tiled(diamond, rect)).alias("part_idx", "ring"),
    )
    stats = parts.select(
        "n_nationkey", st_ring_stats(F.col("ring")).alias("_s")
    )
    return stats.groupBy("n_nationkey").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(F.sum(F.col("_s.area")), 6).alias("union_area"),
    )


def q_knn_join_obj_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-OBJECT-side kNN join (BroadcastObjectSideKNNJoinExec
    analog, VERDICT r2 #7): small zone-center object table broadcast as a
    numpy array into ONE mapInPandas over the streaming point side — the
    reverse arrangement of knn_join_broadcast. k=3 nearest zones per
    event; identical contract to the kNN oracle window."""
    from sedona_spark.operators.knn import knn_join_obj_broadcast

    pts = points_from_events(spark, sf_dir)
    objs = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("ox"), F.col("zcy").alias("oy")
    )
    out = knn_join_obj_broadcast(
        pts, objs, k=3, query_id="event_id", qx="x", qy="y"
    )
    return out.select(
        "event_id", "n_nationkey", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def q_distance_spheroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DistanceSpheroid (WGS84) — Andoyer–Lambert closed form (the
    reference's Spheroid.java uses iterative Karney; closed form keeps it
    codegen + oracle-expressible; ≲10 m deviation, rounded to mm here for
    bit-parity of the shared formula)."""
    from sedona_spark.functions.st_measures import st_distance_spheroid

    pts = points_from_events(spark, sf_dir).select(
        "event_id", "x", "y",
        F.expr(
            "((event_id * 40503) % 4096 + 5e-1) / 4096e0 * 360e0 - 180e0"
        ).alias("x2"),
        F.expr(
            "((event_id * 69069) % 2048 + 5e-1) / 2048e0 * 180e0 - 90e0"
        ).alias("y2"),
    )
    d = st_distance_spheroid(F.col("x"), F.col("y"), F.col("x2"), F.col("y2"))
    return pts.select("event_id", F.round(d, 3).alias("dist_m"))


def q_knn_join_spheroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join under the SPHEROID metric (DistanceMetric.SPHEROID,
    KnnJoinIndexJudgement.java:49) — candidates ranked by the Andoyer
    WGS84 distance; completeness bound = sphere bound at a·(1−5f), a
    strict lower bound on every Andoyer arc."""
    pts = points_from_events(spark, sf_dir).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = zones_from_nation(spark, sf_dir).select(
        "n_nationkey", F.col("zcx").alias("qx"), F.col("zcy").alias("qy")
    )
    out = knn_join(
        qs, pts, k=_KNN_K, level=_LEVEL,
        query_id="n_nationkey", qx="qx", qy="qy", metric="spheroid",
    )
    return out.select(
        "n_nationkey", "event_id", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def q_st_subdivide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SubDivideExplode analog: diamond zones split by the 2×2 envelope
    grid → posexplode of the clipped pieces. Each quadrant piece of a
    diamond is the right triangle with legs (hx, hy) — closed-form area
    oracle."""
    from sedona_spark.functions.st import st_ring_stats, st_subdivide

    z = zones_from_nation(spark, sf_dir)
    cx, cy, hx, hy = F.col("zcx"), F.col("zcy"), F.col("hx"), F.col("hy")
    diamond = F.array(cx - hx, cy, cx, cy - hy, cx + hx, cy, cx, cy + hy)
    parts = z.select(
        "n_nationkey",
        F.posexplode(st_subdivide(diamond, 2, 2)).alias("part_idx", "ring"),
    )
    return parts.select(
        "n_nationkey",
        F.col("part_idx").cast("long").alias("part_idx"),
        st_ring_stats(F.col("ring")).alias("_s"),
    ).select(
        "n_nationkey", "part_idx",
        F.round(F.col("_s.area"), 6).alias("part_area"),
        F.col("_s.nv").alias("nv"),
    )


def q_st_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Dump generator (Catalog.scala generator block): explode a
    MultiPolygon into one row per part with its index and area — the
    explode-based generator pattern (posexplode keeps the part ordinal)."""
    from sedona_spark.functions.st_measures import st_area

    z = multipolygon_zones_from_nation(spark, sf_dir)
    parts = z.select(
        "n_nationkey", F.posexplode("geom").alias("part_idx", "ring")
    )
    return parts.select(
        "n_nationkey",
        F.col("part_idx").cast("long").alias("part_idx"),
        F.round(st_area(F.col("ring")), 6).alias("part_area"),
    )


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def q_sql_api_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL catalog tail, constructor/accessor/editor tier (r5 batch 2):
    one ``spark.sql()`` statement over ~30 functions registered this
    round — text/EWKT constructor aliases, bbox accessors (XMin/XMax/
    YMin/YMax), NPoints/IsEmpty/Dimension/NumInteriorRing, Boundary/
    Points/Dump, Force2D/ForceRHR, ReducePrecision/RemoveRepeatedPoints,
    ShiftLongitude/CrossesDateLine, Z/M constructors + accessors +
    3DDistance, BestSRID, geohash decode (GeomFromGeoHash/
    PointFromGeoHash) and the cell-index SQL tier (CellID/H3KRing/
    H3CellDistance). Every output has a closed form on the rect-zone
    fixture. Reference surface: ``Catalog.scala:30-329``."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy, r,
             zcx / 2e0 as lon, zcy / 2e0 as lat,
             ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as rect
      from z)
select n_nationkey,
       round(ST_Area(element_at(ST_GeomFromEWKT(ST_AsEWKT(array(rect))), 1)),
             6) as ewkt_area,
       round(ST_XMin(rect), 6) as xmin,
       round(ST_XMax(rect), 6) as xmax,
       round(ST_YMin(rect), 6) as ymin,
       round(ST_YMax(rect), 6) as ymax,
       cast(ST_NPoints(rect) as bigint) as np,
       ST_IsEmpty(rect) as emp,
       cast(ST_Dimension(array(rect)) as bigint) as dim,
       cast(ST_NumInteriorRing(array(rect,
           ST_MakeEnvelope(zcx - hx / 2e0, zcy - hy / 2e0,
                           zcx + hx / 2e0, zcy + hy / 2e0))) as bigint)
           as nir,
       round(ST_Length(element_at(ST_Boundary(array(rect)), 1)), 6)
           as bnd_len,
       cast(size(ST_Points(rect)) as bigint) as npts,
       cast(size(ST_Dump(array(rect, rect))) as bigint) as ndump,
       round(ST_Area(ST_Force2D(ST_ForceRHR(rect))), 6) as f_area,
       round(element_at(ST_ReducePrecision(
           array(cast(n_nationkey as double) + 0.1234e0, 0e0), 1e-2), 1), 6)
           as rp,
       cast(ST_NPoints(ST_RemoveRepeatedPoints(
           concat(slice(rect, 1, 2), rect))) as bigint) as rrp_np,
       round(element_at(ST_ShiftLongitude(array(-zcx - 1e0, zcy)), 1), 6)
           as shl,
       ST_CrossesDateLine(array(-179e0, lat, 179e0, lat, 0e0, lat)) as cdl_t,
       ST_CrossesDateLine(rect) as cdl_f,
       ST_OrderingEquals(rect, rect) as oeq,
       ST_OrderingEquals(rect, ST_Reverse(rect)) as oeq_f,
       cast(ST_BestSRID(zcx, lat) as bigint) as best_srid,
       round(ST_Z(ST_PointZ(zcx, zcy, r)), 6) as pz,
       ST_HasM(ST_PointZM(zcx, zcy, r, 7e0)) as hasm,
       round(ST_M(ST_PointZM(zcx, zcy, r, 7e0)), 6) as pm,
       round(ST_3DDistance(ST_PointZ(0e0, 0e0, 0e0),
                           ST_PointZ(hx, hy, r)), 6) as d3,
       cast(size(ST_Collect(rect, rect)) as bigint) as coll_n,
       round(ST_Area(ST_PolygonFromEnvelope(zcx - hx, zcy - hy,
                                            zcx + hx, zcy + hy)), 6)
           as pe_area,
       round(ST_XMax(ST_GeomFromGeoHash(ST_GeoHash(lon, lat, 4)))
             - ST_XMin(ST_GeomFromGeoHash(ST_GeoHash(lon, lat, 4))), 6)
           as gh_w,
       round(element_at(ST_PointFromGeoHash(ST_GeoHash(lon, lat, 4)), 1), 6)
           as gh_cx,
       cast(ST_CellID(lon, lat, 6) as bigint) as cid,
       cast(ST_H3CellDistance(ST_CellID(lon, lat, 6),
                              ST_CellID(lon / 2e0, lat, 6)) as bigint)
           as cdist,
       cast(size(ST_H3KRing(ST_CellID(lon, lat, 6), 1)) as bigint) as kr
from g
""")


def _sql_api_3_sql() -> str:
    from sedona_spark.cells import sql_cell_id, sql_grid_x

    # geohash precision 4 → 20 bits: 10 lon, 10 lat; decode mirrors the
    # encoder's floor arithmetic (exact in both engines)
    ghx = "cast(floor((lon - (-180e0)) / 360e0 * 1024e0) as bigint)"
    gh_cx = f"(-180e0 + ({ghx} + 5e-1) * (360e0 / 1024e0))"
    return f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy, r,
             zcx / 2e0 as lon, zcy / 2e0 as lat from z)
select n_nationkey,
       round(4e0 * hx * hy, 6) as ewkt_area,
       round(zcx - hx, 6) as xmin,
       round(zcx + hx, 6) as xmax,
       round(zcy - hy, 6) as ymin,
       round(zcy + hy, 6) as ymax,
       cast(4 as bigint) as np,
       false as emp,
       cast(2 as bigint) as dim,
       cast(1 as bigint) as nir,
       round(4e0 * (hx + hy), 6) as bnd_len,
       cast(4 as bigint) as npts,
       cast(2 as bigint) as ndump,
       round(4e0 * hx * hy, 6) as f_area,
       round(round((n_nationkey + 0.1234e0) / 1e-2) * 1e-2, 6) as rp,
       cast(4 as bigint) as rrp_np,
       round(case when -zcx - 1e0 < 0e0 then -zcx - 1e0 + 360e0
             else -zcx - 1e0 end, 6) as shl,
       true as cdl_t,
       false as cdl_f,
       true as oeq,
       false as oeq_f,
       cast(case when lat >= 0e0 then 32601 + cast(floor((zcx + 180e0) / 6e0)
                 as int)
            else 32701 + cast(floor((zcx + 180e0) / 6e0) as int) end
            as bigint) as best_srid,
       round(r, 6) as pz,
       true as hasm,
       round(7e0, 6) as pm,
       round(sqrt(hx * hx + hy * hy + r * r), 6) as d3,
       cast(2 as bigint) as coll_n,
       round(4e0 * hx * hy, 6) as pe_area,
       round(360e0 / 1024e0, 6) as gh_w,
       round({gh_cx}, 6) as gh_cx,
       cast({sql_cell_id('lon', 'lat', 6)} as bigint) as cid,
       cast(abs({sql_grid_x('lon', 6)} - {sql_grid_x('(lon / 2e0)', 6)})
            as bigint) as cdist,
       cast(9 as bigint) as kr
from g
"""


def q_sql_api_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL catalog tail, predicate/relate/overlay/proximity tier (r5
    batch 2): ST_Touches / Overlaps / Equals / Crosses / Relate /
    RelateMatch over ONE flags kernel eval (``SpatialPredicateEvaluators``
    split), ST_SymDifference / ST_Union / ST_UnaryUnion tilings,
    ST_ClosestPoint / ST_MaxDistance / ST_LongestLine /
    ST_MinimumBoundingRadius. Adjacent / half-overlapping / far translated
    rect pairs give every output a closed form."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy,
             ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as rect,
             ST_MakeEnvelope(zcx + hx, zcy - hy, zcx + 3e0 * hx, zcy + hy)
                 as adj,
             ST_MakeEnvelope(zcx, zcy - hy, zcx + 2e0 * hx, zcy + hy) as ovr,
             ST_MakeEnvelope(zcx + 3e0 * hx, zcy - hy, zcx + 5e0 * hx,
                             zcy + hy) as far
      from z)
select n_nationkey,
       ST_Touches(rect, adj) as tch,
       ST_Touches(rect, ovr) as tch_f,
       ST_Overlaps(rect, ovr) as ovl,
       ST_Overlaps(rect, adj) as ovl_f,
       ST_Equals(rect, array(zcx + hx, zcy - hy, zcx + hx, zcy + hy,
                             zcx - hx, zcy + hy, zcx - hx, zcy - hy)) as eq,
       ST_Equals(rect, ovr) as eq_f,
       ST_Crosses(rect, ovr) as crs,
       ST_Relate(rect, adj) as rel_t,
       ST_Relate(rect, ovr) as rel_o,
       ST_Relate(rect, far) as rel_d,
       ST_RelateMatch(ST_Relate(rect, ovr), 'T*T***T**') as rm,
       ST_RelateMatch(ST_Relate(rect, adj), 'T*T***T**') as rm_f,
       cast(size(ST_SymDifference(rect, ovr)) as bigint) as sd_n,
       round(ST_Area(element_at(ST_SymDifference(rect, ovr), 1)), 6)
           as sd_a,
       cast(size(ST_Union(rect, ovr)) as bigint) as un_n,
       round(ST_Area(element_at(ST_Union(rect, ovr), 1)), 6) as un_a,
       cast(size(ST_UnaryUnion(array(rect, ovr))) as bigint) as uu_n,
       round(element_at(ST_ClosestPoint(rect, far), 1), 6) as cp_x,
       round(ST_MaxDistance(rect, far), 6) as mxd,
       round(ST_LongestLine(rect, far).dist, 6) as ll_d,
       round(ST_MinimumBoundingRadius(rect), 6) as mbr
from g
""")


def _sql_api_4_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       true as tch,
       false as tch_f,
       true as ovl,
       false as ovl_f,
       true as eq,
       false as eq_f,
       false as crs,
       'FF2F11212' as rel_t,
       '212111212' as rel_o,
       'FF2FF1212' as rel_d,
       true as rm,
       false as rm_f,
       cast(2 as bigint) as sd_n,
       round(2e0 * hx * hy, 6) as sd_a,
       cast(2 as bigint) as un_n,
       round(4e0 * hx * hy, 6) as un_a,
       cast(2 as bigint) as uu_n,
       round(zcx + hx, 6) as cp_x,
       round(sqrt(36e0 * hx * hx + 4e0 * hy * hy), 6) as mxd,
       round(sqrt(36e0 * hx * hx + 4e0 * hy * hy), 6) as ll_d,
       round(sqrt(hx * hx + hy * hy), 6) as mbr
from z
"""


def q_sql_api_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL catalog tail, linework / M-coordinate tier (r5 batch 3):
    ST_SetPoint / IsRing / SRID / SetSRID / Zmflag / MMin / MMax / PointM /
    Force3D-3DM-4D / ForceCollection / IsCollection / CollectionExtract /
    Length2D / Perimeter2D / LineSegments / AddMeasure / LocateAlong /
    AsHEXEWKB / H3ToGeom / GeoHashNeighbor / PointFromText / RotateX-Y /
    ScaleGeom / GeogFromText. A 3-vertex L-polyline (legs hx then hy)
    gives the measure family closed forms; the WKB hex check pins the
    ISO little-endian polygon layout. Reference surface:
    ``Catalog.scala:30-329`` linework/measure tail."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy, r,
             zcx / 2e0 as lon, zcy / 2e0 as lat,
             array(zcx - hx, zcy, zcx, zcy, zcx, zcy + hy) as line,
             ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as rect
      from z)
select n_nationkey,
       round(element_at(ST_SetPoint(line, 1, array(zcx + hx, zcy)), 3), 6)
           as sp_x,
       cast(size(ST_SetPoint(line, 1, array(zcx + hx, zcy))) as bigint)
           as sp_n,
       ST_IsRing(concat(rect, slice(rect, 1, 2))) as ring_t,
       ST_IsRing(line) as ring_f,
       cast(ST_SRID(rect) as bigint) as srid,
       round(ST_Area(ST_SetSRID(rect, 3857)), 6) as srid_area,
       cast(ST_Zmflag(array(zcx, zcy)) as bigint) as zmf0,
       cast(ST_Zmflag(ST_PointZ(zcx, zcy, r)) as bigint) as zmf2,
       cast(ST_Zmflag(ST_PointZM(zcx, zcy, r, 7e0)) as bigint) as zmf3,
       round(ST_MMin(ST_PointM(zcx, zcy, r)), 6) as mmin,
       round(ST_MMax(ST_MakePointM(zcx, zcy, r)), 6) as mmax,
       round(get(ST_Force3D(array(zcx, zcy), r), 2), 6) as f3z,
       round(get(ST_Force3DZ(array(zcx, zcy), r), 2), 6) as f3z2,
       round(get(ST_Force3DM(array(zcx, zcy), r), 3), 6) as f3m,
       round(get(ST_Force4D(array(zcx, zcy), 1e0, 2e0), 2), 6) as f4z,
       round(get(ST_Force4D(array(zcx, zcy), 1e0, 2e0), 3), 6) as f4m,
       cast(size(ST_ForceCollection(rect)) as bigint) as fc_n,
       ST_IsCollection(array(rect, rect)) as isc_t,
       ST_IsCollection(array(rect)) as isc_f,
       cast(size(ST_CollectionExtract(array(rect))) as bigint) as ce_n,
       round(ST_Length2D(line) - (hx + hy), 6) as len2d,
       round(ST_Perimeter2D(rect), 6) as per2d,
       cast(size(ST_LineSegments(line)) as bigint) as seg_n,
       round(element_at(element_at(ST_LineSegments(line), 2), 1), 6)
           as seg2_x,
       round(element_at(ST_AddMeasure(line, 0e0, 10e0), 2), 6) as am_mid,
       round(element_at(ST_AddMeasure(line, 0e0, 10e0), 3), 6) as am_end,
       round(get(ST_LocateAlong(line, 0e0, 10e0,
                                10e0 * hx / (hx + hy)), 0) - zcx, 6)
           as la_dx,
       substring(ST_AsHEXEWKB(array(rect)), 1, 26) as hex_pre,
       cast(length(ST_AsHEXEWKB(array(rect))) as bigint) as hex_len,
       round(ST_XMin(ST_H3ToGeom(ST_CellID(lon, lat, 6))), 6) as h3_x0,
       round(ST_XMax(ST_H3ToGeom(ST_CellID(lon, lat, 6)))
             - ST_XMin(ST_H3ToGeom(ST_CellID(lon, lat, 6))), 6) as h3_w,
       round(ST_XMin(ST_S2ToGeom(ST_CellID(lon, lat, 6))), 6) as s2_x0,
       ST_GeoHashNeighbor(ST_GeoHash(lon, lat, 4), 1, 0) as ghn_e,
       ST_GeoHashNeighbor(ST_GeoHash(lon, lat, 4), 0, -1) as ghn_s,
       round(get(ST_PointFromText(concat(cast(n_nationkey as string), ',',
           cast(n_nationkey * 2 as string)), ','), 1), 6) as pft_y,
       round(get(ST_RotateX(ST_PointZ(zcx, zcy, r), pi() / 2e0), 2) - zcy,
             6) as rx_dz,
       round(get(ST_RotateY(ST_PointZ(zcx, zcy, r), pi() / 2e0), 0) - r,
             6) as ry_dx,
       round(ST_Area(ST_ScaleGeom(rect, 2e0, 3e0)), 6) as sc_area,
       round(ST_Area(element_at(
           ST_GeogFromText(ST_AsText(array(rect))), 1))
           - 4e0 * hx * hy, 4) as geog_darea,
       round(ST_Area(element_at(
           ST_GeogFromEWKT(ST_AsEWKT(array(rect))), 1))
           - 4e0 * hx * hy, 4) as geog_darea2
from g
""")


def _sql_api_5_sql() -> str:
    from sedona_spark import cells
    from sedona_spark.functions import geohash as gh

    def enc(xe: str, ye: str, p: int = 4) -> str:
        return gh._sql_base32(f"({gh._sql_interleave(xe, ye, p)})", p)

    gx, gy = gh._sql_grid("lon", "lat", 4)
    return f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy, r,
             zcx / 2e0 as lon, zcy / 2e0 as lat from z),
h as (select g.*, {gx} as gx4, {gy} as gy4,
             {cells.sql_grid_x('lon', 6)} as cx6 from g)
select n_nationkey,
       round(zcx + hx, 6) as sp_x,
       cast(6 as bigint) as sp_n,
       true as ring_t,
       false as ring_f,
       cast(4326 as bigint) as srid,
       round(4e0 * hx * hy, 6) as srid_area,
       cast(0 as bigint) as zmf0,
       cast(2 as bigint) as zmf2,
       cast(3 as bigint) as zmf3,
       round(r, 6) as mmin,
       round(r, 6) as mmax,
       round(r, 6) as f3z,
       round(r, 6) as f3z2,
       round(r, 6) as f3m,
       round(1e0, 6) as f4z,
       round(2e0, 6) as f4m,
       cast(1 as bigint) as fc_n,
       true as isc_t,
       false as isc_f,
       cast(1 as bigint) as ce_n,
       round(0e0, 6) as len2d,
       round(4e0 * (hx + hy), 6) as per2d,
       cast(2 as bigint) as seg_n,
       round(zcx, 6) as seg2_x,
       round(10e0 * hx / (hx + hy), 6) as am_mid,
       round(10e0, 6) as am_end,
       round(0e0, 6) as la_dx,
       '01030000000100000005000000' as hex_pre,
       cast(186 as bigint) as hex_len,
       round(-180e0 + cx6 * (360e0 / 64e0), 6) as h3_x0,
       round(360e0 / 64e0, 6) as h3_w,
       round(-180e0 + cx6 * (360e0 / 64e0), 6) as s2_x0,
       {enc('(gx4 + 1)', 'gy4')} as ghn_e,
       {enc('gx4', '(gy4 - 1)')} as ghn_s,
       round(n_nationkey * 2e0, 6) as pft_y,
       round(0e0, 6) as rx_dz,
       round(0e0, 6) as ry_dx,
       round(24e0 * hx * hy, 6) as sc_area,
       round(0e0, 4) as geog_darea,
       round(0e0, 4) as geog_darea2
from h
"""


def q_st_shape_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-metric tier (r5): ST_OrientedEnvelope (rotating calipers),
    ST_MinimumClearance(Line), ST_SimplifyVW, ST_MaximumInscribedCircle /
    ST_LabelPoint / ST_PointOnSurface (polylabel), ST_IsValidReason /
    ST_IsValidDetail (self-intersection witness), seeded
    ST_GeneratePoints, ST_BuildArea. Closed forms: the oriented envelope
    of a diamond is the diamond itself; a rect's clearance is its short
    side; VW drops the densified rect's zero-area midpoints; the rect MIC
    radius is min(hx, hy); the planted bowtie's witness is an integer
    crossing; the point generator's Weyl lattice is mirrored verbatim in
    SQL. Reference: ``Functions.java`` (JTS-backed there)."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy,
             ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as rect,
             array(zcx - hx, zcy, zcx, zcy - hx,
                   zcx + hx, zcy, zcx, zcy + hx) as diamond,
             array(zcx - hx, zcy - hy, zcx, zcy - hy, zcx + hx, zcy - hy,
                   zcx + hx, zcy, zcx + hx, zcy + hy, zcx, zcy + hy,
                   zcx - hx, zcy + hy, zcx - hx, zcy) as dense,
             array(cast(n_nationkey as double), 0e0,
                   cast(n_nationkey as double) + 2e0, 2e0,
                   cast(n_nationkey as double) + 2e0, 0e0,
                   cast(n_nationkey as double), 2e0) as bowtie,
             cast(n_nationkey as bigint) as seed
      from z)
select n_nationkey,
       round(ST_OrientedEnvelope(diamond).width - hx * sqrt(2e0), 6)
           as oe_dw,
       round(ST_OrientedEnvelope(diamond).height - hx * sqrt(2e0), 6)
           as oe_dh,
       round(ST_OrientedEnvelope(diamond).area - 2e0 * hx * hx, 6)
           as oe_darea,
       round(element_at(ST_OrientedEnvelope(diamond).ring, 1)
             - (zcx - hx), 6) as oe_dx1,
       round(ST_OrientedEnvelope(rect).area - 4e0 * hx * hy, 6)
           as oe_rarea,
       round(ST_MinimumClearance(rect), 6) as clr,
       cast(size(ST_MinimumClearanceLine(rect)) as bigint) as clr_n,
       cast(size(ST_SimplifyVW(dense, 1e-9)) as bigint) as vw_n,
       round(ST_Area(ST_SimplifyVW(dense, 1e-9)), 6) as vw_area,
       round(ST_MaximumInscribedCircle(array(rect)).radius
             - least(hx, hy), 6) as mic_dr,
       ST_MaximumInscribedCircle(array(rect)).x
           between zcx - hx and zcx + hx as mic_in,
       get(ST_LabelPoint(array(rect)), 1)
           between zcy - hy and zcy + hy as lp_in,
       get(ST_PointOnSurface(rect), 0)
           between zcx - hx and zcx + hx as pos_in,
       ST_IsValidReason(rect) as ivr_ok,
       ST_IsValidReason(bowtie) as ivr_bow,
       ST_IsValidDetail(rect).valid as ivd_ok,
       cast(size(ST_GeneratePoints(array(rect), 4, seed)) as bigint)
           as gp_n,
       round(get(element_at(ST_GeneratePoints(array(rect), 4, seed), 3),
                 0), 6) as gp_x2,
       round(get(element_at(ST_GeneratePoints(array(rect), 4, seed), 3),
                 1), 6) as gp_y2,
       cast(size(ST_BuildArea(array(
           array(zcx - hx, zcy - hy, zcx + hx, zcy - hy),
           array(zcx + hx, zcy - hy, zcx + hx, zcy + hy),
           array(zcx + hx, zcy + hy, zcx - hx, zcy + hy),
           array(zcx - hx, zcy + hy, zcx - hx, zcy - hy)))) as bigint)
           as bld_n
from g
""")


def _st_shape_metrics_sql() -> str:
    return f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy,
             cast(n_nationkey as bigint) as seed from z)
select n_nationkey,
       round(0e0, 6) as oe_dw,
       round(0e0, 6) as oe_dh,
       round(0e0, 6) as oe_darea,
       round(0e0, 6) as oe_dx1,
       round(0e0, 6) as oe_rarea,
       round(least(2e0 * hx, 2e0 * hy), 6) as clr,
       cast(4 as bigint) as clr_n,
       cast(8 as bigint) as vw_n,
       round(4e0 * hx * hy, 6) as vw_area,
       round(0e0, 6) as mic_dr,
       true as mic_in,
       true as lp_in,
       true as pos_in,
       'Valid Geometry' as ivr_ok,
       concat('Self-intersection at or near (',
              cast(n_nationkey + 1 as varchar), ' 1)') as ivr_bow,
       true as ivd_ok,
       cast(4 as bigint) as gp_n,
       round((zcx - hx) + (((2 * 2654435761 + seed) % 4096 + 5e-1)
             / 4096e0) * ((zcx + hx) - (zcx - hx)), 6) as gp_x2,
       round((zcy - hy) + (((2 * 2246822519 + seed) % 2048 + 5e-1)
             / 2048e0) * ((zcy + hy) - (zcy - hy)), 6) as gp_y2,
       cast(1 as bigint) as bld_n
from g
"""


def q_rs_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_Interpolate (r5): IDW fill of nodata(=0) pixels from the valid
    pixels in a Chebyshev-radius-2 window, per channel
    (``RasterEditors.java`` RS_Interpolate). The deterministic codec
    makes every hole position and every neighbor value integer-
    reproducible; fill_sum is gated at round(·, 2) (summation-order fp
    noise only). fjpg-quantized images have no zero pixels — their rows
    assert the n_nodata=0 path."""
    from sedona_spark.functions.raster import rs_interpolate_idw
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=50,
                            columns=("image_id", "bytes"))
    out = rs_interpolate_idw(imgs, nodata=0, radius=2)
    return out.select(
        "image_id", "n_nodata", F.round("fill_sum", 2).alias("fill_sum")
    )


def _rs_interpolate_sql() -> str:
    pix = ("((i * 31 + x.v * 3 + y.v * 5 + c.v * 7) % 251"
           " + (x.v * y.v * (i % 13 + 1)) % 67) % 256")
    dv = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 50 = 0),
pix as (
  select i, x.v as x, y.v as y, c.v as c, {dv} as v
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       lateral (select unnest(range(0, 3)) as v) c),
holes as (select i, x, y, c from pix where v = 0),
fill as (
  select h.i,
         sum(p.v / cast((p.x - h.x) * (p.x - h.x)
                        + (p.y - h.y) * (p.y - h.y) as double))
         / sum(1e0 / cast((p.x - h.x) * (p.x - h.x)
                          + (p.y - h.y) * (p.y - h.y) as double)) as idw
  from holes h
  join pix p
    on p.i = h.i and p.c = h.c and p.v <> 0
   and abs(p.x - h.x) <= 2 and abs(p.y - h.y) <= 2
   and not (p.x = h.x and p.y = h.y)
  group by h.i, h.x, h.y, h.c),
agg as (select i, sum(idw) as fill_sum from fill group by i),
cnt as (select i, count(*) as n_nodata from holes group by i)
select printf('img_%012d', s.i) as image_id,
       cast(coalesce(c.n_nodata, 0) as bigint) as n_nodata,
       round(coalesce(a.fill_sum, 0e0), 2) as fill_sum
from sel s
left join cnt c on c.i = s.i
left join agg a on a.i = s.i
"""


def q_rs_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_BuildPyramid (r5): overview levels 1..2, each output pixel the
    integer mean (floor) of its 2^L × 2^L block per channel, remainder
    truncated — pure integer arithmetic, so the oracle regenerates every
    overview pixel exactly (GDAL overview convention; raster pyramid
    write path)."""
    from sedona_spark.functions.raster import rs_build_pyramid
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=100,
                            columns=("image_id", "bytes"))
    out = rs_build_pyramid(imgs, max_level=2)
    return out.select("image_id", "level", "out_w", "out_h", "pix_sum")


def _rs_pyramid_sql() -> str:
    pix = ("((i * 31 + x.v * 3 + y.v * 5 + c.v * 7) % 251"
           " + (x.v * y.v * (i % 13 + 1)) % 67) % 256")
    dv = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 100 = 0),
lv as (select unnest(range(1, 3)) as level),
pix as (
  select i, w, h, x.v as x, y.v as y, c.v as c, {dv} as v
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       lateral (select unnest(range(0, 3)) as v) c),
blocks as (
  select p.i, l.level,
         (p.w // (1 << l.level)) as ow, (p.h // (1 << l.level)) as oh,
         p.x // (1 << l.level) as bx, p.y // (1 << l.level) as by, p.c,
         sum(p.v) // ((1 << l.level) * (1 << l.level)) as vout
  from pix p, lv l
  where p.x < (p.w // (1 << l.level)) * (1 << l.level)
    and p.y < (p.h // (1 << l.level)) * (1 << l.level)
  group by p.i, l.level, p.w, p.h, p.x // (1 << l.level),
           p.y // (1 << l.level), p.c)
select printf('img_%012d', i) as image_id,
       cast(level as bigint) as level,
       cast(ow as bigint) as out_w, cast(oh as bigint) as out_h,
       cast(sum(vout) as bigint) as pix_sum
from blocks
group by i, level, ow, oh
"""


def q_hilbert_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve cell counts (r5): the locality-preserving cell-id
    option (``cells.hilbert_cell_id``) — the curve order GeoParquet/
    Iceberg use for spatial file sorting, here as the partition key of a
    cell-count aggregation. Pure Column bit arithmetic (level unrolled
    xy2d iterations, whole-stage codegen; no Python); the oracle runs
    the identical walk as chained CTEs in DuckDB."""
    from sedona_spark import cells
    from sedona_spark.sources.testdata import points_from_events

    pts = points_from_events(spark, sf_dir)
    # aggregate on the raw grid indices FIRST (≤ 2^4·2^4 = 256 groups),
    # then run the unrolled Hilbert walk on the aggregated rows only:
    # the walk's nested CASE tree re-references its inputs per level, so
    # evaluating it per-point is the dominant cost at scale, while
    # (gx, gy) ↔ hcell is bijective so the group sets are identical
    # (guide §1.2: fix the distributed algorithm before the inner loop).
    lv = 4
    grouped = pts.groupBy(
        cells._grid_x(F.col("x"), lv).alias("_gx"),
        cells._grid_y(F.col("y"), lv).alias("_gy"),
    ).agg(F.count("*").alias("n_points"))
    d = cells.hilbert_from_grid(F.col("_gx"), F.col("_gy"), lv)
    return grouped.select(
        (F.lit(lv * cells._L_MULT) + d).cast("long").alias("hcell"),
        "n_points",
    )


def _hilbert_cells_sql() -> str:
    from sedona_spark import cells

    lv = 4
    gx = cells.sql_grid_x("p.x", lv)
    gy = cells.sql_grid_y("p.y", lv)
    walk = cells.sql_hilbert_ctes("grid", lv)
    # sql_hilbert_ctes returns "hh0 as (...), ... select * from hhK" —
    # splice our grid CTE in front and aggregate over the walk's output
    body, tail = walk.rsplit(" select * from ", 1)
    return f"""
with pts as ({SQL_POINTS}),
grid as (select cast({gx} as bigint) as hx, cast({gy} as bigint) as hy
         from pts p),
{body}
select {lv} * {cells._L_MULT} + hd as hcell, count(*) as n_points
from {tail}
group by hd
"""


def q_markup_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GML/KML markup interop (r5): ST_AsGML (GML2 JTS-GMLWriter layout)
    / ST_AsKML emit, ST_GeomFromGML / ST_GeomFromKML parse — round-trip
    through BOTH markups on a polygon WITH hole, plus a GML3 posList
    document built from integer coordinates in SQL (exact closed-form
    area). Emission is %.10g like the WKT writer, so round-trip areas
    are gated at round(Δ, 4)."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy,
             array(ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy),
                   ST_Reverse(ST_MakeEnvelope(zcx - hx / 2e0, zcy - hy / 2e0,
                                              zcx + hx / 2e0,
                                              zcy + hy / 2e0))) as geom,
             concat('<gml:Polygon><gml:exterior><gml:LinearRing>',
                    '<gml:posList>0 0 ', cast(n_nationkey + 1 as string),
                    ' 0 ', cast(n_nationkey + 1 as string), ' ',
                    cast(n_nationkey + 1 as string), ' 0 ',
                    cast(n_nationkey + 1 as string),
                    ' 0 0</gml:posList></gml:LinearRing></gml:exterior>',
                    '</gml:Polygon>') as gml3
      from z)
select n_nationkey,
       substring(ST_AsGML(geom), 1, 13) as gml_pre,
       substring(ST_AsKML(geom), 1, 9) as kml_pre,
       cast(size(split(ST_AsGML(geom), '<gml:innerBoundaryIs>')) - 1
            as bigint) as gml_holes,
       cast(size(split(ST_AsKML(geom), '<innerBoundaryIs>')) - 1
            as bigint) as kml_holes,
       cast(size(ST_GeomFromGML(ST_AsGML(geom))) as bigint) as rt_rings,
       round(ST_Area(element_at(ST_GeomFromGML(ST_AsGML(geom)), 1))
             - 4e0 * hx * hy, 4) as gml_dshell,
       round(ST_Area(element_at(ST_GeomFromGML(ST_AsGML(geom)), 2))
             - hx * hy, 4) as gml_dhole,
       round(ST_Area(element_at(ST_GeomFromKML(ST_AsKML(geom)), 1))
             - 4e0 * hx * hy, 4) as kml_dshell,
       round(ST_Area(element_at(ST_GeomFromKML(ST_AsKML(geom)), 2))
             - hx * hy, 4) as kml_dhole,
       round(ST_Area(element_at(ST_GeomFromGML(gml3), 1)), 6) as gml3_area
from g
""")


def _markup_io_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       '<gml:Polygon>' as gml_pre,
       '<Polygon>' as kml_pre,
       cast(1 as bigint) as gml_holes,
       cast(1 as bigint) as kml_holes,
       cast(2 as bigint) as rt_rings,
       round(0e0, 4) as gml_dshell,
       round(0e0, 4) as gml_dhole,
       round(0e0, 4) as kml_dshell,
       round(0e0, 4) as kml_dhole,
       round((n_nationkey + 1e0) * (n_nationkey + 1e0), 6) as gml3_area
from z
"""


_RS_BANDS_SPARK = """
b as (select n_nationkey,
      transform(sequence(0, 24),
                i -> cast((n_nationkey * 7 + i * 13) % 97 as double)) as b1,
      transform(sequence(0, 24),
                i -> cast((n_nationkey * 11 + i * 5) % 89 + 1 as double)) as b2,
      transform(sequence(0, 24),
                i -> cast((n_nationkey + i) % 7 as double)) as b3
      from z)
"""


def q_sql_api_rs_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-ARRAY map-algebra SQL tier (r5c): the reference registers ~22
    ``double[]``-in/``double[]``-out functions (``MapAlgebra.java:288-654``,
    RS_Add … RS_FetchRegion at ``Catalog.scala``); here each is a SQL
    scalar UDF over ``ARRAY<DOUBLE>`` that Catalyst inlines into whole-stage
    codegen (``sql_registry._rs_array_sql_udfs``). Bands are synthesized
    per nation row by a fixed integer formula, so the DuckDB oracle
    re-derives every output with ITS OWN list lambdas, mirroring the Java
    quirks independently (reversed subtract, floor(x·100+0.5)/100 rounding,
    0→−1 remap in NormalizedDifference, constant→zeros Normalize,
    unique→unchanged Mode)."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    agg = "aggregate({0}, 0e0, (a, v) -> a + v)"
    return spark.sql(f"""
with z as ({SQL_ZONES}),
{_RS_BANDS_SPARK}
select n_nationkey,
       round({agg.format('RS_Add(b1, b2)')}, 6) as add_sum,
       round(element_at(RS_Subtract(b1, b2), 4), 6) as sub4,
       round({agg.format('RS_Multiply(b1, b2)')}, 6) as mul_sum,
       round({agg.format('RS_Divide(b1, b2)')}, 6) as div_sum,
       round(element_at(RS_MultiplyFactor(b1, 2.5e0), 6), 6) as mf6,
       round({agg.format('RS_Modulo(b1, 7e0)')}, 6) as mod_sum,
       round(element_at(RS_SquareRoot(b1), 6), 6) as sqrt6,
       round({agg.format('RS_BitwiseAnd(b1, b2)')}, 6) as and_sum,
       round({agg.format('RS_BitwiseOr(b1, b2)')}, 6) as or_sum,
       round({agg.format('RS_LogicalDifference(b1, b2)')}, 6) as ld_sum,
       round({agg.format('RS_LogicalOver(b3, b2)')}, 6) as lo_sum,
       round({agg.format('RS_Normalize(b1)')}, 4) as nz_sum,
       round({agg.format('RS_NormalizedDifference(b1, b2)')}, 6) as nd_sum,
       round(RS_Mean(b1), 6) as mean1,
       round(element_at(RS_Mode(b3), 1), 6) as mode3,
       cast(size(RS_Mode(b3)) as bigint) as mode3_n,
       cast(RS_CountValue(b3, 2e0) as bigint) as cv2,
       round({agg.format('RS_GreaterThan(b1, 48e0)')}, 6) as gt_sum,
       round({agg.format('RS_GreaterThanEqual(b1, 48e0)')}, 6) as ge_sum,
       round({agg.format('RS_LessThan(b1, 48e0)')}, 6) as lt_sum,
       round({agg.format('RS_LessThanEqual(b1, 48e0)')}, 6) as le_sum,
       round({agg.format(
           'RS_FetchRegion(b1, array(1, 1, 3, 4), array(5, 5))')}, 6)
           as fr_sum,
       cast(size(RS_FetchRegion(b1, array(1, 1, 3, 4), array(5, 5)))
           as bigint) as fr_n,
       round({agg.format(
           'RS_Array(4, cast(n_nationkey as double))')}, 6) as arr_sum
from b
""")


def _sql_api_rs_math_sql() -> str:
    """DuckDB twin: same band formulas, Java-semantics mirrored with
    DuckDB's own list lambdas (1-based indexing, fmod, floor-rounding)."""
    zsum = ("list_aggregate(list_transform(range(1, 26), "
            "i -> {0}), 'sum')")
    jr2 = "floor(({0}) * 100 + 0.5) / 100"
    ndx = "(case when b1[i] = 0 then -1.0 else b1[i] end)"
    ndy = "(case when b2[i] = 0 then -1.0 else b2[i] end)"
    maxfreq = ("list_max(list_transform(b3, "
               "v -> len(list_filter(b3, w -> w = v))))")
    return f"""
with z as ({SQL_ZONES}),
b as (select n_nationkey,
      list_transform(range(0, 25),
          i -> cast((n_nationkey * 7 + i * 13) % 97 as double)) as b1,
      list_transform(range(0, 25),
          i -> cast((n_nationkey * 11 + i * 5) % 89 + 1 as double)) as b2,
      list_transform(range(0, 25),
          i -> cast((n_nationkey + i) % 7 as double)) as b3
      from z)
select n_nationkey,
    round({zsum.format('b1[i] + b2[i]')}, 6) as add_sum,
    round(b2[4] - b1[4], 6) as sub4,
    round({zsum.format('b1[i] * b2[i]')}, 6) as mul_sum,
    round({zsum.format(jr2.format('b1[i] / b2[i]'))}, 6) as div_sum,
    round(b1[6] * 2.5, 6) as mf6,
    round({zsum.format('fmod(b1[i], 7.0)')}, 6) as mod_sum,
    round({jr2.format('sqrt(b1[6])')}, 6) as sqrt6,
    round({zsum.format(
        'cast(cast(b1[i] as int) & cast(b2[i] as int) as double)')}, 6)
        as and_sum,
    round({zsum.format(
        'cast(cast(b1[i] as int) | cast(b2[i] as int) as double)')}, 6)
        as or_sum,
    round({zsum.format(
        'case when b1[i] <> b2[i] then b1[i] else 0.0 end')}, 6) as ld_sum,
    round({zsum.format(
        'case when b3[i] <> 0.0 then b3[i] else b2[i] end')}, 6) as lo_sum,
    round(case when list_max(b1) = list_min(b1) then 0.0
          else {zsum.format(
              '(b1[i] - list_min(b1)) * 255.0 '
              '/ (list_max(b1) - list_min(b1))')} end, 4) as nz_sum,
    round({zsum.format(
        f"case when {ndy} + {ndx} = 0 then 0.0 else "
        + jr2.format(f'({ndy} - {ndx}) / ({ndy} + {ndx})') + " end")}, 6)
        as nd_sum,
    round(list_aggregate(b1, 'sum') / len(b1), 6) as mean1,
    round(case when {maxfreq} = 1 then b3[1]
          else list_max(list_filter(b3,
              v -> len(list_filter(b3, w -> w = v)) = {maxfreq})) end, 6)
        as mode3,
    cast(case when {maxfreq} = 1 then len(b3) else 1 end as bigint)
        as mode3_n,
    cast(len(list_filter(b3, v -> v = 2.0)) as bigint) as cv2,
    round({zsum.format('case when b1[i] > 48 then 1.0 else 0.0 end')}, 6)
        as gt_sum,
    round({zsum.format('case when b1[i] >= 48 then 1.0 else 0.0 end')}, 6)
        as ge_sum,
    round({zsum.format('case when b1[i] < 48 then 1.0 else 0.0 end')}, 6)
        as lt_sum,
    round({zsum.format('case when b1[i] <= 48 then 1.0 else 0.0 end')}, 6)
        as le_sum,
    round(list_aggregate(list_transform(range(0, 12),
        k -> b1[(1 + k // 4) * 5 + (1 + k % 4) + 1]), 'sum'), 6) as fr_sum,
    cast(12 as bigint) as fr_n,
    round(4.0 * n_nationkey, 6) as arr_sum
from b
"""


def q_sql_api_rs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Georeferenced-raster SQL tier (r5c): the reference models a raster
    as GridCoverage2D with an affine georeference + SRID + nodata
    (``RasterAccessors.java``, ``RasterPredicates.java``); the engine's SQL
    model is an explicit STRUCT whose accessors/transforms are pure Column
    arithmetic (``sql_registry._rs_geo_sql_udfs``). Exercises constructors
    (MakeRasterMeta/SetGeoReference/SetSRID/SetBandNoDataValue), accessors
    (UpperLeftX/Y, Scale, Skew, SRID, GeoReference GDAL+ESRI strings,
    GeoTransform, Rotation), both affine directions incl. a skewed raster
    (RasterToWorldCoord, WorldToRasterCoord — 1-based, floor semantics),
    pixel geometry (PixelAsCentroid/Polygon/Points), envelopes
    (Envelope/ConvexHull/MinConvexHull-with-nodata), world-coord pixel
    reads (ValueAt), band stats (SummaryStatsAll), and the raster×geometry
    predicate family (Intersects/Contains/Within). The DuckDB twin
    re-derives every output independently: georef terms from the id
    formulas, pixel values from the codec generator formula
    (``_PIX``/``_DECODED``), predicates from interval logic."""
    import sedona_spark
    from sedona_spark.sources.images import images_from_part

    sedona_spark.register(spark)
    images_from_part(spark, sf_dir, id_mod=50,
                     columns=("image_id", "bytes", "w", "h")).createOrReplaceTempView(
        "img"
    )
    return spark.sql("""
with m as (select cast(substring(image_id, 5) as bigint) as i, bytes, w, h
           from img),
p as (select i, bytes, w, h,
             cast(i % 7 as double) * 10e0 as gulx,
             cast(i % 5 as double) * 10e0 + 100e0 as guly,
             cast(i % 3 as double) + 1e0 as gsx,
             -(cast(i % 4 as double) + 1e0) as gsy,
             cast(i % 2 as double) as gkx,
             cast((i + 1) % 2 as double) as gky,
             cast(i % 3 as int) as bq
      from m),
r as (select p.*,
             RS_SetBandNoDataValue(RS_SetSRID(RS_SetGeoReference(
                 RS_MakeRasterMeta(bytes, w, h, 3, 0e0, 0e0, 1e0),
                 gulx, guly, gsx, gsy, 0e0, 0e0), 3857), 250e0) as r,
             RS_SetGeoReference(
                 RS_MakeRasterMeta(bytes, w, h, 3, 0e0, 0e0, 1e0),
                 gulx, guly, gsx, gsy, gkx, gky) as rk
      from p)
select i,
  round(RS_UpperLeftX(r), 6) as ulx_o,
  round(RS_UpperLeftY(r), 6) as uly_o,
  round(RS_ScaleX(r), 6) as sx_o,
  round(RS_ScaleY(r), 6) as sy_o,
  round(RS_SkewX(rk), 6) as kx_o,
  round(RS_SkewY(rk), 6) as ky_o,
  RS_SRID(r) as srid_o,
  RS_GeoReference(r, 'GDAL') as gref_gdal,
  RS_GeoReference(r, 'ESRI') as gref_esri,
  round(element_at(RS_GeoTransform(rk), 1), 6) as gt_magi,
  round(element_at(RS_GeoTransform(rk), 2), 6) as gt_magj,
  round(element_at(RS_GeoTransform(rk), 3), 6) as gt_thetai,
  round(element_at(RS_GeoTransform(rk), 4), 6) as gt_thetaij,
  round(RS_Rotation(rk), 6) as rot_k,
  round(RS_RasterToWorldCoordX(r, cast(i % 5 as int) + 1,
                               cast(i % 7 as int) + 1), 6) as wx_o,
  round(RS_RasterToWorldCoordY(r, cast(i % 5 as int) + 1,
                               cast(i % 7 as int) + 1), 6) as wy_o,
  RS_WorldToRasterCoordX(r, gulx + 2.7e0 * gsx, guly + 3.3e0 * gsy)
      as wc_col,
  RS_WorldToRasterCoordY(r, gulx + 2.7e0 * gsx, guly + 3.3e0 * gsy)
      as wc_row,
  RS_WorldToRasterCoordX(rk, gulx + 2.5e0 * gsx + 3.5e0 * gkx,
                         guly + 2.5e0 * gky + 3.5e0 * gsy) as wck_col,
  RS_WorldToRasterCoordY(rk, gulx + 2.5e0 * gsx + 3.5e0 * gkx,
                         guly + 2.5e0 * gky + 3.5e0 * gsy) as wck_row,
  round(element_at(RS_PixelAsCentroid(r, 2, 3), 1), 6) as pcx,
  round(element_at(RS_PixelAsCentroid(r, 2, 3), 2), 6) as pcy,
  round(element_at(RS_PixelAsPolygon(r, 2, 3), 5), 6) as ppx3,
  round(element_at(RS_PixelAsPolygon(r, 2, 3), 6), 6) as ppy3,
  round(element_at(RS_Envelope(r), 1), 6) as env_minx,
  round(element_at(RS_Envelope(r), 2), 6) as env_miny,
  round(element_at(RS_Envelope(r), 5), 6) as env_maxx,
  round(element_at(RS_Envelope(r), 6), 6) as env_maxy,
  round(element_at(RS_ConvexHull(rk), 5), 6) as ch_x11,
  round(element_at(RS_ConvexHull(rk), 6), 6) as ch_y11,
  round(element_at(RS_MinConvexHull(r, bq), 1), 6) as mch_minx,
  round(element_at(RS_MinConvexHull(r, bq), 2), 6) as mch_miny,
  round(element_at(RS_MinConvexHull(r, bq), 5), 6) as mch_maxx,
  round(element_at(RS_MinConvexHull(r, bq), 6), 6) as mch_maxy,
  cast(RS_ValueAt(r, gulx + (cast(i % 13 as double) + 5e-1) * gsx,
                  guly + (cast(i % 11 as double) + 5e-1) * gsy, bq)
      as bigint) as va,
  element_at(RS_PixelAsPoints(r, 0), 38).cx as pap_cx,
  element_at(RS_PixelAsPoints(r, 0), 38).cy as pap_cy,
  round(element_at(RS_PixelAsPoints(r, 0), 38).px, 6) as pap_px,
  round(element_at(RS_PixelAsPoints(r, 0), 38).py, 6) as pap_py,
  cast(element_at(RS_PixelAsPoints(r, 0), 38).v as bigint) as pap_v,
  RS_SummaryStatsAll(r, bq).cnt as ss_cnt,
  cast(RS_SummaryStatsAll(r, bq).sum as bigint) as ss_sum,
  round(RS_SummaryStatsAll(r, bq).mean, 6) as ss_mean,
  round(RS_SummaryStatsAll(r, bq).stddev, 4) as ss_std,
  cast(RS_SummaryStatsAll(r, bq).min as bigint) as ss_min,
  cast(RS_SummaryStatsAll(r, bq).max as bigint) as ss_max,
  RS_BandIsNoData(r, bq) as bnd,
  round(RS_BandNoDataValue(r), 6) as ndv,
  RS_Contains(r, ST_MakeEnvelope(
      gulx + 0.25e0 * w * gsx, guly + 0.75e0 * h * gsy,
      gulx + 0.75e0 * w * gsx, guly + 0.25e0 * h * gsy)) as rc_in,
  RS_Contains(r, ST_MakeEnvelope(gulx - 3e0, guly - 3e0,
                                 gulx + 3e0, guly + 3e0)) as rc_edge,
  RS_Intersects(r, ST_MakeEnvelope(gulx - 3e0, guly - 3e0,
                                   gulx + 3e0, guly + 3e0)) as ri_edge,
  RS_Within(r, ST_MakeEnvelope(gulx - 100e0, guly + 100e0 * gsy - 100e0,
                               gulx + 100e0 * gsx + 100e0, guly + 100e0))
      as rw_big
from r
""")


def _sql_api_rs_geo_sql() -> str:
    pixv = _PIX.format(x="(i % 13)", y="(i % 11)")
    pixv = pixv.replace("c.v * 7", "(i % 3) * 7")
    va = _DECODED.format(v=f"({pixv})")
    pap = _PIX.format(x="(37 % w)", y="(37 // w)")
    pap = pap.replace("c.v * 7", "0 * 7")
    papv = _DECODED.format(v=f"({pap})")
    band = _PIX.format(x="x.v", y="y.v").replace("c.v * 7", "(i % 3) * 7")
    dv = _DECODED.format(v=f"({band})")
    mag_i = "sqrt(gsx * gsx + gky * gky)"
    mag_j = "sqrt(gsy * gsy + gkx * gkx)"
    theta_i = (f"(case when acos(gky / {mag_i}) < pi() / 2 "
               f"then -acos(gsx / {mag_i}) else acos(gsx / {mag_i}) end)")
    theta_ij = (f"(case when acos((-gky * gkx + gsx * gsy) "
                f"/ ({mag_i} * {mag_j})) > pi() / 2 "
                f"then -acos((gsx * gkx + gky * gsy) / ({mag_i} * {mag_j})) "
                f"else acos((gsx * gkx + gky * gsy) "
                f"/ ({mag_i} * {mag_j})) end)")
    # E'' so DuckDB interprets the \n escapes (plain '' strings do not)
    gref = "E'%f \\n%f \\n%f \\n%f \\n%f \\n%f'"
    return f"""
with img as ({_img_meta_sql()}),
p as (select i, w, h, fmt,
             cast(i % 7 as double) * 10 as gulx,
             cast(i % 5 as double) * 10 + 100 as guly,
             cast(i % 3 as double) + 1 as gsx,
             -(cast(i % 4 as double) + 1) as gsy,
             cast(i % 2 as double) as gkx,
             cast((i + 1) % 2 as double) as gky
      from img where i % 50 = 0),
bandstats as (
  select i,
         count(*) as cnt, sum({dv}) as s,
         sum(cast({dv} as double) * {dv}) as s2,
         min({dv}) as mn, max({dv}) as mx,
         min(case when {dv} <> 250 then x.v end) as live_c0,
         max(case when {dv} <> 250 then x.v end) as live_c1,
         min(case when {dv} <> 250 then y.v end) as live_r0,
         max(case when {dv} <> 250 then y.v end) as live_r1
  from img,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y
  where i % 50 = 0
  group by i)
select p.i,
  round(gulx, 6) as ulx_o,
  round(guly, 6) as uly_o,
  round(gsx, 6) as sx_o,
  round(gsy, 6) as sy_o,
  round(gkx, 6) as kx_o,
  round(gky, 6) as ky_o,
  3857 as srid_o,
  printf({gref}, gsx, 0.0, 0.0, gsy, gulx, guly) as gref_gdal,
  printf({gref}, gsx, 0.0, 0.0, gsy,
         gulx + gsx / 2, guly + gsy / 2) as gref_esri,
  round({mag_i}, 6) as gt_magi,
  round({mag_j}, 6) as gt_magj,
  round({theta_i}, 6) as gt_thetai,
  round({theta_ij}, 6) as gt_thetaij,
  round({theta_i}, 6) as rot_k,
  round(gulx + (i % 5) * gsx, 6) as wx_o,
  round(guly + (i % 7) * gsy, 6) as wy_o,
  3 as wc_col,
  4 as wc_row,
  3 as wck_col,
  4 as wck_row,
  round(gulx + 1.5 * gsx, 6) as pcx,
  round(guly + 2.5 * gsy, 6) as pcy,
  round(gulx + 2 * gsx, 6) as ppx3,
  round(guly + 3 * gsy, 6) as ppy3,
  round(least(gulx, gulx + w * gsx), 6) as env_minx,
  round(least(guly, guly + h * gsy), 6) as env_miny,
  round(greatest(gulx, gulx + w * gsx), 6) as env_maxx,
  round(greatest(guly, guly + h * gsy), 6) as env_maxy,
  round(gulx + w * gsx + h * gkx, 6) as ch_x11,
  round(guly + w * gky + h * gsy, 6) as ch_y11,
  round(least(gulx + live_c0 * gsx, gulx + (live_c1 + 1) * gsx), 6)
      as mch_minx,
  round(least(guly + live_r0 * gsy, guly + (live_r1 + 1) * gsy), 6)
      as mch_miny,
  round(greatest(gulx + live_c0 * gsx, gulx + (live_c1 + 1) * gsx), 6)
      as mch_maxx,
  round(greatest(guly + live_r0 * gsy, guly + (live_r1 + 1) * gsy), 6)
      as mch_maxy,
  cast({va} as bigint) as va,
  cast(37 % w + 1 as int) as pap_cx,
  cast(37 // w + 1 as int) as pap_cy,
  round(gulx + (37 % w) * gsx, 6) as pap_px,
  round(guly + (37 // w) * gsy, 6) as pap_py,
  cast({papv} as bigint) as pap_v,
  cast(cnt as bigint) as ss_cnt,
  cast(s as bigint) as ss_sum,
  round(cast(s as double) / cnt, 6) as ss_mean,
  round(sqrt(greatest(0.0, cast(s2 as double) / cnt
             - (cast(s as double) / cnt) * (cast(s as double) / cnt))), 4)
      as ss_std,
  cast(mn as bigint) as ss_min,
  cast(mx as bigint) as ss_max,
  false as bnd,
  round(250.0, 6) as ndv,
  true as rc_in,
  false as rc_edge,
  true as ri_edge,
  true as rw_big
from p join bandstats using (i)
"""


def q_sql_api_rs_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster constructor / band-editor / IO SQL tier (r5c): the
    reference's RasterConstructors / RasterBandEditors /
    PixelFunctionEditors / RasterOutputs families re-expressed as SQL
    sugar over four tiny Arrow-batched codec primitives
    (``sql_registry._rs_io_sql_udfs``). Exercises RS_MakeEmptyRaster
    (zero-filled), RS_MakeRaster (georef copied, values uint8-clipped),
    RS_SetValue/RS_SetValues (1-based window burn), RS_AddBandFromArray /
    RS_AddBand / RS_Band (band append/copy/select), RS_AsMatrix,
    RS_AsArcGrid → RS_FromArcInfoAsciiGrid (public ESRI ASCII grid text,
    full round trip incl. the lower-left → upper-left anchor flip), and
    the plural pixel generators. Every raster is built from a per-nation
    integer formula, so the DuckDB twin re-derives all sums, strings and
    georeferences with its own list lambdas — including the clip
    semantics (least/greatest at the uint8 bounds)."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
p as (select n_nationkey as n,
             cast(n_nationkey % 5 + 2 as int) as w,
             cast(n_nationkey % 3 + 2 as int) as h,
             cast(n_nationkey % 3 + 1 as double) as cs
      from z),
b as (select p.*,
             RS_MakeEmptyRaster(1, w, h, n * 1.5e0, n * 2.5e0, cs) as e,
             transform(sequence(0, w * h - 1),
                 i -> cast((n * 7 + i * 11) % 260 as double)) as vals,
             transform(sequence(0, w * h - 1),
                 i -> cast((i * 13) % 300 - 20 as double)) as vals2
      from p),
x as (select b.*,
             RS_MakeRaster(e, vals) as rm,
             RS_AddBandFromArray(RS_MakeRaster(e, vals), vals2) as mb,
             RS_AsPNG(RS_MakeRaster(e, vals)) as png,
             RS_MakeRasterForTesting(2, w, h, 0e0, 0e0, 1e0, -1e0,
                                     0e0, 0e0, 4326) as tst,
             RS_ReprojectMatch(RS_MakeRaster(e, vals),
                 RS_SetGeoReference(
                     RS_MakeEmptyRaster(1, w div 2, h div 2,
                                        0e0, 0e0, 1e0),
                     n * 1.5e0, n * 2.5e0, 2e0 * cs, -2e0 * cs,
                     0e0, 0e0)) as rp
      from b)
select n,
  aggregate(RS_BandAsArray(
      RS_MapAlgebra(mb, 'out = rast[0] * 0.5 + rast[1] / 2;').buf, 0),
      0, (a, v) -> a + v) as ma_sum,
  RS_MapAlgebra(mb, 'out = rast[0] * 0.5 + rast[1] / 2;').bands as ma_nb,
  aggregate(RS_BandAsArray(
      RS_MapAlgebra(mb, 'out = con(rast[0] > 127, rast[1], rast[0]);').buf,
      0), 0, (a, v) -> a + v) as ma_con_sum,
  aggregate(RS_BandAsArray(
      RS_MapAlgebra(mb, 'out = rast[0][1, 0];').buf, 0), 0,
      (a, v) -> a + v) as ma_nbr_sum,
  aggregate(RS_BandAsArray(
      RS_MapAlgebra(mb,
        's = 0; foreach (dx in -1:1) {{ s += rast[0][dx, 0]; }} out = s / 3;'
      ).buf, 0), 0, (a, v) -> a + v) as ma_loop_sum,
  aggregate(RS_BandAsArray(RS_NormalizeAll(rm).buf, 0), 0,
      (a, v) -> a + v) as nz_all_sum,
  RS_Union(rm, mb).bands as un_nb,
  floor((coalesce(element_at(RS_Values(rm,
      array(n * 1.5e0 + 5e-1 * cs, n * 1.5e0 + (w - 5e-1) * cs,
            n * 1.5e0 + 1e6),
      array(n * 2.5e0 - 5e-1 * cs, n * 2.5e0 - (h - 5e-1) * cs,
            n * 2.5e0), 0), 1), -1e0)) * 1e6 + 5e-1) / 1e6 as rv1,
  floor((coalesce(element_at(RS_Values(rm,
      array(n * 1.5e0 + 5e-1 * cs, n * 1.5e0 + (w - 5e-1) * cs,
            n * 1.5e0 + 1e6),
      array(n * 2.5e0 - 5e-1 * cs, n * 2.5e0 - (h - 5e-1) * cs,
            n * 2.5e0), 0), 2), -1e0)) * 1e6 + 5e-1) / 1e6 as rv2,
  floor((coalesce(element_at(RS_Values(rm,
      array(n * 1.5e0 + 5e-1 * cs, n * 1.5e0 + (w - 5e-1) * cs,
            n * 1.5e0 + 1e6),
      array(n * 2.5e0 - 5e-1 * cs, n * 2.5e0 - (h - 5e-1) * cs,
            n * 2.5e0), 0), 3), -1e0)) * 1e6 + 5e-1) / 1e6 as rv3,
  RS_Clip(rm, array(
      n * 1.5e0 + 1e-1 * cs, n * 2.5e0 - 19e-1 * cs,
      n * 1.5e0 + 19e-1 * cs, n * 2.5e0 - 19e-1 * cs,
      n * 1.5e0 + 19e-1 * cs, n * 2.5e0 - 1e-1 * cs,
      n * 1.5e0 + 1e-1 * cs, n * 2.5e0 - 1e-1 * cs)).w as cl_w,
  floor((RS_Clip(rm, array(
      n * 1.5e0 + 1e-1 * cs, n * 2.5e0 - 19e-1 * cs,
      n * 1.5e0 + 19e-1 * cs, n * 2.5e0 - 19e-1 * cs,
      n * 1.5e0 + 19e-1 * cs, n * 2.5e0 - 1e-1 * cs,
      n * 1.5e0 + 1e-1 * cs, n * 2.5e0 - 1e-1 * cs)).ulx) * 1e6 + 5e-1) / 1e6 as cl_ulx,
  aggregate(RS_BandAsArray(RS_Clip(rm, array(
      n * 1.5e0 + 1e-1 * cs, n * 2.5e0 - 19e-1 * cs,
      n * 1.5e0 + 19e-1 * cs, n * 2.5e0 - 19e-1 * cs,
      n * 1.5e0 + 19e-1 * cs, n * 2.5e0 - 1e-1 * cs,
      n * 1.5e0 + 1e-1 * cs, n * 2.5e0 - 1e-1 * cs)).buf, 0), 0,
      (a, v) -> a + v) as cl_sum,
  hex(substring(png, 1, 8)) as png_magic,
  hex(substring(png, 17, 4)) as png_w,
  RS_FromPNG(png).bands as png_nb,
  aggregate(RS_BandAsArray(RS_FromPNG(png).buf, 0), 0, (a, v) -> a + v)
      as png_sum,
  aggregate(RS_BandAsArray(tst.buf, 1), 0, (a, v) -> a + v) as tst_sum1,
  tst.bands as tst_nb,
  rp.w as rp_w,
  floor((rp.sx) * 1e6 + 5e-1) / 1e6 as rp_sx,
  aggregate(RS_BandAsArray(rp.buf, 0), 0, (a, v) -> a + v) as rp_sum,
  aggregate(RS_BandAsArray(e.buf, 0), 0, (a, v) -> a + v) as empty_sum,
  e.bands as e_nb,
  floor((e.sy) * 1e6 + 5e-1) / 1e6 as e_sy,
  aggregate(RS_BandAsArray(rm.buf, 0), 0, (a, v) -> a + v) as rm_sum,
  aggregate(RS_BandAsArray(
      RS_SetValues(rm, 0, 1, 1, 2, 2, 9e0).buf, 0), 0,
      (a, v) -> a + v) as sv2_sum,
  aggregate(RS_BandAsArray(
      RS_SetValue(rm, 0, w, h, 5e0).buf, 0), 0,
      (a, v) -> a + v) as sv1_sum,
  mb.bands as mb_nb,
  aggregate(RS_BandAsArray(mb.buf, 1), 0, (a, v) -> a + v) as ab_sum,
  RS_AddBand(rm, mb, 1).bands as adb_nb,
  aggregate(RS_BandAsArray(RS_AddBand(rm, mb, 1).buf, 1), 0,
      (a, v) -> a + v) as adb_sum,
  aggregate(RS_BandAsArray(RS_Band(mb.buf, array(1)), 0), 0,
      (a, v) -> a + v) as selb_sum,
  RS_Metadata(RS_Band(mb.buf, array(1, 0))).bands as selb_nb,
  RS_AsMatrix(rm, 0) as mat,
  RS_AsArcGrid(rm, 0) as arc,
  floor((RS_FromArcInfoAsciiGrid(RS_AsArcGrid(rm, 0)).ulx) * 1e6 + 5e-1) / 1e6 as rt_ulx,
  floor((RS_FromArcInfoAsciiGrid(RS_AsArcGrid(rm, 0)).uly) * 1e6 + 5e-1) / 1e6 as rt_uly,
  floor((RS_FromArcInfoAsciiGrid(RS_AsArcGrid(rm, 0)).sy) * 1e6 + 5e-1) / 1e6 as rt_sy,
  RS_FromArcInfoAsciiGrid(RS_AsArcGrid(rm, 0)).w as rt_w,
  floor((RS_FromArcInfoAsciiGrid(RS_AsArcGrid(rm, 0)).nodata) * 1e6 + 5e-1) / 1e6 as rt_nd,
  aggregate(RS_BandAsArray(
      RS_FromArcInfoAsciiGrid(RS_AsArcGrid(rm, 0)).buf, 0), 0,
      (a, v) -> a + v) as rt_sum,
  RS_BandPixelType(e, 0) as bpt,
  floor((element_at(RS_PixelAsCentroids(e, 0), 2).px) * 1e6 + 5e-1) / 1e6 as pac_px,
  floor((element_at(RS_PixelAsCentroids(e, 0), 2).py) * 1e6 + 5e-1) / 1e6 as pac_py,
  floor((element_at(element_at(RS_PixelAsPolygons(e, 0), 1).ring, 3)) * 1e6 + 5e-1) / 1e6
      as pap_x2
from x
""")


def _sql_api_rs_io_sql() -> str:
    v = "least((n * 7 + i * 11) % 260, 255)"
    v2 = "least(greatest((i * 13) % 300 - 20, 0), 255)"
    vsum = f"list_aggregate(list_transform(range(0, w * h), i -> {v}), 'sum')"
    v2sum = (f"list_aggregate(list_transform(range(0, w * h), i -> {v2}), "
             "'sum')")
    vk = "least((n * 7 + {k} * 11) % 260, 255)"
    # matrix pieces in list order mirror the Spark aggregate fold
    mat = (
        "list_aggregate(list_transform(range(0, w * h), k -> "
        "concat(case when k % w = 0 then '|' else '' end, "
        f"printf(' %d ', {vk.format(k='k')}), "
        "case when (k + 1) % w = 0 then '|' || chr(10) else '' end)), "
        "'string_agg', '')"
    )
    arc_rows = (
        "list_aggregate(list_transform(range(0, h), r -> "
        "list_aggregate(list_transform(range(0, w), c -> "
        f"cast({vk.format(k='(r * w + c)')} as varchar)), "
        "'string_agg', ' ')), 'string_agg', chr(10))"
    )
    arc = (
        "printf('ncols %d', w) || chr(10) || printf('nrows %d', h) || "
        "chr(10) || printf('xllcorner %g', n * 1.5) || chr(10) || "
        "printf('yllcorner %g', n * 2.5 - h * cs) || chr(10) || "
        "printf('cellsize %g', cs) || chr(10) || 'NODATA_value -9999' || "
        f"chr(10) || {arc_rows} || chr(10)"
    )
    return f"""
with z as ({SQL_ZONES}),
p as (select n_nationkey as n,
             n_nationkey % 5 + 2 as w,
             n_nationkey % 3 + 2 as h,
             cast(n_nationkey % 3 + 1 as double) as cs
      from z)
select n,
  cast(list_aggregate(list_transform(range(0, w * h), i ->
      floor(({v} + {v2}) / 2.0)), 'sum') as int) as ma_sum,
  1 as ma_nb,
  cast(list_aggregate(list_transform(range(0, w * h), i ->
      case when {v} > 127 then {v2} else {v} end), 'sum') as int)
      as ma_con_sum,
  cast(coalesce(list_aggregate(list_transform(range(0, w * h), i ->
      case when i % w > 0 then {v} else 0 end), 'sum'), 0) as int)
      as ma_nbr_sum,
  cast(coalesce(list_aggregate(list_transform(range(0, w * h), i ->
      floor((case when i % w > 0 then least((n * 7 + (i - 1) * 11) % 260, 255) else 0 end + {v}
             + case when i % w < w - 1 then least((n * 7 + (i + 1) * 11) % 260, 255) else 0 end) / 3.0)),
      'sum'), 0) as int) as ma_loop_sum,
  cast(list_aggregate(list_transform(range(0, w * h), i ->
      case when list_max(list_transform(range(0, w * h), j ->
               least((n * 7 + j * 11) % 260, 255)))
             = list_min(list_transform(range(0, w * h), j ->
               least((n * 7 + j * 11) % 260, 255))) then 0
      else floor(({v} - list_min(list_transform(range(0, w * h), j ->
               least((n * 7 + j * 11) % 260, 255)))) * 255.0
           / (list_max(list_transform(range(0, w * h), j ->
               least((n * 7 + j * 11) % 260, 255)))
              - list_min(list_transform(range(0, w * h), j ->
               least((n * 7 + j * 11) % 260, 255))))) end),
      'sum') as int) as nz_all_sum,
  3 as un_nb,
  floor((cast({vk.format(k='0')} as double)) * 1e6 + 5e-1) / 1e6 as rv1,
  floor((cast({vk.format(k='(w * h - 1)')} as double)) * 1e6 + 5e-1) / 1e6 as rv2,
  floor((-1.0) * 1e6 + 5e-1) / 1e6 as rv3,
  2 as cl_w,
  floor((n * 1.5) * 1e6 + 5e-1) / 1e6 as cl_ulx,
  cast({vk.format(k='0')} + {vk.format(k='1')} + {vk.format(k='w')}
      + {vk.format(k='(w + 1)')} as int) as cl_sum,
  '89504E470D0A1A0A' as png_magic,
  printf('%08X', w) as png_w,
  1 as png_nb,
  {vsum} as png_sum,
  cast(list_aggregate(list_transform(range(0, w * h),
      p -> least(1 + p, 255)), 'sum') as int) as tst_sum1,
  2 as tst_nb,
  cast(w // 2 as int) as rp_w,
  floor((2.0 * cs) * 1e6 + 5e-1) / 1e6 as rp_sx,
  cast(list_aggregate(list_transform(range(0, (w // 2) * (h // 2)),
      k -> least((n * 7 + ((2 * (k // (w // 2)) + 1) * w
                  + 2 * (k % (w // 2)) + 1) * 11) % 260, 255)),
      'sum') as int) as rp_sum,
  0 as empty_sum,
  1 as e_nb,
  floor((-cs) * 1e6 + 5e-1) / 1e6 as e_sy,
  {vsum} as rm_sum,
  {vsum} + 4 * 9 - ({vk.format(k='0')} + {vk.format(k='1')}
      + {vk.format(k='w')} + {vk.format(k='(w + 1)')}) as sv2_sum,
  {vsum} + 5 - {vk.format(k='(w * h - 1)')} as sv1_sum,
  2 as mb_nb,
  {v2sum} as ab_sum,
  2 as adb_nb,
  {v2sum} as adb_sum,
  {v2sum} as selb_sum,
  2 as selb_nb,
  {mat} as mat,
  {arc} as arc,
  floor((n * 1.5) * 1e6 + 5e-1) / 1e6 as rt_ulx,
  floor((n * 2.5) * 1e6 + 5e-1) / 1e6 as rt_uly,
  floor((-cs) * 1e6 + 5e-1) / 1e6 as rt_sy,
  cast(w as int) as rt_w,
  floor((-9999.0) * 1e6 + 5e-1) / 1e6 as rt_nd,
  {vsum} as rt_sum,
  'UNSIGNED_8BITS' as bpt,
  floor((n * 1.5 + 1.5 * cs) * 1e6 + 5e-1) / 1e6 as pac_px,
  floor((n * 2.5 - 0.5 * cs) * 1e6 + 5e-1) / 1e6 as pac_py,
  floor((n * 1.5 + cs) * 1e6 + 5e-1) / 1e6 as pap_x2
from p
"""


def q_sql_api_6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-tail ST_ stragglers (r5c): orientation predicates
    (ST_IsPolygonCW/CCW with the reference's exterior-CW + interiors-CCW
    split, Functions.java:1430-1560), GeometryType (unprefixed JTS name),
    ST_LineFromMultiPoint, trajectory/measure functions
    (ST_IsValidTrajectory, ST_InterpolatePoint — M at the closest point,
    Functions.java:1013/2668), ST_GeomFromMySQL (4-byte LE SRID + WKB),
    geography casts, ST_GeogFromGeoHash, and the table-driven general
    ST_TransformEpsg (every code in ``crs.CONIC_EPSG`` + 3857)."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx, zcy, hx, hy,
             ST_MakeEnvelope(zcx - hx, zcy - hy, zcx + hx, zcy + hy)
                 as rect,
             array(zcx - hx, zcy - hy, zcx + hx, zcy + hy) as dia2
      from z)
select n_nationkey,
  GeometryType(array(rect)) as gtype,
  ST_IsPolygonCCW(array(rect)) as ccw_t,
  ST_IsPolygonCW(array(rect)) as cw_f,
  ST_IsPolygonCW(array(ST_Reverse(rect))) as cw_t,
  ST_IsPolygonCCW(array(rect, ST_Reverse(rect))) as ccw_h_t,
  ST_IsPolygonCW(array(rect, ST_Reverse(rect))) as cw_h_f,
  round(element_at(ST_LineFromMultiPoint(
      array(array(zcx - hx, zcy - hy), array(zcx + hx, zcy + hy))), 3), 6)
      as lmp_x2,
  cast(size(ST_LineFromMultiPoint(array(array(zcx, zcy),
      array(zcx + hx, zcy), array(zcx, zcy + hy)))) as bigint) as lmp_n,
  ST_IsValidTrajectory(ST_AddMeasure(dia2, 0e0, 1e0 + hx)) as vt_t,
  ST_IsValidTrajectory(ST_AddMeasure(dia2, 1e0 + hx, 0e0)) as vt_f,
  round(ST_InterpolatePoint(dia2, ST_AddMeasure(dia2, 0e0, 8e0),
      zcx, zcy - hy), 6) as ip_m,
  round(ST_TransformEpsg(zcx, zcy, 3857).x, 2) as merc_x,
  round(ST_TransformEpsg(zcx, zcy, 2154).y, 2) as lcc_y,
  round(ST_TransformEpsg(zcx, zcy, 5070).x, 2) as alb_x,
  round(ST_TransformEpsg(zcx, zcy, 3413).y, 2) as nsidc_y,
  round(ST_TransformEpsg(zcx, zcy, 99999).x, 6) as fall_x,
  round(ST_TransformEpsg(zcx, zcy,
      cast(32601 + floor((zcx + 180e0) / 6e0) as int)).x, 2) as utm_e,
  round(ST_TransformEpsg(zcx, zcy, 3035).y / 1e3, 3) as laea_y,
  round(ST_Area(element_at(ST_GeomFromMySQL(concat(unhex('E6100000'),
      ST_AsBinary(ST_MakePolygon(rect)))), 1)), 6) as my_area,
  round(ST_Area(element_at(
      ST_GeogToGeometry(ST_GeomToGeography(array(rect))), 1)), 6)
      as gg_area,
  round(element_at(ST_GeogFromGeoHash(ST_GeoHash(zcx, zcy, 5)), 1), 6)
      as gh_x0,
  round(element_at(ST_GeogFromGeoHash(ST_GeoHash(zcx, zcy, 5)), 4), 6)
      as gh_y0,
  ParseAddress(format_string('%d Oak St, City%d, IL %05d',
      n_nationkey + 1, n_nationkey, 60000 + n_nationkey)).road as addr_rd,
  ParseAddress(format_string('%d Oak St, City%d, IL %05d',
      n_nationkey + 1, n_nationkey, 60000 + n_nationkey)).postcode
      as addr_zip,
  element_at(ExpandAddress(format_string('%d Oak St, City%d, IL %05d',
      n_nationkey + 1, n_nationkey, 60000 + n_nationkey)), 2) as addr_ex
from g
""")


def _sql_api_6_sql() -> str:
    from sedona_spark.functions.crs import (
        CONIC_EPSG, sql_albers, sql_laea_ell, sql_lcc, sql_stereo,
        sql_tmerc,
        sql_to_mercator,
    )
    from sedona_spark.functions.geohash import _bits, _sql_grid

    mx, _ = sql_to_mercator("zcx", "zcy")
    _, lcc_y = sql_lcc("zcx", "zcy", *CONIC_EPSG[2154][1:])
    alb_x, _ = sql_albers("zcx", "zcy", *CONIC_EPSG[5070][1:])
    _, st_y = sql_stereo("zcx", "zcy", CONIC_EPSG[3413][1],
                         CONIC_EPSG[3413][2], south=False)
    # runtime-lon0 UTM arm mirror: code = 32601 + floor((zcx+180)/6), so
    # lon0 = (floor((zcx+180)/6) + 1) * 6 - 183 (same VALUES either way)
    utm_x, _ = sql_tmerc(
        "zcx", "zcy",
        "((floor((zcx + 180e0) / 6e0) + 1) * 6 - 183)",
    )
    _, laea_y = sql_laea_ell("zcx", "zcy", *CONIC_EPSG[3035][1:3],
                             *CONIC_EPSG[3035][5:7])
    # mirror of the engine's per-segment projection ARITHMETIC (same IEEE
    # op order) for the one live segment of the 2-point diagonal
    tt = ("((zcx - (zcx - hx)) * ((zcx + hx) - (zcx - hx)) "
          "+ ((zcy - hy) - (zcy - hy)) * ((zcy + hy) - (zcy - hy))) "
          "/ greatest(pow((zcx + hx) - (zcx - hx), 2) "
          "+ pow((zcy + hy) - (zcy - hy), 2), 1e-300)")
    # geohash cell lower-left corner at precision 5, from the grid indices
    _, lon_bits, lat_bits = _bits(5)
    gx, gy = _sql_grid("zcx", "zcy", 5)
    gh_x0 = f"(-180.0 + {gx} * (360.0 / {1 << lon_bits}))"
    gh_y0 = f"(-90.0 + {gy} * (180.0 / {1 << lat_bits}))"
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
  'POLYGON' as gtype,
  true as ccw_t,
  false as cw_f,
  true as cw_t,
  true as ccw_h_t,
  false as cw_h_f,
  round(zcx + hx, 6) as lmp_x2,
  cast(6 as bigint) as lmp_n,
  true as vt_t,
  false as vt_f,
  round(0e0 + least(1.0, greatest(0.0, {tt})) * (8e0 - 0e0), 6) as ip_m,
  round({mx}, 2) as merc_x,
  round({lcc_y}, 2) as lcc_y,
  round({alb_x}, 2) as alb_x,
  round({st_y}, 2) as nsidc_y,
  round(zcx, 6) as fall_x,
  round({utm_x}, 2) as utm_e,
  round(({laea_y}) / 1e3, 3) as laea_y,
  round(4 * hx * hy, 6) as my_area,
  round(4 * hx * hy, 6) as gg_area,
  round({gh_x0}, 6) as gh_x0,
  round({gh_y0}, 6) as gh_y0,
  'Oak St' as addr_rd,
  printf('%05d', 60000 + n_nationkey) as addr_zip,
  printf('%d oak street, city%d, il %05d',
         n_nationkey + 1, n_nationkey, 60000 + n_nationkey) as addr_ex
from z
"""


def q_distance_band_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band spatial weighting (r5c): the reference's
    ST_BinaryDistanceBandColumn / ST_WeightedDistanceBandColumn
    (``Weighting.scala:66-211``) annotate each point with its
    within-threshold neighbors + weights (1 or dist^alpha). The reference
    builds them with a raw theta self-join (cross product at plan level);
    the engine routes the self-join through the cell-blocked
    ``distance_join`` — grid-disk explode, cell equi-join, exact refine —
    the only shape that survives a 10^12-row table. Weights lists are
    sorted by neighbor id so the fold order is deterministic; the DuckDB
    oracle is an independent O(n²) self-join with the same IEEE arithmetic
    sequence."""
    from sedona_spark.operators.weighting import (
        add_binary_distance_band_column, add_weighted_distance_band_column,
    )
    from sedona_spark.sources.testdata import points_from_events

    pts = (
        points_from_events(spark, sf_dir)
        .filter(F.col("event_id") % 20 == 0)
        .select(F.col("event_id").alias("id"), "x", "y")
    )
    b = add_binary_distance_band_column(pts, 3.0, result_name="bw")
    w = add_weighted_distance_band_column(
        b, 3.0, alpha=-1.0, result_name="ww"
    )
    return w.select(
        F.col("id").alias("event_id"),
        F.size("bw").cast("long").alias("nb_n"),
        F.round(
            F.aggregate(
                "ww", F.lit(0.0), lambda a, s: a + s["weight"]
            ), 6,
        ).alias("wsum"),
        F.get(F.col("bw"), 0)["neighbor_id"].alias("first_nb"),
    )


def _distance_band_weights_sql() -> str:
    return f"""
with p as (select event_id, x, y from ({SQL_POINTS})
           where event_id % 20 = 0),
pairs as (
  select a.event_id as id, b.event_id as nid,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) as d
  from p a join p b
    on a.event_id <> b.event_id
   and (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9.0),
agg as (
  select id,
         count(*) as nb_n,
         list_aggregate(list(pow(d, -1.0) order by nid)
             filter (where d > 0), 'sum') as wsum,
         min(nid) as first_nb
  from pairs group by id)
select p.event_id,
       cast(coalesce(agg.nb_n, 0) as bigint) as nb_n,
       round(coalesce(agg.wsum, 0.0), 6) as wsum,
       agg.first_nb
from p left join agg on p.event_id = agg.id
"""


def q_sql_api_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL spellings of the reference's *physical* functions (r6, VERDICT
    r5 next-round #3): ST_DBSCAN / ST_GLocal / ST_LocalOutlierFactor /
    ST_BinaryDistanceBandColumn / ST_WeightedDistanceBandColumn
    (``Catalog.scala:30-329``, planned via ``ExtractPhysicalFunctions`` +
    ``EvalPhysicalFunctionStrategy``). The engine's analog of that
    logical-plan rewrite is ``sedona_spark.sql`` (``physical_sql.py``):
    each call dispatches to the distributed DataFrame operator, results
    bind back by id, and the surrounding projection stays Catalyst SQL.
    Five spellings in one statement over the same 1-in-20 events subset;
    the DuckDB twin recomputes all five families independently (recursive
    closure for DBSCAN, O(n²) bands, sorted-fold LOF)."""
    import sedona_spark
    from sedona_spark.sources.testdata import points_from_events

    pts = (
        points_from_events(spark, sf_dir)
        .filter(F.col("event_id") % 20 == 0)
        .withColumn("v", F.expr(_VAL))
    )
    pts.createOrReplaceTempView("stats_pts")
    return sedona_spark.sql(spark, """
select event_id,
  ST_DBSCAN(event_id, x, y, 2.0, 3).isCore as is_core,
  ST_DBSCAN(event_id, x, y, 2.0, 3).cluster as cluster,
  ST_GLocal(event_id, x, y, v, 3.0).n_band as n_band,
  ST_GLocal(event_id, x, y, v, 3.0).band_sum as band_sum,
  ST_GLocal(event_id, x, y, v, 3.0).g_star as g_star,
  ST_LocalOutlierFactor(event_id, x, y, 5) as lof,
  cast(size(ST_BinaryDistanceBandColumn(event_id, x, y, 3.0)) as bigint)
      as nb_n,
  round(aggregate(ST_WeightedDistanceBandColumn(event_id, x, y, 3.0, -1.0),
      0e0, (a, s) -> a + s.weight), 6) as wsum
from stats_pts
""")


def _sql_api_stats_sql() -> str:
    # the five physical-function families recomputed independently over
    # the same 1-in-20 subset: DBSCAN closure (recursive CTE), G* integer
    # moments, sorted-fold LOF (no candidate prefilter — the subset is
    # small enough for the exact O(n²) graph), binary/weighted bands
    return f"""
with recursive
pts as (select event_id, x, y, {_VAL} as v from ({SQL_POINTS})
        where event_id % 20 = 0),
pairs as (
  select a.event_id as ia, b.event_id as ib from pts a, pts b
  where (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4e0),
core as (select ia as id from pairs group by ia having count(*) >= 3),
ce as (select p.ia as a, p.ib as b from pairs p
       join core c1 on p.ia = c1.id join core c2 on p.ib = c2.id),
reach(a, b) as (
  select id, id from core
  union
  select r.a, e.b from reach r join ce e on r.b = e.a),
lbl as (select a as id, min(b) as cluster from reach group by a),
border as (
  select p.ia as id, min(l.cluster) as cluster
  from pairs p
  join core c on p.ib = c.id
  join lbl l on l.id = p.ib
  where p.ia not in (select id from core)
  group by p.ia),
assigned as (select * from lbl union all select * from border),
g as (select count(*) as n, sum(v) as sv, sum(v * v) as sx2 from pts),
gg as (select n, cast(sv as double) / n as mean,
       sqrt(cast(sx2 as double) / n
            - (cast(sv as double) / n) * (cast(sv as double) / n)) as sd
       from g),
band as (select a.event_id, count(*) as n_band,
                cast(sum(b.v) as bigint) as band_sum
         from pts a join pts b
           on (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9e0
         group by a.event_id),
cand as (
  select a.event_id as ida, b.event_id as idb,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) as d,
         row_number() over (partition by a.event_id
             order by (a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y) asc,
                      b.event_id asc) as rk
  from pts a join pts b on a.event_id <> b.event_id),
knn as (select ida, idb, d from cand where rk <= 5),
kd as (select ida as id, max(d) as kdist from knn group by ida),
rch as (select k.ida, k.idb, greatest(k.d, kd.kdist) as rv
        from knn k join kd on kd.id = k.idb),
lrd as (select ida as id,
        1e0 / (list_reduce(list(rv order by rv), (x, y) -> x + y) / count(*)
               + 1e-10) as lrd
        from rch group by ida),
lofs as (select k.ida as id,
        list_reduce(list(lo.lrd order by lo.lrd), (x, y) -> x + y) / count(*)
          / any_value(li.lrd) as lof
        from knn k
        join lrd lo on lo.id = k.idb
        join lrd li on li.id = k.ida
        group by k.ida),
wpairs as (
  select a.event_id as id, b.event_id as nid,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) as d
  from pts a join pts b
    on a.event_id <> b.event_id
   and (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9e0),
wagg as (
  select id,
         count(*) as nb_n,
         list_aggregate(list(pow(d, -1.0) order by nid)
             filter (where d > 0), 'sum') as wsum
  from wpairs group by id)
select p.event_id,
  (p.event_id in (select id from core)) as is_core,
  coalesce(a.cluster, -1) as cluster,
  band.n_band,
  band.band_sum,
  (band.band_sum - gg.mean * band.n_band)
    / (gg.sd * sqrt((gg.n * cast(band.n_band as double)
                     - cast(band.n_band as double)
                       * cast(band.n_band as double))
                    / (gg.n - 1))) as g_star,
  lofs.lof,
  cast(coalesce(wagg.nb_n, 0) as bigint) as nb_n,
  round(coalesce(wagg.wsum, 0.0), 6) as wsum
from pts p
left join assigned a on p.event_id = a.id
join band on band.event_id = p.event_id
join lofs on lofs.id = p.event_id
left join wagg on wagg.id = p.event_id
cross join gg
"""


def q_st_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_StraightSkeleton / ST_ApproximateMedialAxis (r5c): exact
    event-loop straight skeleton for convex rings
    (``kernels.straight_skeleton``; the reference's SFCGAL-backed
    ST_StraightSkeleton covers the general case — for convex input the
    two operators coincide with the medial axis). On the rect-zone
    fixture the skeleton is known in closed form — four corner bisectors
    of length min(hx,hy)·√2 plus a ridge of length 2(max−min) — so the
    DuckDB oracle derives segment count, total/max/min length and the
    endpoint envelope independently."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey,
             ST_StraightSkeleton(ST_MakeEnvelope(
                 zcx - hx, zcy - hy, zcx + hx, zcy + hy)) as sk,
             ST_ApproximateMedialAxis(ST_MakeEnvelope(
                 zcx - hx, zcy - hy, zcx + hx, zcy + hy)) as ma
      from z),
l as (select n_nationkey, sk,
             transform(sk, s -> sqrt(
                 (element_at(s, 3) - element_at(s, 1))
                 * (element_at(s, 3) - element_at(s, 1))
                 + (element_at(s, 4) - element_at(s, 2))
                 * (element_at(s, 4) - element_at(s, 2)))) as lens,
             transform(ma, s -> element_at(s, 1)) as xs
      from g)
select n_nationkey,
       cast(size(sk) as bigint) as nseg,
       round(aggregate(lens, 0e0, (a, v) -> a + v), 6) as total_len,
       round(array_max(lens), 6) as max_len,
       round(array_min(lens), 6) as min_len,
       round(array_min(xs), 6) as min_x
from l
""")


def _st_skeleton_sql() -> str:
    return f"""
with z as ({SQL_ZONES}),
d as (select n_nationkey, zcx, zcy, hx,
             least(hx, hy) as mind, greatest(hx, hy) as maxd
      from z)
select n_nationkey,
       cast(5 as bigint) as nseg,
       round(4 * sqrt(2.0) * mind + 2 * (maxd - mind), 6) as total_len,
       round(greatest(sqrt(2.0) * mind, 2 * (maxd - mind)), 6) as max_len,
       round(least(sqrt(2.0) * mind, 2 * (maxd - mind)), 6) as min_len,
       round(zcx - hx, 6) as min_x
from d
"""


def q_st_simplify_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SimplifyPolygonHull (r5c, JTS PolygonHullSimplifier semantics):
    on a notched rect (reflex apex at the zone center) the OUTER hull at
    vertex-factor 0.8 fills the notch back to the rectangle (area
    4·hx·hy, contains the input) and the INNER hull cuts the
    smallest-area convex corner (area 2·hx·hy, contained by the input) —
    both in closed form for the DuckDB oracle, alongside the original
    notched area 3·hx·hy."""
    import sedona_spark

    sedona_spark.register(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    return spark.sql(f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey,
             array(zcx - hx, zcy - hy, zcx + hx, zcy - hy,
                   zcx + hx, zcy + hy, zcx, zcy,
                   zcx - hx, zcy + hy) as notched
      from z),
h as (select n_nationkey, notched,
             ST_SimplifyPolygonHull(notched, 0.8e0, true) as outer_h,
             ST_SimplifyPolygonHull(notched, 0.8e0, false) as inner_h
      from g)
select n_nationkey,
       cast(size(notched) div 2 as bigint) as orig_n,
       round(ST_Area(notched), 6) as orig_area,
       cast(size(outer_h) div 2 as bigint) as outer_n,
       round(ST_Area(outer_h), 6) as outer_area,
       cast(size(inner_h) div 2 as bigint) as inner_n,
       round(ST_Area(inner_h), 6) as inner_area
from h
""")


def _st_simplify_hull_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       cast(5 as bigint) as orig_n,
       round(3 * hx * hy, 6) as orig_area,
       cast(4 as bigint) as outer_n,
       round(4 * hx * hy, 6) as outer_area,
       cast(4 as bigint) as inner_n,
       round(2 * hx * hy, 6) as inner_area
from z
"""


def q_geotiff_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF interop (r5c): RS_AsGeoTiff / RS_FromGeoTiff over a REAL
    pure-stdlib baseline GeoTIFF codec (``sources/geotiff.py`` — TIFF 6.0
    IFD, single uncompressed chunky strip, ModelPixelScale/ModelTiepoint
    + GeoKeyDirectory EPSG; r6 adds DEFLATE Compression=8 with
    Predictor=2 on both emit and decode — BigTIFF/JPEG variants remain
    the documented external seam and raise). The emitted layout is
    deterministic, so the DuckDB twin derives the byte LENGTH in closed
    form (8 + 174-byte IFD + 116 blob bytes + w*h*3 pixels), checks the
    'II*\\0' magic by hex prefix, and re-derives the round-tripped
    georeference and band-0 pixel sum from the id formulas."""
    import sedona_spark
    from sedona_spark.sources.images import images_from_part

    sedona_spark.register(spark)
    images_from_part(spark, sf_dir, id_mod=50,
                     columns=("image_id", "bytes", "w", "h")).createOrReplaceTempView(
        "img"
    )
    return spark.sql("""
with m as (select cast(substring(image_id, 5) as bigint) as i, bytes, w, h
           from img),
p as (select i, w, h,
             RS_SetGeoReference(RS_SetSRID(
                 RS_MakeRasterMeta(bytes, w, h, 3, 0e0, 0e0, 1e0), 4326),
                 cast(i % 7 as double) * 10e0,
                 cast(i % 5 as double) * 10e0 + 100e0,
                 cast(i % 3 as double) + 1e0,
                 -(cast(i % 4 as double) + 1e0), 0e0, 0e0) as r
      from m),
t as (select i, w, h, RS_AsGeoTiff(r) as tif,
             RS_AsGeoTiffDeflate(r) as dtif from p),
rt as (select i, w, h, tif, RS_FromGeoTiff(tif) as r2,
              RS_FromGeoTiff(dtif) as r3 from t)
select i,
  cast(length(tif) as bigint) as tif_len,
  hex(substring(tif, 1, 4)) as tif_magic,
  round(r2.ulx, 6) as rt_ulx,
  round(r2.uly, 6) as rt_uly,
  round(r2.sx, 6) as rt_sx,
  round(r2.sy, 6) as rt_sy,
  r2.srid as rt_srid,
  r2.w as rt_w,
  r2.h as rt_h,
  r2.bands as rt_nb,
  aggregate(RS_BandAsArray(r2.buf, 0), 0, (a, v) -> a + v) as rt_sum0,
  aggregate(RS_BandAsArray(r3.buf, 0), 0, (a, v) -> a + v) as dz_sum0,
  r3.bands as dz_nb,
  round(r3.uly, 6) as dz_uly
from rt
""")


def _geotiff_io_sql() -> str:
    band0 = _PIX.format(x="x.v", y="y.v").replace("c.v * 7", "0 * 7")
    dv = _DECODED.format(v=f"({band0})")
    return f"""
with img as ({_img_meta_sql()}),
s as (
  select i, sum({dv}) as sum0
  from img,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y
  where i % 50 = 0
  group by i)
select i,
  cast(8 + 174 + 116 + w * h * 3 as bigint) as tif_len,
  '49492A00' as tif_magic,
  round(cast(i % 7 as double) * 10, 6) as rt_ulx,
  round(cast(i % 5 as double) * 10 + 100, 6) as rt_uly,
  round(cast(i % 3 as double) + 1, 6) as rt_sx,
  round(-(cast(i % 4 as double) + 1), 6) as rt_sy,
  4326 as rt_srid,
  cast(w as int) as rt_w,
  cast(h as int) as rt_h,
  3 as rt_nb,
  cast(s.sum0 as int) as rt_sum0,
  cast(s.sum0 as int) as dz_sum0,
  3 as dz_nb,
  round(cast(i % 5 as double) * 10 + 100, 6) as dz_uly
from img join s using (i)
where i % 50 = 0
"""


def q_netcdf_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetCDF classic interop (r5c): RS_NetCDFInfo / RS_FromNetCDF over a
    pure-stdlib codec pair (``sources/netcdf.py`` classic CDF-1 +
    ``sources/hdf5.py`` NetCDF-4/HDF5 with deflate-chunked layout — r6
    closes the HDF5 seam). The fixture synthesizes one file per nation
    row (6×4 int grid from an id formula) inside mapInPandas — even keys
    as classic CDF, odd keys as HDF5 — reads the variable back as a
    raster struct, and the DuckDB twin re-derives the info string and
    the uint8-clipped band sum from the same formula (identical for both
    carriers: that is the point)."""
    import numpy as np
    import pandas as pd

    import sedona_spark
    from sedona_spark.sources.hdf5 import encode_hdf5
    from sedona_spark.sources.netcdf import encode_netcdf

    sedona_spark.register(spark)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey"
    )

    def gen(batches):
        for b in batches:
            recs = []
            for n in b["n_nationkey"]:
                n = int(n)
                vals = ((n * 7 + np.arange(24) * 11) % 300).astype(
                    np.int32
                ).reshape(4, 6)
                enc = (encode_netcdf({"grid": vals}) if n % 2 == 0
                       else encode_hdf5({"grid": vals}, chunk_rows=2,
                                        deflate=6))
                recs.append((n, enc))
            yield pd.DataFrame(recs, columns=["n_nationkey", "nc"])

    nation.mapInPandas(
        gen, "n_nationkey int, nc binary"
    ).createOrReplaceTempView("ncfix")
    return spark.sql("""
with r as (select n_nationkey, nc, RS_FromNetCDF(nc, 'grid') as g
           from ncfix)
select n_nationkey,
       RS_NetCDFInfo(nc) as info,
       g.w as nc_w, g.h as nc_h, g.bands as nc_nb,
       round(g.sy, 6) as nc_sy,
       aggregate(RS_BandAsArray(g.buf, 0), 0, (a, v) -> a + v) as nc_sum,
       cast(array_max(RS_BandAsArray(g.buf, 0)) as bigint) as nc_max
from r
""")


def _netcdf_io_sql() -> str:
    v = "(n_nationkey * 7 + i * 11) % 300"
    return f"""
select n_nationkey,
       'grid(grid_d0=4, grid_d1=6) :4' as info,
       6 as nc_w, 4 as nc_h, 1 as nc_nb,
       round(-1.0, 6) as nc_sy,
       cast(list_aggregate(list_transform(range(0, 24),
           i -> least({v}, 255)), 'sum') as int) as nc_sum,
       cast(list_max(list_transform(range(0, 24),
           i -> least({v}, 255))) as bigint) as nc_max
from nation
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (r5c, training-pipeline
    tier): top-1-gram fraction, top-adjacent-bigram fraction,
    distinct-word ratio and mean word length per document — two
    explode→groupBy passes with map-side partial aggregation
    (``pipeline/text.repetition_stats``). The DuckDB oracle re-derives
    everything with unnest + group by."""
    from sedona_spark.pipeline.text import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 10 == 0
    )
    return repetition_stats(docs).orderBy("doc_id")


def _repetition_stats_sql() -> str:
    return """
with d as (select doc_id, text from documents where doc_id % 10 = 0),
w as (select doc_id, w, count(*) as c
      from d, lateral unnest(string_split(text, ' ')) as t(w)
      where w <> '' group by doc_id, w),
uni as (select doc_id, max(c) as top1, sum(c) as n_words,
               count(*) as n_distinct,
               sum(length(w) * c) as chars
        from w group by doc_id),
bl as (select doc_id, ws[i] || ' ' || ws[i + 1] as b
       from (select doc_id,
                    list_filter(string_split(text, ' '),
                                x -> x <> '') as ws
             from d),
            lateral unnest(range(1, len(ws))) as t(i)),
bg as (select doc_id, max(c) as top2, sum(c) as n_bigrams
       from (select doc_id, b, count(*) as c from bl
             group by doc_id, b)
       group by doc_id),
j as (select uni.*, bg.top2, bg.n_bigrams
      from uni left join bg using (doc_id))
select d.doc_id,
       cast(coalesce(n_words, 0) as bigint) as n_words,
       cast(coalesce(n_distinct, 0) as bigint) as n_distinct,
       round(coalesce(cast(top1 as double) / n_words, 0.0), 6)
           as top1_frac,
       round(coalesce(cast(top2 as double) / n_bigrams, 0.0), 6)
           as top2_frac,
       round(coalesce(cast(n_distinct as double) / n_words, 0.0), 6)
           as distinct_ratio,
       round(coalesce(cast(chars as double) / n_words, 0.0), 6)
           as mean_word_len
from d left join j using (doc_id)
order by doc_id
"""


def q_intersection_aggr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection_Aggr (r5c; reference Aggregator at
    ``Catalog.scala`` / ``AbstractCatalog``): group-wide geometric
    intersection. Two engine paths, cross-checked against each other in
    the SAME result row: the rect fast path is a PURE Spark aggregate
    (max x0 / max y0 / min x1 / min y1 — map-side partial combine, the
    form the reference's sequential JTS fold cannot take), and the
    general path folds the exact Sutherland–Hodgman kernel per group via
    applyInPandas. The DuckDB oracle re-derives the interval logic with
    SQL aggregates."""
    from sedona_spark.operators.overlay import (
        intersection_aggr_rect, intersection_aggr_rings,
    )

    z = zones_from_nation(spark, sf_dir)
    rects = z.select(
        (F.col("n_nationkey") % 5).alias("grp"),
        (F.col("zcx") - F.col("hx")).alias("x0"),
        (F.col("zcy") - F.col("hy")).alias("y0"),
        (F.col("zcx") + F.col("hx")).alias("x1"),
        (F.col("zcy") + F.col("hy")).alias("y1"),
        F.array(
            F.col("zcx") - F.col("hx"), F.col("zcy") - F.col("hy"),
            F.col("zcx") + F.col("hx"), F.col("zcy") - F.col("hy"),
            F.col("zcx") + F.col("hx"), F.col("zcy") + F.col("hy"),
            F.col("zcx") - F.col("hx"), F.col("zcy") + F.col("hy"),
        ).alias("ring"),
    )
    fast = intersection_aggr_rect(rects, "grp")
    exact = intersection_aggr_rings(rects, "grp").select(
        "grp", F.col("inter_area").alias("ring_area")
    )
    return (
        fast.join(exact, "grp")
        .select(
            "grp", "n_members",
            F.round("ix0", 6).alias("ix0"),
            F.round("iy1", 6).alias("iy1"),
            F.round("inter_area", 6).alias("inter_area"),
            F.round("ring_area", 6).alias("ring_area"),
        )
        .orderBy("grp")
    )


def _intersection_aggr_sql() -> str:
    return f"""
with z as ({SQL_ZONES}),
r as (select n_nationkey % 5 as grp,
             zcx - hx as x0, zcy - hy as y0,
             zcx + hx as x1, zcy + hy as y1
      from z),
g as (select grp, count(*) as n_members,
             max(x0) as ix0, max(y0) as iy0,
             min(x1) as ix1, min(y1) as iy1
      from r group by grp)
select grp,
       cast(n_members as bigint) as n_members,
       round(case when ix1 <= ix0 or iy1 <= iy0 then null
             else ix0 end, 6) as ix0,
       round(case when ix1 <= ix0 or iy1 <= iy0 then null
             else iy1 end, 6) as iy1,
       round(case when ix1 <= ix0 or iy1 <= iy0 then 0.0
             else (ix1 - ix0) * (iy1 - iy0) end, 6) as inter_area,
       round(case when ix1 <= ix0 or iy1 <= iy0 then 0.0
             else (ix1 - ix0) * (iy1 - iy0) end, 6) as ring_area
from g
order by grp
"""


def q_rs_union_aggr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS_Union_Aggr (r5c; ``RasterUdafCatalog.scala``): band-stack each
    group's same-grid rasters ordered by image id — grouped
    applyInPandas, one task per group. Fixture: the 32×32 images
    (id % 150 = 0) paired by id div 300; the DuckDB oracle re-derives
    member counts and the exact total pixel sum from the codec
    formula."""
    from sedona_spark.functions.raster import rs_union_aggr
    from sedona_spark.sources.images import images_from_part

    imgs = images_from_part(spark, sf_dir, id_mod=150,
                            columns=("image_id", "bytes"))
    keyed = imgs.withColumn(
        "grp",
        (F.col("image_id").substr(F.lit(5), F.lit(12)).cast("long")
         / 300).cast("long"),
    )
    out = rs_union_aggr(keyed, "grp")
    return out.select(
        "grp",
        F.col("bands").cast("long").alias("bands"),
        F.col("total_sum"),
    ).orderBy("grp")


def _rs_union_aggr_sql() -> str:
    pix = _PIX.format(x="x.v", y="y.v")
    dv = _DECODED.format(v=f"({pix})")
    return f"""
with img as ({_img_meta_sql()}),
s as (
  select i, sum({dv}) as isum
  from img,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       lateral (select unnest(range(0, 3)) as v) c
  where i % 150 = 0
  group by i)
select cast(i // 300 as bigint) as grp,
       cast(3 * count(*) as bigint) as bands,
       cast(sum(isum) as bigint) as total_sum
from s
group by i // 300
order by grp
"""


def q_hex_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal cell binning (r5c): true H3-analog flat-top hex grid in
    axial coordinates with exact cube rounding (``cells.hex_cell_id`` —
    pure Column arithmetic, whole-stage codegen; reference seam: the
    ST_H3/ST_S2 cell family). One groupBy on the cell id — the uniform
    6-neighbor aggregation shape hex grids exist for. The DuckDB twin
    renders the IDENTICAL expression text (floor(x+0.5) rounding both
    sides), so ids match bit-for-bit."""
    from sedona_spark.cells import hex_cell_id

    pts = points_from_events(spark, sf_dir)
    return (
        pts.select(hex_cell_id("x", "y", 7.5).alias("hex"))
        .groupBy("hex").count()
        .orderBy(F.desc("count"), "hex")
        .limit(50)
        .select("hex", F.col("count").cast("long").alias("n"))
    )


def _hex_cell_counts_sql() -> str:
    from sedona_spark.cells import sql_hex_cell_id

    cell = sql_hex_cell_id("x", "y", 7.5)
    return f"""
with p as ({SQL_POINTS}),
c as (select {cell} as hex from p)
select hex, cast(count(*) as bigint) as n
from c group by hex
order by n desc, hex
limit 50
"""


_PII_SUFFIX = (
    " reach user%d@mail%d.example.com or 555-%03d-%04d at 10.%d.0.%d now"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (r5c, training-pipeline tier): count + replace emails,
    NANP phones and IPv4 literals with typed placeholders — pure Column
    regexps (``pipeline/text.pii_scrub``), no Python in the hot path.
    The fixture plants one of each per document by a doc_id formula; the
    oracle re-derives counts and the md5 of the scrubbed text with
    DuckDB's regexp engine ('g' flag — Spark replaces all by default)."""
    from sedona_spark.pipeline.text import pii_scrub

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.format_string(
                    _PII_SUFFIX,
                    F.col("doc_id"), F.col("doc_id") % 7,
                    F.col("doc_id") % 1000, F.col("doc_id") % 10000,
                    F.col("doc_id") % 256, F.col("doc_id") % 200,
                ),
            ).alias("text"),
        )
    )
    return pii_scrub(docs).select(
        "doc_id", "n_email", "n_phone", "n_ipv4",
        F.md5(F.col("scrubbed")).alias("scrub_md5"),
    ).orderBy("doc_id")


def _pii_scrub_sql() -> str:
    from sedona_spark.pipeline.text import _PII_PATTERNS

    suffix = _PII_SUFFIX.replace("%03d", "%03d").replace("%04d", "%04d")
    build = (f"text || printf('{suffix}', doc_id, doc_id % 7, "
             "doc_id % 1000, doc_id % 10000, doc_id % 256, doc_id % 200)")
    scrub = build
    for name, pat in _PII_PATTERNS.items():
        scrub = (f"regexp_replace({scrub}, '{pat}', "
                 f"'<{name.upper()}>', 'g')")
    counts = ", ".join(
        f"cast(len(regexp_extract_all({build}, '{pat}')) as bigint) "
        f"as n_{name}"
        for name, pat in _PII_PATTERNS.items()
    )
    return f"""
select doc_id, {counts}, md5({scrub}) as scrub_md5
from documents
where doc_id % 10 = 0
order by doc_id
"""


def q_crossdoc_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-n-gram fraction (r5c): the dedupe-
    repeated-substrings stage of web-corpus pipelines — per doc, the
    share of its 5-grams that appear in at least 2 documents. Two
    shuffles on the n-gram key, map-side combine, no driver state
    (``pipeline/text.crossdoc_ngram_stats``). DuckDB twin: list-built
    5-grams + the same two aggregations."""
    from sedona_spark.pipeline.text import crossdoc_ngram_stats

    # (spread-before-explode was trialed here and reverted: the 1-in-10
    # subset is small enough that the repartition's overhead exceeds the
    # parallelism gain at both test SFs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 10 == 0
    )
    return crossdoc_ngram_stats(docs, n=5, min_docs=1).orderBy("doc_id")


def _crossdoc_ngram_stats_sql() -> str:
    return """
with d as (select doc_id,
                  list_filter(string_split(text, ' '), w -> w <> '') as ws
           from documents where doc_id % 10 = 0),
g as (select doc_id, gram
      from d, lateral unnest(list_transform(
          range(1, greatest(len(ws) - 3, 1)),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
               || ws[i+3] || ' ' || ws[i+4])) as t(gram)),
pd as (select doc_id, gram, count(*) as c from g group by doc_id, gram),
df as (select gram, count(*) as ndocs from pd group by gram),
j as (select pd.doc_id, pd.c, df.ndocs from pd join df using (gram))
select doc_id,
       cast(sum(c) as bigint) as n_grams,
       cast(sum(case when ndocs >= 2 then c else 0 end) as bigint)
           as n_shared,
       round(cast(sum(case when ndocs >= 2 then c else 0 end) as double)
             / sum(c), 6) as shared_frac
from j group by doc_id
order by doc_id
"""


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-cover compaction (r5c): the S2 CellUnion.Normalize analog —
    replace complete 2×2 sibling groups by their parent, recursively
    (``cells.compact_cells``; one distinct + one parent-key groupBy per
    level, no driver state). Fixture: per nation an ALIGNED 4×4 block of
    level-6 cells, with one cell removed for odd nations — a full block
    collapses to exactly one level-4 cell; a 15-cell block to 3 level-5
    parents + 3 level-6 leftovers. Closed forms for the DuckDB twin."""
    from sedona_spark.cells import _L_MULT, compact_cells

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = nation.select(
        "n_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("_i"),
    ).select(
        "n_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("_j"),
        "_i",
    ).select(
        "n_nationkey",
        (
            F.lit(6 * _L_MULT)
            + (4 * (F.col("n_nationkey") % 8) + F.col("_i"))
            .cast("long") * F.lit(1 << 27).cast("long")
            + (4 * (F.col("n_nationkey") % 5) + F.col("_j")).cast("long")
        ).cast("long").alias("cell"),
        "_i", "_j",
    ).filter(
        ~((F.col("n_nationkey") % 2 == 1)
          & (F.col("_i") == 0) & (F.col("_j") == 0))
    )
    # nations may share a block ((n%8, n%5) collisions) — compact the
    # DISTINCT block union per parity class; blocks are 4 cells apart, so
    # no sibling group ever spans two blocks and per-block results are
    # exactly 1 (full) or 6 (one cell missing)
    blocks = base.select(
        (F.col("n_nationkey") % 8).alias("bx"),
        (F.col("n_nationkey") % 5).alias("by"),
        (F.col("n_nationkey") % 2).alias("odd"),
        "cell",
    ).distinct()
    out_rows = []
    for odd in (0, 1):
        cells_df = blocks.filter(F.col("odd") == odd).select("cell") \
            .distinct()
        comp = compact_cells(cells_df, level=6, min_level=3)
        # one combined aggregate job per parity (count + min level were
        # two separate actions over the same compacted frame)
        n_cells, lv_min = comp.agg(
            F.count("*"),
            F.min((F.col("cell") / F.lit(_L_MULT)).cast("long")),
        ).collect()[0]
        out_rows.append((odd, n_cells, int(lv_min)))
    per_block = spark.createDataFrame(
        out_rows, "odd int, block_cells long, min_lvl int"
    )
    n_blocks = blocks.groupBy("odd").agg(
        F.countDistinct("bx", "by").alias("n_blocks")
    )
    return (
        per_block.join(n_blocks, "odd")
        .select(
            "odd",
            (F.col("block_cells") / F.col("n_blocks"))
            .cast("long").alias("cells_per_block"),
            "min_lvl",
        )
        .orderBy("odd")
    )


def _cell_compact_sql() -> str:
    return """
with n as (select n_nationkey % 2 as odd from nation group by 1)
select odd,
       cast(case when odd = 0 then 1 else 6 end as bigint)
           as cells_per_block,
       case when odd = 0 then 4 else 5 end as min_lvl
from n
order by odd
"""


def q_pip_join_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compacted mixed-level cover PIP join (r5c): the S2CellUnion join
    pattern — per-zone covers normalized so interiors are coarse cells
    and only boundaries stay fine (O(perimeter) cover rows), point side
    joined once per live level on the ancestor cell
    (``spatial_join.pip_join_compact``). Output contract identical to
    ``pip_rect_join``, so the oracle is the SAME theta-join SQL — the
    strongest kind of evidence that the compacted path loses nothing."""
    from sedona_spark.operators.spatial_join import pip_join_compact

    pts = points_from_events(spark, sf_dir)
    zones = rect_zones_from_nation(spark, sf_dir).drop("ring")
    out = pip_join_compact(pts, zones, "covers", level=9, min_level=4,
                           broadcast_cover=True)
    return out.select("event_id", "n_nationkey")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial PIP join of derived points × zones at sf0.001."""
    return q_pip_rect_join(spark, "/root/testdata/sf0.001")


_ROUND = 6

# Queries ADDED or materially CHANGED this round — they lead the driver's
# 50-slot verification window unconditionally. Update this set (and _ROUND)
# each round; everything else about the window order is mechanical.
# --- multimodal audio/video tier (r6: sources/audio.py, sources/video.py,
# pipeline/audio.py, pipeline/video.py) ----------------------------------


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV decode + exact-integer waveform stats (peak/sum/sumsq/zcr) over
    the deterministic gated fixture — the DuckDB twin regenerates every
    PCM sample closed-form, so this is a full decode-correctness oracle
    for the RIFF/WAVE codec."""
    from sedona_spark.pipeline.audio import wav_stats
    from sedona_spark.sources.audio import audio_from_supplier

    clips = audio_from_supplier(spark, sf_dir)
    out = wav_stats(clips)
    return out.select(
        "clip_id",
        F.col("sr").cast("long").alias("sr"),
        "n_samples",
        "duration_ms",
        "peak",
        "sum_s",
        "sumsq",
        "zcr",
        "rms",
    )


_AUDIO_CLIPS_SQL = """
select cast(s_suppkey as bigint) as i,
       2000 + (cast(s_suppkey as bigint) % 7) * 500 as n
from supplier
"""

# s(i, t) — mirrors sources/audio.py make_samples exactly (int64 both sides)
_AUDIO_S = (
    "(((({i} * 37 + {t} * 11 + ({t} * {t}) % 101) % 1601) - 800)"
    " * (case when (({t} // 400) + {i}) % 4 = 0 then 0 else 1 end))"
)


def _audio_features_sql() -> str:
    s = _AUDIO_S.format(i="i", t="t.v")
    sp = _AUDIO_S.format(i="i", t="(t.v - 1)")
    return f"""
with clips as ({_AUDIO_CLIPS_SQL}),
samp as (
  select i, n, t.v as t, {s} as s,
         case when t.v = 0 then null else {sp} end as sp
  from clips, lateral (select unnest(range(0, n)) as v) t)
select printf('clip_%012d', i) as clip_id,
       cast(16000 as bigint) as sr,
       cast(max(n) as bigint) as n_samples,
       cast((max(n) * 1000) // 16000 as bigint) as duration_ms,
       cast(max(abs(s)) as bigint) as peak,
       cast(sum(s) as bigint) as sum_s,
       cast(sum(s * s) as bigint) as sumsq,
       cast(sum(case when sp is not null and ((sp < 0) != (s < 0))
                then 1 else 0 end) as bigint) as zcr,
       floor(sqrt(cast(sum(s * s) as double) / max(n)) * 1e6 + 0.5) / 1e6 as rms
from samp group by i
"""


def q_audio_wide_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-bit PCM decode correctness oracle: the same gated waveform
    scaled ×2048 into the >16-bit range, stored as 3-byte frames — every
    statistic below certifies the sign-extended 24-bit read end to end
    (the studio-master layout real corpora carry)."""
    from sedona_spark.pipeline.audio import wav_stats
    from sedona_spark.sources.audio import wav24_from_supplier

    clips = wav24_from_supplier(spark, sf_dir, id_mod=5)
    return wav_stats(clips).select(
        "clip_id", F.col("sr").cast("long").alias("sr"), "n_samples",
        "duration_ms", "peak", "sum_s", "sumsq", "zcr", "rms")


def _audio_wide_decode_sql() -> str:
    s = f"({_AUDIO_S.format(i='i', t='t.v')} * 2048)"
    sp = f"({_AUDIO_S.format(i='i', t='(t.v - 1)')} * 2048)"
    return f"""
with clips as ({_AUDIO_CLIPS_SQL}),
sel as (select * from clips where i % 5 = 0),
samp as (
  select i, n, t.v as t, {s} as s,
         case when t.v = 0 then null else {sp} end as sp
  from sel, lateral (select unnest(range(0, n)) as v) t)
select printf('clip_%012d', i) as clip_id,
       cast(16000 as bigint) as sr,
       cast(max(n) as bigint) as n_samples,
       cast((max(n) * 1000) // 16000 as bigint) as duration_ms,
       cast(max(abs(s)) as bigint) as peak,
       cast(sum(s) as bigint) as sum_s,
       cast(sum(s * s) as bigint) as sumsq,
       cast(sum(case when sp is not null and ((sp < 0) != (s < 0))
                then 1 else 0 end) as bigint) as zcr,
       floor(sqrt(cast(sum(s * s) as double) / max(n)) * 1e6 + 0.5) / 1e6 as rms
from samp group by i
"""


def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-sample resample 16 kHz → 4 kHz: exact index map
    src = (t·16000)//4000 = 4t, output-sum checksum mirrored closed-form."""
    from sedona_spark.pipeline.audio import audio_resample
    from sedona_spark.sources.audio import audio_from_supplier

    clips = audio_from_supplier(spark, sf_dir)
    out = audio_resample(clips, 4000)
    return out.select(
        "clip_id", F.col("sr").cast("long").alias("sr"), "n_samples", "sum_s"
    )


def _audio_resample_sql() -> str:
    s = _AUDIO_S.format(i="i", t="(4 * t.v)")
    return f"""
with clips as ({_AUDIO_CLIPS_SQL}),
samp as (
  select i, n, t.v as t, {s} as s
  from clips, lateral (select unnest(range(0, n // 4)) as v) t)
select printf('clip_%012d', i) as clip_id,
       cast(4000 as bigint) as sr,
       cast(max(n) // 4 as bigint) as n_samples,
       cast(sum(s) as bigint) as sum_s
from samp group by i
"""


def q_audio_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resample 16 kHz → 6 kHz (non-integer ratio, so
    the interpolation path actually blends): the oracle mirrors numpy's
    exact op order — float position ``t·16000/6000``, trunc-toward-zero
    index, ``s0·(1−fr) + s1·fr`` truncated back to int — per sample."""
    from sedona_spark.pipeline.audio import audio_resample
    from sedona_spark.sources.audio import audio_from_supplier

    clips = audio_from_supplier(spark, sf_dir)
    out = audio_resample(clips, 6000, linear=True)
    return out.select(
        "clip_id", F.col("sr").cast("long").alias("sr"), "n_samples", "sum_s"
    )


def _audio_resample_linear_sql() -> str:
    s0 = _AUDIO_S.format(i="i", t="i0")
    s1 = _AUDIO_S.format(i="i", t="i1")
    return f"""
with clips as ({_AUDIO_CLIPS_SQL}),
idx as (
  select i, n, t.v as t,
         (t.v * 16000) / 6000 as pos,
         least(cast(trunc((t.v * 16000) / 6000) as bigint), n - 1) as i0
  from clips, lateral (select unnest(range(0, (n * 6000) // 16000)) as v) t),
br as (
  select i, n, t, pos, i0, least(i0 + 1, n - 1) as i1, pos - i0 as fr
  from idx),
val as (
  select i, n,
         cast(trunc(({s0}) * (1e0 - fr) + ({s1}) * fr) as bigint) as v
  from br)
select printf('clip_%012d', i) as clip_id,
       cast(6000 as bigint) as sr,
       cast((max(n) * 6000) // 16000 as bigint) as n_samples,
       cast(sum(v) as bigint) as sum_s
from val group by i
"""


def q_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 512-sample training-clip segmentation; per-chunk exact sumsq
    (tail chunk kept short). Bytes re-encode is pytest-gated; the counts
    and checksums are the value oracle."""
    from sedona_spark.pipeline.audio import audio_chunks
    from sedona_spark.sources.audio import audio_from_supplier

    clips = audio_from_supplier(spark, sf_dir)
    out = audio_chunks(clips, 512)
    return out.select(
        "clip_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "n", "sumsq",
    )


def _audio_chunks_sql() -> str:
    s = _AUDIO_S.format(i="i", t="t.v")
    return f"""
with clips as ({_AUDIO_CLIPS_SQL}),
samp as (
  select i, t.v // 512 as chunk_idx, {s} as s
  from clips, lateral (select unnest(range(0, n)) as v) t)
select printf('clip_%012d', i) as clip_id,
       cast(chunk_idx as bigint) as chunk_idx,
       cast(count(*) as bigint) as n,
       cast(sum(s * s) as bigint) as sumsq
from samp group by i, chunk_idx
"""


def q_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level VAD silence gate (400-sample frames, peak<200): the
    fixture's on/off envelope plants genuinely silent frames, the oracle
    recomputes every frame peak closed-form."""
    from sedona_spark.pipeline.audio import silence_stats
    from sedona_spark.sources.audio import audio_from_supplier

    clips = audio_from_supplier(spark, sf_dir)
    return silence_stats(clips, frame=400, threshold=200)


def _audio_silence_sql() -> str:
    s = _AUDIO_S.format(i="i", t="t.v")
    return f"""
with clips as ({_AUDIO_CLIPS_SQL}),
samp as (
  select i, t.v // 400 as k, {s} as s
  from clips, lateral (select unnest(range(0, n)) as v) t),
frames as (
  select i, k, max(abs(s)) as pk from samp group by i, k)
select printf('clip_%012d', i) as clip_id,
       cast(count(*) as bigint) as n_frames,
       cast(sum(case when pk < 200 then 1 else 0 end) as bigint) as n_silent,
       floor(cast(sum(case when pk < 200 then 1 else 0 end) as double)
             / count(*) * 1e6 + 0.5) / 1e6 as silence_ratio
from frames group by i
"""


def q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFT spectral features (dominant/centroid/bandwidth/flatness) —
    genuinely non-SQL-expressible (rows-only driver check); value
    correctness is pinned by the analytic pure-tone pytest."""
    from sedona_spark.pipeline.audio import spectral_features
    from sedona_spark.sources.audio import audio_from_supplier

    clips = audio_from_supplier(spark, sf_dir, id_mod=5)
    return spectral_features(clips)


# video fixture mirrors: nf(i) = 8 + (i%5)*2, frame key k = i*131 + t*17,
# pixel v(k,x,y,c) = ((k*31 + x*3 + y*5 + c*7) % 251 + (x*y*(k%13+1)) % 67) % 256
_VID_META_SQL = """
select cast(p_partkey as bigint) as i,
       8 + (cast(p_partkey as bigint) % 5) * 2 as nf
from part
"""

_VID_PIX = (
    "((({k} * 31 + x.v * 3 + y.v * 5 + c.v * 7) % 251"
    " + (x.v * y.v * ({k} % 13 + 1)) % 67) % 256)"
)


def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI container decode + all-frame exact pixel checksum: every byte
    of every DIB frame feeds pix_sum, so the oracle certifies the whole
    container walk + bottom-up BGR de-padding."""
    from sedona_spark.pipeline.video import video_meta
    from sedona_spark.sources.video import videos_from_part

    vids = videos_from_part(spark, sf_dir, id_mod=50)
    out = video_meta(vids)
    return out.select(
        "video_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        F.col("fps").cast("long").alias("fps"),
        "n_frames",
        "duration_ms",
        "pix_sum",
    )


def _video_meta_sql() -> str:
    pix = _VID_PIX.format(k="(i * 131 + t.v * 17)")
    return f"""
with vid as ({_VID_META_SQL}),
sel as (select * from vid where i % 50 = 0),
pixsum as (
  select i, sum({pix}) as ps
  from sel,
       lateral (select unnest(range(0, nf)) as v) t,
       lateral (select unnest(range(0, 32)) as v) x,
       lateral (select unnest(range(0, 32)) as v) y,
       lateral (select unnest(range(0, 3)) as v) c
  group by i)
select printf('vid_%012d', sel.i) as video_id,
       cast(32 as bigint) as w, cast(32 as bigint) as h,
       cast(10 as bigint) as fps,
       cast(nf as bigint) as n_frames,
       cast(nf * 100 as bigint) as duration_ms,
       cast(ps as bigint) as pix_sum
from sel join pixsum on sel.i = pixsum.i
"""


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frame grid (every 4th frame): exact per-channel pixel sums +
    one mirrored IEEE divide for mean luminance."""
    from sedona_spark.pipeline.video import frame_sample_stats
    from sedona_spark.sources.video import videos_from_part

    vids = videos_from_part(spark, sf_dir, id_mod=100)
    out = frame_sample_stats(vids, every=4)
    return out.select(
        "video_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "sum_r", "sum_g", "sum_b", "mean_lum",
    )


def _video_frame_stats_sql() -> str:
    pix = _VID_PIX.format(k="(i * 131 + t.v * 17)")
    return f"""
with vid as ({_VID_META_SQL}),
sel as (select * from vid where i % 100 = 0),
px as (
  select i, t.v as t, c.v as c, sum({pix}) as cs
  from sel,
       lateral (select unnest(range(0, nf)) as v) t,
       lateral (select unnest(range(0, 32)) as v) x,
       lateral (select unnest(range(0, 32)) as v) y,
       lateral (select unnest(range(0, 3)) as v) c
  where t.v % 4 = 0
  group by i, t.v, c.v)
select printf('vid_%012d', i) as video_id,
       cast(t as bigint) as frame_idx,
       cast(sum(case when c = 0 then cs else 0 end) as bigint) as sum_r,
       cast(sum(case when c = 1 then cs else 0 end) as bigint) as sum_g,
       cast(sum(case when c = 2 then cs else 0 end) as bigint) as sum_b,
       floor(cast(sum(cs) as double) / (3 * 32 * 32) * 1e6 + 0.5) / 1e6
         as mean_lum
from px group by i, t
"""


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection via consecutive-frame L1 energy: cut when
    sum |f_t − f_{t−1}| > 262144 — both frames regenerate closed-form, so
    counts/max/mean are fully oracled."""
    from sedona_spark.pipeline.video import scene_changes
    from sedona_spark.sources.video import videos_from_part

    vids = videos_from_part(spark, sf_dir, id_mod=100)
    return scene_changes(vids, threshold=262144)


def _video_scene_cuts_sql() -> str:
    pa = _VID_PIX.format(k="(i * 131 + t.v * 17)")
    pb = _VID_PIX.format(k="(i * 131 + (t.v - 1) * 17)")
    return f"""
with vid as ({_VID_META_SQL}),
sel as (select * from vid where i % 100 = 0),
d as (
  select i, t.v as t, sum(abs({pa} - {pb})) as l1
  from sel,
       lateral (select unnest(range(1, nf)) as v) t,
       lateral (select unnest(range(0, 32)) as v) x,
       lateral (select unnest(range(0, 32)) as v) y,
       lateral (select unnest(range(0, 3)) as v) c
  group by i, t.v)
select printf('vid_%012d', sel.i) as video_id,
       cast(nf as bigint) as n_frames,
       cast(sum(case when l1 > 262144 then 1 else 0 end) as bigint) as n_cuts,
       cast(max(l1) as bigint) as max_l1,
       floor(avg(cast(l1 as double)) * 1e6 + 0.5) / 1e6 as mean_l1
from sel join d on sel.i = d.i
group by sel.i, nf
"""


_NEW_OR_CHANGED = {
    "image_downsample",    # r6: exact area-pool thumbnails
    "image_augment",       # r6: deterministic crop+flip checksum
    "image_text_align",    # r6: CLIP-style two-tower alignment score
    "audio_features",      # r6: multimodal audio tier (WAV codec oracle)
    "audio_resample",      # r6: nearest-sample resample checksum
    "audio_resample_linear",  # r6: linear-interp resample, full oracle
    "audio_chunks",        # r6: 512-sample segmentation
    "audio_silence",       # r6: VAD silence gate
    "video_meta",          # r6: AVI container decode checksum
    "video_frame_stats",   # r6: key-frame grid channel sums
    "video_scene_cuts",    # r6: L1 shot-boundary detection
    "audio_spectral",      # r6: FFT features (rows-only, pytest-pinned)
    "sql_api_rs_io",       # r6: floor-mirror rounding (hash-flake pin, VERDICT #1)
    "sql_api_6",           # r6: ST_TransformEpsg -> Arrow numpy dispatch (VERDICT #2)
    "sql_api_stats",       # r6: physical-function SQL spellings (VERDICT #3)
    "dbscan",              # r6: operator grew the isCore output column
    "st_transform_lcc",    # r6: ellipsoidal Snyder forms + false offsets
    "st_transform_albers",  # r6: ellipsoidal + EPSG false offsets
    "st_transform_stereo",  # r6: ellipsoidal variant-B polar stereo
    "geotiff_io",          # r6: DEFLATE Compression=8 + Predictor=2 round trip
    "repetition_stats",    # r6: empty docs surface with zero counts
    "pip_join_compact",    # r6: broadcast_cover knob (explicit True here)
    "osm_pbf_tags",        # r6: tagged ways + relations round trip
    "st_transform_datum",  # r6: Helmert datum shifts + per-ellipsoid TM
    "stratified_sample",   # r6: deterministic quota sampling
    "sample_per_key",      # r6: uniform k-per-key sampling
    "tfidf_top_terms",     # r6: corpus TF-IDF top terms
    "image_tensorize",     # r6: training-tensor prep (resize+normalize)
    "aspect_bucket_batches",  # r6: aspect-ratio bucketed batch manifest
    "image_patchify",      # r6: ViT patch grid exact sums
    "image_channel_stats",  # r6: dataset channel mean/var
    "netcdf_io",           # r6: NetCDF-4/HDF5 carrier (odd keys)
    "webdataset_manifest",  # r6: training-shard export manifest
    "pack_sequences",      # r6: token-budget sequence packing
    "decontaminate",       # r6: benchmark n-gram decontamination
    "channel_histogram",   # r6: exact 256-bin dataset histogram
    "geopandas_api",       # r6: GeoSeries/GeoDataFrame layer
    "exif_geotags",        # r6: EXIF APP1 GPS + description extraction
    "iceberg_scan",        # r6: icetable snapshot scan + stats pruning
    "iceberg_time_travel",  # r6: icetable read at historical snapshot
    "iceberg_incremental",  # r6: icetable CDC delta read
    "image_validate",      # r6: structural corruption triage
    "image_quality",       # r6: sharpness/exposure/clipping signals
    "audio_wide_decode",   # r6: 24-bit PCM decode oracle
    "gif_decode",          # r6: GIF LZW decode oracle
    "image_validate",      # r6 (changed: GIF-aware taxonomy)
    "iceberg_upsert",      # r6: CoW MERGE snapshot
}


def _last_verified_round() -> dict[str, int]:
    """name → latest round with a green driver record (rows/schema match,
    no error), scanned from the CORRECTNESS_r*.json files the driver
    leaves in the repo root. Queries never verified map to -1."""
    import glob as _glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for p in _glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)", os.path.basename(p))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            full_green = rec.get("rows_match") and not rec.get("err")
            # rows-only fast paths record err='no_oracle' + a row count —
            # that IS their check passing (the driver has no oracle to run)
            rows_green = (rec.get("err") == "no_oracle"
                          and rec.get("spark_rows") is not None)
            if full_green or rows_green:
                out[name] = max(out.get(name, -10), rnd)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Window-rotation contract: the driver verifies the FIRST 50 entries
    each round. The order is built MECHANICALLY (VERDICT r4 what's-wrong
    #1 — hand-ordering twice left newly-added queries outside the window):

    1. queries new/changed this round (``_NEW_OR_CHANGED``) lead;
    2. the rest sort stalest-first by their last green round in the
       CORRECTNESS_r*.json history (never-verified → before everything);
    3. within a staleness class, full-oracle queries outrank rows-only
       fast paths (those whose key is absent from ``oracle_sql()``), so a
       weaker check never displaces a full oracle from the window;
    4. name as the final key — deterministic across runs.
    """
    reg = _query_registry()
    last = _last_verified_round()
    rows_only = set(reg) - set(oracle_sql())

    def order(name: str):
        return (
            0 if name in _NEW_OR_CHANGED else 1,
            last.get(name, -1),
            1 if name in rows_only else 0,
            name,
        )

    return {k: reg[k] for k in sorted(reg, key=order)}


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every implemented query (insertion order has NO meaning here —
    ``queries()`` orders the driver window mechanically)."""
    return {
        "geom_from_wkt": q_geom_from_wkt,
        "sql_api": q_sql_api,
        "sql_api_2": q_sql_api_2,
        "sql_api_3": q_sql_api_3,
        "sql_api_4": q_sql_api_4,
        "sql_api_5": q_sql_api_5,
        "sql_api_rs_math": q_sql_api_rs_math,
        "sql_api_rs_geo": q_sql_api_rs_geo,
        "sql_api_rs_io": q_sql_api_rs_io,
        "sql_api_6": q_sql_api_6,
        "distance_band_weights": q_distance_band_weights,
        "sql_api_stats": q_sql_api_stats,
        "st_skeleton": q_st_skeleton,
        "st_simplify_hull": q_st_simplify_hull,
        "geotiff_io": q_geotiff_io,
        "netcdf_io": q_netcdf_io,
        "repetition_stats": q_repetition_stats,
        "intersection_aggr": q_intersection_aggr,
        "rs_union_aggr": q_rs_union_aggr,
        "hex_cell_counts": q_hex_cell_counts,
        "pii_scrub": q_pii_scrub,
        "crossdoc_ngram_stats": q_crossdoc_ngram_stats,
        "cell_compact": q_cell_compact,
        "pip_join_compact": q_pip_join_compact,
        "st_shape_metrics": q_st_shape_metrics,
        "rs_interpolate": q_rs_interpolate,
        "rs_pyramid": q_rs_pyramid,
        "hilbert_cells": q_hilbert_cells,
        "markup_io": q_markup_io,
        "st_make_valid": q_st_make_valid,
        "st_difference_poly": q_st_difference_poly,
        "st_transform_azimuthal": q_st_transform_azimuthal,
        "st_transform_lcc": q_st_transform_lcc,
        "st_transform_albers": q_st_transform_albers,
        "st_transform_stereo": q_st_transform_stereo,
        "st_transform_datum": q_st_transform_datum,
        "stratified_sample": q_stratified_sample,
        "sample_per_key": q_sample_per_key,
        "tfidf_top_terms": q_tfidf_top_terms,
        "st_area_spheroid": q_st_area_spheroid,
        "knn_join_approx": q_knn_join_approx,
        "st_editor": q_st_editor,
        "st_buffer_line": q_st_buffer_line,
        "rs_band_math": q_rs_band_math,
        "spherical_pip": q_spherical_pip,
        "geojson_parse": q_geojson_parse,
        "shapefile_read": q_shapefile_read,
        "geopackage_read": q_geopackage_read,
        "osm_pbf_read": q_osm_pbf_read,
        "osm_pbf_tags": q_osm_pbf_tags,
        "stac_read": q_stac_read,
        "viz_pixelize": q_viz_pixelize,
        "rs_resample": q_rs_resample,
        "rs_zonal_stats": q_rs_zonal_stats,
        "shortest_line": q_shortest_line,
        "st_is_valid": q_st_is_valid,
        "range_query": q_range_query,
        "pip_rect_join": q_pip_rect_join,
        "distance_join": q_distance_join,
        "pip_join_salted": q_pip_join_salted,
        "distance_join_meters": q_distance_join_meters,
        "pip_left_outer_join": q_pip_left_outer_join,
        "pip_right_outer_join": q_pip_right_outer_join,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "st_measures": q_st_measures,
        "st_accessors": q_st_accessors,
        "distance_sphere_knn": q_distance_sphere_knn,
        "count_by_key": q_count_by_key,
        "collect_by_key": q_collect_by_key,
        "zonal_stats": q_zonal_stats,
        "dbscan": q_dbscan,
        "lof": q_lof,
        "morans_i": q_morans_i,
        "zonal_overlay_area": q_zonal_overlay_area,
        "envelope_aggr": q_envelope_aggr,
        "tile_assign": q_tile_assign,
        "embedding_dups": q_embedding_dups,
        "vocab_topk": q_vocab_topk,
        "cell_counts": q_cell_counts,
        "st_transform": q_st_transform,
        "geohash_counts": q_geohash_counts,
        "geohash_neighbors": q_geohash_neighbors,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "jaccard_adjacent": q_jaccard_adjacent,
        "dedup_components": q_dedup_components,
        "chunk_documents": q_chunk_documents,
        "ann_topk": q_ann_topk,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "st_hausdorff": q_st_hausdorff,
        "st_polygonize": q_st_polygonize,
        "rs_bilinear": q_rs_bilinear,
        "phash_dedup": q_phash_dedup,
        "rs_convolve": q_rs_convolve,
        "predicate_matrix_concave": q_predicate_matrix_concave,
        "st_relate": q_st_relate,
        "buffer_area": q_buffer_area,
        "st_intersection_geom": q_st_intersection_geom,
        "st_difference_geom": q_st_difference_geom,
        "st_union_geom": q_st_union_geom,
        "rs_as_raster": q_rs_as_raster,
        "line_interpolate": q_line_interpolate,
        "overlay_concave": q_overlay_concave,
        "st_triangulate": q_st_triangulate,
        "st_voronoi": q_st_voronoi,
        "st_delaunay": q_st_delaunay,
        "st_concave_hull": q_st_concave_hull,
        "geometric_median": q_geometric_median,
        "st_project": q_st_project,
        "st_segmentize": q_st_segmentize,
        "st_affine": q_st_affine,
        "st_min_circle": q_st_min_circle,
        "st_sym_difference": q_st_sym_difference,
        "rs_pixel_points": q_rs_pixel_points,
        "knn_join_obj_broadcast": q_knn_join_obj_broadcast,
        "distance_spheroid": q_distance_spheroid,
        "st_dump": q_st_dump,
        "st_subdivide_explode": q_st_subdivide,
        "simhash_pairs_portable": q_simhash_pairs_portable,
        "image_decode": q_image_decode,
        "image_tensorize": q_image_tensorize,
        "aspect_bucket_batches": q_aspect_bucket_batches,
        "image_patchify": q_image_patchify,
        "image_channel_stats": q_image_channel_stats,
        "image_downsample": q_image_downsample,
        "image_augment": q_image_augment,
        "image_text_align": q_image_text_align,
        "exif_geotags": q_exif_geotags,
        "iceberg_scan": q_iceberg_scan,
        "iceberg_time_travel": q_iceberg_time_travel,
        "iceberg_incremental": q_iceberg_incremental,
        "iceberg_upsert": q_iceberg_upsert,
        "image_validate": q_image_validate,
        "image_quality": q_image_quality,
        "gif_decode": q_gif_decode,
        "audio_features": q_audio_features,
        "audio_wide_decode": q_audio_wide_decode,
        "audio_resample": q_audio_resample,
        "audio_resample_linear": q_audio_resample_linear,
        "audio_chunks": q_audio_chunks,
        "audio_silence": q_audio_silence,
        "audio_spectral": q_audio_spectral,
        "video_meta": q_video_meta,
        "video_frame_stats": q_video_frame_stats,
        "video_scene_cuts": q_video_scene_cuts,
        "webdataset_manifest": q_webdataset_manifest,
        "pack_sequences": q_pack_sequences,
        "decontaminate": q_decontaminate,
        "channel_histogram": q_channel_histogram,
        "geopandas_api": q_geopandas_api,
        "rs_value": q_rs_value,
        "rs_clip_stats": q_rs_clip_stats,
        "rs_map_algebra": q_rs_map_algebra,
        "tile_bytes": q_tile_bytes,
        "predicate_matrix": q_predicate_matrix,
        "overlaps_join": q_overlaps_join,
        "overlap_join": q_overlap_join,
        "pip_poly_join": q_pip_poly_join,
        "pip_holes_join": q_pip_holes_join,
        "multipolygon_join": q_multipolygon_join,
        "linestring_join": q_linestring_join,
        "knn_join": q_knn_join,
        "knn_join_broadcast": q_knn_join_broadcast,
        "knn_join_ties": q_knn_join_ties,
        "knn_join_sphere": q_knn_join_sphere,
        "knn_join_spheroid": q_knn_join_spheroid,
        "knn_query": q_knn_query,
        "hotspot_gstar": q_hotspot_gstar,
        "minhash_pairs_portable": q_minhash_pairs_portable,
        "union_aggr_area": q_union_aggr_area,
    }


def oracle_sql() -> dict[str, str]:
    x0, y0, x1, y1 = _WIN
    pts = f"({SQL_POINTS})"
    zon = f"({SQL_ZONES})"
    reg = f"({SQL_REGION_RECTS})"
    return {
        "geom_from_wkt": _geom_from_wkt_sql(),
        "sql_api": _sql_api_sql(),
        "sql_api_2": _sql_api_2_sql(),
        "sql_api_3": _sql_api_3_sql(),
        "sql_api_4": _sql_api_4_sql(),
        "sql_api_5": _sql_api_5_sql(),
        "sql_api_rs_math": _sql_api_rs_math_sql(),
        "sql_api_rs_geo": _sql_api_rs_geo_sql(),
        "sql_api_rs_io": _sql_api_rs_io_sql(),
        "sql_api_6": _sql_api_6_sql(),
        "distance_band_weights": _distance_band_weights_sql(),
        "sql_api_stats": _sql_api_stats_sql(),
        "st_skeleton": _st_skeleton_sql(),
        "st_simplify_hull": _st_simplify_hull_sql(),
        "geotiff_io": _geotiff_io_sql(),
        "netcdf_io": _netcdf_io_sql(),
        "repetition_stats": _repetition_stats_sql(),
        "intersection_aggr": _intersection_aggr_sql(),
        "rs_union_aggr": _rs_union_aggr_sql(),
        "hex_cell_counts": _hex_cell_counts_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "crossdoc_ngram_stats": _crossdoc_ngram_stats_sql(),
        "cell_compact": _cell_compact_sql(),
        "st_shape_metrics": _st_shape_metrics_sql(),
        "rs_interpolate": _rs_interpolate_sql(),
        "rs_pyramid": _rs_pyramid_sql(),
        "hilbert_cells": _hilbert_cells_sql(),
        "markup_io": _markup_io_sql(),
        "shapefile_read": _shapefile_read_sql(),
        "dedup_components": _dedup_components_sql(),
        "chunk_documents": _chunk_documents_sql(),
        "geopackage_read": _geopackage_read_sql(),
        "osm_pbf_read": _osm_pbf_read_sql(),
        "osm_pbf_tags": _osm_pbf_tags_sql(),
        "stac_read": _stac_read_sql(),
        "viz_pixelize": _viz_pixelize_sql(),
        "st_make_valid": _st_make_valid_sql(),
        "st_difference_poly": _st_difference_poly_sql(),
        "st_transform_azimuthal": _st_transform_azimuthal_sql(),
        "st_transform_lcc": _st_transform_lcc_sql(),
        "st_transform_albers": _st_transform_albers_sql(),
        "st_transform_stereo": _st_transform_stereo_sql(),
        "st_transform_datum": _st_transform_datum_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "sample_per_key": _sample_per_key_sql(),
        "tfidf_top_terms": _tfidf_top_terms_sql(),
        "st_area_spheroid": _st_area_spheroid_sql(),
        "knn_join_approx": _knn_join_approx_sql(),
        "st_editor": _st_editor_sql(),
        "st_buffer_line": _st_buffer_line_sql(),
        "rs_band_math": _rs_band_math_sql(),
        "spherical_pip": _spherical_pip_sql(),
        "geojson_parse": _geojson_parse_sql(),
        "st_hausdorff": _st_hausdorff_sql(),
        "st_polygonize": _st_polygonize_sql(),
        "rs_bilinear": _rs_bilinear_sql(),
        "phash_dedup": _phash_dedup_sql(),
        "rs_convolve": _rs_convolve_sql(),
        "predicate_matrix_concave": _predicate_matrix_concave_sql(),
        "st_relate": _st_relate_sql(),
        "buffer_area": _buffer_area_sql(),
        "st_intersection_geom": _st_intersection_sql(),
        "st_difference_geom": _st_difference_sql(),
        "st_union_geom": _st_union_sql(),
        "rs_as_raster": _rs_as_raster_sql(),
        "line_interpolate": _line_interpolate_sql(),
        "st_is_valid": "select n_nationkey, n_nationkey % 2 = 0 as valid from nation",
        "overlay_concave": _overlay_concave_sql(),
        "st_triangulate": _st_triangulate_sql(),
        "shortest_line": _shortest_line_sql(),
        "st_voronoi": _st_voronoi_sql(),
        "st_delaunay": (
            f"with z as ({SQL_ZONES}) "
            "select n_nationkey, cast(4 as bigint) as n_tris, "
            "round(hx * hy, 6) as tri_area from z"
        ),
        "st_concave_hull": (
            f"with z as ({SQL_ZONES}) "
            "select n_nationkey, "
            "round(95e-1 * (hx / 4e0) * (hx / 4e0), 6) as hull_area, "
            "cast(15 as bigint) as nv from z"
        ),
        "geometric_median": (
            f"with z as ({SQL_ZONES}) "
            "select n_nationkey, round(zcx, 6) as med_x, "
            "round(zcy, 6) as med_y from z"
        ),
        "st_project": _st_project_sql(),
        "st_segmentize": (
            f"with p as ({SQL_POINTS}) "
            "select event_id, round(sqrt(13e0) + sqrt(5e0), 6) as seg_len, "
            "cast(9 as bigint) as nv from p"
        ),
        "st_affine": _st_affine_sql(),
        "rs_resample": _rs_resample_sql(),
        "st_min_circle": _st_min_circle_sql(),
        "st_sym_difference": _st_sym_difference_sql(),
        "rs_zonal_stats": _rs_zonal_stats_sql(),
        "rs_pixel_points": _rs_pixel_points_sql(),
        "knn_join_obj_broadcast": _knn_obj_broadcast_sql(),
        "distance_spheroid": _spheroid_sql(),
        "st_dump": _st_dump_sql(),
        "st_subdivide_explode": _st_subdivide_sql(),
        "range_query": (
            f"select event_id from {pts} p "
            f"where p.x >= {x0} and p.x <= {x1} and p.y >= {y0} and p.y <= {y1}"
        ),
        "pip_rect_join": (
            f"select p.event_id, z.n_nationkey from {pts} p, {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy"
        ),
        # identical semantics through the compacted mixed-level cover path
        "pip_join_compact": (
            f"select p.event_id, z.n_nationkey from {pts} p, {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy"
        ),
        "pip_poly_join": (
            f"select p.event_id, z.n_nationkey from {pts} p, {zon} z "
            "where abs(p.x - z.zcx) / z.hx + abs(p.y - z.zcy) / z.hy <= 1e0"
        ),
        "distance_join": (
            f"select p.event_id, z.n_nationkey from {pts} p, {zon} z "
            "where (p.x - z.zcx) * (p.x - z.zcx) + (p.y - z.zcy) * (p.y - z.zcy) "
            "<= z.r * z.r"
        ),
        "pip_join_salted": (
            f"select p.event_id, z.n_nationkey from {pts} p, {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy"
        ),
        "distance_join_meters": _haversine_join_sql(),
        "pip_holes_join": (
            f"select p.event_id, z.n_nationkey from {pts} p, {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy "
            "and not (p.x > z.zcx - z.hx * 5e-1 and p.x < z.zcx + z.hx * 5e-1 "
            "and p.y > z.zcy - z.hy * 5e-1 and p.y < z.zcy + z.hy * 5e-1)"
        ),
        "multipolygon_join": (
            f"select p.event_id, z.n_nationkey from {pts} p, {zon} z "
            "where (p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy) "
            "or (p.x >= z.zcx + 3e0 * z.hx and p.x <= z.zcx + 5e0 * z.hx "
            "and p.y >= z.zcy + 3e0 * z.hy and p.y <= z.zcy + 5e0 * z.hy)"
        ),
        "linestring_join": _linestring_join_sql(),
        "pip_left_outer_join": (
            f"select p.event_id, cast(coalesce(z.n_nationkey, -1) as bigint) "
            f"as n_nationkey from {pts} p left join {zon} z "
            "on p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy"
        ),
        "pip_right_outer_join": (
            f"select z.n_nationkey, cast(coalesce(p.event_id, -1) as bigint) "
            f"as event_id from {zon} z left join {pts} p "
            "on p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy"
        ),
        "predicate_matrix": _predicate_matrix_sql(),
        "overlaps_join": (
            # A = [zcx-hx, zcx+hx]; B = shifted twin [zcx, zcx+2hx] of s_key
            f"select a.n_nationkey, b.n_nationkey as s_key "
            f"from {zon} a, {zon} b "
            "where greatest(a.zcx - a.hx, b.zcx) "
            "< least(a.zcx + a.hx, b.zcx + 2e0 * b.hx) "
            "and greatest(a.zcy - a.hy, b.zcy - b.hy) "
            "< least(a.zcy + a.hy, b.zcy + b.hy) "
            "and not (a.zcx - a.hx >= b.zcx and a.zcx + a.hx <= b.zcx + 2e0 * b.hx "
            "and a.zcy - a.hy >= b.zcy - b.hy and a.zcy + a.hy <= b.zcy + b.hy) "
            "and not (b.zcx >= a.zcx - a.hx and b.zcx + 2e0 * b.hx <= a.zcx + a.hx "
            "and b.zcy - b.hy >= a.zcy - a.hy and b.zcy + b.hy <= a.zcy + a.hy)"
        ),
        "knn_join": (
            "select n_nationkey, event_id, knn_rank from ("
            f"select z.n_nationkey, p.event_id, row_number() over ("
            "partition by z.n_nationkey order by "
            "(p.x - z.zcx) * (p.x - z.zcx) + (p.y - z.zcy) * (p.y - z.zcy) asc, "
            f"p.event_id asc) as knn_rank from {pts} p, {zon} z) "
            f"where knn_rank <= {_KNN_K}"
        ),
        "knn_join_broadcast": (
            "select n_nationkey, event_id, knn_rank from ("
            f"select z.n_nationkey, p.event_id, row_number() over ("
            "partition by z.n_nationkey order by "
            "(p.x - z.zcx) * (p.x - z.zcx) + (p.y - z.zcy) * (p.y - z.zcy) asc, "
            f"p.event_id asc) as knn_rank from {pts} p, {zon} z) "
            f"where knn_rank <= {_KNN_K}"
        ),
        "knn_join_ties": (
            "select n_nationkey, event_id, knn_rank from ("
            f"select z.n_nationkey, p.event_id, rank() over ("
            "partition by z.n_nationkey order by "
            "(p.x - z.zcx) * (p.x - z.zcx) + (p.y - z.zcy) * (p.y - z.zcy) asc"
            f") as knn_rank from {pts} p, {zon} z) "
            f"where knn_rank <= {_KNN_K}"
        ),
        "knn_join_sphere": _knn_sphere_sql(),
        "knn_join_spheroid": _knn_spheroid_sql(),
        "knn_query": (
            f"select event_id from {pts} p order by "
            "(p.x - 0.123) * (p.x - 0.123) + (p.y - 0.456) * (p.y - 0.456) asc, "
            "p.event_id asc limit 10"
        ),
        "overlap_join": (
            f"select z.n_nationkey, g.r_regionkey from {zon} z, {reg} g "
            "where z.zcx - z.hx <= g.rcx + g.rhx and g.rcx - g.rhx <= z.zcx + z.hx "
            "and z.zcy - z.hy <= g.rcy + g.rhy and g.rcy - g.rhy <= z.zcy + z.hy"
        ),
        "count_by_key": (
            f"select z.n_nationkey, count(*) as n_matches from {pts} p, {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy "
            "group by z.n_nationkey"
        ),
        "collect_by_key": (
            f"select z.n_nationkey, string_agg(cast(p.event_id as varchar), ',' order by p.event_id) "
            f"as match_ids from {pts} p, {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy "
            "group by z.n_nationkey"
        ),
        "zonal_stats": (
            f"select z.n_nationkey, count(*) as n, cast(sum(e.user_id) as bigint) as val_sum, "
            "min(e.user_id) as val_min, max(e.user_id) as val_max "
            f"from {pts} p join events e using (event_id), {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy "
            "group by z.n_nationkey"
        ),
        "semi_join": (
            f"select p.event_id from {pts} p where exists (select 1 from {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy)"
        ),
        "anti_join": (
            f"select p.event_id from {pts} p where not exists (select 1 from {zon} z "
            "where p.x >= z.zcx - z.hx and p.x <= z.zcx + z.hx "
            "and p.y >= z.zcy - z.hy and p.y <= z.zcy + z.hy)"
        ),
        "dbscan": _dbscan_sql(),
        "hotspot_gstar": _gstar_sql(),
        "morans_i": _morans_sql(),
        "lof": _lof_sql(),
        "minhash_pairs_portable": _minhash_portable_sql(),
        "simhash_pairs_portable": _simhash_portable_sql(),
        "image_decode": _image_decode_sql(),
        "image_tensorize": _image_tensorize_sql(),
        "aspect_bucket_batches": _aspect_bucket_batches_sql(),
        "image_patchify": _image_patchify_sql(),
        "image_channel_stats": _image_channel_stats_sql(),
        "image_downsample": _image_downsample_sql(),
        "image_augment": _image_augment_sql(),
        "image_text_align": _image_text_align_sql(),
        "exif_geotags": _exif_geotags_sql(),
        "iceberg_scan": _iceberg_scan_sql(),
        "iceberg_time_travel": _iceberg_time_travel_sql(),
        "iceberg_incremental": _iceberg_incremental_sql(),
        "iceberg_upsert": _iceberg_upsert_sql(),
        "image_validate": _image_validate_sql(),
        "image_quality": _image_quality_sql(),
        "gif_decode": _gif_decode_sql(),
        "audio_features": _audio_features_sql(),
        "audio_wide_decode": _audio_wide_decode_sql(),
        "audio_resample": _audio_resample_sql(),
        "audio_resample_linear": _audio_resample_linear_sql(),
        "audio_chunks": _audio_chunks_sql(),
        "audio_silence": _audio_silence_sql(),
        "video_meta": _video_meta_sql(),
        "video_frame_stats": _video_frame_stats_sql(),
        "video_scene_cuts": _video_scene_cuts_sql(),
        "webdataset_manifest": _webdataset_manifest_sql(),
        "pack_sequences": _pack_sequences_sql(),
        "decontaminate": _decontaminate_sql(),
        "channel_histogram": _channel_histogram_sql(),
        "geopandas_api": _geopandas_api_sql(),
        "rs_value": _rs_value_sql(),
        "rs_clip_stats": _rs_clip_sql(),
        "rs_map_algebra": _rs_map_algebra_sql(),
        "tile_bytes": _tile_grid_sql(),
        "st_measures": _st_measures_sql(),
        "st_accessors": _st_accessors_sql(),
        "distance_sphere_knn": _haversine_sql(),
        "vocab_topk": (
            "with t as (select unnest(list_filter(string_split_regex(lower(text), "
            "'\\s+'), x -> x <> '')) as token from documents), "
            "c as (select token, count(*) as n from t group by token) "
            "select token, n, rank_n from (select token, n, row_number() over "
            "(order by n desc, token asc) as rank_n from c) where rank_n <= 100"
        ),
        "cell_counts": (
            f"select {cells.sql_cell_id('p.x', 'p.y', 8)} as cell, "
            f"count(*) as n_points from {pts} p group by 1"
        ),
        "st_transform": _st_transform_sql(),
        "geohash_counts": _geohash_counts_sql(),
        "geohash_neighbors": _geohash_neighbors_sql(),
        "zonal_overlay_area": (
            # piece = (least(ax1,bx1)-greatest(ax0,bx0)) · (…y…), B = shifted
            # twin rect [zcx, zcx+2hx]×[zcy-hy, zcy+hy]; round(6) absorbs
            # aggregation-order float noise
            f"select a.n_nationkey, count(*) as n_pieces, round(sum("
            "(least(a.zcx + a.hx, b.zcx + 2e0 * b.hx) - greatest(a.zcx - a.hx, b.zcx))"
            " * (least(a.zcy + a.hy, b.zcy + b.hy) - greatest(a.zcy - a.hy, b.zcy - b.hy))"
            f"), 6) as overlay_area from {zon} a, {zon} b "
            "where (least(a.zcx + a.hx, b.zcx + 2e0 * b.hx) "
            "- greatest(a.zcx - a.hx, b.zcx)) "
            "* (least(a.zcy + a.hy, b.zcy + b.hy) "
            "- greatest(a.zcy - a.hy, b.zcy - b.hy)) > 0 "
            "and least(a.zcx + a.hx, b.zcx + 2e0 * b.hx) "
            "> greatest(a.zcx - a.hx, b.zcx) "
            "group by a.n_nationkey"
        ),
        "union_aggr_area": _union_aggr_sql(),
        "envelope_aggr": (
            f"select e.event_type, min(p.x) as xmin, min(p.y) as ymin, "
            "max(p.x) as xmax, max(p.y) as ymax, count(*) as n "
            f"from {pts} p join events e using (event_id) group by e.event_type"
        ),
        "tile_assign": _tile_assign_sql(),
        "dedup_exact": (
            "select md5(text) as text_hash, min(doc_id) as keep_id, "
            "count(*) as n_copies from documents group by 1"
        ),
        "text_stats": (
            "select doc_id, cast(length(text) as bigint) as n_chars, "
            "cast(length(list_filter(string_split_regex(text, '\\s+'), "
            "x -> x <> '')) as bigint) as n_tokens, "
            "cast(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) "
            "as bigint) as n_punct, "
            "cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) "
            "as bigint) as n_digits, "
            "cast(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) "
            "as bigint) as n_upper from documents"
        ),
        "lang_id": _lang_id_sql(),
        "fingerprint": (
            "select doc_id, substr(md5(regexp_replace(trim(text), '\\s+', ' ', 'g')), "
            "1, 16) as fingerprint from documents"
        ),
        "jaccard_adjacent": (
            "with g as (select doc_id, list_distinct(list_filter("
            "string_split_regex(lower(text), '\\s+'), x -> x <> '')) as grams "
            "from documents) "
            "select a.doc_id as id_a, b.doc_id as id_b, "
            "cast(length(list_intersect(a.grams, b.grams)) as bigint) as inter_size, "
            "cast(length(list_distinct(list_concat(a.grams, b.grams))) as bigint) "
            "as union_size "
            "from g a join g b on b.doc_id = a.doc_id + 1"
        ),
        "ann_topk": (
            "with q as (select embedding as qv from embeddings where vec_id = 1), "
            "s as (select vec_id, list_cosine_similarity("
            "list_transform(embedding, x -> cast(x as double)), "
            "list_transform(qv, x -> cast(x as double))) as cosine "
            "from embeddings, q) "
            "select vec_id, rank_n from (select vec_id, row_number() over "
            "(order by cosine desc, vec_id asc) as rank_n from s) where rank_n <= 10"
        ),
        "embedding_dups": (
            "select a.vec_id as id_a, b.vec_id as id_b from embeddings a "
            "join embeddings b on a.label = b.label and a.vec_id < b.vec_id "
            "where list_cosine_similarity("
            "list_transform(a.embedding, x -> cast(x as double)), "
            "list_transform(b.embedding, x -> cast(x as double))) >= 0.5"
        ),
        # planted fixture (see q_ann_lsh_topk): analytic cosine of the
        # constructed vectors — cos θᵢ for cluster A, −cos φᵢ for B
        "ann_lsh_topk": (
            "select vec_id, rank_n from (select vec_id, row_number() over "
            "(order by cosv desc, vec_id asc) as rank_n from ("
            "select vec_id, case when vec_id % 5 = 0 "
            "then cos(2e-1 * (5e-2 + 9e-1 * ((vec_id // 5) % 1000) / 1000e0)) "
            "else -cos(2e-1 * (5e-2 + 9e-1 * ((vec_id * 7) % 1000) / 1000e0)) "
            "end as cosv from embeddings)) where rank_n <= 10"
        ),
        "ann_ivf_topk": (
            "select vec_id, rank_n from (select vec_id, row_number() over "
            "(order by cosv desc, vec_id asc) as rank_n from ("
            "select vec_id, case when vec_id % 5 = 0 "
            "then cos(2e-1 * (5e-2 + 9e-1 * ((vec_id // 5) % 1000) / 1000e0)) "
            "else -cos(2e-1 * (5e-2 + 9e-1 * ((vec_id * 7) % 1000) / 1000e0)) "
            "end as cosv from embeddings)) where rank_n <= 10"
        ),
    }


def _tile_assign_sql() -> str:
    # mirror of q_tile_assign + tile_assign()'s Column math, op-for-op
    gx = cells.sql_grid_x("tlon", 10)
    gy = cells.sql_grid_y("tlat", 10)
    return f"""
with img as (
  select cast(p_partkey as bigint) as pk,
         cast(32 + (p_partkey % 3) * 16 as int) as w,
         cast(32 + (p_partkey % 5) * 16 as int) as h,
         ((cast(p_partkey as bigint) * 2654435761) % 1000 + 5e-1) / 1e1 as lon,
         ((cast(p_partkey as bigint) * 2246822519) % 1000 + 5e-1) / 1e1 - 90e0 as lat
  from part),
tiles as (
  select pk, w, h, lon, lat,
         cast(ty.v as bigint) as tile_y, cast(tx.v as bigint) as tile_x
  from img,
       lateral (select unnest(range(0, cast(ceil(h / 16e0) as bigint))) as v) ty,
       lateral (select unnest(range(0, cast(ceil(w / 16e0) as bigint))) as v) tx),
geo as (
  select pk, tile_x, tile_y,
         lon + ((tile_x * 16 + least(16, w - tile_x * 16) / 2e0) / w) * 5e-2 as tlon,
         lat - ((tile_y * 16 + least(16, h - tile_y * 16) / 2e0) / h) * 5e-2 as tlat
  from tiles)
select pk, tile_x, tile_y,
       (cast({10 * (1 << 54)} as bigint)
        + {gx} * cast({1 << 27} as bigint)
        + {gy}) as tile_cell
from geo
"""


def _dbscan_sql() -> str:
    # eps=2.0 (compare squared), min_pts=3 (self-pair included, like the
    # engine); clusters = min id of the core component (recursive-CTE
    # transitive closure); border = min core neighbor's cluster; noise -1
    return f"""
with recursive
pts as ({SQL_POINTS}),
pairs as (
  select a.event_id as ia, b.event_id as ib from pts a, pts b
  where (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4e0),
core as (select ia as id from pairs group by ia having count(*) >= 3),
ce as (select p.ia as a, p.ib as b from pairs p
       join core c1 on p.ia = c1.id join core c2 on p.ib = c2.id),
reach(a, b) as (
  select id, id from core
  union
  select r.a, e.b from reach r join ce e on r.b = e.a),
lbl as (select a as id, min(b) as cluster from reach group by a),
border as (
  select p.ia as id, min(l.cluster) as cluster
  from pairs p
  join core c on p.ib = c.id
  join lbl l on l.id = p.ib
  where p.ia not in (select id from core)
  group by p.ia),
assigned as (select * from lbl union all select * from border)
select p.event_id, coalesce(a.cluster, -1) as cluster
from pts p left join assigned a on p.event_id = a.id
"""


def _st_transform_sql() -> str:
    from sedona_spark.functions.crs import _R, _RAD, sql_to_mercator

    mx, my = sql_to_mercator("z.zcx", "z.zcy")
    # inverse lon = (mx / R) / rad; residual vs the original, rounded
    return f"""
with z as ({SQL_ZONES}),
m as (select n_nationkey, zcx, {mx} as mx, {my} as my from z)
select n_nationkey, round(mx, 6) as mx, round(my, 6) as my,
       round(abs((mx / {_R!r}) / {_RAD!r} - zcx), 9) as lon_resid
from m
"""


def _union_aggr_sql() -> str:
    # x-slab coordinate-compression sweep as window functions: slabs from
    # distinct x edges, per-slab y-interval union via running-max island
    # detection. Same math as overlay.union_area_np; round(6) both sides.
    return f"""
with z as ({SQL_ZONES}),
r as (select n_nationkey % 5 as grp, zcx - hx as x0, zcx + hx as x1,
             zcy - hy as y0, zcy + hy as y1 from z),
xs as (select distinct grp, x0 as xe from r union select distinct grp, x1 from r),
slabs as (select grp, xe as xl,
                 lead(xe) over (partition by grp order by xe) as xr from xs),
sl as (select * from slabs where xr is not null),
cov as (select s.grp, s.xl, s.xr, r.y0, r.y1 from sl s
        join r on r.grp = s.grp and r.x0 <= s.xl and r.x1 >= s.xr),
isl as (select grp, xl, xr, y0, y1,
        case when y0 > coalesce(max(y1) over (partition by grp, xl
             order by y0, y1 rows between unbounded preceding and 1 preceding),
             -1e30) then 1 else 0 end as brk from cov),
isl2 as (select grp, xl, xr, y0, y1,
         sum(brk) over (partition by grp, xl order by y0, y1
                        rows unbounded preceding) as isl_id from isl),
islands as (select grp, xl, xr, isl_id, min(y0) as iy0, max(y1) as iy1
            from isl2 group by grp, xl, xr, isl_id),
slab_area as (select grp, xl, xr, sum(iy1 - iy0) as ylen
              from islands group by grp, xl, xr),
rc as (select n_nationkey % 5 as grp, count(*) as n_rects from z group by 1)
select s.grp, rc.n_rects, round(sum(s.ylen * (s.xr - s.xl)), 6) as union_area
from slab_area s join rc on rc.grp = s.grp
group by s.grp, rc.n_rects
"""


def _geohash_counts_sql(precision: int = 4) -> str:
    from sedona_spark.functions import geohash as gh

    gx, gy = gh._sql_grid("p.x", "p.y", precision)
    code = gh._sql_interleave("gx", "gy", precision)
    b32 = gh._sql_base32("code", precision)
    return f"""
with g as (select {gx} as gx, {gy} as gy from ({SQL_POINTS}) p),
c as (select {code} as code from g),
h as (select {b32} as gh from c)
select gh, count(*) as n_points from h group by gh
"""


def _geohash_neighbors_sql(precision: int = 4) -> str:
    from sedona_spark.functions import geohash as gh

    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    nx, ny = 1 << lon_bits, 1 << lat_bits
    gx, gy = gh._sql_grid("z.zcx", "z.zcy", precision)

    def enc(xe: str, ye: str) -> str:
        return gh._sql_base32(f"({gh._sql_interleave(xe, ye, precision)})", precision)

    cols, names = [], []
    k = 0
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            xe = f"(((gx + {dx}) % {nx} + {nx}) % {nx})"
            ye = f"least({ny - 1}, greatest(0, gy + {dy}))"
            cols.append(f"{enc(xe, ye)} as e{k}")
            names.append(f"e{k}")
            k += 1
    lst = ", ".join(names)
    return f"""
with g as (select z.n_nationkey, {gx} as gx, {gy} as gy from ({SQL_ZONES}) z),
enc as (select n_nationkey, {enc('gx', 'gy')} as gh, {", ".join(cols)} from g)
select n_nationkey, gh,
       array_to_string(list_sort(list_distinct(
           list_filter(list_value({lst}), x -> x <> gh))), ',') as neighbors
from enc
"""


def _knn_sphere_sql() -> str:
    import math as _m

    rad = _m.pi / 180.0
    r2 = 2.0 * 6371008.8
    # mirrors st_distance_sphere(qx, qy, ox, oy) op-for-op: dlat=(oy-qy)·rad,
    # a = sin(dlat/2)² + cos(qy·rad)·cos(oy·rad)·sin(dlon/2)²
    return f"""
select n_nationkey, event_id, knn_rank from (
  select z.n_nationkey, p.event_id, row_number() over (
    partition by z.n_nationkey order by
      {r2!r} * asin(sqrt(
        sin((p.y - z.zcy) * {rad!r} / 2) * sin((p.y - z.zcy) * {rad!r} / 2)
        + cos(z.zcy * {rad!r}) * cos(p.y * {rad!r})
          * sin((p.x - z.zcx) * {rad!r} / 2) * sin((p.x - z.zcx) * {rad!r} / 2)
      )) asc, p.event_id asc) as knn_rank
  from ({SQL_POINTS}) p, ({SQL_ZONES}) z)
where knn_rank <= {_KNN_K}
"""


def _linestring_join_sql() -> str:
    # segment (x,y)→(x+3,y+2) vs rect: exact separating-axis test — bbox
    # overlap AND the segment's line does not separate the 4 rect corners
    # (f = 3·(cy−y1) − 2·(cx−x1) is the edge function of direction (3,2))
    return f"""
with s as (select event_id, x as x1, y as y1, x + 3e0 as x2, y + 2e0 as y2
           from ({SQL_POINTS})),
r as (select n_nationkey, zcx - hx as rx0, zcx + hx as rx1,
             zcy - hy as ry0, zcy + hy as ry1 from ({SQL_ZONES})),
f as (select s.event_id, r.n_nationkey,
        s.x1, s.x2, s.y1, s.y2, r.rx0, r.rx1, r.ry0, r.ry1,
        3e0 * (r.ry0 - s.y1) - 2e0 * (r.rx0 - s.x1) as f00,
        3e0 * (r.ry1 - s.y1) - 2e0 * (r.rx0 - s.x1) as f01,
        3e0 * (r.ry0 - s.y1) - 2e0 * (r.rx1 - s.x1) as f10,
        3e0 * (r.ry1 - s.y1) - 2e0 * (r.rx1 - s.x1) as f11
      from s, r)
select event_id, n_nationkey from f
where x2 >= rx0 and x1 <= rx1 and y2 >= ry0 and y1 <= ry1
  and not (f00 > 0 and f01 > 0 and f10 > 0 and f11 > 0)
  and not (f00 < 0 and f01 < 0 and f10 < 0 and f11 < 0)
"""


def _predicate_matrix_sql() -> str:
    w_ab = "ax0 >= bx0 and ax1 <= bx1 and ay0 >= by0 and ay1 <= by1"
    w_ba = "bx0 >= ax0 and bx1 <= ax1 and by0 >= ay0 and by1 <= ay1"
    its = "ix0 <= ix1 and iy0 <= iy1"
    ii = "ix0 < ix1 and iy0 < iy1"
    return f"""
with z as ({SQL_ZONES}),
c as (select n_nationkey, zcx - hx as ax0, zcx + hx as ax1,
             zcy - hy as ay0, zcy + hy as ay1, {SQL_PRED_B} from z),
d as (select *, greatest(ax0, bx0) as ix0, least(ax1, bx1) as ix1,
             greatest(ay0, by0) as iy0, least(ay1, by1) as iy1 from c)
select n_nationkey,
       ({its}) as p_intersects,
       not ({its}) as p_disjoint,
       ({its}) and not ({ii}) as p_touches,
       ({ii}) and not ({w_ab}) and not ({w_ba}) as p_overlaps,
       ({w_ab}) and ({w_ba}) as p_equals,
       ({w_ab}) as p_within,
       ({w_ba}) as p_contains
from d
"""


def _predicate_matrix_concave_sql() -> str:
    # L = big_rect \ int(top-right quadrant), reflex corner at (cx, cy);
    # B = rect. Set algebra over intervals (see l_shape_pairs_from_nation):
    #   L ∩ B ≠ ∅      ⟺ big∩B ≠ ∅ and big∩B ⊄ int(notch)
    #   int(L) ∩ int(B) ⟺ open overlap ≠ ∅ and ⊄ notch(closed)
    #   B ⊆ L           ⟺ B ⊆ big and int(B) ∩ int(notch) = ∅
    #   L ⊆ B           ⟺ B ⊇ envelope(big)  (hull(L) reaches all 4 sides)
    from sedona_spark.sources.testdata import SQL_LSHAPE_B

    its = (
        "(ix0 <= ix1 and iy0 <= iy1) "
        "and not (ix0 > cx and ix1 < ax1 and iy0 > cy and iy1 < ay1)"
    )
    ii = "(ix0 < ix1 and iy0 < iy1) and not (ix0 >= cx and iy0 >= cy)"
    w_ab = "bx0 <= ax0 and by0 <= ay0 and bx1 >= ax1 and by1 >= ay1"
    w_ba = (
        "bx0 >= ax0 and bx1 <= ax1 and by0 >= ay0 and by1 <= ay1 "
        "and not (bx1 > cx and bx0 < ax1 and by1 > cy and by0 < ay1)"
    )
    return f"""
with z as ({SQL_ZONES}),
c as (select n_nationkey, zcx as cx, zcy as cy,
             zcx - hx as ax0, zcx + hx as ax1,
             zcy - hy as ay0, zcy + hy as ay1, {SQL_LSHAPE_B} from z),
d as (select *, greatest(ax0, bx0) as ix0, least(ax1, bx1) as ix1,
             greatest(ay0, by0) as iy0, least(ay1, by1) as iy1 from c)
select n_nationkey,
       ({its}) as p_intersects,
       not ({its}) as p_disjoint,
       ({its}) and not ({ii}) as p_touches,
       ({ii}) and not ({w_ab}) and not ({w_ba}) as p_overlaps,
       ({w_ab}) and ({w_ba}) as p_equals,
       ({w_ab}) as p_within,
       ({w_ba}) as p_contains
from d
"""


def _st_relate_sql() -> str:
    # the nine DE-9IM cells from rect interval algebra (same fixtures as
    # predicate_matrix); cell semantics documented in st.st_relate
    ii = "ix0 < ix1 and iy0 < iy1"
    w_ab = "ax0 >= bx0 and ax1 <= bx1 and ay0 >= by0 and ay1 <= by1"
    w_ba = "bx0 >= ax0 and bx1 <= ax1 and by0 >= ay0 and by1 <= ay1"
    # an A edge passing through int(B) (4 edges), and vice versa
    a_bnd_ii = (
        "(bx0 < ax0 and ax0 < bx1 and ay0 < by1 and ay1 > by0) "
        "or (bx0 < ax1 and ax1 < bx1 and ay0 < by1 and ay1 > by0) "
        "or (by0 < ay0 and ay0 < by1 and ax0 < bx1 and ax1 > bx0) "
        "or (by0 < ay1 and ay1 < by1 and ax0 < bx1 and ax1 > bx0)"
    )
    b_bnd_ii = (
        "(ax0 < bx0 and bx0 < ax1 and by0 < ay1 and by1 > ay0) "
        "or (ax0 < bx1 and bx1 < ax1 and by0 < ay1 and by1 > ay0) "
        "or (ay0 < by0 and by0 < ay1 and bx0 < ax1 and bx1 > ax0) "
        "or (ay0 < by1 and by1 < ay1 and bx0 < ax1 and bx1 > ax0)"
    )
    bb_dim1 = (
        "((ax0 = bx0 or ax0 = bx1 or ax1 = bx0 or ax1 = bx1) "
        " and least(ay1, by1) > greatest(ay0, by0)) "
        "or ((ay0 = by0 or ay0 = by1 or ay1 = by0 or ay1 = by1) "
        " and least(ax1, bx1) > greatest(ax0, bx0))"
    )
    bb_touch = (
        "(ix0 <= ix1 and iy0 <= iy1) "
        "and not (ax0 > bx0 and ax1 < bx1 and ay0 > by0 and ay1 < by1) "
        "and not (bx0 > ax0 and bx1 < ax1 and by0 > ay0 and by1 < ay1)"
    )
    return f"""
with z as ({SQL_ZONES}),
c as (select n_nationkey, zcx - hx as ax0, zcx + hx as ax1,
             zcy - hy as ay0, zcy + hy as ay1, {SQL_PRED_B} from z),
d as (select *, greatest(ax0, bx0) as ix0, least(ax1, bx1) as ix1,
             greatest(ay0, by0) as iy0, least(ay1, by1) as iy1 from c)
select n_nationkey,
       concat(
         case when {ii} then '2' else 'F' end,
         case when {b_bnd_ii} then '1' else 'F' end,
         case when {w_ab} then 'F' else '2' end,
         case when {a_bnd_ii} then '1' else 'F' end,
         case when {bb_dim1} then '1'
              when {bb_touch} then '0' else 'F' end,
         case when {w_ab} then 'F' else '1' end,
         case when {w_ba} then 'F' else '2' end,
         case when {w_ba} then 'F' else '1' end,
         '2') as relate,
       ({ii}) and ({w_ab}) as m_within,
       (ax0 = bx0 and ax1 = bx1 and ay0 = by0 and ay1 = by1) as ordering_eq
from d
"""


def _buffer_area_sql() -> str:
    # chorded circle / arc areas are exact trig identities:
    #   regular 32-gon: A = ½·32·r²·sin(2π/32), P = 32·2r·sin(π/32)
    #   buffered rect:  A = 4hxhy + 4(hx+hy)r + 16r²·sin(π/16)
    #   (4 corner fans of 8 chords, step π/16; ring built at the origin)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round(5e-1 * 32e0 * r * r * sin(2e0 * pi() / 32e0), 6) as pb_area,
       round(32e0 * 2e0 * r * sin(pi() / 32e0), 6) as pb_perim,
       cast(32 as bigint) as pb_nv,
       round(4e0 * hx * hy + (4e0 * hx + 4e0 * hy) * r
             + 16e0 * r * r * sin(pi() / 16e0), 6) as rb_area,
       cast(36 as bigint) as rb_nv
from z
"""


def _st_intersection_sql() -> str:
    # reconstruct diamond ∩ rect independently: candidate vertices =
    # {diamond vertices in rect} ∪ {rect corners in diamond} ∪ {8 closed-
    # form edge crossings}; angular sort around the centroid; shoelace via
    # list_transform — area (round 6) + vertex count
    # candidate membership is ulp-tolerant: crossing points sit EXACTLY on
    # the boundaries they were solved from, so `<= 1` can fail by one ulp;
    # every true candidate is either on-boundary or has ≥ 0.1·h margin, so
    # 1e-9 admits nothing spurious
    dia = "abs(px - cx) / hx + abs(py - cy) / hy <= 1e0 + 1e-9"
    inr = (
        "px >= rx0 - hx * 1e-9 and px <= rx1 + hx * 1e-9 "
        "and py >= ry0 - hy * 1e-9 and py <= ry1 + hy * 1e-9"
    )
    return f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, zcx as cx, zcy as cy, hx, hy,
             zcx - hx * 3e-1 as rx0, zcx + hx * 19e-1 as rx1,
             zcy - hy * 5e-1 as ry0, zcy + hy * 11e-1 as ry1 from z),
cand as (
  select n_nationkey, cx - hx as px, cy as py from g
  union all select n_nationkey, cx + hx, cy from g
  union all select n_nationkey, cx, cy - hy from g
  union all select n_nationkey, cx, cy + hy from g
  union all select n_nationkey, rx0, ry0 from g
  union all select n_nationkey, rx1, ry0 from g
  union all select n_nationkey, rx1, ry1 from g
  union all select n_nationkey, rx0, ry1 from g
  union all select n_nationkey, rx0, cy + hy * (1e0 - abs(rx0 - cx) / hx) from g where abs(rx0 - cx) <= hx
  union all select n_nationkey, rx0, cy - hy * (1e0 - abs(rx0 - cx) / hx) from g where abs(rx0 - cx) <= hx
  union all select n_nationkey, rx1, cy + hy * (1e0 - abs(rx1 - cx) / hx) from g where abs(rx1 - cx) <= hx
  union all select n_nationkey, rx1, cy - hy * (1e0 - abs(rx1 - cx) / hx) from g where abs(rx1 - cx) <= hx
  union all select n_nationkey, cx + hx * (1e0 - abs(ry0 - cy) / hy), ry0 from g where abs(ry0 - cy) <= hy
  union all select n_nationkey, cx - hx * (1e0 - abs(ry0 - cy) / hy), ry0 from g where abs(ry0 - cy) <= hy
  union all select n_nationkey, cx + hx * (1e0 - abs(ry1 - cy) / hy), ry1 from g where abs(ry1 - cy) <= hy
  union all select n_nationkey, cx - hx * (1e0 - abs(ry1 - cy) / hy), ry1 from g where abs(ry1 - cy) <= hy
),
v as (select c.n_nationkey, c.px, c.py
      from cand c join g on g.n_nationkey = c.n_nationkey
      where ({dia}) and ({inr})),
dd as (select distinct n_nationkey, round(px, 9) as px, round(py, 9) as py from v),
ctr as (select n_nationkey, avg(px) as mx, avg(py) as my from dd group by n_nationkey),
ord as (select dd.n_nationkey, px, py, atan2(py - my, px - mx) as ang
        from dd join ctr using (n_nationkey)),
lst as (select n_nationkey, list(px order by ang) as xs, list(py order by ang) as ys
        from ord group by n_nationkey)
select n_nationkey,
       round(5e-1 * abs(list_sum(list_transform(range(1, len(xs) + 1),
             i -> xs[i] * ys[1 + (i % len(ys))] - xs[1 + (i % len(xs))] * ys[i]))), 6)
         as clip_area,
       cast(len(xs) as bigint) as clip_nv
from lst
"""


def _st_voronoi_sql() -> str:
    # site order (BL, BR, TL, TR) -> quadrant cells
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, cast(u.i as bigint) as site_idx,
       round(hx * hy, 6) as cell_area, cast(4 as bigint) as nv,
       round(case when u.i % 2 = 0 then zcx - hx else zcx end, 6) as cell_xmin,
       round(case when u.i < 2 then zcy - hy else zcy end, 6) as cell_ymin
from z, (select unnest([0, 1, 2, 3]) as i) u
"""


def _shortest_line_sql() -> str:
    # A = zone rect, B = A + (3hx, 3hy) built by the SAME float exprs the
    # Column translate produces: 1*(v)+0*w+3h keeps (v)+3h ordering
    return f"""
with z as ({SQL_ZONES}),
e as (select n_nationkey,
        zcx + hx as ax, zcy + hy as ay,
        (zcx - hx) + 3e0 * hx as bx, (zcy - hy) + 3e0 * hy as by_,
        zcx - hx as fx, zcy - hy as fy,
        (zcx + hx) + 3e0 * hx as gx, (zcy + hy) + 3e0 * hy as gy
      from z)
select n_nationkey,
  round(ax, 6) as x1, round(ay, 6) as y1,
  round(bx, 6) as x2, round(by_, 6) as y2,
  round(sqrt((ax - bx) * (ax - bx) + (ay - by_) * (ay - by_)), 6) as dist,
  round(sqrt((gx - fx) * (gx - fx) + (gy - fy) * (gy - fy)), 6) as max_dist
from e
"""


def _st_affine_sql() -> str:
    # (x, y) -> (0*x + (-1)*y + 0, 1*x + 0*y + 0): negation exact
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
  round(2e0 * hx * hy, 6) as rot_area,
  round(-(zcy + hy), 6) as rxmin,
  round(zcx - hx, 6) as rymin,
  round(-(zcy - hy), 6) as rxmax,
  round(zcx + hx, 6) as rymax
from z
"""


def _st_triangulate_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, cast(4 as bigint) as n_tris,
       round(hx * hy * 3e0, 6) as tri_area
from z
"""


def _rs_resample_sql() -> str:
    # nearest top-left rule src=(dst*src_dim)//dst_dim mirrored in integer
    # SQL; i % 200 == 0 ids are all fjpg (quantized)
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 200 = 0),
pix as (
  select i,
         ((i * 31 + ((x.v * w) // 24) * 3 + ((y.v * h) // 20) * 5 + c.v * 7) % 251
          + (((x.v * w) // 24) * ((y.v * h) // 20) * (i % 13 + 1)) % 67) % 256 as v
  from sel,
       lateral (select unnest(range(0, 24)) as v) x,
       lateral (select unnest(range(0, 20)) as v) y,
       lateral (select unnest(range(0, 3)) as v) c)
select printf('img_%012d', i) as image_id,
       cast(24 as bigint) as out_w, cast(20 as bigint) as out_h,
       cast(sum((v // 4) * 4 + 2) as bigint) as pix_sum
from pix
group by i
"""


def _overlay_concave_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       round(hx * hy * 2e0, 6) as inter_area,
       round(hx * hy, 6) as diff_area,
       round(hx * hy * 4e0, 6) as union_area
from z
"""


def _st_project_sql() -> str:
    # op-for-op mirror of st_project_sphere (mean radius 6371008.8)
    return f"""
with p as ({SQL_POINTS}),
c as (select event_id,
  y * (pi() / 180e0) as phi1, x * (pi() / 180e0) as lam1,
  cast(event_id % 360 as double) * (pi() / 180e0) as theta,
  2e5 / 63710088e-1 as delta from p),
d as (select event_id, phi1, lam1, theta, delta,
  sin(phi1) * cos(delta) + cos(phi1) * sin(delta) * cos(theta) as sp2 from c)
select event_id,
  round((lam1 + atan2(sin(theta) * sin(delta) * cos(phi1),
                      cos(delta) - sin(phi1) * sp2)) / (pi() / 180e0), 6)
    as dest_lon,
  round(asin(sp2) / (pi() / 180e0), 6) as dest_lat
from d
"""


def _st_min_circle_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, round(zcx, 6) as mbc_x, round(zcy, 6) as mbc_y,
       round(greatest(hx, hy), 5) as mbc_r
from z
"""


def _st_sym_difference_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, cast(5 as bigint) as n_parts,
       round(hx * hy * 296e-2, 6) as sym_area
from z
"""


def _rs_zonal_stats_sql() -> str:
    # every i % 100 == 0 id is also % 4 == 0 -> fjpg quantized; band 0
    # drops the c*7 term; world coords mirror rs_pixel_points at 0.5°/px;
    # covers = boundary-inclusive diamond test (centers never hit the
    # boundary exactly — irrational-ratio lattices)
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 100 = 0),
pix as (
  select i,
         ((i * 2654435761) % 1000 + 5e-1) / 10e0 + (x.v + 5e-1) * 2e0 as wx,
         ((i * 2246822519) % 1000 + 5e-1) / 10e0 - (y.v + 5e-1) * 2e0 as wy,
         (((( i * 31 + x.v * 3 + y.v * 5) % 251
            + (x.v * y.v * (i % 13 + 1)) % 67) % 256) // 4) * 4 + 2 as val
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y),
z as ({SQL_ZONES})
select z.n_nationkey, cast(count(*) as bigint) as n_pix,
       cast(sum(val) as bigint) as sum_val
from pix, z
where abs(pix.wx - z.zcx) / z.hx + abs(pix.wy - z.zcy) / z.hy <= 1e0
group by z.n_nationkey
"""


def _line_interpolate_sql() -> str:
    # polyline (x,y)->(x+3,y+2)->(x+5,y+1): len1=sqrt(13), len2=sqrt(5).
    # interpolate(0.4): 0.4*L < len1 always -> inside segment 1;
    # substring(0.25, 0.75): len 0.5*L, inner vertex kept (cum frac of the
    # middle vertex = len1/L ~ 0.617 in (0.25, 0.75)) -> 3 vertices;
    # locate/closest: generic clamped projection on both segments, d1<=d2
    # tie goes to the lower fraction (kernel argmin-first semantics)
    return f"""
with p as ({SQL_POINTS}),
base as (select event_id, x, y,
         x + cast(event_id % 5 as double) as qx, y + 3e0 as qy,
         sqrt(13e0) as l1, sqrt(5e0) as l2,
         sqrt(13e0) + sqrt(5e0) as lt from p),
proj as (select *,
  greatest(0e0, least(1e0, ((qx - x) * 3e0 + (qy - y) * 2e0) / 13e0)) as t1,
  greatest(0e0, least(1e0, ((qx - x - 3e0) * 2e0 - (qy - y - 2e0)) / 5e0)) as t2
  from base),
feet as (select *,
  x + t1 * 3e0 as f1x, y + t1 * 2e0 as f1y,
  x + 3e0 + t2 * 2e0 as f2x, y + 2e0 - t2 as f2y from proj),
d as (select *,
  (qx - f1x) * (qx - f1x) + (qy - f1y) * (qy - f1y) as d1,
  (qx - f2x) * (qx - f2x) + (qy - f2y) * (qy - f2y) as d2 from feet)
select event_id,
  round(x + 4e-1 * lt / l1 * 3e0, 6) as ip_x,
  round(y + 4e-1 * lt / l1 * 2e0, 6) as ip_y,
  round(case when d1 <= d2 then t1 * l1 / lt else (l1 + t2 * l2) / lt end, 6)
    as loc_frac,
  round(case when d1 <= d2 then f1x else f2x end, 6) as cp_x,
  round(case when d1 <= d2 then f1y else f2y end, 6) as cp_y,
  round(5e-1 * lt, 6) as sub_len,
  cast(3 as bigint) as sub_nv
from d
"""


def _rs_as_raster_sql() -> str:
    # |dx|/hx + |dy|/hy < 1 at center (2i+1-W)/W  ⇔  |2i+1-W|+|2j+1-W| < W
    # — pure integer arithmetic, no floats anywhere
    return f"""
with z as ({SQL_ZONES}),
g as (select n_nationkey, 9 + 2 * (n_nationkey % 7) as wd from z)
select g.n_nationkey, cast(g.wd as bigint) as rw, cast(g.wd as bigint) as rh,
       (select count(*)
        from range(0, 21) xi(i), range(0, 21) yj(j)
        where xi.i < g.wd and yj.j < g.wd
          and abs(2 * xi.i + 1 - g.wd) + abs(2 * yj.j + 1 - g.wd) < g.wd)
         as inside
from g
"""


def _rs_pixel_points_sql() -> str:
    # ids % 200 == 0 are all fjpg (i % 4 = 0) -> quantized (v//4)*4+2;
    # band 0 drops the c*7 term; wx/wy mirror _geotag + center offset in
    # the same IEEE op order as the numpy side
    return f"""
with img as ({_img_meta_sql()}),
sel as (select * from img where i % 200 = 0),
pix as (
  select i, w, h,
         x.v as px, y.v as py,
         ((i * 31 + x.v * 3 + y.v * 5) % 251
          + (x.v * y.v * (i % 13 + 1)) % 67) % 256 as v
  from sel,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y)
select printf('img_%012d', i) as image_id, px, py,
       ((i * 2654435761) % 1000 + 5e-1) / 10e0 + (px + 5e-1) * 1e-3 as wx,
       ((i * 2246822519) % 1000 + 5e-1) / 10e0 - (py + 5e-1) * 1e-3 as wy,
       (v // 4) * 4 + 2 as val
from pix
"""


def _st_difference_sql() -> str:
    # closed-form fixture geometry (see q_st_difference_geom docstring):
    # the bottom rect edge leaves the diamond triangle below y=cy-hy/2
    # (similar-triangle area hx*hy*(1/2)^2 = hx*hy/4, 3 vertices); the
    # left edge leaves the quad beyond x=cx-0.3hx clipped above y=cy-hy/2
    # (area (0.49-0.02)*hx*hy, 4 vertices); right/top edges fall outside
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, cast(u.part_idx as bigint) as part_idx,
       round(hx * hy * case u.part_idx when 0 then 25e-2 else 47e-2 end, 6)
         as part_area,
       cast(case u.part_idx when 0 then 3 else 4 end as bigint) as nv
from z, (select unnest([0, 1]) as part_idx) u
"""


def _st_union_sql() -> str:
    # rect (2.2hx x 1.6hy = 3.52) + difference pieces (0.25 + 0.47)
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, cast(3 as bigint) as n_parts,
       round(hx * hy * 424e-2, 6) as union_area
from z
"""


def _knn_obj_broadcast_sql() -> str:
    pts = f"({SQL_POINTS})"
    zon = f"({SQL_ZONES})"
    return (
        "select event_id, n_nationkey, knn_rank from ("
        "select p.event_id, z.n_nationkey, row_number() over ("
        "partition by p.event_id order by "
        "(z.zcx - p.x) * (z.zcx - p.x) + (z.zcy - p.y) * (z.zcy - p.y) asc, "
        f"z.n_nationkey asc) as knn_rank from {pts} p, {zon} z) "
        "where knn_rank <= 3"
    )


def _spheroid_sql() -> str:
    # mirrors st_measures.st_distance_spheroid (Andoyer–Lambert) op-for-op;
    # trig ulp differences between engines are ≤ µm, rounded to mm
    return """
with p as (select event_id,
  ((event_id * 2654435761) % 4096 + 5e-1) / 4096e0 * 360e0 - 180e0 as x,
  ((event_id * 2246822519) % 2048 + 5e-1) / 2048e0 * 180e0 - 90e0 as y,
  ((event_id * 40503) % 4096 + 5e-1) / 4096e0 * 360e0 - 180e0 as x2,
  ((event_id * 69069) % 2048 + 5e-1) / 2048e0 * 180e0 - 90e0 as y2
  from events),
t as (select event_id,
  (y + y2) * (pi() / 180e0) / 2e0 as f1,
  (y - y2) * (pi() / 180e0) / 2e0 as g,
  (x - x2) * (pi() / 180e0) / 2e0 as lam from p),
u as (select event_id,
  sin(g) * sin(g) * cos(lam) * cos(lam) + cos(f1) * cos(f1) * sin(lam) * sin(lam) as s,
  cos(g) * cos(g) * cos(lam) * cos(lam) + sin(f1) * sin(f1) * sin(lam) * sin(lam) as c,
  sin(f1) as sinf, cos(f1) as cosf, sin(g) as sing_, cos(g) as cosg from t),
v as (select *, atan(sqrt(greatest(s / greatest(c, 1e-300), 0e0))) as w from u),
vv as (select *, sqrt(greatest(s * c, 0e0)) / greatest(w, 1e-300) as rr from v)
select event_id,
  round(case when s = 0e0 or w = 0e0 then 0e0 else
    (12756274e0 * w) * (1e0 + (1e0 / 298257223563e-9) * (
      ((3e0 * rr - 1e0) / (2e0 * greatest(c, 1e-300))) * sinf * sinf * cosg * cosg
      - ((3e0 * rr + 1e0) / (2e0 * greatest(s, 1e-300))) * cosf * cosf * sing_ * sing_))
  end, 3) as dist_m
from vv
"""


def _knn_spheroid_sql() -> str:
    # Andoyer distance per (zone, point) pair via CTEs (mirror of
    # st_distance_spheroid), then the standard kNN window
    return f"""
with p as ({SQL_POINTS}), z as ({SQL_ZONES}),
c0 as (select z.n_nationkey, p.event_id,
  (z.zcy + p.y) * (pi() / 180e0) / 2e0 as f1,
  (z.zcy - p.y) * (pi() / 180e0) / 2e0 as g,
  (z.zcx - p.x) * (pi() / 180e0) / 2e0 as lam
  from z, p),
u as (select n_nationkey, event_id,
  sin(g) * sin(g) * cos(lam) * cos(lam) + cos(f1) * cos(f1) * sin(lam) * sin(lam) as s,
  cos(g) * cos(g) * cos(lam) * cos(lam) + sin(f1) * sin(f1) * sin(lam) * sin(lam) as c,
  sin(f1) as sinf, cos(f1) as cosf, sin(g) as sing_, cos(g) as cosg from c0),
v as (select *, atan(sqrt(greatest(s / greatest(c, 1e-300), 0e0))) as w from u),
vv as (select *, sqrt(greatest(s * c, 0e0)) / greatest(w, 1e-300) as rr from v),
d as (select n_nationkey, event_id,
  case when s = 0e0 or w = 0e0 then 0e0 else
    (12756274e0 * w) * (1e0 + (1e0 / 298257223563e-9) * (
      ((3e0 * rr - 1e0) / (2e0 * greatest(c, 1e-300))) * sinf * sinf * cosg * cosg
      - ((3e0 * rr + 1e0) / (2e0 * greatest(s, 1e-300))) * cosf * cosf * sing_ * sing_))
  end as dm from vv)
select n_nationkey, event_id, knn_rank from (
  select n_nationkey, event_id, row_number() over (
    partition by n_nationkey order by dm asc, event_id asc) as knn_rank from d)
where knn_rank <= {_KNN_K}
"""


def _st_subdivide_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, cast(u.part_idx as bigint) as part_idx,
       round(hx * hy / 2e0, 6) as part_area, cast(3 as bigint) as nv
from z, (select unnest([0, 1, 2, 3]) as part_idx) u
"""


def _st_dump_sql() -> str:
    return f"""
with z as ({SQL_ZONES})
select n_nationkey, cast(0 as bigint) as part_idx,
       round(4e0 * hx * hy, 6) as part_area from z
union all
select n_nationkey, cast(1 as bigint) as part_idx,
       round(4e0 * hx * hy, 6) as part_area from z
"""


def _gstar_sql() -> str:
    # mirrors getis_ord_gstar + q_hotspot_gstar op-for-op: integer moments
    # (exact in any engine), then identical IEEE float combinations
    return f"""
with p as (select event_id, x, y, {_VAL} as v from ({SQL_POINTS})),
g as (select count(*) as n, sum(v) as sv, sum(v * v) as sx2 from p),
gg as (select n, cast(sv as double) / n as mean,
       sqrt(cast(sx2 as double) / n
            - (cast(sv as double) / n) * (cast(sv as double) / n)) as sd
       from g),
band as (select a.event_id, count(*) as n_band,
                cast(sum(b.v) as bigint) as band_sum
         from p a join p b
           on (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9e0
         group by a.event_id)
select band.event_id, n_band, band_sum,
       (band_sum - mean * n_band)
       / (sd * sqrt((n * cast(n_band as double)
                     - cast(n_band as double) * cast(n_band as double))
                    / (n - 1))) as g_star
from band, gg
"""


def _morans_sql() -> str:
    # mirrors morans_i's raw-moment expansion op-for-op
    return f"""
with p as (select event_id, x, y, {_VAL} as v from ({SQL_POINTS})),
g as (select count(*) as n, sum(v) as sv, sum(v * v) as sx2 from p),
gg as (select n, cast(sv as double) / n as mean, cast(sx2 as double) as sx2d
       from g),
band as (select sum(a.v * b.v) as p1, sum(a.v + b.v) as p2, count(*) as w
         from p a join p b
           on a.event_id <> b.event_id
          and (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9e0)
select n, w as w_sum,
       (cast(n as double) / w) * (p1 - mean * p2 + w * mean * mean)
       / (sx2d - n * mean * mean) as moran_i
from band, gg
"""


def _lof_sql() -> str:
    # k=5; candidate prefilter radius 10 (max 5th-NN distance at sf0.01 is
    # 4.48 — margin 2.2×). Float sums are LEFT FOLDS over sorted lists
    # (list_reduce ⟷ Spark aggregate(sort_array(collect_list))) →
    # bit-identical densities.
    return f"""
with p as ({SQL_POINTS}),
cand as (
  select a.event_id as ida, b.event_id as idb,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) as d,
         row_number() over (partition by a.event_id
             order by (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) asc,
                      b.event_id asc) as rk
  from p a join p b
    on a.event_id <> b.event_id
   and (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 100e0),
knn as (select ida, idb, d from cand where rk <= 5),
kd as (select ida as id, max(d) as kdist from knn group by ida),
reach as (select k.ida, k.idb, greatest(k.d, kd.kdist) as rch
          from knn k join kd on kd.id = k.idb),
lrd as (select ida as id,
        1e0 / (list_reduce(list(rch order by rch), (x, y) -> x + y) / count(*)
               + 1e-10) as lrd
        from reach group by ida),
sel as (select k.ida as point_id,
        list_reduce(list(lo.lrd order by lo.lrd), (x, y) -> x + y) / count(*)
          / any_value(li.lrd) as lof
        from knn k
        join lrd lo on lo.id = k.idb
        join lrd li on li.id = k.ida
        group by k.ida)
select point_id, lof from sel
"""


def _minhash_portable_sql(num_hashes: int = 16, bands: int = 4,
                          shingle: int = 5, threshold: float = 0.5) -> str:
    rows = num_hashes // bands
    mins = ", ".join(
        f"min(md5('{i}:' || s)) as mh_{i}" for i in range(num_hashes)
    )
    band_cases = " ".join(
        "when {b} then md5({expr})".format(
            b=b,
            expr=" || ',' || ".join(f"mh_{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
with sh as (
  select doc_id,
         list_distinct([substr(text, i, {shingle})
                        for i in range(1, greatest(1, length(text) - {shingle - 1}) + 1)])
           as shingles
  from documents),
shl as (select doc_id, unnest(shingles) as s from sh),
sigs as (select doc_id, {mins} from shl group by doc_id),
banded as (
  select doc_id, band, case band {band_cases} end as bh
  from sigs, (select unnest([{", ".join(str(b) for b in range(bands))}]) as band)),
cand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b
  from banded a join banded b using (band, bh)
  where a.doc_id < b.doc_id),
v as (
  select id_a, id_b,
         cast(length(list_intersect(sa.shingles, sb.shingles)) as bigint) as inter_size,
         cast(length(list_distinct(list_concat(sa.shingles, sb.shingles))) as bigint) as union_size
  from cand
  join sh sa on sa.doc_id = id_a
  join sh sb on sb.doc_id = id_b)
select id_a, id_b, inter_size, union_size
from v where inter_size >= {threshold:e} * union_size
"""


def _simhash_portable_sql(n_bits: int = 60, max_hamming: int = 3) -> str:
    votes = ", ".join(
        f"sum((hv >> {b}) & 1) as b_{b}" for b in range(n_bits)
    )
    sh_expr = " + ".join(
        f"case when b_{b} * 2 > n then {1 << b} else 0 end" for b in range(n_bits)
    )
    return f"""
with toks as (
  select doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) as tok
  from documents),
h as (select doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint as hv from toks),
votes as (select doc_id, count(*) as n, {votes} from h group by doc_id),
sim as (select doc_id, cast({sh_expr} as bigint) as sh from votes),
chunks as (
  select doc_id, sh, c.v as chunk, (sh >> (15 * c.v)) & 32767 as ck
  from sim, (select unnest(range(0, 4)) as v) c),
pairs as (
  select distinct a.doc_id as id_a, b.doc_id as id_b,
         cast(bit_count(xor(a.sh, b.sh)) as bigint) as hamming
  from chunks a join chunks b using (chunk, ck)
  where a.doc_id < b.doc_id)
select id_a, id_b, hamming from pairs where hamming <= {max_hamming}
"""


def _img_meta_sql() -> str:
    """Shared derivation of the deterministic image table metadata
    (mirrors sources/images.py _rows_for_ids)."""
    return """
select cast(p_partkey as bigint) as i,
       case cast(p_partkey as bigint) % 3 when 0 then 32 when 1 then 64 else 48 end as w,
       case cast(p_partkey as bigint) % 3 when 0 then 32 when 1 then 48 else 96 end as h,
       case when cast(p_partkey as bigint) % 4 = 0 then 'fjpg' else 'fpng' end as fmt
from part
"""


def _image_decode_sql() -> str:
    # regenerates every pixel of make_pixels() + the fjpg 6-bit quantizer;
    # mean = exact int sum / exact size (one IEEE division both engines)
    return f"""
with img as ({_img_meta_sql()}),
pix as (
  select i, w, h, fmt,
         ((i * 31 + x.v * 3 + y.v * 5 + c.v * 7) % 251
          + (x.v * y.v * (i % 13 + 1)) % 67) % 256 as v
  from img,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       lateral (select unnest(range(0, 3)) as v) c),
dec as (select i, w, h, fmt,
               case when fmt = 'fjpg' then (v // 4) * 4 + 2 else v end as dv
        from pix)
select printf('img_%012d', i) as image_id, w as dec_w, h as dec_h,
       fmt as dec_fmt, cast(sum(dv) as double) / count(*) as mean_lum
from dec group by i, w, h, fmt
"""


_PIX = (
    "((i * 31 + {x} * 3 + {y} * 5 + c.v * 7) % 251"
    " + ({x} * {y} * (i % 13 + 1)) % 67) % 256"
)
_DECODED = "case when fmt = 'fjpg' then ({v} // 4) * 4 + 2 else {v} end"


def _rs_value_sql() -> str:
    v = _PIX.format(x="(i % 32)", y="(i % 31)")
    # inline band: replace the c.v channel term with (i % 3)
    v = v.replace("c.v * 7", "(i % 3) * 7")
    dv = _DECODED.format(v=f"({v})")
    return f"""
with img as ({_img_meta_sql()})
select printf('img_%012d', i) as image_id,
       i % 32 as px, i % 31 as py, i % 3 as band,
       cast({dv} as bigint) as val
from img
"""


def _rs_clip_sql() -> str:
    v = _PIX.format(x="x.v", y="y.v")
    dv = _DECODED.format(v=f"({v})")
    return f"""
with img as ({_img_meta_sql()}),
pix as (
  select i, fmt, {dv} as dv
  from img,
       lateral (select unnest(range(4, 20)) as v) x,
       lateral (select unnest(range(4, 20)) as v) y,
       lateral (select unnest(range(0, 3)) as v) c)
select printf('img_%012d', i) as image_id,
       cast(16 as bigint) as clip_w, cast(16 as bigint) as clip_h,
       cast(sum(dv) as bigint) as clip_sum
from pix group by i
"""


def _rs_map_algebra_sql() -> str:
    v = _PIX.format(x="x.v", y="y.v")
    dv = _DECODED.format(v=f"({v})")
    return f"""
with img as ({_img_meta_sql()}),
pix as (
  select i, least(2 * ({dv}), 255) as ov
  from img,
       lateral (select unnest(range(0, cast(w as bigint))) as v) x,
       lateral (select unnest(range(0, cast(h as bigint))) as v) y,
       lateral (select unnest(range(0, 3)) as v) c)
select printf('img_%012d', i) as image_id,
       cast(sum(ov) as bigint) as out_sum,
       cast(min(ov) as bigint) as out_min,
       cast(max(ov) as bigint) as out_max
from pix group by i
"""


def _tile_grid_sql() -> str:
    return f"""
with img as ({_img_meta_sql()})
select printf('img_%012d', i) as image_id,
       tx.v as tile_x, ty.v as tile_y,
       least(16, w - tx.v * 16) as tile_w,
       least(16, h - ty.v * 16) as tile_h
from img,
     lateral (select unnest(range(0, cast(ceil(w / 16e0) as bigint))) as v) tx,
     lateral (select unnest(range(0, cast(ceil(h / 16e0) as bigint))) as v) ty
"""


def _st_accessors_sql() -> str:
    # diamond ring = [cx-hx,cy, cx,cy-hy, cx+hx,cy, cx,cy+hy]: the accessor
    # results are closed-form; azimuth(start -> p2) mirrored op-for-op
    import math as _m

    two_pi = 2.0 * _m.pi
    az = "atan2(zcx - (zcx - hx), (zcy - hy) - zcy)"
    return f"""
with z as ({SQL_ZONES})
select n_nationkey,
       cast(4 as bigint) as npoints,
       zcx - hx as startx, zcy as starty,
       zcx as endx, zcy + hy as endy,
       zcx as p2x, zcy - hy as p2y,
       false as is_closed,
       zcx as rev_x1, zcy + hy as rev_y1,
       round(case when {az} < 0 then {az} + {two_pi!r} else {az} end, 9)
         as azimuth
from z
"""


def _st_measures_sql() -> str:
    # mirrors st_area/st_perimeter/st_centroid's fold arithmetic OP-FOR-OP
    # on the rectangle ring [x0,y0, x1,y0, x1,y1, x0,y1] so doubles are
    # bit-identical (shoelace terms in fold order, left-assoc addition)
    return f"""
with z as ({SQL_ZONES}),
c as (select n_nationkey,
             zcx - hx as x0, zcy - hy as y0,
             zcx + hx as x1, zcy + hy as y1 from z),
s as (select n_nationkey, x0, y0, x1, y1,
             (((0e0 + (x0*y0 - x1*y0)) + (x1*y1 - x1*y0)) + (x1*y1 - x0*y1))
              + (x0*y0 - x0*y1) as s2,
             (((0e0 + sqrt((x1-x0)*(x1-x0) + (y0-y0)*(y0-y0)))
                   + sqrt((x1-x1)*(x1-x1) + (y1-y0)*(y1-y0)))
                   + sqrt((x0-x1)*(x0-x1) + (y1-y1)*(y1-y1)))
                   + sqrt((x0-x0)*(x0-x0) + (y0-y1)*(y0-y1)) as perim,
             (((0e0 + (x0+x1)*(x0*y0 - x1*y0)) + (x1+x1)*(x1*y1 - x1*y0))
                   + (x1+x0)*(x1*y1 - x0*y1)) + (x0+x0)*(x0*y0 - x0*y1) as sx,
             (((0e0 + (y0+y0)*(x0*y0 - x1*y0)) + (y0+y1)*(x1*y1 - x1*y0))
                   + (y1+y1)*(x1*y1 - x0*y1)) + (y1+y0)*(x0*y0 - x0*y1) as sy
      from c)
select n_nationkey, abs(s2) / 2e0 as area, perim as perimeter,
       sx / (3e0 * s2) as cx, sy / (3e0 * s2) as cy from s
"""


def _haversine_sql() -> str:
    import math as _m

    rad = _m.pi / 180.0
    r2 = 2.0 * 6371008.8
    return f"""
with p as ({SQL_POINTS}),
h as (select event_id,
             sin((47.3e0 - p.y) * {rad!r} / 2) * sin((47.3e0 - p.y) * {rad!r} / 2)
             + cos(p.y * {rad!r}) * cos(47.3e0 * {rad!r})
               * sin((12.5e0 - p.x) * {rad!r} / 2) * sin((12.5e0 - p.x) * {rad!r} / 2)
             as a
      from p)
select event_id, round({r2!r} * asin(sqrt(a)), 3) as dist_m from h
order by dist_m asc, event_id asc limit 20
"""


def _haversine_join_sql() -> str:
    import math as _m

    rad = _m.pi / 180.0
    r2 = 2.0 * 6371008.8
    return f"""
select p.event_id, z.n_nationkey
from ({SQL_POINTS}) p, ({SQL_ZONES}) z
where {r2!r} * asin(sqrt(
        sin((z.zcy - p.y) * {rad!r} / 2) * sin((z.zcy - p.y) * {rad!r} / 2)
        + cos(p.y * {rad!r}) * cos(z.zcy * {rad!r})
          * sin((z.zcx - p.x) * {rad!r} / 2) * sin((z.zcx - p.x) * {rad!r} / 2)
      )) <= 300000e0
"""


def _lang_id_sql() -> str:
    markers = {
        "en": ("the", "and", "of"),
        "de": ("der", "und", "die"),
        "fr": ("le", "la", "les"),
        "es": ("el", "los", "que"),
    }

    def cnt(m):
        return (
            f"cast((length(t) - length(replace(t, ' {m} ', ''))) / {len(m) + 2} "
            "as bigint)"
        )

    scores = {
        lang: " + ".join(cnt(m) for m in ms) for lang, ms in markers.items()
    }
    score_cols = ", ".join(f"({v}) as s_{k}" for k, v in scores.items())
    best = "greatest(s_en, s_de, s_fr, s_es)"
    case = (
        f"case when s_en > 0 and s_en = {best} then 'en' "
        f"when s_de > 0 and s_de = {best} then 'de' "
        f"when s_fr > 0 and s_fr = {best} then 'fr' "
        f"when s_es > 0 and s_es = {best} then 'es' else 'unknown' end"
    )
    return (
        f"select doc_id, {case} as lang_pred from ("
        f"select doc_id, {score_cols} from ("
        "select doc_id, ' ' || lower(text) || ' ' as t from documents))"
    )
