"""Structured Streaming support.

The reference has no spatial streaming operators — its scalar expressions
simply work inside streams (tested in
``python/tests/streaming/spark/test_constructor_functions.py:501-511``) and
spatial joins are batch-only (SURVEY.md §2.5). We inherit the same posture
and make it concrete: cell encoding is pure Column math, hence
streaming-safe; plus a watermarked windowed per-cell aggregation — the
building block for streaming tile rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sedona_spark import cells


def cellify_stream(
    stream: DataFrame, level: int, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Attach the int64 cell id to a streaming DataFrame. Stateless Column
    arithmetic — valid in any output mode, no watermark needed."""
    return stream.withColumn("cell", cells.cell_id(F.col(lon), F.col(lat), level))


def windowed_cell_counts(
    stream: DataFrame,
    level: int,
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Late-data-tolerant per-cell event counts per tumbling window —
    streaming zonal statistics (the streaming analog of the tile-assignment
    + groupBy rollup)."""
    return (
        cellify_stream(stream, level, lon, lat)
        .withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("w"), F.col("cell"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "cell", "n_events")
    )


def stream_spatial_join(
    stream: DataFrame,
    zones: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Streaming spatial join: the batch PIP join applied to a streaming
    point source against a STATIC polygon table — a stream-static inner
    equi-join on cover cells plus the exact refine, which Structured
    Streaming supports statelessly in append mode (no watermark needed;
    the static side is re-broadcast per micro-batch). Goes beyond the
    reference, whose spatial joins are batch-only (SURVEY.md §2.5); the
    scalar refine kernel is the same one the batch path uses, so results
    match the batch join row-for-row on the same input."""
    from sedona_spark.operators.spatial_join import pip_join

    return pip_join(stream, zones, predicate, level, x=lon, y=lat)


def windowed_zone_counts(
    stream: DataFrame,
    zones: DataFrame,
    zone_key: str = "n_nationkey",
    predicate: str = "covers",
    level: int = 7,
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming ZONAL statistics: spatial join each micro-batch to the
    static zones, then late-data-tolerant tumbling-window counts per zone
    — the streaming analog of the zonal_stats batch rollup."""
    joined = stream_spatial_join(stream, zones, predicate, level, lon, lat)
    return (
        joined.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window), F.col(zone_key))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stream_stream_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    level: int,
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    watermark: str = "30 seconds",
    time_bound: str = "10 seconds",
) -> DataFrame:
    """STREAM-STREAM distance join (r4 — beyond the reference, whose
    spatial joins are batch-only): two streaming point sources matched
    within planar ``radius`` and within ``time_bound`` of each other's
    event time. Spark's stream-stream inner join needs (a) watermarks on
    both sides, (b) an equality key, (c) a time-range condition — the
    spatial part supplies (b) exactly like the batch engine: the left
    point keeps its cell, the right point replicates to every cell of its
    radius-expanded envelope (``cover_bbox`` explode, the
    EqualPartitioning.placeObject pattern), so any pair within ``radius``
    shares a cell. Exact refine = the same ``st_dwithin`` Column predicate
    as the batch distance join; duplicates are impossible because the
    left side keeps its single home cell (replicate-and-dedup by
    reference point, ``DuplicatesFilter.java`` semantics)."""
    from sedona_spark.functions import st

    r = float(radius)
    lw = left.withWatermark(ts, watermark).select(
        F.col("*"), cells.cell_id(F.col(lon), F.col(lat), level).alias("cell")
    )
    gx0, gx1, gy0, gy1 = cells.cover_bbox(
        F.col(lon) - r, F.col(lat) - r, F.col(lon) + r, F.col(lat) + r, level
    )
    rw = cells.explode_cells(
        right.withWatermark(ts, watermark),
        F.sequence(gx0, gx1), F.sequence(gy0, gy1), level,
    )
    lt = lw.select(
        F.col("cell"),
        F.col(ts).alias("l_ts"),
        F.col(lon).alias("l_lon"),
        F.col(lat).alias("l_lat"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns
          if c not in (ts, lon, lat)],
    )
    rt = rw.select(
        F.col("cell"),
        F.col(ts).alias("r_ts"),
        F.col(lon).alias("r_lon"),
        F.col(lat).alias("r_lat"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns
          if c not in (ts, lon, lat)],
    )
    j = lt.join(
        rt,
        (lt["cell"] == rt["cell"])
        & (lt["l_ts"] >= rt["r_ts"] - F.expr(f"interval {time_bound}"))
        & (lt["l_ts"] <= rt["r_ts"] + F.expr(f"interval {time_bound}")),
        "inner",
    ).drop(rt["cell"])
    return j.filter(
        st.st_dwithin(
            F.col("l_lon"), F.col("l_lat"), F.col("r_lon"), F.col("r_lat"), r
        )
    )


def hot_cell_stream(
    points,
    level: int,
    threshold: int,
    ts: str = "ts",
    x: str = "x",
    y: str = "y",
    window_len: str = "1 minute",
    watermark: str = "2 minutes",
):
    """Streaming hot-cell detection: watermarked tumbling-window counts
    per cell, emitting only cells whose window count reaches
    ``threshold`` — the streaming face of the Getis-Ord prefilter (find
    the dense cells cheaply; score them in batch). State is one count
    per (cell, window) inside the watermark horizon, so it is bounded by
    active-area x windows regardless of input rate — the only shape that
    survives an unbounded stream."""
    from sedona_spark import cells

    return (
        points.withWatermark(ts, watermark)
        .withColumn("_cell", cells.cell_id(F.col(x), F.col(y), level))
        .groupBy(F.window(F.col(ts), window_len), F.col("_cell"))
        .count()
        .filter(F.col("count") >= threshold)
        .select(
            F.col("window.start").alias("win_start"),
            F.col("_cell").alias("cell"),
            F.col("count").cast("long").alias("n"),
        )
    )
