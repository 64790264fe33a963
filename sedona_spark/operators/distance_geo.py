"""Geodesic (meter) distance join.

Reference parity: the distance-join envelope expansion with the
meters→degrees latitude adjustment (``JoinedGeometry.scala:33-69``:
expand by ``r / lat_metre`` in latitude and ``r / (lon_metre·cos φ)`` in
longitude), then exact refine — ours refines with the haversine distance
(``ST_DistanceSphere``). The per-row longitude span makes the cell-disk
radius a *Column*, so high-latitude rows automatically probe wider disks.
All Column math; zero Python.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sedona_spark import cells
from sedona_spark.functions.st_measures import st_distance_sphere

_EARTH_RADIUS_M = 6371008.8  # must match st_measures.st_distance_sphere
_M_PER_DEG_LAT = 111195.0  # mean meridian metre (2πR/360 for R=6371008.8)


def distance_join_meters(
    probe: DataFrame,
    build: DataFrame,
    r_m: float,
    level: int = 8,
    probe_lon: str = "lon",
    probe_lat: str = "lat",
    build_lon: str = "blon",
    build_lat: str = "blat",
) -> DataFrame:
    """All (probe, build) pairs within great-circle distance ``r_m`` meters.

    Column names of the inputs must be disjoint; all pass through, plus
    ``dist_m``.
    """
    n = 1 << level
    w_deg = cells.cell_width(level)
    h_deg = cells.cell_height(level)

    lat = F.col(probe_lat)
    dlat_deg = F.lit(float(r_m) / _M_PER_DEG_LAT)
    # exact per-row longitude span: for great-circle distance d the max
    # longitude offset to a point in the reachable latitude band is
    # dλ = 2·asin(sin(d/2R) / cos φ_edge), with φ_edge the band latitude
    # nearest a pole (longitude degrees shortest there). sin ratio ≥ 1 →
    # the disk must cover the full ring (pole neighborhood).
    band_edge = F.least(F.lit(90.0), F.abs(lat) + dlat_deg)
    cos_edge = F.greatest(F.cos(F.radians(band_edge)), F.lit(1e-9))
    sin_half = math.sin(float(r_m) / (2.0 * _EARTH_RADIUS_M))
    ratio = F.least(F.lit(1.0), F.lit(sin_half) / cos_edge)
    dlon_deg = F.when(
        F.lit(sin_half) / cos_edge >= 1.0, F.lit(360.0)
    ).otherwise(F.degrees(F.lit(2.0) * F.asin(ratio)))

    # longitude is CYCLIC: the x-disk wraps across the antimeridian
    # (``explode_cells(wrap=True)``). kx is capped at the half-ring so wrap
    # never duplicates a cell (kx ≥ n/2 ⇒ the full ring, exactly once).
    kx = F.least(F.lit(n // 2), F.ceil(dlon_deg / F.lit(w_deg))).cast("int")
    ky = F.least(F.lit(n), F.ceil(dlat_deg / F.lit(h_deg))).cast("int")

    home = cells.cell_id(F.col(probe_lon), lat, level)
    cx, cy = cells.cell_x(home), cells.cell_y(home)
    xs = F.when(
        kx >= n // 2, F.sequence(F.lit(0), F.lit(n - 1))
    ).otherwise(F.sequence(cx - kx, cx + kx))
    ys = F.sequence(F.greatest(F.lit(0), cy - ky), F.least(F.lit(n - 1), cy + ky))
    pc = cells.explode_cells(probe, xs, ys, level, wrap=True)
    bc = build.withColumn(
        "cell", cells.cell_id(F.col(build_lon), F.col(build_lat), level)
    )
    j = pc.join(bc, "cell").drop("cell")
    d = st_distance_sphere(
        F.col(probe_lon), F.col(probe_lat), F.col(build_lon), F.col(build_lat)
    )
    return j.withColumn("dist_m", d).filter(F.col("dist_m") <= float(r_m))
