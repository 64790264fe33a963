"""Overlay operators: intersection-area zonal stats and ST_Union_Aggr.

Reference: ``expressions/AggregateFunctions.scala:48`` (ST_Union_Aggr),
``Functions.scala`` ST_Intersection — re-expressed for the engine's
axis-aligned / convex ring path:

* :func:`rect_overlay_area` — area-weighted zonal overlay: for each left
  rect, Σ over intersecting right rects of the clip area. The join is
  ``spatial_join.envelope_pair_join`` (cell-cover equi-join with
  reference-point dedup); the clip area of two rects is closed-form
  Column math (zero Python).
* :func:`union_area_by_key` — ST_Union_Aggr(envelope) analog: exact union
  AREA of a group of rects via an x-slab coordinate-compression sweep
  inside ``applyInPandas`` (one aggregate per group — the same cascaded-
  union-per-group shape as the reference's JTS union aggregate, with a
  numpy sweep instead of a geometry lib).

Scale posture: rect_overlay_area is one shuffle per side + broadcastable
small side; union_area_by_key shuffles once on the group key and each
group's state is its own rect set (the reference's union aggregate holds
the same per-group state).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sedona_spark.operators.spatial_join import envelope_pair_join


def rect_overlay_area(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    level: int = 6,
    l: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    r: tuple[str, str, str, str] = ("rxmin", "rymin", "rxmax", "rymax"),
    round_to: int | None = 6,
) -> DataFrame:
    """→ (left_key, n_pieces, overlay_area): per-left-rect count and total
    intersection area with right rects (strictly-positive pieces only)."""
    lx0, ly0, lx1, ly1 = (F.col(c) for c in l)
    rx0, ry0, rx1, ry1 = (F.col(c) for c in r)
    j = envelope_pair_join(left, right, level, l, r)
    w = F.least(lx1, rx1) - F.greatest(lx0, rx0)
    h = F.least(ly1, ry1) - F.greatest(ly0, ry0)
    j = j.withColumn("_piece", w * h).filter(F.col("_piece") > 0)
    out = j.groupBy(left_key).agg(
        F.count(F.lit(1)).alias("n_pieces"),
        F.sum("_piece").alias("overlay_area"),
    )
    if round_to is not None:
        out = out.withColumn("overlay_area", F.round("overlay_area", round_to))
    return out


def union_area_np(x0, x1, y0, y1) -> float:
    """Exact union area of axis-aligned rects — x-slab sweep + y-interval
    merge (numpy + one loop over the ≤2n slabs, not over rows)."""
    x0 = np.asarray(x0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    xs = np.unique(np.concatenate([x0, x1]))
    area = 0.0
    for xl, xr in zip(xs[:-1], xs[1:]):
        mask = (x0 <= xl) & (x1 >= xr)
        if not mask.any():
            continue
        ys0, ys1 = y0[mask], y1[mask]
        order = np.lexsort((ys1, ys0))
        ylen = 0.0
        cur0 = cur1 = None
        for a, b in zip(ys0[order], ys1[order]):
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    ylen += cur1 - cur0
                cur0, cur1 = a, b
            elif b > cur1:
                cur1 = b
        if cur1 is not None:
            ylen += cur1 - cur0
        area += ylen * (xr - xl)
    return float(area)


def union_area_by_key(
    rects: DataFrame,
    key: str,
    x0: str = "xmin",
    y0: str = "ymin",
    x1: str = "xmax",
    y1: str = "ymax",
    round_to: int | None = 6,
) -> DataFrame:
    """ST_Union_Aggr analog over rect envelopes: → (key, n_rects,
    union_area). One shuffle on ``key``; per-group numpy sweep."""
    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        a = union_area_np(
            pdf[x0].to_numpy(), pdf[x1].to_numpy(),
            pdf[y0].to_numpy(), pdf[y1].to_numpy(),
        )
        return pd.DataFrame(
            {key: [pdf[key].iloc[0]], "n_rects": [len(pdf)], "union_area": [a]}
        )

    key_type = rects.schema[key].dataType.simpleString()
    out = rects.groupBy(key).applyInPandas(
        agg, schema=f"`{key}` {key_type}, n_rects long, union_area double"
    )
    if round_to is not None:
        # round in Column space: Spark HALF_UP == DuckDB round semantics
        # (Python/numpy banker's rounding would diverge at .5 boundaries)
        out = out.withColumn("union_area", F.round("union_area", round_to))
    return out


def intersection_aggr_rect(
    df: DataFrame,
    key: str,
    x0: str = "x0", y0: str = "y0", x1: str = "x1", y1: str = "y1",
) -> DataFrame:
    """ST_Intersection_Aggr for axis-aligned rectangles: the group-wide
    intersection is (max x0, max y0, min x1, min y1) — a PURE Spark
    aggregate (partial map-side combine, one shuffle on the key; the
    reference folds JTS intersections sequentially inside its Aggregator
    — not parallelizable the same way). Empty intersections surface as
    NULL bounds via the width/height guard."""
    g = df.groupBy(key).agg(
        F.max(x0).alias("ix0"), F.max(y0).alias("iy0"),
        F.min(x1).alias("ix1"), F.min(y1).alias("iy1"),
        F.count("*").alias("n_members"),
    )
    empty = (F.col("ix1") <= F.col("ix0")) | (F.col("iy1") <= F.col("iy0"))
    area = F.when(
        empty, F.lit(0.0)
    ).otherwise((F.col("ix1") - F.col("ix0")) * (F.col("iy1") - F.col("iy0")))
    return g.select(
        key, "n_members",
        F.when(empty, None).otherwise(F.col("ix0")).alias("ix0"),
        F.when(empty, None).otherwise(F.col("iy0")).alias("iy0"),
        F.when(empty, None).otherwise(F.col("ix1")).alias("ix1"),
        F.when(empty, None).otherwise(F.col("iy1")).alias("iy1"),
        area.alias("inter_area"),
    )


def intersection_aggr_rings(
    df: DataFrame, key: str, ring_col: str = "ring"
) -> DataFrame:
    """ST_Intersection_Aggr for general convex rings: per-group pandas
    fold over the exact pairwise intersection kernel
    (kernels.convex_polygon_intersection analog used by
    st_intersection_geom) — grouped applyInPandas, so each group is one
    task and the shuffle is on the group key only."""
    import numpy as np
    import pandas as pd

    from sedona_spark.geometry import kernels

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        cur = np.asarray(pdf[ring_col].iloc[0], dtype=np.float64)
        for r in pdf[ring_col].iloc[1:]:
            if len(cur) < 6:
                break
            cur = kernels.clip_convex(
                cur.reshape(-1, 2),
                np.asarray(r, dtype=np.float64).reshape(-1, 2),
            ).ravel()
        area = 0.0
        if len(cur) >= 6:
            p = cur.reshape(-1, 2)
            q = np.roll(p, -1, axis=0)
            area = float(
                abs((p[:, 0] * q[:, 1] - q[:, 0] * p[:, 1]).sum()) / 2
            )
        return pd.DataFrame({
            "key": [pdf["_k"].iloc[0]],
            "n_members": [len(pdf)],
            "inter_area": [area],
        })

    return (
        df.select(F.col(key).alias("_k"), ring_col)
        .groupBy("_k")
        .applyInPandas(agg, "key long, n_members long, inter_area double")
        .withColumnRenamed("key", key)
    )
