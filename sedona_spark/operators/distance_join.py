"""Distance join: pairs within planar distance r.

Reference semantics (``strategy/join/DistanceJoinExec.scala:30-42``): rewrite
``ST_Distance(a,b) <= r`` as envelope-expand + INTERSECTS range join + exact
distance refine (the RDD path wraps one side in CircleRDD,
``JoinQuery.java:433-533``). Our cell-grid analog: expand one side's cell to
the Chebyshev disk of cells that can contain anything within r
(``cells.disk_radii_for_distance``), equi-join on cell, refine with the
built-in squared-distance comparison — the whole pipeline is JVM-side, zero
Python.

Duplicate-freedom: the probe side explodes to distinct disk cells, the build
side keeps its single home cell → each (probe, build) pair meets in exactly
one cell. No dedup pass needed (contrast the polygon path).

Scale: one shuffle each side on int64 cells; disk fan-out is
(2kx+1)(2ky+1) so pick ``level`` such that r spans ~1 cell; AQE skew-join
splits hot cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sedona_spark import cells
from sedona_spark.functions import st


def distance_join(
    probe: DataFrame,
    build: DataFrame,
    r: float,
    level: int = 7,
    probe_x: str = "x",
    probe_y: str = "y",
    build_x: str = "bx",
    build_y: str = "by",
    inclusive: bool = True,
) -> DataFrame:
    """All (probe, build) pairs with planar distance <= r (or < r).

    Column names of the two inputs must be disjoint; all pass through.
    """
    kx, ky = cells.disk_radii_for_distance(r, level)
    home = cells.cell_id(F.col(probe_x), F.col(probe_y), level)
    xs, ys = cells.grid_disk_cells(home, level, kx, ky)
    pc = cells.explode_cells(probe, xs, ys, level)
    bc = build.withColumn("cell", cells.cell_id(F.col(build_x), F.col(build_y), level))
    j = pc.join(bc, "cell").drop("cell")
    d2 = st.st_distance_sq(
        F.col(probe_x), F.col(probe_y), F.col(build_x), F.col(build_y)
    )
    r2 = float(r) * float(r)
    return j.filter(d2 <= F.lit(r2) if inclusive else d2 < F.lit(r2))
