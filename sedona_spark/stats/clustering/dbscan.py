"""Reference-parity DBSCAN spelling (``stats/clustering/DBSCAN.scala``,
python wrapper ``python/sedona/spark/stats/clustering/dbscan.py:31``).
Delegates to ``operators/dbscan.py`` (cell-grid ε-join + the shared
``pipeline.dedup.connected_components`` loop)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sedona_spark.operators.dbscan import dbscan as _dbscan


def dbscan(
    dataframe: DataFrame,
    epsilon: float,
    min_pts: int,
    geometry=None,
    include_outliers: bool = True,
    use_spheroid: bool = False,
    is_core_column_name: str = "isCore",
    cluster_column_name: str = "cluster",
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Reference keyword surface; outliers carry cluster -1 (kept when
    ``include_outliers``, dropped otherwise, as in DBSCAN.scala)."""
    if use_spheroid:
        raise NotImplementedError(
            "use_spheroid: planar ε only — pre-project with "
            "functions/crs before clustering")
    if geometry is not None:
        raise NotImplementedError(
            "geometry-column sniffing: pass x=/y=/id_col= column names")
    out = _dbscan(dataframe, eps=epsilon, min_pts=min_pts,
                  id_col=id_col, x=x, y=y)
    if not include_outliers:
        out = out.filter(F.col("cluster") != -1)
    if cluster_column_name != "cluster":
        out = out.withColumnRenamed("cluster", cluster_column_name)
    # the operator spells the core flag is_core; the reference default
    # (DBSCAN.scala output schema) is isCore — rename unconditionally
    if "is_core" in out.columns and is_core_column_name != "is_core":
        out = out.withColumnRenamed("is_core", is_core_column_name)
    return out
