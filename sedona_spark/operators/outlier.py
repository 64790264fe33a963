"""Local Outlier Factor (LOF).

Reference: ``spark/common/src/main/scala/org/apache/sedona/stats/
outlierDetection/LocalOutlierFactor.scala`` — the classic composition over a
kNN self-join: k-distance → reachability distance → local reachability
density → LOF ratio, with sklearn-parity details: self excluded BEFORE
ranking, and ``lrd = 1 / (mean(reach) + 1e-10)`` so coincident points yield
LOF = 1 instead of NULL.

Determinism: every float aggregation is a left fold over a SORTED collected
list (``F.aggregate(F.sort_array(F.collect_list(..)))``) — bit-identical to
any engine that folds the same sorted values (the DuckDB oracle uses
``list_reduce(list(.. order by ..))``). Group size is k, so collect_list
state is O(k), same as the bounded heap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sedona_spark.operators.knn import knn_join


def _fold_sum(col: Column) -> Column:
    """Order-independent float sum: left fold over the sorted value list."""
    return F.aggregate(
        F.sort_array(F.collect_list(col)), F.lit(0.0), lambda a, v: a + v
    )


def local_outlier_factor(
    points: DataFrame,
    k: int,
    id_col: str = "point_id",
    x: str = "x",
    y: str = "y",
    level: int = 7,
) -> DataFrame:
    """→ (id_col, lof). LOF ≈ 1 for inliers, ≫ 1 for outliers."""
    qs = points.select(
        F.col(id_col).alias("_qid"), F.col(x).alias("_qx"), F.col(y).alias("_qy")
    )
    objs = points.select(
        F.col(id_col).alias("_oid"), F.col(x).alias("_ox"), F.col(y).alias("_oy")
    )
    knn = (
        knn_join(qs, objs, k=k, level=level,
                 query_id="_qid", qx="_qx", qy="_qy", obj_x="_ox", obj_y="_oy",
                 exclude_pair=("_qid", "_oid"))
        .select("_qid", "_oid", F.sqrt(F.col("dist_sq")).alias("_d"))
    )

    kdist = knn.groupBy("_qid").agg(F.max("_d").alias("_kdist"))

    reach = (
        knn.join(kdist.withColumnsRenamed({"_qid": "_oid", "_kdist": "_okd"}), "_oid")
        .withColumn("_reach", F.greatest(F.col("_d"), F.col("_okd")))
    )
    # lrd = 1 / (mean(reach) + 1e-10): the +1e-10 keeps coincident-point
    # groups (all reach = 0) finite (LocalOutlierFactor.scala / sklearn)
    lrd = reach.groupBy("_qid").agg(
        (
            F.lit(1.0)
            / (_fold_sum(F.col("_reach")) / F.count(F.lit(1)) + F.lit(1e-10))
        ).alias("_lrd")
    )
    lof = (
        knn.join(lrd.withColumnsRenamed({"_qid": "_oid", "_lrd": "_olrd"}), "_oid")
        .join(lrd, "_qid")
        .groupBy("_qid")
        .agg(
            (_fold_sum(F.col("_olrd")) / F.count(F.lit(1)) / F.first("_lrd")).alias(
                "lof"
            )
        )
    )
    # knn feeds k-distance, reachability and the LOF ratio: cache it for
    # the one action that materializes the result, then release it
    knn.persist()
    try:
        return lof.withColumnRenamed("_qid", id_col).localCheckpoint(eager=True)
    finally:
        knn.unpersist()
