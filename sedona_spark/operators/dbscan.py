"""DBSCAN clustering over point tables.

Reference: ``spark/common/src/main/scala/org/apache/sedona/stats/clustering/
DBSCAN.scala:60-68`` — eps-distance self-join to find neighbor counts, core
points = count ≥ minPts, clusters = connected components of the core-core
eps-graph (the reference delegates CC to graphframes; we call the engine's
one components loop, ``pipeline.dedup.connected_components``).

Border points attach to any core neighbor's cluster; noise gets cluster -1.

Scale: the self-join is the engine's cell distance join (one shuffle on
int64 cells); the components loop converges in O(log diameter) rounds for
every id type (numeric ids as longs, any other type as its xxhash64), each
round a few equi-joins and one aggregate, lineage truncated per round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from sedona_spark.operators.distance_join import distance_join


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "point_id",
    x: str = "x",
    y: str = "y",
    level: int = 8,
    max_rounds: int = 50,
) -> DataFrame:
    """→ points + ``cluster`` (int64; -1 = noise).

    ``min_pts`` counts the point itself (like the reference, whose self-join
    includes the self-pair). ``max_rounds`` bounds the components loop,
    which raises ``RuntimeError`` when it does not converge."""
    # imported here: importing the operators package loads no pipeline code
    from sedona_spark.pipeline.dedup import connected_components

    a = points.select(
        F.col(id_col).alias("_ida"), F.col(x).alias("_xa"), F.col(y).alias("_ya")
    )
    b = points.select(
        F.col(id_col).alias("_idb"), F.col(x).alias("_xb"), F.col(y).alias("_yb")
    )
    pairs = distance_join(
        a, b, eps, level=level, probe_x="_xa", probe_y="_ya",
        build_x="_xb", build_y="_yb",
    ).select("_ida", "_idb")  # includes the self-pair
    # the eps-graph feeds degree counting, the components and border
    # attachment — without a persist the cell join re-executes for each
    pairs = pairs.persist()
    deg = pairs.groupBy("_ida").agg(F.count(F.lit(1)).alias("_deg"))
    core = deg.filter(F.col("_deg") >= min_pts).select(F.col("_ida").alias("_id"))
    core = core.persist()

    # Cluster label = min node id of the component. Numeric ids are their
    # own node ids (keeps cluster == min member id, oracle-friendly);
    # arbitrary ids (the reference accepts any type via sha2) get an int64
    # xxhash64 surrogate — a NULL-producing cast would silently merge them.
    numeric = isinstance(points.schema[id_col].dataType, NumericType)

    def node(c: str) -> Column:
        return F.col(c).cast("long") if numeric else F.xxhash64(F.col(c))

    try:
        # core-core edges, self-pairs included so an isolated core point
        # still gets a component
        cc = (
            pairs.join(core.withColumnRenamed("_id", "_ida"), "_ida")
            .join(core.withColumnRenamed("_id", "_idb"), "_idb")
            .select(node("_ida").alias("id_a"), node("_idb").alias("id_b"))
        )
        comp = connected_components(cc, max_iter=max_rounds)
        labels = (
            core.select("_id", node("_id").alias("id"))
            .join(comp, "id")
            .select("_id", F.col("component").alias("_lbl"))
        )

        # border points: non-core with a core neighbor → that core's cluster
        border = (
            pairs.join(core.withColumnRenamed("_id", "_idb"), "_idb")
            .join(core.withColumnRenamed("_id", "_ida"), "_ida", "left_anti")
            .join(labels.withColumnsRenamed({"_id": "_idb", "_lbl": "_blbl"}), "_idb")
            .groupBy("_ida")
            .agg(F.min("_blbl").alias("_lbl"))
            .withColumnRenamed("_ida", "_id")
        )
        assign = labels.unionByName(border)
        out = (
            points.join(
                assign.withColumnsRenamed({"_id": id_col, "_lbl": "cluster"}),
                id_col, "left",
            )
            .withColumn("cluster", F.coalesce(F.col("cluster"), F.lit(-1)))
            # isCore half of the reference's ST_DBSCAN struct (DBSCAN.scala
            # output schema is (isCore, cluster)); core = eps-degree >= minPts
            .join(
                core.select(F.col("_id").alias(id_col),
                            F.lit(True).alias("is_core")),
                id_col, "left",
            )
            .withColumn("is_core", F.coalesce(F.col("is_core"), F.lit(False)))
        )
        return out.localCheckpoint(eager=True)  # cut lineage before releasing caches
    finally:
        core.unpersist()
        pairs.unpersist()
