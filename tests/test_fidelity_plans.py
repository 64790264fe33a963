"""Per-row fidelity gate (BASELINE.json input_hint) and physical-plan
shape assertions (the 100 TB posture is only real if the plans show it)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sedona_spark import checkpoint
from sedona_spark.operators import pip_join_rect, range_query
from sedona_spark.operators.tile import tile_assign
from sedona_spark.sources.images import decode_image, psnr, synthesize_images
from sedona_spark.sources.testdata import points_from_events, rect_zones_from_nation

SF = "/root/testdata/sf0.001"


def test_image_fidelity_across_checkpoint(spark, tmp_path):
    """Canonical bytes survive checkpoint/read-back byte-identically;
    decoded pixels meet the PSNR ≥ 40 dB gate vs the generator's pixels;
    captions compare exactly (input_hint per-row invariant)."""
    imgs = synthesize_images(spark, 30)
    root = str(tmp_path / "snap")
    checkpoint.checkpoint_stage(imgs, root, "images", bucket_col="phash", n_buckets=4)
    back = checkpoint.read_stage(spark, root, "images")

    orig = {r.image_id: r for r in imgs.collect()}
    rows = back.collect()
    assert len(rows) == 30
    from sedona_spark.sources.images import make_pixels

    for r in rows:
        o = orig[r.image_id]
        assert bytes(r.bytes) == bytes(o.bytes)  # bytes canonical
        assert r.caption == o.caption  # exact caption equality
        dec, fmt = decode_image(bytes(r.bytes))
        i = int(r.image_id.split("_")[1])
        src = make_pixels(i, r.w, r.h)
        if fmt == "fpng":
            assert (dec == src).all()
        else:
            assert psnr(src, dec) >= 40.0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_plan_broadcasts_zones(spark):
    pts = points_from_events(spark, SF)
    zones = rect_zones_from_nation(spark, SF).drop("ring")
    plan = _plan(pip_join_rect(pts, zones, level=6))
    # small zone side must broadcast: the fact table never shuffles
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_query_pushes_filters_to_scan(spark):
    pts = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        F.col("value").alias("x"),
        (F.col("value") + 1).alias("y"),
    )
    # a filter on raw parquet columns must reach the scan
    got = spark.read.parquet(f"{SF}/events.parquet").filter(
        (F.col("value") >= 0.2) & (F.col("value") <= 0.4)
    )
    plan = _plan(got)
    assert "PushedFilters" in plan and "GreaterThanOrEqual(value" in plan


def test_tile_assign_plan_is_pure_codegen(spark):
    imgs = synthesize_images(spark, 10).select("image_id", "w", "h", "lon", "lat")
    plan = _plan(tile_assign(imgs, 16, 16, level=10))
    # metadata tiling must not touch Python (no ArrowEval/BatchEval nodes)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate" in plan  # the tile-grid explode


def test_knn_plan_no_cartesian(spark):
    from sedona_spark.operators import knn_join

    rng = np.random.default_rng(3)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in
         enumerate(rng.uniform(0, 50, size=(200, 2)))],
        "oid int, ox double, oy double",
    )
    qs = spark.createDataFrame(
        [(j, float(a), float(b)) for j, (a, b) in
         enumerate(rng.uniform(0, 50, size=(5, 2)))],
        "qid int, qx double, qy double",
    )
    res = knn_join(qs, pts, k=3, level=6, query_id="qid", qx="qx", qy="qy")
    assert res.count() == 15
    # the executed shape is cell equi-joins; a cartesian product would mean
    # the candidate pruning failed entirely
    assert "CartesianProduct" not in _plan(res)


def test_multi_ring_join_plan_broadcasts_zones(spark):
    from sedona_spark.operators.spatial_join import pip_join_multi
    from sedona_spark.sources.testdata import holed_zones_from_nation

    pts = points_from_events(spark, SF)
    zones = holed_zones_from_nation(spark, SF)
    # the small zone side is broadcast as an index: the points stream
    # through one Arrow pass (lookup + even-odd refine), never shuffled
    plan = _plan(pip_join_multi(pts, zones, level=6))
    assert "MapInArrow" in plan
    assert "Exchange" not in plan and "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan
    # with broadcasting off, the cell plan keeps exactly ONE Arrow refine
    # stage (the even-odd kernel)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = _plan(pip_join_multi(pts, zones, level=6))
    finally:
        spark.conf.set(key, old)
    assert plan.count("ArrowEvalPython") == 1


def test_knn_broadcast_plan_no_object_shuffle(spark):
    """The broadcast-query-side kNN must not shuffle the object side: the
    only Exchange is the per-query top-k over the tiny candidate set."""
    from sedona_spark.operators.knn import knn_join_broadcast

    pts = points_from_events(spark, SF).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = rect_zones_from_nation(spark, SF).select(
        "n_nationkey", F.col("xmin").alias("qx"), F.col("ymin").alias("qy")
    ).limit(5)
    res = knn_join_broadcast(qs, pts, k=3, query_id="n_nationkey",
                             qx="qx", qy="qy")
    plan = _plan(res)
    # one exchange total (rank over candidates); the scan side feeds
    # mapInPandas directly
    assert plan.count("Exchange") <= 2  # hashpartitioning for the window
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_distance_join_meters_small_side_probes(spark):
    """After the probe/build swap the BIG point side must not explode or
    shuffle: its scan feeds the broadcast join directly."""
    from sedona_spark.operators.distance_geo import distance_join_meters
    from sedona_spark.sources.testdata import zones_from_nation

    pts = points_from_events(spark, SF).withColumnsRenamed(
        {"x": "lon", "y": "lat"}
    )
    z = zones_from_nation(spark, SF).select(
        "n_nationkey", F.col("zcx").alias("blon"), F.col("zcy").alias("blat")
    )
    out = distance_join_meters(z, pts, r_m=300000.0, level=7,
                               probe_lon="blon", probe_lat="blat",
                               build_lon="lon", build_lat="lat")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_bucketed_cell_join_no_shuffle(spark, tmp_path):
    """Bucketing both sides by cell (bucketBy + saveAsTable) co-locates the
    join: the plan must contain NO shuffle exchange on either side — the
    pre-partitioning story for repeated joins at 100 TB."""
    import uuid

    from sedona_spark import cells
    from sedona_spark.operators.spatial_join import _explode_cover

    pts = points_from_events(spark, SF).withColumn(
        "cell", cells.cell_id(F.col("x"), F.col("y"), 6)
    )
    zc = _explode_cover(rect_zones_from_nation(spark, SF).drop("ring"), 6)
    suffix = uuid.uuid4().hex[:8]
    tp, tz = f"pts_b_{suffix}", f"zones_b_{suffix}"
    pts.write.bucketBy(8, "cell").sortBy("cell").saveAsTable(tp)
    zc.write.bucketBy(8, "cell").sortBy("cell").saveAsTable(tz)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast so the join exercises the bucketed
        # sort-merge path (broadcast is the right plan for THIS tiny side;
        # bucketing is the story when both sides are huge)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table(tp)
        b = spark.table(tz)
        j = a.join(b, "cell").filter(
            (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax"))
        )
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert "SortMergeJoin" in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"drop table if exists {tp}")
        spark.sql(f"drop table if exists {tz}")


def test_phash_dedup_plan_single_band_shuffle(spark):
    """hamming_near_dup_pairs: one shuffle per side on (band, value) —
    no cartesian, no python eval in the plan (pure Column banding +
    bit_count verify)."""
    from sedona_spark.pipeline.dedup import hamming_near_dup_pairs

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2654435761).alias("h64")
    )
    plan = _plan(hamming_near_dup_pairs(df, "h64", "id", max_hamming=7))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_spherical_pip_query_plan(spark):
    """spherical_pip: zones broadcast, the wrap-aware meridian + lat-band
    prefilter sits BEFORE the winding UDF (the UDF must not see the raw
    cross product)."""
    import __spark_entry__ as e

    plan = _plan(e.q_spherical_pip(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the wrap-aware meridian prefilter (pmod) runs JVM-side — Catalyst
    # folds it into the join condition, so no python sees raw pairs
    pmod_lines = [ln for ln in plan.splitlines() if "pmod" in ln]
    assert pmod_lines and all(
        "EvalPython" not in ln for ln in pmod_lines
    ), plan
    # exactly one python eval (the winding kernel), above the join
    assert plan.count("ArrowEvalPython") == 1


def test_stream_stream_join_plan_is_watermarked(spark):
    """stream_stream_distance_join analysis plan: watermarks on both
    sides, a stream-stream inner join with the cell equality key, and the
    dwithin refine — expressible (Spark accepts it in append mode)."""
    from sedona_spark.streaming.cellify import stream_stream_distance_join

    left = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        .select(F.col("timestamp").alias("ts"), F.col("value").alias("lid"),
                (F.col("value") % 100).cast("double").alias("lon"),
                (F.col("value") % 50).cast("double").alias("lat"))
    )
    right = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        .select(F.col("timestamp").alias("ts"), F.col("value").alias("rid"),
                (F.col("value") % 100).cast("double").alias("lon"),
                (F.col("value") % 50).cast("double").alias("lat"))
    )
    out = stream_stream_distance_join(left, right, 1.0, level=5)
    lp = out._jdf.queryExecution().analyzed().toString()
    assert lp.count("EventTimeWatermark") == 2
    assert "Join Inner" in lp


def test_distance_band_weighting_plan_no_cartesian(spark):
    """The reference builds distance bands with a theta self-join (a
    cross product at plan level); the engine's weighting op must go
    through the cell equi-join — assert the physical plan has a
    shuffle/broadcast HASH join and NO cartesian/nested-loop node."""
    from pyspark.sql import functions as F2

    from sedona_spark.operators.weighting import (
        add_binary_distance_band_column,
    )

    pts = spark.range(100).select(
        F2.col("id"),
        (F2.col("id") % 10).cast("double").alias("x"),
        (F2.col("id") / 10).cast("double").alias("y"),
    )
    plan = (
        add_binary_distance_band_column(pts, 2.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_channel_fold_plans_shuffle_partials_not_bytes(spark):
    """channel_stats / channel_histogram: ONE exchange, and it carries
    the fixed-width partial schema (channel/n/...), never the image
    bytes — the map-side-combine contract of the 100 TB reduction."""
    from sedona_spark.pipeline.images import channel_histogram, channel_stats
    from sedona_spark.sources.images import synthesize_images

    imgs = synthesize_images(spark, 8)
    for op in (channel_stats, channel_histogram):
        plan = _plan(op(imgs))
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # map-side combine below the exchange; the python fold is the
        # exchange's CHILD (printed after it), so bytes never shuffle
        assert "partial_sum" in plan, plan
        assert plan.index("Exchange hashpartitioning") < \
            plan.index("MapInPandas"), plan


def test_aspect_buckets_single_shuffle(spark):
    """aspect_buckets: the window's hashpartitioning(bucket_id) also
    satisfies the groupBy's clustered distribution on (bucket_id,
    batch_id) — exactly one exchange end to end."""
    from sedona_spark.pipeline.images import aspect_buckets
    from sedona_spark.sources.images import synthesize_images

    plan = _plan(aspect_buckets(synthesize_images(spark, 16)))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pack_sequences_one_global_sort(spark):
    """pack_sequences: one single-partition exchange + sort (the total
    order any deterministic packer needs), nothing else."""
    from sedona_spark.pipeline.shards import pack_sequences

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 90 + 1).alias("n_tokens"))
    plan = _plan(pack_sequences(docs, budget=128))
    assert plan.count("Exchange") == 1 and "SinglePartition" in plan, plan
    assert "CartesianProduct" not in plan
