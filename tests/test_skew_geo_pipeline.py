"""Salted skew join, geodesic distance join, checkpointed pipeline job."""

import math
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from sedona_spark import checkpoint
from sedona_spark.operators.distance_geo import distance_join_meters
from sedona_spark.operators.spatial_join import pip_join_rect
from sedona_spark.pipeline_job import run_image_pipeline
from sedona_spark.sources.images import synthesize_images


def test_salted_join_same_result(spark):
    """All points crammed into one hot cell: salted two-stage join must
    return the identical pair set (skew correctness invariant)."""
    rng = np.random.default_rng(13)
    xy = rng.uniform(10.0, 10.5, size=(2000, 2))  # one dense cell at level 6
    pdf = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(xy)],
        "point_id int, x double, y double",
    )
    rects = spark.createDataFrame(
        [(0, 10.1, 10.1, 10.4, 10.4), (1, 0.0, 0.0, 50.0, 50.0)],
        "zone_id int, xmin double, ymin double, xmax double, ymax double",
    )
    plain = {
        (r.point_id, r.zone_id)
        for r in pip_join_rect(pdf, rects, level=6).select("point_id", "zone_id").collect()
    }
    salted = {
        (r.point_id, r.zone_id)
        for r in pip_join_rect(pdf, rects, level=6, salt=8)
        .select("point_id", "zone_id")
        .collect()
    }
    assert salted == plain and len(plain) > 2000


def _haversine(lon1, lat1, lon2, lat2):
    r = 6371008.8
    p = math.pi / 180
    a = (
        math.sin((lat2 - lat1) * p / 2) ** 2
        + math.cos(lat1 * p) * math.cos(lat2 * p) * math.sin((lon2 - lon1) * p / 2) ** 2
    )
    return 2 * r * math.asin(math.sqrt(a))


def test_distance_join_meters_vs_bruteforce(spark):
    rng = np.random.default_rng(17)
    # include high latitudes to exercise the per-row lon expansion
    pts = np.column_stack([rng.uniform(-10, 10, 300), rng.uniform(50, 70, 300)])
    ctr = np.column_stack([rng.uniform(-10, 10, 20), rng.uniform(50, 70, 20)])
    pdf = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)],
        "pid int, lon double, lat double",
    )
    cdf = spark.createDataFrame(
        [(j, float(a), float(b)) for j, (a, b) in enumerate(ctr)],
        "cid int, blon double, blat double",
    )
    r_m = 150_000.0
    expected = {
        (i, j)
        for i in range(len(pts))
        for j in range(len(ctr))
        if _haversine(pts[i][0], pts[i][1], ctr[j][0], ctr[j][1]) <= r_m
    }
    got = {
        (r.pid, r.cid)
        for r in distance_join_meters(pdf, cdf, r_m, level=7)
        .select("pid", "cid")
        .collect()
    }
    assert got == expected and len(expected) > 50


def test_pipeline_job_and_resume(spark, tmp_path):
    img_path = str(tmp_path / "imgs")
    synthesize_images(spark, 40, partitions=4).write.parquet(img_path)
    zones = spark.createDataFrame(
        [(0, 0.0, 0.0, 100.0, 100.0), (1, 20.0, 20.0, 60.0, 60.0)],
        "zone_id int, xmin double, ymin double, xmax double, ymax double",
    )
    root = str(tmp_path / "snap")
    m = run_image_pipeline(spark, img_path, zones, root, tile=16, level=6,
                           n_buckets=8)
    assert set(m) == {"tiles", "assign", "zonal"}
    zonal1 = {
        r.zone_id: (r.n_tiles, r.n_images, r.total_bytes)
        for r in checkpoint.read_stage(spark, root, "zonal").collect()
    }
    assert zonal1[0][0] > 0  # the whole-domain zone catches every tile

    # crash-simulate mid-run: stage "assign" lost its commit marker and two
    # buckets; downstream "zonal" never ran (remove it entirely)
    base = os.path.join(root, "assign")
    os.remove(os.path.join(base, checkpoint._MARKER))
    victims = [
        d for d in os.listdir(os.path.join(base, "data"))
        if d.startswith("part_bucket=")
    ][:2]
    for v in victims:
        shutil.rmtree(os.path.join(base, "data", v))
    shutil.rmtree(os.path.join(root, "zonal"))

    m2 = run_image_pipeline(spark, img_path, zones, root, tile=16, level=6,
                            n_buckets=8)
    assert m2["assign"].get("resumed_buckets")  # replayed only missing
    zonal2 = {
        r.zone_id: (r.n_tiles, r.n_images, r.total_bytes)
        for r in checkpoint.read_stage(spark, root, "zonal").collect()
    }
    assert zonal2 == zonal1  # byte-identical logical output


def test_pipeline_publish_to_icetable(spark, tmp_path):
    """The stage layer hands off to the table layer: zonal results land
    as one snapshot; re-publishing identical committed data is a no-op;
    new data appends a second, incrementally-consumable snapshot."""
    from sedona_spark import icetable
    from sedona_spark.pipeline_job import publish_stage_to_icetable

    img_path = str(tmp_path / "imgs")
    synthesize_images(spark, 30, partitions=4).write.parquet(img_path)
    zones = spark.createDataFrame(
        [(0, 0.0, 0.0, 100.0, 100.0)],
        "zone_id int, xmin double, ymin double, xmax double, ymax double")
    root = str(tmp_path / "snap")
    tbl = str(tmp_path / "tbl")

    m = run_image_pipeline(spark, img_path, zones, root, tile=16, level=6,
                           n_buckets=8, publish_table=tbl)
    assert m["publish"]["already_published"] is False
    assert len(icetable.snapshots(tbl)) == 1
    want = {(r.zone_id, r.n_tiles) for r in
            checkpoint.read_stage(spark, root, "zonal").collect()}
    got = {(r.zone_id, r.n_tiles) for r in
           icetable.scan(spark, tbl).collect()}
    assert got == want

    # identical rerun: stages skip, publish recognizes the run key
    m2 = run_image_pipeline(spark, img_path, zones, root, tile=16, level=6,
                            n_buckets=8, publish_table=tbl)
    assert m2["publish"]["already_published"] is True
    assert len(icetable.snapshots(tbl)) == 1

    # a different committed run appends
    root2 = str(tmp_path / "snap2")
    img2 = str(tmp_path / "imgs2")
    synthesize_images(spark, 10, partitions=2).write.parquet(img2)
    run_image_pipeline(spark, img2, zones, root2, tile=16, level=6,
                       n_buckets=8)
    p = publish_stage_to_icetable(spark, root2, "zonal", tbl)
    assert p["already_published"] is False
    assert len(icetable.snapshots(tbl)) == 2


def test_pipeline_job_budget(spark, tmp_path, count_jobs):
    """Spark jobs one published pipeline run takes on the fixture above.
    Each of the three stages writes in one job that also counts its buckets
    (an Observation); the other jobs are the stages' own shuffles and the
    publish. Stage commits read parquet footers and read-back uses the
    manifest's schema, so neither runs a job. The count was 31 while every
    commit re-read its stage (schema inference plus a grouped count),
    read-back inferred the schema, and table file stats took a shuffle, and
    18 while each stage cached its input for a grouped pre-count."""
    img_path = str(tmp_path / "imgs")
    synthesize_images(spark, 40, partitions=4).write.parquet(img_path)
    zones = spark.createDataFrame(
        [(0, 0.0, 0.0, 100.0, 100.0), (1, 20.0, 20.0, 60.0, 60.0)],
        "zone_id int, xmin double, ymin double, xmax double, ymax double",
    )
    m, jobs = count_jobs(lambda: run_image_pipeline(
        spark, img_path, zones, str(tmp_path / "snap"), tile=16, level=6,
        n_buckets=8, publish_table=str(tmp_path / "tbl")))
    assert m["publish"]["already_published"] is False
    assert jobs == 9
