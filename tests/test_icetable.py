"""Iceberg-lite table format: snapshots, time travel, incremental scan,
manifest-stats pruning, commit races, expire."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sedona_spark import icetable as it


def _batch(spark, lo, hi):
    """Deterministic rows [lo, hi): id, cell in 0..3, a value column."""
    return (spark.range(lo, hi)
            .select(F.col("id"),
                    (F.col("id") % 4).alias("cell"),
                    (F.col("id") * 7 % 100).alias("v")))


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    s1 = it.commit_append(_batch(spark, 0, 40), path, partition_by="cell")
    s2 = it.commit_append(_batch(spark, 40, 100), path)
    assert (s1, s2) == (1, 2)
    return path


def test_scan_latest_and_time_travel(spark, table):
    cur = it.scan(spark, table)
    assert cur.count() == 100
    assert {r["id"] for r in cur.collect()} == set(range(100))

    old = it.scan(spark, table, snapshot_id=1)
    assert {r["id"] for r in old.collect()} == set(range(40))

    # as-of timestamp between the two commits resolves to snapshot 1
    snaps = it.snapshots(table)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["summary"]["total_rows"] == 100
    ts = snaps[0]["timestamp_ms"]
    assert it.scan(spark, table, as_of_ms=ts).count() == 40


def test_stats_pruning_is_real_and_safe(spark, table):
    all_files = it.plan_files(table)
    assert sum(f["rows"] for f in all_files) == 100
    assert all(f["bytes"] > 0 for f in all_files)

    # cell=2 touches only the cell=2 partition of snapshot 1 plus the
    # unpartitioned files of snapshot 2 whose min/max straddle 2
    s1_paths = {f["path"] for f in it.added_files(table, 1)}
    pruned = it.plan_files(table, filters=[("cell", "=", 2)])
    assert len(pruned) < len(all_files)
    s1_files = [f for f in pruned if f["path"] in s1_paths]
    assert s1_files and all(
        f["partition"]["cell"] == "2" for f in s1_files)

    got = sorted(r["id"] for r in
                 it.scan(spark, table, filters=[("cell", "=", 2)]).collect())
    assert got == [i for i in range(100) if i % 4 == 2]

    # range predicate on id prunes via column min/max
    lo = it.plan_files(table, filters=[("id", "<", 5)])
    assert lo and all(f["path"] in s1_paths for f in lo)
    assert (it.scan(spark, table, filters=[("id", "<", 5)]).count() == 5)


def test_incremental_scan_is_the_delta(spark, table):
    inc = it.incremental_scan(spark, table, from_snapshot_id=1)
    assert {r["id"] for r in inc.collect()} == set(range(40, 100))
    none = it.incremental_scan(spark, table, 2)
    assert none.count() == 0 and none.columns == ["id", "cell", "v"]


def test_overwrite_then_expire(spark, table):
    s3 = it.commit_overwrite(_batch(spark, 1000, 1010), table)
    assert s3 == 3
    assert it.scan(spark, table).count() == 10
    # history still readable before expire
    assert it.scan(spark, table, snapshot_id=2).count() == 100

    # a FRESH unreferenced file (crashed OR still-in-flight commit)
    # survives the default grace window — deleting it would corrupt a
    # concurrent committer that wrote data but hasn't won the race yet
    orphan = os.path.join(table, "data", "w-orphan")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "x.parquet"), "wb") as f:
        f.write(b"torn")
    res0 = it.expire_snapshots(table, keep_last=3)  # drops nothing
    assert res0["files_removed"] == 0
    assert os.path.exists(os.path.join(orphan, "x.parquet"))

    res = it.expire_snapshots(table, keep_last=1, orphan_grace_sec=0)
    assert res["snapshots_removed"] == 2 and res["files_removed"] > 0
    assert not os.path.exists(orphan)
    assert [s["snapshot_id"] for s in it.snapshots(table)] == [3]
    assert it.scan(spark, table).count() == 10
    with pytest.raises(KeyError):
        it.scan(spark, table, snapshot_id=2)


def test_commit_race_retries_to_next_version(spark, tmp_path):
    path = str(tmp_path / "race")
    it.commit_append(_batch(spark, 0, 10), path)
    # a concurrent committer already wrote v2: our commit must land at v3
    meta_dir = os.path.join(path, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as f:
        stolen = json.load(f)
    with open(os.path.join(meta_dir, "v2.metadata.json"), "w") as f:
        json.dump(stolen, f)
    sid = it.commit_append(_batch(spark, 10, 20), path)
    assert sid == 2
    assert os.path.exists(os.path.join(meta_dir, "v3.metadata.json"))
    assert it.scan(spark, path).count() == 20


def test_version_hint_recovery(spark, tmp_path):
    path = str(tmp_path / "hint")
    it.commit_append(_batch(spark, 0, 10), path)
    os.remove(os.path.join(path, "metadata", "version-hint.text"))
    assert it.scan(spark, path).count() == 10  # listing fallback


def test_driver_fixture_scan_prunes_files(spark):
    """The driver query's cell=5 predicate must shrink the file plan —
    planning-time pruning, not just a Catalyst filter."""
    from __spark_entry__ import _ice_fixture
    from sedona_spark import icetable as it

    path = _ice_fixture(spark, "/root/testdata/sf0.001")
    total = it.plan_files(path)
    pruned = it.plan_files(path, filters=[("cell", "=", 5)])
    assert 0 < len(pruned) < len(total)


def test_streaming_sink_exactly_once(spark, tmp_path):
    """foreachBatch sink: each micro-batch lands as one snapshot carrying
    its batch id atomically; replays are detected and skipped."""
    import time as _t

    from sedona_spark.streaming.icesink import (
        commit_stream_batch, committed_batch_ids, write_stream_to_icetable)

    path = str(tmp_path / "sink_tbl")
    ckpt = str(tmp_path / "ckpt")

    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .select(F.col("value").alias("id"),
                      (F.col("value") % 4).alias("cell")))
    q = write_stream_to_icetable(stream, path, ckpt, partition_by="cell")
    q.awaitTermination(60)
    for _ in range(100):          # availableNow stops on its own
        if not q.isActive:
            break
        _t.sleep(0.2)
    assert not q.isActive

    snaps = it.snapshots(path)
    assert snaps and all("streaming_batch_id" in s for s in snaps)
    n0 = it.scan(spark, path).count()
    batches = committed_batch_ids(path)
    assert batches == {s["streaming_batch_id"] for s in snaps}

    # replay of an already-committed batch id is a no-op
    replay = spark.range(0, 7).select(
        F.col("id"), (F.col("id") % 4).alias("cell"))
    assert commit_stream_batch(replay, path, min(batches)) is None
    assert it.scan(spark, path).count() == n0

    # a genuinely new batch appends and is incrementally readable
    sid = commit_stream_batch(replay, path, max(batches) + 1)
    assert sid is not None
    assert it.scan(spark, path).count() == n0 + 7
    inc = it.incremental_scan(spark, path, from_snapshot_id=sid - 1)
    assert inc.count() == 7


def test_schema_evolution_and_time_travel_schema(spark, tmp_path):
    """A later append may widen the schema: current reads fill old files
    with NULL; time travel reads with the old snapshot's own schema."""
    path = str(tmp_path / "evo")
    it.commit_append(_batch(spark, 0, 10), path)
    wide = _batch(spark, 10, 20).withColumn(
        "lang", F.lit("en"))
    it.commit_append(wide, path)

    cur = it.scan(spark, path)
    assert cur.columns == ["id", "cell", "v", "lang"]
    rows = {r["id"]: r["lang"] for r in cur.collect()}
    assert rows[5] is None and rows[15] == "en"

    old = it.scan(spark, path, snapshot_id=1)
    assert old.columns == ["id", "cell", "v"]
    assert old.count() == 10


def test_rewrite_data_files_compaction(spark, tmp_path):
    """Many micro-batch files collapse; row set identical; CDC readers
    skip the rewrite snapshot; history stays readable."""
    path = str(tmp_path / "compact")
    for k in range(5):
        it.commit_append(_batch(spark, k * 10, k * 10 + 10), path)
    n_before = len(it.plan_files(path))
    res = it.rewrite_data_files(spark, path)
    assert res["files_after"] < n_before and res["rows"] == 50
    assert ({r["id"] for r in it.scan(spark, path).collect()}
            == set(range(50)))
    # incremental readers see no new rows from the rewrite snapshot
    assert it.incremental_scan(spark, path, from_snapshot_id=5).count() == 0
    # but appends after the rewrite flow through
    it.commit_append(_batch(spark, 100, 103), path)
    assert it.incremental_scan(spark, path, from_snapshot_id=5).count() == 3
    # pre-rewrite snapshots still time travel
    assert it.scan(spark, path, snapshot_id=3).count() == 30


def test_review_hardening(spark, tmp_path):
    """Race-loser dedupe commits, torn-metadata immunity, expired-delta
    refusal, and rendering-safe partition pruning."""
    import json as _json

    path = str(tmp_path / "hard")
    it.commit_append(_batch(spark, 0, 10), path,
                     properties={"k": "a"}, dedupe_property="k")
    # same identity: returns the existing snapshot, commits nothing
    sid = it.commit_append(_batch(spark, 50, 60), path,
                           properties={"k": "a"}, dedupe_property="k")
    assert sid == 1 and len(it.snapshots(path)) == 1
    assert it.scan(spark, path).count() == 10

    # incremental from an expired snapshot raises instead of losing rows
    it.commit_append(_batch(spark, 10, 20), path, properties={"k": "b"})
    it.commit_append(_batch(spark, 20, 30), path, properties={"k": "c"})
    it.expire_snapshots(path, keep_last=1, orphan_grace_sec=0)
    with pytest.raises(KeyError):
        it.incremental_scan(spark, path, from_snapshot_id=1)

    # no torn metadata: only complete v*.metadata.json files exist
    meta_dir = os.path.join(path, "metadata")
    for name in os.listdir(meta_dir):
        if name.endswith(".metadata.json"):
            with open(os.path.join(meta_dir, name)) as f:
                _json.load(f)  # parses

    # float-partitioned table: "=" pruning must not refute on rendering
    fpath = str(tmp_path / "fp")
    fdf = (spark.range(0, 8)
           .select(F.col("id"), (F.col("id") % 2).cast("double").alias("s")))
    it.commit_append(fdf, fpath, partition_by="s")
    got = it.scan(spark, fpath, filters=[("s", "=", 1)]).count()
    assert got == 4  # stats-based pruning still applies, rows intact


def test_null_bytes_never_crash(spark):
    """RS_ImageStatus / RS_Exif / RS_ImageQuality return NULLs for NULL
    payloads (failed downloads), not task crashes."""
    import sedona_spark
    from sedona_spark.sources.images import make_pixels
    from sedona_spark.sources.jpeg import encode_jpeg

    sedona_spark.register(spark)
    df = spark.createDataFrame(
        [("a", encode_jpeg(make_pixels(1, 8, 8), quality=90)), ("b", None)],
        "image_id string, bytes binary")
    df.createOrReplaceTempView("t_nullbytes")
    rows = {r["image_id"]: r for r in spark.sql(
        "select image_id, RS_ImageStatus(bytes) st, RS_Exif(bytes) e, "
        "RS_ImageQuality(bytes) q from t_nullbytes").collect()}
    assert rows["a"]["st"] == "ok" and rows["a"]["q"]["n_px"] == 64
    assert rows["b"]["st"] is None
    assert rows["b"]["e"]["exif_lat"] is None
    assert rows["b"]["q"]["n_px"] is None


def test_upsert_and_delete_cow(spark, tmp_path):
    """MERGE (key upsert) and DELETE WHERE as atomic CoW snapshots with
    time travel preserving the pre-mutation state."""
    path = str(tmp_path / "cow")
    it.commit_append(_batch(spark, 0, 20), path, partition_by="cell")

    # upsert: ids 10..14 get v=999, ids 100..102 are new
    up = (spark.range(10, 15).select(
            F.col("id"), (F.col("id") % 4).alias("cell"),
            F.lit(999).alias("v"))
          .unionByName(spark.range(100, 103).select(
            F.col("id"), (F.col("id") % 4).alias("cell"),
            F.lit(7).alias("v"))))
    s2 = it.commit_upsert(up, path, key="id")
    cur = {r["id"]: r["v"] for r in it.scan(spark, path).collect()}
    assert len(cur) == 23
    assert all(cur[i] == 999 for i in range(10, 15))
    assert all(cur[i] == 7 for i in (100, 101, 102))
    assert cur[3] == 3 * 7 % 100
    # pre-merge state intact under time travel
    old = {r["id"]: r["v"] for r in
           it.scan(spark, path, snapshot_id=s2 - 1).collect()}
    assert len(old) == 20 and old[12] == 12 * 7 % 100

    # delete where cell = 1 AND v < 500 (the 999 upserts survive)
    s3 = it.commit_delete(path, spark, [("cell", "=", 1), ("v", "<", 500)])
    after = {r["id"]: r["v"] for r in it.scan(spark, path).collect()}
    gone = {i for i in range(20) if i % 4 == 1 and not (10 <= i < 15)}
    gone |= {101}  # 101 % 4 == 1, v=7
    assert set(cur) - set(after) == gone
    assert it.scan(spark, path, snapshot_id=s3 - 1).count() == 23


def test_upsert_requires_full_rows(spark, tmp_path):
    path = str(tmp_path / "narrow")
    it.commit_append(_batch(spark, 0, 5), path)
    with pytest.raises(ValueError, match="lacks table columns"):
        it.commit_upsert(spark.range(0, 2).select("id"), path, key="id")


def test_metadata_tables(spark, table):
    snaps = it.metadata_table(spark, table, "snapshots").collect()
    assert [r["snapshot_id"] for r in snaps] == [1, 2]
    assert snaps[1]["total_rows"] == 100 and snaps[1]["operation"] == "append"
    files = it.metadata_table(spark, table, "files")
    assert files.count() == len(it.plan_files(table))
    assert files.agg(F.sum("record_count")).first()[0] == 100
    hist = it.metadata_table(spark, table, "history").collect()
    assert [r["snapshot_id"] for r in hist] == [1, 2]
    with pytest.raises(ValueError):
        it.metadata_table(spark, table, "manifests")


def test_file_stats_one_job_and_exact(spark, tmp_path, count_jobs):
    """File stats take one Spark job, and every manifest entry matches the
    file's own data: row count, size on disk, column min/max."""
    path = str(tmp_path / "tbl")
    df = (_batch(spark, 0, 300)
          .withColumn("name", F.concat(F.lit("n"), (F.col("id") % 37).cast("string")))
          .withColumn("x", F.col("id") / F.lit(3.0))
          .repartition(40))
    it.commit_append(df, path)
    files = it.plan_files(path)
    assert len(files) == 40

    paths = [os.path.join(path, f["path"]) for f in files]
    cols = ["id", "cell", "v", "name", "x"]
    stats, jobs = count_jobs(lambda: it._collect_file_stats(spark, paths, cols))
    assert jobs == 1
    assert [s["path"] for s in sorted(stats, key=lambda s: s["path"])] == sorted(paths)

    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    truth = {
        r["f"]: r for r in spark.read.parquet(*paths)
        .withColumn("f", F.input_file_name()).groupBy("f").agg(*aggs).collect()
    }
    truth = {os.path.realpath(f.replace("file://", "")): r for f, r in truth.items()}
    for f in files:
        p = os.path.join(path, f["path"])
        t = truth[os.path.realpath(p)]
        assert f["rows"] == t["rows"]
        assert f["bytes"] == os.path.getsize(p)
        for c in cols:
            assert f["stats"]["min"][c] == t[f"min_{c}"]
            assert f["stats"]["max"][c] == t[f"max_{c}"]
