"""Checkpointing with per-partition lineage + metrics, and resume.

North_rule requirement: "all stages checkpoint to Iceberg snapshots with
per-partition lineage and row-count/byte metrics, and resumption replays
only incomplete partitions". This environment has no Iceberg runtime jars,
so the snapshot layout is the documented parquet fallback (SURVEY.md §7.2
step 0) with identical semantics:

    <root>/<stage>/data/part_bucket=<b>/...parquet   (bucketed by lineage key)
    <root>/<stage>/_manifest.json                     (per-bucket rows/bytes)
    <root>/<stage>/_SUCCESS.sedona_spark             (commit marker)

The lineage key is the deterministic cell/bucket column — because layout is
data-independent (closed-form cell math, no sampled partitioner), re-running
a stage reproduces the same bucket→rows mapping, which is what makes
partial replay sound (contrast the reference's sampled KDB trees,
``SpatialRDD.java:246-325``, which re-sample on every run).

Metrics mirror the reference's join accumulators
(``JoinQuery.java:683-686``, ``core/monitoring/Metrics.java``) but are made
durable in the manifest.

A stage costs one Spark job, its write:

* **Staged write, counted on the write.** The bucketed DataFrame is
  written once, partitioned by ``part_bucket``, to ``<stage>/_staging``.
  An :class:`~pyspark.sql.Observation` on that write counts the rows of
  every bucket (``count_if(part_bucket = b)``). Spark merges the
  accumulator updates of a result task once per partition, so the counts
  are those of the rows that entered the writer, computed independently of
  the files the writer left: a file lost or cut short after the write still
  shows up as a mismatch against the footers. No cache of the DataFrame and
  no second counting job is needed.
* **Commit order.** (1) ``_premanifest.json`` from the observed counts;
  (2) each ``part_bucket=<b>`` directory renamed from staging into
  ``data/`` (``os.rename``: atomic per bucket on one local filesystem);
  (3) staging removed; (4) :func:`_commit`. No data file is in ``data/``
  before the pre-manifest exists.
* **Footer-verified commit.** Per-bucket rows come from the parquet footers
  (the same numbers a Spark ``count()`` over parquet reads) and bytes from
  the file sizes; the commit refuses, before the marker, when the non-empty
  buckets' rows differ from the pre-manifest. :func:`checkpoint_stage` and
  :func:`resume_stage` share the staged writer and this commit, so both
  write the same manifest fields.
* **Crash windows.** A crash during the write leaves ``_staging`` and no
  pre-manifest, so the resume redoes the stage. A crash during the renames
  leaves whole buckets in ``data/`` and the rest in ``_staging``: the
  resume deletes staging and replays only the buckets missing from
  ``data/`` (:func:`incomplete_buckets`). A crash between the manifest and
  the marker leaves an uncommitted stage whose buckets all verify, so the
  resume writes nothing and commits.
* **Schema in the manifest.** The manifest records the stage schema as
  parquet read-back infers it (data columns nullable, ``part_bucket int``);
  :func:`read_stage` reads with it, so read-back infers nothing and an empty
  stage reads as an empty DataFrame. Manifests without a schema (written
  before it was recorded) fall back to inference.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    MapType,
    StructField,
    StructType,
)

_MARKER = "_SUCCESS.sedona_spark"
_MANIFEST = "_manifest.json"
_PREMANIFEST = "_premanifest.json"
_STAGING = "_staging"


def _bucket_rows_durable(data_dir: str, entry: str) -> int:
    """Actual rows durably present in a bucket dir, read from parquet file
    footers (pyarrow) — no Spark session needed, and a torn/partial file
    (crash mid-write) fails the footer read and counts as 0."""
    import pyarrow.parquet as pq

    p = os.path.join(data_dir, entry)
    total = 0
    for f in os.listdir(p):
        if not f.endswith(".parquet"):
            continue
        try:
            total += pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
        except Exception:
            return -1  # torn file → bucket not durable
    return total


def _bucket_metrics(data_dir: str) -> dict[int, dict]:
    """Per-bucket ``{"rows", "bytes"}`` of the data under ``data_dir``, from
    parquet footers and file sizes — no Spark job. ``rows`` is -1 for a
    bucket holding a torn file (see :func:`_bucket_rows_durable`)."""
    parts: dict[int, dict] = {}
    if not os.path.isdir(data_dir):
        return parts
    for entry in os.listdir(data_dir):
        if entry.startswith("part_bucket="):
            p = os.path.join(data_dir, entry)
            parts[int(entry.split("=", 1)[1])] = {
                "rows": _bucket_rows_durable(data_dir, entry),
                "bytes": sum(
                    os.path.getsize(os.path.join(p, f))
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                ),
            }
    return parts


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable (Scala's
    ``DataType.asNullable``), as parquet read-back returns it."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _stage_schema(df: DataFrame) -> dict:
    """JSON of the schema that inference returns for ``df`` checkpointed:
    its columns nullable, then the ``part_bucket`` directory key as int."""
    return StructType(
        _nullable(df.schema).fields
        + [StructField("part_bucket", IntegerType(), True)]
    ).jsonValue()


def _stage_paths(root: str, stage: str) -> tuple[str, str, str]:
    base = os.path.join(root, stage)
    return base, os.path.join(base, "data"), os.path.join(base, _MANIFEST)


def _read_premanifest(base: str) -> dict[int, int] | None:
    """Expected rows per bucket, counted before the data write; ``None``
    for a stage that has no pre-manifest (legacy layout)."""
    pre_path = os.path.join(base, _PREMANIFEST)
    if not os.path.exists(pre_path):
        return None
    with open(pre_path) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


def _with_bucket(df: DataFrame, bucket_col: str, n_buckets: int) -> DataFrame:
    """``df`` plus its lineage bucket ``pmod(bucket_col, n_buckets)``. A NULL
    key goes to bucket 0, so the write, the pre-manifest and every footer
    read see an int bucket (Spark would otherwise write a
    ``__HIVE_DEFAULT_PARTITION__`` dir), and a replay of bucket 0 still
    selects the same rows."""
    return df.withColumn(
        "part_bucket",
        F.coalesce(
            F.pmod(F.col(bucket_col).cast("long"), F.lit(n_buckets)), F.lit(0)
        ),
    )


def _write_staged(
    out: DataFrame, base: str, buckets: list[int]
) -> dict[int, int]:
    """Write ``out`` (which has ``part_bucket``) in one job to
    ``<base>/_staging``, partitioned by bucket, and return the rows of each
    of ``buckets`` as observed on that write (the non-empty ones)."""
    obs = Observation()
    b = F.col("part_bucket")
    out.observe(obs, *[F.count_if(b == i).alias(str(i)) for i in buckets]) \
        .write.mode("overwrite").partitionBy("part_bucket") \
        .parquet(os.path.join(base, _STAGING))
    return {int(k): int(n) for k, n in obs.get.items() if n}


def _move_staged(base: str, data_dir: str) -> None:
    """Rename each staged bucket directory into ``data_dir``, then remove
    the staging directory. A rename onto an existing bucket fails."""
    staging = os.path.join(base, _STAGING)
    os.makedirs(data_dir, exist_ok=True)
    for entry in sorted(os.listdir(staging)):
        if entry.startswith("part_bucket="):
            os.rename(os.path.join(staging, entry),
                      os.path.join(data_dir, entry))
    shutil.rmtree(staging)


def _commit(
    base: str, data_dir: str, man_path: str, head: dict,
    expected: dict[int, int] | None, t0: float,
) -> dict:
    """Verify the written buckets against ``expected`` (the pre-manifest;
    ``None`` for a legacy stage without one), then write the manifest
    (``head`` + wall time + footer metrics) and the commit marker."""
    parts = _bucket_metrics(data_dir)
    if expected is not None:
        got = {b: m["rows"] for b, m in parts.items() if m["rows"]}
        want = {b: n for b, n in expected.items() if n}
        if got != want:
            bad = sorted(b for b in set(got) | set(want)
                         if got.get(b) != want.get(b))
            raise RuntimeError(
                f"stage {head['stage']!r}: written rows differ from the "
                f"pre-manifest in buckets {bad} "
                f"(written {[got.get(b, 0) for b in bad]}, "
                f"expected {[want.get(b, 0) for b in bad]}); not committed"
            )
    manifest = {
        **head,
        "wall_sec": time.time() - t0,
        "partitions": {str(b): parts[b] for b in sorted(parts)},
    }
    with open(man_path, "w") as f:
        json.dump(manifest, f, indent=1)
    with open(os.path.join(base, _MARKER), "w") as f:
        f.write(str(time.time()))
    return manifest


def checkpoint_stage(
    df: DataFrame,
    root: str,
    stage: str,
    bucket_col: str,
    n_buckets: int = 32,
    overwrite: bool = False,
) -> dict:
    """Write ``df`` as a committed snapshot partitioned by a deterministic
    lineage bucket (``pmod(hash-free bucket of bucket_col, n_buckets)`` —
    plain modulus so the mapping is engine-independent and replayable).
    Rows whose ``bucket_col`` is NULL go to bucket 0.

    Returns the manifest: per-bucket row counts + bytes + wall time.
    Idempotent: an existing committed stage is returned as-is.
    """
    base, data_dir, man_path = _stage_paths(root, stage)
    if os.path.exists(os.path.join(base, _MARKER)) and not overwrite:
        with open(man_path) as f:
            return json.load(f)
    if os.path.exists(base):
        shutil.rmtree(base)

    t0 = time.time()
    out = _with_bucket(df, bucket_col, n_buckets)
    expected = _write_staged(out, base, list(range(n_buckets)))
    # the pre-manifest goes down before any bucket reaches data/, so a
    # resume can verify every bucket it finds there
    with open(os.path.join(base, _PREMANIFEST), "w") as f:
        json.dump({str(b): n for b, n in sorted(expected.items())}, f)
    _move_staged(base, data_dir)
    head = {"stage": stage, "bucket_col": bucket_col, "n_buckets": n_buckets,
            "schema": _stage_schema(df)}
    return _commit(base, data_dir, man_path, head, expected, t0)


def is_committed(root: str, stage: str) -> bool:
    return os.path.exists(os.path.join(root, stage, _MARKER))


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """The stage's rows, read with the manifest's schema (inferred from the
    files only for a manifest that predates the recorded schema)."""
    _, data_dir, man_path = _stage_paths(root, stage)
    schema = None
    if os.path.exists(man_path):
        with open(man_path) as f:
            schema = json.load(f).get("schema")
    if schema is None:
        return spark.read.parquet(data_dir)
    return spark.read.schema(StructType.fromJson(schema)).parquet(data_dir)


def incomplete_buckets(root: str, stage: str, n_buckets: int) -> list[int]:
    """Buckets not yet durably written (crash mid-stage). With the
    deterministic bucket mapping, a resume recomputes ONLY these: filter the
    stage input on ``bucket % n == b`` for the missing b's and append.

    Durability is verified, not inferred: when the pre-manifest (written
    before any bucket is moved into ``data/``) exists, a bucket counts as
    complete only if its parquet-footer row total equals the expected count
    — a dir merely *containing* files (a torn or lost file) is otherwise
    silently partial. Buckets still in ``_staging`` are not counted. Without
    a pre-manifest (a crash during the write, or a legacy stage) the weaker
    any-parquet-file heuristic applies."""
    base, data_dir, man_path = _stage_paths(root, stage)
    if os.path.exists(os.path.join(base, _MARKER)):
        return []
    expected = _read_premanifest(base)
    actual = {b: m["rows"] for b, m in _bucket_metrics(data_dir).items()}
    if expected is None:
        present = {b for b, n in actual.items() if n > 0}
        return [b for b in range(n_buckets) if b not in present]
    missing = []
    for b in range(n_buckets):
        exp = expected.get(b, 0)
        if exp == 0:
            continue  # nothing was ever expected in this bucket
        if actual.get(b, 0) != exp:
            missing.append(b)
    return missing


def resume_stage(
    df: DataFrame,
    root: str,
    stage: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> dict:
    """Complete a crashed stage by replaying only its missing buckets, then
    commit. If never started, equivalent to :func:`checkpoint_stage`."""
    base, data_dir, man_path = _stage_paths(root, stage)
    if is_committed(root, stage):
        with open(man_path) as f:
            return json.load(f)
    missing = incomplete_buckets(root, stage, n_buckets)
    if len(missing) == n_buckets or not os.path.exists(data_dir):
        return checkpoint_stage(df, root, stage, bucket_col, n_buckets)

    t0 = time.time()
    # delete what a crash left of the buckets being replayed: the staging
    # directory and any PARTIAL bucket dir (a replayed bucket cannot be
    # renamed onto it)
    shutil.rmtree(os.path.join(base, _STAGING), ignore_errors=True)
    for b in missing:
        p = os.path.join(data_dir, f"part_bucket={b}")
        if os.path.exists(p):
            shutil.rmtree(p)
    if missing:
        todo = _with_bucket(df, bucket_col, n_buckets).filter(
            F.col("part_bucket").isin([int(b) for b in missing]))
        _write_staged(todo, base, missing)
        _move_staged(base, data_dir)

    head = {"stage": stage, "bucket_col": bucket_col, "n_buckets": n_buckets,
            "schema": _stage_schema(df),
            "resumed_buckets": [int(b) for b in missing]}
    return _commit(base, data_dir, man_path, head, _read_premanifest(base), t0)


def list_stages(root: str) -> list[dict]:
    """Inventory of snapshots under ``root``: name, committed flag,
    manifest mtime, total rows/bytes — the `snapshots` metadata-table
    analog of the Iceberg layout this module emulates."""
    out = []
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        base, _, manifest = _stage_paths(root, name)
        if not os.path.isdir(base):
            continue
        rec = {"stage": name, "committed": is_committed(root, name),
               "rows": None, "bytes": None, "committed_at": None}
        if rec["committed"]:
            try:
                with open(manifest) as f:
                    m = json.load(f)
                parts = m["partitions"]
                rec["rows"] = sum(b["rows"] for b in parts.values())
                rec["bytes"] = sum(b["bytes"] for b in parts.values())
                rec["committed_at"] = os.path.getmtime(manifest)
            except (OSError, ValueError, KeyError):
                pass
        out.append(rec)
    return out


def expire_stages(
    root: str, keep: list[str], dry_run: bool = False
) -> list[str]:
    """Iceberg `expireSnapshots` analog: delete committed snapshot
    directories NOT in ``keep`` (and any uncommitted partial stage —
    those are replayable by construction). Refuses to touch paths
    outside ``root``. Returns the stage names removed."""
    import shutil

    removed = []
    keep_set = set(keep)
    for rec in list_stages(root):
        if rec["stage"] in keep_set:
            continue
        base = os.path.join(root, rec["stage"])
        if os.path.realpath(base).startswith(os.path.realpath(root)):
            if not dry_run:
                shutil.rmtree(base)
            removed.append(rec["stage"])
    return removed
