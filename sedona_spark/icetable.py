"""Iceberg-lite: versioned table format with snapshots, time travel,
incremental scan, and manifest-stats file pruning.

The north rule stores the geotagged image+caption corpus in "an Iceberg
table ... all stages checkpoint to Iceberg snapshots with per-partition
lineage and row-count/byte metrics". :mod:`sedona_spark.checkpoint`
covers the stage-resume half; this module supplies the *table format*
half — the public Apache Iceberg spec's metadata architecture
(https://iceberg.apache.org/spec/) re-expressed over plain JSON + parquet
because the sandbox carries no Iceberg runtime jars:

    <table>/metadata/v<N>.metadata.json   table metadata: schema,
                                          partition spec, snapshot log,
                                          current-snapshot pointer
    <table>/metadata/version-hint.text    latest metadata version (the
                                          HadoopCatalog pointer protocol)
    <table>/metadata/manifest-<token>.json
                                          data files added by one commit
                                          attempt: per-file row count,
                                          byte size, partition value, and
                                          per-column min/max stats
    <table>/data/w-<token>/[_pt_<col>=<v>/]*.parquet

Deltas from the real spec, all noted where they bite: manifests are JSON
not avro; there is one manifest per snapshot (no manifest-list
indirection — at 100 TB the manifest itself would be sharded exactly the
way the data write is); and the commit protocol is the HadoopTableOperations
one (atomic ``O_EXCL`` create of ``v<N+1>.metadata.json``, losers re-read
and retry) rather than a catalog swap.

Design points that carry to 100 TB:

* **Commits are metadata-only and optimistic.** The data write lands
  under a per-attempt token directory first; the commit is one O_EXCL
  file create, so concurrent appenders conflict on the version file,
  never on data or manifests (both token-named), and the loser retries
  by re-reading and re-numbering its snapshot (``_commit`` loop). A
  crashed writer leaves an orphan ``data/w-<token>`` directory that no
  manifest references — invisible to readers, reclaimed by
  :func:`expire_snapshots`.
* **File stats are collected distributed.** Per-file rows/bytes/min-max
  come from parquet *footers* read by an Arrow-batched executor pass
  (:func:`_collect_file_stats`): the path list is sliced straight into
  tasks, so a commit's stats are one Spark job with no shuffle. The driver
  never touches data bytes, so stats cost O(files), not O(bytes).
* **Scan pruning is file-list-time.** :func:`scan` drops every file whose
  partition value or column min/max refutes the predicate before Spark
  ever sees the path — the same job-planning-time pruning Iceberg does,
  independent of directory layout (reference analog: the driver-side
  spatial partition pruning in ``RangeQuery.java``). The surviving files
  still get the predicate applied as a normal Catalyst filter, so
  pruning is performance-only, never correctness-bearing.
* **Incremental scan = CDC.** Each snapshot's manifest records exactly
  the files *it* added, so "give me rows appended since snapshot s" is a
  manifest union — the standard training-pipeline consumption pattern
  (process only new shards per run).

The partition column is duplicated into a ``_pt_<col>`` directory key at
write time so data files keep the full row (no reconstruct-from-path at
read; Spark partition discovery is never relied on across
mixed-snapshot file lists).

Portability seam: the metadata layer (listing, json reads, the O_EXCL/
hard-link commit claim) uses the driver's POSIX filesystem — the same
contract HadoopTableOperations requires (HDFS/NFS atomic create;
object stores need a catalog service for the swap, which the Iceberg
spec itself delegates). Data files are read by Spark from whatever
filesystem the table path names; only the commit protocol is
POSIX-bound. The multi-FS data path (``sources/geoparquet._fs_for``)
is the documented extension point.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_VERSION_HINT = "version-hint.text"
_MAX_COMMIT_RETRIES = 20

# simple predicate ops understood by the pruner; scan() re-applies the
# same predicate as a Column filter so the list being partial is safe
_OPS = {"=", "<", "<=", ">", ">="}


# ---------------------------------------------------------------------------
# metadata primitives
# ---------------------------------------------------------------------------


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _read_version(path: str) -> int:
    """Latest committed metadata version: max of the hint file and a
    directory scan. The scan matters twice — a lost/corrupt hint (the
    spec's listing fallback) and a committer that created v<N> but died
    before updating the hint (readers and retrying committers must see
    v<N>, or the loser of a race would retry the same number forever)."""
    hint = os.path.join(_meta_dir(path), _VERSION_HINT)
    best = 0
    try:
        with open(hint) as f:
            best = int(f.read().strip())
    except (OSError, ValueError):
        pass
    if os.path.isdir(_meta_dir(path)):
        for name in os.listdir(_meta_dir(path)):
            if name.startswith("v") and name.endswith(".metadata.json"):
                try:
                    best = max(best, int(name[1:].split(".")[0]))
                except ValueError:
                    pass
    return best


def _read_metadata(path: str) -> dict | None:
    # defensive: the link-based commit can't leave a torn latest file,
    # but a half-copied table (rsync, cp mid-flight) could — fall back
    # down the version chain rather than bricking every read
    v = _read_version(path)
    while v > 0:
        try:
            with open(os.path.join(_meta_dir(path),
                                   f"v{v}.metadata.json")) as f:
                meta = json.load(f)
            meta["_version"] = v
            return meta
        except (OSError, ValueError):
            v -= 1
    return None


def _write_hint(path: str, version: int) -> None:
    hint = os.path.join(_meta_dir(path), _VERSION_HINT)
    tmp = hint + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, hint)  # atomic pointer swap


def _try_commit_metadata(path: str, version: int, meta: dict) -> bool:
    """Atomic commit of v<version>.metadata.json. The content is written
    FULLY to a temp file first and hard-linked into place (link fails if
    the target exists = the atomic claim), so a writer dying mid-commit
    can never leave a torn highest-version file that bricks readers.
    Returns False when a concurrent committer won this version number."""
    import uuid

    os.makedirs(_meta_dir(path), exist_ok=True)
    target = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    _write_hint(path, version)
    return True


# ---------------------------------------------------------------------------
# distributed file-stats collection (footers only)
# ---------------------------------------------------------------------------


def _collect_file_stats(spark: SparkSession, files: list[str],
                        stat_cols: list[str]) -> list[dict]:
    """Per-file row count, byte size, and min/max of ``stat_cols`` read
    from parquet footers by the executors (Arrow-batched). O(files)
    driver memory, zero data bytes moved."""
    if not files:
        return []
    cols = list(stat_cols)

    def footer(batches):
        import pyarrow.parquet as pq

        for b in batches:
            recs = []
            for p in b["path"]:
                md = pq.ParquetFile(p).metadata
                rows = md.num_rows
                names = {md.schema.column(i).name: i
                         for i in range(md.num_columns)}
                mins: dict[str, object] = {}
                maxs: dict[str, object] = {}
                for c in cols:
                    ci = names.get(c)
                    if ci is None:
                        continue
                    lo = hi = None
                    ok = True
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    if ok and lo is not None:
                        mins[c] = lo
                        maxs[c] = hi
                recs.append((p, int(rows), int(os.path.getsize(p)),
                             json.dumps(mins, default=str),
                             json.dumps(maxs, default=str)))
            yield pd.DataFrame(
                recs, columns=["path", "rows", "bytes", "mins", "maxs"])

    # parallelize splits the path list without a shuffle: one job, one
    # task per slice
    paths = spark.sparkContext.parallelize(
        [(p,) for p in files], min(len(files), 32))
    out = spark.createDataFrame(paths, "path string").mapInPandas(
        footer, "path string, rows long, bytes long, mins string, maxs string"
    ).collect()
    stats = []
    for r in out:
        stats.append({
            "path": r["path"], "rows": r["rows"], "bytes": r["bytes"],
            "mins": json.loads(r["mins"]), "maxs": json.loads(r["maxs"]),
        })
    return stats


def _list_parquet(root: str) -> list[tuple[str, dict]]:
    """(absolute path, {partition col: string value}) for every parquet
    file under ``root``; partition values parsed from _pt_<col>=v dirs."""
    from urllib.parse import unquote

    out = []
    for dirpath, _dirs, names in os.walk(root):
        part: dict[str, str] = {}
        rel = os.path.relpath(dirpath, root)
        if rel != ".":
            for seg in rel.split(os.sep):
                if "=" in seg and seg.startswith("_pt_"):
                    k, v = seg.split("=", 1)
                    # Spark %XX-escapes special chars in partition paths;
                    # store the logical value so pruning compares apples
                    part[k[len("_pt_"):]] = unquote(v)
        for n in sorted(names):
            if n.endswith(".parquet"):
                out.append((os.path.join(dirpath, n), part))
    return out


# ---------------------------------------------------------------------------
# commits
# ---------------------------------------------------------------------------


def _commit(path: str, df: DataFrame, operation: str,
            partition_by: str | None,
            properties: dict | None = None,
            dedupe_property: str | None = None) -> int:
    """Write data files for one snapshot, then optimistically commit the
    metadata. Returns the new snapshot id.

    Everything a writer touches before winning the version race is named
    by a per-attempt token (data dir ``data/w-<token>``, manifest
    ``manifest-<token>.json``) so concurrent committers can never clobber
    each other's files; the snapshot *id* is assigned only inside the
    retry loop, from the freshest metadata, so a race loser re-numbers
    instead of committing a duplicate id."""
    import uuid

    spark = df.sparkSession
    meta = _read_metadata(path)
    if meta is not None and partition_by is None:
        partition_by = meta.get("partition_by")

    token = uuid.uuid4().hex[:10]
    data_dir = os.path.join(path, "data", f"w-{token}")
    writer = df
    if partition_by:
        writer = (df.withColumn(f"_pt_{partition_by}", F.col(partition_by))
                    .repartition(F.col(partition_by)))
        writer.write.mode("overwrite").partitionBy(
            f"_pt_{partition_by}").parquet(data_dir)
    else:
        writer.write.mode("overwrite").parquet(data_dir)

    listed = _list_parquet(data_dir)
    stat_cols = [f.name for f in df.schema.fields
                 if f.dataType.typeName() in
                 ("integer", "long", "short", "byte", "float", "double",
                  "string", "date", "timestamp")]
    stats = {s["path"]: s for s in
             _collect_file_stats(spark, [p for p, _ in listed], stat_cols)}
    files = []
    for p, part in listed:
        s = stats[p]
        files.append({
            "path": os.path.relpath(p, path),
            "rows": s["rows"], "bytes": s["bytes"],
            "partition": part, "stats": {"min": s["mins"], "max": s["maxs"]},
        })

    man_name = f"manifest-{token}.json"
    man_path = os.path.join(_ensure_meta(path), man_name)
    added_rows = sum(f["rows"] for f in files)
    added_bytes = sum(f["bytes"] for f in files)
    schema_json = json.loads(df.schema.json())
    for _ in range(_MAX_COMMIT_RETRIES):
        meta = _read_metadata(path)
        version = (meta["_version"] if meta else 0) + 1
        snapshots = list(meta["snapshots"]) if meta else []
        if dedupe_property is not None and properties:
            # atomic idempotency: the identity check re-runs on every
            # retry against the freshest metadata, so two publishers of
            # the same identity can't both land — the loser sees the
            # winner's snapshot here and yields (its data dir becomes a
            # grace-reclaimed orphan)
            want = properties.get(dedupe_property)
            for s in snapshots:
                if s.get(dedupe_property) == want:
                    return s["snapshot_id"]
        snap_id = max((s["snapshot_id"] for s in snapshots), default=0) + 1
        with open(man_path, "w") as f:
            json.dump({"snapshot_id": snap_id, "files": files}, f, indent=1,
                      default=str)
        parent = snapshots[-1]["snapshot_id"] if snapshots else None
        if operation == "append" and snapshots:
            cur = next(s for s in snapshots
                       if s["snapshot_id"] == meta["current_snapshot_id"])
            manifests = list(cur["manifests"]) + [man_name]
            total = cur["summary"]["total_rows"] + added_rows
        else:
            manifests = [man_name]
            total = added_rows
        snapshots.append({
            "snapshot_id": snap_id,
            "parent_id": parent,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "manifests": manifests,
            "added_manifest": man_name,
            "schema": schema_json,
            "summary": {"added_files": len(files), "added_rows": added_rows,
                        "added_bytes": added_bytes, "total_rows": total},
            **(properties or {}),
        })
        new_meta = {
            "format_version": 1,
            "schema": schema_json,
            "partition_by": partition_by,
            "snapshots": snapshots,
            "current_snapshot_id": snap_id,
        }
        if _try_commit_metadata(path, version, new_meta):
            return snap_id
    raise RuntimeError(
        f"icetable commit to {path} lost {_MAX_COMMIT_RETRIES} races")


def _ensure_meta(path: str) -> str:
    d = _meta_dir(path)
    os.makedirs(d, exist_ok=True)
    return d


def commit_append(df: DataFrame, path: str,
                  partition_by: str | None = None,
                  properties: dict | None = None,
                  dedupe_property: str | None = None) -> int:
    """Append ``df`` as a new snapshot; returns the snapshot id.
    ``properties`` are extra keys merged into the snapshot record
    atomically with the commit (e.g. a streaming batch id).
    ``dedupe_property`` names one of them as a commit identity: if a
    snapshot with the same value already exists (checked inside the
    commit race, so concurrent duplicates are impossible), that
    snapshot's id is returned and nothing new is committed."""
    return _commit(path, df, "append", partition_by, properties,
                   dedupe_property)


def commit_overwrite(df: DataFrame, path: str,
                     partition_by: str | None = None) -> int:
    """Replace the table contents with ``df`` (old snapshots remain
    time-travel readable until :func:`expire_snapshots`)."""
    return _commit(path, df, "overwrite", partition_by)


def commit_upsert(df: DataFrame, path: str, key: str | list[str]) -> int:
    """Copy-on-write MERGE: rows of ``df`` replace current rows with the
    same ``key``; unmatched keys append. Committed as one ``overwrite``
    snapshot (Iceberg CoW MERGE INTO semantics) — readers see the merge
    atomically, time travel keeps the pre-merge state. The anti-join is
    a broadcast when ``df`` is small; at 100 TB a real deployment
    partitions both sides on the key so the join co-locates."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    current = scan(spark, path)
    # whole-row replace semantics: df must carry every table column —
    # a narrower frame would silently NULL the omitted columns of every
    # matched row (partial UPDATE SET needs an explicit join upstream)
    missing = set(current.columns) - set(df.columns)
    if missing:
        raise ValueError(
            f"commit_upsert: incoming frame lacks table columns "
            f"{sorted(missing)} — matched rows would lose them; select "
            f"the full row (join against scan()) before upserting")
    kept = current.join(df.select(*keys).distinct(), keys, "left_anti")
    merged = kept.unionByName(df.select(*current.columns))
    return _commit(path, merged, "overwrite",
                   _read_metadata(path).get("partition_by"),
                   {"merge_keys": keys})


def commit_delete(path: str, spark: SparkSession,
                  filters: list[tuple]) -> int:
    """Copy-on-write DELETE WHERE: rewrite the table without the rows
    matching ALL ``filters`` (same simple predicates as :func:`scan`).
    File pruning makes the rewrite read-efficient: files the predicate
    provably cannot touch are carried over logically by re-reading —
    the conservative CoW baseline; merge-on-read delete files are the
    documented optimization seam."""
    current = scan(spark, path)
    cond = F.lit(True)
    for f in filters:
        cond = cond & _predicate(f)
    # NULL predicate result = row does NOT match the delete → keep it
    keep = current.filter(F.coalesce(~cond, F.lit(True)))
    return _commit(path, keep, "overwrite",
                   _read_metadata(path).get("partition_by"),
                   {"delete_filters": [list(map(str, f)) for f in filters]})


# ---------------------------------------------------------------------------
# reads
# ---------------------------------------------------------------------------


def snapshots(path: str) -> list[dict]:
    """The snapshot log (Iceberg ``table.snapshots()`` analog)."""
    meta = _read_metadata(path)
    return list(meta["snapshots"]) if meta else []


def added_files(path: str, snapshot_id: int) -> list[dict]:
    """The data files a single snapshot *added* (its own manifest)."""
    for s in snapshots(path):
        if s["snapshot_id"] == snapshot_id:
            return _manifest_files(path, [s["added_manifest"]])
    raise KeyError(f"no snapshot {snapshot_id}")


def _resolve(meta: dict, snapshot_id: int | None,
             as_of_ms: int | None) -> dict:
    snaps = meta["snapshots"]
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"no snapshot {snapshot_id}")
    if as_of_ms is not None:
        live = [s for s in snaps if s["timestamp_ms"] <= as_of_ms]
        if not live:
            raise KeyError(f"no snapshot at or before {as_of_ms}")
        return live[-1]
    return next(s for s in snaps
                if s["snapshot_id"] == meta["current_snapshot_id"])


def _manifest_files(path: str, manifests: list[str]) -> list[dict]:
    files = []
    for m in manifests:
        with open(os.path.join(_meta_dir(path), m)) as f:
            files.extend(json.load(f)["files"])
    return files


def _refutes(f: dict, col: str, op: str, val) -> bool:
    """True when file-level evidence proves no row of ``f`` satisfies
    ``col op val``. Missing or incomparable evidence → keep the file
    (pruning must never be correctness-bearing)."""
    # No refutation on the partition *directory string*: Spark's path
    # rendering ("5.0", "1.0E-7", "true", %XX escapes) need not match
    # the probe value's Python rendering, and a mismatch would silently
    # drop rows. The typed min/max footer stats subsume it anyway — in a
    # partition directory every file has min = max = the partition value.
    lo = f["stats"]["min"].get(col)
    hi = f["stats"]["max"].get(col)
    if lo is None or hi is None:
        return False
    if isinstance(lo, str) and not isinstance(val, str):
        # date/datetime stats ride through the JSON manifest as str(...);
        # str() of the probe value is the same canonical form, and ISO
        # ordering == value ordering, so compare in string space
        val = str(val)
    try:
        if op == "=":
            return val < lo or val > hi
        if op == "<":
            return lo >= val
        if op == "<=":
            return lo > val
        if op == ">":
            return hi <= val
        if op == ">=":
            return hi < val
    except TypeError:
        return False
    return False


def _predicate(f: tuple) -> "F.Column":
    """One (col, op, val) filter tuple → the Column predicate — the one
    place scan() and commit_delete() share their op semantics."""
    col, op, val = f
    c = F.col(col)
    return {"=": c == val, "<": c < val, "<=": c <= val,
            ">": c > val, ">=": c >= val}[op]


def _apply_filters(files: list[dict],
                   filters: list[tuple] | None) -> list[dict]:
    for col, op, val in filters or []:
        if op not in _OPS:
            raise ValueError(f"unsupported pruning op {op!r}")
        files = [f for f in files if not _refutes(f, col, op, val)]
    return files


def plan_files(path: str, snapshot_id: int | None = None,
               as_of_ms: int | None = None,
               filters: list[tuple] | None = None) -> list[dict]:
    """The scan's file plan after min/max + partition pruning — exposed
    so tests and operators can assert how many files a predicate touches."""
    meta = _read_metadata(path)
    if meta is None:
        raise FileNotFoundError(f"no icetable at {path}")
    snap = _resolve(meta, snapshot_id, as_of_ms)
    return _apply_filters(_manifest_files(path, snap["manifests"]), filters)


def scan(spark: SparkSession, path: str, snapshot_id: int | None = None,
         as_of_ms: int | None = None,
         filters: list[tuple] | None = None) -> DataFrame:
    """Read the table at a snapshot (default: current), pruning data
    files by manifest stats before Spark plans the scan, then applying
    the same predicates as Catalyst filters (pruning is performance-only).
    Reads use the schema *of that snapshot* (schema evolution: a later
    append may widen the schema; time travel still sees the old shape,
    and current reads fill columns missing from old files with NULL).
    An empty plan returns an empty DataFrame with the snapshot schema."""
    from pyspark.sql.types import StructType

    meta = _read_metadata(path)
    if meta is None:
        raise FileNotFoundError(f"no icetable at {path}")
    snap = _resolve(meta, snapshot_id, as_of_ms)
    schema = StructType.fromJson(snap.get("schema") or meta["schema"])
    files = _apply_filters(_manifest_files(path, snap["manifests"]), filters)
    if not files:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(path, f["path"]) for f in files]
    df = spark.read.schema(schema).parquet(*paths)
    for f in filters or []:
        df = df.filter(_predicate(f))
    return df


def incremental_scan(spark: SparkSession, path: str, from_snapshot_id: int,
                     to_snapshot_id: int | None = None) -> DataFrame:
    """Rows in files *added* by APPEND snapshots in (from, to] — the
    CDC-style "only what's new since my last run" read a training
    pipeline does per ingest cycle. Matching Iceberg's incremental
    append scan, overwrite and rewrite (compaction) snapshots are
    skipped: their files re-house rows, they don't add new ones."""
    from pyspark.sql.types import StructType

    meta = _read_metadata(path)
    if meta is None:
        raise FileNotFoundError(f"no icetable at {path}")
    if to_snapshot_id is None:
        to_snapshot_id = meta["current_snapshot_id"]
    ids = {s["snapshot_id"] for s in meta["snapshots"]}
    # a from-snapshot missing from history means snapshots between it and
    # now were expired: the delta is UNKNOWABLE and silence would lose
    # rows for a CDC consumer — fail loudly (Iceberg raises here too)
    if from_snapshot_id not in ids:
        raise KeyError(
            f"incremental_scan: snapshot {from_snapshot_id} is not in the "
            f"table history (expired?) — delta since it is unknowable")
    manifests = [s["added_manifest"] for s in meta["snapshots"]
                 if from_snapshot_id < s["snapshot_id"] <= to_snapshot_id
                 and s["operation"] == "append"]
    files = _manifest_files(path, manifests)
    schema = StructType.fromJson(meta["schema"])
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(path, f["path"]) for f in files])


def metadata_table(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """Iceberg inspection tables (``SELECT * FROM tbl.snapshots`` etc.)
    as DataFrames: ``snapshots`` (id, parent, ts, operation, added/total
    rows+bytes), ``files`` (current snapshot's file plan with rows,
    bytes, partition value), ``history`` (metadata versions via the
    snapshot log). Metadata only — never touches data bytes."""
    meta = _read_metadata(path)
    if meta is None:
        raise FileNotFoundError(f"no icetable at {path}")
    if kind == "snapshots":
        rows = [(s["snapshot_id"], s.get("parent_id"), s["timestamp_ms"],
                 s["operation"], s["summary"]["added_files"],
                 s["summary"]["added_rows"], s["summary"]["added_bytes"],
                 s["summary"]["total_rows"])
                for s in meta["snapshots"]]
        return spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, timestamp_ms long, "
                  "operation string, added_files long, added_rows long, "
                  "added_bytes long, total_rows long")
    if kind == "files":
        rows = [(f["path"], f["rows"], f["bytes"],
                 json.dumps(f["partition"], sort_keys=True))
                for f in plan_files(path)]
        return spark.createDataFrame(
            rows, "file_path string, record_count long, "
                  "file_size_in_bytes long, partition string")
    if kind == "history":
        rows = [(s["timestamp_ms"], s["snapshot_id"],
                 s["snapshot_id"] == meta["current_snapshot_id"])
                for s in meta["snapshots"]]
        return spark.createDataFrame(
            rows, "made_current_at long, snapshot_id long, "
                  "is_current_ancestor boolean")
    raise ValueError(f"unknown metadata table {kind!r} "
                     "(snapshots | files | history)")


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------


def rewrite_data_files(spark: SparkSession, path: str,
                       target_file_bytes: int = 128 << 20) -> dict:
    """Compaction (Iceberg ``rewriteDataFiles`` analog): re-house the
    current snapshot's rows into ~``target_file_bytes`` files and commit
    the result as a ``rewrite`` snapshot. The row set is unchanged —
    incremental (CDC) readers skip rewrite snapshots — but a streaming
    ingest's thousands of micro-batch files collapse so scan planning
    stays O(few files). History remains time-travel readable until
    :func:`expire_snapshots`. Returns before/after file counts."""
    meta = _read_metadata(path)
    if meta is None:
        raise FileNotFoundError(f"no icetable at {path}")
    before = plan_files(path)
    total_bytes = sum(f["bytes"] for f in before)
    df = scan(spark, path)
    if not meta.get("partition_by"):
        # partitioned tables consolidate to one file per partition value
        # inside _commit's repartition; unpartitioned ones bin-pack here
        n = max(1, -(-total_bytes // max(1, int(target_file_bytes))))
        df = df.repartition(int(n))
    sid = _commit(path, df, "rewrite", meta.get("partition_by"),
                  {"rewrite_of": meta["current_snapshot_id"]})
    return {"snapshot_id": sid, "files_before": len(before),
            "files_after": len(plan_files(path)),
            "rows": sum(f["rows"] for f in plan_files(path))}


def expire_snapshots(path: str, keep_last: int = 1,
                     orphan_grace_sec: float = 24 * 3600) -> dict:
    """Drop all but the last ``keep_last`` snapshots: rewrite metadata,
    delete their manifests and the data files only they reference
    (Iceberg ``expireSnapshots`` semantics). TRUE orphans — files no
    manifest at all references, i.e. a crashed OR STILL-IN-FLIGHT
    commit's data — are reclaimed only when older than
    ``orphan_grace_sec`` (Iceberg's removeOrphanFiles age threshold):
    a concurrent committer writes its data before winning the metadata
    race, and deleting those fresh files would corrupt its snapshot.
    Returns counts."""
    meta = _read_metadata(path)
    if meta is None:
        return {"snapshots_removed": 0, "files_removed": 0}
    snaps = meta["snapshots"]
    keep = snaps[-keep_last:] if keep_last > 0 else []
    drop = snaps[: len(snaps) - len(keep)]

    live_manifests = {m for s in keep for m in s["manifests"]}
    live_files = {f["path"]
                  for f in _manifest_files(path, sorted(live_manifests))}
    dropped_manifests = {s["added_manifest"] for s in drop} - live_manifests
    dropped_files = {f["path"]
                     for f in _manifest_files(path, sorted(dropped_manifests))}

    removed = 0
    now = time.time()
    data_root = os.path.join(path, "data")
    if os.path.isdir(data_root):
        for p, _part in _list_parquet(data_root):
            rel = os.path.relpath(p, path)
            if rel in live_files:
                continue
            if rel not in dropped_files:  # true orphan: apply the grace
                try:
                    if now - os.path.getmtime(p) < orphan_grace_sec:
                        continue
                except OSError:
                    continue
            os.remove(p)
            removed += 1
        # sweep now-empty directories bottom-up
        for dirpath, dirs, names in os.walk(data_root, topdown=False):
            if not dirs and not names and dirpath != data_root:
                os.rmdir(dirpath)

    for s in drop:
        m = s["added_manifest"]
        if m not in live_manifests:
            try:
                os.remove(os.path.join(_meta_dir(path), m))
            except OSError:
                pass

    new_meta = dict(meta)
    new_meta.pop("_version", None)
    new_meta["snapshots"] = keep
    version = meta["_version"] + 1
    if not _try_commit_metadata(path, version, new_meta):
        raise RuntimeError("expire lost a commit race; rerun")
    return {"snapshots_removed": len(drop), "files_removed": removed}
