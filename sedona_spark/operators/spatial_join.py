"""Distributed spatial joins: point-in-polygon and polygon-overlaps.

Reference semantics: ``JoinQuery.SpatialJoinQueryFlat``
(``core/spatialOperator/JoinQuery.java:164-298, 676-732``) — replicate each
geometry to every partition cell its envelope overlaps, per-partition
envelope-index probe, exact-predicate refine, then duplicate elimination by
reference point (``core/joinJudgement/DuplicatesFilter.java:46-71``,
``GeomUtils.java:359-382``).

Spark-first re-expression:

* replication  = ``cells.explode_cells`` over the envelope's covering cells
  (:func:`_explode_cover`) — pure Column math;
* partitioning = the hash shuffle of the cell equi-join itself (no custom
  partitioner; AQE handles skew/coalesce);
* refine       = envelope test (SQL) + exact kernel (rect: pure SQL;
  general polygon: ONE Arrow-batched pandas UDF);
* dedup        = emit a pair only from the cell containing the reference
  point (max of the two envelope mins) — a pure Column predicate, exactly
  ``GeomUtils.isDuplicate``'s rule re-expressed on the grid. Points occupy
  a single cell, so point-side joins are duplicate-free by construction
  (same shortcut as ``GeomUtils.java:361-364``).

Every join here is one of two candidate skeletons plus its refine:

* point × zone (:func:`_pip_join`, :func:`pip_join_rect`): the point keeps
  its home cell, the zone explodes to its cover, and the keep test is the
  only difference between the ring, multi-ring and rectangle joins. The
  semi/anti/outer spellings join the matched set back on the point or
  zone id.
* envelope × envelope (:func:`envelope_pair_join`): both sides explode to
  their covers, candidates need intersecting envelopes, and the
  reference-point rule drops duplicate pairs. The line, polygon-predicate,
  polygon-overlap and ``overlay.rect_overlay_area`` joins differ only in
  their refine.

Scale notes (100 TB posture): the ring and multi-ring point × zone joins
have two plans, picked by ONE rule — Spark's broadcast size rule applied
to the zone side (:func:`broadcast_index.indexable`: a batch side whose
optimizer estimate is at most ``spark.sql.autoBroadcastJoinThreshold``;
``-1`` turns it off):

* broadcast index (rule holds): the zones are collected once through
  Arrow and indexed by cover cell on the driver; the points stream
  through ONE ``mapInArrow`` that looks up candidates and refines them —
  no explode, no shuffle, no ring per candidate
  (:func:`broadcast_index.pip_join`);
* cell join (large zone sides, inputs without a size estimate, streaming
  zone sides): both inputs shuffle once, on an int64 key, or Catalyst
  broadcasts the cover.

Both return the same rows and columns. The rectangle, semi/anti/outer and
envelope × envelope joins always take the cell join. No sampling, no
driver-side tree build — layout is closed-form from ``level`` (the index
grain of both plans), which also makes checkpoint/resume sound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sedona_spark import cells
from sedona_spark.functions import st
from sedona_spark.operators import broadcast_index

_ENV = ("xmin", "ymin", "xmax", "ymax")
_L_ENV = ("_lxmin", "_lymin", "_lxmax", "_lymax")
_R_ENV = ("_rxmin", "_rymin", "_rxmax", "_rymax")


def _boundary_counts(predicate: str) -> bool:
    """Does a point on the zone boundary match? 'contains' is interior
    only; 'covers'/'intersects' count the boundary (reference boundary
    split, ``SpatialPredicateEvaluators.java:25-80``)."""
    if predicate not in ("contains", "covers", "intersects"):
        raise ValueError(f"unsupported join predicate {predicate!r}")
    return predicate != "contains"


def _rect_keep(predicate: str, x: str, y: str) -> Column:
    """Keep test of point (x, y) against the xmin..ymax rectangle."""
    px, py = F.col(x), F.col(y)
    x0, y0, x1, y1 = (F.col(c) for c in _ENV)
    if _boundary_counts(predicate):
        return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
    return (px > x0) & (px < x1) & (py > y0) & (py < y1)


def _explode_cover(
    df: DataFrame, level: int, xmin="xmin", ymin="ymin", xmax="xmax", ymax="ymax",
) -> DataFrame:
    """Replicate each row to all cells its envelope covers (pure SQL)."""
    gx0, gx1, gy0, gy1 = cells.cover_bbox(
        F.col(xmin), F.col(ymin), F.col(xmax), F.col(ymax), level
    )
    return cells.explode_cells(df, F.sequence(gx0, gx1), F.sequence(gy0, gy1), level)


def with_envelope(df: DataFrame, ring: str = "ring") -> DataFrame:
    """Materialize envelope columns from a packed ring (pure SQL)."""
    return df.select("*", *st.st_envelope_cols(F.col(ring)))


def _pip_join(
    points: DataFrame, zones: DataFrame, geom: str, multi: bool,
    predicate: str, level: int, x: str, y: str,
) -> DataFrame:
    """Point × zone skeleton over ``geom`` (a packed ring, or with
    ``multi`` a ring list). A zone side that fits Spark's broadcast rule is
    indexed once and the points stream past it
    (:func:`broadcast_index.pip_join`); otherwise home cell ⋈ envelope
    cover, envelope prefilter (cheap, codegen'd), then the exact PIP class
    (0 out, 1 boundary, 2 interior). Both plans return the same rows."""
    boundary = _boundary_counts(predicate)
    indexed = broadcast_index.indexable(zones)
    if "xmin" not in zones.columns:
        env_geom = F.flatten(F.col(geom)) if multi else F.col(geom)
        zones = zones.select("*", *st.st_envelope_cols(env_geom))
    if indexed:
        return broadcast_index.pip_join(points, zones, geom, multi, boundary, level, x, y)
    classify = st.pip_class_multi if multi else st.pip_class
    cls = classify(F.col(geom), F.col(x), F.col(y))
    keep = cls >= 1 if boundary else cls == 2
    pc = points.withColumn("cell", cells.cell_id(F.col(x), F.col(y), level))
    j = pc.join(_explode_cover(zones, level), "cell")
    j = j.filter(
        st.env_contains_point(*(F.col(c) for c in _ENV), F.col(x), F.col(y))
    )
    return j.filter(keep).drop("cell", *_ENV)


def pip_join(
    points: DataFrame,
    zones: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    x: str = "x",
    y: str = "y",
    ring: str = "ring",
) -> DataFrame:
    """Join point rows to polygon rows whose polygon contains/covers them.

    ``points`` needs (x, y) columns; ``zones`` needs a packed ``ring``
    column (``array<double>``) — envelopes derived if absent. All other
    columns pass through (ensure disjoint names).

    predicate: 'contains' (interior only) or 'covers'/'intersects'
    (boundary counts) — reference boundary split,
    ``SpatialPredicateEvaluators.java:25-80``.
    """
    return _pip_join(points, zones, ring, False, predicate, level, x, y)


def pip_join_multi(
    points: DataFrame,
    zones: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    x: str = "x",
    y: str = "y",
    geom: str = "geom",
) -> DataFrame:
    """PIP join against MULTI-RING geometries (polygons with holes,
    MultiPolygon): ``geom`` is ``array<array<double>>`` of packed rings,
    even-odd semantics. Same plans as :func:`pip_join`; the envelope is
    the min/max over all rings (flatten, pure SQL)."""
    return _pip_join(points, zones, geom, True, predicate, level, x, y)


def pip_join_rect(
    points: DataFrame,
    rects: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    x: str = "x",
    y: str = "y",
    salt: int = 0,
) -> DataFrame:
    """PIP join against axis-aligned rectangles (xmin..ymax columns) —
    the zcta510-style rectangle-window join of the reference fixtures
    (``test_point_join.py:35-37``). 100% JVM-side, zero Python.

    ``salt > 0`` enables the salted two-stage join for hot cells (a dense
    city cell at 10^12 rows): the big side adds a deterministic salt bucket
    ``pmod(hash(x, y), salt)``, the small side replicates each cover-cell
    row to every salt value, and the join key becomes (cell, salt) — the
    skew splitter that replaces the reference's sample-adaptive KDB-tree
    splits (``KDB.java``), composing with AQE's runtime skew-join."""
    keep = _rect_keep(predicate, x, y)
    zc = _explode_cover(rects, level)
    pc = points.withColumn("cell", cells.cell_id(F.col(x), F.col(y), level))
    if salt <= 0:
        return pc.join(zc, "cell").filter(keep).drop("cell")
    pc = pc.withColumn("_salt", F.pmod(F.hash(F.col(x), F.col(y)), F.lit(salt)))
    zc = zc.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return pc.join(zc, ["cell", "_salt"]).drop("_salt").filter(keep).drop("cell")


def _pip_match_join(
    points: DataFrame, rects: DataFrame, predicate: str, level: int,
    x: str, y: str, id_col: str | None, how: str,
) -> DataFrame:
    key = id_col or points.columns[0]
    matched = pip_join_rect(points, rects, predicate, level=level, x=x, y=y)
    # joining against the matched id set keeps each point row exactly once
    return points.join(matched.select(key).distinct(), key, how)


def pip_semi_join(
    points: DataFrame,
    rects: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    x: str = "x",
    y: str = "y",
    id_col: str | None = None,
) -> DataFrame:
    """Points matching AT LEAST ONE rectangle zone (LeftSemi spatial join —
    reference ``BroadcastIndexJoinExec.semiJoin``, ``:155``). Output = the
    point rows, deduplicated by construction via left_semi on the matched
    id set.

    ``id_col`` names the unique point identity (defaults to the first
    column); semi/anti semantics are keyed on it, so it MUST be unique."""
    return _pip_match_join(points, rects, predicate, level, x, y, id_col, "left_semi")


def pip_anti_join(
    points: DataFrame,
    rects: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    x: str = "x",
    y: str = "y",
    id_col: str | None = None,
) -> DataFrame:
    """Points matching NO zone (LeftAnti spatial join). ``id_col`` as in
    :func:`pip_semi_join` — must be a unique point identity."""
    return _pip_match_join(points, rects, predicate, level, x, y, id_col, "left_anti")


def pip_left_outer_join(
    points: DataFrame,
    rects: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    x: str = "x",
    y: str = "y",
    id_col: str | None = None,
) -> DataFrame:
    """LeftOuter spatial join (``BroadcastIndexJoinExec.scala:62-66``):
    every point row survives; zone columns are NULL for points in no zone.

    Shape: the inner cell join finds matches (zone side broadcastable),
    then ONE left join of points against the match set on the unique point
    id — the stream-side outer completion the reference does per-partition,
    re-expressed relationally. ``id_col`` must be unique per point."""
    key = id_col or points.columns[0]
    zone_cols = [c for c in rects.columns if c not in _ENV]
    matched = pip_join_rect(points, rects, predicate, level=level, x=x, y=y).select(
        key, *zone_cols
    )
    return points.join(matched, key, "left")


def pip_right_outer_join(
    points: DataFrame,
    rects: DataFrame,
    predicate: str = "covers",
    level: int = 7,
    x: str = "x",
    y: str = "y",
    id_col: str | None = None,
    zone_key: str | None = None,
) -> DataFrame:
    """RightOuter spatial join: every ZONE row survives; point columns are
    NULL for zones containing no point (the build-side outer completion of
    ``BroadcastIndexJoinExec.scala:62-66``)."""
    pkey = id_col or points.columns[0]
    zkey = zone_key or rects.columns[0]
    matched = pip_join_rect(points, rects, predicate, level=level, x=x, y=y).select(
        pkey, zkey
    )
    return rects.join(matched, zkey, "left")


def envelope_pair_join(
    left: DataFrame,
    right: DataFrame,
    level: int,
    l_env: tuple[str, str, str, str],
    r_env: tuple[str, str, str, str],
) -> DataFrame:
    """Envelope × envelope skeleton: every (left, right) pair whose
    envelopes intersect, exactly once. ``l_env``/``r_env`` name each side's
    (xmin, ymin, xmax, ymax) columns. Both sides replicate to their cover
    cells; a matched pair is emitted only from the cell that contains the
    pair's reference point (min corner of the envelope intersection) — the
    dedup rule of ``DuplicatesFilter.java:46-71`` /
    ``GeomUtils.isDuplicate:359-382`` as a Column predicate, no second
    pass. All input columns pass through (names must be disjoint); the
    exact refine is the caller's."""
    lx0, ly0, lx1, ly1 = (F.col(c) for c in l_env)
    rx0, ry0, rx1, ry1 = (F.col(c) for c in r_env)
    lc, rc = _explode_cover(left, level, *l_env), _explode_cover(right, level, *r_env)
    j = lc.join(rc, "cell").filter(st.env_intersects(lx0, ly0, lx1, ly1, rx0, ry0, rx1, ry1))
    ref = cells.cell_id(F.greatest(lx0, rx0), F.greatest(ly0, ry0), level)
    return j.filter(F.col("cell") == ref).drop("cell")


def _with_env(df: DataFrame, geom: Column, names: tuple[str, ...]) -> DataFrame:
    """Envelope of ``geom`` as columns ``names``."""
    return df.select("*", *(c.alias(n) for c, n in zip(st.st_envelope_cols(geom), names)))


def linestring_polygon_join(
    lines: DataFrame,
    zones: DataFrame,
    level: int = 7,
    line: str = "line",
    geom: str = "geom",
) -> DataFrame:
    """LineString × polygon INTERSECTS join with replicate-dedup — the
    line-fixture joins of ``SpatialJoinSuite.scala`` (LineStringRDD).

    Both sides replicate to envelope-cover cells; pairs deduplicate by the
    reference-point rule; refine = ONE Arrow-batched segment/PIP kernel."""
    lf = _with_env(lines, F.col(line), _L_ENV)
    rf = _with_env(zones, F.flatten(F.col(geom)), _R_ENV)
    j = envelope_pair_join(lf, rf, level, _L_ENV, _R_ENV)
    j = j.filter(st.st_intersects_line_polygon(F.col(line), F.col(geom)))
    return j.drop(*_L_ENV, *_R_ENV)


def _polygon_join(
    left: DataFrame, right: DataFrame, level: int,
    left_ring: str, right_ring: str, refine,
) -> DataFrame:
    """Polygon × polygon candidates (rings renamed ``_lring``/``_rring``
    so both sides may use one column name), filtered by ``refine``."""
    lf = _with_env(left.withColumnRenamed(left_ring, "_lring"), F.col("_lring"), _L_ENV)
    rf = _with_env(right.withColumnRenamed(right_ring, "_rring"), F.col("_rring"), _R_ENV)
    j = refine(envelope_pair_join(lf, rf, level, _L_ENV, _R_ENV))
    return (
        j.drop(*_L_ENV, *_R_ENV)
        .withColumnRenamed("_lring", left_ring)
        .withColumnRenamed("_rring", right_ring)
    )


def polygon_predicate_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str,
    level: int = 7,
    left_ring: str = "l_ring",
    right_ring: str = "r_ring",
) -> DataFrame:
    """Polygon×polygon join under ANY areal DE-9IM predicate (touches /
    overlaps / st_equals / within / contains / covers / covered_by /
    intersects) — the 28-variant join-condition surface of
    ``SpatialJoinSuite.scala:42-75``. Candidate generation is identical to
    :func:`polygon_overlap_join` (every non-disjoint predicate implies
    envelope overlap); refine computes the four primitive flags once and
    derives the requested predicate as a Column expression."""
    preds = st.st_predicates_from_flags(F.col("_flags"))
    if predicate not in preds:
        raise ValueError(f"unsupported join predicate {predicate!r}")
    flags = st.st_relate_flags(F.col("_lring"), F.col("_rring"))
    return _polygon_join(
        left, right, level, left_ring, right_ring,
        lambda j: j.withColumn("_flags", flags).filter(preds[predicate]).drop("_flags"),
    )


def polygon_overlap_join(
    left: DataFrame,
    right: DataFrame,
    level: int = 7,
    left_ring: str = "l_ring",
    right_ring: str = "r_ring",
) -> DataFrame:
    """Polygon×polygon INTERSECTS join with replicate-dedup
    (:func:`envelope_pair_join`), refined by the exact ring-intersection
    kernel."""
    hit = st.st_intersects_polygons(F.col("_lring"), F.col("_rring"))
    return _polygon_join(
        left, right, level, left_ring, right_ring, lambda j: j.filter(hit)
    )


def pip_join_compact(
    points: DataFrame,
    rects: DataFrame,
    predicate: str = "covers",
    level: int = 9,
    min_level: int = 3,
    x: str = "x",
    y: str = "y",
    broadcast_cover: bool | None = None,
) -> DataFrame:
    """PIP join via COMPACTED mixed-level covers — the S2CellUnion join
    pattern: each rectangle's fine-level cover is normalized per zone
    (complete 2×2 sibling groups promoted recursively), so interior area
    is covered by a few coarse cells and only the boundary stays fine —
    O(perimeter) cover rows instead of O(area). The point side joins once
    per cover LEVEL (ancestor cell at that level == cover cell); the set
    of live levels is metadata-sized (≤ level − min_level + 1 values, the
    only driver-side state). Exact refine matches :func:`pip_join_rect`,
    so the two paths are interchangeable — and oracle-checked equal.

    ``broadcast_cover``: True forces a broadcast of the compacted cover
    (right for the zone-side-small contract), False forces the shuffle
    equi-join (a large zone table must NOT be collected to the driver),
    None lets AQE decide from the compacted cover's actual size."""
    keep = _rect_keep(predicate, x, y)
    cover = _explode_cover(rects, level)
    key_cols = [c for c in rects.columns]
    cur = (
        cover.select(*key_cols, "cell").distinct()
        .withColumn("lvl", F.lit(level))
    )
    frozen = None
    for lv in range(int(level), int(min_level), -1):
        active = cur.filter(F.col("lvl") == lv)
        parent = cells.cell_parent(F.col("cell"), lv, lv - 1)
        groups = (
            active.withColumn("_p", parent)
            .groupBy(*key_cols, "_p")
            .agg(F.count("*").alias("_n"),
                 F.collect_list("cell").alias("_members"))
        )
        promoted = groups.filter(F.col("_n") == 4).select(
            *key_cols, F.col("_p").alias("cell"),
            F.lit(lv - 1).alias("lvl"),
        )
        kept = groups.filter(F.col("_n") < 4).select(
            *key_cols, F.explode("_members").alias("cell"),
            F.lit(lv).alias("lvl"),
        )
        frozen = kept if frozen is None else frozen.unionByName(kept)
        cur = promoted.localCheckpoint(eager=False)
    compacted = cur if frozen is None else cur.unionByName(frozen)
    compacted = compacted.localCheckpoint(eager=True)
    levels = [r["lvl"] for r in compacted.select("lvl").distinct().collect()]

    # ONE pass over the point side: explode each point to its ancestor
    # cell at every live level and equi-join once — cell ids embed their
    # level, so a single join on "cell" replaces the per-level scan +
    # union (the point table was re-scanned once per live level, ~6
    # stages of pure overhead; candidates are identical because the
    # compacted cover partitions each zone's area disjointly).
    home = cells.cell_id(F.col(x), F.col(y), level)
    lvls = sorted(levels)
    pc = (
        points.withColumn("_home", home)
        .withColumn("_lvl", F.explode(F.array(*[F.lit(lv) for lv in lvls])))
    )
    d = F.lit(level) - F.col("_lvl")
    pw = F.pow(F.lit(2.0), d.cast("double"))
    px_ = F.floor(cells.cell_x(F.col("_home")) / pw).cast("long")
    py_ = F.floor(cells.cell_y(F.col("_home")) / pw).cast("long")
    anc = (F.col("_lvl").cast("long") * F.lit(cells._L_MULT)
           + px_ * F.lit(cells._X_MULT) + py_).cast("long")
    pc = pc.withColumn("cell", anc)
    cov = compacted.drop("lvl")
    if broadcast_cover is True:
        cov = F.broadcast(cov)
    elif broadcast_cover is False:
        cov = cov.hint("shuffle_hash")
    return pc.join(cov, "cell").drop("cell", "_home", "_lvl").filter(keep)
