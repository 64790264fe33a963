"""kNN query and kNN join (exact, partitioning-invariant, with tie option).

Reference semantics: ``JoinQuery.knnJoin`` (``JoinQuery.java:769-963``) —
exact k nearest per query, EUCLIDEAN metric, optional ties
(``sedona.join.knn.includeTieBreakers``); completeness enforced via Simba
distance bounds (``QuadTreeRTPartitioner.java:32-61``) and per-query local
heaps (``InMemoryKNNJoinIterator.java:99-154``).

Our algorithm (north_rule: "iterative k-ring expansion + per-partition
bounded heap"):

1. index objects by grid cell at ``level``;
2. each unresolved query explodes to the Chebyshev disk of radius ``ring``
   around its cell; equi-join on cell; rank candidates per query by
   (dist², object id) with a window — Spark's window TopK is the
   "bounded heap" (partial aggregation keeps state ≤ k per query);
3. a query is *resolved* when it has ≥ k candidates and its kth distance is
   ≤ the guaranteed-complete bound: any object outside disk(ring) is at
   least ``ring`` full cell-widths away on some axis, so kth_dist ≤
   ring·min(cell_w, cell_h) proves no closer object exists outside the
   disk. (Same invariant as the reference's γᵢ = 2uᵢ + |crᵢ,sₖ| bound —
   ours is the grid form.)
4. unresolved queries double ``ring`` and repeat. Termination: the disk
   eventually covers the whole grid.

The loop is driver-side control flow over DataFrame ops (a count per round)
— no data ever collects to the driver, so it holds at 10^12 rows; rounds are
O(log grid) worst case and 1-2 in practice when ``level`` fits the density.

Two plans, picked by ONE rule — Spark's broadcast size rule applied to the
object side (:func:`broadcast_index.indexable`: a batch side whose
optimizer estimate is at most ``spark.sql.autoBroadcastJoinThreshold``;
``-1`` turns it off):

* broadcast index (rule holds, ``metric='euclid'``, double coordinates):
  the objects are collected once through Arrow, sorted by the tie-break
  columns and indexed by cell at ``level``; the queries stream through ONE
  ``mapInArrow`` that runs the rounds above inside the task, with the same
  first ring, growth and bound — no Spark job per round, no shuffle, no
  window (:func:`broadcast_index.knn_join`, also behind
  :func:`knn_join_obj_broadcast`);
* rounds (large object sides, inputs without a size estimate, geodesic
  metrics): the Spark loop above.

Both return the same rows, columns and types.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from sedona_spark import cells
from sedona_spark.functions import st
from sedona_spark.operators import broadcast_index
from sedona_spark.functions.st_measures import (
    _EARTH_RADIUS_M,
    _WGS84_A,
    _WGS84_F,
    st_distance_sphere,
    st_distance_spheroid,
)

_RAD = math.pi / 180.0
# queries per distance block in knn_join_broadcast's object-batch scan
_QUERY_CHUNK = 256


def knn_query(
    points: DataFrame,
    qx: float,
    qy: float,
    k: int,
    x: str = "x",
    y: str = "y",
    tiebreak: str | None = None,
) -> DataFrame:
    """Single-point kNN: global TakeOrderedAndProject, exactly how the
    reference collapses to ``takeOrdered(k)`` (``KNNQuery.java:47-79``).
    ``tiebreak`` names a column used to order equal distances
    deterministically."""
    d2 = st.st_distance_sq(F.col(x), F.col(y), F.lit(float(qx)), F.lit(float(qy)))
    order = [F.col("dist_sq").asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    return points.withColumn("dist_sq", d2).orderBy(*order).limit(k)


def _disk_join(
    queries: DataFrame,
    objects_c: DataFrame,
    level: int,
    qx: str,
    qy: str,
    ox: str,
    oy: str,
    metric: str = "euclid",
) -> DataFrame:
    """Join each query to all objects within its per-query cell disk
    (``_ring`` column — data-adaptively sized per round; geodesic queries
    may carry a separate ``_ring_y`` for an asymmetric disk: full
    longitude coverage needs only the LATITUDE band the y-bound
    certifies, not a square blow-up)."""
    n = 1 << level
    home = cells.cell_id(F.col(qx), F.col(qy), level)
    cx, cy = cells.cell_x(home), cells.cell_y(home)
    rng = F.col("_ring")
    rng_y = F.col("_ring_y") if "_ring_y" in queries.columns else rng
    geodesic = metric in ("sphere", "spheroid")
    if geodesic:
        # longitude is CYCLIC on the sphere: wrap the x-range so a query at
        # lon 179.9 probes cells across the antimeridian instead of
        # escalating to the full grid (same wrap as distance_geo.py);
        # capped at the half-ring so wrap never duplicates a cell
        kx = F.least(rng, F.lit(n // 2))
        xs = F.when(
            rng >= n // 2, F.sequence(F.lit(0), F.lit(n - 1))
        ).otherwise(F.sequence(cx - kx, cx + kx))
    else:
        xs = F.sequence(
            F.greatest(F.lit(0), cx - rng), F.least(F.lit(n - 1), cx + rng)
        )
    ys = F.sequence(
        F.greatest(F.lit(0), cy - rng_y), F.least(F.lit(n - 1), cy + rng_y)
    )
    qc = cells.explode_cells(queries, xs, ys, level, wrap=geodesic)
    j = qc.join(objects_c, "cell").drop("cell")
    if geodesic:
        dist_fn = st_distance_sphere if metric == "sphere" else st_distance_spheroid
        return j.withColumn(
            "dist_m",
            dist_fn(F.col(qx), F.col(qy), F.col(ox), F.col(oy)),
        )
    return j.withColumn(
        "dist_sq", st.st_distance_sq(F.col(qx), F.col(qy), F.col(ox), F.col(oy))
    )


def knn_join_broadcast(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
    metric: str = "euclid",
    max_query_rows: int = 2_000_000,
) -> DataFrame:
    """Broadcast-QUERY-side kNN join (``BroadcastQuerySideKNNJoinExec``):
    the query set is small by contract — ship it to every partition, scan
    the object side ONCE with zero shuffle, keep per-(query, partition)
    top-k locally (numpy argpartition = the bounded heap), then one global
    per-query top-k over the tiny candidate set.

    Candidate volume ≤ k · |queries| · n_partitions, so the final window
    is negligible; the object side is never replicated or shuffled — the
    right plan when |queries| ≪ |objects| (reverse of the k-ring path).

    Returns (query cols…, object id cols…, dist_sq|dist_m, knn_rank).
    Deterministic ties: (distance, first object column).

    ``max_query_rows`` guards the driver collect the same way the reference
    gates broadcast on ``autoBroadcastJoinThreshold``
    (``JoinQueryDetector.scala:191-202``): an oversize query side raises
    instead of OOMing the driver."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(query_id, qx, qy).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"knn_join_broadcast: query side exceeds max_query_rows="
            f"{max_query_rows}; use knn_join (k-ring path) or raise the limit"
        )
    if not qrows:
        raise ValueError("knn_join_broadcast requires a non-empty query side")
    q_ids = [r[query_id] for r in qrows]
    q_xy = np.array([[float(r[qx]), float(r[qy])] for r in qrows])
    obj_cols = objects.columns
    dcol = "dist_m" if metric == "sphere" else "dist_sq"

    out_schema = ", ".join(
        [f"`{query_id}` {queries.schema[query_id].dataType.simpleString()}"]
        + [f"`{c}` {objects.schema[c].dataType.simpleString()}" for c in obj_cols]
        + [f"{dcol} double"]
    )

    chunk = _QUERY_CHUNK

    def gen(batches):
        for b in batches:
            ox = b[obj_x].to_numpy(dtype=np.float64)
            oy = b[obj_y].to_numpy(dtype=np.float64)
            kk = min(k, len(ox))
            # queries in fixed-size chunks: a chunk × batch distance block
            # per step, never all queries × the batch
            for s in range(0, len(q_xy), chunk):
                qc = q_xy[s:s + chunk]
                if metric == "sphere":
                    rad = _RAD
                    dlat = (oy[None, :] - qc[:, 1:2]) * rad
                    dlon = (ox[None, :] - qc[:, 0:1]) * rad
                    a = (
                        np.sin(dlat / 2) ** 2
                        + np.cos(qc[:, 1:2] * rad)
                        * np.cos(oy[None, :] * rad)
                        * np.sin(dlon / 2) ** 2
                    )
                    d = 2.0 * _EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
                else:
                    d = (ox[None, :] - qc[:, 0:1]) ** 2 + (
                        oy[None, :] - qc[:, 1:2]
                    ) ** 2
                # keep EVERY row at distance <= the local kth value (not an
                # arbitrary argpartition cut): candidates tied at the kth
                # distance must all survive so the deterministic global
                # window — ordered by (distance, object columns) — picks
                # the winners
                kth = np.partition(d, kk - 1, axis=1)[:, kk - 1 : kk]
                qi, oi = np.nonzero(d <= kth)
                rows = {query_id: np.asarray(q_ids)[qi + s]}
                for c in obj_cols:
                    rows[c] = b[c].to_numpy()[oi]
                rows[dcol] = d[qi, oi]
                yield pd.DataFrame(rows)

    cand = objects.mapInPandas(gen, schema=out_schema)
    order_cols = [c for c in obj_cols if c not in (obj_x, obj_y)]
    w = Window.partitionBy(query_id).orderBy(
        F.col(dcol).asc(), *[F.col(c).asc() for c in order_cols]
    )
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )


def knn_join_obj_broadcast(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
    metric: str = "euclid",
    max_object_rows: int = 2_000_000,
) -> DataFrame:
    """Broadcast-OBJECT-side kNN join (``BroadcastObjectSideKNNJoinExec``):
    a small object table against a huge query stream, whatever its size
    estimate — the index path :func:`knn_join` takes by Spark's broadcast
    rule (:func:`broadcast_index.knn_join`, at the default ``level``). The
    object table is collected once through Arrow (at most
    ``max_object_rows``, else ``ValueError``), indexed on the driver, and
    the queries stream through one ``mapInArrow``: zero shuffle, the same
    output as ``knn_join`` (row_number ties by the object columns).
    ``metric='sphere'`` ranks every object by haversine meters
    (``dist_m``). Each query row is ranked on its own, so ``query_id`` is
    not read."""
    ot = objects.limit(max_object_rows + 1).toArrow()
    if ot.num_rows > max_object_rows:
        raise ValueError(
            f"knn_join_obj_broadcast: object side exceeds max_object_rows="
            f"{max_object_rows}; use knn_join (k-ring path) or raise the limit"
        )
    if not ot.num_rows:
        raise ValueError("knn_join_obj_broadcast requires a non-empty object side")
    return broadcast_index.knn_join(
        queries, objects, k, level=7, qx=qx, qy=qy, obj_x=obj_x, obj_y=obj_y,
        metric=metric, table=ot)


def knn_join(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    level: int = 7,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
    include_ties: bool = False,
    initial_ring: int = 1,
    max_rounds: int = 32,
    exclude_pair: tuple[str, str] | None = None,
    metric: str = "euclid",
) -> DataFrame:
    """Exact kNN join. Returns query columns + object columns + ``dist_sq``
    + ``knn_rank`` (1-based). With ``include_ties`` rows tied with the kth
    distance are all kept (reference tie semantics,
    ``InMemoryKNNJoinIterator.java:123-154``); otherwise ties break by the
    object-id ordering column for determinism.

    ``exclude_pair=(qcol, ocol)`` drops candidates with ``qcol == ocol``
    BEFORE ranking — the self-exclusion a kNN *self*-join needs (excluding
    after ranking under-counts when >k coincident points exist).

    ``metric='sphere'`` ranks by haversine METERS (``dist_m`` replaces
    ``dist_sq``) — the reference's ``DistanceMetric.HAVERSINE``
    (``KnnJoinIndexJudgement.java:49``). The probe disk WRAPS in longitude
    (cyclic pmod, like ``distance_geo``), so antimeridian neighbors are
    found at ring cost, not full-grid cost. Completeness bound (exact):
    an object outside the wrapped disk is either ≥ ring cells away in
    LATITUDE (distance ≥ R·Δφ — haversine is minimized at Δλ=0), or ≥ ring
    cells away in cyclic LONGITUDE (distance ≥ 2R·cos(φ_max)·sin(Δλ/2)
    with φ_max the largest |lat| in the disk's lat band); once the ring
    covers the half-circumference only the latitude bound applies. Near
    the poles cos(φ_max) → 0 and resolution falls back to the latitude
    bound — conservative, never wrong."""
    if (
        metric == "euclid"
        and all(isinstance(df.schema[c].dataType, DoubleType)
                for df, c in ((queries, qx), (queries, qy), (objects, obj_x), (objects, obj_y)))
        and broadcast_index.indexable(objects)
    ):
        return broadcast_index.knn_join(
            queries, objects, k, level, qx, qy, obj_x, obj_y,
            include_ties, initial_ring, max_rounds, exclude_pair)
    obj_order = [c for c in objects.columns if c not in (obj_x, obj_y)]
    qcols = queries.columns
    # Geodesic metrics probe much wider disks (the longitude ring scales
    # by 1/cos φ), so their map-side probes are CPU-heavy enough that the
    # object cache must be spread across the configured parallelism
    # rather than pinned to the source's input-split count. For euclid
    # the probes are cheap and the extra shuffle measurably loses —
    # cache the scan partitions as-is.
    objects_c = objects.withColumn(
        "cell", cells.cell_id(F.col(obj_x), F.col(obj_y), level)
    )
    if metric in ("sphere", "spheroid"):
        npart = int(
            objects.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        objects_c = objects_c.repartition(npart)
    objects_c = objects_c.persist()
    n_obj = objects_c.count()  # materialize once; reused every round

    min_dim = cells.min_cell_dim(level)
    ch, cw = cells.cell_height(level), cells.cell_width(level)
    n_side = 1 << level
    geodesic = metric in ("sphere", "spheroid")
    # exclusion bounds must LOWER-bound the metric: haversine uses the mean
    # radius; the Andoyer spheroid distance is 2aw·(1+corr) with the
    # correction term bounded by |corr| ≤ f·(3R+1)/2·min(cos²F/cos²λ,
    # sin²G/sin²λ) ≤ 4f, so the SPHEROID metric reuses the sphere bounds
    # with radius a·(1−5f) — strictly below every possible Andoyer arc
    # (≈1.7% looser rings than the sphere path; correctness over economy)
    r_bound = _EARTH_RADIUS_M if metric != "spheroid" else _WGS84_A * (1.0 - 5.0 * _WGS84_F)
    dcol = "dist_m" if geodesic else "dist_sq"
    results: list[DataFrame] = []
    # density-sized first ring: aim for ~4k expected candidates so ≥90% of
    # queries resolve in round 1 (each extra round costs one checkpoint job
    # + a count job). Uses the count we already ran — no extra job, no
    # correctness impact (the completeness bound is unchanged).
    ring0 = broadcast_index.first_ring(n_obj, k, level, initial_ring)
    if geodesic:
        # high-latitude queries need a wider LONGITUDE disk before the
        # x-bound (∝ cos φ) can certify the kth distance: scale the initial
        # ring by 1/cos(lat) so polar queries also resolve in round 1
        # instead of doubling through extra rounds
        scaled = F.least(
            F.lit(n_side),
            F.ceil(
                F.lit(float(ring0))
                / F.greatest(F.cos(F.radians(F.col(qy))), F.lit(2.0 / n_side))
            ),
        )
        # if the scaled disk's lat band touches the pole, cos(φ_max) = 0
        # kills the x-bound and round 1 can NEVER certify — jump the
        # LONGITUDE ring straight to the half-ring (full wrapped lon
        # coverage), where only the y-bound applies. The LATITUDE ring
        # (_ring_y) stays at the density-scaled size: the asymmetric disk
        # keeps polar candidate volume proportional to the lat band the
        # y-bound actually needs, instead of a square (n/2)² blow-up
        polar = F.abs(F.col(qy)) + (scaled + 1) * F.lit(ch) >= F.lit(90.0)
        ring_expr = F.when(
            polar, F.greatest(scaled, F.lit(float(n_side // 2)))
        ).otherwise(scaled).cast("int")
        unresolved = queries.withColumn("_ring", ring_expr).withColumn(
            "_ring_y", scaled.cast("int")
        )
    else:
        unresolved = queries.withColumn("_ring", F.lit(ring0))
    rank_fn = F.rank() if include_ties else F.row_number()

    if include_ties:
        # rank() over distance ONLY: every row tied with the kth
        # distance shares its rank and survives the <= k filter
        # (InMemoryKNNJoinIterator.java:123-154 tie expansion)
        w = Window.partitionBy(query_id).orderBy(F.col(dcol).asc())
    else:
        w = Window.partitionBy(query_id).orderBy(
            F.col(dcol).asc(), *[F.col(c).asc() for c in obj_order]
        )
    wq = Window.partitionBy(query_id)

    # per-query completeness bound, evaluated PER ROW on the ranked
    # candidates (no separate stats aggregation / join — one window pass):
    # kth distance ≤ bound(ring) guarantees no closer object outside the
    # disk; a disk covering the whole grid is complete by definition
    rr = F.col("_ring").cast("double")
    if geodesic:
        # the x-disk WRAPS (cyclic longitude): excluded-by-x objects have
        # cyclic lon separation ≥ ring·cell_w; once ring ≥ n/2 the full lon
        # ring is covered and only the latitude bound applies. An object
        # outside the ASYMMETRIC disk is either ≥ _ring_y cells away in
        # latitude (≥ y_bound) or ≥ _ring cells in cyclic longitude
        # (≥ x_bound) — each axis uses its own ring
        ry = F.col("_ring_y").cast("double")
        r_earth = F.lit(r_bound)
        y_bound = r_earth * (ry * F.lit(ch * _RAD))
        phi_max = F.least(F.lit(90.0), F.abs(F.col(qy)) + (ry + 1) * F.lit(ch))
        cmin = F.cos(phi_max * F.lit(_RAD))
        ang = F.least(rr * F.lit(cw), F.lit(180.0))
        x_bound = F.lit(2.0) * r_earth * cmin * F.sin(ang * F.lit(_RAD) / 2)
        bound = F.when(rr >= n_side // 2, y_bound).otherwise(
            F.least(y_bound, x_bound)
        )
    else:
        bound = (rr * F.lit(min_dim)) * (rr * F.lit(min_dim))
    if geodesic:
        # full coverage of the asymmetric disk: wrapped longitude covers
        # at the half-ring, latitude needs the full ring
        full_cover = (F.col("_ring") >= n_side // 2) & (
            F.col("_ring_y") >= n_side
        )
    else:
        full_cover = F.col("_ring") >= n_side
    done_expr = (
        (F.col("_cnt") >= k) & (F.col("_kth") <= bound)
    ) | full_cover

    rounds: list[DataFrame] = []  # each round's localCheckpoint frames
    try:
        for _ in range(max_rounds):
            disk = _disk_join(unresolved, objects_c, level, qx, qy, obj_x, obj_y, metric)
            if exclude_pair is not None:
                disk = disk.filter(F.col(exclude_pair[0]) != F.col(exclude_pair[1]))
            # rank window + count/max windows share the same partitioning →
            # one shuffle; the lazy localCheckpoint materializes inside the
            # count job below — ONE pass over the data per round (round 1 of
            # the old shape ran 3 jobs: results checkpoint, nxt checkpoint,
            # count)
            cand = (
                disk
                .withColumn("knn_rank", rank_fn.over(w))
                .filter(F.col("knn_rank") <= k)
                .withColumn("_cnt", F.count(F.lit(1)).over(wq))
                .withColumn("_kth", F.max(dcol).over(wq))
                .withColumn("_done", done_expr)
                .localCheckpoint(eager=False)
            )
            rounds.append(cand)
            results.append(
                cand.filter(F.col("_done")).drop("_cnt", "_kth", "_done")
            )

            # adaptive growth: with ≥k candidates the kth distance is an upper
            # bound on the true kth ⇒ size the ring so bound(ring) ≥ kth; with
            # <k candidates grow 4× blind
            extra_aggs = (
                [F.first("_ring_y").alias("_ry")] if geodesic else []
            )
            notdone = cand.filter(~F.col("_done")).groupBy(query_id).agg(
                *[F.first(c).alias(c) for c in qcols if c != query_id],
                F.first("_cnt").alias("_cnt"),
                F.first("_kth").alias("_kth"),
                F.first("_ring").alias("_r"),
                *extra_aggs,
            )
            if geodesic:
                kth = F.col("_kth")
                ring_y = kth / F.lit(r_bound * ch * _RAD)
                phi_max_g = F.least(
                    F.lit(90.0), F.abs(F.col(qy)) + (F.col("_r") + 1) * F.lit(ch)
                )
                cmin_g = F.greatest(F.cos(phi_max_g * F.lit(_RAD)), F.lit(1e-12))
                ang_needed = (
                    F.lit(2.0 / _RAD)
                    * F.asin(F.least(F.lit(1.0), kth / (F.lit(2.0) * F.lit(r_bound) * cmin_g)))
                )
                ring_x = ang_needed / F.lit(cw)
                # each axis grows by its OWN requirement: certification needs
                # min(y_bound(_ring_y), x_bound(_ring)) >= kth, i.e. both
                grown = F.least(
                    F.lit(float(n_side)),
                    F.greatest(F.ceil(ring_x) + 1,
                               F.col("_r").cast("double") * 2),
                )
                grown_y = F.least(
                    F.lit(float(n_side)),
                    F.greatest(F.ceil(ring_y) + 1,
                               F.col("_ry").cast("double") * 2),
                )
                # near-pole: the x-bound is capped at 2R·cos(φ_max); if even
                # that ceiling cannot certify kth, jump straight to the
                # half-ring (full wrapped longitude coverage — beyond it only
                # the latitude bound matters) instead of doubling through
                # useless intermediate rounds
                hopeless_x = F.lit(2.0) * F.lit(r_bound) * cmin_g < kth
                grown = F.when(
                    hopeless_x, F.greatest(grown, F.lit(float(n_side // 2)))
                ).otherwise(grown)
            else:
                grown = F.ceil(F.sqrt(F.col("_kth")) / F.lit(min_dim)) + 1
            remaining = notdone.withColumn(
                "_ring",
                F.when(F.col("_cnt") >= k, grown)
                .otherwise(F.col("_r") * 4)
                .cast("int"),
            )
            if geodesic:
                remaining = remaining.withColumn(
                    "_ring_y",
                    F.when(F.col("_cnt") >= k, grown_y)
                    .otherwise(F.col("_ry") * 4)
                    .cast("int"),
                ).drop("_ry")
            remaining = remaining.drop("_cnt", "_kth", "_r")
            # queries with ZERO candidates produce no cand row: widen them too
            # (unless their disk already covered the whole grid — then there is
            # genuinely nothing to return and they are done)
            not_covered = (
                (F.col("_ring") < n_side // 2) | (F.col("_ring_y") < n_side)
                if geodesic
                else F.col("_ring") < n_side
            )
            missing = (
                unresolved.join(cand, query_id, "left_anti")
                .filter(not_covered)
                .withColumn("_ring", (F.col("_ring") * 4).cast("int"))
            )
            if geodesic:
                missing = missing.withColumn(
                    "_ring_y", (F.col("_ring_y") * 4).cast("int")
                )
            nxt = remaining.unionByName(missing).localCheckpoint(eager=False)
            rounds.append(nxt)
            n_rem = nxt.count()  # materializes cand + nxt checkpoints (1 job)
            unresolved = nxt
            if n_rem == 0:
                unresolved = None
                break

        if unresolved is not None:
            raise RuntimeError("knn_join failed to converge (max_rounds exceeded)")
    except BaseException:
        # no result will read the rounds' checkpoints: drop their blocks
        # (on success the returned DataFrame still reads them)
        for r in rounds:
            r._jdf.queryExecution().logical().rdd().unpersist(False)
        raise
    finally:
        # released on every exit path, including the max_rounds error: the
        # rounds' checkpoints hold what the result needs, not this cache
        objects_c.unpersist()
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.drop("_ring", "_ring_y")


def knn_join_approx(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    level: int = 7,
    ring: int = 1,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
) -> DataFrame:
    """APPROXIMATE kNN join (reference: the approximate-distance join mode
    of ``KNNJoinExec.scala:55``) — ONE fixed-ring disk pass, no
    completeness iteration:

    * each query joins objects in its (2·ring+1)² cell neighborhood at
      ``level`` and keeps the k nearest AMONG THOSE CANDIDATES;
    * error bound: a returned rank-i neighbor can be wrong only if the
      true rank-i neighbor lies outside the disk, i.e. farther than
      ``ring·min(cell_w, cell_h)`` — the result is EXACT whenever the
      true kth distance is under that bound, and each reported distance
      is within one disk diameter of the true one otherwise;
    * queries with < k in-disk candidates return fewer rows (they are the
      signal to re-run exact ``knn_join``).

    At 100 TB this is the single-shuffle fast path: one equi-join on the
    cell key + one windowed top-k, no per-round count jobs, no
    checkpoint loop — and it is fully SQL-expressible, so unlike the
    exact path it carries a complete value oracle."""
    obj_order = [c for c in objects.columns if c not in (obj_x, obj_y)]
    objects_c = objects.withColumn(
        "cell", cells.cell_id(F.col(obj_x), F.col(obj_y), level)
    )
    qs = queries.withColumn("_ring", F.lit(int(ring)))
    disk = _disk_join(qs, objects_c, level, qx, qy, obj_x, obj_y)
    w = Window.partitionBy(query_id).orderBy(
        F.col("dist_sq").asc(), *[F.col(c).asc() for c in obj_order]
    )
    return (
        disk.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .drop("_ring")
    )
