"""Broadcast index joins: index the small side once, stream the big side.

Reference: Sedona's planner runs no partitioned join when one side is
small. ``BroadcastIndexJoinExec`` broadcasts that side as an index and
streams the other side past it; ``BroadcastObjectSideKNNJoinExec`` does
the same for the kNN join with the object side indexed. Both are chosen
under Spark's own broadcast size rule (``JoinQueryDetector.scala:191-202``).

The rule (:func:`indexable`): the small side is a batch DataFrame whose
optimizer size estimate is at most ``spark.sql.autoBroadcastJoinThreshold``;
``-1`` turns the path off. It is the rule under which Spark broadcasts the
zone cover of the cell plan, so it adds no option. A ``createDataFrame``
over local rows (a ``LogicalRDD``) has no estimate (``Long.MaxValue``) and
a streaming side is never collected: both keep the cell plan.

When the rule holds, the small side is collected once through Arrow,
indexed on the driver at the call's grid ``level`` and shipped in the
closure of ONE ``mapInArrow`` over the big side, which looks up candidates
and runs the exact refine per Arrow batch: no cover explode, no shuffle,
no ring sent per candidate and no kNN round job.

* :func:`pip_join` — zones sorted into a CSR index of (cover cell, zone)
  pairs at ``level`` (the cell plan's clamped cover, ``cells.cover_bbox``);
  each point batch finds its candidates by ``searchsorted`` on its home
  cell, keeps those inside the zone envelope (``st.env_contains_point``)
  and classifies them with the grouped ring kernels. The candidates are
  cover ∩ envelope, the set the cell join builds, so the rows, column
  names, types and order are the cell plan's.
* :func:`knn_join` — objects sorted by the tie-break columns, then by grid
  cell at ``level``; each query batch searches cell rings inside the task
  with the rounds' own first ring, growth and completeness bound (kth ≤
  (ring·min_cell_dim)² or the disk covers the grid), so every query sees
  the disks it sees in the rounds plan and gets the same rows.

Memory per task: candidates are sparse (point, zone) or (query, object)
pairs, and kNN queries are processed in groups of at most
:data:`_PAIR_BUDGET` candidate pairs (one query alone may exceed it by its
own candidates, at most the object side). No task builds a queries ×
objects or zones × batch matrix.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from sedona_spark import cells
from sedona_spark.functions.st_measures import _EARTH_RADIUS_M
from sedona_spark.geometry import kernels

_ENV = ("xmin", "ymin", "xmax", "ymax")
# columns the cell plan drops from a point × zone join's output
_PIP_DROPPED = ("cell", *_ENV)
# candidate (query, object) pairs one kNN step holds at once
_PAIR_BUDGET = 1 << 18
_RAD = math.pi / 180.0


def indexable(df: DataFrame) -> bool:
    """Spark's broadcast size rule for ``df`` as the indexed side: batch,
    and its optimizer estimate is within ``autoBroadcastJoinThreshold``
    (``-1`` disables)."""
    if df.isStreaming:
        return False
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit < 0:
        return False
    return 0 <= int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) <= limit


def _floats(col) -> np.ndarray:
    """Arrow numeric column → float64 numpy, NULL → NaN."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.float64)


def _one_batch(table: pa.Table) -> pa.RecordBatch:
    return pa.record_batch(
        [c.combine_chunks() for c in table.columns], schema=table.schema)


def _expand(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-item position ranges [lo, hi) → (item, position) pairs."""
    cnt = hi - lo
    item = np.repeat(np.arange(len(lo)), cnt)
    return item, lo[item] + kernels._local_index(cnt)


def _grid_key(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Row-major grid index gx·2^level + gy — the order of the cell ids."""
    return cells.np_grid_x(x, level) * (1 << level) + cells.np_grid_y(y, level)


# ---------------------------------------------------------------------------
# point × zone
# ---------------------------------------------------------------------------


def pip_join(
    points: DataFrame, zones: DataFrame, geom: str, multi: bool,
    boundary: bool, level: int, x: str, y: str,
) -> DataFrame:
    """Point × zone join with ``zones`` (envelope in ``xmin..ymax``) as the
    broadcast index: pairs whose point lies in the zone's envelope and
    classifies interior (or on the boundary when ``boundary``) against
    ``geom`` — a packed ring, or with ``multi`` a ring list under the
    even-odd rule. Output: the point columns, then the zone columns,
    without ``cell`` and ``xmin..ymax``."""
    zt = zones.toArrow()
    env = np.column_stack([_floats(zt.column(c)) for c in _ENV]).reshape(-1, 4)
    live = ~np.isnan(env).any(axis=1)  # NULL or empty geometry: no cover
    gx0, gx1 = cells.np_grid_x(env[:, 0], level), cells.np_grid_x(env[:, 2], level)
    gy0, gy1 = cells.np_grid_y(env[:, 1], level), cells.np_grid_y(env[:, 3], level)
    ny = gy1 - gy0 + 1
    n_cover = np.where(live, (gx1 - gx0 + 1) * ny, 0)
    zone_of, local = _expand(np.zeros_like(n_cover), n_cover)
    key = (gx0[zone_of] + local // ny[zone_of]) * (1 << level) + gy0[zone_of] + local % ny[zone_of]
    order = np.argsort(key, kind="stable")
    cover_key, cover_zone = key[order], zone_of[order]

    shapes = zt.column(geom).to_numpy(zero_copy_only=False)
    if multi:
        edges = kernels.row_ringlist_edges(
            [g if g is not None and ok else [] for g, ok in zip(shapes, live)])
    else:
        edges = kernels.row_ring_edges(
            [r if r is not None and ok else np.empty(0) for r, ok in zip(shapes, live)])

    point_cols = [c for c in points.columns if c not in _PIP_DROPPED]
    zone_cols = [c for c in zt.column_names if c not in _PIP_DROPPED]
    zb = _one_batch(zt.select(zone_cols))
    schema = StructType(
        [points.schema[c] for c in point_cols] + [zones.schema[c] for c in zone_cols])

    def probe(batches):
        for b in batches:
            px, py = _floats(b.column(x)), _floats(b.column(y))
            home = _grid_key(px, py, level)
            pt, pos = _expand(np.searchsorted(cover_key, home, "left"),
                              np.searchsorted(cover_key, home, "right"))
            zi = cover_zone[pos]
            e = env[zi]
            qx, qy = px[pt], py[pt]
            inbox = (qx >= e[:, 0]) & (qx <= e[:, 2]) & (qy >= e[:, 1]) & (qy <= e[:, 3])
            pt, zi = pt[inbox], zi[inbox]
            cls = kernels.points_vs_row_edges_pip(edges, zi, px[pt], py[pt])
            hit = cls >= kernels.PIP_BOUNDARY if boundary else cls == kernels.PIP_IN
            if hit.any():
                left = b.select(point_cols).take(pt[hit])
                right = zb.take(zi[hit])
                yield pa.RecordBatch.from_arrays(
                    left.columns + right.columns, names=point_cols + zone_cols)

    return points.mapInArrow(probe, schema)


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def first_ring(n_obj: int, k: int, level: int, initial_ring: int) -> int:
    """The rounds plan's density-sized first ring: about 4k expected
    candidates, so most queries resolve in one round."""
    n_side = 1 << level
    exp_per_cell = max(n_obj / float(n_side * n_side), 1e-9)
    ring0 = int(math.ceil((math.sqrt(4.0 * k / exp_per_cell) - 1.0) / 2.0))
    return max(max(1, int(initial_ring)), min(ring0, n_side))


def knn_join(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    level: int,
    qx: str,
    qy: str,
    obj_x: str,
    obj_y: str,
    include_ties: bool = False,
    initial_ring: int = 1,
    max_rounds: int = 32,
    exclude_pair: tuple[str, str] | None = None,
    metric: str = "euclid",
    table: pa.Table | None = None,
) -> DataFrame:
    """kNN join with ``objects`` as the broadcast index (``table``: the
    object side already collected through Arrow). Output: the query
    columns, the object columns, ``dist_sq`` (``dist_m`` for
    ``metric='sphere'``), ``knn_rank int``; ties break by the object
    columns other than ``obj_x``/``obj_y`` (``row_number``), or with
    ``include_ties`` every row tied with the kth distance stays (``rank``).
    ``exclude_pair=(qcol, ocol)`` drops pairs with equal values before
    ranking. Euclidean queries search cell rings with the rounds plan's
    bound; ``sphere`` compares every object (haversine in numpy). Each
    query row is ranked on its own; the rounds plan ranks per query id,
    which gives the same rows while query ids are unique."""
    if metric not in ("euclid", "sphere"):
        raise ValueError(f"unsupported broadcast kNN metric {metric!r}")
    ot = objects.toArrow() if table is None else table
    n_obj = ot.num_rows
    n_side = 1 << level
    min_dim = cells.min_cell_dim(level)
    ring0 = n_side if metric == "sphere" else first_ring(n_obj, k, level, initial_ring)
    tie_cols = [c for c in objects.columns if c not in (obj_x, obj_y)]
    if tie_cols:  # ascending, NULLs first: the rounds window's order
        ot = ot.take(pc.sort_indices(
            ot, sort_keys=[(c, "ascending") for c in tie_cols], null_placement="at_start"))
    ox_all, oy_all = _floats(ot.column(obj_x)), _floats(ot.column(obj_y))
    # objects without finite coordinates have no cell in the rounds plan
    tie = np.flatnonzero(np.isfinite(ox_all) & np.isfinite(oy_all))
    obj_key = _grid_key(ox_all[tie], oy_all[tie], level)
    by_cell = np.argsort(obj_key, kind="stable")
    obj_key, tie = obj_key[by_cell], tie[by_cell].astype(np.int32)
    ob = _one_batch(ot.take(tie))  # cell order; tie[j] = its tie-break rank
    dcol = "dist_m" if metric == "sphere" else "dist_sq"
    qcols, ocols = queries.columns, objects.columns
    schema = StructType(
        [queries.schema[c] for c in qcols] + [objects.schema[c] for c in ocols]
        + [StructField(dcol, DoubleType()), StructField("knn_rank", IntegerType(), False)])

    def distances(qxv, qyv, ox, oy):
        if metric == "sphere":
            dlat = (oy - qyv) * _RAD
            dlon = (ox - qxv) * _RAD
            a = (np.sin(dlat / 2) ** 2
                 + np.cos(qyv * _RAD) * np.cos(oy * _RAD) * np.sin(dlon / 2) ** 2)
            return 2.0 * _EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
        dx, dy = qxv - ox, qyv - oy
        return dx * dx + dy * dy

    def disk_ranges(bx, by, ring):
        """(query, lo, hi) object position ranges of each query's clamped
        cell disk: one per grid column, one in all when it spans every row."""
        cx, cy = cells.np_grid_x(bx, level), cells.np_grid_y(by, level)
        gx0, gx1 = np.maximum(cx - ring, 0), np.minimum(cx + ring, n_side - 1)
        gy0, gy1 = np.maximum(cy - ring, 0), np.minimum(cy + ring, n_side - 1)
        full = (gy0 == 0) & (gy1 == n_side - 1)
        q, col = _expand(np.zeros_like(gx0), np.where(full, 1, gx1 - gx0 + 1))
        col = col + gx0[q]
        hi_key = np.where(full[q], gx1[q], col) * n_side + gy1[q]
        return (q, np.searchsorted(obj_key, col * n_side + gy0[q], "left"),
                np.searchsorted(obj_key, hi_key, "right"))

    def rank_pairs(n, q, lo, hi, b, qrow, bx, by, oxy):
        """Rank the candidates of ``n`` queries (``q``: each range's query)
        and keep ranks ≤ k: (query, object, distance, rank) rows, then each
        query's kept count and kth distance."""
        r_of, pos = _expand(lo, hi)
        qi = q[r_of]
        if exclude_pair is not None:
            differ = pc.not_equal(b.column(exclude_pair[0]).take(qrow[qi]),
                                  ob.column(exclude_pair[1]).take(pos))
            keep = pc.fill_null(differ, False).to_numpy(zero_copy_only=False)
            qi, pos = qi[keep], pos[keep]
        d = distances(bx[qi], by[qi], oxy[0][pos], oxy[1][pos])
        order = np.lexsort((tie[pos], d, qi))
        qi, pos, d = qi[order], pos[order], d[order]
        idx = np.arange(len(qi))
        new_q = np.ones(len(qi), dtype=bool)
        new_q[1:] = qi[1:] != qi[:-1]
        first = np.maximum.accumulate(np.where(new_q, idx, 0))
        if include_ties:
            new_d = new_q.copy()
            new_d[1:] |= d[1:] != d[:-1]
            rank = np.maximum.accumulate(np.where(new_d, idx, 0)) - first + 1
        else:
            rank = idx - first + 1
        kept = rank <= k
        qi, pos, d, rank = qi[kept], pos[kept], d[kept], rank[kept]
        kth = np.full(n, -np.inf)
        np.maximum.at(kth, qi, d)
        return (qi, pos, d, rank), np.bincount(qi, minlength=n), kth

    def probe(batches):
        oxy = _floats(ob.column(obj_x)), _floats(ob.column(obj_y))
        for b in batches:
            bx, by = _floats(b.column(qx)), _floats(b.column(qy))
            # a query without finite coordinates has no cell: no rows
            qrow = np.flatnonzero(np.isfinite(bx) & np.isfinite(by))
            ring = np.full(len(qrow), ring0, dtype=np.int64)
            out = []
            for _ in range(max_rounds):
                if not len(qrow):
                    break
                q, lo, hi = disk_ranges(bx[qrow], by[qrow], ring)
                n_cand = np.bincount(q, weights=hi - lo, minlength=len(qrow))
                # contiguous query groups of about _PAIR_BUDGET candidates
                group = ((np.cumsum(n_cand) - n_cand) // _PAIR_BUDGET).astype(np.int64)
                bounds = np.flatnonzero(np.diff(group, prepend=-1, append=group[-1] + 1))
                done = np.zeros(len(qrow), dtype=bool)
                grown = ring * 4
                for s, e in zip(bounds[:-1], bounds[1:]):
                    rs, re_ = np.searchsorted(q, [s, e])
                    rows, cnt, kth = rank_pairs(
                        e - s, q[rs:re_] - s, lo[rs:re_], hi[rs:re_],
                        b, qrow[s:e], bx[qrow[s:e]], by[qrow[s:e]], oxy)
                    r = ring[s:e]
                    bound = (r * min_dim) * (r * min_dim)
                    ok = ((cnt >= k) & (kth <= bound)) | (r >= n_side)
                    with np.errstate(invalid="ignore"):
                        need = np.ceil(np.sqrt(kth) / min_dim) + 1
                    done[s:e] = ok
                    grown[s:e] = np.where(cnt >= k, need, r * 4)
                    qi, pos, d, rank = rows
                    fin = ok[qi]
                    out.append((qrow[s:e][qi[fin]], pos[fin], d[fin], rank[fin]))
                qrow, ring = qrow[~done], grown[~done]
            if len(qrow):
                raise RuntimeError("knn_join failed to converge (max_rounds exceeded)")
            if not out:
                continue
            q, pos, d, rank = (np.concatenate(p) for p in zip(*out))
            if len(q):
                yield pa.RecordBatch.from_arrays(
                    b.select(qcols).take(q).columns + ob.take(pos).columns
                    + [pa.array(d, pa.float64()), pa.array(rank.astype(np.int32), pa.int32())],
                    names=qcols + ocols + [dcol, "knn_rank"])

    return queries.mapInArrow(probe, schema)
