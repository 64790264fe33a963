"""Vectorized computational-geometry kernels (pure numpy).

The reference delegates exact predicates to JTS
(``common/src/main/java/org/apache/sedona/common/Predicates.java:25-106``);
this engine has no JVM geometry library, so the exact refine step of every
join is a batch numpy kernel invoked from Arrow-batched pandas UDFs — never
per-row Python (BASELINE.json input_hint).

Conventions:

* a *ring* is a 1-D float64 array ``[x0, y0, x1, y1, ...]`` of polygon
  vertices, open or closed (a duplicated last vertex is dropped);
* batch inputs are a sequence of rings + aligned point/ring arrays;
* PIP classification is ternary: 0 = outside, 1 = on boundary, 2 = interior,
  so callers can express CONTAINS (interior only) vs COVERS/INTERSECTS
  (interior + boundary) — the boundary-semantics split the reference pins in
  ``SpatialPredicate.java:26-36`` and its on-boundary fixtures.
"""

from __future__ import annotations

import math

import numpy as np

PIP_OUT = 0
PIP_BOUNDARY = 1
PIP_IN = 2


def _flatten_rings(rings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """rings (sequence of 1-D [x0,y0,...] arrays) → (coords (M,2), offsets,
    lengths) with closed rings normalized to open vertex lists."""
    arrs = []
    lengths = np.empty(len(rings), dtype=np.int64)
    for i, r in enumerate(rings):
        a = np.asarray(r, dtype=np.float64).reshape(-1, 2)
        if len(a) >= 2 and a[0, 0] == a[-1, 0] and a[0, 1] == a[-1, 1]:
            a = a[:-1]
        arrs.append(a)
        lengths[i] = len(a)
    coords = (
        np.concatenate(arrs, axis=0) if arrs else np.empty((0, 2), dtype=np.float64)
    )
    offsets = np.zeros(len(rings), dtype=np.int64)
    if len(rings):
        np.cumsum(lengths[:-1], out=offsets[1:])
    return coords, offsets, lengths


def _edges(coords, offsets, lengths):
    """Per-vertex edge endpoints (a=vertex, b=next vertex w/ wraparound) and
    the ring-id of each edge."""
    total = int(lengths.sum())
    ring_id = np.repeat(np.arange(len(lengths)), lengths)
    idx = np.arange(total)
    local = idx - offsets[ring_id]
    nxt = offsets[ring_id] + (local + 1) % np.maximum(lengths[ring_id], 1)
    a = coords[idx]
    b = coords[nxt]
    return a, b, ring_id


def point_in_polygon_batch(rings, px, py) -> np.ndarray:
    """Ternary PIP for one (ring, point) per row — fully vectorized
    ray-casting with an exact on-boundary test.

    Crossing rule is the half-open ``(ay > py) != (by > py)`` form, immune
    to vertex-on-ray double counting.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(px)
    out = np.zeros(n, dtype=np.int8)
    if n == 0:
        return out
    coords, offsets, lengths = _flatten_rings(rings)
    if coords.shape[0] == 0:
        return out
    # empty/null rings classify PIP_OUT directly; they must not reach
    # reduceat (a trailing empty ring's offset == len(edges) → IndexError)
    valid = lengths > 0
    if not valid.all():
        idx = np.flatnonzero(valid)
        out[idx] = point_in_polygon_batch(
            [rings[i] for i in idx], px[idx], py[idx]
        )
        return out
    a, b, ring_id = _edges(coords, offsets, lengths)
    qx = px[ring_id]
    qy = py[ring_id]
    ax, ay = a[:, 0], a[:, 1]
    bx, by = b[:, 0], b[:, 1]

    # --- boundary: exact point-on-segment ---
    cross = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
    on_line = cross == 0.0
    within_x = (np.minimum(ax, bx) <= qx) & (qx <= np.maximum(ax, bx))
    within_y = (np.minimum(ay, by) <= qy) & (qy <= np.maximum(ay, by))
    on_seg = on_line & within_x & within_y

    # --- crossing count ---
    straddles = (ay > qy) != (by > qy)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = ax + (bx - ax) * (qy - ay) / (by - ay)
    crossing = straddles & (qx < x_at)

    seg_starts = offsets.copy()
    crossings = np.add.reduceat(crossing.astype(np.int64), seg_starts)
    boundary = np.add.reduceat(on_seg.astype(np.int64), seg_starts) > 0
    inside = crossings % 2 == 1
    out[inside] = PIP_IN
    out[boundary] = PIP_BOUNDARY
    return out


def points_in_one_polygon(ring, px, py) -> np.ndarray:
    """Ternary PIP of many points against ONE ring (range-query fast path —
    the analog of ``RangeQuery.SpatialRangeQuery`` refine,
    ``core/rangeJudgement/RangeFilter.java:27``)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    out = np.zeros(len(px), dtype=np.int8)
    if len(a) == 0 or len(px) == 0:
        return out
    b = np.roll(a, -1, axis=0)
    ax, ay = a[:, 0][None, :], a[:, 1][None, :]
    bx, by = b[:, 0][None, :], b[:, 1][None, :]
    qx, qy = px[:, None], py[:, None]

    cross = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
    on_seg = (
        (cross == 0.0)
        & (np.minimum(ax, bx) <= qx)
        & (qx <= np.maximum(ax, bx))
        & (np.minimum(ay, by) <= qy)
        & (qy <= np.maximum(ay, by))
    ).any(axis=1)

    straddles = (ay > qy) != (by > qy)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = ax + (bx - ax) * (qy - ay) / (by - ay)
    inside = (straddles & (qx < x_at)).sum(axis=1) % 2 == 1
    out[inside] = PIP_IN
    out[on_seg] = PIP_BOUNDARY
    return out


def row_ring_edges(rings):
    """Edges of ONE ring per row, flattened once: ``(a, b, row_off,
    row_len)`` with row ``r``'s edges at ``row_off[r] : row_off[r] +
    row_len[r]`` of the endpoint arrays ``a``/``b``."""
    coords, offsets, lengths = _flatten_rings(rings)
    a, b, _ = _edges(coords, offsets, lengths)
    return a, b, offsets, lengths


def row_ringlist_edges(ring_lists):
    """Edges of one MULTI-RING geometry per row (every ring with at least
    one vertex; a row's rings are contiguous), in the ``(a, b, row_off,
    row_len)`` form of :func:`row_ring_edges`."""
    n = len(ring_lists)
    rings, row_of_ring = _flatten_ring_lists(ring_lists)
    keep = [i for i, r in enumerate(rings) if r.size >= 4]
    coords, offsets, lengths = _flatten_rings([rings[i] for i in keep])
    a, b, _ = _edges(coords, offsets, lengths)
    row_len = np.zeros(n, dtype=np.int64)
    np.add.at(row_len, row_of_ring[keep], lengths)
    row_off = np.zeros(n, dtype=np.int64)
    np.cumsum(row_len[:-1], out=row_off[1:])
    return a, b, row_off, row_len


def points_vs_row_edges_pip(edges, row_of_point, px, py) -> np.ndarray:
    """Ternary PIP of many points against the edges of one row each
    (``edges`` from :func:`row_ring_edges` / :func:`row_ringlist_edges`;
    point ``i`` tests row ``row_of_point[i]``): even-odd crossing parity
    over all of the row's edges, boundary = on any edge. Each point meets
    only its row's edges, never a points × edges matrix."""
    a, b, row_off, row_len = edges
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    row_of_point = np.asarray(row_of_point, dtype=np.int64)
    m = len(px)
    out = np.zeros(m, dtype=np.int8)
    if m == 0:
        return out
    pair_counts = row_len[row_of_point]
    total = int(pair_counts.sum())
    if total == 0:
        return out
    pt_of_pair = np.repeat(np.arange(m), pair_counts)
    eidx = row_off[row_of_point][pt_of_pair] + _local_index(pair_counts)
    ax, ay = a[eidx, 0], a[eidx, 1]
    bx, by = b[eidx, 0], b[eidx, 1]
    qx, qy = px[pt_of_pair], py[pt_of_pair]
    cross = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
    on_seg = (
        (cross == 0.0)
        & (np.minimum(ax, bx) <= qx)
        & (qx <= np.maximum(ax, bx))
        & (np.minimum(ay, by) <= qy)
        & (qy <= np.maximum(ay, by))
    )
    straddles = (ay > qy) != (by > qy)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = ax + (bx - ax) * (qy - ay) / (by - ay)
    crossing = straddles & (qx < x_at)
    pt_off = np.zeros(m, dtype=np.int64)
    np.cumsum(pair_counts[:-1], out=pt_off[1:])
    valid = pair_counts > 0
    vo = pt_off[valid]
    crossings = np.zeros(m, dtype=np.int64)
    bnd = np.zeros(m, dtype=bool)
    crossings[valid] = np.add.reduceat(crossing.astype(np.int64), vo)
    bnd[valid] = np.add.reduceat(on_seg.astype(np.int64), vo) > 0
    out[crossings % 2 == 1] = PIP_IN
    out[bnd] = PIP_BOUNDARY
    return out


def _points_vs_row_rings_pip(rings, row_of_point, px, py) -> np.ndarray:
    """Ternary PIP of many points against ONE ring PER ROW; points map to
    rows via ``row_of_point``. Each ring is flattened ONCE — the
    one-(ring, point)-per-row form replicates a V-vertex ring V times and
    thrashes memory on high-vertex rings (measured 90 s → <1 s for 8 pairs
    of 1,000-vertex rings)."""
    if len(px) == 0:
        return np.zeros(0, dtype=np.int8)
    return points_vs_row_edges_pip(row_ring_edges(rings), row_of_point, px, py)


def _pip_prefiltered(rings, env, row_of_point, px, py) -> np.ndarray:
    """Grouped ternary PIP with a row-envelope prefilter: points outside
    the row's envelope are OUT with zero work."""
    row_of_point = np.asarray(row_of_point, dtype=np.int64)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=np.int8)
    if len(px) == 0:
        return out
    e = env[row_of_point]
    inbox = (px >= e[:, 0]) & (px <= e[:, 2]) & (py >= e[:, 1]) & (py <= e[:, 3])
    sel = np.flatnonzero(inbox)
    if len(sel):
        out[sel] = _points_vs_row_rings_pip(rings, row_of_point[sel], px[sel], py[sel])
    return out


def _segments_intersect(a1, a2, b1, b2) -> np.ndarray:
    """Vectorized segment-pair intersection (touching counts)."""

    def cr(o, p, q):
        return (p[:, 0] - o[:, 0]) * (q[:, 1] - o[:, 1]) - (p[:, 1] - o[:, 1]) * (
            q[:, 0] - o[:, 0]
        )

    d1 = cr(b1, b2, a1)
    d2 = cr(b1, b2, a2)
    d3 = cr(a1, a2, b1)
    d4 = cr(a1, a2, b2)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def on(o, p, q, d):
        return (
            (d == 0)
            & (np.minimum(o[:, 0], p[:, 0]) <= q[:, 0])
            & (q[:, 0] <= np.maximum(o[:, 0], p[:, 0]))
            & (np.minimum(o[:, 1], p[:, 1]) <= q[:, 1])
            & (q[:, 1] <= np.maximum(o[:, 1], p[:, 1]))
        )

    touch = (
        on(b1, b2, a1, d1) | on(b1, b2, a2, d2) | on(a1, a2, b1, d3) | on(a1, a2, b2, d4)
    )
    return proper | touch


def polygons_intersect_batch(rings_a, rings_b) -> np.ndarray:
    """Exact polygon-polygon INTERSECTS (touch counts), one pair per row.

    Two simple polygons intersect iff any vertex of one is in/on the other,
    or any pair of edges intersects. Vectorized over all candidate pairs of
    a batch; pairs arrive pre-filtered by the cell join + envelope test, so
    batch edge-pair blowup is bounded (lattice/zone polygons are ≤ dozens of
    vertices). Semantics match the refine step of the reference's range join
    (``JudgementBase.java:202-286``) for the INTERSECTS predicate.
    """
    n = len(rings_a)
    res = np.zeros(n, dtype=bool)
    if n == 0:
        return res
    ca, oa, la = _flatten_rings(rings_a)
    cb, ob, lb = _flatten_rings(rings_b)

    # any vertex of A in/on B (grouped PIP: each ring flattened once,
    # out-of-envelope vertices skipped)
    env_a = ring_envelope(rings_a)
    env_b = ring_envelope(rings_b)
    ring_rep_a = np.repeat(np.arange(n), la)  # row id per A-vertex
    if len(ring_rep_a):
        pip = _pip_prefiltered(rings_b, env_b, ring_rep_a, ca[:, 0], ca[:, 1])
        np.logical_or.at(res, ring_rep_a, pip > 0)
    ring_rep_b = np.repeat(np.arange(n), lb)
    if len(ring_rep_b):
        pip = _pip_prefiltered(rings_a, env_a, ring_rep_b, cb[:, 0], cb[:, 1])
        np.logical_or.at(res, ring_rep_b, pip > 0)

    # edge-pair crossings (catches crossing polygons with no contained
    # vertex) — bbox-prefiltered candidate pairs, never the full Va×Vb
    ea1, ea2, _ = _edges(ca, oa, la)
    eb1, eb2, _ = _edges(cb, ob, lb)
    res |= _pairwise_segment_hits(ea1, ea2, la, eb1, eb2, lb, n)
    return res


# ---------------------------------------------------------------------------
# multi-ring geometries (polygons with holes, MultiPolygon) — even-odd rule
# ---------------------------------------------------------------------------


def _flatten_ring_lists(ring_lists):
    """Sequence of ring-lists (one list per row) → (rings, row_of_ring)."""
    rings, row_of_ring = [], []
    for i, rl in enumerate(ring_lists):
        for r in rl:
            rings.append(np.asarray(r, dtype=np.float64))
            row_of_ring.append(i)
    return rings, np.asarray(row_of_ring, dtype=np.int64)


def _ring_crossings(rings, px, py) -> tuple[np.ndarray, np.ndarray]:
    """Per-ring ray-crossing COUNT (not parity) and on-boundary flag for one
    (ring, point) per row. Rings must be non-empty."""
    coords, offsets, lengths = _flatten_rings(rings)
    a, b, ring_id = _edges(coords, offsets, lengths)
    qx = px[ring_id]
    qy = py[ring_id]
    ax, ay = a[:, 0], a[:, 1]
    bx, by = b[:, 0], b[:, 1]
    cross = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
    on_seg = (
        (cross == 0.0)
        & (np.minimum(ax, bx) <= qx)
        & (qx <= np.maximum(ax, bx))
        & (np.minimum(ay, by) <= qy)
        & (qy <= np.maximum(ay, by))
    )
    straddles = (ay > qy) != (by > qy)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = ax + (bx - ax) * (qy - ay) / (by - ay)
    crossing = straddles & (qx < x_at)
    crossings = np.add.reduceat(crossing.astype(np.int64), offsets)
    boundary = np.add.reduceat(on_seg.astype(np.int64), offsets) > 0
    return crossings, boundary


def point_in_rings_batch(ring_lists, px, py) -> np.ndarray:
    """Ternary PIP of one point against one MULTI-RING geometry per row,
    even-odd rule: crossing parity summed over ALL rings. This is exactly
    right for polygons with holes (shell + hole rings: inside a hole = 2
    crossings = outside) and MultiPolygon (any shell = odd); boundary = on
    any ring. Matches JTS even-odd PIP over Polygon/MultiPolygon
    (``common/.../Predicates.java`` via RayCrossingCounter semantics)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(px)
    out = np.zeros(n, dtype=np.int8)
    if n == 0:
        return out
    rings, row_of_ring = _flatten_ring_lists(ring_lists)
    keep = [i for i, r in enumerate(rings) if r.size >= 4]
    if not keep:
        return out
    rings = [rings[i] for i in keep]
    row_of_ring = row_of_ring[keep]
    crossings, boundary = _ring_crossings(
        rings, px[row_of_ring], py[row_of_ring]
    )
    row_cross = np.bincount(row_of_ring, weights=crossings, minlength=n)
    row_bound = np.bincount(row_of_ring, weights=boundary, minlength=n) > 0
    out[(row_cross.astype(np.int64) % 2) == 1] = PIP_IN
    out[row_bound] = PIP_BOUNDARY
    return out


def _points_vs_row_ringlists_pip(ring_lists, row_of_point, px, py) -> np.ndarray:
    """Grouped ternary PIP against one MULTI-RING geometry per row (even-odd
    over all rings of the row), each ring flattened ONCE, with a per-row
    envelope prefilter — the multi-ring analog of
    :func:`_points_vs_row_rings_pip`."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    row_of_point = np.asarray(row_of_point, dtype=np.int64)
    out = np.zeros(len(px), dtype=np.int8)
    if len(px) == 0:
        return out
    edges = row_ringlist_edges(ring_lists)
    # rows without edges get a NaN envelope: every point fails the box
    e = _group_env(edges[0], edges[1], edges[3])[row_of_point]
    inbox = (px >= e[:, 0]) & (px <= e[:, 2]) & (py >= e[:, 1]) & (py <= e[:, 3])
    sel = np.flatnonzero(inbox)
    if len(sel):
        out[sel] = points_vs_row_edges_pip(edges, row_of_point[sel], px[sel], py[sel])
    return out


# ---------------------------------------------------------------------------
# linestrings
# ---------------------------------------------------------------------------


def _flatten_paths(paths):
    """Open polylines → (coords, offsets, lengths) WITHOUT closing them."""
    arrs = []
    lengths = np.empty(len(paths), dtype=np.int64)
    for i, p in enumerate(paths):
        a = np.asarray(p, dtype=np.float64).reshape(-1, 2)
        arrs.append(a)
        lengths[i] = len(a)
    coords = (
        np.concatenate(arrs, axis=0) if arrs else np.empty((0, 2), dtype=np.float64)
    )
    offsets = np.zeros(len(paths), dtype=np.int64)
    if len(paths):
        np.cumsum(lengths[:-1], out=offsets[1:])
    return coords, offsets, lengths


def _path_edges(coords, offsets, lengths):
    """Edges of open polylines: vertex i → i+1, NO wraparound. Returns
    (a, b, path_id_of_edge); paths with < 2 vertices contribute none."""
    n_edges = np.maximum(lengths - 1, 0)
    path_id = np.repeat(np.arange(len(lengths)), n_edges)
    starts = np.repeat(offsets, n_edges) + _local_index(n_edges)
    return coords[starts], coords[starts + 1], path_id


def _local_index(counts) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    off = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=off[1:])
    return np.arange(total) - np.repeat(off, counts)


def _group_env(a, b, counts) -> np.ndarray:
    """Per-row envelope [xmin, ymin, xmax, ymax] of edge endpoint arrays
    ``a``/``b`` ((E, 2) each) grouped by row with ``counts`` edges per row.
    Rows with zero edges get a NaN envelope (every bbox test fails)."""
    n = len(counts)
    env = np.full((n, 4), np.nan)
    valid = counts > 0
    if not valid.any():
        return env
    off = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=off[1:])
    vo = off[valid]
    env[valid, 0] = np.minimum.reduceat(np.minimum(a[:, 0], b[:, 0]), vo)
    env[valid, 1] = np.minimum.reduceat(np.minimum(a[:, 1], b[:, 1]), vo)
    env[valid, 2] = np.maximum.reduceat(np.maximum(a[:, 0], b[:, 0]), vo)
    env[valid, 3] = np.maximum.reduceat(np.maximum(a[:, 1], b[:, 1]), vo)
    return env


def _candidate_edge_pairs(ea1, ea2, counts_a, eb1, eb2, counts_b, n):
    """(ia, ib, row_of_pair) candidate edge pairs — GLOBAL indices into the
    flat edge arrays — surviving two bbox prune stages:

    1. each edge's bbox vs the opposing side's ROW envelope — pairs are
       only enumerated among the survivors, so peak memory scales with
       (surviving A edges)×(surviving B edges) per row, not the full
       Va×Vb (ADVICE r2: the old shape materialized every pair first);
    2. the per-pair bbox test.

    Two overlapping 1,000-vertex coastline rings that meet only near a
    corner now enumerate tens of pairs instead of 10⁶.
    """
    empty = np.empty(0, dtype=np.int64)
    row_a = np.repeat(np.arange(n), counts_a)
    row_b = np.repeat(np.arange(n), counts_b)
    env_a = _group_env(ea1, ea2, counts_a)
    env_b = _group_env(eb1, eb2, counts_b)

    def survivors(e1, e2, rows, opp_env):
        ex0 = np.minimum(e1[:, 0], e2[:, 0])
        ex1 = np.maximum(e1[:, 0], e2[:, 0])
        ey0 = np.minimum(e1[:, 1], e2[:, 1])
        ey1 = np.maximum(e1[:, 1], e2[:, 1])
        o = opp_env[rows]
        keep = (ex0 <= o[:, 2]) & (ex1 >= o[:, 0]) & (ey0 <= o[:, 3]) & (
            ey1 >= o[:, 1]
        )
        return np.flatnonzero(keep)

    ga = survivors(ea1, ea2, row_a, env_b)
    gb = survivors(eb1, eb2, row_b, env_a)
    if len(ga) == 0 or len(gb) == 0:
        return empty, empty, empty
    ca2 = np.bincount(row_a[ga], minlength=n)
    cb2 = np.bincount(row_b[gb], minlength=n)
    pair_counts = ca2 * cb2
    total = int(pair_counts.sum())
    if total == 0:
        return empty, empty, empty
    row_of_pair = np.repeat(np.arange(n), pair_counts)
    local = _local_index(pair_counts)
    off_a2 = np.zeros(n, dtype=np.int64)
    np.cumsum(ca2[:-1], out=off_a2[1:])
    off_b2 = np.zeros(n, dtype=np.int64)
    np.cumsum(cb2[:-1], out=off_b2[1:])
    ia = ga[off_a2[row_of_pair] + local // np.maximum(cb2[row_of_pair], 1)]
    ib = gb[off_b2[row_of_pair] + local % np.maximum(cb2[row_of_pair], 1)]
    a1, a2, b1, b2 = ea1[ia], ea2[ia], eb1[ib], eb2[ib]
    bbox_ok = (
        (np.minimum(a1[:, 0], a2[:, 0]) <= np.maximum(b1[:, 0], b2[:, 0]))
        & (np.minimum(b1[:, 0], b2[:, 0]) <= np.maximum(a1[:, 0], a2[:, 0]))
        & (np.minimum(a1[:, 1], a2[:, 1]) <= np.maximum(b1[:, 1], b2[:, 1]))
        & (np.minimum(b1[:, 1], b2[:, 1]) <= np.maximum(a1[:, 1], a2[:, 1]))
    )
    sub = np.flatnonzero(bbox_ok)
    return ia[sub], ib[sub], row_of_pair[sub]


def _pairwise_segment_hits(ea1, ea2, counts_a, eb1, eb2, counts_b, n):
    """OR-reduce segment-pair intersections within each row over the
    bbox-prefiltered candidate pairs (the guard that keeps high-vertex-count
    rows from paying the full Va×Vb exact-arithmetic cost)."""
    res = np.zeros(n, dtype=bool)
    ia, ib, rows = _candidate_edge_pairs(ea1, ea2, counts_a, eb1, eb2, counts_b, n)
    if len(ia):
        hit = _segments_intersect(ea1[ia], ea2[ia], eb1[ib], eb2[ib])
        np.logical_or.at(res, rows, hit)
    return res


def linestring_intersects_rings_batch(lines, ring_lists) -> np.ndarray:
    """Exact LineString × (multi)polygon INTERSECTS, one pair per row:
    any line vertex in/on the polygon (even-odd), or any line segment
    intersecting any ring edge (touch counts) — the JTS
    ``Predicates.intersects(LineString, Polygon)`` decomposition."""
    n = len(lines)
    res = np.zeros(n, dtype=bool)
    if n == 0:
        return res
    lc, lo, ll = _flatten_paths(lines)
    # line vertices in/on polygon (grouped PIP: rings flattened once)
    vert_row = np.repeat(np.arange(n), ll)
    if len(vert_row):
        pip = _points_vs_row_ringlists_pip(ring_lists, vert_row, lc[:, 0], lc[:, 1])
        np.logical_or.at(res, vert_row, pip > 0)
    # segment × ring-edge crossings
    la, lb, _ = _path_edges(lc, lo, ll)
    rings, row_of_ring = _flatten_ring_lists(ring_lists)
    if rings:
        rc, ro, rl = _flatten_rings(rings)
        ra, rb, ring_ids = _edges(rc, ro, rl)
        # regroup ring edges per ROW (a row may own several rings)
        edge_row = row_of_ring[ring_ids]
        order = np.argsort(edge_row, kind="stable")
        ra, rb = ra[order], rb[order]
        counts_r = np.bincount(edge_row, minlength=n)
        counts_l = np.maximum(ll - 1, 0)
        res |= _pairwise_segment_hits(la, lb, counts_l, ra, rb, counts_r, n)
    return res


def linestrings_intersect_batch(lines_a, lines_b) -> np.ndarray:
    """Exact LineString × LineString INTERSECTS (touch counts)."""
    n = len(lines_a)
    res = np.zeros(n, dtype=bool)
    if n == 0:
        return res
    ca, oa, la = _flatten_paths(lines_a)
    cb, ob, lb = _flatten_paths(lines_b)
    ea1, ea2, _ = _path_edges(ca, oa, la)
    eb1, eb2, _ = _path_edges(cb, ob, lb)
    return _pairwise_segment_hits(
        ea1, ea2, np.maximum(la - 1, 0), eb1, eb2, np.maximum(lb - 1, 0), n
    )


# ---------------------------------------------------------------------------
# polygon-pair predicate flags (exact for arbitrary SIMPLE rings)
# ---------------------------------------------------------------------------


def _boundary_span_classify(
    e1, e2, counts_e, hard, pe, pv, opp_e1, opp_e2, opp_rings, opp_env, n
):
    """Split each edge of the ``hard`` rows at the points where an opposing
    VERTEX lies on it, then classify every sub-segment by its midpoint's
    ternary PIP against the row's opposing ring.

    When a row has NO proper edge crossing, every contact point interior to
    an edge is an opposing vertex (two non-collinear segments meeting at
    interior points of both must cross properly; collinear-overlap span
    endpoints are vertices of one side), so each sub-segment lies wholly
    inside / on / outside the opposing polygon and the midpoint classifies
    it exactly.

    Sub-segments covered by a COLLINEAR opposing edge are marked ON
    algebraically (the covered-span bookkeeping below) instead of via the
    midpoint PIP: the computed midpoint of a collinear span is one rounding
    ulp off the opposing edge's line, so the PIP boundary test would miss
    it and the parity cast would classify it arbitrarily — exactly the
    equal-rings / shared-edge case this kernel must get right.

    ``(pe, pv)`` are bbox-surviving candidate (edge, opposing-edge) index
    pairs; the opposing vertex tested is ``opp_e1[pv]`` (each vertex is the
    start point of exactly one opposing edge, so starts cover all).
    Returns (mid_in, mid_out) bool arrays over rows.
    """
    mid_in = np.zeros(n, dtype=bool)
    mid_out = np.zeros(n, dtype=bool)
    row_e = np.repeat(np.arange(n), counts_e)
    he = np.flatnonzero(hard[row_e])  # global edge ids of hard rows
    if len(he) == 0:
        return mid_in, mid_out
    # base split params 0,1 for every hard edge (untouched edges get their
    # plain midpoint)
    eids = np.concatenate([he, he])
    ts = np.concatenate([np.zeros(len(he)), np.ones(len(he))])
    cov_e = np.empty(0, dtype=np.int64)
    cov_lo = np.empty(0)
    cov_hi = np.empty(0)
    if len(pe):
        sel = np.flatnonzero(hard[row_e[pe]])
        if len(sel):
            ep = pe[sel]
            f1 = opp_e1[pv[sel]]
            f2 = opp_e2[pv[sel]]
            a1, a2 = e1[ep], e2[ep]
            d = a2 - a1
            l2 = np.maximum((d * d).sum(axis=1), 1e-300)
            cr1 = d[:, 0] * (f1[:, 1] - a1[:, 1]) - d[:, 1] * (f1[:, 0] - a1[:, 0])
            # vertex-touch split points (opposing edge START on this edge)
            on = (
                (cr1 == 0.0)
                & (np.minimum(a1[:, 0], a2[:, 0]) <= f1[:, 0])
                & (f1[:, 0] <= np.maximum(a1[:, 0], a2[:, 0]))
                & (np.minimum(a1[:, 1], a2[:, 1]) <= f1[:, 1])
                & (f1[:, 1] <= np.maximum(a1[:, 1], a2[:, 1]))
            )
            t1 = ((f1 - a1) * d).sum(axis=1) / l2
            onx = np.flatnonzero(on)
            if len(onx):
                t = t1[onx]
                good = (t > 0.0) & (t < 1.0)
                eids = np.concatenate([eids, ep[onx][good]])
                ts = np.concatenate([ts, t[good]])
            # collinear opposing edges → covered spans (classified ON)
            cr2 = d[:, 0] * (f2[:, 1] - a1[:, 1]) - d[:, 1] * (f2[:, 0] - a1[:, 0])
            coll = (cr1 == 0.0) & (cr2 == 0.0)
            cx = np.flatnonzero(coll)
            if len(cx):
                t2 = ((f2 - a1) * d).sum(axis=1) / l2
                lo = np.clip(np.minimum(t1[cx], t2[cx]), 0.0, 1.0)
                hi = np.clip(np.maximum(t1[cx], t2[cx]), 0.0, 1.0)
                pos = hi > lo
                cov_e = ep[cx][pos]
                cov_lo = lo[pos]
                cov_hi = hi[pos]
    order = np.lexsort((ts, eids))
    eids, ts = eids[order], ts[order]
    same = eids[1:] == eids[:-1]
    gap = ts[1:] > ts[:-1]
    seg = np.flatnonzero(same & gap)
    tm = (ts[seg] + ts[seg + 1]) / 2.0
    me = eids[seg]
    # covered-span membership: spans' clipped endpoints coincide with split
    # points (same projection arithmetic), so each sub-segment is wholly
    # covered or wholly uncovered — the midpoint decides membership exactly
    if len(cov_e):
        so = np.argsort(cov_e, kind="stable")
        cov_e, cov_lo, cov_hi = cov_e[so], cov_lo[so], cov_hi[so]
        left = np.searchsorted(cov_e, me, "left")
        right = np.searchsorted(cov_e, me, "right")
        cnt = right - left
        pidx = np.repeat(np.arange(len(me)), cnt)
        sidx = np.repeat(left, cnt) + _local_index(cnt)
        hitc = (cov_lo[sidx] <= tm[pidx]) & (tm[pidx] <= cov_hi[sidx])
        covered = np.zeros(len(me), dtype=bool)
        np.logical_or.at(covered, pidx, hitc)
        keep = np.flatnonzero(~covered)
        tm, me = tm[keep], me[keep]
    pts = e1[me] + tm[:, None] * (e2[me] - e1[me])
    rows = row_e[me]
    pip = _pip_prefiltered(opp_rings, opp_env, rows, pts[:, 0], pts[:, 1])
    np.logical_or.at(mid_in, rows, pip == PIP_IN)
    np.logical_or.at(mid_out, rows, pip == PIP_OUT)
    return mid_in, mid_out


def polygon_pair_flags_batch(rings_a, rings_b):
    """Exact predicate flags for one SIMPLE polygon pair per row — convex
    OR concave single rings (positive area, no self-intersection):

    returns dict of bool arrays ``intersects``, ``ii`` (interiors
    intersect), ``a_in_b`` (A ⊆ B), ``b_in_a``.

    Method (exact, no area tolerance):

    * ``intersects``: any vertex of one in/on the other, or any edge pair
      intersecting (bbox-prefiltered candidate pairs).
    * a PROPER edge crossing ⇒ each boundary passes strictly through the
      other's interior ⇒ ``ii`` true and containment false — no further
      work for those rows.
    * remaining contact rows ("hard": touching / contained / equal): each
      boundary is split where opposing vertices lie on it
      (:func:`_boundary_span_classify`); a sub-segment midpoint strictly
      inside ⇒ ``ii``; ``a_in_b`` = all A vertices in/on B and no A
      sub-segment midpoint outside B; containment either way ⇒ ``ii``
      (covers equal rings, whose boundaries never enter an interior).

    Replaces the r2 convex-only candidate-centroid method — concave pairs
    (L-shapes, stars, spirals) are now exact. Derived predicates
    (touches/overlaps/equals/…): see ``functions/st.py``; mirrors JTS
    RelateOp semantics via ``Predicates.java:25-106``.
    """
    n = len(rings_a)
    empty = np.zeros(n, dtype=bool)
    if n == 0:
        return {"intersects": empty, "ii": empty.copy(),
                "a_in_b": empty.copy(), "b_in_a": empty.copy(),
                "a_bnd_ii": empty.copy(), "b_bnd_ii": empty.copy(),
                "bb_dim1": empty.copy(), "bb_touch": empty.copy()}
    ca, oa, la = _flatten_rings(rings_a)
    cb, ob, lb = _flatten_rings(rings_b)

    # --- vertex containment (ternary; grouped PIP + envelope prefilter) ---
    env_a = ring_envelope(rings_a)
    env_b = ring_envelope(rings_b)
    row_a = np.repeat(np.arange(n), la)  # row per A-vertex
    row_b = np.repeat(np.arange(n), lb)
    pip_a = _pip_prefiltered(rings_b, env_b, row_a, ca[:, 0], ca[:, 1])
    pip_b = _pip_prefiltered(rings_a, env_a, row_b, cb[:, 0], cb[:, 1])
    a_in_b = np.ones(n, dtype=bool)
    np.logical_and.at(a_in_b, row_a, pip_a > 0)
    a_in_b &= la > 0
    b_in_a = np.ones(n, dtype=bool)
    np.logical_and.at(b_in_a, row_b, pip_b > 0)
    b_in_a &= lb > 0

    any_vert = np.zeros(n, dtype=bool)
    np.logical_or.at(any_vert, row_a, pip_a > 0)
    np.logical_or.at(any_vert, row_b, pip_b > 0)
    vert_strict = np.zeros(n, dtype=bool)
    np.logical_or.at(vert_strict, row_a, pip_a == PIP_IN)
    np.logical_or.at(vert_strict, row_b, pip_b == PIP_IN)

    # --- candidate edge pairs (bbox-prefiltered) ---
    ea1, ea2, _ = _edges(ca, oa, la)
    eb1, eb2, _ = _edges(cb, ob, lb)
    ia, ib, rows_p = _candidate_edge_pairs(ea1, ea2, la, eb1, eb2, lb, n)
    edge_hit = np.zeros(n, dtype=bool)
    proper_any = np.zeros(n, dtype=bool)
    bb_dim1 = np.zeros(n, dtype=bool)
    if len(ia):
        a1, a2, b1, b2 = ea1[ia], ea2[ia], eb1[ib], eb2[ib]
        np.logical_or.at(edge_hit, rows_p, _segments_intersect(a1, a2, b1, b2))

        def cr(o, p, q):
            return (p[:, 0] - o[:, 0]) * (q[:, 1] - o[:, 1]) - (
                p[:, 1] - o[:, 1]
            ) * (q[:, 0] - o[:, 0])

        d1 = cr(b1, b2, a1)
        d2 = cr(b1, b2, a2)
        d3 = cr(a1, a2, b1)
        d4 = cr(a1, a2, b2)
        proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
            ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
        )
        np.logical_or.at(proper_any, rows_p, proper)
        # 1-dimensional boundary∩boundary: a collinear edge pair with a
        # positive-length overlap (feeds the DE-9IM BB cell — ST_Relate)
        coll = (d3 == 0.0) & (d4 == 0.0)
        cx = np.flatnonzero(coll)
        if len(cx):
            d = a2[cx] - a1[cx]
            l2 = np.maximum((d * d).sum(axis=1), 1e-300)
            t1 = ((b1[cx] - a1[cx]) * d).sum(axis=1) / l2
            t2 = ((b2[cx] - a1[cx]) * d).sum(axis=1) / l2
            lo = np.clip(np.minimum(t1, t2), 0.0, 1.0)
            hi = np.clip(np.maximum(t1, t2), 0.0, 1.0)
            np.logical_or.at(bb_dim1, rows_p[cx], hi > lo)

    intersects = any_vert | edge_hit
    a_in_b &= ~proper_any
    b_in_a &= ~proper_any
    ii = proper_any | vert_strict

    # --- hard rows: contact without proper crossing ---
    hard = intersects & ~proper_any
    a_mid_in = np.zeros(n, dtype=bool)
    b_mid_in = np.zeros(n, dtype=bool)
    if hard.any():
        a_mid_in, a_mid_out = _boundary_span_classify(
            ea1, ea2, la, hard, ia, ib, eb1, eb2, rings_b, env_b, n
        )
        b_mid_in, b_mid_out = _boundary_span_classify(
            eb1, eb2, lb, hard, ib, ia, ea1, ea2, rings_a, env_a, n
        )
        ii |= a_mid_in | b_mid_in
        a_in_b &= ~a_mid_out
        b_in_a &= ~b_mid_out
    ii |= a_in_b | b_in_a  # containment of a positive-area ring

    # --- DE-9IM support flags (ST_Relate) ---
    a_vert_strict = np.zeros(n, dtype=bool)
    np.logical_or.at(a_vert_strict, row_a, pip_a == PIP_IN)
    b_vert_strict = np.zeros(n, dtype=bool)
    np.logical_or.at(b_vert_strict, row_b, pip_b == PIP_IN)
    a_bnd_ii = proper_any | a_vert_strict | a_mid_in  # ∂A ∩ int(B) ≠ ∅
    b_bnd_ii = proper_any | b_vert_strict | b_mid_in
    bnd_on = np.zeros(n, dtype=bool)
    np.logical_or.at(bnd_on, row_a, pip_a == PIP_BOUNDARY)
    np.logical_or.at(bnd_on, row_b, pip_b == PIP_BOUNDARY)
    bb_touch = bnd_on | proper_any | bb_dim1  # ∂A ∩ ∂B ≠ ∅

    return {"intersects": intersects, "ii": ii, "a_in_b": a_in_b,
            "b_in_a": b_in_a, "a_bnd_ii": a_bnd_ii, "b_bnd_ii": b_bnd_ii,
            "bb_dim1": bb_dim1, "bb_touch": bb_touch}


# ---------------------------------------------------------------------------
# geometry editors (constructor/simplification tier — these run per geometry
# like the reference's JTS calls, NOT inside join refine hot paths)
# ---------------------------------------------------------------------------


def simplify_dp(path: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker polyline simplification (ST_Simplify semantics:
    endpoints kept; every dropped vertex is within ``tol`` of the kept
    chain). ``path`` is (n, 2); returns the kept (m, 2) subset."""
    a = np.asarray(path, dtype=np.float64).reshape(-1, 2)
    n = len(a)
    if n <= 2:
        return a
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = a[j] - a[i]
        mid = a[i + 1 : j]
        L2 = float(seg @ seg)
        if L2 == 0.0:
            d = np.sqrt(((mid - a[i]) ** 2).sum(axis=1))
        else:
            # perpendicular distance of interior vertices to chord (i, j)
            d = np.abs(np.cross(seg, mid - a[i])) / np.sqrt(L2)
        kmax = int(np.argmax(d))
        if d[kmax] > tol:
            k = i + 1 + kmax
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return a[keep]


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone-chain convex hull (ST_ConvexHull). ``points`` is
    (n, 2); returns hull vertices CCW (no closing duplicate)."""
    a = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    a = np.unique(a, axis=0)  # sorts lexicographically
    if len(a) <= 2:
        return a

    def half(pts):
        out = []
        for p in pts:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(a)
    upper = half(a[::-1])
    return np.array(lower[:-1] + upper[:-1])


def buffer_ring(ring: np.ndarray, r: float, quad_segs: int = 8) -> np.ndarray:
    """Outward buffer of a CONVEX ring by ``r`` (ST_Buffer analog for the
    convex tier; reference ``Functions.java`` buffer → JTS BufferOp):
    each edge is offset outward by its unit normal; consecutive offset
    edges are joined by a circular arc around the shared vertex, segmented
    at ≤ (π/2)/quad_segs per step — JTS's quadrantSegments contract.
    Returns the buffered ring as (m, 2) CCW vertices.

    Degenerate inputs: <3 vertices buffer as a point circle around the
    centroid of the given vertices."""
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    if len(a) < 3:
        c = a.mean(axis=0) if len(a) else np.zeros(2)
        return buffer_point(c[0], c[1], r, quad_segs)
    # ensure CCW (positive shoelace)
    nxt = np.roll(a, -1, axis=0)
    if (a[:, 0] * nxt[:, 1] - nxt[:, 0] * a[:, 1]).sum() < 0:
        a = a[::-1]
        nxt = np.roll(a, -1, axis=0)
    d = nxt - a
    ln = np.sqrt((d * d).sum(axis=1))
    keep = ln > 0
    a, nxt, d, ln = a[keep], nxt[keep], d[keep], ln[keep]
    nrm = np.stack([d[:, 1], -d[:, 0]], axis=1) / ln[:, None]  # outward (CCW)
    p1 = a + r * nrm          # offset edge start
    p2 = nxt + r * nrm        # offset edge end
    # arc at each vertex v between incoming normal (prev edge) and outgoing
    max_step = (math.pi / 2.0) / max(1, int(quad_segs))
    prev_n = np.roll(nrm, 1, axis=0)
    ang0 = np.arctan2(prev_n[:, 1], prev_n[:, 0])
    ang1 = np.arctan2(nrm[:, 1], nrm[:, 0])
    sweep = np.mod(ang1 - ang0, 2.0 * math.pi)  # CCW exterior angle
    out: list[np.ndarray] = []
    for i in range(len(a)):
        # tiny epsilon keeps exact multiples (right angles at quad_segs=8)
        # from ceiling up on float noise — vertex counts stay deterministic
        steps = int(np.ceil(sweep[i] / max_step - 1e-9))
        if steps > 0 and sweep[i] > 1e-12:
            th = ang0[i] + sweep[i] * np.arange(1, steps) / steps
            arc = a[i] + r * np.stack([np.cos(th), np.sin(th)], axis=1)
            out.append(arc)
        out.append(p1[i : i + 1])
        out.append(p2[i : i + 1])
    return np.concatenate(out, axis=0)


def buffer_point(x: float, y: float, r: float, quad_segs: int = 8) -> np.ndarray:
    """Circle buffer of a point: regular 4·quad_segs-gon (m, 2)."""
    m = 4 * max(1, int(quad_segs))
    th = 2.0 * math.pi * np.arange(m) / m
    return np.stack([x + r * np.cos(th), y + r * np.sin(th)], axis=1)


def clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman clip of a simple ``subject`` ring by a CONVEX
    ``clip`` ring → intersection ring as (m, 2) vertices (empty (0, 2) if
    disjoint). The overlay primitive behind ST_Intersection for the convex
    clip tier (reference ``Functions.java`` ST_Intersection → JTS overlay).
    Runs per geometry (constructor tier), numpy inside."""
    s = np.asarray(subject, dtype=np.float64).reshape(-1, 2)
    c = np.asarray(clip, dtype=np.float64).reshape(-1, 2)
    if len(s) >= 2 and (s[0] == s[-1]).all():
        s = s[:-1]
    if len(c) >= 2 and (c[0] == c[-1]).all():
        c = c[:-1]
    if len(s) < 3 or len(c) < 3:
        return np.empty((0, 2))
    # clip ring must be CCW for a consistent inside test
    cn = np.roll(c, -1, axis=0)
    if (c[:, 0] * cn[:, 1] - cn[:, 0] * c[:, 1]).sum() < 0:
        c = c[::-1]
    poly = s
    nc = len(c)
    for i in range(nc):
        if len(poly) == 0:
            break
        poly = _clip_halfplane(poly, c[i], c[(i + 1) % nc])
    return _drop_consecutive_dups(poly)


def _clip_halfplane(
    poly: np.ndarray, e0: np.ndarray, e1: np.ndarray, keep_left: bool = True
) -> np.ndarray:
    """One Sutherland–Hodgman pass: keep the part of ``poly`` on the
    left (``keep_left``) or right side of the directed line e0→e1."""
    d = e1 - e0
    side = d[0] * (poly[:, 1] - e0[1]) - d[1] * (poly[:, 0] - e0[0])
    if not keep_left:
        side = -side
    nxt_i = np.roll(np.arange(len(poly)), -1)
    s0, s1 = side, side[nxt_i]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = s0 / (s0 - s1)
        t = np.where(np.isfinite(t), t, 0.0)
        inter = poly + t[:, None] * (poly[nxt_i] - poly)
    pts: list[np.ndarray] = []
    for j in range(len(poly)):
        if s0[j] >= 0:
            pts.append(poly[j])
        if (s0[j] > 0 and s1[j] < 0) or (s0[j] < 0 and s1[j] > 0):
            pts.append(inter[j])
    return np.array(pts) if pts else np.empty((0, 2))


def _drop_consecutive_dups(poly: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicate vertices (touching corners emit repeats;
    wraparound duplicate included)."""
    if len(poly) > 1:
        dup = (poly == np.roll(poly, 1, axis=0)).all(axis=1)
        dup[0] = (poly[0] == poly[-1]).all() and len(poly) > 1
        poly = poly[~dup] if (~dup).any() else poly[:1]
    return poly


def difference_convex(subject: np.ndarray, clip: np.ndarray) -> list[np.ndarray]:
    """``subject \\ clip`` for a CONVEX clip ring → LIST of disjoint pieces
    (ST_Difference analog for the convex-clip tier): the standard convex
    half-plane decomposition — piece_i is the part of ``subject`` strictly
    OUTSIDE clip edge i and inside edges 0..i-1, so pieces tile the
    difference with no overlap (reference: JTS OverlayNG difference via
    ``Functions.java``)."""
    s = np.asarray(subject, dtype=np.float64).reshape(-1, 2)
    c = np.asarray(clip, dtype=np.float64).reshape(-1, 2)
    if len(s) >= 2 and (s[0] == s[-1]).all():
        s = s[:-1]
    if len(c) >= 2 and (c[0] == c[-1]).all():
        c = c[:-1]
    if len(s) < 3:
        return []
    if len(c) < 3:
        return [s]
    cn = np.roll(c, -1, axis=0)
    if (c[:, 0] * cn[:, 1] - cn[:, 0] * c[:, 1]).sum() < 0:
        c = c[::-1]
    nc = len(c)
    pieces: list[np.ndarray] = []
    for i in range(nc):
        piece = s
        for j in range(i):
            if len(piece) == 0:
                break
            piece = _clip_halfplane(piece, c[j], c[(j + 1) % nc], keep_left=True)
        if len(piece) == 0:
            continue
        piece = _clip_halfplane(piece, c[i], c[(i + 1) % nc], keep_left=False)
        piece = _drop_consecutive_dups(piece)
        if len(piece) >= 3:
            # drop zero-area slivers (pure boundary contact)
            q = np.roll(piece, -1, axis=0)
            area2 = abs(float((piece[:, 0] * q[:, 1] - q[:, 0] * piece[:, 1]).sum()))
            if area2 > 0.0:
                pieces.append(piece)
    return pieces


def ring_envelope(rings) -> np.ndarray:
    """(n,4) array of [xmin, ymin, xmax, ymax] per ring."""
    coords, offsets, lengths = _flatten_rings(rings)
    n = len(lengths)
    env = np.zeros((n, 4), dtype=np.float64)
    if coords.shape[0] == 0:
        return env
    env[:, 0] = np.minimum.reduceat(coords[:, 0], offsets)
    env[:, 1] = np.minimum.reduceat(coords[:, 1], offsets)
    env[:, 2] = np.maximum.reduceat(coords[:, 0], offsets)
    env[:, 3] = np.maximum.reduceat(coords[:, 1], offsets)
    return env


# ---------------------------------------------------------------------------
# Linear referencing (ST_LineInterpolatePoint / LocatePoint / Substring /
# ClosestPoint — reference: common/.../Functions.java lineInterpolatePoint,
# lineLocatePoint, lineSubString, closestPoint via JTS LengthIndexedLine /
# DistanceOp)
# ---------------------------------------------------------------------------


def _polyline_arrays(line: np.ndarray):
    a = np.asarray(line, dtype=np.float64).reshape(-1, 2)
    d = a[1:] - a[:-1]
    seg_len = np.hypot(d[:, 0], d[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seg_len)])
    return a, d, seg_len, cum


def polyline_interpolate(line: np.ndarray, frac: float) -> np.ndarray:
    """Point at ``frac`` of the polyline's total length (frac clamped to
    [0, 1])."""
    a, d, seg_len, cum = _polyline_arrays(line)
    total = cum[-1]
    if total == 0.0 or len(a) == 1:
        return a[0].copy()
    target = min(max(float(frac), 0.0), 1.0) * total
    i = int(np.searchsorted(cum[1:], target, side="left"))
    i = min(i, len(seg_len) - 1)
    t = (target - cum[i]) / seg_len[i] if seg_len[i] > 0 else 0.0
    return a[i] + t * d[i]


def polyline_locate(line: np.ndarray, px: float, py: float):
    """(fraction, foot_point) of the closest point on the polyline to
    (px, py): clamped projection on every segment, min distance with the
    lowest fraction winning exact ties."""
    a, d, seg_len, cum = _polyline_arrays(line)
    total = cum[-1]
    if total == 0.0 or len(a) == 1:
        return 0.0, a[0].copy()
    p = np.array([px, py])
    ap = p[None, :] - a[:-1]
    denom = np.maximum(seg_len * seg_len, 1e-300)
    t = np.clip((ap * d).sum(axis=1) / denom, 0.0, 1.0)
    foot = a[:-1] + t[:, None] * d
    d2 = ((p[None, :] - foot) ** 2).sum(axis=1)
    i = int(np.argmin(d2))  # argmin takes the FIRST min = lowest fraction
    return float((cum[i] + t[i] * seg_len[i]) / total), foot[i]


def polyline_substring(line: np.ndarray, f0: float, f1: float) -> np.ndarray:
    """Sub-polyline between fractions ``f0`` ≤ ``f1`` of total length."""
    a, d, seg_len, cum = _polyline_arrays(line)
    total = cum[-1]
    if total == 0.0 or len(a) == 1:
        return a[:1].copy()
    f0 = min(max(float(f0), 0.0), 1.0)
    f1 = min(max(float(f1), 0.0), 1.0)
    if f1 < f0:
        f0, f1 = f1, f0
    s, e = f0 * total, f1 * total
    pts = [polyline_interpolate(line, f0)]
    inner = (cum > s) & (cum < e)
    for v in a[inner[: len(a)]]:
        pts.append(v)
    pts.append(polyline_interpolate(line, f1))
    out = np.array(pts)
    return _drop_consecutive_dups(out)


def ring_is_simple(ring: np.ndarray) -> bool:
    """True iff the closed ring is SIMPLE (no self-intersection): no two
    non-adjacent edges touch, and adjacent edges meet only at their shared
    vertex (reference: JTS IsSimpleOp via ST_IsValid for shells)."""
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    n = len(a)
    if n < 3:
        return False
    if len(np.unique(a, axis=0)) != n:
        return False  # repeated vertex
    b = np.roll(a, -1, axis=0)
    lo = np.minimum(a, b)
    hi = np.maximum(a, b)
    # all non-adjacent edge pairs (j >= i+2, minus the wrap pair), bbox
    # prefiltered then a vectorized segment test — no Python pair loop.
    # The ~n²/2 pair space is CHUNKED (~1M pairs per block): a 10k-vertex
    # ring is ~50M pairs, and materializing index + bbox arrays for all of
    # them at once allocates multiple GB. Blocks keep peak memory flat and
    # short-circuit on the first intersecting block.
    block_pairs = 1_000_000
    counts = np.maximum(n - 2 - np.arange(n), 0)  # pairs per i: j in [i+2, n)
    i0 = 0
    while i0 < n - 2:
        i1 = i0 + 1
        total = int(counts[i0])
        while i1 < n - 2 and total + counts[i1] <= block_pairs:
            total += int(counts[i1])
            i1 += 1
        ks = np.arange(i0, i1)
        i = np.repeat(ks, counts[i0:i1])
        j = np.concatenate([np.arange(k + 2, n) for k in ks])
        keep = ~((i == 0) & (j == n - 1))
        i, j = i[keep], j[keep]
        i0 = i1
        if len(i) == 0:
            continue
        box = (
            (lo[i, 0] <= hi[j, 0]) & (lo[j, 0] <= hi[i, 0])
            & (lo[i, 1] <= hi[j, 1]) & (lo[j, 1] <= hi[i, 1])
        )
        i, j = i[box], j[box]
        if len(i) and _segments_intersect(a[i], b[i], a[j], b[j]).any():
            return False
    return True


def _segments_touch(p1, p2, p3, p4) -> bool:
    """Closed-segment intersection test (touch counts)."""
    d1 = np.cross(p4 - p3, p1 - p3)
    d2 = np.cross(p4 - p3, p2 - p3)
    d3 = np.cross(p2 - p1, p3 - p1)
    d4 = np.cross(p2 - p1, p4 - p1)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True
    for p, a, b, dd in ((p3, p1, p2, d3), (p4, p1, p2, d4),
                        (p1, p3, p4, d1), (p2, p3, p4, d2)):
        if dd == 0 and (min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
                        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])):
            return True
    return False


def min_bounding_circle(pts: np.ndarray) -> tuple[float, float, float]:
    """Exact smallest enclosing circle (cx, cy, r) of a packed point set —
    Welzl's move-to-front algorithm, O(n) expected with a DETERMINISTIC
    processing order (no RNG: sandbox determinism; rings are
    constructor-tier small). Reference: JTS MinimumBoundingCircle via
    ST_MinimumBoundingCircle/Radius."""
    a = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    a = np.unique(a, axis=0)

    def circle_two(p, q):
        c = (p + q) / 2.0
        return c[0], c[1], float(np.hypot(*(p - q)) / 2.0)

    def circle_three(p, q, r):
        ax, ay = p; bx, by = q; cx_, cy_ = r
        d = 2.0 * (ax * (by - cy_) + bx * (cy_ - ay) + cx_ * (ay - by))
        if d == 0.0:
            # collinear: diametral circle of the extreme pair
            pts3 = np.array([p, q, r])
            i = np.argmin(pts3[:, 0] + pts3[:, 1] * 1e-9)
            j = np.argmax(pts3[:, 0] + pts3[:, 1] * 1e-9)
            return circle_two(pts3[i], pts3[j])
        ux = ((ax * ax + ay * ay) * (by - cy_) + (bx * bx + by * by) * (cy_ - ay)
              + (cx_ * cx_ + cy_ * cy_) * (ay - by)) / d
        uy = ((ax * ax + ay * ay) * (cx_ - bx) + (bx * bx + by * by) * (ax - cx_)
              + (cx_ * cx_ + cy_ * cy_) * (bx - ax)) / d
        return ux, uy, float(np.hypot(ax - ux, ay - uy))

    def covers(c, p, eps=1e-9):
        return np.hypot(p[0] - c[0], p[1] - c[1]) <= c[2] * (1 + eps) + eps

    if len(a) == 0:
        return 0.0, 0.0, 0.0
    if len(a) == 1:
        return float(a[0, 0]), float(a[0, 1]), 0.0
    c = circle_two(a[0], a[1])
    for i in range(2, len(a)):
        if covers(c, a[i]):
            continue
        # a[i] on the boundary of the new circle
        c = circle_two(a[0], a[i])
        for j in range(1, i):
            if covers(c, a[j]):
                continue
            c = circle_two(a[j], a[i])
            for q in range(j):
                if not covers(c, a[q]):
                    c = circle_three(a[q], a[j], a[i])
        if not covers(c, a[i]):  # numeric guard
            c = circle_three(a[0], a[1], a[i])
    return c


# ---------------------------------------------------------------------------
# GENERAL (concave×concave) overlay — triangulate + convex piece algebra.
# Reference: JTS OverlayNG (ST_Intersection/Difference/Union on arbitrary
# simple polygons). Output is an exact DISJOINT TILING of the result region
# (MultiPolygon parts), the same representation st_union_tiled uses —
# robust by construction: every elementary step is convex×convex.
# ---------------------------------------------------------------------------


def triangulate(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a SIMPLE ring (concave ok, no holes)
    → list of (3, 2) CCW triangles tiling the polygon exactly."""
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    n = len(a)
    if n < 3:
        return []
    # normalize to CCW
    b = np.roll(a, -1, axis=0)
    if float((a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]).sum()) < 0:
        a = a[::-1]
    idx = list(range(len(a)))
    tris: list[np.ndarray] = []

    def cross(o, p, q):
        return (p[0] - o[0]) * (q[1] - o[1]) - (p[1] - o[1]) * (q[0] - o[0])

    def point_in_tri(p, t0, t1, t2):
        d0 = cross(t0, t1, p)
        d1 = cross(t1, t2, p)
        d2 = cross(t2, t0, p)
        return d0 >= 0 and d1 >= 0 and d2 >= 0  # CCW triangle, boundary in

    guard = 0
    while len(idx) > 3 and guard < 10000:
        guard += 1
        m = len(idx)
        clipped = False
        for k in range(m):
            i0, i1, i2 = idx[(k - 1) % m], idx[k], idx[(k + 1) % m]
            p0, p1, p2 = a[i0], a[i1], a[i2]
            if cross(p0, p1, p2) <= 0:
                continue  # reflex or collinear — not an ear
            ok = True
            for j in idx:
                if j in (i0, i1, i2):
                    continue
                if point_in_tri(a[j], p0, p1, p2):
                    ok = False
                    break
            if ok:
                tris.append(np.array([p0, p1, p2]))
                idx.pop(k)
                clipped = True
                break
        if not clipped:
            break  # degenerate input — return what we have
    if len(idx) == 3:
        t = a[idx]
        if cross(t[0], t[1], t[2]) > 0:
            tris.append(t)
    return tris


def _tri_bbox_disjoint(t, u) -> bool:
    return (
        t[:, 0].max() < u[:, 0].min() or u[:, 0].max() < t[:, 0].min()
        or t[:, 1].max() < u[:, 1].min() or u[:, 1].max() < t[:, 1].min()
    )


def clip_general(subject: np.ndarray, clip: np.ndarray) -> list[np.ndarray]:
    """subject ∩ clip for ARBITRARY simple rings → disjoint tiling:
    triangulate both, clip every bbox-overlapping triangle pair
    (convex×convex Sutherland–Hodgman)."""
    pieces: list[np.ndarray] = []
    tb = triangulate(clip)
    for ta in triangulate(subject):
        for t in tb:
            if _tri_bbox_disjoint(ta, t):
                continue
            p = clip_convex(ta.ravel(), t.ravel())
            if len(p) >= 3 and _ring_area(p) > 0.0:
                pieces.append(p)
    return pieces


def difference_general(subject: np.ndarray, clip: np.ndarray) -> list[np.ndarray]:
    """subject \\ clip for ARBITRARY simple rings → disjoint tiling:
    subtract each clip triangle in sequence from each subject triangle
    (A \\ (T1∪T2∪…) = ((A\\T1)\\T2)…)."""
    tb = triangulate(clip)
    out: list[np.ndarray] = []
    for ta in triangulate(subject):
        pieces = [ta]
        for t in tb:
            nxt: list[np.ndarray] = []
            for p in pieces:
                if _tri_bbox_disjoint(p, t):
                    nxt.append(p)
                else:
                    nxt.extend(difference_convex(p.ravel(), t.ravel()))
            pieces = nxt
            if not pieces:
                break
        out.extend(p for p in pieces if _ring_area(p) > 0.0)
    return out


def union_general(a: np.ndarray, b: np.ndarray) -> list[np.ndarray]:
    """a ∪ b for ARBITRARY simple rings → disjoint tiling: b's triangles
    plus the tiling of a \\ b."""
    return triangulate(b) + difference_general(a, b)


def _ring_area(p: np.ndarray) -> float:
    q = np.roll(p, -1, axis=0)
    return 0.5 * abs(float((p[:, 0] * q[:, 1] - q[:, 0] * p[:, 1]).sum()))


def _intersection_witness(pa: np.ndarray, pb: np.ndarray):
    """A point witnessing pa ∩ pb ≠ ∅ for two simple rings, else None:
    a vertex of one in/on the other, or the crossing point of a pair of
    boundary edges (covers overlapping rings whose boundaries cross
    strictly between vertices). Single-pair helper for shortest-line."""
    inside_b = point_in_rings_batch(
        [[pb]] * len(pa), pa[:, 0], pa[:, 1]
    )
    if inside_b.any():
        return pa[int(np.argmax(inside_b))]
    inside_a = point_in_rings_batch(
        [[pa]] * len(pb), pb[:, 0], pb[:, 1]
    )
    if inside_a.any():
        return pb[int(np.argmax(inside_a))]

    # edge-pair crossing: all (na, nb) pairs for one ring pair is small
    a1 = np.repeat(pa, len(pb), axis=0)
    a2 = np.repeat(np.roll(pa, -1, axis=0), len(pb), axis=0)
    b1 = np.tile(pb, (len(pa), 1))
    b2 = np.tile(np.roll(pb, -1, axis=0), (len(pa), 1))
    hit = _segments_intersect(a1, a2, b1, b2)
    if not hit.any():
        return None
    k = int(np.argmax(hit))
    p, r = a1[k], a2[k] - a1[k]
    q, s = b1[k], b2[k] - b1[k]
    den = r[0] * s[1] - r[1] * s[0]
    if abs(den) < 1e-300:
        # collinear touch: _segments_intersect may have flagged this pair
        # because ANY of the four endpoints lies on the other segment —
        # return the endpoint that actually passes the on-segment test
        # (same test as _segments_touch), not a1 unconditionally
        for pt, s0, s1 in ((a1[k], b1[k], b2[k]), (a2[k], b1[k], b2[k]),
                           (b1[k], a1[k], a2[k]), (b2[k], a1[k], a2[k])):
            d = s1 - s0
            if (float(np.cross(d, pt - s0)) == 0.0
                    and min(s0[0], s1[0]) <= pt[0] <= max(s0[0], s1[0])
                    and min(s0[1], s1[1]) <= pt[1] <= max(s0[1], s1[1])):
                return pt
        return a1[k]
    t = ((q[0] - p[0]) * s[1] - (q[1] - p[1]) * s[0]) / den
    return p + np.clip(t, 0.0, 1.0) * r


def polygon_shortest_line(a: np.ndarray, b: np.ndarray):
    """(x1, y1, x2, y2, dist) — the shortest segment between two DISJOINT
    simple rings (JTS DistanceOp.nearestPoints via ST_ShortestLine): for
    polygon boundaries the minimum is attained vertex-to-edge (or
    vertex-to-vertex), checked both ways. Intersecting rings return
    dist 0 with a witness point (a contained vertex, or an edge-crossing
    point when the boundaries cross between vertices)."""
    pa = np.asarray(a, dtype=np.float64).reshape(-1, 2)
    pb = np.asarray(b, dtype=np.float64).reshape(-1, 2)

    w = _intersection_witness(pa, pb)
    if w is not None:
        return float(w[0]), float(w[1]), float(w[0]), float(w[1]), 0.0

    def vert_to_edges(v, poly):
        """min distance + foot for every vertex in ``v`` against every
        edge of ``poly`` (vectorized (nv, ne))."""
        e0 = poly
        e1 = np.roll(poly, -1, axis=0)
        d = e1 - e0
        den = np.maximum((d * d).sum(axis=1), 1e-300)
        ap = v[:, None, :] - e0[None, :, :]
        t = np.clip((ap * d[None, :, :]).sum(axis=2) / den[None, :], 0.0, 1.0)
        foot = e0[None, :, :] + t[:, :, None] * d[None, :, :]
        dist = np.hypot(*(v[:, None, :] - foot).transpose(2, 0, 1))
        i, j = np.unravel_index(np.argmin(dist), dist.shape)
        return dist[i, j], v[i], foot[i, j]

    d1, p1, q1 = vert_to_edges(pa, pb)
    d2, p2, q2 = vert_to_edges(pb, pa)
    if d1 <= d2:
        return float(p1[0]), float(p1[1]), float(q1[0]), float(q1[1]), float(d1)
    return float(q2[0]), float(q2[1]), float(p2[0]), float(p2[1]), float(d2)


def polygon_max_distance(a: np.ndarray, b: np.ndarray) -> float:
    """ST_MaxDistance: the maximum distance between the two geometries —
    attained vertex-to-vertex for polygons (convexity of the distance
    function over segments)."""
    pa = np.asarray(a, dtype=np.float64).reshape(-1, 2)
    pb = np.asarray(b, dtype=np.float64).reshape(-1, 2)
    diff = pa[:, None, :] - pb[None, :, :]
    return float(np.hypot(diff[:, :, 0], diff[:, :, 1]).max())


def voronoi_cells(sites: np.ndarray, envelope: np.ndarray) -> list[np.ndarray]:
    """ST_VoronoiPolygons (JTS VoronoiDiagramBuilder): the Voronoi cell of
    each site, clipped to the envelope rect [x0, y0, x1, y1] — cell_i =
    envelope ∩ {halfplane closer to site i than site j, ∀ j≠i}. Exact
    (each step is one half-plane clip), O(n²) per geometry — constructor
    tier for per-row site sets; the diagram tiles the envelope."""
    s = np.asarray(sites, dtype=np.float64).reshape(-1, 2)
    x0, y0, x1, y1 = (float(v) for v in np.asarray(envelope, dtype=np.float64))
    box = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
    cells_out: list[np.ndarray] = []
    for i in range(len(s)):
        poly = box
        for j in range(len(s)):
            if i == j or len(poly) == 0:
                continue
            # bisector half-plane keeping the side of site i: points p with
            # (p - m)·(s_j - s_i) <= 0, m the midpoint. _clip_halfplane
            # keeps the LEFT of e0→e1; the left of direction d rotated
            # +90° from (s_j - s_i) is exactly the site-i side.
            m = (s[i] + s[j]) / 2.0
            d = s[j] - s[i]
            # direction perpendicular: left of e0→e1 must satisfy
            # cross(e1-e0, p-e0) >= 0 with e1-e0 = (-d_y, d_x) ⇒
            # -d_y*(py-my)... choose e1 = m + (d_y, -d_x): then left side
            # cross = d_y*(p_y-m_y)*... verify: e=(dy,-dx); cross(e, p-m)
            # = dy*(p_y-m_y) - (-dx)*(p_x-m_x) = dx*(p_x-m_x)+dy*(p_y-m_y)
            # = (p-m)·d ⇒ left = farther from i — so use e = (-dy, dx)
            e1 = m + np.array([-d[1], d[0]])
            poly = _clip_halfplane(poly, m, e1)
        poly = _drop_consecutive_dups(poly)
        cells_out.append(poly if len(poly) >= 3 else np.empty((0, 2)))
    return cells_out


def delaunay_triangles(pts: np.ndarray) -> list[np.ndarray]:
    """ST_DelaunayTriangles (JTS DelaunayTriangulationBuilder): Bowyer–
    Watson with a super-triangle and STRICT in-circle test (cocircular
    sets keep whichever diagonal the deterministic insertion order
    produced — same contract as JTS). Returns CCW (3, 2) triangles tiling
    the convex hull. O(n²) — constructor tier for per-row point sets."""
    p = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    p = np.unique(p, axis=0)  # dedup + deterministic (lex-sorted) order
    n = len(p)
    if n < 3:
        return []
    # super-triangle comfortably containing everything
    cx, cy = p[:, 0].mean(), p[:, 1].mean()
    span = max(p[:, 0].ptp(), p[:, 1].ptp(), 1.0) * 64.0
    sup = np.array(
        [[cx - 2 * span, cy - span], [cx + 2 * span, cy - span], [cx, cy + 2 * span]]
    )
    verts = np.vstack([p, sup])
    si = (n, n + 1, n + 2)
    tris: list[tuple[int, int, int]] = [si]

    ld = np.longdouble

    def _orient(a, b, q):
        return (ld(b[0]) - ld(a[0])) * (ld(q[1]) - ld(a[1])) - (
            ld(b[1]) - ld(a[1])
        ) * (ld(q[0]) - ld(a[0]))

    def circum_contains(t, q) -> bool:
        supers = [v for v in t if v >= n]
        reals = [v for v in t if v < n]
        if len(supers) == 3:
            return True
        if len(supers) == 1:
            # infinite-limit circumcircle of (a, b, ∞) = the half-plane of
            # line(a, b) on the super side — EXACT test (the finite circle
            # bows slightly off the line and leaves pinhole slivers on
            # near-collinear hull triples)
            a, b = verts[reals[0]], verts[reals[1]]
            s = verts[supers[0]]
            side_s = _orient(a, b, s)
            side_q = _orient(a, b, q)
            return side_q == 0 or (side_q > 0) == (side_s > 0)
        if len(supers) == 2:
            # limit of circle through one near point a and two far points:
            # half-plane at a bounded by the tangent ∥ (S2 − S1), opening
            # toward the supers
            a = verts[reals[0]]
            s1, s2 = verts[supers[0]], verts[supers[1]]
            d = (a[0] + (s2[0] - s1[0]), a[1] + (s2[1] - s1[1]))
            side_s = _orient(a, d, s1)
            side_q = _orient(a, d, q)
            return side_q == 0 or (side_q > 0) == (side_s > 0)
        a, b, c = verts[t[0]], verts[t[1]], verts[t[2]]
        # all-real in-circle determinant in extended precision (float64
        # error on thin triangles leaves pinhole cavities)
        ax, ay = ld(a[0]) - ld(q[0]), ld(a[1]) - ld(q[1])
        bx, by = ld(b[0]) - ld(q[0]), ld(b[1]) - ld(q[1])
        cx_, cy_ = ld(c[0]) - ld(q[0]), ld(c[1]) - ld(q[1])
        a2, b2, c2 = ax * ax + ay * ay, bx * bx + by * by, cx_ * cx_ + cy_ * cy_
        det = (
            ax * (by * c2 - b2 * cy_)
            - ay * (bx * c2 - b2 * cx_)
            + a2 * (bx * cy_ - by * cx_)
        )
        orient = _orient(a, b, c)
        if orient < 0:
            det = -det
        return det > 0

    def tri_contains_pt(t, q) -> bool:
        a, b, c = verts[t[0]], verts[t[1]], verts[t[2]]
        d0 = (b[0] - a[0]) * (q[1] - a[1]) - (b[1] - a[1]) * (q[0] - a[0])
        d1 = (c[0] - b[0]) * (q[1] - b[1]) - (c[1] - b[1]) * (q[0] - b[0])
        d2 = (a[0] - c[0]) * (q[1] - c[1]) - (a[1] - c[1]) * (q[0] - c[0])
        neg = (d0 < 0) or (d1 < 0) or (d2 < 0)
        pos = (d0 > 0) or (d1 > 0) or (d2 > 0)
        return not (neg and pos)

    for i in range(n):
        q = verts[i]
        bad = [t for t in tris if circum_contains(t, q)]
        if not bad:
            continue
        # keep only the edge-connected component of the cavity containing
        # the triangle that holds q — fp noise can mark detached triangles
        # "bad", and carving those leaves pinholes in the tiling
        if len(bad) > 1:
            seed_t = next((t for t in bad if tri_contains_pt(t, q)), bad[0])
            comp = {seed_t}
            frontier = [seed_t]
            while frontier:
                cur = frontier.pop()
                ce = {tuple(sorted(e)) for e in
                      ((cur[0], cur[1]), (cur[1], cur[2]), (cur[2], cur[0]))}
                for t in bad:
                    if t in comp:
                        continue
                    te = {tuple(sorted(e)) for e in
                          ((t[0], t[1]), (t[1], t[2]), (t[2], t[0]))}
                    if ce & te:
                        comp.add(t)
                        frontier.append(t)
            bad = [t for t in bad if t in comp]
        # boundary of the cavity = edges appearing in exactly one bad tri
        edge_count: dict[tuple[int, int], int] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                key = (min(e), max(e))
                edge_count[key] = edge_count.get(key, 0) + 1
        tris = [t for t in tris if t not in bad]
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                if edge_count[(min(e), max(e))] == 1:
                    tris.append((e[0], e[1], i))
    out = []
    for t in tris:
        if any(v >= n for v in t):
            continue
        a, b, c = verts[t[0]], verts[t[1]], verts[t[2]]
        orient = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        if orient == 0:
            continue
        tri = np.array([a, b, c]) if orient > 0 else np.array([a, c, b])
        out.append(tri)
    return out


def concave_hull(pts: np.ndarray, length_ratio: float = 1.5) -> np.ndarray:
    """ST_ConcaveHull (χ-shape over the Delaunay triangulation, the same
    construction JTS ConcaveHull uses): starting from the convex hull =
    Delaunay boundary, repeatedly remove the LONGEST boundary edge whose
    length exceeds ``length_ratio`` × the mean Delaunay edge length,
    provided its triangle's interior vertex is not already on the boundary
    (regularity — keeps the result a simple polygon). Returns the packed
    boundary ring (CCW)."""
    tris = delaunay_triangles(pts)
    if not tris:
        return np.asarray(pts, dtype=np.float64).reshape(-1, 2)[:3].ravel()

    def key(v):
        # exact float tuples: triangle vertices are verbatim copies of the
        # input coords, so exact equality is the right identity (rounding
        # would shift ring vertices off the true points)
        return (float(v[0]), float(v[1]))

    # edge → list of triangle indices
    edge_tris: dict[tuple, list[int]] = {}
    alive = [True] * len(tris)
    lengths = []
    for ti, t in enumerate(tris):
        for a, b in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            e = tuple(sorted((key(a), key(b))))
            edge_tris.setdefault(e, []).append(ti)
            lengths.append(math.hypot(a[0] - b[0], a[1] - b[1]))
    thresh = float(length_ratio) * (sum(lengths) / len(lengths))

    def boundary_edges():
        return {
            e for e, ts in edge_tris.items()
            if sum(1 for ti in ts if alive[ti]) == 1
        }

    def boundary_vertices(bes):
        vs = set()
        for e in bes:
            vs.update(e)
        return vs

    changed = True
    while changed:
        changed = False
        bes = boundary_edges()
        bvs = boundary_vertices(bes)
        # longest removable boundary edge above threshold
        best = None
        for e in bes:
            (x1, y1), (x2, y2) = e
            ln = math.hypot(x1 - x2, y1 - y2)
            if ln <= thresh:
                continue
            ti = next(t for t in edge_tris[e] if alive[t])
            t = tris[ti]
            opp = next(
                key(v) for v in t if key(v) not in e
            )
            if opp in bvs:
                continue  # regularity: would pinch the polygon
            if best is None or ln > best[0]:
                best = (ln, ti)
        if best is not None:
            alive[best[1]] = False
            changed = True

    # trace the boundary cycle
    bes = boundary_edges()
    adj: dict[tuple, list[tuple]] = {}
    for a, b in bes:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    start = min(adj)
    ring = [start]
    prev = None
    cur = start
    while True:
        nxt = next(v for v in adj[cur] if v != prev)
        if nxt == start:
            break
        ring.append(nxt)
        prev, cur = cur, nxt
    r = np.array(ring, dtype=np.float64)
    # normalize CCW
    q = np.roll(r, -1, axis=0)
    if float((r[:, 0] * q[:, 1] - q[:, 0] * r[:, 1]).sum()) < 0:
        r = r[::-1]
    return r.ravel()


def geometric_median(pts: np.ndarray, iters: int = 100, tol: float = 1e-12):
    """ST_GeometricMedian (Weiszfeld's algorithm, the reference's
    ``Functions.java`` geometricMedian): the point minimizing the sum of
    euclidean distances to the packed point set. Deterministic: centroid
    init, fixed iteration cap, vertex-coincidence guard."""
    a = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    x = a.mean(axis=0)
    for _ in range(iters):
        d = np.hypot(a[:, 0] - x[0], a[:, 1] - x[1])
        on_vertex = d < 1e-300
        if on_vertex.any():
            # Weiszfeld singularity: check optimality at the vertex
            rest = a[~on_vertex]
            dd = np.hypot(rest[:, 0] - x[0], rest[:, 1] - x[1])
            g = ((rest - x) / dd[:, None]).sum(axis=0)
            if np.hypot(*g) <= 1.0:
                return float(x[0]), float(x[1])
            d = np.maximum(d, 1e-300)
        w = 1.0 / d
        nxt = (a * w[:, None]).sum(axis=0) / w.sum()
        if np.hypot(*(nxt - x)) < tol * (1.0 + np.hypot(*x)):
            x = nxt
            break
        x = nxt
    return float(x[0]), float(x[1])


def segmentize(line: np.ndarray, max_len: float) -> np.ndarray:
    """ST_Segmentize: insert evenly spaced vertices so no segment exceeds
    ``max_len`` (each original segment splits into ceil(len/max_len) equal
    parts — endpoint set preserved, length unchanged)."""
    a = np.asarray(line, dtype=np.float64).reshape(-1, 2)
    if len(a) < 2:
        return a.ravel()
    out = [a[0]]
    for i in range(len(a) - 1):
        seg = a[i + 1] - a[i]
        ln = float(np.hypot(*seg))
        parts = max(1, int(math.ceil(ln / float(max_len)))) if ln > 0 else 1
        for j in range(1, parts + 1):
            out.append(a[i] + seg * (j / parts))
    return np.array(out).ravel()


# ---------------------------------------------------------------------------
# ST_MakeValid — even-odd repair of self-intersecting rings (r4)
# ---------------------------------------------------------------------------


def make_valid(ring: np.ndarray) -> list[np.ndarray]:
    """ST_MakeValid for a single (possibly self-intersecting) ring: the
    even-odd interior decomposed into SIMPLE rings (JTS MakeValid's
    structure-fix semantics; reference ``Catalog.scala:114``, PostGIS
    bowtie split). Algorithm: node every edge at its crossing points,
    trace the faces of the resulting planar subdivision (angular-sweep
    half-edge walk), keep bounded faces whose interior has odd crossing
    parity against the ORIGINAL ring. A valid ring comes back unchanged
    as ``[ring]``."""
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    if len(a) < 3:
        return []
    if ring_is_simple(a):
        return [a]
    b = np.roll(a, -1, axis=0)
    n = len(a)

    # 1. crossing points per edge (param t along the edge)
    cuts: list[list[tuple[float, float, float]]] = [[] for _ in range(n)]
    for i in range(n):
        p, r = a[i], b[i] - a[i]
        for j in range(i + 1, n):
            q, s = a[j], b[j] - a[j]
            den = r[0] * s[1] - r[1] * s[0]
            if abs(den) < 1e-300:
                continue
            t = ((q[0] - p[0]) * s[1] - (q[1] - p[1]) * s[0]) / den
            u = ((q[0] - p[0]) * r[1] - (q[1] - p[1]) * r[0]) / den
            if -1e-12 < t < 1 + 1e-12 and -1e-12 < u < 1 + 1e-12:
                pt = p + t * r  # ONE shared float point for both edges
                cuts[i].append((t, pt[0], pt[1]))
                cuts[j].append((u, pt[0], pt[1]))

    # 2. split edges at cut points → undirected segment soup with exact
    #    shared endpoints (keyed by high-precision rounding)
    def key(x, y):
        return (round(float(x), 9), round(float(y), 9))

    segs = set()
    for i in range(n):
        pts = [(0.0, a[i][0], a[i][1])] + sorted(cuts[i]) + [(1.0, b[i][0], b[i][1])]
        for (t0, x0, y0), (t1, x1, y1) in zip(pts, pts[1:]):
            k0, k1 = key(x0, y0), key(x1, y1)
            if k0 != k1:
                segs.add((k0, k1))

    # 3. half-edge structure: outgoing edges per node sorted by angle
    out_edges: dict = {}
    for k0, k1 in segs:
        out_edges.setdefault(k0, []).append(k1)
        out_edges.setdefault(k1, []).append(k0)
    import math as _m
    ang = {
        (u, v): _m.atan2(v[1] - u[1], v[0] - u[0])
        for u, nbrs in out_edges.items()
        for v in nbrs
    }
    for u in out_edges:
        out_edges[u].sort(key=lambda v: ang[(u, v)])

    # 4. face tracing: next half-edge after (u → v) is the neighbor of v
    #    immediately CLOCKWISE of the reverse direction (v → u) — this
    #    walks every face once, bounded faces CCW
    visited = set()
    faces = []
    for start in list(segs) + [(k1, k0) for (k0, k1) in segs]:
        if start in visited:
            continue
        face = []
        e = start
        while e not in visited:
            visited.add(e)
            u, v = e
            face.append(v)
            nbrs = out_edges[v]
            i = nbrs.index(u)
            w = nbrs[(i - 1) % len(nbrs)]  # clockwise-next from reverse
            e = (v, w)
        if len(face) >= 3 and e == start:
            faces.append(np.array(face, dtype=np.float64))

    # 5. keep bounded (CCW) faces with odd parity vs the original ring
    out = []
    for f in faces:
        q = np.roll(f, -1, axis=0)
        signed = 0.5 * float((f[:, 0] * q[:, 1] - q[:, 0] * f[:, 1]).sum())
        if signed <= 1e-300:
            continue
        tris = triangulate(f)
        if not tris:
            continue
        c = tris[0].reshape(-1, 2).mean(axis=0)  # strictly interior point
        par = point_in_rings_batch([[a]], [c[0]], [c[1]])[0]
        if par == PIP_IN:
            out.append(f)
    return out


def dissolve_tiles(tiles: list[np.ndarray], tol: float = 1e-9) -> list[np.ndarray]:
    """Disjoint convex tiling → canonical boundary ring list (shells CCW,
    holes CW) — the JTS-OverlayNG-shaped output for the tiling overlays
    (VERDICT r3 #9): interior edges shared by two tiles cancel, the
    surviving boundary edges are walked into closed loops, and loop
    orientation falls out as shell-CCW / hole-CW automatically.

    T-junctions (one tile's edge spanning two neighbors' edges) are noded
    first: every edge is split at any OTHER tile vertex lying on it within
    ``tol``, so partial-overlap cancellation is exact."""
    import collections

    def key(x, y):
        return (round(float(x), 9), round(float(y), 9))

    norm = []
    verts: dict = {}
    for t in tiles:
        a = np.asarray(t, dtype=np.float64).reshape(-1, 2)
        if len(a) >= 2 and (a[0] == a[-1]).all():
            a = a[:-1]
        if len(a) < 3 or _ring_area(a) <= 0.0:
            continue
        q = np.roll(a, -1, axis=0)
        if float((a[:, 0] * q[:, 1] - q[:, 0] * a[:, 1]).sum()) < 0:
            a = a[::-1]
        norm.append(a)
        for p in a:
            verts.setdefault(key(p[0], p[1]), (float(p[0]), float(p[1])))
    if not norm:
        return []

    # snap-merge vertex twins: two tiles can carry the SAME corner as
    # floats differing in the last bits that round to DIFFERENT keys
    # (boundary-straddling) — cluster keys within ``tol`` via a 3×3
    # bucket scan + union-find so every corner has ONE canonical key
    parent: dict = {k: k for k in verts}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    buckets: dict = {}
    inv = 1.0 / (10.0 * tol)
    for k in verts:
        buckets.setdefault(
            (int(np.floor(k[0] * inv)), int(np.floor(k[1] * inv))), []
        ).append(k)
    for (bx, by), ks in buckets.items():
        cand = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                cand.extend(buckets.get((bx + dx, by + dy), []))
        for k in ks:
            for c in cand:
                if c != k and abs(c[0] - k[0]) <= 2 * tol and abs(c[1] - k[1]) <= 2 * tol:
                    ra, rb = find(k), find(c)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    canon = {k: find(k) for k in verts}
    verts = {find(k): verts[find(k)] for k in verts}

    vkeys = list(verts.keys())
    vc = np.array([verts[k] for k in vkeys], dtype=np.float64)

    # directed sub-edges after noding at collinear interior vertices
    count: collections.Counter = collections.Counter()
    for a in norm:
        b = np.roll(a, -1, axis=0)
        for p, q in zip(a, b):
            d = q - p
            l2 = float(d @ d)
            if l2 <= 0.0:
                continue
            tpar = ((vc - p) @ d) / l2
            perp = np.abs((vc[:, 0] - p[0]) * d[1] - (vc[:, 1] - p[1]) * d[0])
            on = (perp <= tol * np.sqrt(l2)) & (tpar > 1e-12) & (tpar < 1 - 1e-12)
            inner = sorted(
                (float(tpar[i]), vkeys[i]) for i in np.flatnonzero(on)
            )
            chain = [canon[key(p[0], p[1])]] + [k for _, k in inner] + [
                canon[key(q[0], q[1])]
            ]
            for k0, k1 in zip(chain, chain[1:]):
                if k0 == k1:
                    continue
                if count[(k1, k0)] > 0:
                    count[(k1, k0)] -= 1  # interior edge cancels
                else:
                    count[(k0, k1)] += 1

    out_edges: dict = {}
    for (k0, k1), c in count.items():
        if c > 0:
            out_edges.setdefault(k0, []).append(k1)
            out_edges.setdefault(k1, [])

    import math as _m

    for u in out_edges:
        out_edges[u].sort(
            key=lambda v: _m.atan2(verts[v][1] - verts[u][1],
                                   verts[v][0] - verts[u][0])
        )

    # walk loops; at pinch vertices take the most-clockwise turn from the
    # reverse direction (same convention as make_valid face tracing)
    remaining = {
        (k0, k1) for (k0, k1), c in count.items() for _ in range(c) if c > 0
    }
    loops = []
    while remaining:
        start = next(iter(remaining))
        loop = []
        e = start
        while True:
            remaining.discard(e)
            u, v = e
            loop.append(v)
            nbrs = [w for w in out_edges.get(v, []) if (v, w) in remaining]
            if not nbrs:
                break
            back = _m.atan2(verts[u][1] - verts[v][1], verts[u][0] - verts[v][0])
            nbrs.sort(
                key=lambda w: (back - _m.atan2(verts[w][1] - verts[v][1],
                                               verts[w][0] - verts[v][0]))
                % (2 * _m.pi)
            )
            e = (v, nbrs[0])
            if e == start:
                break
        # only CLOSED walks are boundary loops (the walk ended back at the
        # start edge's tail); an open chain means a cancellation defect —
        # drop it rather than fabricate a phantom closing diagonal
        if len(loop) >= 3 and loop[-1] == start[0]:
            loops.append(np.array([verts[k] for k in loop], dtype=np.float64))

    # canonicalize: drop collinear noding vertices, rotate each loop to
    # start at its lexicographic min vertex, shells (CCW) before holes
    out = []
    for lp in loops:
        keep = []
        m = len(lp)
        for i in range(m):
            p0, p1, p2 = lp[(i - 1) % m], lp[i], lp[(i + 1) % m]
            cr = (p1[0] - p0[0]) * (p2[1] - p0[1]) - (p1[1] - p0[1]) * (
                p2[0] - p0[0]
            )
            if abs(cr) > tol:
                keep.append(i)
        if len(keep) < 3:
            continue
        lp = lp[keep]
        start = int(np.lexsort((lp[:, 1], lp[:, 0]))[0])
        out.append(np.roll(lp, -start, axis=0))
    q = [  # shells first, then by area desc, then by start vertex
        (-(np.sign(_signed := 0.5 * float(
            (r[:, 0] * np.roll(r[:, 1], -1) - np.roll(r[:, 0], -1) * r[:, 1]).sum()
        ))), -abs(_signed), float(r[0, 0]), float(r[0, 1]), i)
        for i, r in enumerate(out)
    ]
    return [out[i] for *_, i in sorted(q)]


# ---------------------------------------------------------------------------
# Editor tail (r4): ST_LineMerge / ST_Snap / ST_Split analogs
# ---------------------------------------------------------------------------


def line_merge(segments: list[np.ndarray]) -> list[np.ndarray]:
    """JTS LineMerger semantics (reference ``Catalog.scala:130``): sew a
    collection of linestrings into maximal chains through degree-2 nodes.
    Nodes of degree ≠ 2 (endpoints, forks) break chains; closed cycles of
    degree-2 nodes come back as one closed polyline. Deterministic: chains
    start from the lexicographically smallest endpoint key."""
    import collections

    def key(p):
        return (round(float(p[0]), 9), round(float(p[1]), 9))

    segs = []
    for s in segments:
        a = np.asarray(s, dtype=np.float64).reshape(-1, 2)
        if len(a) >= 2:
            segs.append(a)
    adj: dict = collections.defaultdict(list)  # node key -> [(seg idx, fwd)]
    for i, s in enumerate(segs):
        adj[key(s[0])].append((i, True))
        adj[key(s[-1])].append((i, False))
    used = [False] * len(segs)
    out = []

    def walk(i, fwd):
        """Extend the chain from segment i in direction fwd."""
        chain = list(segs[i] if fwd else segs[i][::-1])
        used[i] = True
        while True:
            k = key(chain[-1])
            nxt = [(j, f) for j, f in adj[k] if not used[j]]
            if len(adj[k]) != 2 or not nxt:
                break  # fork / endpoint / exhausted
            j, f = nxt[0]
            used[j] = True
            piece = segs[j] if f else segs[j][::-1]
            chain.extend(list(piece[1:]))
            if key(chain[-1]) == key(chain[0]):
                break  # closed cycle
        return np.array(chain)

    # start at nodes that terminate a chain (degree != 2), smallest first
    starts = sorted(k for k, v in adj.items() if len(v) != 2)
    for k in starts:
        for i, fwd in sorted(adj[k]):
            if not used[i]:
                # orient away from the terminal node
                head = key(segs[i][0]) == k
                out.append(walk(i, head))
    # leftover pure cycles
    for i in range(len(segs)):
        if not used[i]:
            out.append(walk(i, True))
    return out


def snap_ring(ring: np.ndarray, ref: np.ndarray, tol: float) -> np.ndarray:
    """ST_Snap (``Catalog.scala:137``, JTS GeometrySnapper vertex tier):
    every vertex of ``ring`` within ``tol`` of a vertex of ``ref`` moves
    onto that (nearest) reference vertex; others stay. Vectorized
    all-pairs distance (constructor-tier sizes)."""
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2).copy()
    b = np.asarray(ref, dtype=np.float64).reshape(-1, 2)
    if len(a) == 0 or len(b) == 0:
        return a
    d = np.hypot(
        a[:, 0][:, None] - b[:, 0][None, :], a[:, 1][:, None] - b[:, 1][None, :]
    )
    j = d.argmin(axis=1)
    hit = d[np.arange(len(a)), j] <= float(tol)
    a[hit] = b[j[hit]]
    return a


def split_by_line(ring: np.ndarray, p0, p1) -> list[np.ndarray]:
    """ST_Split of a simple ring by the INFINITE line through p0→p1
    (``Catalog.scala:223``; JTS splitter restricted to straight blades —
    the common zone-bisection case): the two half-plane clips. Concave
    rings are handled by clipping each triangle of the ear decomposition
    and dissolving each side back into boundary rings."""
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    p0 = np.asarray(p0, dtype=np.float64)
    p1 = np.asarray(p1, dtype=np.float64)
    left_tiles, right_tiles = [], []
    for t in triangulate(a):
        lt = _clip_halfplane(t, p0, p1, keep_left=True)
        if len(lt) >= 3 and _ring_area(lt) > 1e-12:
            left_tiles.append(lt)
        rt = _clip_halfplane(t, p0, p1, keep_left=False)
        if len(rt) >= 3 and _ring_area(rt) > 1e-12:
            right_tiles.append(rt)
    return dissolve_tiles(left_tiles) + dissolve_tiles(right_tiles)


def union_many(rings: list[np.ndarray]) -> list[np.ndarray]:
    """n-ary union of (possibly OVERLAPPING) simple rings as a disjoint
    tiling: ring_i contributes ring_i \\ (ring_0 ∪ … ∪ ring_{i-1}),
    computed by sequential per-ring difference (each step reuses the
    pairwise ``difference_general`` machinery at triangle granularity).
    O(n²) clip passes — constructor tier (buffer joints, small unions);
    the distributed n-ary union remains the overlay sweep operator."""
    tiles: list[np.ndarray] = []
    prior: list[np.ndarray] = []
    for r in rings:
        a = np.asarray(r, dtype=np.float64).reshape(-1, 2)
        if len(a) < 3:
            continue
        pieces = triangulate(a)
        for p in prior:
            nxt: list[np.ndarray] = []
            tb = triangulate(p)
            for piece in pieces:
                sub = [piece]
                for t in tb:
                    out2: list[np.ndarray] = []
                    for s in sub:
                        if _tri_bbox_disjoint(s, t):
                            out2.append(s)
                        else:
                            out2.extend(
                                q for q in difference_convex(s.ravel(), t.ravel())
                                if len(q) >= 3 and _ring_area(q) > 1e-12
                            )
                    sub = out2
                nxt.extend(sub)
            pieces = nxt
        tiles.extend(pieces)
        prior.append(a)
    return tiles


def buffer_polyline(path: np.ndarray, r: float, quad_segs: int = 8) -> list[np.ndarray]:
    """ST_Buffer of a LINESTRING (round caps/joins): the Minkowski sum of
    the polyline with a radius-``r`` disk, built as the union of
    per-segment capsules (rectangle + two 4·quad_segs-gon end disks) and
    dissolved to canonical boundary rings. For a simple polyline the
    exact area is 2·r·L + π·r² (Minkowski); the polygonal approximation
    uses inscribed 4q-gons per the JTS quadrantSegments contract
    (reference ``Functions.java`` buffer)."""
    a = np.asarray(path, dtype=np.float64).reshape(-1, 2)
    rr = float(r)
    m = 4 * max(1, int(quad_segs))
    ang = np.arange(m) * (2.0 * np.pi / m)
    disk = np.c_[np.cos(ang), np.sin(ang)] * rr
    rings = []
    for i in range(len(a) - 1):
        p, q = a[i], a[i + 1]
        d = q - p
        ln = float(np.hypot(*d))
        if ln > 0:
            n = np.array([-d[1], d[0]]) / ln * rr
            rings.append(np.array([p + n, p - n, q - n, q + n]))
    for p in a:
        rings.append(disk + p)
    return dissolve_tiles(union_many(rings))


# ---------------------------------------------------------------------------
# Geography tier (r4): spherical point-in-polygon (great-circle edges)
# ---------------------------------------------------------------------------


def _lonlat_to_unit(lon, lat):
    rad = np.pi / 180.0
    lam = np.asarray(lon, dtype=np.float64) * rad
    phi = np.asarray(lat, dtype=np.float64) * rad
    cp = np.cos(phi)
    return np.stack([cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)], axis=-1)


def point_in_spherical_polygon_batch(
    ring_lonlat: np.ndarray, plon, plat
) -> np.ndarray:
    """Point-in-polygon ON THE SPHERE: ring vertices are (lon, lat)
    degrees joined by GREAT-CIRCLE arcs (the geography semantics of the
    reference's GeographyUDT seam). A query point is inside iff the
    polygon WINDS around it: for each edge (A, B) the signed angle at P
    between the great circles P->A and P->B (tangent-plane atan2, robust
    for any P not on the boundary), summed over the ring: +-2pi inside,
    0 outside. Fully vectorized (m points x n edges); a crossing-number
    formulation is ill-conditioned for query points near-antipodal to
    its reference point - this one needs no reference point at all.
    Contract: simple ring, smaller than a hemisphere OR any simple ring
    whose boundary P does not lie on."""
    r = np.asarray(ring_lonlat, dtype=np.float64).reshape(-1, 2)
    V = _lonlat_to_unit(r[:, 0], r[:, 1])          # (n, 3)
    W = np.roll(V, -1, axis=0)
    P = _lonlat_to_unit(plon, plat)                # (m, 3)

    pa = V[None, :, :] - (P @ V.T)[:, :, None] * P[:, None, :]   # tangent->A
    pb = W[None, :, :] - (P @ W.T)[:, :, None] * P[:, None, :]   # tangent->B
    cross_ab = np.cross(pa, pb)                    # (m, n, 3)
    sin_t = np.einsum("mnk,mk->mn", cross_ab, P)
    cos_t = np.einsum("mnk,mnk->mn", pa, pb)
    winding = np.arctan2(sin_t, cos_t).sum(axis=1)
    # the winding sum is +-2pi at the interior AND at its antipodal
    # mirror; the hemisphere contract disambiguates: inside additionally
    # requires P on the polygon's side (P . vertex-mean > 0)
    c = V.mean(axis=0)
    c /= np.linalg.norm(c)
    return (np.abs(winding) > np.pi) & (P @ c > 0.0)


def hausdorff_distance(a: np.ndarray, b: np.ndarray) -> float:
    """ST_HausdorffDistance (JTS DiscreteHausdorffDistance semantics:
    vertices of each geometry against the FULL segments of the other,
    symmetric max — exact whenever the true Hausdorff is vertex-attained,
    which holds for convex/parallel fixtures; densification is the
    caller's knob via ``segmentize``)."""
    pa = np.asarray(a, dtype=np.float64).reshape(-1, 2)
    pb = np.asarray(b, dtype=np.float64).reshape(-1, 2)

    def directed(v, poly):
        e0 = poly[:-1]
        e1 = poly[1:]
        if len(e0) == 0:
            d = np.hypot(v[:, 0] - poly[0, 0], v[:, 1] - poly[0, 1])
            return float(d.max())
        d = e1 - e0
        den = np.maximum((d * d).sum(axis=1), 1e-300)
        ap = v[:, None, :] - e0[None, :, :]
        t = np.clip((ap * d[None, :, :]).sum(axis=2) / den[None, :], 0.0, 1.0)
        foot = e0[None, :, :] + t[:, :, None] * d[None, :, :]
        dist = np.hypot(*(v[:, None, :] - foot).transpose(2, 0, 1))
        return float(dist.min(axis=1).max())

    return max(directed(pa, pb), directed(pb, pa))


def frechet_distance(a: np.ndarray, b: np.ndarray) -> float:
    """ST_FrechetDistance — DISCRETE Fréchet (JTS DiscreteFrechetDistance):
    the classic Eiter–Mannila dynamic program over the two vertex
    sequences (order-aware 'dog-leash' distance). O(n·m), vectorized row
    sweep."""
    pa = np.asarray(a, dtype=np.float64).reshape(-1, 2)
    pb = np.asarray(b, dtype=np.float64).reshape(-1, 2)
    n, m = len(pa), len(pb)
    d = np.hypot(
        pa[:, 0][:, None] - pb[:, 0][None, :],
        pa[:, 1][:, None] - pb[:, 1][None, :],
    )
    ca = np.empty((n, m))
    ca[0, 0] = d[0, 0]
    for j in range(1, m):
        ca[0, j] = max(ca[0, j - 1], d[0, j])
    for i in range(1, n):
        ca[i, 0] = max(ca[i - 1, 0], d[i, 0])
        prev = ca[i - 1]
        row = ca[i]
        for j in range(1, m):
            row[j] = max(min(prev[j], prev[j - 1], row[j - 1]), d[i, j])
    return float(ca[n - 1, m - 1])


def node_segments(segments: list[np.ndarray]) -> list[np.ndarray]:
    """ST_Node analog: split every input segment/polyline edge at its
    crossings with the others → a set of non-crossing segments (shared
    endpoints keyed exactly like ``make_valid``'s noding)."""
    edges = []
    for s in segments:
        a = np.asarray(s, dtype=np.float64).reshape(-1, 2)
        for p, q in zip(a[:-1], a[1:]):
            edges.append((p, q))
    n = len(edges)
    # endpoint snap table: a computed crossing within ~1e-9 of an input
    # endpoint takes the ENDPOINT's exact floats, so a midline touching a
    # side at its own endpoint never spawns a float-twin sliver segment
    ends = np.array(
        [e[0] for e in edges] + [e[1] for e in edges], dtype=np.float64
    ) if edges else np.empty((0, 2))

    def snap(pt):
        if len(ends):
            d = np.abs(ends - pt).max(axis=1)
            k = int(d.argmin())
            if d[k] <= 2e-9 * max(1.0, abs(pt[0]), abs(pt[1])):
                return ends[k]
        return pt

    cuts: list[list[tuple[float, float, float]]] = [[] for _ in range(n)]
    for i in range(n):
        p, r = edges[i][0], edges[i][1] - edges[i][0]
        for j in range(i + 1, n):
            q, s = edges[j][0], edges[j][1] - edges[j][0]
            den = r[0] * s[1] - r[1] * s[0]
            if abs(den) < 1e-300:
                continue
            t = ((q[0] - p[0]) * s[1] - (q[1] - p[1]) * s[0]) / den
            u = ((q[0] - p[0]) * r[1] - (q[1] - p[1]) * r[0]) / den
            if -1e-12 < t < 1 + 1e-12 and -1e-12 < u < 1 + 1e-12:
                pt = snap(p + t * r)
                cuts[i].append((t, pt[0], pt[1]))
                cuts[j].append((u, pt[0], pt[1]))
    out = []
    for i, (p, q) in enumerate(edges):
        pts = [(0.0, p[0], p[1])] + sorted(cuts[i]) + [(1.0, q[0], q[1])]
        for (_, x0, y0), (_, x1, y1) in zip(pts, pts[1:]):
            if (round(x0, 9), round(y0, 9)) != (round(x1, 9), round(y1, 9)):
                out.append(np.array([[x0, y0], [x1, y1]]))
    return out


def polygonize_segments(segments: list[np.ndarray]) -> list[np.ndarray]:
    """ST_Polygonize (JTS Polygonizer; reference catalog): the BOUNDED
    faces of the arrangement of the input linework, as CCW rings. Input
    segments are noded first, then faces are traced with the same
    angular half-edge walk ``make_valid`` uses (each undirected edge
    walked once in each direction; the single unbounded face comes out
    CW and is dropped)."""
    import math as _m

    def key(x, y):
        return (round(float(x), 9), round(float(y), 9))

    noded = node_segments(segments)
    segs = set()
    verts = {}
    for s in noded:
        k0, k1 = key(s[0][0], s[0][1]), key(s[1][0], s[1][1])
        verts[k0] = (float(s[0][0]), float(s[0][1]))
        verts[k1] = (float(s[1][0]), float(s[1][1]))
        if k0 != k1:
            segs.add((k0, k1))

    out_edges: dict = {}
    for k0, k1 in segs:
        out_edges.setdefault(k0, []).append(k1)
        out_edges.setdefault(k1, []).append(k0)
    ang = {
        (u, v): _m.atan2(verts[v][1] - verts[u][1], verts[v][0] - verts[u][0])
        for u, nbrs in out_edges.items()
        for v in nbrs
    }
    for u in out_edges:
        out_edges[u].sort(key=lambda v: ang[(u, v)])

    visited = set()
    faces = []
    for start in list(segs) + [(k1, k0) for (k0, k1) in segs]:
        if start in visited:
            continue
        face = []
        e = start
        while e not in visited:
            visited.add(e)
            u, v = e
            face.append(v)
            nbrs = out_edges[v]
            i = nbrs.index(u)
            e = (v, nbrs[(i - 1) % len(nbrs)])
        if len(face) >= 3 and e == start:
            f = np.array([verts[k] for k in face], dtype=np.float64)
            q = np.roll(f, -1, axis=0)
            if float((f[:, 0] * q[:, 1] - q[:, 0] * f[:, 1]).sum()) > 1e-300:
                faces.append(f)
    return faces


# ---------------------------------------------------------------------------
# Shape metrics (r5): oriented envelope, minimum clearance, Visvalingam
# simplify, polylabel (pole of inaccessibility), self-intersection witness,
# seeded point generation. Reference surface: ``Functions.java``
# ST_OrientedEnvelope / ST_MinimumClearance / ST_SimplifyVW /
# ST_LabelPoint / ST_IsValidReason / ST_GeneratePoints (all JTS-backed
# there; numpy here).
# ---------------------------------------------------------------------------


def oriented_envelope(points: np.ndarray):
    """Minimum-area oriented rectangle of a point set (rotating
    calipers over the convex hull): returns (ring8, width, height, area)
    with ``ring8`` the 4 rect corners packed CCW. The optimal rectangle
    has one side collinear with a hull edge, so scanning hull-edge
    directions is exact."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    h = convex_hull(pts)
    if len(h) == 1:
        p = h[0]
        return np.tile(p, 4), 0.0, 0.0, 0.0
    if len(h) == 2:
        d = h[1] - h[0]
        w = float(np.hypot(*d))
        ring = np.concatenate([h[0], h[1], h[1], h[0]])
        return ring, w, 0.0, 0.0
    e = np.roll(h, -1, axis=0) - h                     # hull edges (m, 2)
    ln = np.hypot(e[:, 0], e[:, 1])
    u = e / np.maximum(ln, 1e-300)[:, None]            # unit directions
    v = np.stack([-u[:, 1], u[:, 0]], axis=1)          # normals
    pu = h @ u.T                                       # (n, m) projections
    pv = h @ v.T
    w = pu.max(axis=0) - pu.min(axis=0)
    t = pv.max(axis=0) - pv.min(axis=0)
    k = int(np.argmin(w * t))
    u0, v0 = u[k], v[k]
    a0, a1 = pu[:, k].min(), pu[:, k].max()
    b0, b1 = pv[:, k].min(), pv[:, k].max()
    corners = np.array([
        a0 * u0 + b0 * v0, a1 * u0 + b0 * v0,
        a1 * u0 + b1 * v0, a0 * u0 + b1 * v0,
    ])
    # canonical CCW start at the lexicographically smallest corner
    s = int(np.lexsort((corners[:, 1], corners[:, 0]))[0])
    corners = np.roll(corners, -s, axis=0)
    return (corners.ravel(), float(a1 - a0), float(b1 - b0),
            float((a1 - a0) * (b1 - b0)))


def minimum_clearance(ring: np.ndarray):
    """JTS MinimumClearance: the smallest vertex move that changes the
    geometry — min over (a) distances between distinct vertices and
    (b) distances from each vertex to each segment it is not an endpoint
    of. Returns (dist, x1, y1, x2, y2) with the witness segment."""
    p = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    n = len(p)
    if n < 2:
        return 0.0, p[0, 0], p[0, 1], p[0, 0], p[0, 1]
    # (a) vertex-vertex
    d2 = ((p[:, None, :] - p[None, :, :]) ** 2).sum(axis=2)
    d2[np.arange(n), np.arange(n)] = np.inf
    i, j = np.unravel_index(int(np.argmin(d2)), d2.shape)
    best = (float(np.sqrt(d2[i, j])), p[i], p[j])
    # (b) vertex-edge, excluding the two edges incident to the vertex
    e0, e1 = p, np.roll(p, -1, axis=0)
    d = e1 - e0
    den = np.maximum((d * d).sum(axis=1), 1e-300)
    ap = p[:, None, :] - e0[None, :, :]
    t = np.clip((ap * d[None, :, :]).sum(axis=2) / den[None, :], 0.0, 1.0)
    foot = e0[None, :, :] + t[:, :, None] * d[None, :, :]
    dist = np.hypot(*(p[:, None, :] - foot).transpose(2, 0, 1))
    vi = np.arange(n)
    dist[vi, vi] = np.inf                     # edge starting at the vertex
    dist[vi, (vi - 1) % n] = np.inf           # edge ending at the vertex
    i, j = np.unravel_index(int(np.argmin(dist)), dist.shape)
    if dist[i, j] < best[0]:
        best = (float(dist[i, j]), p[i], foot[i, j])
    d0, w1, w2 = best
    return d0, float(w1[0]), float(w1[1]), float(w2[0]), float(w2[1])


def simplify_vw(ring: np.ndarray, min_area: float) -> np.ndarray:
    """Visvalingam–Whyatt ring simplification: iteratively drop the
    vertex whose effective triangle area is smallest, while it is below
    ``min_area``; never reduces below a triangle."""
    p = [tuple(q) for q in np.asarray(ring, dtype=np.float64).reshape(-1, 2)]

    def tri_area(a, b, c):
        return abs((b[0] - a[0]) * (c[1] - a[1])
                   - (c[0] - a[0]) * (b[1] - a[1])) / 2.0

    while len(p) > 3:
        areas = [tri_area(p[k - 1], p[k], p[(k + 1) % len(p)])
                 for k in range(len(p))]
        k = int(np.argmin(areas))
        if areas[k] >= min_area:
            break
        p.pop(k)
    return np.array(p, dtype=np.float64)


def polylabel(rings, precision: float | None = None):
    """Pole of inaccessibility (Mapbox polylabel): the interior point
    farthest from the boundary, by quadtree refinement over the shell
    bbox. ``rings`` is a canonical ring list (shell + holes). Returns
    (x, y, dist). Used for ST_LabelPoint / ST_PointOnSurface /
    ST_MaximumInscribedCircle (center + radius).

    ``precision`` is the stop tolerance on the radius, default
    bbox_diag/1000 (JTS MaximumInscribedCircle takes the same explicit
    tolerance). It must stay RELATIVE to the shape: on a plateau of
    optima (any rectangle's medial segment) the number of quadtree cells
    grows as plateau_length/precision, so an absolute 1e-7 default would
    blow up on large geometries."""
    import heapq

    rl = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings]
    shell = rl[0]
    x0, y0 = shell.min(axis=0)
    x1, y1 = shell.max(axis=0)

    def signed_dist(x, y):
        """+inside distance to the nearest edge of any ring."""
        best = np.inf
        for r in rl:
            e0, e1 = r, np.roll(r, -1, axis=0)
            d = e1 - e0
            den = np.maximum((d * d).sum(axis=1), 1e-300)
            ap = np.array([x, y]) - e0
            t = np.clip((ap * d).sum(axis=1) / den, 0.0, 1.0)
            foot = e0 + t[:, None] * d
            dd = np.hypot(foot[:, 0] - x, foot[:, 1] - y).min()
            best = min(best, float(dd))
        inside = bool(point_in_rings_batch(
            [[list(map(tuple, r)) for r in rl]],
            np.array([x]), np.array([y]))[0])
        return best if inside else -best

    half = max(x1 - x0, y1 - y0) / 2.0
    if half <= 0:
        return float(shell[0, 0]), float(shell[0, 1]), 0.0
    if precision is None:
        precision = float(np.hypot(x1 - x0, y1 - y0)) / 1000.0
    # seed cells: a grid over the bbox plus the centroid
    heap = []
    step = min(x1 - x0, y1 - y0)
    if step <= 0:
        step = 2 * half
    xs = np.arange(x0 + step / 2, x1, step)
    ys = np.arange(y0 + step / 2, y1, step)
    h0 = step / 2

    def push(cx, cy, h):
        d = signed_dist(cx, cy)
        # max possible improvement inside this cell
        heapq.heappush(heap, (-(d + h * np.sqrt(2)), cx, cy, h, d))

    for cx in xs:
        for cy in ys:
            push(float(cx), float(cy), h0)
    cgx, cgy = shell.mean(axis=0)
    best_x, best_y, best_d = float(cgx), float(cgy), signed_dist(cgx, cgy)
    while heap:
        neg, cx, cy, h, d = heapq.heappop(heap)
        if d > best_d:
            best_x, best_y, best_d = cx, cy, d
        if -neg - best_d <= precision:    # no cell can beat best
            break
        nh = h / 2.0
        for dx in (-nh, nh):
            for dy in (-nh, nh):
                push(cx + dx, cy + dy, nh)
    return best_x, best_y, float(best_d)


def self_intersection_witness(ring: np.ndarray):
    """First crossing of two non-adjacent edges of ``ring`` (None for a
    simple ring) — the coordinate ST_IsValidReason reports."""
    p = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    n = len(p)
    if n < 4:
        return None
    e0, e1 = p, np.roll(p, -1, axis=0)
    ii, jj = np.triu_indices(n, k=2)
    keep = ~((ii == 0) & (jj == n - 1))   # closing edge adjacency
    ii, jj = ii[keep], jj[keep]
    hit = _segments_intersect(e0[ii], e1[ii], e0[jj], e1[jj])
    if not hit.any():
        return None
    k = int(np.argmax(hit))
    a1, a2 = e0[ii[k]], e1[ii[k]]
    b1, b2 = e0[jj[k]], e1[jj[k]]
    r, s = a2 - a1, b2 - b1
    den = r[0] * s[1] - r[1] * s[0]
    if abs(den) < 1e-300:
        return float(b1[0]), float(b1[1])
    t = ((b1[0] - a1[0]) * s[1] - (b1[1] - a1[1]) * s[0]) / den
    w = a1 + np.clip(t, 0.0, 1.0) * r
    return float(w[0]), float(w[1])


def generate_points_in_rings(rings, n: int, seed: int) -> np.ndarray:
    """``n`` deterministic points inside a ring list (ST_GeneratePoints
    with a seed): a Weyl / fixed-multiplier integer lattice over the
    shell bbox with PIP rejection — reproducible across partitions and
    engines (no float RNG state). Returns (n, 2)."""
    rl = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings]
    shell = rl[0]
    x0, y0 = shell.min(axis=0)
    x1, y1 = shell.max(axis=0)
    out = np.empty((n, 2), dtype=np.float64)
    got, k = 0, 0
    rings_arg = [[list(map(tuple, r)) for r in rl]]
    while got < n:
        m = max(2 * (n - got), 64)
        ks = np.arange(k, k + m, dtype=np.int64)
        ux = (((ks * 2654435761 + seed) % 4096) + 0.5) / 4096.0
        uy = (((ks * 2246822519 + seed) % 2048) + 0.5) / 2048.0
        px = x0 + ux * (x1 - x0)
        py = y0 + uy * (y1 - y0)
        inside = point_in_rings_batch(rings_arg * m, px, py)
        sel = np.flatnonzero(inside)[: n - got]
        out[got: got + len(sel), 0] = px[sel]
        out[got: got + len(sel), 1] = py[sel]
        got += len(sel)
        k += m
    return out


# ---------------------------------------------------------------------------
# Straight skeleton / medial axis of a CONVEX polygon (r5c).
# Reference capability: ST_StraightSkeleton / ST_ApproximateMedialAxis
# (Catalog.scala; SFCGAL-backed in the reference). For a convex polygon the
# medial axis and the straight skeleton coincide, and the wavefront has no
# split events — only edge collapses — so the exact skeleton is computable
# with a plain event loop: all edges offset inward at unit speed, vertices
# travel along angle bisectors, and each event merges the two endpoints of
# the first collapsing edge(s). Concave input is the documented unsupported
# subset (the reference routes it to SFCGAL; raise rather than approximate).
# ---------------------------------------------------------------------------


def _wavefront_velocities(pts: np.ndarray) -> np.ndarray:
    """Unit-speed inward-offset vertex velocities of a convex CCW polygon:
    v_i = (n_prev + n_cur) / (1 + n_prev . n_cur) with n = inward edge
    normals (the standard bisector speed 1/sin(theta/2))."""
    e = np.roll(pts, -1, axis=0) - pts
    ln = np.hypot(e[:, 0], e[:, 1])
    n_in = np.stack([-e[:, 1] / ln, e[:, 0] / ln], axis=1)  # CCW inward
    n_prev = np.roll(n_in, 1, axis=0)
    denom = 1.0 + (n_prev * n_in).sum(axis=1)
    return (n_prev + n_in) / denom[:, None]


def straight_skeleton(ring: np.ndarray, eps: float = 1e-9) -> np.ndarray:
    """Exact straight skeleton (== medial axis) of a convex polygon ring.
    Returns an (m, 4) array of skeleton segments (x1, y1, x2, y2).

    Cost: O(n) events x O(n) per event plus an O(m^2) collinear-merge
    post-pass over the ~2n-3 emitted arcs — quadratic-ish in the VERTEX
    count, which for convex rings is small by nature (hulls, envelopes,
    map faces). Guarded at 4096 vertices so a pathological input fails
    fast instead of stalling an executor."""
    if np.asarray(ring).size > 2 * 4096:
        raise ValueError("straight_skeleton: ring exceeds 4096 vertices")
    pts = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(pts) >= 2 and (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    if len(pts) < 3:
        raise ValueError("straight_skeleton needs a polygon")
    nxt = np.roll(pts, -1, axis=0)
    if (pts[:, 0] * nxt[:, 1] - nxt[:, 0] * pts[:, 1]).sum() < 0:
        pts = pts[::-1].copy()
    if not ring_is_convex(pts):
        raise ValueError(
            "straight_skeleton: convex polygons only (the reference "
            "delegates concave input to SFCGAL)"
        )
    segs: list[tuple[float, float, float, float]] = []
    cur = pts.copy()
    while len(cur) > 2:
        if len(cur) == 3:
            a = np.hypot(*(cur[2] - cur[1]))
            b = np.hypot(*(cur[0] - cur[2]))
            c = np.hypot(*(cur[1] - cur[0]))
            inc = (a * cur[0] + b * cur[1] + c * cur[2]) / (a + b + c)
            for p in cur:
                segs.append((p[0], p[1], inc[0], inc[1]))
            break
        v = _wavefront_velocities(cur)
        e0 = np.roll(cur, -1, axis=0) - cur
        d = np.roll(v, -1, axis=0) - v
        dd = (d * d).sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = -(e0 * d).sum(axis=1) / dd
        # a true collapse closes the edge completely at time t
        resid = e0 + t[:, None] * d
        ok = (dd > eps) & (t > eps) & (np.abs(resid).max(axis=1) < 1e-6)
        if not ok.any():
            raise ValueError("straight_skeleton: no collapse event found")
        tmin = t[ok].min()
        moved = cur + tmin * v
        # merge every edge collapsing at (or within eps of) tmin
        collapse = ok & (t <= tmin + eps)
        keep = np.ones(len(cur), dtype=bool)
        for i in np.flatnonzero(collapse):
            j = (i + 1) % len(cur)
            m = (moved[i] + moved[j]) / 2
            segs.append((cur[i, 0], cur[i, 1], m[0], m[1]))
            segs.append((cur[j, 0], cur[j, 1], m[0], m[1]))
            moved[i] = m
            keep[j] = False
        nxt = moved[keep]
        # emit trace segments only at events; surviving vertices continue
        # from their advanced positions (their full trace is emitted when
        # they terminate at a later event)
        survivors = keep.copy()
        for i in np.flatnonzero(collapse):
            survivors[i] = False
        for i in np.flatnonzero(survivors):
            segs.append((cur[i, 0], cur[i, 1], moved[i, 0], moved[i, 1]))
        cur = _drop_consecutive_dups(nxt)
        if len(cur) == 2:
            if np.hypot(*(cur[1] - cur[0])) > eps:
                segs.append((cur[0, 0], cur[0, 1], cur[1, 0], cur[1, 1]))
            break
    out = np.array(segs, dtype=np.float64).reshape(-1, 4)
    # drop zero-length pieces (simultaneous events meeting at one point)
    ln = np.hypot(out[:, 2] - out[:, 0], out[:, 3] - out[:, 1])
    out = out[ln > eps]
    # simultaneous ADJACENT collapses emit a vertex's trace once per
    # incident edge — dedupe on the direction-canonical rounded segment
    a, b = out[:, :2], out[:, 2:]
    flip = (a[:, 0] > b[:, 0]) | ((a[:, 0] == b[:, 0]) & (a[:, 1] > b[:, 1]))
    canon = np.where(flip[:, None], np.concatenate([b, a], axis=1), out)
    _, idx = np.unique(canon.round(9), axis=0, return_index=True)
    out = out[np.sort(idx)]
    # a surviving vertex's trace is emitted once per event it outlives —
    # merge consecutive collinear pieces sharing an endpoint back into one
    # skeleton arc (the minimal 2n-3 edge decomposition)
    pieces = [tuple(s) for s in out]
    merged = True
    while merged:
        merged = False
        for i in range(len(pieces)):
            for j in range(i + 1, len(pieces)):
                s1, s2 = pieces[i], pieces[j]
                for p1, q1 in ((s1[:2], s1[2:]), (s1[2:], s1[:2])):
                    for p2, q2 in ((s2[:2], s2[2:]), (s2[2:], s2[:2])):
                        if (abs(q1[0] - p2[0]) < 1e-9
                                and abs(q1[1] - p2[1]) < 1e-9):
                            # merge through the shared point only if it is
                            # a degree-2 chain point, not a skeleton node
                            deg = sum(
                                (abs(s[0] - q1[0]) < 1e-9
                                 and abs(s[1] - q1[1]) < 1e-9)
                                + (abs(s[2] - q1[0]) < 1e-9
                                   and abs(s[3] - q1[1]) < 1e-9)
                                for s in pieces
                            )
                            u = (q1[0] - p1[0], q1[1] - p1[1])
                            w = (q2[0] - p2[0], q2[1] - p2[1])
                            cross = u[0] * w[1] - u[1] * w[0]
                            dot = u[0] * w[0] + u[1] * w[1]
                            if deg == 2 and abs(cross) < 1e-9 and dot > 0:
                                pieces[i] = (p1[0], p1[1], q2[0], q2[1])
                                del pieces[j]
                                merged = True
                                break
                    if merged:
                        break
                if merged:
                    break
            if merged:
                break
    return np.array(pieces, dtype=np.float64).reshape(-1, 4)


def ring_is_convex(pts: np.ndarray, eps: float = 1e-12) -> bool:
    """True iff the (open) ring is convex (all cross products one sign)."""
    a = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    e = np.roll(a, -1, axis=0) - a
    cr = e[:, 0] * np.roll(e, -1, axis=0)[:, 1] \
        - e[:, 1] * np.roll(e, -1, axis=0)[:, 0]
    return bool((cr >= -eps).all() or (cr <= eps).all())


def simplify_polygon_hull(
    ring: np.ndarray, vertex_frac: float, outer: bool = True
) -> np.ndarray:
    """ST_SimplifyPolygonHull (JTS PolygonHullSimplifier, public
    algorithm): reduce the ring to about ``vertex_frac`` of its vertices
    while guaranteeing the OUTER hull contains the input (only reflex
    vertices are filled — removing one can only grow the polygon) or the
    INNER hull is contained by it (only convex vertices are cut).
    Each step removes the candidate with the smallest triangle area whose
    replacement edge does not cross the remaining boundary.

    Cost: O(n) crossing checks per removal, O(n·k) total for k removals
    (k = (1 - vertex_frac)·n) — same complexity class as the JTS
    implementation; intended for per-feature rings, not point clouds."""
    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    n0 = len(a)
    if n0 < 4:
        return a.copy()
    nxt = np.roll(a, -1, axis=0)
    ccw = (a[:, 0] * nxt[:, 1] - nxt[:, 0] * a[:, 1]).sum() >= 0
    target = max(3, int(np.ceil(n0 * float(vertex_frac))))
    cur = a.copy()
    while len(cur) > target:
        n = len(cur)
        p = np.roll(cur, 1, axis=0)
        q = np.roll(cur, -1, axis=0)
        cross = ((cur[:, 0] - p[:, 0]) * (q[:, 1] - p[:, 1])
                 - (cur[:, 1] - p[:, 1]) * (q[:, 0] - p[:, 0]))
        # reflex iff the turn disagrees with the ring orientation
        reflex = cross < 0 if ccw else cross > 0
        cand = reflex if outer else ~reflex
        area = np.abs(cross) / 2
        order = np.argsort(area, kind="stable")
        removed = False
        for i in order:
            if not cand[i]:
                continue
            # the shortcut edge p[i]->q[i] must not cross any boundary
            # edge; edges incident to vertex i or SHARING an endpoint with
            # the shortcut (at p[i] / q[i]) are excluded — they meet it at
            # that endpoint by construction, which is not a crossing
            skip = {i, (i - 1) % n, (i + 1) % n, (i - 2) % n}
            js = np.array(
                [j for j in range(n) if j not in skip], dtype=np.int64
            )
            if len(js):
                b1 = cur[js]
                b2 = cur[(js + 1) % n]
                a1 = np.repeat(p[i][None, :], len(js), axis=0)
                a2 = np.repeat(q[i][None, :], len(js), axis=0)
                if _segments_intersect(a1, a2, b1, b2).any():
                    continue
            cur = np.delete(cur, i, axis=0)
            removed = True
            break
        if not removed:
            break  # no admissible removal — hull cannot shrink further
    return cur
