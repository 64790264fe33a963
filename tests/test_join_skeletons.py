"""The two cell-join skeletons of ``operators/spatial_join.py`` against
numpy brute force: predicate validation, the outer/overlay spellings, and
reference-point dedup when both sides span many cells."""

import numpy as np
import pytest

from sedona_spark.operators.overlay import rect_overlay_area
from sedona_spark.operators.spatial_join import (
    linestring_polygon_join,
    pip_join,
    pip_join_compact,
    pip_join_multi,
    pip_join_rect,
    pip_right_outer_join,
    pip_semi_join,
    polygon_overlap_join,
    polygon_predicate_join,
)


def _rects(rng, n, lo, hi, half):
    c = rng.uniform(lo, hi, size=(n, 2))
    h = rng.uniform(*half, size=(n, 2))
    return np.column_stack([c - h, c + h])  # xmin, ymin, xmax, ymax


def _ring(r):
    x0, y0, x1, y1 = (float(v) for v in r)
    return [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]


def _overlaps(a, b):
    """Boolean matrix: closed envelope overlap of every (a, b) pair."""
    return (
        (a[:, None, 0] <= b[None, :, 2]) & (b[None, :, 0] <= a[:, None, 2])
        & (a[:, None, 1] <= b[None, :, 3]) & (b[None, :, 1] <= a[:, None, 3])
    )


def test_unknown_join_predicate_rejected(spark):
    pts = spark.createDataFrame([(0, 1.0, 1.0)], "pid long, x double, y double")
    ring = _ring((0.0, 0.0, 2.0, 2.0))
    zones = spark.createDataFrame([(0, ring)], "zid long, ring array<double>")
    multi = spark.createDataFrame([(0, [ring])], "zid long, geom array<array<double>>")
    rects = spark.createDataFrame(
        [(0, 0.0, 0.0, 2.0, 2.0)],
        "zid long, xmin double, ymin double, xmax double, ymax double")
    calls = [
        lambda: pip_join(pts, zones, "within"),
        lambda: pip_join_multi(pts, multi, "within"),
        lambda: pip_join_rect(pts, rects, "within"),
        lambda: pip_join_rect(pts, rects, "within", salt=4),
        lambda: pip_join_compact(pts, rects, "within"),
        lambda: pip_semi_join(pts, rects, "overlaps"),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="unsupported join predicate"):
            call()
    # the accepted spellings still build and agree
    assert pip_join(pts, zones, "intersects").count() == 1
    assert pip_join_rect(pts, rects, "contains").count() == 1


def test_pip_right_outer_join_matches_numpy(spark):
    rng = np.random.default_rng(91)
    xy = rng.uniform(0, 50, size=(400, 2))
    rb = _rects(rng, 12, 5, 45, (0.5, 6.0))
    rb[11] = (60.0, 60.0, 61.0, 61.0)  # a zone no point reaches
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(xy)],
        "pid long, x double, y double")
    rects = spark.createDataFrame(
        [(j, *map(float, r)) for j, r in enumerate(rb)],
        "zid long, xmin double, ymin double, xmax double, ymax double")
    got = sorted(
        (r.zid, r.pid) for r in pip_right_outer_join(pts, rects, level=6).collect()
    )
    inside = (
        (xy[:, None, 0] >= rb[None, :, 0]) & (xy[:, None, 0] <= rb[None, :, 2])
        & (xy[:, None, 1] >= rb[None, :, 1]) & (xy[:, None, 1] <= rb[None, :, 3])
    )
    want = []
    for j in range(len(rb)):
        hits = np.flatnonzero(inside[:, j])
        want += [(j, int(i)) for i in hits] if len(hits) else [(j, None)]
    assert got == sorted(want, key=lambda t: (t[0], -1 if t[1] is None else t[1]))
    assert (11, None) in got


def test_rect_overlay_area_matches_numpy(spark):
    rng = np.random.default_rng(92)
    a = _rects(rng, 30, 0, 40, (0.5, 5.0))
    b = _rects(rng, 25, 0, 40, (0.5, 5.0))
    left = spark.createDataFrame(
        [(i, *map(float, r)) for i, r in enumerate(a)],
        "lid long, xmin double, ymin double, xmax double, ymax double")
    right = spark.createDataFrame(
        [(j, *map(float, r)) for j, r in enumerate(b)],
        "rid long, rxmin double, rymin double, rxmax double, rymax double")
    # level 8: cells ~1.4 x 0.7 degrees, so rects span many cells each
    got = {
        r.lid: (r.n_pieces, r.overlay_area)
        for r in rect_overlay_area(left, right, "lid", level=8).collect()
    }
    w = np.minimum(a[:, None, 2], b[None, :, 2]) - np.maximum(a[:, None, 0], b[None, :, 0])
    h = np.minimum(a[:, None, 3], b[None, :, 3]) - np.maximum(a[:, None, 1], b[None, :, 1])
    piece = np.where((w > 0) & (h > 0), w * h, 0.0)
    want = {
        i: (int((piece[i] > 0).sum()), round(float(piece[i].sum()), 6))
        for i in range(len(a)) if (piece[i] > 0).any()
    }
    assert got.keys() == want.keys()
    for i, (n, area) in want.items():
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(area, abs=1e-6)


def test_envelope_pair_joins_emit_each_pair_once(spark):
    """Fine cells: every polygon and line spans tens of cells, so each
    intersecting pair meets in many shared cells; the reference-point
    rule must still emit it exactly once, in every join built on
    ``envelope_pair_join``."""
    rng = np.random.default_rng(93)
    level = 9  # cells ~0.70 x 0.35 degrees
    a = _rects(rng, 14, 0, 20, (1.0, 4.0))
    b = _rects(rng, 14, 0, 20, (1.0, 4.0))
    want = {(i, j) for i, j in zip(*np.nonzero(_overlaps(a, b)))}
    assert len(want) > 20

    left = spark.createDataFrame(
        [(i, _ring(r)) for i, r in enumerate(a)], "lid long, l_ring array<double>")
    right = spark.createDataFrame(
        [(j, _ring(r)) for j, r in enumerate(b)], "rid long, r_ring array<double>")
    for out in (
        polygon_overlap_join(left, right, level=level),
        polygon_predicate_join(left, right, "intersects", level=level),
    ):
        pairs = [(r.lid, r.rid) for r in out.select("lid", "rid").collect()]
        assert len(pairs) == len(set(pairs))
        assert set(pairs) == want

    # horizontal polylines (two segments each) against the b rectangles
    ys = rng.uniform(0, 20, 20)
    xs = np.sort(rng.uniform(-2, 22, size=(20, 3)), axis=1)
    lines = spark.createDataFrame(
        [(k, [float(xs[k, 0]), float(ys[k]), float(xs[k, 1]), float(ys[k]),
              float(xs[k, 2]), float(ys[k])]) for k in range(20)],
        "lid long, line array<double>")
    zones = spark.createDataFrame(
        [(j, [_ring(r)]) for j, r in enumerate(b)], "rid long, geom array<array<double>>")
    hit = (
        (ys[:, None] >= b[None, :, 1]) & (ys[:, None] <= b[None, :, 3])
        & (xs[:, None, 0] <= b[None, :, 2]) & (xs[:, None, 2] >= b[None, :, 0])
    )
    want_lines = {(k, j) for k, j in zip(*np.nonzero(hit))}
    assert len(want_lines) > 10
    pairs = [
        (r.lid, r.rid)
        for r in linestring_polygon_join(lines, zones, level=level)
        .select("lid", "rid").collect()
    ]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == want_lines
