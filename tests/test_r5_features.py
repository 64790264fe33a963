"""Round-5 feature tests: conic CRS round-trips, geodesic measures,
approximate kNN join semantics, the planted-LSH no-loss fixture, and the
widened SQL catalog's parity with the DataFrame API."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

import sedona_spark
from sedona_spark.sources.testdata import points_from_events

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg(spark):
    sedona_spark.register(spark)
    return spark


def test_conic_roundtrip_and_properties(spark):
    """LCC/Albers closed forms (Snyder §15/§14): forward∘inverse is the
    identity; the projection origin maps to (0, 0); Albers preserves area
    (projected planar area of a small graticule rect equals its spherical
    area within 0.5%) — the defining property of an equal-area conic."""
    from sedona_spark.functions.crs import (
        CONIC_EPSG,
        st_transform_albers,
        st_transform_albers_inv,
        st_transform_epsg,
        st_transform_lcc,
        st_transform_lcc_inv,
    )
    from sedona_spark.functions.st_measures import st_area_sphere

    pts = points_from_events(spark, SF).limit(200)
    for kind, lon0, lat0, sp1, sp2 in (CONIC_EPSG[2154][:5],
                                       CONIC_EPSG[5070][:5]):
        fwd = st_transform_lcc if kind == "lcc" else st_transform_albers
        inv = st_transform_lcc_inv if kind == "lcc" else st_transform_albers_inv
        x, y = fwd(F.col("x"), F.col("y"), lon0, lat0, sp1, sp2)
        lon2, lat2 = inv(F.col("x2"), F.col("y2"), lon0, lat0, sp1, sp2)
        back = (
            pts.select("x", "y", x.alias("x2"), y.alias("y2"))
            .select("x", "y", lon2.alias("lon2"), lat2.alias("lat2"))
        )
        for r in back.collect():
            # r6 ellipsoidal inverse uses the Snyder χ/β series — exact to
            # ~1e-8 deg (≈1 mm); the spherical r5 inverse was closed-form
            assert r["lon2"] == pytest.approx(r["x"], abs=1e-7)
            assert r["lat2"] == pytest.approx(r["y"], abs=1e-7)
        origin = spark.range(1).select(
            *fwd(F.lit(float(lon0)), F.lit(float(lat0)), lon0, lat0, sp1, sp2)
        ).collect()[0]
        assert abs(origin[0]) < 1e-6
        # y(origin) is 0 only when lat0 sits between the parallels (LCC);
        # Albers grids put lat0 below them — x=0 on the central meridian
        # is the invariant shared by both
    # equal-area property: 1°×1° rect at the Albers grid center
    _, lon0, lat0, sp1, sp2 = CONIC_EPSG[5070][:5]
    cx, cy = lon0, (sp1 + sp2) / 2.0
    corners = [(cx - 0.5, cy - 0.5), (cx + 0.5, cy - 0.5),
               (cx + 0.5, cy + 0.5), (cx - 0.5, cy + 0.5)]
    ring = [v for p in corners for v in p]
    df = spark.range(1).select(
        F.array(*[F.lit(v) for v in ring]).alias("ring")
    )
    proj = []
    for px, py in corners:
        xx, yy = st_transform_epsg(F.lit(px), F.lit(py), 5070)
        proj.append(df.select(xx.alias("x"), yy.alias("y")).collect()[0])
    planar = 0.0
    for i in range(4):
        a, b = proj[i], proj[(i + 1) % 4]
        planar += a["x"] * b["y"] - b["x"] * a["y"]
    planar = abs(planar) / 2.0
    sph = df.select(st_area_sphere(F.col("ring")).alias("a")).collect()[0]["a"]
    assert planar == pytest.approx(sph, rel=5e-3)


def test_geodesic_measures_closed_forms(spark):
    """st_area_sphere equals the spherical BAND closed form on a
    graticule rect; st_perimeter_spheroid equals the sum of the four
    Andoyer edges; st_length_spheroid of a 2-point line equals the single
    Andoyer distance."""
    from sedona_spark.functions.st_measures import (
        _EARTH_RADIUS_M,
        st_area_sphere,
        st_distance_spheroid,
        st_length_spheroid,
        st_perimeter_spheroid,
    )

    x0, y0, x1, y1 = 10.0, 40.0, 12.5, 43.0
    ring = [x0, y0, x1, y0, x1, y1, x0, y1]
    df = spark.range(1).select(
        F.array(*[F.lit(v) for v in ring]).alias("ring"),
        F.array(F.lit(x0), F.lit(y0), F.lit(x1), F.lit(y1)).alias("line"),
    )
    rad = math.pi / 180.0
    band = (_EARTH_RADIUS_M ** 2 * (x1 - x0) * rad
            * (math.sin(y1 * rad) - math.sin(y0 * rad)))
    got = df.select(
        st_area_sphere(F.col("ring")).alias("a"),
        st_perimeter_spheroid(F.col("ring")).alias("p"),
        st_length_spheroid(F.col("line")).alias("l"),
    ).collect()[0]
    assert got["a"] == pytest.approx(band, rel=1e-12)

    def andoyer(ax, ay, bx, by):
        return df.select(st_distance_spheroid(
            F.lit(ax), F.lit(ay), F.lit(bx), F.lit(by)
        ).alias("d")).collect()[0]["d"]

    edges = (andoyer(x0, y0, x1, y0) + andoyer(x1, y0, x1, y1)
             + andoyer(x1, y1, x0, y1) + andoyer(x0, y1, x0, y0))
    assert got["p"] == pytest.approx(edges, rel=1e-12)
    assert got["l"] == pytest.approx(andoyer(x0, y0, x1, y1), rel=1e-12)


def test_knn_join_approx_matches_exact_when_disk_covers(spark):
    """The approximate join's documented guarantee: for every query whose
    EXACT kth-neighbor distance is under ring·min(cell_w, cell_h), the
    one-pass approximate result equals the exact result row-for-row."""
    from sedona_spark import cells
    from sedona_spark.operators.knn import knn_join, knn_join_approx

    level, k = 6, 5
    # dense synthetic box (~2000 pts in 10°×10°) so most queries' exact
    # kth distance sits well under one level-6 cell (~2.8°)
    pts = spark.range(2000).select(
        F.col("id").alias("event_id"),
        (F.lit(20.0) + (F.col("id") * 2654435761) % 1000 / 100.0).alias("ox"),
        (F.lit(40.0) + (F.col("id") * 2246822519) % 1000 / 100.0).alias("oy"),
    )
    qs = spark.range(20).select(
        F.col("id").alias("qid"),
        (F.lit(22.0) + (F.col("id") * 7919) % 600 / 100.0).alias("qx"),
        (F.lit(42.0) + (F.col("id") * 104729) % 600 / 100.0).alias("qy"),
    )
    exact = knn_join(
        qs, pts, k=k, level=level, query_id="qid", qx="qx", qy="qy"
    ).select("qid", "event_id", "knn_rank")
    approx = knn_join_approx(
        qs, pts, k=k, level=level, ring=1, query_id="qid", qx="qx", qy="qy"
    ).select("qid", "event_id", "knn_rank")
    cell_w = 360.0 / (1 << level)
    cell_h = 180.0 / (1 << level)
    bound = min(cell_w, cell_h)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["qid"], set()).add((r["event_id"], r["knn_rank"]))
    ap = {}
    for r in approx.collect():
        ap.setdefault(r["qid"], set()).add((r["event_id"], r["knn_rank"]))
    # which queries are certified: exact kth dist < bound
    pts_pd = pts.select("event_id", "ox", "oy").toPandas().set_index("event_id")
    q_pd = qs.toPandas()
    certified = 0
    for _, q in q_pd.iterrows():
        kth = sorted(
            math.hypot(pts_pd.loc[e]["ox"] - q["qx"],
                       pts_pd.loc[e]["oy"] - q["qy"])
            for e, _ in ex[q["qid"]]
        )[-1]
        if kth < bound:
            certified += 1
            assert ap[q["qid"]] == ex[q["qid"]], q["qid"]
    assert certified > 0  # fixture actually exercises the guarantee


def test_planted_lsh_axes_no_loss(spark):
    """The planted fixture's provable property: every cluster-A vector
    (cos θ·u ± sin θ·w) lands in u's sign bucket under the SEEDED
    hyperplanes, so LSH bucketing loses nothing and equals brute force."""
    from sedona_spark.pipeline.ann import (
        _hyperplanes,
        lsh_bucketed_topk,
        planted_lsh_axes,
    )

    u, w = planted_lsh_axes()
    planes = _hyperplanes(len(u), 8, 42)
    assert np.abs(planes @ w).max() < 1e-9          # w in the null space
    assert abs(float(u @ w)) < 1e-9                  # orthogonal pair
    margins = planes @ u
    assert (margins > 0).all()
    assert margins.std() / margins.mean() < 1e-9     # equal margins
    for theta in (0.01, 0.1, 0.19):
        for sig in (1.0, -1.0):
            v = math.cos(theta) * u + sig * math.sin(theta) * w
            assert (np.sign(planes @ v) == np.sign(margins)).all()


def test_sql_registry_r5_parity(reg):
    """Widened catalog (r5): each newly SQL-registered function agrees
    with its DataFrame-API twin on the same rows."""
    spark = reg
    from sedona_spark.functions.crs import st_transform_albers, st_transform_lcc
    from sedona_spark.functions.st import (
        st_affine,
        st_hausdorff_distance,
        st_line_interpolate_point,
        st_voronoi_polygons,
    )
    from sedona_spark.functions.st_measures import (
        st_area_sphere,
        st_length_spheroid,
        st_perimeter_spheroid,
    )

    df = spark.range(1, 5).select(
        (F.col("id") * 7.0).alias("cx"), (F.col("id") * 3.0).alias("cy"),
        (F.col("id") + 1.0).alias("hx"), (F.col("id") * 0.5 + 1.0).alias("hy"),
    ).select(
        "cx", "cy", "hx", "hy",
        F.array(
            F.col("cx") - F.col("hx"), F.col("cy") - F.col("hy"),
            F.col("cx") + F.col("hx"), F.col("cy") - F.col("hy"),
            F.col("cx") + F.col("hx"), F.col("cy") + F.col("hy"),
            F.col("cx") - F.col("hx"), F.col("cy") + F.col("hy"),
        ).alias("ring"),
        F.array(
            F.col("cx") - F.col("hx"), F.col("cy") - F.col("hy"),
            F.col("cx") + F.col("hx"), F.col("cy") + F.col("hy"),
        ).alias("line"),
    )
    df.createOrReplaceTempView("t_r5")

    lcc_x, lcc_y = st_transform_lcc(F.col("cx"), F.col("cy"), 3.0, 46.5, 44.0, 49.0)
    alb_x, alb_y = st_transform_albers(F.col("cx"), F.col("cy"), -96.0, 23.0, 29.5, 45.5)
    api = df.select(
        st_area_sphere(F.col("ring")).alias("asph"),
        st_perimeter_spheroid(F.col("ring")).alias("psph"),
        st_length_spheroid(F.col("line")).alias("lsph"),
        st_affine(F.col("ring"), 2.0, 0.5, -0.5, 1.5, 3.0, -2.0).alias("aff"),
        st_hausdorff_distance(F.col("ring"), F.col("line")).alias("haus"),
        st_line_interpolate_point(F.col("line"), 0.3).alias("ip"),
        st_voronoi_polygons(
            F.col("line"),
            F.array(F.col("cx") - F.col("hx"), F.col("cy") - F.col("hy"),
                    F.col("cx") + F.col("hx"), F.col("cy") + F.col("hy")),
        ).alias("vor"),
        lcc_x.alias("lx"), lcc_y.alias("ly"),
        alb_x.alias("ax"), alb_y.alias("ay"),
    ).collect()
    got = spark.sql(
        "select ST_AreaSpheroid(ring) asph, ST_PerimeterSpheroid(ring) psph, "
        "ST_LengthSpheroid(line) lsph, "
        "ST_Affine(ring, 2e0, 5e-1, -5e-1, 1.5e0, 3e0, -2e0) aff, "
        "ST_HausdorffDistance(ring, line) haus, "
        "ST_LineInterpolatePoint(line, 3e-1) ip, "
        "ST_VoronoiPolygons(line, array(cx - hx, cy - hy, cx + hx, cy + hy)) vor, "
        "ST_TransformLCC(cx, cy, 3e0, 46.5e0, 44e0, 49e0).x lx, "
        "ST_TransformLCC(cx, cy, 3e0, 46.5e0, 44e0, 49e0).y ly, "
        "ST_TransformAlbers(cx, cy, -96e0, 23e0, 29.5e0, 45.5e0).x ax, "
        "ST_TransformAlbers(cx, cy, -96e0, 23e0, 29.5e0, 45.5e0).y ay "
        "from t_r5"
    ).collect()
    for a, g in zip(api, got):
        for c in ("asph", "psph", "lsph", "haus"):
            assert g[c] == pytest.approx(a[c], rel=1e-9), c
        # conic SQL bodies recompute n/F/ρ₀ from the args at runtime —
        # agree with the python-precomputed Column constants to fp noise
        for c in ("lx", "ly", "ax", "ay"):
            assert g[c] == pytest.approx(a[c], rel=1e-9, abs=1e-4), c
        assert list(g["aff"]) == pytest.approx(list(a["aff"]), rel=1e-12)
        assert list(g["ip"]) == pytest.approx(list(a["ip"]), rel=1e-12)
        assert len(g["vor"]) == len(a["vor"]) == 2
    # accessor/editor scalar tier
    row = spark.sql(
        "select ST_IsClosed(ring) cl, ST_NumPoints(ST_AddPoint(ring, 0e0, 0e0)) na, "
        "ST_NumPoints(ST_RemovePoint(ring, 1)) nr, "
        "element_at(ST_FlipCoordinates(ring), 1) fx, "
        "element_at(ST_PointN(ring, 3), 1) p3, "
        "ST_Area(ST_Scale(ring, 2e0, 1e0)) sa, ST_Area(ring) a0 "
        "from t_r5 limit 1"
    ).collect()[0]
    assert row["cl"] is False and row["na"] == 5 and row["nr"] == 3
    assert row["sa"] == pytest.approx(2 * row["a0"], rel=1e-12)


def test_connected_components_random_graph(spark):
    """Pointer-jumping components equal a union-find reference on a
    seeded random graph (including isolated nodes via representatives)."""
    from sedona_spark.pipeline.dedup import (
        connected_components,
        dedup_representatives,
    )

    rng = np.random.default_rng(7)
    n = 400
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, n, size=(300, 2)) if a != b]
    # union-find reference
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_comp = {}
    for v in range(n):
        r = find(v)
        want_comp.setdefault(r, []).append(v)
    want = {v: min(ms) for ms in want_comp.values() for v in ms}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    touched = {v for e in edges for v in e}
    assert got == {v: want[v] for v in touched}

    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    rep = dedup_representatives(docs, pairs).collect()
    assert len(rep) == n
    for r in rep:
        assert r["component"] == want[r["id"]]
        assert r["keep"] == (r["id"] == want[r["id"]])


def test_connected_components_long_chain_fast(spark):
    """A 200-node chain must converge in ~log rounds — the pointer jump
    is doing its job if max_iter=12 suffices (plain min-label would need
    ~200 rounds)."""
    from sedona_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    got = connected_components(pairs, max_iter=12).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 200


def test_connected_components_shuffled_chain_fast(spark):
    """The hook step keeps rounds logarithmic when ids are not in chain
    order (hashed string ids are not): a 200-node chain over shuffled ids
    converges within 6 rounds, which min-label propagation with pointer
    jumps alone does not."""
    from sedona_spark.pipeline.dedup import connected_components

    ids = np.random.default_rng(2).permutation(200).tolist()
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(199)], "id_a long, id_b long"
    )
    got = connected_components(pairs, max_iter=6).collect()
    assert len(got) == 200 and all(r["component"] == 0 for r in got)


def test_connected_components_estimate_bounded(spark):
    """Each round's checkpoint resets the optimizer's size estimate. A
    checkpoint that keeps the estimate of the plan it cut doubles the
    estimate's digit count every round: with one pointer jump per round
    this chain needs 12 rounds and ends at a 232,347-digit estimate."""
    from sedona_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(2047)], "id_a long, id_b long"
    )
    out = connected_components(pairs)
    size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(str(size)) < 10**40
    assert out.filter(F.col("component") != 0).isEmpty()


def test_connected_components_raises_when_not_converged(spark):
    """Out of rounds without a fixpoint is an error, not a partial
    labelling (a 200-node chain after 2 rounds), and the failed call
    releases its round checkpoints."""
    from sedona_spark.pipeline.dedup import connected_components

    jsc = spark.sparkContext._jsc
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    held = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=2)
    assert jsc.getPersistentRDDs().size() <= held


def test_knn_join_approx_plan_shape(spark):
    """100 TB plan contract for the approximate kNN join: one equi-join on
    the cell key (no CartesianProduct, no broadcast of the big side), no
    Python eval anywhere — the candidate generation is pure JVM."""
    from sedona_spark.operators.knn import knn_join_approx
    from sedona_spark.sources.testdata import points_from_events

    pts = points_from_events(spark, SF).withColumnsRenamed(
        {"x": "ox", "y": "oy"}
    )
    qs = points_from_events(spark, SF).limit(10).select(
        F.col("event_id").alias("qid"),
        F.col("x").alias("qx"), F.col("y").alias("qy"),
    )
    out = knn_join_approx(qs, pts, k=3, level=6,
                          query_id="qid", qx="qx", qy="qy")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_stereo_projection_properties(spark):
    """Polar stereographic: round trip is the identity (lon normalized
    mod 360); true scale at the standard parallel (the projected length
    of a small E-W arc at lat_ts equals its great-circle length within
    0.1%); the pole maps to (0, 0)."""
    from sedona_spark.functions.crs import (
        st_transform_stereo,
        st_transform_stereo_inv,
    )
    from sedona_spark.functions.st_measures import st_distance_sphere

    pts = points_from_events(spark, SF).limit(200)
    for lon0, lat_ts, south in ((-45.0, 70.0, False), (0.0, -71.0, True)):
        x, y = st_transform_stereo(F.col("x"), F.col("y"), lon0, lat_ts, south)
        lon2, lat2 = st_transform_stereo_inv(
            F.col("px"), F.col("py"), lon0, lat_ts, south
        )
        back = (
            pts.select("x", "y", x.alias("px"), y.alias("py"))
            .select(
                "x", "y",
                (F.pmod(lon2 - F.col("x") + F.lit(180.0), F.lit(360.0))
                 - F.lit(180.0)).alias("dlon"),
                (lat2 - F.col("y")).alias("dlat"),
            )
        )
        for r in back.collect():
            assert abs(r["dlon"]) < 1e-9
            assert abs(r["dlat"]) < 1e-9
        pole = spark.range(1).select(
            *st_transform_stereo(
                F.lit(33.0), F.lit(-90.0 if south else 90.0),
                lon0, lat_ts, south)
        ).collect()[0]
        assert abs(pole[0]) < 1e-6 and abs(pole[1]) < 1e-6
        # true scale at lat_ts: 0.1° east-west arc equals the ELLIPSOIDAL
        # parallel arc a·m(φ_ts)·Δλ (the definition of the standard
        # parallel on the ellipsoid — r6 upgraded the tier from spherical)
        from sedona_spark.functions.crs import _E2W, _mf

        lt = lat_ts
        row = spark.range(1).select(
            *[c.alias(n) for c, n in zip(
                st_transform_stereo(F.lit(10.0), F.lit(lt), lon0, lat_ts, south)
                + st_transform_stereo(F.lit(10.1), F.lit(lt), lon0, lat_ts, south),
                ("ax", "ay", "bx", "by"))],
        ).collect()[0]
        planar = math.hypot(row["bx"] - row["ax"], row["by"] - row["ay"])
        arc = 6378137.0 * _mf(lt * math.pi / 180.0, _E2W) \
            * 0.1 * math.pi / 180.0
        assert planar == pytest.approx(arc, rel=1e-4)


def test_sql_registry_accessor_batch(reg):
    """r5 accessor/constructor batch semantics, including ST_Normalize's
    canonical rotation and ST_TransformStereo parity with the Column
    form."""
    spark = reg
    from sedona_spark.functions.crs import st_transform_stereo

    df = spark.range(1).select(
        F.array(F.lit(2.0), F.lit(1.0), F.lit(0.0), F.lit(0.0),
                F.lit(2.0), F.lit(0.0)).alias("ring"),
    )
    df.createOrReplaceTempView("t_acc")
    row = spark.sql(
        "select ST_Normalize(ring) nr, "
        "ST_BoundingDiagonal(ring) bd, "
        "ST_NRings(array(ring, ring)) nrg, "
        "element_at(ST_Expand(ring, 1e0, 2e0), 1) ex1, "
        "ST_Angle(1e0, 0e0, 0e0, 0e0, 0e0, 1e0) ang, "
        "ST_Degrees(pi()) deg, ST_Radians(180e0) rad, "
        "size(ST_MakeLine(ring, ring)) ml, "
        "size(ST_MakePolygon(ring)) mp "
        "from t_acc"
    ).collect()[0]
    assert list(row["nr"]) == [0.0, 0.0, 2.0, 0.0, 2.0, 1.0]
    assert list(row["bd"]) == [0.0, 0.0, 2.0, 1.0]
    assert row["nrg"] == 2 and row["ex1"] == -1.0
    assert row["ang"] == pytest.approx(3 * math.pi / 2)
    assert row["deg"] == pytest.approx(180.0)
    assert row["rad"] == pytest.approx(math.pi)
    assert row["ml"] == 12 and row["mp"] == 1
    # stereo SQL vs Column parity
    pts = points_from_events(spark, SF).limit(50)
    pts.createOrReplaceTempView("t_stereo")
    cx, cy = st_transform_stereo(F.col("x"), F.col("y"), -45.0, 70.0, False)
    api = pts.select(cx.alias("sx"), cy.alias("sy")).collect()
    got = spark.sql(
        "select ST_TransformStereo(x, y, -45e0, 70e0, false).x sx, "
        "ST_TransformStereo(x, y, -45e0, 70e0, false).y sy from t_stereo"
    ).collect()
    for a, g in zip(api, got):
        assert g["sx"] == pytest.approx(a["sx"], rel=1e-12)
        assert g["sy"] == pytest.approx(a["sy"], rel=1e-12)


def test_sql_registry_rs_scalar_tier(reg):
    """RS_ metadata scalars from SQL: width/height/bands/count and
    band summary stats agree with the decoded numpy truth."""
    spark = reg
    import pandas as pd

    from sedona_spark.sources.images import decode_image, encode_image

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 255, size=(12, 9, 3), dtype=np.uint8)
    buf = encode_image(arr, "fpng")
    df = spark.createDataFrame(pd.DataFrame({"r": [bytearray(buf)]}))
    df.createOrReplaceTempView("t_rs")
    row = spark.sql(
        "select RS_Width(r) w, RS_Height(r) h, RS_NumBands(r) nb, "
        "RS_Count(r) c, RS_SummaryStats(r, 1) s from t_rs"
    ).collect()[0]
    assert (row["w"], row["h"], row["nb"], row["c"]) == (9, 12, 3, 108)
    band = arr[:, :, 1].astype(np.int64)
    assert row["s"]["cnt"] == 108
    assert row["s"]["sum"] == int(band.sum())
    assert row["s"]["mean"] == pytest.approx(band.mean())
    assert row["s"]["min"] == int(band.min())
    assert row["s"]["max"] == int(band.max())


def test_tmerc_utm_identity_and_roundtrip(spark):
    """General transverse Mercator: with UTM zone-30 parameters it must
    reproduce st_transform_to_utm EXACTLY (same series, same constants);
    forward∘inverse is the identity for every national-grid parameter
    set in TMERC_EPSG."""
    from sedona_spark.functions.crs import (
        TMERC_EPSG,
        st_transform_tmerc,
        st_transform_tmerc_inv,
        st_transform_to_utm,
    )

    pts = (
        points_from_events(spark, SF)
        .filter((F.col("x") > -6.0) & (F.col("x") < 0.0)
                & (F.col("y") > 35.0) & (F.col("y") < 60.0))
        .limit(100)
    )
    ue, un = st_transform_to_utm(F.col("x"), F.col("y"), 30)
    te, tn = st_transform_tmerc(
        F.col("x"), F.col("y"), lon0=-3.0, k0=0.9996, fe=500000.0
    )
    for r in pts.select(ue.alias("ue"), un.alias("un"),
                        te.alias("te"), tn.alias("tn")).collect():
        assert r["te"] == r["ue"] and r["tn"] == r["un"]  # bit-identical

    for epsg, (lon0, lat0, k0, fe, fn) in TMERC_EPSG.items():
        box = pts if epsg == 27700 else points_from_events(spark, SF).filter(
            (F.abs(F.col("x") - lon0) < 3.0) & (F.abs(F.col("y")) < 70.0)
        ).limit(100)
        e, n = st_transform_tmerc(F.col("x"), F.col("y"), lon0, lat0, k0, fe, fn)
        lon2, lat2 = st_transform_tmerc_inv(
            F.col("e"), F.col("n"), lon0, lat0, k0, fe, fn
        )
        back = box.select("x", "y", e.alias("e"), n.alias("n")).select(
            "x", "y", lon2.alias("lon2"), lat2.alias("lat2")
        )
        rows = back.collect()
        for r in rows:
            assert r["lon2"] == pytest.approx(r["x"], abs=1e-8), epsg
            assert r["lat2"] == pytest.approx(r["y"], abs=1e-8), epsg


def test_geopackage_roundtrip(spark, tmp_path):
    """GeoPackage sink/source (OGC 12-128r18 over stdlib sqlite3):
    polygon-with-hole + multipolygon + attributes round-trip through the
    spec blob (GP header + ISO WKB) and the distributed rowid-range
    reader; convention tables present so other tools can open it."""
    import sqlite3

    from sedona_spark.functions.st import st_geom_rings_from_wkt, st_rings_stats
    from sedona_spark.sources.geopackage import read_geopackage, write_geopackage

    wkts = [
        (0, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"),
        (1, "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 12 0, 12 2, 10 2, 10 0)))"),
        (2, "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))"),
    ]
    df = spark.createDataFrame(wkts, "id long, wkt string").select(
        "id", st_geom_rings_from_wkt(F.col("wkt")).alias("geom")
    )
    want = {
        r["id"]: (round(r["s"]["area"], 9), r["s"]["n_rings"], r["s"]["n_holes"])
        for r in df.select(
            "id", st_rings_stats(F.col("geom")).alias("s")).collect()
    }
    path = str(tmp_path / "layer.gpkg")
    assert write_geopackage(df, path, table="t", order_col="id") == 3
    # convention tables are present and consistent
    con = sqlite3.connect(path)
    assert con.execute(
        "select data_type from gpkg_contents where table_name='t'"
    ).fetchone()[0] == "features"
    assert con.execute(
        "select column_name from gpkg_geometry_columns where table_name='t'"
    ).fetchone()[0] == "geom"
    con.close()
    back = read_geopackage(spark, path)
    rows = back.select(
        "fid", "id", "kind", st_rings_stats(F.col("geom")).alias("s")
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert (round(r["s"]["area"], 9), r["s"]["n_rings"], r["s"]["n_holes"]) \
            == want[r["id"]]
        assert r["fid"] == r["id"] + 1


def test_osm_pbf_roundtrip(spark, tmp_path):
    """OSM PBF DenseNodes round trip through the stdlib protobuf codec:
    negative coordinates and ids, multiple blobs, delta chains crossing
    block boundaries; integer 1e-7-degree fields exact."""
    from sedona_spark.sources.osmpbf import read_osm_pbf, write_osm_pbf

    rows = [
        (-5, -179.9999999, -89.9999999),
        (0, 0.0, 0.0),
        (7, 13.3777041, 52.5162746),      # Brandenburg Gate
        (100, -73.985656, 40.748433),     # ESB
        (101, 179.9999999, 89.9999999),
    ] + [(1000 + i, -10.0 + i * 0.25, 5.0 - i * 0.125) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    path = str(tmp_path / "nodes.osm.pbf")
    assert write_osm_pbf(df, path, nodes_per_block=8, order_col="id") == len(rows)
    back = {r["node_id"]: r for r in read_osm_pbf(spark, path).collect()}
    assert len(back) == len(rows)
    for i, lon, lat in rows:
        assert back[i]["lon_i7"] == round(lon * 1e7)
        assert back[i]["lat_i7"] == round(lat * 1e7)
        assert back[i]["lon"] == pytest.approx(lon, abs=1e-7)
        assert back[i]["lat"] == pytest.approx(lat, abs=1e-7)


def test_viz_pixelize_colorize_render(spark):
    """Viz pipeline: pixelize a triangle (non-trivial shape), render it,
    decode the painted image and verify the EXACT nonzero pixel set
    equals the pixelize output and the painted channel values match the
    colorizer's ARGB packing."""
    from sedona_spark.sources.images import decode_image
    from sedona_spark.viz import render_tiles, st_colorize, st_pixelize

    w = 32
    df = spark.range(1).select(
        F.lit(0).cast("long").alias("tile_id"),
        F.array(*[F.lit(float(v)) for v in
                  [0.0, 0.0, 4.0, 0.0, 0.0, 4.0]]).alias("ring"),
        F.array(*[F.lit(float(v)) for v in [0.0, 0.0, 4.0, 4.0]]).alias("env"),
    )
    px = df.select(
        "tile_id", st_pixelize(F.col("ring"), F.col("env"), w, w).alias("pix")
    )
    ids = sorted(px.collect()[0]["pix"])
    # triangle x+y≤4 over [0,4]²: center at (i+.5, j+.5)·4/32 is interior
    # iff i+j+1 < 32 and ON the hypotenuse iff i+j+1 == 32 — pixelize is
    # covers-semantics (boundary centers included)
    want = sorted(j * w + i for j in range(w) for i in range(w)
                  if i + j + 1 <= w)
    assert ids == want
    long = px.select(
        "tile_id", F.explode("pix").alias("pixel_id")
    ).withColumn("color", st_colorize(F.lit(0.5), 1.0))
    out = render_tiles(long, w=w, h=w).collect()[0]
    assert out["n_painted"] == len(want)
    arr, _ = decode_image(bytes(out["png"]))
    nz = sorted(
        int(y) * w + int(x)
        for y, x in zip(*np.nonzero(arr.sum(axis=2)))
    )
    assert nz == want
    ys, xs = want[0] // w, want[0] % w
    assert arr[ys, xs, 0] == 128 and arr[ys, xs, 1] == 128 \
        and arr[ys, xs, 2] == 64  # red ramp 0.5 → 128; fixed G/B mid-tones


def test_chunk_documents_zero_shuffle_plan(spark):
    """chunk_documents' 100 TB contract: a map-only job — the executed
    plan has NO Exchange (shuffle) and no Python eval; a trillion-token
    corpus chunks in one pass."""
    from sedona_spark.pipeline.text import chunk_tokens

    docs = spark.createDataFrame(
        [(i, "tok " * 100) for i in range(10)], "doc_id long, text string"
    )
    out = chunk_tokens(docs, max_tokens=32, overlap=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_connected_components_plan_bounded(spark):
    """Connected components' per-round shape: state is one (id, label)
    row per node and every step is an equi-join/groupBy on the id — no
    cartesian product, no Python eval in the loop."""
    from sedona_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    out = connected_components(pairs, max_iter=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_osm_pbf_ways_roundtrip(spark, tmp_path):
    """OSM PBF Way blocks: delta-coded refs round-trip exactly,
    including negative and non-monotonic node references."""
    from sedona_spark.sources.osmpbf import read_osm_pbf_ways, write_osm_pbf_ways

    rows = [
        (1, [100, 101, 102, 100]),          # closed way
        (2, [-5, 7, 3, 1000000000000]),     # negative + huge
        (3, []),                            # empty
        (9, list(range(50, 0, -1))),        # descending
    ]
    df = spark.createDataFrame(rows, "way_id long, refs array<long>")
    path = str(tmp_path / "ways.osm.pbf")
    assert write_osm_pbf_ways(df, path, ways_per_block=2,
                              order_col="way_id") == 4
    back = {r["way_id"]: list(r["refs"])
            for r in read_osm_pbf_ways(spark, path).collect()}
    assert back == {i: refs for i, refs in rows}


def test_sql_registry_alias_batch(reg):
    """Converse/alias names: ST_Within/CoveredBy point forms mirror
    Contains/Covers; GeometryType and SRID report the geometry model."""
    spark = reg
    row = spark.sql(
        "select ST_Within(1e0, 1e0, array(array(0e0,0e0,4e0,0e0,4e0,4e0,0e0,4e0))) w_in, "
        "ST_Within(9e0, 9e0, array(array(0e0,0e0,4e0,0e0,4e0,4e0,0e0,4e0))) w_out, "
        "ST_CoveredBy(0e0, 0e0, array(array(0e0,0e0,4e0,0e0,4e0,4e0,0e0,4e0))) cb_edge, "
        "ST_GeometryType(array(array(0e0,0e0,1e0,0e0,1e0,1e0))) t1, "
        "ST_GeometryType(array(array(0e0,0e0,1e0,0e0,1e0,1e0), "
        "array(5e0,5e0,6e0,5e0,6e0,6e0))) t2, "
        "ST_IsSimple(array(0e0,0e0,4e0,0e0,4e0,4e0,0e0,4e0)) simple_ok, "
        "ST_IsSimple(array(0e0,0e0,4e0,4e0,4e0,0e0,0e0,4e0)) bowtie"
    ).collect()[0]
    assert row["w_in"] is True and row["w_out"] is False
    assert row["cb_edge"] is True          # boundary covered, not within
    assert row["t1"] == "ST_Polygon" and row["t2"] == "ST_MultiPolygon"
    assert row["simple_ok"] is True and row["bowtie"] is False


def test_native_geometry_interop(spark):
    """Spark 4.1 native GEOMETRY preview interop: canonical rings →
    engine WKB → native GEOMETRY (JVM builtin) → WKB → rings is the
    identity, and the SRID stamp survives the native hop. Skips on
    Sparks without the preview."""
    from sedona_spark.functions.native_geo import (
        from_native,
        native_bridge_session,
        native_srid,
        native_to_rings,
        rings_to_native,
    )
    # the shared fixture session may carry the engine's SQL catalog, whose
    # ST_GeomFromWKB shadows the gated builtin — bridge de-shadows
    spark = native_bridge_session(spark)
    if spark is None:
        pytest.skip("native geospatial preview not available")
    df = spark.createDataFrame(
        [([[0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0],
           [2.0, 2.0, 2.0, 4.0, 4.0, 4.0, 4.0, 2.0]],)],
        "geom array<array<double>>",
    )
    native = rings_to_native(F.col("geom"), srid=4326)
    out = df.select(
        native_srid(native).alias("srid"),
        native_to_rings(native).alias("back"),
        F.length(from_native(native)).alias("wkb_len"),
    ).collect()[0]
    assert out["srid"] == 4326
    assert out["wkb_len"] > 0
    back = [list(r) for r in out["back"]]
    assert back == [
        [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0],
        [2.0, 2.0, 2.0, 4.0, 4.0, 4.0, 4.0, 2.0],
    ]


def test_native_geography_type(spark):
    """GEOGRAPHY twin: builtin st_geogfromwkb accepts the engine's WKB
    and yields the native geography type (srid 4326 default)."""
    from sedona_spark.functions.native_geo import (
        native_bridge_session,
        native_srid,
        to_native_geography,
    )
    from sedona_spark.functions.st import st_rings_as_wkb

    spark = native_bridge_session(spark)
    if spark is None:
        pytest.skip("native geospatial preview not available")
    df = spark.createDataFrame(
        [([[0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0]],)],
        "geom array<array<double>>",
    )
    g = to_native_geography(st_rings_as_wkb(F.col("geom")))
    row = df.select(native_srid(g).alias("srid")).collect()[0]
    assert row["srid"] == 4326


def test_chunk_tokens_properties(spark):
    """Hypothesis-style invariants of chunk_tokens over generated docs:
    (1) every chunk has 1..max_tokens tokens (except a single empty
    chunk for an empty doc); (2) concatenating each chunk's NON-OVERLAP
    suffix tokens reconstructs the document's token stream exactly;
    (3) chunk_ids are dense from 0."""
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    from sedona_spark.pipeline.text import chunk_tokens

    @settings(max_examples=12, deadline=None)
    @given(
        st_h.lists(
            st_h.integers(min_value=0, max_value=200), min_size=1, max_size=6
        ),
        st_h.integers(min_value=2, max_value=16),
        st_h.integers(min_value=0, max_value=8),
    )
    def run(n_tokens_per_doc, max_tokens, overlap):
        if overlap >= max_tokens:
            overlap = max_tokens - 1
        step = max_tokens - overlap
        rows = [
            (i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in enumerate(n_tokens_per_doc)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = chunk_tokens(docs, max_tokens, overlap).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["id"], []).append(r)
        for i, n in enumerate(n_tokens_per_doc):
            chunks = sorted(by_doc[i], key=lambda r: r["chunk_id"])
            assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
            toks = []
            for c in chunks:
                ct = c["chunk_text"].split() if c["chunk_text"] else []
                assert len(ct) == c["n_tokens"] <= max_tokens
                toks.extend(ct if c["chunk_id"] == 0 else ct[overlap:]
                            if len(ct) > overlap else ct[len(ct):])
            want = [f"t{i}_{j}" for j in range(n)]
            assert toks == want, (i, n, max_tokens, overlap)

    run()


def test_render_tiles_real_png(spark):
    """render_tiles(fmt='png') emits genuine PNG tiles that decode to the
    exact painted pixel set (GeoSparkViz output format)."""
    import numpy as np

    from sedona_spark.sources.png import decode_png
    from sedona_spark.viz import render_tiles

    long = spark.createDataFrame(
        [(1, 0, 0xFF0000), (1, 5, 0x00FF00), (1, 15, 0x0000FF)],
        "tile_id long, pixel_id long, color long",
    )
    out = render_tiles(long, w=4, h=4, fmt="png").collect()[0]
    assert out["n_painted"] == 3
    img = decode_png(bytes(out["png"]))
    assert img.shape == (4, 4, 3)
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[1, 1].tolist() == [0, 255, 0]     # pixel 5 = (1, 1)
    assert img[3, 3].tolist() == [0, 0, 255]     # pixel 15 = (3, 3)
    assert int((img != 0).sum()) == 3            # nothing else painted
