"""Round-6 features: ellipsoidal conic/stereo CRS tier (Snyder worked
examples + EPSG definitional points), the physical-function SQL
dispatcher, band-index validation, and the RS_ValueAt bounds guard."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_snyder_worked_examples():
    """The ellipsoidal forward math reproduces the numeric examples
    published in Snyder, *Map Projections — A Working Manual* (USGS PP
    1395): LCC p.296-297, Albers p.291-292 (both Clarke 1866), south
    polar stereographic p.314-315 (International ellipsoid). Pure scalar
    math — no Spark session needed."""
    from sedona_spark.functions.crs import (
        _RAD, _albers_constants, _lcc_constants, _mf, _qf, _tf,
    )

    # LCC: Clarke 1866, sp 33/45, lat0 23, lon0 -96; (35N, 75W)
    a, e2 = 6378206.4, 0.00676866
    n, big_f, rho0 = _lcc_constants(23.0, 33.0, 45.0, e2)
    rho = a * big_f * _tf(35.0 * _RAD, e2) ** n
    th = n * (-75.0 + 96.0) * _RAD
    assert rho * math.sin(th) == pytest.approx(1894410.9, abs=0.1)
    assert a * rho0 - rho * math.cos(th) == pytest.approx(1564649.5, abs=0.1)

    # Albers: same ellipsoid, sp 29.5/45.5, lat0 23, lon0 -96; (35N, 75W)
    n, c, rho0 = _albers_constants(23.0, 29.5, 45.5, e2)
    rho = (a / n) * math.sqrt(c - n * _qf(35.0 * _RAD, e2))
    th = n * (-75.0 + 96.0) * _RAD
    assert rho * math.sin(th) == pytest.approx(1885472.7, abs=0.1)
    assert a * rho0 - rho * math.cos(th) == pytest.approx(1535925.0, abs=0.1)

    # South polar stereographic: International ellipsoid, phi_c=-71,
    # lon0=-100; (75S, 150E)
    a, e2 = 6378388.0, 0.00672267
    pts = 71.0 * _RAD  # sgn=-1 -> sgn*lat_ts = +71 deg
    scale = a * _mf(pts, e2) / _tf(pts, e2)
    rho = scale * _tf(-1.0 * -75.0 * _RAD, e2)
    dl = (150.0 + 100.0) * _RAD
    assert rho * math.sin(dl) == pytest.approx(-1540033.6, abs=0.1)
    assert 1.0 * rho * math.cos(dl) == pytest.approx(-560526.4, abs=0.1)


def test_epsg_definitional_points(spark):
    """EPSG registry definitional points: the projection origin of every
    false-offset grid maps exactly to (FE, FN) — Lambert-93 (3E, 46.5N)
    -> (700000, 6600000), Conus Albers (96W, 23N) -> (0, 0), California
    Albers (120W, 0N) -> (0, -4000000), NSIDC north pole -> (0, 0)."""
    from sedona_spark.functions.crs import st_transform_epsg

    cases = [
        (2154, 3.0, 46.5, 700000.0, 6600000.0),
        (5070, -96.0, 23.0, 0.0, 0.0),
        (3310, -120.0, 0.0, 0.0, -4000000.0),
        (3413, -45.0, 90.0, 0.0, 0.0),
        (3031, 0.0, -90.0, 0.0, 0.0),
    ]
    for code, lon, lat, ex, ey in cases:
        x, y = st_transform_epsg(F.lit(lon), F.lit(lat), code)
        r = spark.range(1).select(x.alias("x"), y.alias("y")).collect()[0]
        assert r["x"] == pytest.approx(ex, abs=1e-3), code
        assert r["y"] == pytest.approx(ey, abs=1e-3), code


def test_transform_epsg_udf_matches_column(spark):
    """The Arrow-batched numpy ST_TransformEpsg dispatch agrees with the
    Column-API path for every table family (lcc/albers/stereo/laea/
    tmerc/utm/mercator) to sub-millimeter."""
    import sedona_spark

    sedona_spark.register(spark)
    from sedona_spark.functions.crs import st_transform_epsg

    pts = [(2.29, 48.85), (-96.0, 39.0), (-120.0, 37.0), (12.0, 78.0),
           (140.0, -70.0), (10.0, 52.0), (-0.13, 51.5), (3.0, 46.5)]
    codes = [3857, 2154, 5070, 3310, 3413, 3031, 3035, 27700,
             32631, 32721]
    for code in codes:
        for lon, lat in pts:
            if code == 3031 and lat > 0:
                continue
            if code == 3413 and lat < 0:
                continue
            x, y = st_transform_epsg(F.lit(lon), F.lit(lat), code)
            col = spark.range(1).select(
                x.alias("x"), y.alias("y")).collect()[0]
            udf = spark.sql(
                f"select ST_TransformEpsg({lon}e0, {lat}e0, {code}).x x, "
                f"ST_TransformEpsg({lon}e0, {lat}e0, {code}).y y"
            ).collect()[0]
            assert udf["x"] == pytest.approx(col["x"], abs=1e-3), (code, lon)
            assert udf["y"] == pytest.approx(col["y"], abs=1e-3), (code, lon)


def test_conic_inverse_roundtrip_ellipsoidal(spark):
    """Forward → inverse is the identity (<1e-8 deg) for the ellipsoidal
    LCC/Albers/stereo including false offsets."""
    from sedona_spark.functions.crs import (
        CONIC_EPSG,
        st_transform_albers,
        st_transform_albers_inv,
        st_transform_lcc,
        st_transform_lcc_inv,
        st_transform_stereo,
        st_transform_stereo_inv,
    )

    df = spark.range(1).select(F.lit(5.5).alias("lon"),
                               F.lit(44.2).alias("lat"))
    _, lon0, lat0, sp1, sp2, fe, fn = CONIC_EPSG[2154]
    x, y = st_transform_lcc(F.col("lon"), F.col("lat"),
                            lon0, lat0, sp1, sp2, fe, fn)
    lo, la = st_transform_lcc_inv(x, y, lon0, lat0, sp1, sp2, fe, fn)
    r = df.select(lo.alias("lo"), la.alias("la")).collect()[0]
    assert r["lo"] == pytest.approx(5.5, abs=1e-8)
    assert r["la"] == pytest.approx(44.2, abs=1e-8)

    _, lon0, lat0, sp1, sp2, fe, fn = CONIC_EPSG[3310]
    x, y = st_transform_albers(F.col("lon"), F.col("lat"),
                               lon0, lat0, sp1, sp2, fe, fn)
    lo, la = st_transform_albers_inv(x, y, lon0, lat0, sp1, sp2, fe, fn)
    df2 = spark.range(1).select(F.lit(-118.2).alias("lon"),
                                F.lit(34.05).alias("lat"))
    r = df2.select(lo.alias("lo"), la.alias("la")).collect()[0]
    assert r["lo"] == pytest.approx(-118.2, abs=1e-8)
    assert r["la"] == pytest.approx(34.05, abs=1e-8)

    x, y = st_transform_stereo(F.col("lon"), F.col("lat"),
                               -45.0, 70.0, False)
    lo, la = st_transform_stereo_inv(x, y, -45.0, 70.0, False)
    df3 = spark.range(1).select(F.lit(12.0).alias("lon"),
                                F.lit(78.0).alias("lat"))
    r = df3.select(lo.alias("lo"), la.alias("la")).collect()[0]
    assert r["lo"] == pytest.approx(12.0, abs=1e-8)
    assert r["la"] == pytest.approx(78.0, abs=1e-8)


def test_physical_sql_dispatcher(spark):
    """sedona_spark.sql rewrites physical-function calls into operator
    runs: ST_DBSCAN matches the DataFrame operator, repeated identical
    calls run once, and the kNN join form yields k rows per query."""
    import sedona_spark
    from sedona_spark.operators.dbscan import dbscan

    pts = spark.range(40).select(
        F.col("id").alias("pid"),
        (F.col("id") % 8 * 10.0 + (F.col("id") > 19).cast("int") * 2.0)
            .alias("x"),
        (F.col("id") % 5 * 10.0).alias("y"),
    )
    pts.createOrReplaceTempView("phys_pts")
    out = sedona_spark.sql(spark, """
select pid,
       ST_DBSCAN(pid, x, y, 2.5, 2).cluster as cluster,
       ST_DBSCAN(pid, x, y, 2.5, 2).isCore as is_core
from phys_pts
""").collect()
    ref = {r["pid"]: (r["cluster"], r["is_core"])
           for r in dbscan(pts, eps=2.5, min_pts=2, id_col="pid").collect()}
    assert len(out) == 40
    for r in out:
        assert (r["cluster"], r["is_core"]) == ref[r["pid"]]

    # kNN join form
    q = spark.range(3).select(
        F.col("id").alias("qid"), (F.col("id") * 10.0).alias("qx"),
        F.lit(0.0).alias("qy"))
    o = spark.range(50).select(
        F.col("id").alias("oid"), (F.col("id") * 1.0).alias("ox"),
        F.lit(0.5).alias("oy"))
    q.createOrReplaceTempView("phys_q")
    o.createOrReplaceTempView("phys_o")
    rows = sedona_spark.sql(spark, """
select qid, oid from phys_q join phys_o on ST_KNN(qid, qx, qy, ox, oy, 4)
""").collect()
    assert len(rows) == 12
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], set()).add(r["oid"])
    assert by_q[0] == {0, 1, 2, 3}


def test_band_index_validation(spark):
    """RS_Band / RS_AddBand are 0-based and raise on out-of-range instead
    of silently slicing (band-convention unification)."""
    import numpy as np
    import pandas as pd

    from sedona_spark.functions.raster import (
        _append_band_udf, _select_bands_udf,
    )
    from sedona_spark.sources.images import encode_image

    buf = encode_image(
        np.arange(24, dtype=np.uint8).reshape(2, 4, 3), "fpng")
    sdf = spark.createDataFrame(pd.DataFrame({"b": [buf]}))
    ok = sdf.select(
        _select_bands_udf(F.col("b"), F.array(F.lit(2), F.lit(0)))
        .alias("r")).collect()
    assert ok[0]["r"] is not None
    with pytest.raises(Exception, match="out of range"):
        sdf.select(
            _select_bands_udf(F.col("b"), F.array(F.lit(3))).alias("r")
        ).collect()
    with pytest.raises(Exception, match="out of range"):
        sdf.select(
            _append_band_udf(F.col("b"), F.col("b"), F.lit(3)).alias("r")
        ).collect()


def test_rs_valueat_bounds_null(spark):
    """RS_ValueAt returns NULL for world points outside the raster extent
    (PixelFunctions 'points outside the extent return null'), matching
    RS_Values."""
    import sedona_spark

    sedona_spark.register(spark)
    r = spark.sql("""
with r as (select RS_MakeRaster(RS_MakeEmptyRaster(1, 4, 3, 10e0, 20e0,
                                                   2e0),
           transform(sequence(0, 11), i -> cast(i as double))) as rst)
select RS_ValueAt(rst, 11e0, 19e0, 0) as inside,
       RS_ValueAt(rst, 9e0, 19e0, 0) as west,
       RS_ValueAt(rst, 11e0, 21e0, 0) as north,
       RS_ValueAt(rst, 1e6, 19e0, 0) as far_east,
       RS_ValueAt(rst, 11e0, 13e0, 0) as south
from r
""").collect()[0]
    assert r["inside"] == 0.0
    assert r["west"] is None and r["north"] is None
    assert r["far_east"] is None and r["south"] is None


def test_repetition_stats_keeps_empty_docs(spark):
    """Documents with no words surface with zero counts instead of
    vanishing from the output."""
    import pandas as pd

    from sedona_spark.pipeline.text import repetition_stats

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a a b", "", "   "],
    }))
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_words"] == 3 and out[1]["top1_frac"] > 0
    for d in (2, 3):
        assert out[d]["n_words"] == 0
        assert out[d]["n_distinct"] == 0
        assert out[d]["top1_frac"] == 0.0
        assert out[d]["mean_word_len"] == 0.0


def test_geotiff_deflate_roundtrip():
    """DEFLATE (Compression=8) + Predictor=2 GeoTIFF round-trips pixel-
    and georeference-exact; SampleFormat != unsigned raises."""
    import struct

    import numpy as np
    import pytest as _pytest

    from sedona_spark.sources.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, (9, 14, 3), dtype=np.uint8)
    buf = encode_geotiff(arr, 3.0, 47.5, 0.25, -0.25, 2154,
                         compress="deflate")
    a2, ulx, uly, sx, sy, srid = decode_geotiff(buf)
    assert np.array_equal(arr, a2)
    assert (ulx, uly, sx, sy, srid) == (3.0, 47.5, 0.25, -0.25, 2154)

    # signed-int SampleFormat (tag 339 value 2) must raise, not decode
    # as wrong uint8 values
    plain = encode_geotiff(arr[:, :, :1])
    bad = bytearray(plain)
    off = plain.index(struct.pack("<HHL", 339, 3, 1))
    bad[off + 8] = 2
    with _pytest.raises(NotImplementedError, match="SampleFormat"):
        decode_geotiff(bytes(bad))


def test_osm_pbf_tags_and_relations(spark, tmp_path):
    """Tagged ways and relations round-trip through the stringtable:
    keys/vals, roles_sid, delta memids, member-type enum."""
    from pyspark.sql import functions as F2

    from sedona_spark.sources.osmpbf import (
        read_osm_pbf_relations, read_osm_pbf_ways,
        write_osm_pbf_relations, write_osm_pbf_ways,
    )

    n = F2.col("id")
    ways = spark.range(9).select(
        n.alias("way_id"),
        F2.array(n * 5, n * 5 + 1, n).alias("refs"),
        F2.map_from_arrays(
            F2.array(F2.lit("highway"), F2.lit("oneway")),
            F2.array(F2.concat(F2.lit("t"), (n % 3).cast("string")),
                     F2.lit("yes"))).alias("tags"),
    )
    wpath = str(tmp_path / "w.osm.pbf")
    assert write_osm_pbf_ways(ways, wpath, tags_col="tags",
                              ways_per_block=4, order_col="way_id") == 9
    back = {r["way_id"]: r for r in read_osm_pbf_ways(spark, wpath).collect()}
    assert len(back) == 9
    for i in range(9):
        assert list(back[i]["refs"]) == [i * 5, i * 5 + 1, i]
        assert back[i]["tags"] == {"highway": f"t{i % 3}", "oneway": "yes"}

    rels = spark.range(4).select(
        (n + 7).alias("rel_id"),
        F2.array(
            F2.struct((n * 2).alias("ref"), F2.lit("node").alias("mtype"),
                      F2.lit("via").alias("role")),
            F2.struct(n.alias("ref"), F2.lit("way").alias("mtype"),
                      F2.lit("outer").alias("role")),
            F2.struct((n + 100).alias("ref"),
                      F2.lit("relation").alias("mtype"),
                      F2.lit("").alias("role")),
        ).alias("members"),
        F2.map_from_arrays(F2.array(F2.lit("type")),
                           F2.array(F2.lit("multipolygon"))).alias("tags"),
    )
    rpath = str(tmp_path / "r.osm.pbf")
    assert write_osm_pbf_relations(rels, rpath, tags_col="tags",
                                   rels_per_block=3,
                                   order_col="rel_id") == 4
    rb = {r["rel_id"]: r
          for r in read_osm_pbf_relations(spark, rpath).collect()}
    assert len(rb) == 4
    for i in range(4):
        m = rb[i + 7]["members"]
        assert [x["ref"] for x in m] == [i * 2, i, i + 100]
        assert [x["mtype"] for x in m] == ["node", "way", "relation"]
        assert [x["role"] for x in m] == ["via", "outer", ""]
        assert rb[i + 7]["tags"] == {"type": "multipolygon"}


def test_map_algebra_con_and_neighborhood():
    """Jiffle widening: comparisons produce 0/1 planes, con() selects,
    rast[b][dx,dy] reads image-space neighbors with 0 outside."""
    import numpy as np
    import pytest as _pytest

    from sedona_spark.functions.raster import eval_map_algebra

    b0 = np.arange(20, dtype=np.float64).reshape(4, 5)
    b1 = np.full((4, 5), 7.0)
    r = eval_map_algebra(
        "out = con(rast[0] >= 10, rast[1] * 2, rast[0]);", [b0, b1])
    assert np.array_equal(r, np.where(b0 >= 10, 14.0, b0))
    r = eval_map_algebra("out = rast[0][-1, 0] + rast[0][1, 0];", [b0])
    exp = np.zeros_like(b0)
    exp[:, 1:] += b0[:, :-1]
    exp[:, :-1] += b0[:, 1:]
    assert np.array_equal(r, exp)
    r = eval_map_algebra("out = (rast[0] != 3) + (rast[0] < 2);", [b0])
    assert r[0, 3] == 0.0 and r[0, 0] == 2.0 and r[0, 2] == 1.0
    with _pytest.raises(ValueError):
        eval_map_algebra("out = con(rast[0]);", [b0])


def test_geotiff_lzw_decode():
    """LZW (Compression=5) GeoTIFF decode: the strip of an uncompressed
    emit is re-packed with a test-local TIFF-LZW encoder (MSB-first,
    early change) and the patched file decodes pixel-exact. The engine is
    decode-only for LZW (deflate is the compressed emit path)."""
    import struct

    import numpy as np

    from sedona_spark.sources.geotiff import decode_geotiff, encode_geotiff

    def lzw_encode(data: bytes) -> bytes:
        table = {bytes([i]): i for i in range(256)}
        next_code, width, out, bits = 258, 9, 0, 0
        res = bytearray()

        def emit(code, w):
            nonlocal out, bits
            out = (out << w) | code
            bits += w
            while bits >= 8:
                res.append((out >> (bits - 8)) & 0xFF)
                bits -= 8

        emit(256, width)
        w = b""
        for ch in data:
            c = bytes([ch])
            if w + c in table:
                w += c
            else:
                emit(table[w], width)
                table[w + c] = next_code
                next_code += 1
                if next_code == (1 << width) - 1 and width < 12:
                    width += 1
                if next_code == 4094:
                    emit(256, width)
                    table = {bytes([i]): i for i in range(256)}
                    next_code, width = 258, 9
                w = c
        if w:
            emit(table[w], width)
        emit(257, width)
        if bits:
            res.append((out << (8 - bits)) & 0xFF)
        return bytes(res)

    rng = np.random.RandomState(5)
    arr = rng.randint(0, 16, (23, 31, 3), dtype=np.uint8)  # compressible
    plain = encode_geotiff(arr, 1.0, 2.0, 0.5, -0.5, 4326)
    strip_len = 23 * 31 * 3
    strip = plain[-strip_len:]
    packed = lzw_encode(strip)
    buf = bytearray(plain[:-strip_len])
    # patch Compression (259) to 5 and StripByteCounts (279)
    off = plain.index(struct.pack("<HHL", 259, 3, 1))
    buf[off + 8] = 5
    off = plain.index(struct.pack("<HHL", 279, 4, 1))
    buf[off + 8:off + 12] = struct.pack("<L", len(packed))
    buf += packed
    a2, ulx, uly, sx, sy, srid = decode_geotiff(bytes(buf))
    assert np.array_equal(a2, arr)
    assert (ulx, uly, sx, sy, srid) == (1.0, 2.0, 0.5, -0.5, 4326)


def test_datum_shift_published_values():
    """Helmert datum tier (r6) against PUBLISHED facts, no Spark needed:
    (1) the OS Guide worked example pins Krüger-on-Airy to sub-mm;
    (2) the Airy transit circle at Greenwich — WGS84 lon −0.0014749° —
    maps to OSGB36 lon ≈ 0 (the famous ~102 m meridian offset);
    (3) London/Munich land on their real national-grid coordinates;
    (4) the negated-parameter inverse round-trips to first order."""
    import numpy as np

    from sedona_spark.functions.crs import (
        ELLIPSOIDS, datum_shift_np, _np_tmerc, transform_epsg_batch,
    )

    # (1) OS worked example: OSGB36 geodetic -> grid (projection only)
    lat = 52.0 + 39.0 / 60 + 27.2531 / 3600
    lon = 1.0 + 43.0 / 60 + 4.5177 / 3600
    e, n = _np_tmerc(np.array([lon]), np.array([lat]), -2.0, 49.0,
                     0.9996012717, 400000.0, -100000.0,
                     ell=ELLIPSOIDS["airy1830"])
    assert abs(e[0] - 651409.903) < 5e-3
    assert abs(n[0] - 313177.270) < 5e-3

    # (2) Greenwich meridian offset
    lo, la = datum_shift_np(np.array([-0.0014749]), np.array([51.4769]),
                            "osgb36")
    assert abs(lo[0]) < 3e-4 and abs(la[0] - 51.4764) < 3e-4

    # (3) full chain: Charing Cross + Munich Marienplatz
    x, y = transform_epsg_batch(np.array([-0.1276, 11.5755]),
                                np.array([51.5072, 48.1374]),
                                np.array([27700, 31468]))
    assert abs(x[0] - 530043.2) < 10.0 and abs(y[0] - 180358.2) < 10.0
    assert abs(x[1] - 4468513.5) < 10.0 and abs(y[1] - 5333350.3) < 10.0

    # (4) inverse round trip (first-order Helmert negation, ~5e-8 deg)
    for datum in ("osgb36", "dhdn"):
        lo, la = datum_shift_np(np.array([2.5, -3.0]),
                                np.array([49.0, 58.5]), datum)
        lo2, la2 = datum_shift_np(lo, la, datum, inverse=True)
        assert np.max(np.abs(lo2 - [2.5, -3.0])) < 5e-7
        assert np.max(np.abs(la2 - [49.0, 58.5])) < 5e-7


def test_datum_column_batch_sql_agree(spark):
    """The three datum-chain implementations — pure-Column
    (st_transform_epsg), Arrow-batched numpy (ST_TransformEpsg SQL), and
    the staged-CTE DuckDB oracle text — agree at the millimeter level for
    both datum-bound grids."""
    import duckdb
    import numpy as np

    import sedona_spark
    from sedona_spark.functions.crs import (
        DATUM_TM_EPSG, ELLIPSOIDS, TMERC_EPSG, st_transform_epsg,
        sql_bowring, sql_helmert_ecef, sql_tmerc, transform_epsg_batch,
    )

    sedona_spark.register(spark)
    pts = [(27700, -0.1276, 51.5072), (27700, -3.9, 57.2),
           (31468, 11.5755, 48.1374), (31468, 13.9, 51.0)]
    for code, lo, la in pts:
        xc, yc = st_transform_epsg(F.lit(lo), F.lit(la), code)
        col = spark.range(1).select(xc.alias("x"), yc.alias("y")) \
            .collect()[0]
        udf = spark.sql(
            f"select ST_TransformEpsg({lo}e0, {la}e0, {code}).x x, "
            f"ST_TransformEpsg({lo}e0, {la}e0, {code}).y y").collect()[0]
        nx, ny = transform_epsg_batch(np.array([lo]), np.array([la]),
                                      np.array([code]))
        datum, ell = DATUM_TM_EPSG[code]
        lon0, lat0, k0, fe, fn = TMERC_EPSG[code]
        gx, gy, gz = sql_helmert_ecef(f"{lo!r}", f"{la!r}", datum)
        dlon, dlat = sql_bowring("gx", "gy", "gz", ell)
        tx, ty = sql_tmerc("dlon", "dlat", f"{float(lon0)!r}", k0, lat0,
                           fe, f"{float(fn)!r}", ell=ELLIPSOIDS[ell])
        dk = duckdb.sql(
            f"with e as (select {gx} as gx, {gy} as gy, {gz} as gz), "
            f"g as (select {dlon} as dlon, {dlat} as dlat from e) "
            f"select {tx} as x, {ty} as y from g").fetchone()
        for x in (col["x"], udf["x"], dk[0]):
            assert abs(x - nx[0]) < 1e-3, (code, lo, la)
        for y in (col["y"], udf["y"], dk[1]):
            assert abs(y - ny[0]) < 1e-3, (code, lo, la)


def test_bigtiff_decode():
    """BigTIFF (TIFF version 43) decode: hand-built container with
    8-byte offsets, 20-byte IFD entries and LONG8 strip fields round-
    trips pixels + georeference; truncated/malformed headers raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from sedona_spark.sources.geotiff import decode_geotiff

    w, h, nb = 5, 3, 2
    pix = np.arange(w * h * nb, dtype=np.uint8).reshape(h, w, nb)
    strip = pix.tobytes()

    def ent(tag, typ, cnt, val_bytes):
        return (struct.pack("<HHQ", tag, typ, cnt)
                + val_bytes.ljust(8, b"\0"))

    entries = []
    entries.append(ent(256, 4, 1, struct.pack("<L", w)))        # width
    entries.append(ent(257, 4, 1, struct.pack("<L", h)))        # height
    entries.append(ent(258, 3, nb, struct.pack("<HH", 8, 8)))   # bits
    entries.append(ent(259, 3, 1, struct.pack("<H", 1)))        # compr
    entries.append(ent(277, 3, 1, struct.pack("<H", nb)))       # spp
    entries.append(ent(278, 4, 1, struct.pack("<L", h)))        # rps
    n = len(entries) + 4
    ifd_off = 16
    scale_off = ifd_off + 8 + 20 * n + 8
    tie_off = scale_off + 24
    strip_off = tie_off + 48
    entries.append(ent(273, 16, 1, struct.pack("<Q", strip_off)))
    entries.append(ent(279, 16, 1, struct.pack("<Q", len(strip))))
    entries.append(ent(33550, 12, 3, struct.pack("<Q", scale_off)))
    entries.append(ent(33922, 12, 6, struct.pack("<Q", tie_off)))
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    buf = struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_off)
    buf += struct.pack("<Q", len(entries)) + b"".join(entries)
    buf += struct.pack("<Q", 0)  # next-IFD
    buf += struct.pack("<3d", 0.25, 0.5, 0.0)
    buf += struct.pack("<6d", 0.0, 0.0, 0.0, 100.0, 200.0, 0.0)
    buf += strip
    a, ulx, uly, sx, sy, srid = decode_geotiff(bytes(buf))
    assert np.array_equal(a, pix)
    assert (ulx, uly, sx, sy) == (100.0, 200.0, 0.25, -0.5)

    bad = bytearray(buf)
    bad[4] = 4  # offset bytesize != 8
    with _pytest.raises(ValueError):
        decode_geotiff(bytes(bad))
    with _pytest.raises(NotImplementedError):
        decode_geotiff(struct.pack("<2sH", b"II", 44) + b"\0" * 12)


def test_equal_area_ellipsoidal(spark):
    """Ellipsoidal equal-area tier (r6b): EPSG:3035 is the oblique
    azimuthal form with its real false offsets (origin → (4321000,
    3210000)); EPSG:6933 is the EASE-Grid 2.0 CYLINDRICAL equal-area —
    published pins: x(180°) = a·k0·π = 17367530.445 m and the grid-edge
    y(85.0445664°) = 7314540.831 m, both sub-mm. Inverse round-trips and
    Column-vs-batch agreement close the loop."""
    import numpy as np

    from sedona_spark.functions.crs import (
        st_transform_cea, st_transform_cea_inv, st_transform_epsg,
        st_transform_laea_ell, st_transform_laea_ell_inv,
        transform_epsg_batch,
    )

    # published pins (numpy batch — same math as Column/SQL)
    x, y = transform_epsg_batch(
        np.array([10.0, 180.0, 0.0]), np.array([52.0, 0.0, 85.0445664]),
        np.array([3035, 6933, 6933]))
    assert abs(x[0] - 4321000.0) < 1e-6 and abs(y[0] - 3210000.0) < 1e-6
    assert abs(x[1] - 17367530.445161) < 1e-3
    assert abs(y[2] - 7314540.830553) < 1e-3

    # Column == batch
    for code, lo, la in [(3035, 5.0, 50.0), (3035, 25.0, 60.0),
                         (6933, -120.0, 45.0), (6933, 60.0, -33.0)]:
        xc, yc = st_transform_epsg(F.lit(lo), F.lit(la), code)
        r = spark.range(1).select(xc.alias("x"), yc.alias("y")).collect()[0]
        nx, ny = transform_epsg_batch(np.array([lo]), np.array([la]),
                                      np.array([code]))
        assert abs(r["x"] - nx[0]) < 1e-6 and abs(r["y"] - ny[0]) < 1e-6

    # inverse round trips (<1e-7 deg — the e^6 truncation of the
    # authalic inverse series, sub-mm on the ground)
    df = spark.range(1)
    x, y = st_transform_laea_ell(F.lit(4.9), F.lit(52.4), 10.0, 52.0,
                                 4321000.0, 3210000.0)
    lo, la = st_transform_laea_ell_inv(x, y, 10.0, 52.0,
                                       4321000.0, 3210000.0)
    r = df.select(lo.alias("lo"), la.alias("la")).collect()[0]
    assert r["lo"] == pytest.approx(4.9, abs=1e-7)
    assert r["la"] == pytest.approx(52.4, abs=1e-7)
    x, y = st_transform_cea(F.lit(-77.0), F.lit(38.9), 0.0, 30.0)
    lo, la = st_transform_cea_inv(x, y, 0.0, 30.0)
    r = df.select(lo.alias("lo"), la.alias("la")).collect()[0]
    assert r["lo"] == pytest.approx(-77.0, abs=1e-7)
    assert r["la"] == pytest.approx(38.9, abs=1e-7)

    # equal-area invariance: the Jacobian scale of 3035 over a small
    # quad ~1 (area preserved), checked by finite differences
    eps = 1e-4
    pts = [(10.0 + dx, 52.0 + dy) for dx in (0, eps) for dy in (0, eps)]
    xs, ys = transform_epsg_batch(np.array([p[0] for p in pts]),
                                  np.array([p[1] for p in pts]),
                                  np.array([3035] * 4))
    jac = abs((xs[2] - xs[0]) * (ys[1] - ys[0])
              - (xs[1] - xs[0]) * (ys[2] - ys[0]))
    import math as _m
    truth = (eps * _m.pi / 180 * 6378137.0 * _m.cos(52.0 * _m.pi / 180)
             * 0.9933) * (eps * _m.pi / 180 * 6378137.0 * 0.9933)
    assert jac == pytest.approx(truth, rel=2e-2)


def test_map_algebra_statement_tier():
    """Jiffle statement tier (r6b — VERDICT r5 what's-missing #5 tail):
    local variables, +=, and bounded inclusive-range foreach loops whose
    index drives band and neighborhood offsets. Nested 3x3 loop mean
    equals the numpy box filter; runaway loops and malformed scripts
    raise."""
    import numpy as np
    import pytest as _pytest

    from sedona_spark.functions.raster import eval_map_algebra

    b0 = np.arange(20, dtype=np.float64).reshape(4, 5)
    b1 = np.full((4, 5), 7.0)

    # loop over bands via the index variable
    r = eval_map_algebra(
        "s = 0; foreach (b in 0:1) { s += rast[b]; } out = s;", [b0, b1])
    assert np.array_equal(r, b0 + b1)

    # nested 3x3 box mean == scipy-style zero-padded filter
    script = ("s = 0; foreach (i in -1:1) { foreach (j in -1:1) "
              "{ s += rast[0][i, j]; } } out = s / 9;")
    r = eval_map_algebra(script, [b0])
    exp = np.zeros_like(b0)
    h, w = b0.shape
    for y in range(h):
        for x in range(w):
            acc = 0.0
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if 0 <= y + dy < h and 0 <= x + dx < w:
                        acc += b0[y + dy, x + dx]
            exp[y, x] = acc / 9.0
    assert np.allclose(r, exp)

    # single-statement and bare forms unchanged
    assert np.array_equal(
        eval_map_algebra("out = rast[0] * 2;", [b0]), b0 * 2)
    assert np.array_equal(eval_map_algebra("rast[0] * 2", [b0]), b0 * 2)

    for bad in [
        "s += 1; out = s;",                      # += before assignment
        "foreach (i in 0:99999) { s = 1; } out = 0;",  # trip cap
        "foreach (i in 0:2) { s = 1; }",         # never assigns out
        "out = rast[0][rast[0], 0];",            # non-scalar offset
        "out = nope;",                           # unknown variable
    ]:
        with _pytest.raises(ValueError):
            eval_map_algebra(bad, [b0])


def test_geotiff_tiled_decode():
    """Tiled-layout GeoTIFF decode (TIFF 6.0 §15 — the layout cloud-
    optimized GeoTIFFs use): a hand-built 2x2-tile deflate-compressed
    image with padded edge tiles reassembles exactly, with georeference
    intact."""
    import struct
    import zlib

    import numpy as np

    from sedona_spark.sources.geotiff import decode_geotiff

    w, h, nb = 7, 5, 1
    tw = tl = 4
    img = (np.arange(w * h, dtype=np.uint8) * 3).reshape(h, w, 1)

    tiles = []
    for ty in range((h + tl - 1) // tl):
        for tx in range((w + tw - 1) // tw):
            t = np.zeros((tl, tw, nb), dtype=np.uint8)
            ch = min(tl, h - ty * tl)
            cw = min(tw, w - tx * tw)
            t[:ch, :cw] = img[ty * tl:ty * tl + ch, tx * tw:tx * tw + cw]
            tiles.append(zlib.compress(t.tobytes(), 6))

    def ent(tag, typ, cnt, val_bytes):
        return struct.pack("<HHL", tag, typ, cnt) + val_bytes.ljust(4, b"\0")

    n = 10
    ifd_off = 8
    arr_off = ifd_off + 2 + 12 * n + 4
    toff_off = arr_off
    tcnt_off = arr_off + 4 * len(tiles)
    scale_off = tcnt_off + 4 * len(tiles)
    tie_off = scale_off + 24
    data_off = tie_off + 48
    offs, pos = [], data_off
    for t in tiles:
        offs.append(pos)
        pos += len(t)
    entries = [
        ent(256, 4, 1, struct.pack("<L", w)),
        ent(257, 4, 1, struct.pack("<L", h)),
        ent(258, 3, 1, struct.pack("<H", 8)),
        ent(259, 3, 1, struct.pack("<H", 8)),      # deflate
        ent(277, 3, 1, struct.pack("<H", nb)),
        ent(322, 4, 1, struct.pack("<L", tw)),
        ent(323, 4, 1, struct.pack("<L", tl)),
        ent(324, 4, len(tiles), struct.pack("<L", toff_off)),
        ent(325, 4, len(tiles), struct.pack("<L", tcnt_off)),
        ent(33550, 12, 3, struct.pack("<L", scale_off)),
    ]
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    buf = struct.pack("<2sHL", b"II", 42, ifd_off)
    buf += struct.pack("<H", n) + b"".join(entries) + struct.pack("<L", 0)
    buf += b"".join(struct.pack("<L", o) for o in offs)
    buf += b"".join(struct.pack("<L", len(t)) for t in tiles)
    buf += struct.pack("<3d", 2.0, 2.0, 0.0)
    buf += struct.pack("<6d", 0.0, 0.0, 0.0, 10.0, 20.0, 0.0)
    buf += b"".join(tiles)
    a, ulx, uly, sx, sy, srid = decode_geotiff(bytes(buf))
    assert np.array_equal(a, img)
    assert (sx, sy) == (2.0, -2.0)


def test_osm_dense_node_tags(spark, tmp_path):
    """DenseNodes keys_vals (r6b — completes the OSM primitive set):
    per-node tag maps round-trip through the 0-delimited stringtable
    interleaving; untagged writes still read back with empty maps."""
    from pyspark.sql import functions as F2

    from sedona_spark.sources.osmpbf import read_osm_pbf, write_osm_pbf

    n = F2.col("id").cast("long")
    df = spark.range(23).select(
        n.alias("id"), (n * 0.5 - 3.0).alias("lon"),
        (n * 0.25 + 1.0).alias("lat"),
        F2.map_from_arrays(
            F2.array(F2.lit("name"), F2.lit("kind")),
            F2.array(F2.concat(F2.lit("n"), n.cast("string")),
                     F2.concat(F2.lit("k"), (n % 3).cast("string"))),
        ).alias("tags"),
    )
    p = str(tmp_path / "tagged_nodes.osm.pbf")
    write_osm_pbf(df, p, tags_col="tags", nodes_per_block=7, order_col="id")
    back = {r["node_id"]: r["tags"]
            for r in read_osm_pbf(spark, p).collect()}
    assert len(back) == 23
    for i in range(23):
        assert back[i] == {"name": f"n{i}", "kind": f"k{i % 3}"}

    # untagged write -> empty maps, schema stable
    df2 = df.drop("tags")
    p2 = str(tmp_path / "plain_nodes.osm.pbf")
    write_osm_pbf(df2, p2, nodes_per_block=7, order_col="id")
    rows = read_osm_pbf(spark, p2).collect()
    assert all(r["tags"] == {} for r in rows) and len(rows) == 23


def test_sampling_determinism_and_uniformity(spark):
    """Deterministic sampling tier (r6): same salt → identical subset
    across reruns; different salt → different subset; per-key sampler
    returns exactly min(k, n) rows per key; stratified keep-rates land
    near their fractions; plan stays shuffle-free for the stratified
    filter."""
    from sedona_spark.pipeline.sampling import (
        sample_per_key, stratified_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = stratified_sample(docs, "lang", {"en": 0.5}, "doc_id",
                          default_fraction=0.2, salt=7)
    b = stratified_sample(docs, "lang", {"en": 0.5}, "doc_id",
                          default_fraction=0.2, salt=7)
    ids_a = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in b.select("doc_id").collect())
    assert ids_a == ids_b and len(ids_a) > 0
    c = stratified_sample(docs, "lang", {"en": 0.5}, "doc_id",
                          default_fraction=0.2, salt=8)
    ids_c = sorted(r["doc_id"] for r in c.select("doc_id").collect())
    assert ids_c != ids_a

    # keep-rate sanity at the full-table level (multiplicative hash is
    # equidistributed over sequential ids)
    n_en = docs.where(F.col("lang") == "en").count()
    kept_en = a.where(F.col("lang") == "en").count()
    assert abs(kept_en / n_en - 0.5) < 0.25

    # zero-shuffle plan: no Exchange in the stratified filter
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    ev = spark.read.parquet(f"{SF}/events.parquet")
    s = sample_per_key(ev, "event_type", 5, "event_id", salt=1)
    per = {r["event_type"]: r["n"] for r in
           s.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    totals = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").agg(F.count("*").alias("n"))
              .collect()}
    for k, n in totals.items():
        assert per[k] == min(5, n), (k, per[k], n)
    # deterministic
    s2 = sample_per_key(ev, "event_type", 5, "event_id", salt=1)
    assert sorted(map(tuple, s.collect())) == \
        sorted(map(tuple, s2.collect()))


def test_tfidf_top_terms(spark):
    """TF-IDF top-terms (r6): hand-checked on a 3-doc corpus — a term
    unique to one document outranks corpus-wide terms; ranks are dense
    1..k; ties break lexicographically."""
    import math as _m

    from sedona_spark.pipeline.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry"),
         (2, "banana banana durian")],
        "doc_id long, text string")
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: apple tf=2/3 df=1 -> idf = ln(4/2)+1; banana tf=1/3 df=3
    top0 = sorted(by_doc[0], key=lambda r: r["rank"])
    assert top0[0]["term"] == "apple"
    exp = (2 / 3) * (_m.log(4 / 2) + 1)
    assert abs(top0[0]["score6"] - round(exp, 6)) < 2e-6
    assert [r["rank"] for r in top0] == [1, 2]
    # doc 1: cherry (unique) outranks banana (everywhere)
    assert sorted(by_doc[1], key=lambda r: r["rank"])[0]["term"] == "cherry"
    # doc 2: banana's tf=2/3 with idf=ln(4/4)+1=1 (score 0.667) beats
    # durian's 1/3 · (ln(2)+1) ≈ 0.564 — high term frequency can outrank
    # uniqueness, the classic TF-IDF trade
    d2 = sorted(by_doc[2], key=lambda r: r["rank"])
    assert d2[0]["term"] == "banana" and d2[0]["tf"] == 2
    assert d2[1]["term"] == "durian" and d2[1]["df"] == 1


def test_transform_epsg_inv_udf(spark):
    """ST_TransformEpsgInv (r6b): the Arrow-batched inverse dispatch
    round-trips the closed-inverse families (3857 / UTM / national TM
    incl. the datum chains) and raises for codes with no registered
    inverse rather than returning meters as degrees."""
    import numpy as np
    import pytest as _pytest

    import sedona_spark
    from sedona_spark.functions.crs import (
        transform_epsg_batch, transform_epsg_inv_batch,
    )

    sedona_spark.register(spark)
    pts = [(3857, 2.29, 48.85), (32631, 2.29, 48.85),
           (32721, -58.4, -34.6), (27700, -0.13, 51.5),
           (31468, 11.58, 48.14), (2180, 19.5, 52.2)]
    lons = np.array([p[1] for p in pts])
    lats = np.array([p[2] for p in pts])
    codes = np.array([p[0] for p in pts])
    x, y = transform_epsg_batch(lons, lats, codes)
    lo, la = transform_epsg_inv_batch(x, y, codes)
    assert np.max(np.abs(lo - lons)) < 1e-6
    assert np.max(np.abs(la - lats)) < 1e-6

    r = spark.sql(
        "select ST_TransformEpsgInv(ST_TransformEpsg(-0.13e0, 51.5e0, "
        "27700).x, ST_TransformEpsg(-0.13e0, 51.5e0, 27700).y, 27700) t"
    ).collect()[0]["t"]
    assert abs(r["lon"] - -0.13) < 1e-6 and abs(r["lat"] - 51.5) < 1e-6

    with _pytest.raises(ValueError, match="no closed inverse"):
        transform_epsg_inv_batch(np.array([0.0]), np.array([0.0]),
                                 np.array([2154]))


def test_python_datasource_formats(spark, tmp_path):
    """Spark-4 Python Data Source API (r6b): spark.read.format("osmpbf")
    returns row-for-row what the mapInPandas reader returns (shared
    per-block parsers), with one input partition per blob group; the
    "geotiffdir" source decodes a directory of .tif files into
    georeferenced raster rows."""
    import numpy as np
    from pyspark.sql import functions as F2

    import sedona_spark
    from sedona_spark.sources.geotiff import encode_geotiff
    from sedona_spark.sources.osmpbf import read_osm_pbf, write_osm_pbf

    sedona_spark.register(spark)

    n = F2.col("id").cast("long")
    df = spark.range(40).select(
        n.alias("id"), (n * 0.3 - 5.0).alias("lon"),
        (n * 0.2 + 1.0).alias("lat"),
        F2.map_from_arrays(F2.array(F2.lit("k")),
                           F2.array(n.cast("string"))).alias("tags"),
    )
    p = str(tmp_path / "ds_nodes.osm.pbf")
    write_osm_pbf(df, p, tags_col="tags", nodes_per_block=8,
                  order_col="id")

    via_ds = spark.read.format("osmpbf").option("primitive", "nodes") \
        .option("blobs_per_task", "2").load(p)
    via_fn = read_osm_pbf(spark, p)
    a = sorted((r["node_id"], r["lon_i7"], r["lat_i7"], r["tags"]["k"])
               for r in via_ds.collect())
    b = sorted((r["node_id"], r["lon_i7"], r["lat_i7"], r["tags"]["k"])
               for r in via_fn.collect())
    assert a == b and len(a) == 40
    # 5 blocks of 8 nodes, 2 blobs/task -> 3 partitions
    assert via_ds.rdd.getNumPartitions() == 3

    d = tmp_path / "tifs"
    d.mkdir()
    for i in range(3):
        arr = (np.arange(4 * 5 * 3, dtype=np.uint8) + i).reshape(4, 5, 3)
        (d / f"t{i}.tif").write_bytes(
            encode_geotiff(arr, ulx=i * 10.0, uly=50.0, sx=0.5, sy=-0.5,
                           srid=4326))
    rast = spark.read.format("geotiffdir").load(str(d))
    rows = {r["ulx"]: r for r in rast.collect()}
    assert len(rows) == 3 and rast.rdd.getNumPartitions() == 3
    r0 = rows[10.0]
    assert (r0["width"], r0["height"], r0["bands"], r0["srid"]) == \
        (5, 4, 3, 4326)
    back = np.frombuffer(r0["buf"], dtype=np.uint8).reshape(4, 5, 3)
    assert back[0, 0, 0] == 1  # i = 1 offset


# --- image training-tensor tier (pipeline/images.py) ----------------------


def test_tensorize_matches_numpy(spark):
    """CHW float32 tensor == direct numpy Resize+ToTensor+Normalize on
    the decoded pixels; exact channel sums; identity resize for 32x32."""
    import numpy as np

    from sedona_spark.pipeline.images import (
        IMAGENET_MEAN,
        IMAGENET_STD,
        tensorize,
    )
    from sedona_spark.sources.images import (
        decode_image,
        synthesize_images,
    )

    imgs = synthesize_images(spark, 12)
    out = {r["image_id"]: r for r in tensorize(imgs, size=32).collect()}
    src = {r["image_id"]: r for r in imgs.collect()}
    assert len(out) == 12
    mean = np.asarray(IMAGENET_MEAN, dtype=np.float32)
    std = np.asarray(IMAGENET_STD, dtype=np.float32)
    for iid, r in out.items():
        arr, _ = decode_image(bytes(src[iid]["bytes"]))
        h, w, _ = arr.shape
        iy = (np.arange(32, dtype=np.int64) * h) // 32
        ix = (np.arange(32, dtype=np.int64) * w) // 32
        samp = arr[np.ix_(iy, ix)]
        want = ((samp.astype(np.float32) / np.float32(255.0) - mean)
                / std).transpose(2, 0, 1)
        got = np.frombuffer(r["tensor"], dtype=np.float32).reshape(3, 32, 32)
        assert got.shape == (3, 32, 32) and len(r["tensor"]) == 3 * 32 * 32 * 4
        np.testing.assert_array_equal(got, want)
        sums = samp.astype(np.int64).sum(axis=(0, 1))
        assert (r["c0_sum"], r["c1_sum"], r["c2_sum"]) == tuple(sums)
        # 32x32 inputs (i % 3 == 0): identity resize
        if src[iid]["w"] == 32 and src[iid]["h"] == 32:
            np.testing.assert_array_equal(
                samp, arr)


def test_aspect_buckets_assembly(spark):
    """Every image lands in exactly one batch; batches are <= size and
    only the last batch of a bucket is partial."""
    from sedona_spark.pipeline.images import aspect_buckets
    from sedona_spark.sources.images import synthesize_images

    imgs = synthesize_images(spark, 50)
    out = aspect_buckets(imgs, batch_size=8).collect()
    assert sum(r["n_images"] for r in out) == 50
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket_id"], []).append(r)
    # fixture sizes: 32/32 -> 1000, 64/48 -> 1333, 48/96 -> 500
    assert set(by_bucket) == {1000, 1333, 500}
    for recs in by_bucket.values():
        recs.sort(key=lambda r: r["batch_id"])
        for j, r in enumerate(recs):
            assert r["n_images"] <= 8
            if j < len(recs) - 1:
                assert r["n_images"] == 8  # only the tail is partial
            assert r["first_id"] <= r["last_id"]


def test_patchify_and_channel_stats(spark):
    """Patch sums equal a brute-force blocked sum; channel stats equal
    numpy over the concatenated dataset."""
    import numpy as np

    from sedona_spark.pipeline.images import channel_stats, patchify_sums
    from sedona_spark.sources.images import decode_image, synthesize_images

    imgs = synthesize_images(spark, 9)
    src = {r["image_id"]: decode_image(bytes(r["bytes"]))[0]
           for r in imgs.collect()}

    got = {(r["image_id"], r["px"], r["py"]): r["patch_sum"]
           for r in patchify_sums(imgs, patch=16).collect()}
    n_expected = sum((a.shape[0] // 16) * (a.shape[1] // 16)
                     for a in src.values())
    assert len(got) == n_expected
    for iid, arr in src.items():
        for py in range(arr.shape[0] // 16):
            for px in range(arr.shape[1] // 16):
                blk = arr[py * 16:(py + 1) * 16, px * 16:(px + 1) * 16]
                assert got[(iid, px, py)] == int(blk.astype(np.int64).sum())

    stats = {r["channel"]: r for r in channel_stats(imgs).collect()}
    allpix = np.concatenate(
        [a.reshape(-1, 3).astype(np.int64) for a in src.values()])
    for ch in range(3):
        r = stats[ch]
        assert r["n_px"] == allpix.shape[0]
        assert r["px_sum"] == int(allpix[:, ch].sum())
        assert r["px_sumsq"] == int((allpix[:, ch] ** 2).sum())
        assert abs(r["mean_val"] - allpix[:, ch].mean()) < 1e-9
        assert abs(r["var_val"]
                   - allpix[:, ch].astype(np.float64).var()) < 1e-6


# --- HDF5 / NetCDF-4 codec (sources/hdf5.py) -------------------------------


def test_hdf5_round_trip_layouts():
    """Contiguous, chunked, and deflate-chunked layouts round-trip all
    supported dtypes/ranks, including a dim whose value (259 = 0x103)
    would false-match a byte-pattern scan."""
    import numpy as np

    from sedona_spark.sources.hdf5 import encode_hdf5, parse_hdf5

    data = {
        "temp": np.arange(48, dtype=np.float32).reshape(6, 8) * 0.5 - 3,
        "mask": (np.arange(48, dtype=np.uint8).reshape(6, 8) % 7),
        "elev": np.arange(259 * 2, dtype=np.int32).reshape(2, 259),
        "zed": np.arange(24, dtype=np.float64).reshape(2, 3, 4),
        "one": np.arange(5, dtype=np.int16),
    }
    for kw in ({}, {"chunk_rows": 4}, {"chunk_rows": 4, "deflate": 6},
               {"deflate": 1},
               {"chunk_rows": 4, "deflate": 6, "shuffle": True},
               {"chunk_rows": 4, "shuffle": True},
               {"chunk_rows": 4, "fletcher32": True},
               {"chunk_rows": 3, "deflate": 6, "shuffle": True,
                "fletcher32": True}):
        buf = encode_hdf5(data, **kw)
        assert buf[:8] == b"\x89HDF\r\n\x1a\n"
        out = parse_hdf5(buf)
        assert sorted(out) == sorted(data)
        for k, v in data.items():
            np.testing.assert_array_equal(out[k], v)
    # deflate actually compresses the regular grids
    assert len(encode_hdf5(data, chunk_rows=4, deflate=6)) < \
        len(encode_hdf5(data))
    # shuffle improves deflate on the wide-dtype regular grids
    assert len(encode_hdf5(data, chunk_rows=4, deflate=6, shuffle=True)) < \
        len(encode_hdf5(data, chunk_rows=4, deflate=6))
    # a corrupted chunk byte trips the fletcher32 verify
    buf = bytearray(encode_hdf5({"t": data["temp"]}, chunk_rows=4,
                                fletcher32=True))
    pos = buf.rindex(data["temp"][0].tobytes()[:8])
    buf[pos] ^= 0x40
    with pytest.raises(ValueError, match="fletcher32"):
        from sedona_spark.sources.hdf5 import parse_hdf5 as _p
        _p(bytes(buf))


def test_netcdf4_dispatch_and_raster():
    """parse_netcdf/netcdf_info/netcdf_variable_as_raster accept an
    HDF5-backed NetCDF-4 buffer and agree with the classic-CDF twin."""
    import numpy as np

    from sedona_spark.sources.hdf5 import encode_hdf5
    from sedona_spark.sources.netcdf import (
        encode_netcdf,
        netcdf_info,
        netcdf_variable_as_raster,
        parse_netcdf,
    )

    vals = ((np.arange(24) * 11) % 300).astype(np.int32).reshape(4, 6)
    classic = encode_netcdf({"grid": vals})
    nc4 = encode_hdf5({"grid": vals}, chunk_rows=2, deflate=6)

    p = parse_netcdf(nc4)
    np.testing.assert_array_equal(p["vars"]["grid"]["data"], vals)
    assert netcdf_info(nc4) == netcdf_info(classic)
    a4, w4, h4, lo4, hi4 = netcdf_variable_as_raster(nc4, "grid")
    ac, wc, hc, loc, hic = netcdf_variable_as_raster(classic, "grid")
    np.testing.assert_array_equal(a4, ac)
    assert (w4, h4, lo4, hi4) == (wc, hc, loc, hic)

    import pytest as _pytest
    with _pytest.raises((NotImplementedError, ValueError)):
        parse_netcdf(b"\x89HDF\r\n\x1a\nXXXX")  # truncated/garbage


# --- training-shard export (pipeline/shards.py) ----------------------------


def test_write_webdataset_tars(spark, tmp_path):
    """Tars are the WebDataset layout ({key}.{fmt} + {key}.txt, sorted,
    mtime 0), byte contents round-trip, and the written manifest agrees
    with the declarative shard_manifest."""
    import tarfile

    from sedona_spark.pipeline.shards import shard_manifest, write_webdataset
    from sedona_spark.sources.images import synthesize_images

    imgs = synthesize_images(spark, 40)
    src = {r["image_id"]: r for r in imgs.collect()}
    out = str(tmp_path / "wds")
    written = {r["shard_id"]: r
               for r in write_webdataset(imgs, out, n_shards=4).collect()}
    manifest = {r["shard_id"]: r
                for r in shard_manifest(imgs, 4).collect()}
    assert set(written) == set(manifest)
    n_seen = 0
    for sid, m in written.items():
        assert m["n_rows"] == manifest[sid]["n_rows"]
        assert m["payload_bytes"] == manifest[sid]["payload_bytes"]
        with tarfile.open(m["tar_path"]) as tf:
            names = tf.getnames()
            assert names == sorted(names)  # deterministic member order
            pairs = {}
            for ti in tf.getmembers():
                assert ti.mtime == 0
                key, ext = ti.name.rsplit(".", 1)
                pairs.setdefault(key, {})[ext] = tf.extractfile(ti).read()
            for key, d in pairs.items():
                r = src[key]
                assert d[r["fmt"]] == bytes(r["bytes"])
                assert d["txt"].decode() == r["caption"]
                n_seen += 1
    assert n_seen == 40


def test_pack_sequences_invariants(spark):
    """Contiguous fill: offsets restate the cumsum, sequences are dense
    0..max, every sequence's span is <= budget + last-doc overhang, and
    oversize docs are clipped to the budget."""
    from sedona_spark.pipeline.shards import pack_sequences

    docs = spark.createDataFrame(
        [(i, (i * 37) % 900 + 1) for i in range(200)],
        "doc_id long, n_tokens long")
    out = pack_sequences(docs, budget=512).collect()
    assert len(out) == 200
    assert all(r["n_tokens"] <= 512 for r in out)
    seqs = {}
    for r in out:
        seqs.setdefault(r["seq_id"], []).append(r)
    assert set(seqs) == set(range(max(seqs) + 1))  # dense ids
    # last sequence id == cumsum of all-but-the-last-doc // budget,
    # computed over the SAME deterministic order the operator used
    by_pos = sorted(out, key=lambda r: (r["seq_id"], r["offset_in_seq"]))
    total_before_last = sum(r["n_tokens"] for r in by_pos[:-1])
    assert max(seqs) == total_before_last // 512
    for sid, rows in seqs.items():
        rows.sort(key=lambda r: r["offset_in_seq"])
        # each row's offset = 512*sid + offset equals global cumsum order
        for a, b in zip(rows, rows[1:]):
            assert (sid * 512 + a["offset_in_seq"] + a["n_tokens"]
                    == sid * 512 + b["offset_in_seq"]
                    or a["offset_in_seq"] + a["n_tokens"] > 512)
        assert rows[0]["offset_in_seq"] < 512


def test_ngram_decontaminate(spark):
    """Hand-built corpus: doc sharing a 3-gram with the benchmark is
    flagged with the right hit count; clean docs and sub-n docs are not;
    the benchmark side broadcasts."""
    from sedona_spark.pipeline.text import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox yesterday"),  # 2 shared 3-grams
            (2, "a quick brown dog sleeps"),              # no shared 3-gram
            (3, "quick brown"),                           # shorter than n
            (4, "fox jumps the quick brown fox jumps"),   # 3 distinct hits
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in ngram_decontaminate(docs, bench, n=3).collect()}
    assert set(out) == {1, 4}
    assert out[1]["n_hits"] == 2  # 'the quick brown', 'quick brown fox'
    assert out[1]["first_gram"] == "quick brown fox"
    assert out[4]["n_hits"] == 3  # + 'brown fox jumps'
    plan = ngram_decontaminate(docs, bench, n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark side must broadcast


def test_channel_histogram_exact(spark):
    """The 256-bin histogram equals numpy bincount over the decoded
    dataset; bin counts sum to the pixel count; percentile derivation
    from the exact histogram matches numpy's percentile."""
    import numpy as np

    from sedona_spark.pipeline.images import channel_histogram
    from sedona_spark.sources.images import decode_image, synthesize_images

    imgs = synthesize_images(spark, 10)
    src = [decode_image(bytes(r["bytes"]))[0] for r in imgs.collect()]
    allpix = np.concatenate([a.reshape(-1, 3) for a in src])
    out = channel_histogram(imgs).collect()
    got = np.zeros((3, 256), dtype=np.int64)
    for r in out:
        got[r["channel"], r["value"]] = r["n"]
    for c in range(3):
        np.testing.assert_array_equal(
            got[c], np.bincount(allpix[:, c], minlength=256))
        # exact median from the histogram == numpy's lower-median
        cdf = got[c].cumsum()
        med = int(np.searchsorted(cdf, (cdf[-1] + 1) // 2))
        assert med == int(np.percentile(allpix[:, c], 50,
                                        method="inverted_cdf"))


def test_hdf5_property_fuzz():
    """Hypothesis sweep: random dtypes/shapes/chunk sizes/deflate levels
    round-trip bit-exactly through the HDF5 codec (no Spark needed)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sedona_spark.sources.hdf5 import encode_hdf5, parse_hdf5

    dtypes = st.sampled_from(
        ["uint8", "int8", "int16", "uint16", "int32", "uint32",
         "int64", "float32", "float64"])

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 23), w=st.integers(1, 23),
        dt=dtypes, chunk=st.integers(0, 9),
        level=st.integers(0, 9), seed=st.integers(0, 2**31 - 1),
        shuf=st.booleans(), fletch=st.booleans(),
    )
    def run(h, w, dt, chunk, level, seed, shuf, fletch):
        rng = np.random.default_rng(seed)
        if dt.startswith("f"):
            a = rng.standard_normal((h, w)).astype(dt)
        else:
            info = np.iinfo(dt)
            a = rng.integers(info.min, info.max, size=(h, w),
                             endpoint=True).astype(dt)
        kw = {}
        if chunk > 0:
            kw["chunk_rows"] = chunk
            if level > 0:
                kw["deflate"] = level
            kw["shuffle"] = shuf
            kw["fletcher32"] = fletch
        buf = encode_hdf5({"v": a, "w2": a[::-1].copy()}, **kw)
        out = parse_hdf5(buf)
        np.testing.assert_array_equal(out["v"], a)
        np.testing.assert_array_equal(out["w2"], a[::-1])

    run()


def test_pack_sequences_property_fuzz(spark):
    """Hypothesis sweep over random token-count corpora: packing is a
    partition of the corpus, seq ids are dense, offset+tokens never
    exceeds budget except by the one straddling doc, and the operator
    equals a direct pandas re-computation over the same order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sedona_spark.pipeline.sampling import hash_bucket
    from sedona_spark.pipeline.shards import pack_sequences

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.integers(1, 900), min_size=1, max_size=60),
           st.integers(64, 700))
    def run(tok_list, budget):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(tok_list)],
            "doc_id long, n_tokens long")
        out = pack_sequences(
            docs, budget=budget,
            hash_col=hash_bucket(F.col("doc_id"))).collect()
        assert len(out) == len(tok_list)
        # recompute directly over the same (hash, id) order
        order = sorted(
            range(len(tok_list)),
            key=lambda i: (((i % (1 << 31)) * 2654435761) % (1 << 20), i))
        cum = 0
        expect = {}
        for i in order:
            t = min(tok_list[i], budget)
            expect[i] = (t, cum // budget, cum % budget)
            cum += t
        for r in out:
            assert (r["n_tokens"], r["seq_id"],
                    r["offset_in_seq"]) == expect[r["doc_id"]]

    run()


def test_sedona_context_drop_in(spark):
    """The reference's two-line setup works verbatim: create() registers
    the SQL surface on an existing session and returns it."""
    from sedona_spark import SedonaContext

    sedona = SedonaContext.create(spark)
    assert sedona is spark
    r = sedona.sql(
        "select ST_Distance(0e0, 0e0, 3e0, 4e0) as d"
    ).collect()[0]
    assert r["d"] == 5.0
    b = SedonaContext.builder()
    assert type(b).__name__ == "Builder"


def test_geopandas_api_surface(spark):
    """GeoSeries/GeoDataFrame layer: every spelling delegates to the
    underlying ST_ tier verbatim — parsed WKT squares give exact
    area/length/bounds/centroid, aligned predicates behave, sjoin equals
    pip_join output."""
    from sedona_spark.geopandas_api import GeoDataFrame, GeoSeries
    from sedona_spark.operators.spatial_join import pip_join

    wkt = spark.createDataFrame(
        [(0, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
         (1, "POLYGON ((10 10, 12 10, 12 16, 10 16, 10 10))")],
        "id long, wkt string")
    gs = GeoSeries.from_wkt(wkt, "wkt")
    area = {r["id"]: r["area"] for r in gs.area.collect()}
    assert area == {0: 16.0, 1: 12.0}
    length = {r["id"]: r["length"] for r in gs.length.collect()}
    assert length == {0: 16.0, 1: 16.0}
    b = {r["id"]: (r["minx"], r["miny"], r["maxx"], r["maxy"])
         for r in gs.bounds.collect()}
    assert b[0] == (0.0, 0.0, 4.0, 4.0) and b[1] == (10.0, 10.0, 12.0, 16.0)
    c = {r["id"]: r for r in gs.centroid.df.collect()}
    assert list(c[0]["geom"]) == [2.0, 2.0]
    assert all(r["is_valid"] for r in gs.is_valid.collect())

    # aligned binary ops: points at the centroids are within their ring
    pts_df = spark.createDataFrame(
        [(0, 2.0, 2.0), (1, 11.0, 20.0)], "id long, px double, py double")
    pts = GeoSeries.from_points(pts_df, "px", "py")
    w = {r["id"]: r["within"] for r in pts.within(gs).collect()}
    assert w == {0: True, 1: False}  # (11, 20) is outside ring 1
    cont = {r["id"]: r["contains"] for r in gs.contains(pts).collect()}
    assert cont == w
    inter = {r["id"]: r["intersects"]
             for r in gs.intersects(gs).collect()}
    assert inter == {0: True, 1: True}  # self-intersects
    d = {r["id"]: r["distance"] for r in pts.distance(pts).collect()}
    assert d == {0: 0.0, 1: 0.0}

    # buffer grows area; simplify keeps the square exact
    grown = dict(
        (r["id"], r["area"]) for r in gs.buffer(1.0).area.collect())
    assert grown[0] > 16.0 and grown[1] > 12.0
    simp = {r["id"]: r["area"] for r in gs.simplify(0.01).area.collect()}
    assert simp == area

    # sjoin within == pip_join contains, intersects == pip_join covers,
    # row for row (lattice points on the square edges tell them apart)
    zones = gs.df.select(F.col("id").alias("zone_id"),
                         F.col("geom").alias("ring"))
    many = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.col("id") % 15).cast("double").alias("x"),
        (F.col("id") % 17).cast("double").alias("y"))
    gdf = GeoDataFrame(many, index="pid")

    def pairs(df):
        return sorted((r["pid"], r["zone_id"])
                      for r in df.select("pid", "zone_id").collect())

    a = pairs(gdf.sjoin(zones))
    assert a == pairs(pip_join(many, zones, "contains")) and len(a) > 0
    i = pairs(gdf.sjoin(zones, predicate="intersects"))
    assert i == pairs(pip_join(many, zones)) and len(i) > len(a)


@pytest.mark.parametrize("threshold", ["10485760b", "-1"])
def test_geopandas_sjoin_predicates(spark, threshold):
    """Each sjoin predicate keeps its geopandas meaning: a point on the
    unit square's edge is not within it but intersects it, and no point
    contains a polygon with area (same columns, no rows). The pandas-built
    zone side has a size estimate, so the default threshold takes the
    broadcast index path and -1 the cell path."""
    import pandas as pd

    from sedona_spark.geopandas_api import GeoDataFrame

    pts = spark.createDataFrame([(0, 0.0, 0.5), (1, 0.5, 0.5)], "id long, x double, y double")
    square = spark.createDataFrame(pd.DataFrame(
        {"zone_id": [7], "ring": [[0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0]]}))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try:
        gdf = GeoDataFrame(pts)
        got = {p: sorted(r["id"] for r in gdf.sjoin(square, p).collect())
               for p in ("within", "intersects", "contains")}
        cols = gdf.sjoin(square, "contains").columns
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == {"within": [1], "intersects": [0, 1], "contains": []}
    assert cols == ["id", "x", "y", "zone_id", "ring"]


def test_stats_parity_shims(spark):
    """sedona_spark.stats mirrors the reference python surface: dbscan /
    local_outlier_factor delegate with renames, g_local and
    Moran.get_global reproduce a direct numpy evaluation of the
    reference's formulas on the same weights."""
    import numpy as np

    from sedona_spark.stats.autocorrelation.moran import Moran
    from sedona_spark.stats.clustering.dbscan import dbscan
    from sedona_spark.stats.hotspot_detection.getis_ord import g_local
    from sedona_spark.stats.outlier_detection.local_outlier_factor import (
        local_outlier_factor,
    )
    from sedona_spark.stats.weighting import add_binary_distance_band_column

    pts = spark.createDataFrame(
        [(i, float(i % 7) * 2.0, float(i % 5) * 2.0,
          float((i * 13) % 11)) for i in range(35)],
        "id long, x double, y double, value double")

    # dbscan shim: rename + outlier filter
    out = dbscan(pts, 2.5, 3, cluster_column_name="cl",
                 include_outliers=False).collect()
    assert all(r["cl"] != -1 for r in out)
    lof = local_outlier_factor(pts, k=4,
                               result_column_name="score").collect()
    assert len(lof) == 35 and all(r["score"] > 0 for r in lof)

    # weights + g_local vs direct numpy (reference GetisOrd.scala math)
    w = add_binary_distance_band_column(pts, 3.0, include_self=True)
    res = {r["id"]: r for r in g_local(w, "value", star=True).collect()}
    rows = pts.collect()
    xy = {r["id"]: (r["x"], r["y"]) for r in rows}
    val = {r["id"]: r["value"] for r in rows}
    n = len(rows)
    xs = np.array([val[i] for i in sorted(val)])
    for i in sorted(val):
        nbrs = [j for j in val
                if (xy[i][0]-xy[j][0])**2 + (xy[i][1]-xy[j][1])**2
                <= 9.0 and (j != i or True)]
        nbrs = [j for j in nbrs if j != i] + [i]  # include_self
        W = float(len(nbrs))
        G = sum(val[j] for j in nbrs) / xs.sum()
        assert res[i]["G"] == pytest.approx(G, rel=1e-12)
        EG = W / n
        y1 = xs.sum() / n
        y2 = (xs**2).sum() / n - y1**2
        VG = W * (n - W) * y2 / (n**2 * (n - 1) * y1**2)
        assert res[i]["EG"] == pytest.approx(EG, rel=1e-12)
        assert res[i]["VG"] == pytest.approx(VG, rel=1e-12)
        z = (G - EG) / np.sqrt(VG)
        assert res[i]["Z"] == pytest.approx(z, rel=1e-9)
        import math
        p = 1.0 - 0.5 * (1.0 + math.erf(abs(z) / math.sqrt(2.0)))
        assert res[i]["P"] == pytest.approx(p, abs=2e-7)  # A&S poly err

    # Moran vs direct numpy (symmetric binary weights, no self)
    w2 = add_binary_distance_band_column(
        pts.withColumnRenamed("value", "value0")
           .withColumnRenamed("x", "px").withColumnRenamed("y", "py"),
        3.0, x="px", y="py").withColumnRenamed("value0", "value")
    mr = Moran.get_global(w2)
    wm = np.zeros((n, n))
    ids = sorted(val)
    for a, i in enumerate(ids):
        for b, j in enumerate(ids):
            if i != j and (xy[i][0]-xy[j][0])**2 \
                    + (xy[i][1]-xy[j][1])**2 <= 9.0:
                wm[a, b] = 1.0
    z = xs - xs.mean()
    s0 = wm.sum()
    inum = z @ wm @ z
    i_stat = n / s0 * inum / (z @ z)
    assert mr.i == pytest.approx(i_stat, rel=1e-12)
    s1 = ((wm + wm.T)**2).sum() / 2.0
    s2 = ((wm.sum(1) + wm.sum(0))**2).sum()
    vi = (n*n*s1 - n*s2 + 3*s0*s0) / ((n-1)*(n+1)*s0*s0) \
        - (1.0/(n-1))**2
    z_norm = (i_stat - (-1.0/(n-1))) / np.sqrt(vi)
    assert mr.z_norm == pytest.approx(z_norm, rel=1e-12)


def test_sql_st_functions_dataframe_api(spark):
    """sedona_spark.sql.st_functions: the reference's DataFrame-API
    spellings compute correct values over packed rings."""
    from sedona_spark.sql import st_functions as stf

    df = spark.createDataFrame(
        [(0, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")], "id long, wkt string")
    # parse ONCE into a materialized column: Spark cannot nest a python
    # UDF inside a higher-order-function lambda, so UDF-backed parsing
    # must be a separate select from lambda-based measures (the module
    # docstring documents this usage rule)
    df = df.select("id", stf.ST_GeomFromWKT(F.col("wkt")).alias("g"))
    g = F.col("g")
    r = df.select(
        stf.ST_Area(g).alias("area"),
        stf.ST_Perimeter(g).alias("perim"),
        stf.ST_Centroid(g).alias("cent"),
        stf.ST_Envelope(g).alias("env"),
        stf.ST_IsValid(g).alias("valid"),
        stf.ST_Contains(g, stf.ST_Point(F.lit(1.0), F.lit(1.0)))
        .alias("inside"),
        stf.ST_Contains(g, stf.ST_Point(F.lit(9.0), F.lit(1.0)))
        .alias("outside"),
        stf.ST_Distance(stf.ST_Point(F.lit(0.0), F.lit(0.0)),
                        stf.ST_Point(F.lit(3.0), F.lit(4.0))).alias("d"),
        stf.ST_AsText(g).alias("wkt_out"),
        stf.ST_Azimuth(stf.ST_Point(F.lit(0.0), F.lit(0.0)),
                       stf.ST_Point(F.lit(1.0), F.lit(0.0))).alias("az"),
    ).collect()[0]
    assert r["area"] == 16.0 and r["perim"] == 16.0
    assert list(r["cent"]) == [2.0, 2.0]
    assert list(r["env"]) == [0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0]
    assert r["valid"] and r["inside"] and not r["outside"]
    assert r["d"] == 5.0
    assert r["wkt_out"].startswith("POLYGON")
    assert r["az"] == pytest.approx(math.pi / 2)  # east = 90 deg


def test_sql_namespace_both_spellings(spark):
    """Importing sedona_spark.sql.st_functions must not break the
    physical-dispatch spelling sedona_spark.sql(spark, ...): the sql
    package is a callable module."""
    import importlib

    import sedona_spark
    import sedona_spark.sql.st_functions  # noqa: F401 (trigger clobber)

    importlib.reload(sedona_spark.sql)  # worst case: re-import order
    pts = spark.range(10).select(
        F.col("id").alias("pid"),
        (F.col("id") % 3 * 10.0).alias("x"),
        F.lit(0.0).alias("y"))
    pts.createOrReplaceTempView("ns_pts")
    out = sedona_spark.sql(spark, """
select pid, ST_DBSCAN(pid, x, y, 1.0, 2).cluster as c from ns_pts
""").collect()
    assert len(out) == 10
    from sedona_spark.sql.st_functions import ST_Area  # noqa: F401


def test_stats_shim_review_fixes(spark):
    """Review regressions stay fixed: dbscan exposes the reference's
    isCore default name, LOF returns the full input surface, EMPTY WKT
    parses to null instead of aborting under ANSI, and Moran counts
    isolated points in the z-squared denominator."""
    import numpy as np

    from sedona_spark.geopandas_api import GeoSeries
    from sedona_spark.stats.autocorrelation.moran import Moran
    from sedona_spark.stats.clustering.dbscan import dbscan
    from sedona_spark.stats.outlier_detection.local_outlier_factor import (
        local_outlier_factor,
    )
    from sedona_spark.stats.weighting import add_binary_distance_band_column

    pts = spark.createDataFrame(
        [(i, float(i % 6), float(i % 4), float(i % 5)) for i in range(20)],
        "id long, x double, y double, value double")
    cols = dbscan(pts, 1.5, 3).columns
    assert "isCore" in cols and "is_core" not in cols
    lof_cols = local_outlier_factor(pts, k=3).columns
    assert {"x", "y", "value", "lof"} <= set(lof_cols)

    empty = spark.createDataFrame(
        [(0, "POLYGON EMPTY")], "id long, wkt string")
    r = GeoSeries.from_wkt(empty, "wkt").df.collect()[0]
    assert r["geom"] is None  # no ANSI element_at abort

    # isolated point C: z_C^2 must stay in the denominator
    iso = spark.createDataFrame(
        [(0, 0.0, 0.0, 1.0), (1, 1.0, 0.0, 5.0), (2, 50.0, 50.0, 9.0)],
        "id long, x double, y double, value double")
    w = add_binary_distance_band_column(iso, 2.0)
    mr = Moran.get_global(w)
    xs = np.array([1.0, 5.0, 9.0])
    z = xs - xs.mean()
    # only the A<->B reciprocal pair carries weight; s0 = 2
    i_expect = 3 / 2.0 * (2 * z[0] * z[1]) / (z @ z)
    assert mr.i == pytest.approx(i_expect, rel=1e-12)


def test_sedona_raster_handle(spark, tmp_path):
    """Driver-side SedonaRaster parity handle: as_numpy round-trips the
    geotiffdir source's buf, affine accessors and world/grid transforms
    agree with RS_Value."""
    import numpy as np

    from sedona_spark.raster_api import SedonaRaster
    from sedona_spark.sources.geotiff import encode_geotiff
    from sedona_spark.sources.pyds import register_datasources

    arr = (np.arange(6 * 5 * 3, dtype=np.uint8)).reshape(6, 5, 3)
    d = tmp_path / "tifs"
    d.mkdir()
    (d / "t.tif").write_bytes(
        encode_geotiff(arr, ulx=100.0, uly=50.0, sx=0.5, sy=-0.5,
                       srid=4326))
    register_datasources(spark)
    row = spark.read.format("geotiffdir").load(str(d)).collect()[0]
    r = SedonaRaster(row["width"], row["height"], row["bands"],
                     row["ulx"], row["uly"], row["sx"], row["sy"],
                     row["srid"], row["buf"])
    assert (r.width, r.height, r.num_bands, r.srid) == (5, 6, 3, 4326)
    np.testing.assert_array_equal(r.as_numpy(),
                                  arr.transpose(2, 0, 1))
    assert r.affine_trans == (100.0, 0.5, 0.0, 50.0, 0.0, -0.5)
    assert r.world_to_grid(100.0, 50.0) == (0, 0)
    assert r.grid_to_world(2, 3) == (101.0, 48.5)
    # value_at == direct indexing; outside extent -> None
    assert r.value_at(101.2, 48.4, band=1) == int(arr[3, 2, 1])
    assert r.value_at(99.0, 50.0) is None
    assert r.value_at(100.0, 20.0) is None


def test_st_functions_aggregates(spark):
    """ST_Envelope_Aggr / ST_Collect_Aggr compose inside groupBy().agg."""
    from sedona_spark.sql import st_functions as stf

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0]),
         (0, [5.0, 1.0, 6.0, 1.0, 6.0, 4.0, 5.0, 4.0]),
         (1, [-1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0])],
        "grp long, geom array<double>")
    out = {r["grp"]: r for r in df.groupBy("grp").agg(
        stf.ST_Envelope_Aggr(F.col("geom")).alias("env"),
        stf.ST_Collect_Aggr(F.col("geom")).alias("coll"),
    ).collect()}
    assert list(out[0]["env"]) == [0.0, 0.0, 6.0, 0.0, 6.0, 4.0, 0.0, 4.0]
    assert list(out[1]["env"]) == [-1.0, -1.0, 1.0, -1.0, 1.0, 1.0,
                                   -1.0, 1.0]
    assert len(out[0]["coll"]) == 2 and len(out[1]["coll"]) == 1


# --- baseline JPEG codec (sources/jpeg.py) ---------------------------------


def test_jpeg_codec_round_trips():
    """Baseline JFIF: 4:4:4 and 4:2:0, restart markers, odd sizes,
    grayscale — all decode; smooth content clears 50/40 dB; progressive
    is the documented seam."""
    import numpy as np

    from sedona_spark.sources.images import decode_image, make_pixels
    from sedona_spark.sources.jpeg import decode_jpeg, encode_jpeg

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 99.0 if mse == 0 else 10 * np.log10(255 ** 2 / mse)

    g = np.zeros((50, 70, 3), np.uint8)
    g[..., 0] = np.linspace(0, 255, 70).astype(np.uint8)[None, :]
    g[..., 1] = np.linspace(0, 255, 50).astype(np.uint8)[:, None]
    g[..., 2] = 100
    buf = encode_jpeg(g, 95)
    assert buf[:3] == b"\xff\xd8\xff" and buf[-2:] == b"\xff\xd9"
    assert psnr(g, decode_jpeg(buf)) > 50.0
    assert psnr(g, decode_jpeg(
        encode_jpeg(g, 95, subsampling="420"))) > 40.0
    # restart markers actually present and decodable
    b_rst = encode_jpeg(g, 95, subsampling="420", restart_interval=2)
    assert b"\xff\xdd" in b_rst and b"\xff\xd0" in b_rst
    assert psnr(g, decode_jpeg(b_rst)) > 40.0

    # odd (non-multiple-of-8) size + high-frequency synthetic content
    arr = make_pixels(5, 33, 21)
    out = decode_jpeg(encode_jpeg(arr, 95))
    assert out.shape == arr.shape and psnr(arr, out) > 34.0

    # grayscale replicates to 3 channels
    gray = make_pixels(2, 24, 16)[:, :, 0]
    out = decode_jpeg(encode_jpeg(gray, 95))
    assert out.shape == (16, 24, 3)
    assert np.array_equal(out[..., 0], out[..., 1])

    # decode_image dispatches on the SOI magic
    a2, fmt = decode_image(encode_jpeg(g, 95))
    assert fmt == "jpeg" and a2.shape == g.shape

    # progressive (SOF2) is the documented seam
    prog = bytearray(encode_jpeg(g, 95))
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))


def test_rs_jpeg_sql_round_trip(spark):
    """RS_AsJPEG -> RS_FromJPEG in SQL: struct round-trips with the
    codec's lossy fidelity on smooth content."""
    import numpy as np

    import sedona_spark
    from sedona_spark.sources.images import decode_image, encode_image

    sedona_spark.register(spark)
    g = np.zeros((24, 40, 3), np.uint8)
    g[..., 0] = np.linspace(10, 240, 40).astype(np.uint8)[None, :]
    g[..., 1] = 77
    g[..., 2] = np.linspace(240, 10, 24).astype(np.uint8)[:, None]
    df = spark.createDataFrame(
        [(encode_image(g, "fpng"), 24, 40)], "buf binary, h int, w int")
    df.createOrReplaceTempView("jfix")
    r = spark.sql("""
with r as (select named_struct(
      'buf', buf, 'w', w, 'h', h, 'bands', 3,
      'ulx', 0e0, 'uly', 0e0, 'sx', 1e0, 'sy', -1e0,
      'skx', 0e0, 'sky', 0e0, 'srid', 0, 'nodata', cast(null as double)
    ) as rast from jfix),
j as (select RS_AsJPEG(rast, 95) as jb from r)
select jb, RS_FromJPEG(jb).w as w2, RS_FromJPEG(jb).h as h2,
       RS_FromJPEG(jb).buf as buf2 from j
""").collect()[0]
    assert bytes(r["jb"])[:3] == b"\xff\xd8\xff"
    assert (r["w2"], r["h2"]) == (40, 24)
    back = decode_image(bytes(r["buf2"]))[0]
    mse = np.mean((back.astype(float) - g.astype(float)) ** 2)
    assert 10 * np.log10(255 ** 2 / mse) > 45.0


def test_jpeg_in_tiff():
    """Compression=7 GeoTIFF: encode/decode round trip keeps the
    georeference and clears 50 dB on smooth content; an abbreviated
    stream with shared tables in JPEGTables (tag 347) also decodes."""
    import struct

    import numpy as np

    from sedona_spark.sources.geotiff import decode_geotiff, encode_geotiff

    g = np.zeros((40, 56, 3), np.uint8)
    g[..., 0] = np.linspace(0, 255, 56).astype(np.uint8)[None, :]
    g[..., 1] = np.linspace(255, 0, 40).astype(np.uint8)[:, None]
    g[..., 2] = 60
    buf = encode_geotiff(g, ulx=10.0, uly=20.0, sx=0.25, sy=-0.25,
                         srid=32633, compress="jpeg")
    arr, ulx, uly, sx, sy, srid = decode_geotiff(buf)
    assert (ulx, uly, sx, sy, srid) == (10.0, 20.0, 0.25, -0.25, 32633)
    mse = np.mean((arr.astype(float) - g.astype(float)) ** 2)
    assert 10 * np.log10(255 ** 2 / mse) > 50.0

    # build an abbreviated-stream TIFF by hand: move DQT/DHT segments
    # out of the strip into a JPEGTables stream (TIFF TechNote 2)
    from sedona_spark.sources.jpeg import encode_jpeg

    jfif = encode_jpeg(g, 95)
    segs, pos, strip = [], 2, bytearray(b"\xff\xd8")
    while pos < len(jfif) - 2:
        assert jfif[pos] == 0xFF
        m = jfif[pos + 1]
        if m == 0xDA:  # SOS: rest of stream belongs to the strip
            strip += jfif[pos:]
            break
        ln = struct.unpack_from(">H", jfif, pos + 2)[0]
        seg = jfif[pos:pos + 2 + ln]
        if m in (0xDB, 0xC4):
            segs.append(seg)
        else:
            strip += seg
        pos += 2 + ln
    tables = b"\xff\xd8" + b"".join(segs) + b"\xff\xd9"

    # the decoder's jpeg_chunk splice: tables after the strip's SOI
    from sedona_spark.sources.jpeg import decode_jpeg

    merged = bytes(strip[:2]) + tables[2:-2] + bytes(strip[2:])
    out = decode_jpeg(merged)
    mse = np.mean((out.astype(float) - g.astype(float)) ** 2)
    assert 10 * np.log10(255 ** 2 / mse) > 50.0

    gray = np.tile(np.linspace(0, 255, 48).astype(np.uint8), (24, 1))
    a2 = decode_geotiff(encode_geotiff(gray, compress="jpeg"))[0]
    assert a2.shape == (24, 48, 1)


def test_downsample_augment_align(spark):
    """The three r6b image ops against direct numpy on the decoded
    pixels: exact pooled sums + positional checksum, crop+flip geometry,
    and the two-tower alignment score."""
    import numpy as np

    from sedona_spark.pipeline.images import (
        augment_stats,
        downsample_stats,
        image_text_align,
    )
    from sedona_spark.sources.images import _WORDS, decode_image, synthesize_images

    imgs = synthesize_images(spark, 9)
    src = {r["image_id"]: r for r in imgs.collect()}

    down = {r["image_id"]: r for r in downsample_stats(imgs, 16).collect()}
    aug = {r["image_id"]: r for r in augment_stats(imgs, 32, True).collect()}
    align = {r["image_id"]: r for r in image_text_align(imgs).collect()}
    assert len(down) == len(aug) == len(align) == 9

    for iid, s in src.items():
        arr = decode_image(bytes(s["bytes"]))[0].astype(np.int64)
        h, w, _ = arr.shape

        # downsample: pool then floor-divide, positions pinned
        gy, gx = h // 16, w // 16
        pooled = arr.reshape(gy, 16, gx, 16, 3).sum(axis=(1, 3)) // 256
        r = down[iid]
        assert (r["out_w"], r["out_h"]) == (gx, gy)
        assert [r["d0_sum"], r["d1_sum"], r["d2_sum"]] == list(
            pooled.sum(axis=(0, 1)))
        oy, ox, oc = np.mgrid[0:gy, 0:gx, 0:3]
        assert r["wsum"] == int(
            (pooled * (1 + ox + oy * gx + oc * gx * gy)).sum())

        # augment: center crop 32 + horizontal flip
        x0, y0 = (w - 32) // 2, (h - 32) // 2
        win = arr[y0:y0 + 32, x0:x0 + 32][:, ::-1]
        r = aug[iid]
        assert (r["x0"], r["y0"]) == (x0, y0)
        assert [r["a0_sum"], r["a1_sum"], r["a2_sum"]] == list(
            win.sum(axis=(0, 1)))
        yy, xx, cc = np.mgrid[0:32, 0:32, 0:3]
        assert r["wsum"] == int(
            (win * (1 + xx + yy * 32 + cc * 1024)).sum())

        # alignment: 8 image moments x deterministic text embedding
        xs = np.arange(w)[None, :, None]
        ys = np.arange(h)[:, None, None]
        s_c = arr.sum(axis=(0, 1))
        mx = (arr * xs).sum(axis=(0, 1))
        my = (arr * ys).sum(axis=(0, 1))
        ie = np.array([s_c[0], s_c[1], s_c[2], mx[0], mx[1], mx[2],
                       my[0], my[1]], dtype=np.int64)
        toks = s["caption"].split(" ")[-4:]
        idxs = [_WORDS.index(t) for t in toks]
        te = np.array(
            [sum(((ix + 1) * (2 * d + 3)) % 97 - 48 for ix in idxs)
             for d in range(8)], dtype=np.int64)
        r = align[iid]
        assert r["dot_it"] == int(ie @ te)
        want = float(ie @ te) / np.sqrt(float(ie @ ie) * float(te @ te))
        import math
        assert r["align_score"] == math.floor(want * 1e6 + 0.5) / 1e6

    # a flip must change the positional checksum for a non-symmetric image
    noflip = {r["image_id"]: r
              for r in augment_stats(imgs, 32, flip=False).collect()}
    assert any(noflip[k]["wsum"] != aug[k]["wsum"] for k in aug)
    assert all(
        (noflip[k]["a0_sum"], noflip[k]["a1_sum"], noflip[k]["a2_sum"])
        == (aug[k]["a0_sum"], aug[k]["a1_sum"], aug[k]["a2_sum"])
        for k in aug)


# ---------------------------------------------------------------------------
# EXIF APP1 GPS + ImageDescription (sources/exif.py)
# ---------------------------------------------------------------------------


def test_exif_roundtrip_and_edge_cases(spark):
    import struct

    from sedona_spark.sources.exif import (
        _parse_tiff_exif, build_exif_app1, extract_exif, geotag_e7,
        inject_app1, with_exif)
    from sedona_spark.sources.images import _caption, make_pixels
    from sedona_spark.sources.jpeg import decode_jpeg, encode_jpeg

    # round trip: APP1 after APP0, decoded values exact, JPEG still decodes
    for i in (0, 1, 7, 123, 999):
        lat_e7, lon_e7 = geotag_e7(i)
        buf = inject_app1(
            encode_jpeg(make_pixels(i, 16, 16), 90),
            build_exif_app1(lat_e7, lon_e7, _caption(i)))
        assert buf[2:4] == b"\xff\xe0"  # canonical order kept
        la, lo, de = extract_exif(buf)
        assert la == lat_e7 / 10_000_000 and lo == lon_e7 / 10_000_000
        assert de == _caption(i)
        decode_jpeg(buf)  # image payload untouched

    # no EXIF -> all None
    assert extract_exif(encode_jpeg(make_pixels(3, 16, 16))) == (
        None, None, None)

    # big-endian (MM) TIFF + classic D/M/S triple + missing longitude
    def mm_ifd():
        t = bytearray(b"MM\x00*" + struct.pack(">L", 8))
        t += struct.pack(">H", 1)
        t += struct.pack(">HHLL", 0x8825, 4, 1, 26) + b"\x00" * 4
        val = 26 + 2 + 12 * 3 + 4
        t += struct.pack(">H", 3)
        t += struct.pack(">HHL", 1, 2, 2) + b"S\x00\x00\x00"
        t += struct.pack(">HHLL", 2, 5, 3, val)
        t += struct.pack(">HHL", 3, 2, 2) + b"E\x00\x00\x00"
        t += b"\x00" * 4
        t += struct.pack(">6L", 12, 1, 30, 1, 45, 2)
        return bytes(t)

    la, lo, de = _parse_tiff_exif(mm_ifd())
    assert la == -(12 + 30 / 60 + 45 / 2 / 3600)
    assert lo is None and de is None

    # zero denominator -> None, not a crash
    bad = bytearray(mm_ifd())
    bad[-20:-16] = b"\x00\x00\x00\x00"  # min denominator = 0
    assert _parse_tiff_exif(bytes(bad))[0] is None

    # Spark surface: Arrow-batched extraction matches the python codec
    rows = []
    for i in (4, 9, 250):
        lat_e7, lon_e7 = geotag_e7(i)
        rows.append((f"img_{i:012d}", inject_app1(
            encode_jpeg(make_pixels(i, 16, 16), 90),
            build_exif_app1(lat_e7, lon_e7, _caption(i)))))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in with_exif(df).collect()}
    for i in (4, 9, 250):
        lat_e7, lon_e7 = geotag_e7(i)
        r = got[f"img_{i:012d}"]
        assert r["exif_lat"] == lat_e7 / 10_000_000
        assert r["exif_lon"] == lon_e7 / 10_000_000
        assert r["description"] == _caption(i)


# ---------------------------------------------------------------------------
# Image integrity triage (pipeline/integrity.py)
# ---------------------------------------------------------------------------


def test_image_integrity_classification(spark):
    import struct
    import zlib

    from sedona_spark.pipeline.integrity import (
        classify_image, corrupt_by_id, with_validity)
    from sedona_spark.sources.images import make_pixels
    from sedona_spark.sources.jpeg import encode_jpeg
    from sedona_spark.sources.png import encode_png

    # every closed-form corruption class classifies as labeled
    for i in range(0, 25):
        buf, want = corrupt_by_id(
            encode_jpeg(make_pixels(i, 16, 16), quality=90), i)
        assert classify_image(buf) == want, i

    # JPEG fill bytes between segments are legal, not bad_marker
    good = encode_jpeg(make_pixels(1, 16, 16))
    filled = good[:2] + b"\xff" + good[2:]
    assert classify_image(filled) == "ok"

    # PNG: intact, CRC flip, truncation, bad signature
    png = encode_png(make_pixels(2, 8, 8))
    assert classify_image(png) == "ok"
    flip = bytearray(png)
    flip[40] ^= 0xFF  # inside IHDR/IDAT body -> CRC mismatch
    assert classify_image(bytes(flip)) == "bad_marker"
    assert classify_image(png[: len(png) - 6]) == "truncated"
    assert classify_image(b"\x89PNX" + png[4:]) == "not_image"
    assert classify_image(b"") == "not_image"

    # zero-length declared segment (seglen < 2) is structural corruption
    j = bytearray(good)
    j[4:6] = struct.pack(">H", 1)
    assert classify_image(bytes(j)) == "bad_marker"

    # Spark surface agrees with the python codec
    rows = []
    for i in (3, 6, 11, 13, 19):
        buf, want = corrupt_by_id(
            encode_jpeg(make_pixels(i, 16, 16), quality=90), i)
        rows.append((f"img_{i:012d}", buf, want))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, want string")
    got = with_validity(df).collect()
    assert all(r["status"] == r["want"] for r in got)


def test_exif_interop_and_null_semantics(spark):
    """Fill bytes / standalone markers before APP1 (real camera files)
    still parse; absent GPS reaches Spark as NULL, never NaN."""
    from sedona_spark.sources.exif import (
        build_exif_app1, extract_exif, geotag_e7, inject_app1, with_exif)
    from sedona_spark.sources.images import make_pixels
    from sedona_spark.sources.jpeg import encode_jpeg

    lat_e7, lon_e7 = geotag_e7(42)
    buf = inject_app1(encode_jpeg(make_pixels(42, 16, 16), 90),
                      build_exif_app1(lat_e7, lon_e7, "cap"))
    # fill byte + RST0 + TEM injected between SOI and the APP0 segment
    weird = buf[:2] + b"\xff\xff\xd0\xff\x01" + buf[2:]
    la, lo, de = extract_exif(weird)
    assert (la, lo, de) == (lat_e7 / 1e7, lon_e7 / 1e7, "cap")

    plain = encode_jpeg(make_pixels(7, 16, 16), 90)  # no EXIF at all
    df = spark.createDataFrame(
        [("a", buf), ("b", plain)], "image_id string, bytes binary")
    rows = {r["image_id"]: r for r in with_exif(df).collect()}
    assert rows["a"]["exif_lat"] == lat_e7 / 1e7
    assert rows["b"]["exif_lat"] is None          # NULL, not NaN
    assert rows["b"]["description"] is None
    n_null = with_exif(df).filter("exif_lat IS NULL").count()
    assert n_null == 1


def test_g_local_island_rows_yield_null_not_error(spark):
    """Empty-weights rows (islands) must not abort the job under ANSI
    double division; they get NULL Z/P while normal rows stay finite."""
    from sedona_spark.stats.hotspot_detection.getis_ord import g_local

    df = spark.createDataFrame(
        [(1, 2.0, [(2, 1.0), (3, 1.0)]),
         (2, 3.0, [(1, 1.0), (3, 1.0)]),
         (3, 9.0, [(1, 1.0), (2, 1.0)]),
         (4, 5.0, [])],
        "id long, x double, "
        "weights array<struct<neighbor_id: long, weight: double>>")
    out = {r["id"]: r for r in
           g_local(df, "x").select("id", "G", "Z", "P").collect()}
    assert out[4]["Z"] is None and out[4]["P"] is None
    import math
    assert all(math.isfinite(out[i]["Z"]) for i in (1, 2, 3))


def test_image_quality_signals(spark):
    """quality_signals vs a naive per-pixel reference; flat images score
    zero sharpness; Spark surface agrees with the python codec."""
    import numpy as np

    from sedona_spark.pipeline.quality import (
        image_quality_stats, quality_signals)
    from sedona_spark.sources.images import encode_image, make_pixels

    def naive(a3):
        a = a3[:, :, 0].astype(int)
        h, w = a.shape
        ls = lq = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                v = (4 * a[y, x] - a[y - 1, x] - a[y + 1, x]
                     - a[y, x - 1] - a[y, x + 1])
                ls += v
                lq += v * v
        return (h * w, int(a.sum()), ls, lq,
                int((a3 == 0).sum()), int((a3 == 255).sum()))

    for i in (0, 5, 13):
        arr = make_pixels(i, 12, 9)
        assert quality_signals(arr) == naive(arr)

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    n_px, _, ls, lq, lo, hi = quality_signals(flat)
    assert (ls, lq, lo, hi) == (0, 0, 0, 0)
    sat = np.full((4, 4, 3), 255, dtype=np.uint8)
    assert quality_signals(sat)[5] == 4 * 4 * 3

    rows = [(f"img_{i:012d}", encode_image(make_pixels(i, 16, 16), "fpng"))
            for i in (2, 9)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in image_quality_stats(df).collect()}
    for i in (2, 9):
        want = quality_signals(make_pixels(i, 16, 16))
        r = got[f"img_{i:012d}"]
        assert (r["n_px"], r["sum_lum"], r["lap_sum"], r["lap_sumsq"],
                r["n_clip_lo"], r["n_clip_hi"]) == want


# ---------------------------------------------------------------------------
# GIF codec (sources/gif.py)
# ---------------------------------------------------------------------------


def test_gif_codec_roundtrip_and_structure(spark):
    import struct

    import numpy as np

    from sedona_spark.pipeline.integrity import classify_image
    from sedona_spark.sources.gif import (
        decode_gif, decode_gif_frames, encode_gif, gif_indices, gif_palette)
    from sedona_spark.sources.images import decode_image

    rng = np.random.default_rng(11)
    pal = gif_palette()
    for (h, w) in [(1, 1), (5, 3), (18, 24), (40, 33)]:
        idx = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        buf = encode_gif(idx, pal)
        assert (decode_gif(buf) == pal[idx]).all()
        assert classify_image(buf) == "ok"

    # interlaced variant decodes to the same image
    h, w = 16, 8
    idx = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    buf = bytearray(encode_gif(idx[order], pal))
    di = 6 + 7 + 768
    assert buf[di] == 0x2C
    buf[di + 9] |= 0x40
    assert (decode_gif(bytes(buf)) == pal[idx]).all()

    # two frames + a skipped 89a extension; frame 2 overlays a rectangle
    f1 = encode_gif(gif_indices(3), pal)
    inner = encode_gif(np.full((4, 5), 9, np.uint8), pal)
    di2 = 6 + 7 + 768
    img2 = bytearray(inner[di2:-1])  # image block only
    struct.pack_into("<HHHH", img2, 1, 2, 3, 5, 4)  # place at (2,3)
    ext = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])  # graphic control ext
    multi = f1[:-1] + ext + bytes(img2) + b"\x3b"
    frames = decode_gif_frames(multi)
    assert len(frames) == 2
    assert (frames[0] == pal[gif_indices(3)]).all()
    assert (frames[1][3:7, 2:7] == pal[9]).all()
    assert classify_image(multi) == "ok"

    # structural taxonomy
    assert classify_image(multi[: len(multi) - 1]) == "truncated"
    bad = bytearray(multi)
    bad[di] = 0x7E  # image separator -> junk intro
    assert classify_image(bytes(bad)) == "bad_marker"
    assert classify_image(b"GIF89a") == "truncated"
    assert classify_image(b"GIF9") == "not_image"

    # decode_image dispatch
    arr, fmt = decode_image(encode_gif(gif_indices(5), pal))
    assert fmt == "gif" and (arr == pal[gif_indices(5)]).all()


def test_geotiff_packbits():
    """PackBits (Compression=32773) round trip, the Apple spec vector,
    and edge runs (128-byte literal cap, long repeats)."""
    import numpy as np

    from sedona_spark.sources.geotiff import (
        _packbits_decode, _packbits_encode, decode_geotiff, encode_geotiff)
    from sedona_spark.sources.images import make_pixels

    # the worked example from the PackBits spec (Apple TN1023)
    dec = bytes.fromhex(
        "aaaaaa" "80002a" "aaaaaaaa" "80002a22" + "aa" * 10)
    enc = bytes.fromhex("feaa" "0280002a" "fdaa" "0380002a22" "f7aa")
    assert _packbits_decode(enc) == dec
    assert _packbits_decode(_packbits_encode(dec)) == dec

    rng = np.random.default_rng(3)
    for blob in (b"", b"\x07", b"a" * 1000, bytes(rng.integers(0, 4, 700,
                                                              dtype=np.uint8)),
                 bytes(rng.integers(0, 256, 513, dtype=np.uint8))):
        assert _packbits_decode(_packbits_encode(blob)) == blob

    arr = make_pixels(5, 21, 13)
    arr[3:7] = 9  # guarantee some repeat runs
    buf = encode_geotiff(arr, 10.0, 20.0, 0.5, -0.5, 4326,
                         compress="packbits")
    out, ulx, uly, sx, sy, srid = decode_geotiff(buf)
    assert (out == arr).all() and (ulx, uly, srid) == (10.0, 20.0, 4326)


def test_gif_overhang_clip_and_null_codec_sql(spark):
    """Frame rects past the logical screen clip like browsers do; the
    GIF/BMP SQL codecs pass NULL payloads through as NULLs."""
    import struct

    import numpy as np

    import sedona_spark
    from sedona_spark.sources.gif import (
        decode_gif_frames, encode_gif, gif_palette)

    pal = gif_palette()
    buf = bytearray(encode_gif(np.full((4, 4), 2, np.uint8), pal))
    di = 6 + 7 + 768
    struct.pack_into("<HH", buf, di + 1, 2, 3)  # move rect to (2,3): overhang
    fr = decode_gif_frames(bytes(buf))[0]
    assert fr.shape == (4, 4, 3)
    assert (fr[3:, 2:] == pal[2]).all() and (fr[0, 0] == 0).all()

    sedona_spark.register(spark)
    df = spark.createDataFrame([(None,)], "g binary")
    df.createOrReplaceTempView("t_nullgif")
    r = spark.sql(
        "select RS_FromGIF(g) fg, RS_FromBMP(g) fb, RS_AsGIFRaw(g) ag, "
        "RS_AsBMPRaw(g) ab from t_nullgif").first()
    assert r["fg"]["buf"] is None and r["fb"]["w"] is None
    assert r["ag"] is None and r["ab"] is None


def test_decode_image_la_png_and_gray_bmp_sql(spark):
    import numpy as np

    import sedona_spark
    from sedona_spark.sources.bmp import decode_bmp
    from sedona_spark.sources.images import decode_image
    from sedona_spark.sources.png import encode_png

    la = np.zeros((3, 4, 2), dtype=np.uint8)
    la[:, :, 0] = 77
    la[:, :, 1] = 200
    arr, fmt = decode_image(encode_png(la))
    assert fmt == "png" and arr.shape == (3, 4, 3) and (arr == 77).all()

    # single-band raster through RS_AsBMP: gray replicates to 3 channels
    sedona_spark.register(spark)
    gray = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    df = spark.createDataFrame([(encode_png(gray),)], "p binary")
    df.createOrReplaceTempView("t_graybmp")
    out = spark.sql(
        "select RS_AsBMP(RS_FromPNG(p)) b from t_graybmp").first()["b"]
    dec = decode_bmp(bytes(out))
    assert dec.shape == (3, 4, 3)
    assert (dec[:, :, 0] == gray[:, :, 0]).all()
    assert (dec[:, :, 1] == dec[:, :, 0]).all()


def test_exif_orientation_tag_and_transforms():
    import numpy as np

    from sedona_spark.sources.exif import (
        apply_orientation, build_exif_app1, exif_orientation, extract_exif,
        geotag_e7, inject_app1)
    from sedona_spark.sources.images import make_pixels
    from sedona_spark.sources.jpeg import decode_jpeg, encode_jpeg

    lat_e7, lon_e7 = geotag_e7(6)
    for o in range(1, 9):
        buf = inject_app1(
            encode_jpeg(make_pixels(6, 16, 16), 90),
            build_exif_app1(lat_e7, lon_e7, "cap", orientation=o))
        assert exif_orientation(buf) == o
        # geotag/caption decode is orientation-agnostic and still exact
        la, lo, de = extract_exif(buf)
        assert (la, lo, de) == (lat_e7 / 1e7, lon_e7 / 1e7, "cap")
        decode_jpeg(buf)  # payload untouched
    # absent tag -> 1
    assert exif_orientation(encode_jpeg(make_pixels(1, 16, 16))) == 1
    buf0 = inject_app1(encode_jpeg(make_pixels(2, 16, 16)),
                       build_exif_app1(lat_e7, lon_e7, "x"))
    assert exif_orientation(buf0) == 1

    arr = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    assert (apply_orientation(arr, 1) == arr).all()
    assert (apply_orientation(arr, 3) == np.rot90(arr, 2)).all()
    assert (apply_orientation(arr, 6) == np.rot90(arr, -1)).all()
    assert (apply_orientation(arr, 8) == np.rot90(arr, 1)).all()
    assert (apply_orientation(arr, 2) == arr[:, ::-1]).all()
    assert (apply_orientation(arr, 4) == arr[::-1]).all()
    assert apply_orientation(arr, 5).shape == (7, 5, 3)
    # 7 = transverse: transpose of rot180
    assert (apply_orientation(arr, 7)
            == np.swapaxes(np.rot90(arr, 2), 0, 1)).all()
