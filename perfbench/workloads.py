"""The benchmark workloads. Each generates seeded inputs, computes references
outside Spark, and runs a fixed unit of work (a round) as a list of calls
into the public functions of ``sedona_spark``.

A call is timed from the call into the public function until its action
returns, because some operators run jobs while they build their DataFrame
(``knn_join`` counts and checkpoints each round).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import check
import gen

TILE = 16
PIPE_LEVEL = 8
# lineage buckets per checkpoint stage: a few hundred images fill 4 buckets;
# the default 32 mostly adds small-file overhead at this size
PIPE_BUCKETS = 4

SCALES = {
    "spatial_joins": {
        "full": dict(points=20_000, zones=50, sites=50, knn_queries=50, images=200),
        "tiny": dict(points=4_000, zones=12, sites=8, knn_queries=8, images=20),
    },
    "tile_pipeline": {
        "full": dict(images=200, zones=20),
        "tiny": dict(images=40, zones=6),
    },
}
# tile_pipeline reads its published table back this often per round, so
# query_p50_s (the median scan wall) has a real sample
SCANS_PER_ROUND = 5
CODEC_SAMPLE = 32  # stored images timed by images.codec_tiles_per_s
IMAGE_META = ("image_id", "w", "h", "lon", "lat")
DIST_R = 0.25  # distance_join radius, degrees
KNN_K = 10


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, tracer, tmp: str, threads: int):
        self.spark = spark
        self.tracer = tracer
        self.probe = None  # telemetry.SparkProbe while a traced round runs
        self.tmp = tmp
        self.threads = threads
        self._n = 0

    def call(self, op: str, fn, check_fn) -> dict:
        """Run one call; the check runs later, outside the timed region."""
        self._n += 1
        group = f"perfbench-{self._n}-{op}"
        if self.probe is not None:
            self.probe.begin(group)
        jdf, out, err = None, None, None
        t0 = time.perf_counter()
        with self.tracer.span(f"call:{op}"):
            try:
                jdf, out = fn()
            except Exception as e:  # a failing operation counts, it does not stop the run
                err = f"{type(e).__name__}: {str(e)[:300]}"
        wall = time.perf_counter() - t0
        metrics = None
        if self.probe is not None:
            with self.tracer.span("trace:extract"):
                metrics = self.probe.end(group, jdf)
        return {"op": op, "wall": wall, "out": out, "err": err,
                "metrics": metrics, "check": check_fn}


def _digest_call(ctx: Ctx, op: str, build, expected):
    """A join-style call: build the DataFrame, then the digest aggregate."""

    def fn():
        with ctx.tracer.span(f"operators:{op}"):
            df = build()
        with ctx.tracer.span(f"action:{op}"):
            agg, dg = check.spark_digest(df)
        return agg._jdf, (sorted(df.columns), dg)

    def verify(out):
        cols, dg = out
        names, want = expected
        if cols != names:
            return False, f"columns {cols} != {names}"
        if dg != want:
            return False, f"digest (rows, sum) {dg} != {want}"
        return True, ""

    return ctx.call(op, fn, verify)


def _sample_idx(rng, n: int, cap: int) -> np.ndarray:
    return np.sort(rng.choice(n, size=cap, replace=False)) if n > cap else np.arange(n)


class SpatialJoins:
    """pip_join, pip_join_multi, pip_join_rect, distance_join and knn_join
    over the whole point table, range_query with a polygon window, and
    tile_assign (the pure-SQL tile metadata path) over an image table;
    every query is timed on its own."""

    name = "spatial_joins"
    items = "points"
    ops = ("pip_poly", "pip_holes", "pip_rect", "distance", "knn", "range", "tile_assign")
    query_ops = ops  # query_p50_s: the median of the seven per-op median walls

    def __init__(self, ctx: Ctx, seed: int, scale: str):
        self.ctx, self.seed = ctx, int(seed)
        self.size = SCALES[self.name][scale]
        self.dir = os.path.join(ctx.tmp, "inputs")

    @property
    def n_items(self) -> int:
        return self.size["points"]

    # ------------------------------------------------------------ set-up
    def generate(self) -> None:
        s, sz = self.seed, self.size
        self.zones = gen.make_zones(s, sz["zones"])
        self.points = gen.make_points(s, sz["points"], self.zones)
        hot = self.points["hot_centres"]
        self.sites = gen.make_sites(s, sz["sites"], hot, "sites")
        self.queries = gen.make_sites(s, sz["knn_queries"], hot, "knn")
        z, p = self.zones, self.points
        files = 2 * self.ctx.threads
        if os.path.exists(self.dir):
            shutil.rmtree(self.dir)
        w = gen.write_parquet
        self.paths = {
            "points": w(os.path.join(self.dir, "points"),
                        {"pid": p["pid"], "x": p["x"], "y": p["y"]}, files),
            "zones": w(os.path.join(self.dir, "zones"),
                       {"zid": z["zid"], "ring": [r.tolist() for r in z["shells"]]}),
            "zones_multi": w(os.path.join(self.dir, "zones_multi"),
                             {"zid": z["zid"],
                              "geom": [[r.tolist() for r in g] for g in z["geoms"]]}),
            "rects": w(os.path.join(self.dir, "rects"),
                       {"rid": z["zid"], "xmin": z["xmin"], "ymin": z["ymin"],
                        "xmax": z["xmax"], "ymax": z["ymax"]}),
            "sites": w(os.path.join(self.dir, "sites"),
                       {"sid": self.sites["id"], "x": self.sites["x"], "y": self.sites["y"]}),
            "queries": w(os.path.join(self.dir, "queries"),
                         {"qid": self.queries["id"], "qx": self.queries["x"],
                          "qy": self.queries["y"]}),
        }
        area = (z["xmax"] - z["xmin"]) * (z["ymax"] - z["ymin"])
        self.window = z["shells"][int(np.argmax(area))]  # range_query window
        table = gen.synth_images(s, sz["images"])
        self.paths["images"] = w(os.path.join(self.dir, "images"), table, files)
        self.images = gen.image_meta(table)
        self.blobs = table.column("bytes").to_pylist()[:CODEC_SAMPLE]

    def open(self) -> None:
        read = self.ctx.spark.read.parquet
        self.df = {k: read(v) for k, v in self.paths.items()}
        # tile_assign tiles the metadata; pixels stay in storage
        self.df["images"] = self.df["images"].select(*IMAGE_META)

    def reference(self) -> None:
        p, z = self.points, self.zones
        idx = check.PointIndex(p["x"], p["y"])
        self.index = idx
        self.expected = {}
        cands: list = []
        pid, zid = check.pip_pairs(p, idx, z, multi=False, candidates=cands)
        rt = check.ring_terms(z["shells"])
        self.expected["pip_poly"] = check.digest({
            "pid": check.long_term(pid), "x": check.double_term(p["x"][pid]),
            "y": check.double_term(p["y"][pid]), "zid": check.long_term(zid),
            "ring": rt[zid]})
        pid, zid = check.pip_pairs(p, idx, z, multi=True)
        self.expected["pip_holes"] = check.digest({
            "pid": check.long_term(pid), "x": check.double_term(p["x"][pid]),
            "y": check.double_term(p["y"][pid]), "zid": check.long_term(zid),
            "geom": check.geom_terms(z["geoms"])[zid]})
        self.candidates = (np.concatenate([c[0] for c in cands]),
                           np.concatenate([c[1] for c in cands]))

        duck = check.DuckRef(self.ctx.threads)
        duck.load_points(p, g=1.0)
        pid, rid = duck.rect_pairs({"rid": z["zid"], "xmin": z["xmin"], "ymin": z["ymin"],
                                    "xmax": z["xmax"], "ymax": z["ymax"]})
        self.expected["pip_rect"] = check.digest({
            "pid": check.long_term(pid), "x": check.double_term(p["x"][pid]),
            "y": check.double_term(p["y"][pid]), "rid": check.long_term(rid),
            **{c: check.double_term(z[c][rid]) for c in ("xmin", "ymin", "xmax", "ymax")}})
        sid, pid = duck.distance_pairs(self.sites, DIST_R)
        self.expected["distance"] = check.digest({
            "sid": check.long_term(sid), "x": check.double_term(self.sites["x"][sid]),
            "y": check.double_term(self.sites["y"][sid]), "pid": check.long_term(pid),
            "bx": check.double_term(p["x"][pid]), "by": check.double_term(p["y"][pid])})
        kn = duck.knn(self.queries, KNN_K)
        q, o = kn["qid"], kn["oid"]
        qx, qy = self.queries["x"][q], self.queries["y"][q]
        ox, oy = p["x"][o], p["y"][o]
        self.expected["knn"] = check.digest({
            "qid": check.long_term(q), "qx": check.double_term(qx), "qy": check.double_term(qy),
            "oid": check.long_term(o), "ox": check.double_term(ox), "oy": check.double_term(oy),
            "dist_sq": check.double_term((qx - ox) * (qx - ox) + (qy - oy) * (qy - oy)),
            "knn_rank": check.long_term(kn["rank"])})
        pid = check.range_pids(p, idx, self.window)
        self.expected["range"] = check.digest({
            "pid": check.long_term(pid), "x": check.double_term(p["x"][pid]),
            "y": check.double_term(p["y"][pid])})
        im = self.images
        t = check.tile_grid_np(im, TILE, PIPE_LEVEL)
        i = t["img"]
        terms = {"image_id": check.string_term(im["image_id"][i]),
                 "w": check.long_term(im["w"][i]), "h": check.long_term(im["h"][i])}
        terms.update({c: check.double_term(im[c][i]) for c in ("lon", "lat")})
        for c in ("tile_x", "tile_y", "px0", "py0", "pw", "ph", "tile_cell"):
            terms[c] = check.long_term(t[c])
        for c in ("tile_lon", "tile_lat"):
            terms[c] = check.double_term(t[c])
        self.expected["tile_assign"] = check.digest(terms)

    # ------------------------------------------------------------ one round
    def round(self) -> list[dict]:
        from sedona_spark.operators.distance_join import distance_join
        from sedona_spark.operators.knn import knn_join
        from sedona_spark.operators.range_query import range_query
        from sedona_spark.operators.spatial_join import (
            pip_join, pip_join_multi, pip_join_rect)
        from sedona_spark.operators.tile import tile_assign

        ctx, d, ex = self.ctx, self.df, self.expected
        window = self.window.tolist()
        calls = [
            ("pip_poly", lambda: pip_join(d["points"], d["zones"])),
            ("pip_holes", lambda: pip_join_multi(d["points"], d["zones_multi"])),
            ("pip_rect", lambda: pip_join_rect(d["points"], d["rects"])),
            ("distance", lambda: distance_join(
                d["sites"], d["points"].withColumnsRenamed({"x": "bx", "y": "by"}), DIST_R)),
            ("knn", lambda: knn_join(
                d["queries"],
                d["points"].withColumnsRenamed({"pid": "oid", "x": "ox", "y": "oy"}),
                KNN_K, query_id="qid", qx="qx", qy="qy")),
            ("range", lambda: range_query(d["points"], window, "intersects")),
            ("tile_assign", lambda: tile_assign(d["images"], TILE, TILE, PIPE_LEVEL)),
        ]
        return [_digest_call(ctx, op, build, ex[op]) for op, build in calls]

    # ------------------------------------------------------------ layer probes
    def kernel_inputs(self, rng):
        """(rings, ring lists, px, py) for a sample of the bbox candidates."""
        pid, zid = self.candidates
        keep = _sample_idx(rng, len(pid), 20_000)
        pid, zid = pid[keep], zid[keep]
        shells = np.empty(len(self.zones["shells"]), dtype=object)
        shells[:] = self.zones["shells"]
        geoms = np.empty(len(self.zones["geoms"]), dtype=object)
        geoms[:] = self.zones["geoms"]
        return shells[zid], geoms[zid], self.points["x"][pid], self.points["y"][pid]


class TilePipeline:
    """run_image_pipeline into a fresh output root and table, then read the
    published table back with icetable.scan."""

    name = "tile_pipeline"
    items = "images"
    ops = ("pipeline", "scan")
    query_ops = ("scan",)  # query_p50_s: the median read-back query

    def __init__(self, ctx: Ctx, seed: int, scale: str):
        self.ctx, self.seed = ctx, int(seed)
        self.size = SCALES[self.name][scale]
        self.dir = os.path.join(ctx.tmp, "inputs")
        self._round = 0

    @property
    def n_items(self) -> int:
        return self.size["images"]

    def generate(self) -> None:
        if os.path.exists(self.dir):
            shutil.rmtree(self.dir)
        table = gen.synth_images(self.seed, self.size["images"])
        self.images_path = gen.write_parquet(os.path.join(self.dir, "images"), table,
                                             2 * self.ctx.threads)
        self.images = gen.image_meta(table)
        self.blobs = table.column("bytes").to_pylist()[:CODEC_SAMPLE]
        self.rects = gen.make_rects(self.seed, self.size["zones"])
        self.zones_path = gen.write_parquet(os.path.join(self.dir, "zones"), self.rects)

    def open(self) -> None:
        self.zones_df = self.ctx.spark.read.parquet(self.zones_path)

    def reference(self) -> None:
        im, r = self.images, self.rects
        # the pipeline's tiles stage places tiles on a 0.05-degree footprint
        t = check.tile_grid_np(im, TILE, PIPE_LEVEL, span=0.05)
        img, tlon, tlat = t["img"], t["tile_lon"], t["tile_lat"]
        self.tiles_per_image = {str(k): int(c) for k, c in
                                zip(im["image_id"], np.bincount(img, minlength=len(im["w"])))}
        self.zonal = {}
        for z in range(len(r["zid"])):
            m = ((tlon >= r["xmin"][z]) & (tlon <= r["xmax"][z])
                 & (tlat >= r["ymin"][z]) & (tlat <= r["ymax"][z]))
            if m.any():
                self.zonal[int(r["zid"][z])] = (int(m.sum()), int(len(np.unique(img[m]))))
        self.tile_centres = (tlon, tlat)

    def round(self) -> list[dict]:
        from sedona_spark import icetable
        from sedona_spark.pipeline_job import run_image_pipeline

        ctx = self.ctx
        self._round += 1
        base = os.path.join(ctx.tmp, f"pipe-{self._round}")
        out_root, table = os.path.join(base, "out"), os.path.join(base, "table")
        os.makedirs(base, exist_ok=True)

        def pipeline():
            with ctx.tracer.span("pipeline_job:run_image_pipeline"):
                man = run_image_pipeline(ctx.spark, self.images_path, self.zones_df,
                                         out_root, tile=TILE, level=PIPE_LEVEL,
                                         n_buckets=PIPE_BUCKETS, publish_table=table)
            return None, man

        def scan():
            with ctx.tracer.span("icetable:scan"):
                df = icetable.scan(ctx.spark, table)
                rows = df.collect()
            return df._jdf, rows

        calls = [ctx.call("pipeline", pipeline, lambda man: self._check_pipeline(man, out_root))]
        for _ in range(SCANS_PER_ROUND):
            calls.append(ctx.call("scan", scan, lambda rows: self._check_zonal(rows, table)))
        return calls

    def cleanup_round(self) -> None:
        shutil.rmtree(os.path.join(self.ctx.tmp, f"pipe-{self._round}"), ignore_errors=True)

    def _check_pipeline(self, man, out_root):
        from sedona_spark import checkpoint

        tiles = sum(v["rows"] for v in man["tiles"]["partitions"].values())
        want = sum(self.tiles_per_image.values())
        if tiles != want:
            return False, f"tiles stage rows {tiles} != {want}"
        got = {r["image_id"]: int(r["count"]) for r in
               checkpoint.read_stage(self.ctx.spark, out_root, "tiles")
               .groupBy("image_id").count().collect()}
        if got != self.tiles_per_image:
            bad = sorted(k for k in self.tiles_per_image if got.get(k) != self.tiles_per_image[k])
            return False, f"tile count per image differs for {len(bad)} images, e.g. {bad[:3]}"
        return True, ""

    def _check_zonal(self, rows, table):
        from sedona_spark import icetable

        self.table_files = len(icetable.plan_files(table))
        got = {int(r["zid"]): (int(r["n_tiles"]), int(r["n_images"])) for r in rows}
        if got != self.zonal:
            return False, f"per-zone totals differ: {len(set(got.items()) ^ set(self.zonal.items()))} zones"
        if any(int(r["total_bytes"]) <= 0 for r in rows):
            return False, "a zone reports no tile bytes"
        return True, ""

    def kernel_inputs(self, rng):
        """Tile centres against the zone rectangles whose box holds them."""
        tlon, tlat = self.tile_centres
        r = self.rects
        rings, px, py = [], [], []
        for z in range(len(r["zid"])):
            m = np.flatnonzero((tlon >= r["xmin"][z]) & (tlon <= r["xmax"][z])
                               & (tlat >= r["ymin"][z]) & (tlat <= r["ymax"][z]))
            ring = np.array([r["xmin"][z], r["ymin"][z], r["xmax"][z], r["ymin"][z],
                             r["xmax"][z], r["ymax"][z], r["xmin"][z], r["ymax"][z]])
            rings += [ring] * len(m)
            px.append(tlon[m])
            py.append(tlat[m])
        ring_arr = np.empty(len(rings), dtype=object)
        ring_arr[:] = rings
        lists = np.empty(len(rings), dtype=object)
        lists[:] = [[x] for x in rings]
        return ring_arr, lists, np.concatenate(px), np.concatenate(py)


WORKLOADS = {w.name: w for w in (SpatialJoins, TilePipeline)}
