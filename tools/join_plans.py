#!/usr/bin/env python
"""Record the optimized logical plan and a result digest of every cell join.

Usage: python tools/join_plans.py <repo_root> <out_dir> <tag> [--seed N]

Imports the engine from ``<repo_root>``, builds each join over seeded
``perfbench/gen.py`` inputs (4,000 points, 12 polygon zones, stored as
parquet under ``<out_dir>/inputs``), and writes ``<op>_<tag>.txt`` (the
optimized logical plan with expression ids, lambda-variable ids and RDD
ids normalized) plus ``results_<tag>.json`` ({op: [rows, sha1 of the
sorted rows]}). Run it once on each of two checkouts with the same
``out_dir`` and diff: identical files mean the change kept every plan and
every result. The ops named after the ``spatial_joins`` benchmark ops
(``pip_poly``, ``pip_holes``, ``pip_rect``, ``distance``, ``knn``) use its
call signatures; ``knn``'s plan is one round's disk join.

Every op runs at the session's ``spark.sql.autoBroadcastJoinThreshold``,
where ``pip_poly``, ``pip_holes`` and ``knn_join`` take the broadcast index
path. Those three run again with the threshold at ``-1`` (the cell join and
the kNN rounds) as ``<op>_cell``: their plans differ by design, their
result digests must be equal. A plan that reads a kNN round checkpoint is
not written (``knn_join_cell``, ``knn_join_sphere``): it names the run's
checkpoint RDD.
"""
import hashlib
import json
import os
import re
import sys

root, out_dir, tag = sys.argv[1:4]
seed = int(sys.argv[sys.argv.index("--seed") + 1]) if "--seed" in sys.argv else 3
sys.path.insert(0, root)

from pyspark.sql import functions as F  # noqa: E402

from perfbench import gen  # noqa: E402
from sedona_spark import cells  # noqa: E402
from sedona_spark.operators import knn  # noqa: E402
from sedona_spark.operators.distance_geo import distance_join_meters  # noqa: E402
from sedona_spark.operators.distance_join import distance_join  # noqa: E402
from sedona_spark.operators.overlay import rect_overlay_area  # noqa: E402
from sedona_spark.operators import spatial_join as sj  # noqa: E402
from sedona_spark.session import get_spark  # noqa: E402

_NORM = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(lambda )?([a-z]+)_\d+\b"), r"\1\2_"),
    (re.compile(r"\[\d+\] at "), "[] at "),
    (re.compile(r"\bRDD\[\d+\]"), "RDD[]"),
]


def normalized_plan(df) -> str:
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    for pat, rep in _NORM:
        txt = pat.sub(rep, txt)
    return txt


def digest(df) -> list:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return [len(rows), hashlib.sha1("\n".join(rows).encode()).hexdigest()]


def write_inputs(base: str) -> dict:
    z = gen.make_zones(seed, 12)
    p = gen.make_points(seed, 4000, z)
    sites = gen.make_sites(seed, 8, p["hot_centres"], "sites")
    qs = gen.make_sites(seed, 8, p["hot_centres"], "knn")
    rects = gen.make_rects(seed, 20)
    shells = [r.tolist() for r in z["shells"]]
    w = gen.write_parquet
    return {
        "points": w(os.path.join(base, "points"), {"pid": p["pid"], "x": p["x"], "y": p["y"]}, 4),
        "zones": w(os.path.join(base, "zones"), {"zid": z["zid"], "ring": shells}),
        "zones_multi": w(os.path.join(base, "zones_multi"),
                         {"zid": z["zid"], "geom": [[r.tolist() for r in g] for g in z["geoms"]]}),
        "rects": w(os.path.join(base, "rects"),
                   {"rid": z["zid"], **{c: z[c] for c in ("xmin", "ymin", "xmax", "ymax")}}),
        "sites": w(os.path.join(base, "sites"), {"sid": sites["id"], "x": sites["x"], "y": sites["y"]}),
        "queries": w(os.path.join(base, "queries"), {"qid": qs["id"], "qx": qs["x"], "qy": qs["y"]}),
        # open paths: each shell's first five vertices
        "lines": w(os.path.join(base, "lines"), {"lid": z["zid"], "line": [s[:10] for s in shells]}),
        "img_rects": w(os.path.join(base, "img_rects"), rects),
    }


def ops(spark, paths: dict) -> dict:
    d = {k: spark.read.parquet(v) for k, v in paths.items()}
    pts, zones, rects = d["points"], d["zones"], d["rects"]
    objs = pts.withColumnsRenamed({"pid": "oid", "x": "ox", "y": "oy"})
    build = pts.withColumnsRenamed({"x": "bx", "y": "by"})
    left = zones.withColumnsRenamed({"zid": "lid", "ring": "l_ring"})
    # the right polygons are the zones moved 2 degrees east, so pairs overlap
    right = zones.select(F.col("zid").alias("rid"), F.transform(
        "ring", lambda v, i: F.when(i % 2 == 0, v + 2.0).otherwise(v)).alias("r_ring"))
    r_rects = d["img_rects"].select(
        F.col("zid").alias("r_id"),
        *(F.col(c).alias(f"r{c}") for c in ("xmin", "ymin", "xmax", "ymax")))
    l_rects = d["img_rects"].withColumnRenamed("zid", "l_id")

    def disk(metric):
        q = d["queries"].withColumn("_ring", F.lit(2)).withColumn("_ring_y", F.lit(2))
        oc = objs.withColumn("cell", cells.cell_id(F.col("ox"), F.col("oy"), 7))
        return knn._disk_join(q, oc, 7, "qx", "qy", "ox", "oy", metric)

    return {
        # the spatial_joins benchmark's five cell-join calls
        "pip_poly": lambda: sj.pip_join(pts, zones),
        "pip_holes": lambda: sj.pip_join_multi(pts, d["zones_multi"]),
        "pip_rect": lambda: sj.pip_join_rect(pts, rects),
        "distance": lambda: distance_join(d["sites"], build, 0.25),
        "knn": lambda: disk("euclid"),
        # the rest of the cell-join family
        "distance_r1": lambda: distance_join(d["sites"], build, 1.0),
        "pip_join_contains": lambda: sj.pip_join(pts, zones, "contains"),
        "pip_join_rect_salted": lambda: sj.pip_join_rect(pts, rects, salt=4),
        "pip_join_rect_contains": lambda: sj.pip_join_rect(pts, rects, "contains"),
        "pip_join_compact": lambda: sj.pip_join_compact(pts, rects, level=9, min_level=4),
        "pip_semi_join": lambda: sj.pip_semi_join(pts, rects),
        "pip_anti_join": lambda: sj.pip_anti_join(pts, rects),
        "pip_left_outer_join": lambda: sj.pip_left_outer_join(pts, rects),
        "pip_right_outer_join": lambda: sj.pip_right_outer_join(pts, rects),
        "polygon_overlap_join": lambda: sj.polygon_overlap_join(left, right, level=6),
        "polygon_predicate_join_overlaps": lambda: sj.polygon_predicate_join(
            left, right, "overlaps", level=6),
        "linestring_polygon_join": lambda: sj.linestring_polygon_join(
            d["lines"], d["zones_multi"], level=6),
        "rect_overlay_area": lambda: rect_overlay_area(l_rects, r_rects, "l_id"),
        "distance_join_meters": lambda: distance_join_meters(
            d["sites"].withColumnsRenamed({"x": "lon", "y": "lat"}),
            pts.withColumnsRenamed({"x": "blon", "y": "blat"}), 50_000.0),
        "knn_sphere": lambda: disk("sphere"),
        "knn_join": lambda: knn.knn_join(d["queries"], objs, 10, query_id="qid", qx="qx", qy="qy"),
        "knn_join_sphere": lambda: knn.knn_join(
            d["queries"], objs, 10, query_id="qid", qx="qx", qy="qy", metric="sphere"),
    }


# ops that take the broadcast index path at the default threshold
BOTH_PATHS = ("pip_poly", "pip_holes", "knn_join")
# ops whose plan reads a kNN round checkpoint
ROUNDS = ("knn_join_sphere", "knn_join_cell")


def record(out_dir: str, tag: str, name: str, df, results: dict) -> None:
    if name not in ROUNDS:
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(normalized_plan(df) + "\n")
    results[name] = digest(df)
    print(name, *results[name], flush=True)


def main() -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("join_plans", cpus=2, shuffle_partitions=8)
    paths = write_inputs(os.path.join(out_dir, "inputs"))
    results = {}
    builds = ops(spark, paths)
    for name, build in builds.items():
        record(out_dir, tag, name, build(), results)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for name in BOTH_PATHS:
        record(out_dir, tag, f"{name}_cell", builds[name](), results)
    with open(os.path.join(out_dir, f"results_{tag}.json"), "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
