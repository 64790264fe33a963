"""Output checks: an order-insensitive digest of every output column,
computed the same way in Spark and in numpy, and references computed
outside Spark (DuckDB for rectangle, distance and kNN joins; a numpy
crossing-number brute force for polygons and holes).

Row digest: a polynomial hash, mod the prime P, over one integer term per
column in name order. Doubles enter as ``trunc(v * 2**20)``; strings as
the CRC-32 of their UTF-8 bytes; arrays as their length and first
element. Every term is exact integer arithmetic in both engines, so the
digest is reproducible bit for bit. The per-run digest is (row count,
sum of row hashes).

Spark computes it as an aggregate that references every output column,
so Catalyst cannot prune a column (and skip the work that made it).
"""

from __future__ import annotations

import zlib

import numpy as np

P = 2147483647  # 2**31 - 1
K = 1000003
SCALE = 1048576.0  # 2**20


# --------------------------------------------------------------- Spark side


def _spark_term(c, t):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def dbl(x):
        return F.pmod((x.cast("double") * F.lit(SCALE)).cast("long"), F.lit(P))

    if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return F.pmod(c.cast("long"), F.lit(P))
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return dbl(c)
    if isinstance(t, T.StringType):
        return F.pmod(F.crc32(c.cast("binary")), F.lit(P))
    if isinstance(t, T.ArrayType) and isinstance(t.elementType, T.DoubleType):
        return F.pmod(F.size(c).cast("long") * F.lit(K) + dbl(F.element_at(c, 1)), F.lit(P))
    if isinstance(t, T.ArrayType) and isinstance(t.elementType, T.ArrayType):
        first = F.element_at(c, 1)
        return F.pmod(
            (F.size(c).cast("long") * F.lit(K) + F.size(first)) * F.lit(K)
            + dbl(F.element_at(first, 1)),
            F.lit(P),
        )
    raise TypeError(f"no digest term for {t}")


def spark_digest(df) -> tuple[int, int]:
    """Run the digest aggregate: the timed action of every join query."""
    from pyspark.sql import functions as F

    h = F.lit(0).cast("long")
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        h = F.pmod(h * F.lit(K) + _spark_term(F.col(f.name), f.dataType), F.lit(P))
    agg = df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("_h").alias("s"))
    row = agg.collect()[0]
    return agg, (int(row["n"]), int(row["s"] or 0))


# --------------------------------------------------------------- numpy side


def long_term(v) -> np.ndarray:
    return np.mod(np.asarray(v, dtype=np.int64), P)


def double_term(v) -> np.ndarray:
    return np.mod((np.asarray(v, dtype=np.float64) * SCALE).astype(np.int64), P)


def string_term(v) -> np.ndarray:
    return np.mod(np.array([zlib.crc32(str(s).encode()) for s in v], dtype=np.int64), P)


def ring_terms(rings) -> np.ndarray:
    """Per-ring term for ``array<double>`` rings."""
    size = np.array([len(r) for r in rings], dtype=np.int64)
    first = np.array([r[0] for r in rings], dtype=np.float64)
    return np.mod(size * K + double_term(first), P)


def geom_terms(geoms) -> np.ndarray:
    """Per-geometry term for ``array<array<double>>`` multi-rings."""
    n = np.array([len(g) for g in geoms], dtype=np.int64)
    shell = np.array([len(g[0]) for g in geoms], dtype=np.int64)
    first = np.array([g[0][0] for g in geoms], dtype=np.float64)
    return np.mod((n * K + shell) * K + double_term(first), P)


def digest(terms: dict) -> tuple[list[str], tuple[int, int]]:
    """``terms``: column name -> per-row int64 term array (all aligned)."""
    names = sorted(terms)
    n = len(terms[names[0]]) if names else 0
    h = np.zeros(n, dtype=np.int64)
    for name in names:
        h = np.mod(h * K + terms[name], P)
    return names, (n, int(h.sum(dtype=np.int64)))


# --------------------------------------------------------------- references


class PointIndex:
    """Points sorted by y once, so each polygon's bounding-box candidates
    come out as a y-sorted slice (what the edge sweep below needs)."""

    def __init__(self, x: np.ndarray, y: np.ndarray):
        self.order = np.argsort(y, kind="stable")
        self.sx = x[self.order]
        self.sy = y[self.order]

    def bbox(self, xmin, ymin, xmax, ymax):
        lo = np.searchsorted(self.sy, ymin, side="left")
        hi = np.searchsorted(self.sy, ymax, side="right")
        keep = (self.sx[lo:hi] >= xmin) & (self.sx[lo:hi] <= xmax)
        sel = np.flatnonzero(keep) + lo
        return self.order[sel], self.sx[sel], self.sy[sel]


def crossing_parity(rings, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd crossing number of y-sorted points against every edge of
    ``rings`` (a shell plus holes). An edge (a, b) is crossed by the
    rightward ray from p when p.y lies in [min(ay, by), max(ay, by)) and
    p.x < the edge's x at p.y. Because ``py`` is sorted, each edge touches
    one contiguous slice."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        v = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
        ax, ay = v[:, 0], v[:, 1]
        bx, by = np.roll(ax, -1), np.roll(ay, -1)
        lo = np.searchsorted(py, np.minimum(ay, by), side="left")
        hi = np.searchsorted(py, np.maximum(ay, by), side="left")
        for e in np.flatnonzero(hi > lo):
            s = slice(lo[e], hi[e])
            x_at = ax[e] + (bx[e] - ax[e]) * (py[s] - ay[e]) / (by[e] - ay[e])
            inside[s] ^= px[s] < x_at
    return inside


def pip_pairs(points: dict, index: PointIndex, zones: dict, multi: bool,
              candidates: list | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(pid, zid) of every point inside each zone (shell, or shell+holes).
    Appends (pid, zid) bbox candidates to ``candidates`` when given."""
    pids, zids = [], []
    for z in range(len(zones["zid"])):
        pid, cx, cy = index.bbox(zones["xmin"][z], zones["ymin"][z],
                                 zones["xmax"][z], zones["ymax"][z])
        if candidates is not None:
            candidates.append((pid, np.full(len(pid), z, dtype=np.int64)))
        rings = zones["geoms"][z] if multi else [zones["shells"][z]]
        hit = crossing_parity(rings, cx, cy)
        pids.append(pid[hit])
        zids.append(np.full(int(hit.sum()), zones["zid"][z], dtype=np.int64))
    return np.concatenate(pids), np.concatenate(zids)


def range_pids(points: dict, index: PointIndex, ring) -> np.ndarray:
    v = np.asarray(ring).reshape(-1, 2)
    pid, cx, cy = index.bbox(v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max())
    return pid[crossing_parity([ring], cx, cy)]


class DuckRef:
    """DuckDB references. Joins go through an equi-join on a coarse grid
    key (then the exact predicate), which DuckDB hashes quickly; a plain
    band join of this size takes seconds."""

    def __init__(self, threads: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        self.con.execute("SET memory_limit='1GB'")

    def load_points(self, points: dict, g: float):
        import pyarrow as pa

        self.con.register("pts_in", pa.table({k: points[k] for k in ("pid", "x", "y")}))
        self.con.execute(
            "CREATE OR REPLACE TABLE pts AS SELECT pid, x, y, "
            f"CAST(floor(x / {g!r}) AS BIGINT) gx, CAST(floor(y / {g!r}) AS BIGINT) gy FROM pts_in")
        self.g = g

    def _probe(self, table: str, cols: str, radius_sql: str) -> str:
        """Expand each probe row of ``table`` to every grid cell its square
        of half-width radius overlaps."""
        g = repr(self.g)
        return (
            f"(SELECT {cols}, unnest(range(CAST(floor((x - {radius_sql}) / {g}) AS BIGINT), "
            f"CAST(floor((x + {radius_sql}) / {g}) AS BIGINT) + 1)) AS gx, "
            f"range(CAST(floor((y - {radius_sql}) / {g}) AS BIGINT), "
            f"CAST(floor((y + {radius_sql}) / {g}) AS BIGINT) + 1) AS gys FROM {table})"
        )

    def rect_pairs(self, rects: dict) -> tuple[np.ndarray, np.ndarray]:
        import pyarrow as pa

        g = repr(self.g)
        self.con.register("rects", pa.table(rects))
        r = self.con.execute(
            f"""WITH rx AS (SELECT rid, xmin, ymin, xmax, ymax,
                  unnest(range(CAST(floor(xmin / {g}) AS BIGINT), CAST(floor(xmax / {g}) AS BIGINT) + 1)) AS gx
                  FROM rects),
                rc AS (SELECT *, unnest(range(CAST(floor(ymin / {g}) AS BIGINT), CAST(floor(ymax / {g}) AS BIGINT) + 1)) AS gy FROM rx)
            SELECT p.pid, rc.rid FROM pts p JOIN rc USING (gx, gy)
            WHERE p.x >= rc.xmin AND p.x <= rc.xmax AND p.y >= rc.ymin AND p.y <= rc.ymax"""
        ).fetchnumpy()
        return r["pid"].astype(np.int64), r["rid"].astype(np.int64)

    def distance_pairs(self, sites: dict, r: float) -> tuple[np.ndarray, np.ndarray]:
        import pyarrow as pa

        self.con.register("sites", pa.table({"sid": sites["id"], "x": sites["x"], "y": sites["y"]}))
        q = self._probe("sites", "sid, x AS sx, y AS sy, x, y", repr(float(r)))
        res = self.con.execute(
            f"""WITH q1 AS {q}, q AS (SELECT sid, sx, sy, gx, unnest(gys) AS gy FROM q1)
            SELECT q.sid, p.pid FROM q JOIN pts p USING (gx, gy)
            WHERE (q.sx - p.x) * (q.sx - p.x) + (q.sy - p.y) * (q.sy - p.y) <= {float(r) * float(r)!r}"""
        ).fetchnumpy()
        return res["sid"].astype(np.int64), res["pid"].astype(np.int64)

    def knn(self, queries: dict, k: int) -> dict:
        """Exact kNN with the operator's tie-break (distance, then object
        id). A query is certified when its kth distance is within the
        searched square; uncertified queries retry with twice the square."""
        import pyarrow as pa

        qid, qx, qy = queries["id"], queries["x"], queries["y"]
        todo = np.ones(len(qid), dtype=bool)
        w = self.g
        out = {"qid": [], "oid": [], "rank": []}
        while todo.any():
            self.con.register("kq", pa.table({"qid": qid[todo], "x": qx[todo], "y": qy[todo]}))
            q = self._probe("kq", "qid, x AS qx, y AS qy, x, y", repr(w))
            r = self.con.execute(
                f"""WITH q1 AS {q}, q AS (SELECT qid, qx, qy, gx, unnest(gys) AS gy FROM q1),
                c AS (SELECT q.qid, p.pid AS oid,
                        (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) AS d
                      FROM q JOIN pts p USING (gx, gy)),
                r AS (SELECT qid, oid, d, row_number() OVER (PARTITION BY qid ORDER BY d, oid) AS rk FROM c)
                SELECT qid, oid, d, rk FROM r WHERE rk <= {int(k)} ORDER BY qid, rk"""
            ).fetchnumpy()
            rq, ro = r["qid"].astype(np.int64), r["oid"].astype(np.int64)
            rd, rk = r["d"].astype(np.float64), r["rk"].astype(np.int64)
            kth = rk == k
            done_q = set(rq[kth][rd[kth] <= w * w].tolist())
            keep = np.isin(rq, list(done_q))
            out["qid"].append(rq[keep])
            out["oid"].append(ro[keep])
            out["rank"].append(rk[keep])
            todo &= ~np.isin(qid, list(done_q))
            w *= 2.0
            if w > 1e4:
                raise RuntimeError("kNN reference did not converge")
        return {c: np.concatenate(v) for c, v in out.items()}


def tile_grid_np(images: dict, tile: int, level: int, span: float = 0.1) -> dict:
    """Op-for-op numpy mirror of the tile_assign metadata (expected rows
    of ``tile_assign`` with a ``span``-degree footprint)."""
    w, h = images["w"], images["h"]
    nx = np.floor((w + (tile - 1)) / tile).astype(np.int64)
    ny = np.floor((h + (tile - 1)) / tile).astype(np.int64)
    per = nx * ny
    img = np.repeat(np.arange(len(w)), per)
    local = np.arange(per.sum()) - np.repeat(np.cumsum(per) - per, per)
    ty = local // nx[img]
    tx = local % nx[img]
    px0 = tx * tile
    py0 = ty * tile
    pw = np.minimum(tile, w[img] - px0)
    ph = np.minimum(tile, h[img] - py0)
    cx = (px0 + pw / 2.0) / w[img]
    cy = (py0 + ph / 2.0) / h[img]
    tlon = images["lon"][img] + cx * span
    tlat = images["lat"][img] - cy * span
    return {"img": img, "tile_x": tx, "tile_y": ty, "px0": px0, "py0": py0,
            "pw": pw, "ph": ph, "tile_lon": tlon, "tile_lat": tlat,
            "tile_cell": cell_id_np(tlon, tlat, level)}


def cell_id_np(lon, lat, level: int) -> np.ndarray:
    """The engine's documented cell-id layout: level in bits 54+, x index
    in bits 27+, y index in the low bits, indices clamped to the grid."""
    n = 1 << level
    gx = np.clip(np.floor((lon - -180.0) / 360.0 * float(n)), 0, n - 1).astype(np.int64)
    gy = np.clip(np.floor((lat - -90.0) / 180.0 * float(n)), 0, n - 1).astype(np.int64)
    return (level << 54) + (gx << 27) + gy
