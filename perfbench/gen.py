"""Seeded input generators. The same seed always yields the same inputs.

Points, polygon zones and sites live in one lon/lat box; images and the
pipeline's rectangle zones live in the image synthesizer's geotag
domain. Polygon zone sizes are expressed in level-6 cells of the
engine's grid (5.625 x 2.8125 degrees), so "close to a level-6 cell" and
"much larger than one" are properties of the data, not of a particular
join level.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOMAIN = (-60.0, -40.0, 60.0, 40.0)  # xmin, ymin, xmax, ymax (degrees)
CELL6_H = 180.0 / 64  # height of a level-6 cell in degrees

HOT_SHARE = 0.3  # share of points drawn from the hot spots
N_HOT = 16  # hot spots, each centred on a zone
HOT_SIGMA = 0.3  # hot-spot spread (degrees, normal)
LARGE_SHARE = 0.2  # zones with radius 1.5-3 level-6 cell heights
SMALL_RADIUS = (0.5, 1.0)  # other zones, in level-6 cell heights
LARGE_RADIUS = (1.5, 3.0)
VERTEX_LOG2 = (3.0, 8.0)  # vertices are 2**U(3, 8): 8..256, log-uniform
HOLE_SHARE = 0.3  # zones with one hole

# the image synthesizer's geotag lattice (lon, lat in [0, 100)); the
# pipeline's rect zones live there too
IMAGE_DOMAIN = (0.0, 0.0, 100.0, 100.0)
IMAGE_ID_STRIDE = 10_000_000  # image ids start at seed * IMAGE_ID_STRIDE


def _strata(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """``n`` values spread over [lo, hi) one per equal stratum, in random
    order: every seed draws the same distribution, not just on average."""
    return lo + (hi - lo) * rng.permutation((np.arange(n) + rng.random(n)) / max(n, 1))


def _exact(rng, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly round(share * n) true entries."""
    return rng.permutation(np.arange(n) < int(round(share * n)))


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so resizing one input does not
    reshuffle the others."""
    salt = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([int(seed), salt])


def _star_ring(rng, cx: float, cy: float, radius: float, nv: int) -> np.ndarray:
    """Simple star-shaped polygon around (cx, cy): one vertex per equal
    angular sector (so no gap reaches 4*pi/nv) at 0.65-1 x ``radius``.
    For nv >= 8 every edge stays farther than 0.65 * cos(pi/4) = 0.46 x
    ``radius`` from the centre, so a hole of radius <= 0.4 x ``radius``
    lies strictly inside. Packed open ring [x0, y0, x1, y1, ...]."""
    ang = 2.0 * np.pi * (np.arange(nv) + rng.random(nv)) / nv
    rr = radius * rng.uniform(0.65, 1.0, nv)
    return np.column_stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)]).ravel()


def make_zones(seed: int, n: int) -> dict:
    """``n`` polygons: shells, optional holes, and their envelopes."""
    rng = rng_for(seed, "zones")
    x0, y0, x1, y1 = DOMAIN
    # centres on a jittered grid (one per grid cell, cells in random order)
    # so overlap between zones varies little from seed to seed
    gx = int(np.ceil(np.sqrt(n * (x1 - x0) / (y1 - y0))))
    gy = int(np.ceil(n / gx))
    cell = rng.permutation(gx * gy)[:n]
    cx = x0 + 5.0 + (x1 - x0 - 10.0) * ((cell % gx) + rng.random(n)) / gx
    cy = y0 + 5.0 + (y1 - y0 - 10.0) * ((cell // gx) + rng.random(n)) / gy
    large = _exact(rng, n, LARGE_SHARE)
    radius = np.empty(n)
    radius[large] = _strata(rng, int(large.sum()), *LARGE_RADIUS)
    radius[~large] = _strata(rng, int((~large).sum()), *SMALL_RADIUS)
    radius *= CELL6_H
    nv = np.round(2.0 ** _strata(rng, n, *VERTEX_LOG2)).astype(np.int64)
    has_hole = _exact(rng, n, HOLE_SHARE)
    shells, geoms = [], []
    for i in range(n):
        shell = _star_ring(rng, cx[i], cy[i], radius[i], int(nv[i]))
        shells.append(shell)
        rings = [shell]
        if has_hole[i]:
            hole_r = radius[i] * rng.uniform(0.2, 0.4)
            rings.append(_star_ring(rng, cx[i], cy[i], hole_r, int(rng.integers(8, 33))))
        geoms.append(rings)
    env = np.array([(s[0::2].min(), s[1::2].min(), s[0::2].max(), s[1::2].max())
                    for s in shells])
    return {
        "zid": np.arange(n, dtype=np.int64),
        "cx": cx, "cy": cy,
        "shells": shells, "geoms": geoms,
        "xmin": env[:, 0], "ymin": env[:, 1], "xmax": env[:, 2], "ymax": env[:, 3],
    }


def make_points(seed: int, n: int, zones: dict) -> dict:
    """Uniform background plus ``N_HOT`` dense hot spots, each centred on
    one of the zones (so every seed puts its hot spots inside zones)."""
    rng = rng_for(seed, "points")
    x0, y0, x1, y1 = DOMAIN
    n_hot = int(round(n * HOT_SHARE))
    n_bg = n - n_hot
    hot = rng.choice(len(zones["zid"]), size=min(N_HOT, len(zones["zid"])), replace=False)
    which = np.arange(n_hot) % len(hot)  # equal share per hot spot
    x = np.concatenate([
        rng.uniform(x0, x1, n_bg),
        zones["cx"][hot][which] + rng.normal(0.0, HOT_SIGMA, n_hot),
    ])
    y = np.concatenate([
        rng.uniform(y0, y1, n_bg),
        zones["cy"][hot][which] + rng.normal(0.0, HOT_SIGMA, n_hot),
    ])
    order = rng.permutation(n)
    return {
        "pid": np.arange(n, dtype=np.int64),
        "x": np.clip(x[order], x0, x1),
        "y": np.clip(y[order], y0, y1),
        "hot_centres": np.column_stack([zones["cx"][hot], zones["cy"][hot]]),
    }


def make_sites(seed: int, n: int, hot_centres: np.ndarray, stream: str) -> dict:
    """Query points: three quarters uniform, one quarter near hot spots."""
    rng = rng_for(seed, stream)
    x0, y0, x1, y1 = DOMAIN
    n_near = n // 4
    pick = rng.integers(0, len(hot_centres), n_near)
    x = np.concatenate([rng.uniform(x0, x1, n - n_near),
                        hot_centres[pick, 0] + rng.normal(0.0, 1.0, n_near)])
    y = np.concatenate([rng.uniform(y0, y1, n - n_near),
                        hot_centres[pick, 1] + rng.normal(0.0, 1.0, n_near)])
    return {"id": np.arange(n, dtype=np.int64),
            "x": np.clip(x, x0, x1), "y": np.clip(y, y0, y1)}


def synth_images(seed: int, n: int) -> pa.Table:
    """The engine's image+caption table (the rows ``synthesize_images``
    maps over its ids) for ``n`` ids offset by the seed. The size/format
    mix and geotags follow from the ids: 32x32, 64x48 and 48x96 by
    id % 3, fjpg when id % 4 == 0 else fpng, geotags on a hashed lattice
    over [0, 100). Built in-process: a table of this size needs no Spark
    job, which would add a cold job to every set-up."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from sedona_spark.sources import images

    ids = int(seed) * IMAGE_ID_STRIDE + np.arange(n, dtype=np.int64)
    return pa.Table.from_pandas(images._rows_for_ids(ids),
                                schema=to_arrow_schema(images._IMG_SCHEMA),
                                preserve_index=False)


def image_meta(table: pa.Table) -> dict:
    """The metadata columns of an image table as numpy arrays."""
    return {"image_id": np.asarray(table.column("image_id").to_pylist(), dtype=object),
            **{c: table.column(c).to_numpy() for c in ("w", "h", "lon", "lat")}}


def make_rects(seed: int, n: int) -> dict:
    """Axis-aligned zones for the image pipeline, 2-10 degrees half-size,
    centred in the image geotag domain."""
    rng = rng_for(seed, "rects")
    x0, y0, x1, y1 = IMAGE_DOMAIN
    cx = rng.uniform(x0, x1, n)
    cy = rng.uniform(y0, y1, n)
    hw = _strata(rng, n, 2.0, 10.0)
    hh = _strata(rng, n, 2.0, 10.0)
    return {"zid": np.arange(n, dtype=np.int64),
            "xmin": cx - hw, "ymin": cy - hh, "xmax": cx + hw, "ymax": cy + hh}


def write_parquet(path: str, columns, files: int = 1) -> str:
    """Write ``columns`` (a dict of arrays, or a table) as ``files``
    parquet files under directory ``path`` (several files give Spark
    several input splits)."""
    os.makedirs(path, exist_ok=True)
    table = columns if isinstance(columns, pa.Table) else pa.table(columns)
    n = table.num_rows
    step = max(1, -(-n // max(1, files)))
    for k, start in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{k:03d}.parquet"))
    return path
