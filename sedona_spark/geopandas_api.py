"""GeoPandas-style API over the columnar geometry model.

The reference ships a pandas-flavored layer (``python/sedona/spark/
geopandas/geoseries.py`` — ~8k lines over pyspark-pandas) so notebook
users keep writing ``gdf.geometry.area`` / ``gdf.sjoin(...)``. This is
the Spark-first analog: a :class:`GeoSeries` is an (index, packed-ring)
DataFrame view, every property/method is pure Column composition over
the existing ``functions/st*`` tier — nothing here adds computation,
only the familiar spelling.

Design deltas vs the reference layer (deliberate):

* geometry cells are the engine's native packed ring ``array<double>``
  ([x0, y0, x1, y1, …]; a point is the 2-element ring) — no UDT, no
  shapely round trip, so every derived property stays whole-stage
  codegen;
* binary ops align on the INDEX COLUMN by an equi-join (the reference
  aligns on pandas index semantics) — explicit, shuffle-transparent,
  and exactly what a distributed align must do anyway;
* ``sjoin`` delegates to the cell-grid ``pip_join`` operator rather
  than reimplementing a range join here.

Everything returns plain DataFrames, so users can drop back to raw
Spark at any step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sedona_spark.functions import st as _st
from sedona_spark.functions import st_measures as _m


class GeoSeries:
    """An (index, geometry) view: ``df[[index, geom]]`` with geometry as
    a packed ring. Scalar properties return ``(index, value)``
    DataFrames; geometry-valued methods return new :class:`GeoSeries`."""

    def __init__(self, df: DataFrame, geom: str = "geom",
                 index: str = "id"):
        self.df = df
        self.geom = geom
        self.index = index

    # --- constructors -----------------------------------------------------

    @classmethod
    def from_wkt(cls, df: DataFrame, wkt: str, index: str = "id",
                 geom: str = "geom") -> "GeoSeries":
        """Parse a WKT column (outer ring / linestring / point) into the
        packed-ring model (Arrow-batched parser, one pass)."""
        rings = _st.st_geom_rings_from_wkt(F.col(wkt))
        # F.get (0-based, null-safe), not element_at: EMPTY geometries
        # parse to an empty ring list and ANSI element_at would throw
        return cls(
            df.select(index, F.get(rings, 0).alias(geom)),
            geom, index)

    @classmethod
    def from_points(cls, df: DataFrame, x: str, y: str,
                    index: str = "id", geom: str = "geom") -> "GeoSeries":
        return cls(
            df.select(index, F.array(F.col(x), F.col(y)).alias(geom)),
            geom, index)

    # --- internals ----------------------------------------------------------

    def _g(self) -> Column:
        return F.col(self.geom)

    def _scalar(self, col: Column, name: str) -> DataFrame:
        return self.df.select(self.index, col.alias(name))

    def _mapped(self, col: Column) -> "GeoSeries":
        return GeoSeries(
            self.df.select(self.index, col.alias(self.geom)),
            self.geom, self.index)

    def _aligned(self, other: "GeoSeries") -> DataFrame:
        """Index-equijoin align (the distributed analog of pandas index
        alignment). Other's geometry arrives as ``_geom_r``."""
        right = other.df.select(
            F.col(other.index).alias(self.index),
            F.col(other.geom).alias("_geom_r"))
        return self.df.join(right, self.index)

    # --- scalar properties (geopandas spellings) ---------------------------

    @property
    def area(self) -> DataFrame:
        return self._scalar(_m.st_area(self._g()), "area")

    @property
    def length(self) -> DataFrame:
        return self._scalar(_m.st_perimeter(self._g()), "length")

    @property
    def is_valid(self) -> DataFrame:
        return self._scalar(_st.st_is_valid(self._g()), "is_valid")

    @property
    def bounds(self) -> DataFrame:
        minx, miny, maxx, maxy = _st.st_envelope_cols(self._g())
        return self.df.select(
            self.index, minx.alias("minx"), miny.alias("miny"),
            maxx.alias("maxx"), maxy.alias("maxy"))

    @property
    def centroid(self) -> "GeoSeries":
        cx, cy = _m.st_centroid(self._g())
        return self._mapped(F.array(cx, cy))

    # --- geometry-valued methods -------------------------------------------

    def buffer(self, distance: float, quad_segs: int = 8) -> "GeoSeries":
        return self._mapped(
            _st.st_buffer(self._g(), F.lit(float(distance)), quad_segs))

    def simplify(self, tolerance: float) -> "GeoSeries":
        return self._mapped(_st.st_simplify(self._g(), float(tolerance)))

    # --- aligned binary ops --------------------------------------------------

    def distance(self, other: "GeoSeries") -> DataFrame:
        """Point-to-point euclidean distance for point series (the
        geopandas fast path); ring args want the kernel-backed
        ``shortest_line`` operator instead."""
        j = self._aligned(other)
        dx = F.element_at(self._g(), 1) - F.element_at("_geom_r", 1)
        dy = F.element_at(self._g(), 2) - F.element_at("_geom_r", 2)
        return j.select(self.index,
                        F.sqrt(dx * dx + dy * dy).alias("distance"))

    def contains(self, other: "GeoSeries") -> DataFrame:
        """self (rings) contains other (points), aligned by index."""
        j = self._aligned(other)
        return j.select(
            self.index,
            _st.st_contains_point(
                self._g(),
                F.element_at("_geom_r", 1),
                F.element_at("_geom_r", 2)).alias("contains"))

    def within(self, other: "GeoSeries") -> DataFrame:
        """self (points) within other (rings) — contains flipped."""
        j = self._aligned(other)
        return j.select(
            self.index,
            _st.st_contains_point(
                F.col("_geom_r"),
                F.element_at(self._g(), 1),
                F.element_at(self._g(), 2)).alias("within"))

    def intersects(self, other: "GeoSeries") -> DataFrame:
        """Convex-pair polygon intersects, aligned by index."""
        j = self._aligned(other)
        return j.select(
            self.index,
            _st.st_intersects_polygons(self._g(), F.col("_geom_r"))
            .alias("intersects"))


class GeoDataFrame:
    """Thin frame wrapper: a DataFrame plus the active geometry column.
    ``sjoin`` is the geopandas entry point to the engine's cell-grid
    spatial join (scales exactly like ``pip_join`` because it IS
    ``pip_join``)."""

    def __init__(self, df: DataFrame, geom: str = "geom",
                 index: str = "id"):
        self.df = df
        self.geom = geom
        self.index = index

    @property
    def geometry(self) -> GeoSeries:
        return GeoSeries(self.df.select(self.index, self.geom),
                         self.geom, self.index)

    def sjoin(self, polys: DataFrame, predicate: str = "within",
              point_x: str = "x", point_y: str = "y",
              ring: str = "ring", **kw) -> DataFrame:
        """Point-in-polygon spatial join (geopandas ``sjoin`` spelling
        over the engine's ``pip_join``): self is the point side
        (``point_x``/``point_y`` columns), ``polys`` carries the packed
        ``ring`` column. ``within`` is the polygon interior
        (``pip_join`` 'contains'), ``intersects`` counts the boundary
        ('intersects'), and ``contains`` — a point containing a polygon
        with area — matches nothing: the same columns, no rows."""
        if predicate not in ("within", "intersects", "contains"):
            raise ValueError(f"unsupported predicate {predicate!r}")
        from sedona_spark.operators.spatial_join import pip_join

        points = self.df
        if predicate == "contains":
            points, polys = points.limit(0), polys.limit(0)
        how = "contains" if predicate == "within" else "intersects"
        return pip_join(
            points, polys, how, x=point_x, y=point_y, ring=ring, **kw)
