"""Point-in-polygon join — zone assignment for geocoded documents.

The reference's zones raster (zonal.py:451-456) generalizes here to a
polygon set; assignment is a **broadcast spatial join**:

1. :class:`PolygonSet` packs every polygon's edges into flat numpy
   arrays and bulk-loads an STR R-tree (plans/rtree.py) over the
   polygons' bounding boxes; the set is broadcast once.
2. One Arrow UDF reads only the lon/lat columns: the points descend the
   R-tree to candidate (point, polygon) pairs, and one vectorized
   ray-cast (even-odd rule) tests every pair at once.  Zero shuffles.

Edge semantics: boundary points follow the standard ray-casting
half-open convention; first matching polygon in ascending zone order
wins on overlap (deterministic).  Points with a NULL or NaN coordinate
match no polygon.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_spatial_spark.functions.geo import sql_double, sql_ident
from xarray_spatial_spark.plans.rtree import STRtree

# largest polygon set pip_join_expr inlines into codegen
EXPR_POLYGONS = 64


class PolygonSet:
    """Driver-side polygons, packed for broadcast: zones ascending,
    polygon ``k``'s edges at ``off[k] : off[k] + cnt[k]`` of the flat
    edge arrays (``x1, y1`` -> ``x2, y2``, each ring closed back to its
    first vertex), and an STR R-tree over the polygons' bounding boxes
    (None for an empty set).  ``index`` admits only ``"rtree"``."""

    def __init__(self, polygons: dict[int, np.ndarray], index: str = "rtree"):
        if index != "rtree":
            raise ValueError(f"index={index!r}: the grid index was removed; "
                             "PolygonSet always builds the STR R-tree")
        self.zones = np.array(sorted(polygons), dtype=np.int64)
        self.verts = {int(z): np.asarray(polygons[z], dtype=np.float64)
                      for z in self.zones}
        rings = list(self.verts.values())
        self.cnt = np.array([len(v) for v in rings], dtype=np.int64)
        self.off = np.cumsum(self.cnt) - self.cnt
        xy = np.concatenate(rings) if rings else np.empty((0, 2))
        nxt = np.arange(1, len(xy) + 1)
        nxt[self.off + self.cnt - 1] = self.off
        self.x1, self.y1 = xy[:, 0], xy[:, 1]
        self.x2, self.y2 = self.x1[nxt], self.y1[nxt]
        bb = np.array([(v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max())
                       for v in rings], dtype=np.float64)
        self.rtree = STRtree(bb) if len(bb) else None

    def assign(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Zone of the first (lowest-id) polygon containing each point,
        NaN where none does.  Every candidate pair from the R-tree is
        ray-cast at once: with the pairs sorted by edge count,
        descending, the pairs that still have an edge ``k`` are a
        prefix, so each edge index costs one numpy step over that
        prefix — O(max vertices) calls, O(pairs) memory.  Same
        arithmetic as :func:`_ray_cast`, so results are bit-identical."""
        out = np.full(len(px), np.nan)
        if self.rtree is None:
            return out
        pt, ent = self.rtree.query_pairs(px, py)  # sorted by (point, zone)
        by_len = np.argsort(-self.cnt[ent])
        n_edges, edge0 = self.cnt[ent[by_len]], self.off[ent[by_len]]
        qx, qy = px[pt[by_len]], py[pt[by_len]]
        # active[k] = number of pairs whose polygon has more than k edges
        kmax = int(n_edges.max(initial=0))
        active = len(n_edges) - np.searchsorted(n_edges[::-1], np.arange(kmax), side="right")
        inside = np.zeros(len(n_edges), dtype=bool)
        for k, m in enumerate(active):
            e = edge0[:m] + k
            xi, yi, xj, yj = self.x1[e], self.y1[e], self.x2[e], self.y2[e]
            y = qy[:m]
            cond = (yi > y) != (yj > y)
            with np.errstate(invalid="ignore", divide="ignore"):
                xints = (xj - xi) * (y - yi) / (yj - yi) + xi
            inside[:m] ^= cond & (qx[:m] < xints)
        hit = np.empty_like(inside)
        hit[by_len] = inside
        pt, ent = pt[hit], ent[hit]
        first = np.ones(len(pt), dtype=bool)
        first[1:] = pt[1:] != pt[:-1]
        out[pt[first]] = self.zones[ent[first]]
        return out


def _ray_cast(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Vectorized even-odd point-in-polygon for a batch of points
    against ONE polygon (verts: (V, 2) lon/lat, closed or open)."""
    x1 = verts[:, 0]
    y1 = verts[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(verts)):
        xi, yi, xj, yj = x1[i], y1[i], x2[i], y2[i]
        cond = (yi > py) != (yj > py)
        with np.errstate(invalid="ignore", divide="ignore"):
            xints = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= cond & (px < xints)
    return inside


def _pip_sql(lon: str, lat: str, verts: np.ndarray) -> str | None:
    """ONE polygon's even-odd ray-cast as a SQL predicate: crossing
    parity over the edges.  Same geometry, half-open conventions and
    arithmetic order as ``_ray_cast``, but fully JVM/codegen.  None when
    every edge is horizontal: no ray crosses such a (zero-area) polygon,
    so it contains no point."""
    x1 = verts[:, 0]
    y1 = verts[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    terms = []
    for i in range(len(verts)):
        xi, yi, xj, yj = float(x1[i]), float(y1[i]), float(x2[i]), float(y2[i])
        if yj == yi:
            continue  # horizontal edge never satisfies (yi>lat) != (yj>lat)
        terms.append(
            f"CAST((({sql_double(yi)} > {lat}) != ({sql_double(yj)} > {lat}))"
            f" AND ({lon} < {sql_double(xj - xi)} * ({lat} - {sql_double(yi)})"
            f" / {sql_double(yj - yi)} + {sql_double(xi)}) AS INT)"
        )
    if not terms:
        return None
    return f"({' + '.join(terms)}) % 2 = 1"


def pip_join_expr(
    points: DataFrame,
    polygons: dict[int, np.ndarray],
    lon_col: str = "lon",
    lat_col: str = "lat",
    zone_col: str = "zone",
) -> DataFrame:
    """Point-in-polygon as a compiled Column expression — the planner's
    fast path when the polygon set is small enough to inline into
    whole-stage codegen (continents/countries-scale sets).

    The broadcast set becomes literals in generated Java: no Python
    workers, no Arrow transfer, no per-batch allocation — the stage
    fuses with the scan and the downstream aggregate.  The whole
    predicate is one SQL ``CASE`` built with one ``F.expr`` call, with
    exact double literals.  Same first-match (ascending zone id)
    semantics as ``pip_join``; falls back to the Arrow path above this
    size (``EXPR_POLYGONS``)."""
    if len(polygons) > EXPR_POLYGONS:
        return pip_join(points, polygons, lon_col, lat_col, zone_col)
    lon, lat = sql_ident(lon_col), sql_ident(lat_col)
    branches = []
    for z in sorted(polygons):
        v = np.asarray(polygons[z], dtype=np.float64)
        ray = _pip_sql(lon, lat, v)
        if ray is None:
            continue
        bbox = (
            f"{lon} >= {sql_double(v[:, 0].min())} AND {lon} <= {sql_double(v[:, 0].max())}"
            f" AND {lat} >= {sql_double(v[:, 1].min())} AND {lat} <= {sql_double(v[:, 1].max())}"
        )
        branches.append(f"WHEN {bbox} AND ({ray}) THEN {sql_double(z)}")
    zone = f"CASE {' '.join(branches)} END" if branches else "CAST(NULL AS DOUBLE)"
    return points.withColumn(zone_col, F.expr(zone))


def pip_join(
    points: DataFrame,
    polygons: dict[int, np.ndarray],
    lon_col: str = "lon",
    lat_col: str = "lat",
    zone_col: str = "zone",
) -> DataFrame:
    """Assign each point the id of the (first) polygon containing it;
    NULL when none does.  The polygon set is broadcast once and an
    Arrow UDF over the lon/lat columns alone runs
    :meth:`PolygonSet.assign`; the rest of the row never leaves the
    JVM."""
    bc = points.sparkSession.sparkContext.broadcast(PolygonSet(polygons))

    @F.pandas_udf("double")
    def _zone(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(bc.value.assign(lon.to_numpy(np.float64), lat.to_numpy(np.float64)))

    return points.withColumn(zone_col, _zone(F.col(lon_col), F.col(lat_col)))
