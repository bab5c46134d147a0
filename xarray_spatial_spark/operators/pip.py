"""Point-in-polygon join — zone assignment for geocoded documents.

The reference's zones raster (zonal.py:451-456) generalizes here to a
polygon set; assignment is a **broadcast spatial join**:

1. Polygons (vertex arrays) are packed into numpy and broadcast
   together with a driver-built STR-style index: each polygon's bbox
   plus a coarse cell -> candidate-polygon map at ``index_zoom`` (the
   role an R-tree plays; grid-bucketed, built from scratch — no deps).
2. One ``mapInPandas`` pass: points look up their index cell,
   bbox-filter the candidates, then run a vectorized ray-casting test
   (even-odd rule) against only those polygons.  Zero shuffles.

Edge semantics: boundary points follow the standard ray-casting
half-open convention; first matching polygon in ascending zone order
wins on overlap (deterministic).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_spatial_spark import grid
from xarray_spatial_spark.functions.geo import sql_double, sql_ident


class PolygonSet:
    """Driver-side packed polygons + a candidate index: either the
    grid-bucketed cell map or an STR-packed R-tree (plans/rtree.py).

    ``index='auto'`` dispatches on the ARITHMETIC rasterization cost:
    the grid pays (bbox width x height in cells) per polygon — compact
    bboxes are cheap, a dateline-spanning or high-zoom set explodes —
    while the R-tree's build/query cost is geometry-independent.  When
    the average bbox would rasterize onto > 64 cells the set routes to
    the R-tree; both indexes return identical candidates (superset of
    containing polygons), so assignment is index-invariant."""

    def __init__(self, polygons: dict[int, np.ndarray], index_zoom: int = 6,
                 index: str = "auto"):
        self.zones = np.array(sorted(polygons), dtype=np.int64)
        self.verts = {int(z): np.asarray(polygons[z], dtype=np.float64) for z in self.zones}
        self.bbox = {
            int(z): (v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max())
            for z, v in self.verts.items()
        }
        self.index_zoom = index_zoom
        n = 1 << index_zoom
        bb = np.array([self.bbox[int(z)] for z in self.zones], np.float64)
        if index == "auto":
            x0, y1 = grid.lnglat_to_tile(bb[:, 0], bb[:, 1], index_zoom)
            x1, y0 = grid.lnglat_to_tile(bb[:, 2], bb[:, 3], index_zoom)
            cells = (x1 - x0 + 1) * (y1 - y0 + 1)
            index = "rtree" if cells.mean() > 64 else "grid"
        self.method = index
        self.index: dict[int, list[int]] = {}
        self.rtree = None
        if index == "rtree":
            from xarray_spatial_spark.plans.rtree import STRtree

            self.rtree = STRtree(bb)
            return
        # grid: rasterize bboxes onto coarse cells -> candidate lists
        for z in self.zones:
            lon0, lat0, lon1, lat1 = self.bbox[int(z)]
            x0, y1 = grid.lnglat_to_tile(np.array([lon0]), np.array([lat0]), index_zoom)
            x1, y0 = grid.lnglat_to_tile(np.array([lon1]), np.array([lat1]), index_zoom)
            for xt in range(int(x0[0]), int(x1[0]) + 1):
                for yt in range(int(y0[0]), int(y1[0]) + 1):
                    key = int(xt) * n + int(yt)
                    self.index.setdefault(key, []).append(int(z))


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
    max_polygons: int = 64,
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
    size."""
    if len(polygons) > max_polygons:
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
    index_zoom: int = 6,
    index: str = "auto",
) -> DataFrame:
    """Assign each point the id of the (first) polygon containing it;
    NULL when none does.  ``index`` picks the broadcast candidate
    structure ('grid' | 'rtree' | 'auto', see :class:`PolygonSet`)."""
    pset = PolygonSet(polygons, index_zoom, index=index)
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast(pset)

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in points.schema)
    schema += f", {zone_col} double"

    few_polygons = len(pset.zones) <= 64 and pset.method == "grid"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ps: PolygonSet = bc.value
        n = 1 << ps.index_zoom
        for pdf in batches:
            px = pdf[lon_col].to_numpy(np.float64)
            py = pdf[lat_col].to_numpy(np.float64)
            out = np.full(len(pdf), np.nan)
            if len(pdf) and few_polygons:
                # few polygons: one vectorized bbox+ray-cast pass per
                # polygon over the whole batch — O(P) numpy calls, no
                # per-cell-group Python loop
                unassigned = np.ones(len(pdf), dtype=bool)
                for z in ps.zones:
                    z = int(z)
                    lon0, lat0, lon1, lat1 = ps.bbox[z]
                    m = unassigned & (px >= lon0) & (px <= lon1) & (py >= lat0) & (py <= lat1)
                    if not m.any():
                        continue
                    hit = _ray_cast(px[m], py[m], ps.verts[z])
                    where = np.flatnonzero(m)[hit]
                    out[where] = float(z)
                    unassigned[where] = False
            elif len(pdf) and ps.method == "rtree":
                # many polygons, R-tree index: candidate (point, zone)
                # pairs from one vectorized descent, then ray-cast per
                # polygon in ASCENDING zone order so first-match
                # semantics survive (a point already assigned by a
                # lower zone masks out of later polygons)
                ppt, pent = ps.rtree.query_pairs(px, py)
                by_ent = np.argsort(pent, kind="stable")
                ppt, pent = ppt[by_ent], pent[by_ent]
                bounds = np.flatnonzero(np.r_[True, pent[1:] != pent[:-1]])
                unassigned = np.ones(len(pdf), dtype=bool)
                for s, e in zip(bounds, np.r_[bounds[1:], len(pent)]):
                    z = int(ps.zones[pent[s]])
                    idx = ppt[s:e]
                    idx = idx[unassigned[idx]]
                    if not len(idx):
                        continue
                    hit = _ray_cast(px[idx], py[idx], ps.verts[z])
                    where = idx[hit]
                    out[where] = float(z)
                    unassigned[where] = False
            elif len(pdf):
                # many polygons: grid-bucketed candidate lookup
                xt, yt = grid.lnglat_to_tile(px, py, ps.index_zoom)
                keys = xt * n + yt
                order = np.argsort(keys, kind="stable")
                sorted_keys = keys[order]
                bounds = np.flatnonzero(
                    np.r_[True, sorted_keys[1:] != sorted_keys[:-1]]
                )
                for s, e in zip(bounds, np.r_[bounds[1:], len(sorted_keys)]):
                    cands = ps.index.get(int(sorted_keys[s]), [])
                    if not cands:
                        continue
                    idx = order[s:e]
                    gx, gy = px[idx], py[idx]
                    unassigned = np.ones(len(idx), dtype=bool)
                    for z in cands:  # ascending zone id -> deterministic
                        if not unassigned.any():
                            break
                        lon0, lat0, lon1, lat1 = ps.bbox[z]
                        cand_mask = unassigned & (
                            (gx >= lon0) & (gx <= lon1) & (gy >= lat0) & (gy <= lat1)
                        )
                        if not cand_mask.any():
                            continue
                        hit = _ray_cast(gx[cand_mask], gy[cand_mask], ps.verts[z])
                        where = np.flatnonzero(cand_mask)[hit]
                        out[idx[where]] = float(z)
                        unassigned[np.flatnonzero(cand_mask)[hit]] = False
            yield pdf.assign(**{zone_col: out})

    return points.mapInPandas(_op, schema=schema)
