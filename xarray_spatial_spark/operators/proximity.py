"""Proximity / allocation / direction + kNN — the distance-join family.

Reference semantics: xrspatial/proximity.py (proximity :652-790,
allocation :793-928, direction :931-1071; target rule :318-327 —
explicit ``target_values``, else any non-zero finite cell; metrics
:38-235; ``max_distance`` -> NaN beyond :386-397).

The reference runs a GDAL-style two-pass dynamic-programming scan per
raster (sequential in y), and under dask pads every chunk by
``max_distance/cellsize`` cells (proximity.py:603-627), falling back
to a SINGLE chunk when the distance is unbounded (:605-612) — its own
docs call out that this does not scale (:713-720).

Spark re-plan: targets are sparse, so this is a **broadcast
nearest-neighbor join**, not a scan:

- job 1: extract target cells (a filter; predicate pushed to the scan)
  and broadcast them with an STR tree over their points
  (:class:`TargetSet`, the "broadcast R-tree" role).
- job 2: one Arrow UDF over the x/y columns: each batch of points
  descends the tree by vectorized branch and bound
  (``plans/rtree.STRtree.nearest``; box lower bounds from
  ``_lower_bound`` over node terms computed once per tree level, exact
  distances from ``_distance``) — zero shuffles, embarrassingly
  parallel, identical results at any parallelism.  At most 64 targets
  skip Python altogether: they inline into codegen (``nearest_expr``).

When the target side is too big to broadcast, or k > 1,
``knn_ring_join`` is the shuffle path: bucket both sides by grid cell
at a zoom matched to the search radius, explode query cells to their
neighbor ring, equi-join on cell (AQE skew-join handles hot cells),
exact distance + windowed top-k; ``nearest_ring`` joins its rank-1
rows back as the same four columns the other tiers append.  The tier
choice mirrors Spark's own broadcast-vs-shuffle decision and is made
in one place, ``plans/joins.nearest_join``; no caller picks a tier.

Ties in allocation break toward the smallest target value (the
deterministic analog of the reference's scan-order tie; documented
deviation — scan order is not defined for a distributed scan).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xarray_spatial_spark import grid
from xarray_spatial_spark.functions.geo import (
    EARTH_RADIUS, distance_col, sql_double, sql_ident,
)
from xarray_spatial_spark.plans.joins import BROADCAST_CAP, EXPR_CAP, ring_zoom
from xarray_spatial_spark.plans.rtree import STRtree


NEAREST_COLS = ("nearest_dist", "nearest_x", "nearest_y", "nearest_payload")


def _free_name(columns: list[str], name: str) -> str:
    """``name``, prefixed with underscores until no column has it."""
    while name in columns:
        name = "_" + name
    return name


def _distance(
    px: np.ndarray, py: np.ndarray, tx: np.ndarray, ty: np.ndarray, metric: str
) -> np.ndarray:
    """Elementwise (broadcasting) point-to-target distances. Formulas
    mirror reference proximity.py:39-221."""
    m = metric.upper()
    if m == "EUCLIDEAN":
        dx = px - tx
        dy = py - ty
        return np.sqrt(dx * dx + dy * dy)
    if m == "MANHATTAN":
        return np.abs(px - tx) + np.abs(py - ty)
    if m == "GREAT_CIRCLE":
        lat1 = np.radians(py)
        lat2 = np.radians(ty)
        dlat = lat2 - lat1
        dlon = np.radians(tx) - np.radians(px)
        a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
        return EARTH_RADIUS * 2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
    raise ValueError(f"unknown metric {metric!r}")


def _point_terms(px: np.ndarray, py: np.ndarray, metric: str) -> tuple[np.ndarray, ...]:
    """Per-point columns of ``_lower_bound``, computed once per batch:
    (x, y) for the planar metrics; for great-circle (x, lat in radians,
    cos(lat), whether |lat| <= 90 deg)."""
    if metric.upper() != "GREAT_CIRCLE":
        return px, py
    lat = np.radians(py)
    return px, lat, np.cos(lat), np.abs(py) <= 90.0


def _node_terms(box: np.ndarray, metric: str) -> tuple[np.ndarray, ...]:
    """Per-node columns of ``_lower_bound``, computed once per tree
    level from its (x0, y0, x1, y1) rows: the boxes themselves for the
    planar metrics; for great-circle (x0, x1, the band's latitudes in
    radians, its smallest cos(lat), whether it lies within +-90 deg)."""
    x0, y0, x1, y1 = (np.ascontiguousarray(c) for c in box.T)
    if metric.upper() != "GREAT_CIRCLE":
        return x0, y0, x1, y1
    lat0, lat1 = np.radians(y0), np.radians(y1)
    return (x0, x1, lat0, lat1, np.minimum(np.cos(lat0), np.cos(lat1)),
            (y0 >= -90.0) & (y1 <= 90.0))


def _lower_bound(pt: tuple[np.ndarray, ...], node: tuple[np.ndarray, ...],
                 metric: str) -> np.ndarray:
    """Lower bound of ``_distance`` from each point to every target in
    its node's box, given the ``_point_terms`` and ``_node_terms``
    columns gathered per pair: the point's clamped offsets to the box."""
    m = metric.upper()
    if m != "GREAT_CIRCLE":
        px, py = pt
        x0, y0, x1, y1 = node
        dx = np.maximum(np.maximum(x0 - px, px - x1), 0.0)
        dy = np.maximum(np.maximum(y0 - py, py - y1), 0.0)
        return np.sqrt(dx * dx + dy * dy) if m == "EUCLIDEAN" else dx + dy
    # haversine of the smallest latitude gap, the smallest longitude gap
    # wrapped at +-180 deg, and cos(lat) of the point times the smallest
    # cos(lat) of the band: each term is at most its value for any
    # target in the box.  1e-9 deg off the longitude gap and 1e-12 of
    # ``a`` cover the rounding of the exact formula near +-pi and a = 1
    px, lat, cos_lat, point_ok = pt
    x0, x1, lat0, lat1, cos_band, band_ok = node
    dlat = np.maximum(np.maximum(lat0 - lat, lat - lat1), 0.0)
    inside = np.mod(px - x0, 360.0) <= x1 - x0
    gap = np.minimum(np.mod(x0 - px, 360.0), np.mod(px - x1, 360.0))
    dlon = np.radians(np.where(inside, 0.0, np.maximum(gap - 1e-9, 0.0)))
    a = np.sin(dlat / 2.0) ** 2 + cos_lat * cos_band * np.sin(dlon / 2.0) ** 2
    # the terms are monotone only on latitudes within +-90 deg
    a = np.where(point_ok & band_ok, a * (1.0 - 1e-12), 0.0)
    return EARTH_RADIUS * 2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


class TargetSet:
    """Driver-side nearest targets, packed for broadcast: the targets
    with finite coordinates, sorted by (payload, x, y) so that a
    target's index is its tie rank, and an STR tree over their point
    boxes (None for no target)."""

    def __init__(self, x: np.ndarray, y: np.ndarray, payload: np.ndarray):
        order = np.lexsort((y, x, payload))
        keep = order[np.isfinite(x[order]) & np.isfinite(y[order])]
        self.x, self.y, self.payload = x[keep], y[keep], payload[keep]
        boxes = np.stack([self.x, self.y, self.x, self.y], axis=1)
        self.tree = STRtree(boxes) if len(boxes) else None

    def nearest(
        self, px: np.ndarray, py: np.ndarray, metric: str, max_distance: float
    ) -> tuple[np.ndarray, np.ndarray]:
        """(distance, target index) of each point's nearest target: the
        smallest distance, then the smallest index.  (nan, -1) where the
        distance is not finite (a point with a NaN or infinite
        coordinate) or exceeds ``max_distance`` (NaN: unbounded)."""
        dist = np.full(len(px), np.nan)
        idx = np.full(len(px), -1, dtype=np.int64)
        ok = np.flatnonzero(np.isfinite(px) & np.isfinite(py))
        if self.tree is None or not len(ok):
            return dist, idx
        qx, qy = px[ok], py[ok]
        # the bound's terms, once per point and once per node of each level
        pt = _point_terms(qx, qy, metric)
        nodes = [_node_terms(bb, metric) for bb, _, _ in self.tree.levels]
        dist[ok], idx[ok] = self.tree.nearest(
            len(ok),
            lambda p, j: _distance(qx[p], qy[p], self.x[j], self.y[j], metric),
            lambda p, li, n: _lower_bound([c[p] for c in pt],
                                          [c[n] for c in nodes[li]], metric),
            math.inf if math.isnan(max_distance) else max_distance,
        )
        bad = ~np.isfinite(dist)
        dist[bad], idx[bad] = np.nan, -1
        return dist, idx


def nearest_broadcast(
    points: DataFrame,
    targets: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    target_payload: str | None = None,
    metric: str = "EUCLIDEAN",
    max_distance: float = math.inf,
) -> DataFrame:
    """Append ``nearest_dist``, ``nearest_x``, ``nearest_y`` and
    ``nearest_payload`` (NULL without ``target_payload``, as on the
    ``expr`` tier) to ``points``.  No target within ``max_distance``, or
    a point whose distance is not finite (NULL, NaN or infinite
    coordinates) -> NULLs.  Zero-shuffle broadcast NN join.

    The targets are broadcast once as a :class:`TargetSet`, and one
    Arrow UDF over the x/y columns alone runs its branch-and-bound STR
    tree search (``STRtree.nearest``), returning the four columns as
    one struct; the rest of the row never leaves the JVM.  Equal
    distances break toward the smaller payload, then x, then y; a
    target with a NaN or infinite coordinate is never nearest, as on
    ``expr``."""
    tcols = [x_col, y_col] + ([target_payload] if target_payload else [])
    tpdf = targets.select(*tcols).toPandas()
    if len(tpdf) > BROADCAST_CAP:
        raise ValueError(
            f"{len(tpdf)} targets exceed broadcast cap; use nearest_ring"
        )
    tx, ty = tpdf[x_col].to_numpy(np.float64), tpdf[y_col].to_numpy(np.float64)
    # no payload column: all-NaN payloads tie in the sort, as a constant
    # would, and come back as NULL
    pay = (tpdf[target_payload].to_numpy(np.float64) if target_payload
           else np.full(len(tpdf), np.nan))
    bc = points.sparkSession.sparkContext.broadcast(TargetSet(tx, ty, pay))

    @F.pandas_udf(", ".join(f"{c} double" for c in NEAREST_COLS))
    def _near(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        t = bc.value
        d, i = t.nearest(x.to_numpy(np.float64), y.to_numpy(np.float64),
                         metric, max_distance)
        # index -1 reads the appended NaN, which Arrow sends as NULL
        found = [np.append(a, np.nan)[i] for a in (t.x, t.y, t.payload)]
        return pd.DataFrame(dict(zip(NEAREST_COLS, [d, *found])))

    tmp = _free_name(points.columns, "_nearest")
    return (
        points.withColumn(tmp, _near(F.col(x_col), F.col(y_col)))
        .withColumns({c: F.col(tmp).getField(c) for c in NEAREST_COLS})
        .drop(tmp)
    )


def nearest_ring(
    points: DataFrame,
    targets: DataFrame,
    max_distance: float,
    x_col: str = "lon",
    y_col: str = "lat",
    target_payload: str | None = None,
    metric: str = "EUCLIDEAN",
    k: int = 1,
    point_id: str = "doc_id",
    target_id: str = "target_id",
) -> DataFrame:
    """The ``ring`` tier: ``knn_ring_join`` at the zoom whose cells span
    ``max_distance`` (meters for great-circle, 111,320 to the degree),
    which must be finite and positive.  k > 1: its (point_id, target_id, dist,
    knn_rank, _tx, _ty[, _tpay]) rows within ``max_distance``.

    k=1: ``points`` with the same four columns as ``nearest_broadcast``
    appended.  Points and targets are then keyed by the struct (x, y):
    equal distances break toward the smaller payload, then x, then y,
    as on the other tiers, and points with the same coordinates share a
    key, so the ring keeps one rank-1 row per key.  Those within
    ``max_distance`` join back on it: every input row keeps its columns
    and its one row, with NULLs where no target is in range or the point
    has no finite coordinates."""
    if not math.isfinite(max_distance) or max_distance <= 0:
        raise ValueError(
            f"the ring tier (k={k}) needs a finite, positive max_distance, "
            f"got {max_distance}: the planner takes it for k > 1 and above "
            f"{BROADCAST_CAP} targets, and an exact NN join over an unbounded "
            "radius cannot be ring-pruned (the reference's own global path "
            "has the same scaling caveat, xrspatial/proximity.py:713-720)."
        )
    md_deg = max_distance / (111320.0 if metric.upper() == "GREAT_CIRCLE" else 1.0)
    key = F.struct(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    pts, tgt, pid, tid = points, targets, point_id, target_id
    if k == 1:
        pts, tgt, pid, tid = (points.select(x_col, y_col, key.alias("_pid")),
                              targets.withColumn("_tid", key), "_pid", "_tid")
    ranked = knn_ring_join(
        pts, tgt, k=k, zoom=ring_zoom(md_deg), x_col=x_col, y_col=y_col,
        point_id=pid, target_id=tid, metric=metric,
        target_payload=target_payload, max_distance_deg=md_deg,
    ).filter(F.col("dist") <= max_distance)
    if k > 1:
        return ranked
    pay = F.col("_tpay") if target_payload else F.lit(None)
    found = F.struct(*(c.cast("double").alias(n) for c, n in zip(
        (F.col("dist"), F.col("_tx"), F.col("_ty"), pay), NEAREST_COLS)))
    kid = _free_name(points.columns, "_nearest_key")
    tmp = _free_name(points.columns, "_nearest")
    near = ranked.select(F.col("_pid").alias(kid), found.alias(tmp))
    return (
        points.withColumn(kid, key).join(near, kid, "left").drop(kid)
        .withColumns({c: F.col(tmp).getField(c) for c in NEAREST_COLS})
        .drop(tmp)
    )


def _targets(
    raster: DataFrame, value_col: str, target_values: Iterable[float] | None
) -> DataFrame:
    """Target rule, reference proximity.py:318-327: explicit values, else
    any non-zero finite (NULL = NaN/inf already excluded on ingest)."""
    tv = list(target_values or [])
    if tv:
        return raster.filter(F.col(value_col).isin(tv))
    return raster.filter(F.col(value_col).isNotNull() & (F.col(value_col) != 0))


def _proximity_family(
    raster: DataFrame,
    mode: str,
    x_col: str,
    y_col: str,
    value_col: str,
    target_values: Iterable[float] | None,
    max_distance: float,
    distance_metric: str,
) -> DataFrame:
    """Shared proximity/allocation/direction plan: one k=1
    ``nearest_join`` from every cell to the target cells, whose tier
    the planner picks (the Spark analog of the reference's
    bounded-vs-global dispatch, xrspatial/proximity.py:605-627), then
    the mode's column from the four it appends."""
    from xarray_spatial_spark.plans.joins import nearest_join

    near = nearest_join(
        raster, _targets(raster, value_col, target_values), x_col=x_col,
        y_col=y_col, target_payload=value_col, metric=distance_metric,
        max_distance=max_distance,
    )
    if mode == "proximity":
        out = F.col("nearest_dist")
    elif mode == "allocation":
        out = F.col("nearest_payload")
    else:  # direction: bearing to the nearest target, 0 at the target itself
        rad = math.pi / 180.0
        px, py = F.col(x_col), F.col(y_col)
        tx, ty = F.col("nearest_x"), F.col("nearest_y")
        d = F.atan2(-(ty - py), tx - px) * F.lit(57.29578)
        folded = (
            F.when(d < 0, F.lit(90.0) - d)
            .when(d > 90.0, F.lit(360.0) - d + F.lit(90.0))
            .otherwise(F.lit(90.0) - d)
        )
        out = F.when(F.col("nearest_dist").isNull(), F.lit(None)).otherwise(
            F.when((tx == px) & (ty == py), F.lit(0.0)).otherwise(folded)
        )
    keep = [c for c in raster.columns if c != value_col]
    return near.select(*keep, out.alias(value_col))


def proximity(
    raster: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    value_col: str = "value",
    target_values: Iterable[float] | None = None,
    max_distance: float = math.inf,
    distance_metric: str = "EUCLIDEAN",
) -> DataFrame:
    """Distance from every cell to its nearest target (proximity.py:652-790)."""
    return _proximity_family(
        raster, "proximity", x_col, y_col, value_col, target_values,
        max_distance, distance_metric,
    )


def allocation(
    raster: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    value_col: str = "value",
    target_values: Iterable[float] | None = None,
    max_distance: float = math.inf,
    distance_metric: str = "EUCLIDEAN",
) -> DataFrame:
    """Value of the nearest target — Voronoi assignment (proximity.py:793-928)."""
    return _proximity_family(
        raster, "allocation", x_col, y_col, value_col, target_values,
        max_distance, distance_metric,
    )


def direction(
    raster: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    value_col: str = "value",
    target_values: Iterable[float] | None = None,
    max_distance: float = math.inf,
    distance_metric: str = "EUCLIDEAN",
) -> DataFrame:
    """Compass bearing to the nearest target (proximity.py:931-1071)."""
    return _proximity_family(
        raster, "direction", x_col, y_col, value_col, target_values,
        max_distance, distance_metric,
    )


def _key_sql(px: str, py: str, tx: float, ty: float, metric: str) -> str:
    """SQL ranking key from point (px, py) to one target: haversine
    ``a`` (GREAT_CIRCLE), squared distance (EUCLIDEAN) or the distance
    itself (MANHATTAN) -- each monotone in the distance, and built in
    ``functions/geo.distance_col``'s arithmetic order so the winner's
    distance comes out bit-identical."""
    x, y = sql_double(tx), sql_double(ty)
    m = metric.upper()
    if m == "EUCLIDEAN":
        return f"({px} - {x}) * ({px} - {x}) + ({py} - {y}) * ({py} - {y})"
    if m == "MANHATTAN":
        return f"abs({px} - {x}) + abs({py} - {y})"
    if m == "GREAT_CIRCLE":
        return (
            f"pow(sin((radians({y}) - radians({py})) / 2), 2)"
            f" + cos(radians({py})) * cos(radians({y}))"
            f" * pow(sin((radians({x}) - radians({px})) / 2), 2)"
        )
    raise ValueError(f"unknown distance metric {metric!r}")


def _dist_sql(key: str, metric: str) -> str:
    """Distance from a ranking key of ``_key_sql`` (geo.distance_col's
    last step)."""
    m = metric.upper()
    if m == "EUCLIDEAN":
        return f"sqrt({key})"
    if m == "GREAT_CIRCLE":
        return f"{sql_double(2.0 * EARTH_RADIUS)} * asin(sqrt({key}))"
    return key


def _nearest_select(
    points: DataFrame,
    targets: list[tuple[float, float, float]],
    x_col: str,
    y_col: str,
    metric: str,
    max_distance: float,
) -> DataFrame:
    """``nearest_expr`` with ``nearest_join``'s ``max_distance`` rule:
    beyond it all four columns are NULL, and so they are for a point
    whose winning key is not finite (NULL, NaN or infinite
    coordinates).  Two projections: the first
    adds ONE ``least`` over (key, payload, x, y) structs, the second
    reads its fields, so the optimizer keeps a single LEAST chain however
    many of the columns a query reads."""
    px, py = sql_ident(x_col), sql_ident(y_col)
    structs = [
        f"named_struct('k', {_key_sql(px, py, tx, ty, metric)}, "
        f"'p', {sql_double(pl)}, 'x', {sql_double(tx)}, 'y', {sql_double(ty)})"
        for tx, ty, pl in targets
    ]
    if len(structs) > 1:
        best = f"least({', '.join(structs)})"
    elif structs:
        best = structs[0]
    else:
        best = "CAST(NULL AS STRUCT<k: DOUBLE, p: DOUBLE, x: DOUBLE, y: DOUBLE>)"
    tmp = _free_name(points.columns, "_nearest")
    b = sql_ident(tmp)
    dist = _dist_sql(f"{b}.k", metric)
    new = dict(zip(NEAREST_COLS, (dist, f"{b}.x", f"{b}.y", f"{b}.p")))
    # NULL k: NULL coordinates; NaN sorts above +inf in Spark
    beyond = f"NOT coalesce({b}.k < double('Infinity'), false)"
    if math.isfinite(max_distance):
        beyond += f" OR {dist} > {sql_double(max_distance)}"
    new = {c: f"CASE WHEN {beyond} THEN NULL ELSE {e} END"
           for c, e in new.items()}
    # replace same-named input columns in place, as withColumn does
    exprs = [
        f"{new[c]} AS {sql_ident(c)}" if c in new else sql_ident(c)
        for c in points.columns
    ]
    exprs += [f"{e} AS {sql_ident(c)}" for c, e in new.items()
              if c not in points.columns]
    return points.select("*", F.expr(best).alias(tmp)).selectExpr(*exprs)


def nearest_expr(
    points: DataFrame,
    targets: list[tuple[float, float, float]],
    x_col: str = "lon",
    y_col: str = "lat",
    metric: str = "EUCLIDEAN",
) -> DataFrame:
    """Compiled nearest-target (kNN-1 / allocation fast path): a SMALL
    broadcast target set inlines into whole-stage codegen as one LEAST
    over (key, payload, x, y) structs -- no Python, no shuffle, fuses
    with the surrounding stages.  ``targets`` = [(x, y, payload)].
    Adds ``nearest_dist``, ``nearest_x``, ``nearest_y`` and
    ``nearest_payload``; no targets, or a point whose distance is not finite
    -> NULLs.

    Targets rank on a key monotone in the distance (haversine ``a``,
    squared distance, or the Manhattan distance itself) and only the
    winner's key becomes ``nearest_dist`` (one ``asin``/``sqrt`` per
    row), bit-identical to ``functions/geo.distance_col`` on that
    target.  Equal keys break toward the smaller payload (struct
    ordering), matching ``nearest_broadcast``.  The one case where this
    differs from ranking on the distance itself: two keys that differ
    but round to the same distance -- the truly nearer target wins, not
    the smaller payload.  The predicate is one SQL string, one
    ``F.expr`` call, with exact double literals."""
    if len(targets) > EXPR_CAP:
        raise ValueError(f"{len(targets)} targets: use nearest_broadcast")
    return _nearest_select(points, targets, x_col, y_col, metric, math.inf)


# ---------------------------------------------------------------------------
# Distributed kNN via cell-ring expansion (the shuffle path)
# ---------------------------------------------------------------------------


def knn_ring_join(
    points: DataFrame,
    targets: DataFrame,
    k: int = 1,
    zoom: int = 8,
    ring: int = 1,
    x_col: str = "lon",
    y_col: str = "lat",
    point_id: str = "doc_id",
    target_id: str = "target_id",
    metric: str = "EUCLIDEAN",
    target_payload: str | None = None,
    max_distance_deg: float | None = None,
) -> DataFrame:
    """Approximate-exact kNN: bucket targets by grid cell at ``zoom``;
    explode each query point to its neighbor-ring cells; equi-join on
    cell; exact distance; top-k per point, as (point_id, target_id,
    dist, knn_rank, _tx, _ty[, _tpay]) rows.

    Exact whenever the true k-th neighbor lies within the ring —
    pick ``zoom`` so one cell spans the expected search radius (the same
    bound as the reference's chunk padding, proximity.py:614-618).
    With ``max_distance_deg`` the ring is EXACT at every latitude: the
    vertical span is read off the mercator tile rows of
    ``lat ± max_distance_deg`` (tile_y is monotone in lat, so those
    two rows bound every target within the radius — no cos()
    approximation, no |lat| restriction), widened per point via
    ``grid.neighbors_span``.  A per-point candidate-cell budget of
    4096 guards the polar blow-up (thin cells): beyond it the call
    raises with the zoom to use instead.  Points whose ring holds no
    targets are left out (caller widens the ring or falls back to
    ``nearest_broadcast``), and so are points and targets without
    finite coordinates: they have no grid cell."""
    r = ring
    finite = (F.abs(F.col(x_col)) < math.inf) & (F.abs(F.col(y_col)) < math.inf)
    points, targets = points.filter(finite), targets.filter(finite)

    @F.pandas_udf("array<long>")
    def _disk(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(np.float64)
        la = lat.to_numpy(np.float64)
        cells = grid.cell_of(lo, la, zoom)
        if max_distance_deg is None:
            return pd.Series(list(grid.neighbors_disk(cells, r)))
        span = 360.0 / (1 << zoom)  # cell lon-span in degrees
        rx = max(r, int(np.ceil(max_distance_deg / span)))
        _, yt = grid.lnglat_to_tile(lo, la, zoom)
        _, ty_top = grid.lnglat_to_tile(lo, la + max_distance_deg, zoom)
        _, ty_bot = grid.lnglat_to_tile(lo, la - max_distance_deg, zoom)
        up = np.maximum(yt - ty_top, r)
        dn = np.maximum(ty_bot - yt, r)
        ncells = (2 * rx + 1) * (up + dn + 1)
        if ncells.max() > 4096:
            raise ValueError(
                f"knn_ring_join: a point near lat {la[int(np.argmax(ncells))]:.2f} "
                f"needs {int(ncells.max())} candidate cells at zoom {zoom} for "
                f"max_distance_deg={max_distance_deg}; lower the zoom by "
                # cells shrink ~4x per level (rx and up/dn each halve)
                f"~{int(np.ceil(np.log2(ncells.max() / 4096) / 2))} levels"
            )
        out = np.empty(len(cells), dtype=object)
        key = up * (int(dn.max()) + 1) + dn
        for kv in np.unique(key):
            idx = np.flatnonzero(key == kv)
            rect = grid.neighbors_span(
                cells[idx], rx, int(up[idx[0]]), int(dn[idx[0]])
            )
            for j, i in enumerate(idx):
                out[i] = rect[j]
        return pd.Series(list(out))

    @F.pandas_udf("long")
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(grid.cell_of(lon.to_numpy(np.float64), lat.to_numpy(np.float64), zoom))

    extra = [F.col(target_payload).alias("_tpay")] if target_payload else []
    t = targets.select(
        F.col(target_id),
        F.col(x_col).alias("_tx"),
        F.col(y_col).alias("_ty"),
        _cell(F.col(x_col), F.col(y_col)).alias("_tcell"),
        *extra,
    )
    p = points.select(
        F.col(point_id),
        F.col(x_col).alias("_px"),
        F.col(y_col).alias("_py"),
        F.explode(_disk(F.col(x_col), F.col(y_col))).alias("_tcell"),
    )
    joined = p.join(t, "_tcell").withColumn(
        "dist",
        distance_col(F.col("_px"), F.col("_tx"), F.col("_py"), F.col("_ty"), metric),
    )
    # equidistant ties break toward the smallest payload (then id),
    # matching nearest_broadcast's payload-sorted argmin
    tie = ([F.col("_tpay").asc()] if target_payload else [])
    w = Window.partitionBy(point_id).orderBy(
        F.col("dist").asc(), *tie, F.col(target_id).asc()
    )
    keep = [point_id, target_id, "dist", "knn_rank", "_tx", "_ty"]
    if target_payload:
        keep += ["_tpay"]
    return (
        joined.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(*keep)
    )
