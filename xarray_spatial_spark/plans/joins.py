"""Nearest-neighbor join planner.

The reference dispatches proximity between a bounded scan (chunk
padding = max_distance) and a single-chunk global scan, and its own
docs flag the global path as non-scaling (xrspatial/proximity.py:
603-627, 713-720); the caller has no say.  Here ``nearest_join`` is
the one place that picks a tier, and every caller (proximity /
allocation / direction / kNN) routes through it:

========== =========================== ===================================
tier       when                        plan
========== =========================== ===================================
expr       k=1 and <= EXPR_CAP targets one LEAST over (key, payload, x,
                                       y) structs, keyed on a value
                                       monotone in the distance; one SQL
                                       string, whole-stage codegen, no
                                       Python, no shuffle, fuses with the
                                       surrounding stages
broadcast  k=1 and <= BROADCAST_CAP    driver-collected targets + STR
           targets                     tree broadcast; one Arrow UDF over
                                       x/y returns a struct, zero
                                       shuffles; each point descends the
                                       tree by branch and bound
ring       k > 1, or anything bigger   knn_ring_join: bucket BOTH sides
                                       by grid cell at a zoom matched to
                                       the search radius, explode points
                                       to the neighbor ring, equi-join
                                       (AQE skew-join), windowed top-k;
                                       needs a finite max_distance
========== =========================== ===================================

Each ``k`` has one output shape.  For k=1 every tier appends the same
four columns, ``nearest_dist``, ``nearest_x``, ``nearest_y`` and
``nearest_payload``, to the points; for k > 1 the result is the
ring's ranked rows.

One job sizes the target side: the first EXPR_CAP + 1 rows come back
to the driver, and when that is the whole set they are the rows
``expr`` inlines; ``count()`` runs only above the cap.

``ring`` is the only tier whose cost scales with target count on the
cluster rather than the driver, so it is the 100-TB default once
targets outgrow a broadcast.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXPR_CAP = 64
BROADCAST_CAP = 5_000_000


def nearest_plan(n_targets: int, k: int = 1) -> str:
    """Pick the tier: ``expr`` and ``broadcast`` serve k=1 up to their
    caps, ``ring`` everything else."""
    if k == 1 and n_targets <= EXPR_CAP:
        return "expr"
    if k == 1 and n_targets <= BROADCAST_CAP:
        return "broadcast"
    return "ring"


def ring_zoom(max_distance_deg: float) -> int:
    """Zoom whose grid-cell lon span >= the search radius (in degrees),
    so a 1-cell ring bounds the search exactly like the reference's
    dask chunk padding (proximity.py:614-618)."""
    if max_distance_deg <= 0 or not math.isfinite(max_distance_deg):
        return 0
    z = int(math.floor(math.log2(360.0 / max_distance_deg)))
    return max(0, min(24, z))


def nearest_join(
    points: DataFrame,
    targets: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    target_payload: str | None = None,
    metric: str = "EUCLIDEAN",
    max_distance: float = math.inf,
    k: int = 1,
    point_id: str = "doc_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Nearest targets of ``points`` through the planned tier.

    k=1: ``points`` with ``nearest_dist``, ``nearest_x``, ``nearest_y``
    and ``nearest_payload`` (NULL without ``target_payload``) appended,
    on every tier; NULLs beyond ``max_distance`` and for a point without
    finite coordinates.  Equal distances break toward the smaller
    payload, then x, then y.  k > 1: the ring's ranked rows
    (``nearest_ring``)."""
    from xarray_spatial_spark.operators.proximity import (
        _nearest_select, nearest_broadcast, nearest_ring,
    )

    # the head comes back through Arrow: a limit's collect() scans
    # partitions incrementally, a job each step; Arrow runs it as one job
    tcols = [x_col, y_col] + ([target_payload] if target_payload else [])
    head = targets.select(*tcols).limit(EXPR_CAP + 1).toArrow()
    n_targets = targets.count() if head.num_rows > EXPR_CAP else head.num_rows
    chosen = nearest_plan(n_targets, k=k)

    if chosen == "expr":
        tlist = [
            (float(x), float(y), float(p[0]) if p else 0.0)
            for x, y, *p in zip(*(c.to_pylist() for c in head.columns))
        ]
        out = _nearest_select(points, tlist, x_col, y_col, metric,
                              max_distance)
        if not target_payload:
            # the 0.0 payloads only ordered ties
            out = out.withColumn("nearest_payload", F.lit(None).cast("double"))
        return out

    kw = dict(x_col=x_col, y_col=y_col, target_payload=target_payload,
              metric=metric, max_distance=max_distance)
    if chosen == "broadcast":
        return nearest_broadcast(points, targets, **kw)
    return nearest_ring(points, targets, k=k, point_id=point_id,
                        target_id=target_id, **kw)
