"""Nearest-neighbor join strategy planner.

The reference dispatches proximity between a bounded scan (chunk
padding = max_distance) and a single-chunk global scan, and its own
docs flag the global path as non-scaling (xrspatial/proximity.py:
603-627, 713-720).  The Spark analog is a three-way strategy choice,
made explicit here so every caller (proximity / allocation /
direction / kNN) routes through one place:

========== =========================== ===================================
strategy   when                        plan
========== =========================== ===================================
expr       k=1 and <= EXPR_CAP targets one LEAST over (key, payload, x,
                                       y) structs, keyed on a value
                                       monotone in the distance; one SQL
                                       string, whole-stage codegen, no
                                       Python, no shuffle, fuses with the
                                       surrounding stages
broadcast  <= BROADCAST_CAP targets    driver-collected targets + STR
                                       tree broadcast; one Arrow UDF over
                                       x/y returns a struct, zero
                                       shuffles; each point descends the
                                       tree by branch and bound
ring       anything bigger             knn_ring_join: bucket BOTH sides
                                       by grid cell at a zoom matched to
                                       the search radius, explode points
                                       to the neighbor ring, equi-join
                                       (AQE skew-join), windowed top-k
========== =========================== ===================================

``expr`` and ``broadcast`` append the same four columns:
``nearest_dist``, ``nearest_x``, ``nearest_y`` and ``nearest_payload``.

One job sizes the target side (``sized_targets``): the first
EXPR_CAP + 1 rows come back to the driver, and when that is the whole
set they are the rows ``expr`` inlines; ``count()`` runs only above
the cap.

``ring`` is the only strategy whose cost scales with target count on
the cluster rather than the driver, so it is the 100-TB default once
targets outgrow a broadcast.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXPR_CAP = 64
BROADCAST_CAP = 5_000_000


def nearest_plan(
    n_targets: int, k: int = 1, max_distance: float = math.inf
) -> str:
    """Pick the strategy.  ``max_distance`` does not change the tier
    (it prunes inside broadcast and sizes the ring zoom) but an
    unbounded ring join would be wrong, so unbounded + huge falls back
    to an error raised by ``nearest_join``."""
    if k == 1 and n_targets <= EXPR_CAP:
        return "expr"
    if n_targets <= BROADCAST_CAP:
        return "broadcast"
    return "ring"


def sized_targets(
    targets: DataFrame, cols: list[str]
) -> tuple[list[tuple] | None, int]:
    """Size the target side with one Spark job: collect the first
    ``EXPR_CAP + 1`` rows of ``cols``.  At most ``EXPR_CAP`` rows means
    that is the whole set, returned for the ``expr`` strategy to inline;
    above the cap a ``count()`` follows and no rows are returned.

    The head comes back through Arrow: a limit's ``collect()`` scans
    partitions incrementally (a job for the first, then more jobs for the
    rest), while the Arrow path runs the limit as one job."""
    head = targets.select(*cols).limit(EXPR_CAP + 1).toArrow()
    if head.num_rows > EXPR_CAP:
        return None, targets.count()
    rows = list(zip(*(c.to_pylist() for c in head.columns)))
    return rows, len(rows)


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
    n_targets: int | None = None,
    strategy: str | None = None,
    point_id: str = "doc_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Route a nearest-target join through the planned strategy.

    ``expr`` / ``broadcast`` (k=1 only) append ``nearest_dist``,
    ``nearest_x``, ``nearest_y`` and ``nearest_payload`` (NULL without
    ``target_payload``) to ``points``; ``ring`` returns (point_id,
    target_id, dist, knn_rank) rows.  ``n_targets`` skips the sizing
    job when the caller knows it."""
    from xarray_spatial_spark.operators.proximity import (
        _nearest_select, knn_ring_join, nearest_broadcast,
    )

    tcols = [x_col, y_col] + ([target_payload] if target_payload else [])
    rows = None
    if n_targets is None:
        rows, n_targets = sized_targets(targets, tcols)
    chosen = strategy or nearest_plan(n_targets, k=k, max_distance=max_distance)

    if chosen == "expr":
        if rows is None:
            rows = targets.select(*tcols).collect()
        if len(rows) > EXPR_CAP:
            raise ValueError(f"{len(rows)} targets: use nearest_broadcast")
        tlist = [
            (float(r[0]), float(r[1]), float(r[2]) if target_payload else 0.0)
            for r in rows
        ]
        out = _nearest_select(points, tlist, x_col, y_col, metric,
                              max_distance)
        if not target_payload:
            # the 0.0 payloads only ordered ties
            out = out.withColumn("nearest_payload", F.lit(None).cast("double"))
        return out

    if chosen == "broadcast":
        return nearest_broadcast(
            points, targets, x_col=x_col, y_col=y_col,
            target_payload=target_payload, metric=metric,
            max_distance=max_distance,
        )

    if chosen == "ring":
        if not math.isfinite(max_distance) or max_distance <= 0:
            raise ValueError(
                f"{n_targets} targets exceed the broadcast cap and "
                "max_distance is unbounded: an exact global NN join over "
                "an unbounded radius cannot be ring-pruned. Pass a finite "
                "max_distance (the reference's own global path has the "
                "same scaling caveat, xrspatial/proximity.py:713-720)."
            )
        if metric.upper() == "GREAT_CIRCLE":
            md_deg = max_distance / 111320.0
        else:
            md_deg = max_distance
        return knn_ring_join(
            points, targets, k=k, zoom=ring_zoom(md_deg), ring=1,
            x_col=x_col, y_col=y_col, point_id=point_id,
            target_id=target_id, metric=metric,
            target_payload=target_payload, include_xy=True,
            max_distance_deg=md_deg,
        )

    raise ValueError(f"unknown strategy {chosen!r}")
