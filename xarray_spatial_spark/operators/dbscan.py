"""Distributed exact DBSCAN over planar points (eps-grid + CCL).

The reference's proximity family (xrspatial/proximity.py) answers
"how far is every cell from a target"; DBSCAN answers the inverse
corpus question — "which geocoded pages form dense spatial clusters"
— and is the standard density-clustering primitive a web-scale
spatial table needs (city/POI discovery over page geotags, spam-farm
colocation, datacenter-IP clumps).

Exact semantics (Ester et al. 1996):

- core point:   |N_eps(p)| >= min_pts, the point itself included;
- cluster:      connected component of core points under the
                "within eps" relation;
- border point: non-core within eps of >= 1 core — assigned to the
                SMALLEST cluster label among its core neighbors
                (deterministic tie-break; plain DBSCAN is
                order-dependent here, which would break any oracle);
- noise:        everything else, cluster = NULL.

Distributed plan (eps-grid decomposition, MR-DBSCAN family, with the
pair work kept INSIDE per-cell numpy kernels instead of materialized
as an exchange):

1. bucket every point into an eps-sized grid cell and cogroup each
   cell with its 3x3 halo (operators/spatialstats._halo_blocks) —
   any pair within eps is at most one cell apart, so each cell's
   kernel sees the complete eps-neighborhood of its own points;
2. kernel pass 1: exact neighbor counts per point from chunked
   block-distance matrices -> core flags.  O(n * eps-density)
   distance evaluations run vectorized; only (id, degree) rows leave
   the kernel;
3. kernel pass 2 (core flags joined back on): per group, a local
   min-label fixpoint over the group's core-core eps-edges yields
   local components, and only SPANNING-STAR edges (member -> local
   root) are emitted.  Every true core-core eps-edge lies inside the
   group of its right endpoint's cell, so the union of the per-group
   stars preserves global connectivity exactly while shrinking the
   CCL input from O(pairs) to O(points x 9);
4. cluster labels = regions.connected_components over the star edges
   (min-label + pointer-jump, O(log diameter) rounds);
5. border assignment: pass 2 also emits, per non-core point and per
   adjacent local core component, ONE representative edge to the
   smallest adjacent core of that component — all members of a local
   component share the final global label, so min-over-representatives
   equals min-over-all-core-neighbors.

A pathologically dense single cell still pays its quadratic distance
count inside the kernel (that's inherent to EXACT DBSCAN), but as
chunked numpy flops, not exchanged rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_spatial_spark.operators.regions import connected_components


def neighbor_pairs(
    points: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    eps: float = 1.0,
) -> DataFrame:
    """Ordered pairs (id, nb_id) with 0 < dist <= eps, via the 3x3
    eps-grid equi-join.  Each ordered pair appears exactly once.
    (Kept as the explicit pair-table primitive; dbscan itself no
    longer materializes pairs.)"""
    if eps <= 0:
        raise ValueError("eps must be > 0")
    pts = points.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    keyed = pts.select(
        "_id", "_x", "_y",
        F.floor(F.col("_x") / F.lit(float(eps))).alias("_cx"),
        F.floor(F.col("_y") / F.lit(float(eps))).alias("_cy"),
    )
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    left = keyed.withColumn("_o", F.explode(offs)).select(
        F.col("_id").alias("_aid"),
        F.col("_x").alias("_ax"),
        F.col("_y").alias("_ay"),
        (F.col("_cx") + F.col("_o.dx")).alias("_cx"),
        (F.col("_cy") + F.col("_o.dy")).alias("_cy"),
    )
    right = keyed.select(
        F.col("_id").alias("_bid"),
        F.col("_x").alias("_bx"),
        F.col("_y").alias("_by"),
        "_cx", "_cy",
    )
    dx = F.col("_ax") - F.col("_bx")
    dy = F.col("_ay") - F.col("_by")
    return (
        left.join(right, ["_cx", "_cy"])
        .where((F.col("_aid") != F.col("_bid"))
               & (dx * dx + dy * dy <= F.lit(float(eps) * float(eps))))
        .select(F.col("_aid").alias("id"), F.col("_bid").alias("nb_id"))
    )


def _local_components(n: int, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    """Min-label fixpoint over edges (ia, ib) on nodes 0..n-1 whose
    index order is ascending-id order, so min index == min id.
    Returns the component root index per node."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        l2 = lab.copy()
        if len(ia):
            np.minimum.at(l2, ia, lab[ib])
            np.minimum.at(l2, ib, lab[ia])
        l2 = l2[l2]
        l2 = l2[l2]
        if np.array_equal(l2, lab):
            return lab
        lab = l2


def dbscan(
    points: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    eps: float = 1.0,
    min_pts: int = 5,
) -> DataFrame:
    """Exact DBSCAN.  Returns one row per input point:
    ``(id, is_core boolean, cluster long)`` — cluster is the smallest
    point id in the cluster's core component, NULL for noise.

    ``min_pts`` counts the point itself (the classical definition)."""
    from xarray_spatial_spark.operators.spatialstats import _halo_blocks

    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    if eps <= 0:
        raise ValueError("eps must be > 0")
    e2 = float(eps) * float(eps)
    cols = [
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ]
    left, right = _halo_blocks(points, float(eps), cols, mult=4)

    # ---- pass 1: exact degrees -> core flags ------------------------
    def _deg(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(rpdf):
            return pd.DataFrame({"id": np.array([], np.int64),
                                 "_deg": np.array([], np.int64)})
        rid = rpdf["_rid"].to_numpy()
        rx = rpdf["_rx"].to_numpy()
        ry = rpdf["_ry"].to_numpy()
        deg = np.zeros(len(rid), dtype=np.int64)
        for lo in range(0, len(lpdf), 4096):
            blk = lpdf.iloc[lo: lo + 4096]
            dx = blk["_x"].to_numpy()[:, None] - rx[None, :]
            dy = blk["_y"].to_numpy()[:, None] - ry[None, :]
            d2 = dx * dx + dy * dy
            m = (blk["_id"].to_numpy()[:, None] != rid[None, :]) & (d2 <= e2)
            deg += m.sum(axis=0)
        return pd.DataFrame({"id": rid, "_deg": deg})

    deg = (
        left.groupBy("_cx", "_cy")
        .cogroup(right.groupBy("_cx", "_cy"))
        .applyInPandas(_deg, schema="id long, _deg long")
    )
    core = deg.select(
        "id", ((F.col("_deg") + 1) >= min_pts).alias("is_core")
    ).localCheckpoint()

    # ---- pass 2: star edges + border representatives ----------------
    flags = core.select(F.col("id").alias("_id"),
                        F.col("is_core").alias("_core"))
    pts_flagged = points.select(*cols).join(flags, "_id")
    fcols = [F.col(c) for c in ("_id", "_x", "_y", "_core")]
    fleft, fright = _halo_blocks(pts_flagged, float(eps), fcols, mult=4)

    def _edges(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"kind": np.array([], np.int32),
                              "a": np.array([], np.int64),
                              "b": np.array([], np.int64)})
        if not len(lpdf) or not len(rpdf):
            return empty
        order = np.argsort(lpdf["_id"].to_numpy(), kind="stable")
        lid = lpdf["_id"].to_numpy()[order]
        lx = lpdf["_x"].to_numpy()[order]
        ly = lpdf["_y"].to_numpy()[order]
        lcore = lpdf["_core"].to_numpy()[order]
        rid = rpdf["_rid"].to_numpy()
        rx = rpdf["_rx"].to_numpy()
        ry = rpdf["_ry"].to_numpy()
        rcore = rpdf["_rcore"].to_numpy()
        # right rows as indices into the sorted left arrays (the cell's
        # own points always appear in left via the (0,0) offset)
        rpos = np.searchsorted(lid, rid)
        ia_cc, ib_cc = [], []          # core-core edge indices (left idx)
        bor_b, bor_a = [], []          # noncore right id, core left idx
        for lo in range(0, len(lid), 4096):
            hi = min(lo + 4096, len(lid))
            dx = lx[lo:hi, None] - rx[None, :]
            dy = ly[lo:hi, None] - ry[None, :]
            d2 = dx * dx + dy * dy
            m = (lid[lo:hi, None] != rid[None, :]) & (d2 <= e2)
            if not m.any():
                continue
            ii, jj = np.nonzero(m)
            ii = ii + lo
            both_core = lcore[ii] & rcore[jj]
            ia_cc.append(ii[both_core])
            ib_cc.append(rpos[jj[both_core]])
            bmask = lcore[ii] & ~rcore[jj]
            bor_a.append(ii[bmask])
            bor_b.append(rid[jj[bmask]])
        ia = np.concatenate(ia_cc) if ia_cc else np.array([], np.int64)
        ib = np.concatenate(ib_cc) if ib_cc else np.array([], np.int64)
        lab = _local_components(len(lid), ia.astype(np.int64),
                                ib.astype(np.int64))
        out_k, out_a, out_b = [], [], []
        # star edges over core nodes that took part in an edge
        touched = np.unique(np.concatenate([ia, ib])) if len(ia) else \
            np.array([], np.int64)
        if len(touched):
            roots = lab[touched]
            nz = touched != roots
            out_k.append(np.zeros(int(nz.sum()), np.int32))
            out_a.append(lid[touched[nz]])
            out_b.append(lid[roots[nz]])
        # border reps: per (noncore right id, local comp) the smallest
        # adjacent core id
        if bor_a:
            ba = np.concatenate(bor_a)
            bb = np.concatenate(bor_b)
            comp = lab[ba]
            keys = np.stack([bb, comp, lid[ba]], axis=1)
            k_ord = np.lexsort((keys[:, 2], keys[:, 1], keys[:, 0]))
            keys = keys[k_ord]
            first = np.ones(len(keys), dtype=bool)
            first[1:] = (keys[1:, 0] != keys[:-1, 0]) | \
                (keys[1:, 1] != keys[:-1, 1])
            out_k.append(np.ones(int(first.sum()), np.int32))
            out_a.append(keys[first, 0])
            out_b.append(keys[first, 2])
        if not out_k:
            return empty
        return pd.DataFrame({"kind": np.concatenate(out_k),
                             "a": np.concatenate(out_a),
                             "b": np.concatenate(out_b)})

    edges = (
        fleft.groupBy("_cx", "_cy")
        .cogroup(fright.groupBy("_cx", "_cy"))
        .applyInPandas(_edges, schema="kind int, a long, b long")
        .localCheckpoint()
    )
    star = edges.where("kind = 0").select("a", "b").distinct()
    labels = connected_components(star, src="a", dst="b").select(
        F.col("node").alias("id"), F.col("label").alias("cluster")
    )
    core_ids = core.where("is_core").select("id")
    core_labeled = (
        core_ids.join(labels, "id", "left")
        .select("id", F.coalesce(F.col("cluster"), F.col("id")).alias("cluster"))
    )
    border = (
        edges.where("kind = 1")
        .select(F.col("a").alias("id"), F.col("b").alias("_rep"))
        .distinct()
        .join(core_labeled.select(F.col("id").alias("_rep"), "cluster"),
              "_rep")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    assigned = core_labeled.unionByName(border)
    return (
        core.join(assigned, "id", "left")
        .select("id", "is_core", F.col("cluster").cast("long").alias("cluster"))
    )
