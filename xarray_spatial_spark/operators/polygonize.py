"""Raster -> vector polygonize (reference
xrspatial/experimental/polygonize.py:1-27 algorithm, :524-613 public).

Distributed plan (SURVEY §7 deferred tier):

1. ONE haloed cell-scale pass (_fused_label_geometry): per-tile CCL
   plus cross-tile HALF-edges (label, neighbor cell key), directed
   perimeter segments in corner coordinates (interior-on-the-left),
   per-label metadata and the tile-border roster together — cell rows
   are shuffled exactly once,
2. perimeter-scale finish: driver union-find over the equivalences,
   scan-order region ids ranked from the metadata, segments
   relabelled via broadcast, then partition-level ring assembly: walk
   the directed edges corner-to-corner until closed; the ring with
   the largest |area| is the exterior, the rest are holes (grouped
   with their exterior, like the reference).

Edge counts are O(region perimeter), so the per-region group is tiny
relative to region area; ring walking is dict-chasing in Python but
only over perimeter points.

Output: one row per region —
  (region, value, n_rings, exterior: array<array<double>> [x, y
  corner pairs], area: double)   with grid corner coordinates
  (cell (y, x) spans corners (x, y)..(x+1, y+1)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_halo(df: DataFrame, th: int, tw: int) -> DataFrame:
    """Add (_ty, _tx, _halo) and replicate each tile-border cell to the
    neighbour tiles whose 1-cell halo holds it (at most 4 copies, pure
    Column expressions); ``_halo`` = 0 on the owning tile's copy."""
    ty = F.floor(F.col("y") / th).cast("long")
    tx = F.floor(F.col("x") / tw).cast("long")
    iy = F.col("y") - ty * th
    ix = F.col("x") - tx * tw

    def _offsets(i, size):
        return F.filter(
            F.array(F.lit(-1), F.lit(0), F.lit(1)),
            lambda d: (d == 0) | ((d == -1) & (i < 1)) | ((d == 1) & (i >= size - 1)),
        )

    return (
        df.withColumn("_ty0", ty)
        .withColumn("_tx0", tx)
        .withColumn("_dy", F.explode(_offsets(iy, F.lit(th))))
        .withColumn("_dx", F.explode(_offsets(ix, F.lit(tw))))
        .withColumn("_ty", F.col("_ty0") + F.col("_dy"))
        .withColumn("_tx", F.col("_tx0") + F.col("_dx"))
        .withColumn(
            "_halo", ((F.col("_dy") != 0) | (F.col("_dx") != 0)).cast("int")
        )
        .drop("_ty0", "_tx0", "_dy", "_dx")
    )


def _fused_label_geometry(
    raster: DataFrame, conn: int, value_col: str, th: int, tw: int
) -> DataFrame:
    """ONE haloed cell-scale pass: per-tile CCL + cross-tile
    HALF-edges + boundary segments + per-label metadata + border
    roster, together.

    The round-4 rework: the previous shape ran TWO cell-scale
    shuffles (tile grouping for CCL, then a halo exchange of the
    LABELS for the boundary pass).  Labels of neighbor tiles cannot
    exist inside a single pass, so cross-tile equivalences are
    emitted as half-edges ``(my label, neighbor CELL key)`` and the
    per-tile BORDER roster ``(cell key, label)`` rides along — both
    perimeter-scale — letting the driver resolve cell keys to labels
    with a dict.  Cell rows are shuffled exactly once.

    Output kinds (schema shared with the old geometry pass):
      0 — half-edge: la = own label, lb = neighbor cell key;
      1 — directed boundary segment (la = own label, corners x1..y2);
      2 — per-label metadata (la, v);
      3 — border roster: la = own cell key, lb = own label."""
    from xarray_spatial_spark.operators.regions import _KEY, _tile_ccl

    src = raster.select("y", "x", value_col)
    haloed = _with_halo(src, th, tw)

    def _one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        H, W = th + 2, tw + 2
        vals = np.full((H, W), np.nan)
        own = np.zeros((H, W), dtype=bool)
        present = np.zeros((H, W), dtype=bool)
        py = pdf["y"].to_numpy(np.int64) - (ty * th - 1)
        px = pdf["x"].to_numpy(np.int64) - (tx * tw - 1)
        vals[py, px] = pdf[value_col].to_numpy(np.float64)
        present[py, px] = True
        own[py, px] = pdf["_halo"].to_numpy() == 0

        # --- per-tile CCL over OWN cells (core window) ---------------
        core_vals = vals[1:-1, 1:-1]
        core_own = own[1:-1, 1:-1]
        keys = np.full((th, tw), np.nan)
        oy, ox = np.nonzero(core_own)
        keys[oy, ox] = ((oy + ty * th).astype(np.float64) * float(_KEY)
                        + (ox + tx * tw))
        lab_core = _tile_ccl(core_vals, keys, conn)
        labs = np.full((H, W), np.nan)
        labs[1:-1, 1:-1] = np.where(core_own, lab_core, np.nan)

        def eq(a, b):
            return (a == b) | (np.isnan(a) & np.isnan(b))

        # --- half-edges: own cell vs HALO neighbor of equal value ----
        shifts = [(0, 1), (0, -1), (1, 0), (-1, 0)]
        if conn == 8:
            shifts += [(1, 1), (1, -1), (-1, 1), (-1, -1)]
        he_lab, he_key = [], []
        halo_cell = present & ~own
        for dy, dx in shifts:
            nb = np.roll(np.roll(halo_cell, -dy, axis=0), -dx, axis=1)
            nv = np.roll(np.roll(vals, -dy, axis=0), -dx, axis=1)
            # roll wraps; own cells never sit on the padded frame, so
            # wrapped entries are halo/absent frame cells — excluded
            # by nb unless genuinely present halo, and a frame cell
            # can only be reached from a core cell by |dy|,|dx| <= 1
            m = own & nb & eq(vals, nv)
            if m.any():
                my, mx = np.nonzero(m)
                he_lab.append(labs[my, mx].astype(np.int64))
                ny = (my - 1) + ty * th + dy
                nx = (mx - 1) + tx * tw + dx
                he_key.append(ny * _KEY + nx)
        he_lab = (np.concatenate(he_lab) if he_lab
                  else np.array([], np.int64))
        he_key = (np.concatenate(he_key) if he_key
                  else np.array([], np.int64))

        # --- border roster: own cells on the tile rim ----------------
        rim = core_own.copy()
        rim[1:-1, 1:-1] = False
        ry, rx = np.nonzero(rim)
        r_key = ((ry + ty * th) * _KEY + (rx + tx * tw)).astype(np.int64)
        r_lab = lab_core[ry, rx].astype(np.int64)

        # --- segments + metadata over own cells ----------------------
        cy, cx = np.nonzero(core_own)
        pyy, pxx = cy + 1, cx + 1           # padded coords
        ys = cy + ty * th
        xs = cx + tx * tw
        lc_lab = labs[pyy, pxx]
        lc_val = vals[pyy, pxx]

        def boundary(ny, nx):
            return ~present[ny, nx] | ~eq(vals[ny, nx], lc_val)

        segs = []
        m = boundary(pyy - 1, pxx)    # N
        segs.append((lc_lab[m], xs[m] + 1, ys[m], xs[m], ys[m]))
        m = boundary(pyy + 1, pxx)    # S
        segs.append((lc_lab[m], xs[m], ys[m] + 1, xs[m] + 1, ys[m] + 1))
        m = boundary(pyy, pxx - 1)    # W
        segs.append((lc_lab[m], xs[m], ys[m], xs[m], ys[m] + 1))
        m = boundary(pyy, pxx + 1)    # E
        segs.append((lc_lab[m], xs[m] + 1, ys[m] + 1, xs[m] + 1, ys[m]))
        g_lab = np.concatenate([a[0] for a in segs]).astype(np.int64)
        gx1 = np.concatenate([a[1] for a in segs]).astype(np.int32)
        gy1 = np.concatenate([a[2] for a in segs]).astype(np.int32)
        gx2 = np.concatenate([a[3] for a in segs]).astype(np.int32)
        gy2 = np.concatenate([a[4] for a in segs]).astype(np.int32)

        u_lab, u_first = np.unique(lc_lab.astype(np.int64),
                                   return_index=True)
        z32 = lambda n: np.zeros(n, dtype=np.int32)  # noqa: E731
        parts = [
            pd.DataFrame({
                "kind": np.zeros(len(he_lab), dtype=np.int32),
                "la": he_lab, "lb": he_key,
                "x1": z32(len(he_lab)), "y1": z32(len(he_lab)),
                "x2": z32(len(he_lab)), "y2": z32(len(he_lab)),
                "v": np.full(len(he_lab), np.nan),
            }),
            pd.DataFrame({
                "kind": np.ones(len(g_lab), dtype=np.int32), "la": g_lab,
                "lb": np.zeros(len(g_lab), dtype=np.int64),
                "x1": gx1, "y1": gy1, "x2": gx2, "y2": gy2,
                "v": np.full(len(g_lab), np.nan),
            }),
            pd.DataFrame({
                "kind": np.full(len(u_lab), 2, dtype=np.int32),
                "la": u_lab, "lb": np.zeros(len(u_lab), dtype=np.int64),
                "x1": z32(len(u_lab)), "y1": z32(len(u_lab)),
                "x2": z32(len(u_lab)), "y2": z32(len(u_lab)),
                "v": lc_val[u_first],
            }),
            pd.DataFrame({
                "kind": np.full(len(r_key), 3, dtype=np.int32),
                "la": r_key, "lb": r_lab,
                "x1": z32(len(r_key)), "y1": z32(len(r_key)),
                "x2": z32(len(r_key)), "y2": z32(len(r_key)),
                "v": np.full(len(r_key), np.nan),
            }),
        ]
        return pd.concat(parts, ignore_index=True)

    schema = ("kind int, la long, lb long, "
              "x1 int, y1 int, x2 int, y2 int, v double")
    return haloed.groupBy("_ty", "_tx").applyInPandas(_one, schema=schema)



def _assemble_one(region: int, pdf: pd.DataFrame) -> dict:
    """Walk directed segments corner-to-corner into closed rings."""
    # successor map: corner -> list of outgoing segments
    succ: dict = {}
    for x1, y1, x2, y2 in zip(pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]):
        succ.setdefault((int(x1), int(y1)), []).append((int(x2), int(y2)))
    rings = []
    while succ:
        start = next(iter(succ))
        ring = [start]
        cur = start
        while True:
            outs = succ.get(cur)
            if not outs:
                break
            nxt = outs.pop()
            if not outs:
                del succ[cur]
            ring.append(nxt)
            cur = nxt
            if cur == start:
                break
        rings.append(ring)
    # signed shoelace area per ring; exterior = max |area|
    def area(r):
        a = 0.0
        for (x1, y1), (x2, y2) in zip(r, r[1:]):
            a += x1 * y2 - x2 * y1
        return a / 2.0

    areas = [area(r) for r in rings]
    if rings:
        ext = int(np.argmax(np.abs(areas)))
        exterior = rings[ext]
        total_area = float(sum(areas))
    else:
        exterior = []
        total_area = 0.0
    return {
        "region": region,
        "n_rings": len(rings),
        "exterior": [[float(x), float(y)] for x, y in exterior],
        "area": abs(total_area),
    }


def _assemble_partition(batches):
    """Partition-level assembly — one Python pass over the whole
    partition instead of per-group applyInPandas (regions are numerous
    and tiny; groups-per-task overhead dominated the runtime).

    The partition's Arrow batches are concatenated BEFORE grouping: a
    region's edges may straddle a 64k-row batch boundary, and a split
    region would otherwise be assembled twice.  Edge rows are
    perimeter-scale, so a whole partition fits comfortably."""
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    out = []
    for region, grp in pdf.groupby("region", sort=False):
        out.append(_assemble_one(int(region), grp))
    yield pd.DataFrame(out)


def polygonize(
    raster: DataFrame,
    neighborhood: int = 4,
    value_col: str = "value",
    tile_h: int = 256,
    tile_w: int = 256,
) -> DataFrame:
    """Vectorize connected equal-valued regions.  Returns one row per
    region: (region, value, n_rings, exterior ring corners, area).

    Fused plan: the cell-scale data is shuffled exactly ONCE —
    :func:`_fused_label_geometry` computes per-tile CCL, cross-tile
    half-edges, boundary segments and label metadata in a single
    haloed pass (the round-2 shape paid two halo passes; round 3 got
    it to two cell-scale shuffles; round 4 to one).  Everything after
    is perimeter-scale: the driver resolves half-edge cell keys
    through the border roster, union-finds, ranks scan-order region
    ids from the metadata, and the segments relabel through a
    broadcast map."""
    if neighborhood not in (4, 8):
        raise ValueError("neighborhood must be 4 or 8")
    from xarray_spatial_spark.operators.regions import _union_find

    spark = raster.sparkSession
    fused = _fused_label_geometry(
        raster, neighborhood, value_col, tile_h, tile_w
    ).persist()

    # ONE collect for half-edges, metadata AND the border roster
    # (kinds 0/2/3 — all perimeter-scale); segments (kind 1) stay
    # distributed.  Half-edges carry (label, neighbor CELL key); the
    # roster maps border cell keys to labels, so edge resolution is a
    # driver dict lookup.  Duplicate edges (each side emits its half)
    # are harmless to the union-find.
    # roster-size guard (same pattern as regions.regions): collect at
    # most cap+1 rows; a salt-and-pepper raster overflows and takes
    # the fully distributed finish instead of O(regions) driver dicts
    from xarray_spatial_spark.operators.regions import MAX_DRIVER_ROSTER

    cap = MAX_DRIVER_ROSTER
    rows = fused.filter(F.col("kind") != 1).select(
        "kind", "la", "lb", "v").limit(cap + 1).collect()
    if len(rows) > cap:
        map_rel, vals_rel = _region_map_distributed(fused, value_col)
        geom = (
            fused.filter(F.col("kind") == 1)
            .select("la", "x1", "y1", "x2", "y2")
            .join(map_rel, "la")  # label-scale: shuffle join
            .select("region", "x1", "y1", "x2", "y2")
        )
        polys = geom.repartition("region").mapInPandas(
            _assemble_partition,
            schema="region long, n_rings int, "
                   "exterior array<array<double>>, area double",
        )
        return polys.join(vals_rel, "region")
    roster = {r["la"]: r["lb"] for r in rows if r["kind"] == 3}
    equiv = [
        {"la": r["la"], "lb": roster[r["lb"]]}
        for r in rows
        if r["kind"] == 0
    ]
    meta_rows = [r for r in rows if r["kind"] == 2]
    root_of = dict(_union_find(equiv))
    root_val: dict = {}
    for r in meta_rows:
        root_val.setdefault(root_of.get(r["la"], r["la"]), r["v"])
    region_of = {root: i for i, root in enumerate(sorted(root_val))}
    lab_region = [
        (int(r["la"]), region_of[root_of.get(r["la"], r["la"])])
        for r in meta_rows
    ]
    map_df = spark.createDataFrame(lab_region, schema="la long, region long")
    vals = spark.createDataFrame(
        [(region_of[rt], float('nan') if v is None else float(v))
         for rt, v in root_val.items()],
        schema=f"region long, {value_col} double",
    )

    geom = (
        fused.filter(F.col("kind") == 1)
        .select("la", "x1", "y1", "x2", "y2")
        .join(F.broadcast(map_df), "la")
        .select("region", "x1", "y1", "x2", "y2")
    )
    polys = geom.repartition("region").mapInPandas(
        _assemble_partition,
        schema="region long, n_rings int, exterior array<array<double>>, area double",
    )
    return polys.join(F.broadcast(vals), "region")


def _region_map_distributed(fused, value_col):
    """Distributed twin of polygonize's driver finish, used above the
    roster cap: half-edge cell keys resolve through the border roster
    with an equi-join instead of a driver dict, components + dense
    rank come from :func:`regions._distributed_region_map` (min-label
    roots, roots sorted ascending — identical numbering to the driver
    union-find), and per-region values aggregate distributed.

    Returns ``(map_rel, vals_rel)``: (la, region) and
    (region, value_col) relations, both label/region-scale — joined
    by shuffle, not broadcast, which is the price of the degenerate
    ~1-region-per-cell input."""
    from xarray_spatial_spark.operators.regions import (
        _distributed_region_map,
    )

    roster = fused.filter(F.col("kind") == 3).select(
        F.col("la").alias("_cell"), F.col("lb").alias("_rlab"))
    equiv = (
        fused.filter(F.col("kind") == 0)
        .select("la", F.col("lb").alias("_cell"))
        .join(roster, "_cell")
        .select("la", F.col("_rlab").alias("lb"))
    )
    meta = fused.filter(F.col("kind") == 2).select(
        F.col("la").alias("_lab"), "v")
    mapping = _distributed_region_map(
        equiv, meta.select("_lab").distinct(), "_rd").persist()
    map_rel = mapping.select(
        F.col("_lab").alias("la"), F.col("_rd").cast("long").alias("region"))
    vals_rel = (
        meta.join(mapping, "_lab")
        .groupBy(F.col("_rd").cast("long").alias("region"))
        .agg(F.min("v").alias("_v"))
        .select("region",
                F.coalesce(F.col("_v"), F.lit(float("nan")))
                .alias(value_col))
    )
    return map_rel, vals_rel
