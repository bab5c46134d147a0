"""Raster -> vector polygonize (reference
xrspatial/experimental/polygonize.py:1-27 algorithm, :524-613 public).

Polygonize is region labelling followed by boundary following, and the
labelling is the engine's one tiled CCL (SURVEY §7):

1. The long-form rows are packed into full tiles with a presence band
   (``tiled._tile``, the one cell-scale shuffle) and labelled by
   :func:`regions.regions_tiled`, so region ids are its dense
   scan-order ranks (above the driver's label-roster cap its
   distributed finish runs).
2. One ``mapInArrow`` over the labelled tiles emits every present
   cell's directed boundary segments in corner coordinates (interior
   on the left): a side whose in-tile neighbour has another region or
   is absent, and every side on the tile's edge.  No halo: a cell
   never reads another tile.
3. Segments are repartitioned by region.  Assembly drops a segment
   whose reverse is in the same region's set, then walks the rest
   corner-to-corner into closed rings; the ring with the largest
   |area| is the exterior, the rest are holes (grouped with their
   exterior, like the reference).

The cancellation is exact.  A directed segment belongs only to the
region on its left, and exactly one cell emits it.  Its reverse lies in
the same region only when the cell across the edge is in that region;
inside a tile the emitter already skips that side, so the reverse pair
appears only on tile edges.  4-adjacent cells share a region exactly
when their values are equal (NaN == NaN), for both connectivities, so
the surviving set is the value-boundary set.

Edge counts are O(region perimeter), so the per-region group is tiny
relative to region area; ring walking is dict-chasing in Python but
only over perimeter points.

Output: one row per region —
  (region, n_rings, exterior: array<array<double>> [x, y corner
  pairs], area: double, value)   with grid corner coordinates
  (cell (y, x) spans corners (x, y)..(x+1, y+1)).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SEG_SCHEMA = "region long, x1 int, y1 int, x2 int, y2 int, v double"


def _segments(batches: Iterator[pa.RecordBatch], value_col: str,
              schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Per labelled tile, the directed boundary segments of its present
    cells (N, S, W, E sides, each in scan order): a side is emitted when
    the in-tile neighbour's region differs or is NaN (absent or off the
    tile), with the cell's region and value."""
    from xarray_spatial_spark import tiled as tl

    for rb in batches:
        for meta, arrs in tl._tile_rows(rb, [value_col, "region"]):
            reg = arrs["region"]
            pad = np.full((reg.shape[0] + 2, reg.shape[1] + 2), np.nan)
            pad[1:-1, 1:-1] = reg
            cy, cx = np.nonzero(~np.isnan(reg))
            lab = reg[cy, cx]
            val = arrs[value_col][cy, cx]
            ys = cy + meta["ty"] * meta["th"]
            xs = cx + meta["tx"] * meta["tw"]
            parts = []
            # per side: neighbour offset, then corner offsets of
            # (x1, y1, x2, y2) from the cell's (x, y)
            for dy, dx, (a, b, c, d) in ((-1, 0, (1, 0, 0, 0)),   # N
                                         (1, 0, (0, 1, 1, 1)),    # S
                                         (0, -1, (0, 0, 0, 1)),   # W
                                         (0, 1, (1, 1, 1, 0))):   # E
                m = pad[cy + 1 + dy, cx + 1 + dx] != lab  # NaN differs
                parts.append((lab[m], xs[m] + a, ys[m] + b, xs[m] + c,
                              ys[m] + d, val[m]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(col), f.type)
                 for col, f in zip(zip(*parts), schema)], schema=schema)


def _assemble_one(region: int, x1, y1, x2, y2) -> dict:
    """Cancel reverse pairs, then walk the directed segments
    corner-to-corner into closed rings."""
    segs = list(zip(x1, y1, x2, y2))
    have = set(segs)
    # successor map: corner -> list of outgoing segments
    succ: dict = {}
    for a, b, c, d in segs:
        if (c, d, a, b) not in have:
            succ.setdefault((a, b), []).append((c, d))
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


def _assemble_partition(batches: Iterator[pa.RecordBatch], schema: pa.Schema
                        ) -> Iterator[pa.RecordBatch]:
    """Partition-level assembly — one Python pass over the whole
    partition instead of a grouped UDF per region (regions are numerous
    and tiny; groups-per-task overhead dominated the runtime).

    The partition's Arrow batches are concatenated BEFORE grouping: a
    region's edges may straddle a batch boundary, and a split region
    would otherwise be assembled twice.  Edge rows are perimeter-scale,
    so a whole partition fits comfortably.  The output stays Arrow, so
    a NaN value comes back NaN (a pandas frame would turn it NULL)."""
    rbs = [rb for rb in batches if rb.num_rows]
    if not rbs:
        return
    tbl = pa.Table.from_batches(rbs)
    region = tbl.column("region").to_numpy()
    order = np.argsort(region, kind="stable")  # keeps emission order
    cols = {c: tbl.column(c).to_numpy()[order].tolist()
            for c in ("x1", "y1", "x2", "y2")}
    region, v = region[order], tbl.column("v").to_numpy()[order]
    starts = np.flatnonzero(np.r_[True, region[1:] != region[:-1]])
    ends = np.r_[starts[1:], len(region)]
    out = {f.name: [] for f in schema}
    for s, e in zip(starts.tolist(), ends.tolist()):
        row = _assemble_one(int(region[s]),
                            *(cols[c][s:e] for c in ("x1", "y1", "x2", "y2")))
        row[schema[-1].name] = float(v[s])
        for k, val in row.items():
            out[k].append(val)
    yield pa.RecordBatch.from_pydict(out, schema=schema)


def polygonize(
    raster: DataFrame,
    neighborhood: int = 4,
    value_col: str = "value",
    tile_h: int = 256,
    tile_w: int = 256,
) -> DataFrame:
    """Vectorize connected equal-valued regions.  Returns one row per
    region: (region, n_rings, exterior ring corners, area, value_col).

    One labelled-tile pass: ``(y, x, value_col)`` is packed into full
    ``tile_h x tile_w`` tiles with a presence band and labelled by
    :func:`regions.regions_tiled` (region ids are its scan-order
    ranks); each labelled tile emits its cells' boundary segments with
    no halo, and the per-region assembly cancels the reverse pairs the
    tile edges leave before walking the rings.  NULL values are one
    class with NaN and come back NaN.  A cell with a negative ``y`` or
    ``x`` raises ``ValueError`` naming it: tiled rasters start at
    (0, 0)."""
    from xarray_spatial_spark import tiled as tl
    from xarray_spatial_spark.operators.regions import regions_tiled

    src = raster.select("y", "x", F.col(value_col).cast("double").alias(value_col),
                        F.lit(1.0).alias(tl.PRESENT))
    tdf = tl._tile(src, tile_h, tile_w, [value_col, tl.PRESENT], None)
    labelled = regions_tiled(tdf, neighborhood, value_col, "region")
    seg_schema = tl._arrow_schema_of(_SEG_SCHEMA)
    segs = tl._select(labelled, [value_col, "region"]).mapInArrow(
        lambda it: _segments(it, value_col, seg_schema), schema=_SEG_SCHEMA)
    out_ddl = ("region long, n_rings int, exterior array<array<double>>, "
               f"area double, {value_col} double")
    out_schema = tl._arrow_schema_of(out_ddl)
    return segs.repartition("region").mapInArrow(
        lambda it: _assemble_partition(it, out_schema), schema=out_ddl)
