"""polygonize: areas/ring counts on known shapes + tiling invariance."""

import numpy as np
import pytest

from xarray_spatial_spark.operators import regions as regions_mod
from xarray_spatial_spark.operators.polygonize import polygonize
from xarray_spatial_spark.raster import df_from_numpy


def test_simple_square_with_hole(spark):
    data = np.zeros((7, 7))
    data[1:6, 1:6] = 1.0
    data[3, 3] = 0.0  # hole inside the square
    out = {r["region"]: r for r in polygonize(df_from_numpy(spark, data)).collect()}
    # regions: background 0 (with the square cut out), the 1-square
    # (with a hole), and the 0-hole cell
    assert len(out) == 3
    # background and the square both cover 24 cells; identify by value
    square = next(r for r in out.values() if r["value"] == 1.0)
    hole = next(r for r in out.values() if r["area"] == 1.0)
    bg = next(r for r in out.values() if r["value"] == 0.0 and r["area"] > 1.0)
    assert hole["value"] == 0.0 and hole["n_rings"] == 1
    assert square["area"] == 24.0
    assert square["n_rings"] == 2  # exterior + hole ring
    assert bg["area"] == 24.0 and bg["n_rings"] == 2  # outer edge + cutout
    # exterior ring of the square is closed and has 5x5 bbox
    ext = np.array(square["exterior"])
    assert (ext[0] == ext[-1]).all()
    assert ext[:, 0].min() == 1 and ext[:, 0].max() == 6
    assert ext[:, 1].min() == 1 and ext[:, 1].max() == 6


def test_area_conservation(spark):
    rng = np.random.default_rng(21)
    data = rng.integers(0, 3, (16, 20)).astype(float)
    out = polygonize(df_from_numpy(spark, data)).collect()
    # hole areas are subtracted from their containing region, so summed
    # areas equal the raster cell count exactly
    assert sum(r["area"] for r in out) == pytest.approx(16 * 20)


@pytest.mark.parametrize("tile", [5, 256])
def test_polygonize_tiling_invariance(spark, tile):
    rng = np.random.default_rng(3)
    data = rng.integers(0, 2, (13, 11)).astype(float)
    out = polygonize(df_from_numpy(spark, data), tile_h=tile, tile_w=tile)
    rows = {(r["region"]): (r["area"], r["n_rings"], r["value"]) for r in out.collect()}
    base = polygonize(df_from_numpy(spark, data), tile_h=256, tile_w=256)
    want = {(r["region"]): (r["area"], r["n_rings"], r["value"]) for r in base.collect()}
    assert rows == want


def test_polygonize_plan_one_cell_scale_pass(spark):
    """The fused plan shuffles cell-scale data exactly ONCE: a single
    haloed applyInPandas (_one) computes CCL + half-edges + segments
    + metadata + roster together.  A second grouped-pandas kernel
    would mean the two-shuffle round-3 shape (separate tile CCL then
    halo pass) crept back."""
    import re

    import numpy as np

    from xarray_spatial_spark import raster

    a = np.array([[1.0, 1.0, 2.0], [3.0, 1.0, 2.0], [3.0, 3.0, 2.0]])
    out = polygonize(raster.df_from_numpy(spark, a), tile_h=2, tile_w=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # InMemoryRelation prints its cached subtree twice in toString, so
    # count DISTINCT grouped kernels, not node occurrences
    kernels = set(re.findall(
        r"FlatMapGroupsIn(?:Pandas|Arrow) \[[^]]*\], (\w+)\(", plan))
    assert kernels == {"_one"}, kernels
    # the ring assembly is a mapInPandas over perimeter rows
    assert "MapInPandas" in plan or "MapInArrow" in plan


def test_polygonize_distributed_roster_matches_driver(spark, monkeypatch):
    """Roster cap (``MAX_DRIVER_ROSTER``) 0 forces the fully distributed finish (join-resolved
    half-edges, components + two-phase rank, shuffle relabel) — every
    field must match the driver path, NaN regions included."""
    rng = np.random.default_rng(11)
    data = rng.integers(0, 3, (13, 17)).astype(float)
    data[data == 2] = np.nan

    def canon(ring):
        # closed ring -> rotation-invariant form (start vertex is
        # walk-order dependent; the polygon itself is what must match)
        pts = [tuple(p) for p in ring[:-1]]
        i = pts.index(min(pts))
        pts = pts[i:] + pts[:i]
        return tuple(pts + [pts[0]])

    def snap(df):
        return {
            r["region"]: (r["area"], r["n_rings"],
                          None if r["value"] != r["value"] else r["value"],
                          canon(r["exterior"]))
            for r in df.collect()
        }

    src = df_from_numpy(spark, data, keep_nonfinite=False)
    base = snap(polygonize(src, tile_h=5, tile_w=7))
    monkeypatch.setattr(regions_mod, "MAX_DRIVER_ROSTER", 0)
    got = snap(polygonize(src, tile_h=5, tile_w=7))
    assert got == base
