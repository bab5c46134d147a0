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
    """Cell rows are shuffled exactly ONCE: the only grouped kernel is
    ``tiled._tile``'s ``_pack``, which packs them into the tiles that
    ``regions_tiled`` labels.  Boundary segments come map-side from the
    labelled tiles, so a grouped-pandas kernel (a cell-row halo pass)
    would mean a second cell-scale shuffle crept back."""
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
    assert kernels == {"_pack"}, kernels
    assert "FlatMapGroupsInPandas" not in plan
    # segment emission and ring assembly are mapInArrow passes
    assert "MapInArrow" in plan


def test_polygonize_distributed_roster_matches_driver(spark, monkeypatch):
    """Roster cap (``MAX_DRIVER_ROSTER``) 0 forces ``regions_tiled``'s
    fully distributed finish (components + two-phase rank, per-tile
    lookup join) — every field must match the driver path, NaN regions
    included."""
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


def test_polygonize_matches_regions(spark):
    """Every polygon's (region, value, area) equals regions()'s region
    id, value class and cell count on the same input: tiles 3/5/256,
    4- and 8-connectivity, 20%-sparse rows, NaN, NULL and +-inf values.
    A NaN or NULL class comes back NaN, never NULL, and a non-default
    value column names the output column."""
    from xarray_spatial_spark.operators.regions import regions

    rng = np.random.default_rng(16)
    H, W = 17, 23
    coarse = rng.integers(0, 6, (H // 3 + 1, W // 3 + 1))
    cls = np.kron(coarse, np.ones((3, 3), int))[:H, :W]
    noise = rng.random((H, W)) < 0.15
    cls[noise] = rng.integers(0, 6, noise.sum())
    # class -> value; class 3 is NULL, one class with NaN
    table = [1.0, 2.0, float("nan"), None, float("inf"), float("-inf")]
    keep = rng.random((H, W)) >= 0.2
    rows = [(int(y), int(x), table[cls[y, x]]) for y, x in zip(*np.nonzero(keep))]

    def tok(v):
        return "nan" if v is None or v != v else v

    for tile, conn, col in [(3, 4, "value"), (5, 8, "elev"),
                            (256, 4, "value"), (256, 8, "value")]:
        df = spark.createDataFrame(rows, f"y int, x int, {col} double")
        poly = polygonize(df, conn, col, tile, tile)
        assert poly.columns == ["region", "n_rings", "exterior", "area", col]
        prows = poly.collect()
        assert all(r[col] is not None for r in prows), (tile, conn)
        got = {r["region"]: (tok(r[col]), r["area"]) for r in prows}
        want: dict = {}
        for r in regions(df, conn, col, tile_h=tile, tile_w=tile).collect():
            v, n = want.get(int(r["region"]), (tok(table[cls[r["y"], r["x"]]]), 0))
            want[int(r["region"])] = (v, n + 1)
        assert got == want, (tile, conn)


def test_polygonize_negative_cell_raises(spark):
    """Polygonize packs tiles with ``tiled._tile``, so a negative cell
    raises naming it, like ``regions`` and ``tile``."""
    df = spark.createDataFrame([(0, 0, 1.0), (2, -4, 1.0)],
                               "y int, x int, value double")
    with pytest.raises(Exception, match=r"ValueError: cell \(y=2, x=-4\)"):
        polygonize(df, tile_h=4, tile_w=4).collect()
