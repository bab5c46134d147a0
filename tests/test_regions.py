"""regions (CCL) ported from reference tests/test_zonal.py:999-1044 +
cross-tile correctness via tiling invariance."""

import numpy as np
import pytest

from xarray_spatial_spark.operators import regions as regions_mod
from xarray_spatial_spark.operators.regions import connected_components, regions
from xarray_spatial_spark.raster import df_from_numpy, numpy_from_df


def _grid(df):
    return numpy_from_df(df, value_col="region")


def test_regions_four_connectivity_int(spark):
    arr = np.array(
        [[0, 0, 0, 0], [0, 4, 0, 0], [1, 4, 4, 0], [1, 1, 1, 0], [0, 0, 0, 0]],
        dtype=float,
    )
    out = _grid(regions(df_from_numpy(spark, arr), neighborhood=4))
    assert len(np.unique(out[np.isfinite(out)])) == 3
    assert out.shape == arr.shape


def test_regions_four_connectivity_float_nan(spark):
    arr = np.array(
        [[0, 0, 0, np.nan], [0, 4, 0, 0], [1, 4, 4, 0], [1, 1, 1, 0], [0, 0, 0, 0]],
        dtype=float,
    )
    out = _grid(regions(df_from_numpy(spark, arr, keep_nonfinite=False),
                        neighborhood=4))
    # reference: the NaN cell is its own region -> 4 uniques
    # (test_zonal.py:1011-1020); NULL-valued rows connect via
    # NULL==NULL like the reference's nan==nan equality
    assert len(np.unique(out)) == 4
    nan_label = out[0, 3]
    assert (out == nan_label).sum() == 1  # singleton region


def test_regions_eight_connectivity(spark):
    arr = np.array(
        [[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1], [0, 0, 0, 1]],
        dtype=float,
    )
    out4 = _grid(regions(df_from_numpy(spark, arr), neighborhood=4))
    out8 = _grid(regions(df_from_numpy(spark, arr), neighborhood=8))
    assert len(np.unique(out8)) == 2  # diagonal 1s merge under 8-conn
    assert len(np.unique(out4)) > 2


def test_regions_docstring_example(spark):
    arr = np.array(
        [
            [1, 1, 0, 2, 2],
            [1, 1, 0, 2, 2],
            [0, 0, 0, 0, 0],
            [3, 3, 0, 3, 3],
            [3, 3, 0, 3, 3],
        ],
        dtype=float,
    )
    out = _grid(regions(df_from_numpy(spark, arr), neighborhood=4))
    # regions: the connected 0-cross, two 1/2 blocks, two 3 blocks -> 5
    labels = {tuple(map(int, np.argwhere(out == v)[0])): v for v in np.unique(out)}
    assert len(np.unique(out)) == 5
    # same-value disconnected blocks get DIFFERENT labels
    assert out[3, 0] != out[3, 3]
    assert out[0, 0] != out[0, 3]
    # scan-order dense ids starting at 0
    assert out.min() == 0.0 and out.max() == 4.0


@pytest.mark.parametrize("conn", [4, 8])
def test_regions_tiled_matches_long(spark, conn):
    """Dense-tile CCL == long-form CCL, bit-for-bit (same canonical
    scan-order labels), including NaN cells as their own class and
    regions spanning many tiles."""
    from xarray_spatial_spark import tiled as tiled_mod
    from xarray_spatial_spark.operators.regions import regions_tiled

    rng = np.random.default_rng(123)
    arr = rng.integers(0, 3, (23, 31)).astype(float)
    arr[arr == 2] = np.nan  # NaN blobs: NaN==NaN connects
    df = df_from_numpy(spark, arr)
    base = _grid(regions(df, neighborhood=conn, tile_h=256, tile_w=256))
    tdf = tiled_mod.tile(df, tile_h=5, tile_w=7)
    out = regions_tiled(tdf, neighborhood=conn)
    got = tiled_mod.numpy_from_tiled(out, value_col="region")
    np.testing.assert_array_equal(base, got)
    # float32 value band: labels identical, value band stays 4 B/cell
    t32 = tiled_mod.tile(df, tile_h=5, tile_w=7, dtype=np.float32)
    o32 = regions_tiled(t32, neighborhood=conn)
    g32 = tiled_mod.numpy_from_tiled(o32, value_col="region")
    np.testing.assert_array_equal(base, g32)
    vrow = o32.select("value", "h", "w").limit(1).collect()[0]
    assert len(vrow["value"]) == int(vrow["h"]) * int(vrow["w"]) * 4


def test_regions_tiled_snake(spark):
    """A single snake region threading every tile — worst case for
    cross-tile merging (one global component, many local labels)."""
    from xarray_spatial_spark import tiled as tiled_mod
    from xarray_spatial_spark.operators.regions import regions_tiled

    arr = np.zeros((16, 16), dtype=float)
    arr[::2, :] = 1.0
    for i in range(0, 16, 4):
        arr[i:i + 3, 15 if (i // 2) % 2 == 0 else 0] = 1.0
    df = df_from_numpy(spark, arr)
    base = _grid(regions(df, neighborhood=4, tile_h=256, tile_w=256))
    tdf = tiled_mod.tile(df, tile_h=4, tile_w=4)
    got = tiled_mod.numpy_from_tiled(
        regions_tiled(tdf, neighborhood=4), value_col="region")
    np.testing.assert_array_equal(base, got)


@pytest.mark.parametrize("conn", [4, 8])
def test_regions_tiling_invariance(spark, conn):
    """Cross-tile union must give the same partition of cells as a
    single-tile run (label ids are canonical scan-order, so grids are
    exactly equal)."""
    rng = np.random.default_rng(77)
    arr = rng.integers(0, 3, (23, 31)).astype(float)
    df = df_from_numpy(spark, arr)
    base = _grid(regions(df, neighborhood=conn, tile_h=256, tile_w=256))
    tiled = _grid(regions(df, neighborhood=conn, tile_h=5, tile_w=7))
    np.testing.assert_array_equal(base, tiled)


def test_tile_ccl_fuzz_vs_bfs():
    """Run-based CCL == reference BFS flood fill on random small
    grids: same partition AND same min-key root labels, both
    connectivities, with NaN values and absent cells."""
    from collections import deque

    from xarray_spatial_spark.operators.regions import _KEY, _tile_ccl

    def bfs_ccl(vals, keys, conn):
        H, W = vals.shape
        present = ~np.isnan(keys)
        out = np.full((H, W), np.nan)
        seen = np.zeros((H, W), dtype=bool)
        nbrs = [(0, 1), (0, -1), (1, 0), (-1, 0)]
        if conn == 8:
            nbrs += [(1, 1), (1, -1), (-1, 1), (-1, -1)]

        def eq(a, b):
            return (a == b) or (np.isnan(a) and np.isnan(b))

        for sy in range(H):
            for sx in range(W):
                if not present[sy, sx] or seen[sy, sx]:
                    continue
                comp, q = [], deque([(sy, sx)])
                seen[sy, sx] = True
                while q:
                    y, x = q.popleft()
                    comp.append((y, x))
                    for dy, dx in nbrs:
                        ny, nx = y + dy, x + dx
                        if (0 <= ny < H and 0 <= nx < W
                                and present[ny, nx] and not seen[ny, nx]
                                and eq(vals[y, x], vals[ny, nx])):
                            seen[ny, nx] = True
                            q.append((ny, nx))
                root = min(keys[y, x] for y, x in comp)
                for y, x in comp:
                    out[y, x] = root
        return out

    rng = np.random.default_rng(2024)
    for trial in range(60):
        H = int(rng.integers(1, 14))
        W = int(rng.integers(1, 14))
        nvals = int(rng.integers(1, 4))
        vals = rng.integers(0, nvals, (H, W)).astype(float)
        if trial % 3 == 0:
            vals[rng.random((H, W)) < 0.2] = np.nan  # NaN value class
        keys = (np.arange(H, dtype=np.float64)[:, None] * _KEY
                + np.arange(W, dtype=np.float64)[None, :])
        if trial % 4 == 0:
            keys[rng.random((H, W)) < 0.25] = np.nan  # absent cells
        conn = 4 if trial % 2 == 0 else 8
        got = _tile_ccl(vals.copy(), keys.copy(), conn)
        exp = bfs_ccl(vals, keys, conn)
        np.testing.assert_array_equal(got, exp,
                                      err_msg=f"trial={trial} conn={conn}")


@pytest.mark.parametrize("conn", [4, 8])
def test_regions_distributed_roster_matches_driver(spark, monkeypatch, conn):
    """Forcing the roster cap (``MAX_DRIVER_ROSTER``) to 0 dispatches the long-form finish to
    the fully distributed union-find + rank — output must be
    bit-identical to the driver path (roots ARE min labels both
    ways)."""
    rng = np.random.default_rng(42)
    arr = rng.integers(0, 3, (23, 31)).astype(float)
    arr[arr == 2] = np.nan
    df = df_from_numpy(spark, arr, keep_nonfinite=False)
    base = _grid(regions(df, neighborhood=conn, tile_h=5, tile_w=7))
    monkeypatch.setattr(regions_mod, "MAX_DRIVER_ROSTER", 0)
    got = _grid(regions(df, neighborhood=conn, tile_h=5, tile_w=7))
    np.testing.assert_array_equal(base, got)


def test_regions_tiled_distributed_roster_matches_driver(spark, monkeypatch):
    """Same dispatch for the dense-tile path: capped run == driver
    run, tiles stay dense blobs."""
    from xarray_spatial_spark import tiled as tiled_mod
    from xarray_spatial_spark.operators.regions import regions_tiled

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 3, (23, 31)).astype(float)
    tdf = tiled_mod.tile(df_from_numpy(spark, arr), tile_h=5, tile_w=7)
    base = tiled_mod.numpy_from_tiled(
        regions_tiled(tdf, neighborhood=4), value_col="region")
    monkeypatch.setattr(regions_mod, "MAX_DRIVER_ROSTER", 0)
    got = tiled_mod.numpy_from_tiled(
        regions_tiled(tdf, neighborhood=4), value_col="region")
    np.testing.assert_array_equal(base, got)


def test_regions_salt_and_pepper_million_regions(spark, monkeypatch):
    """The degenerate raster the cap exists for: a 1024x1024
    checkerboard has EXACTLY one region per cell under 4-conn (2^20
    regions).  With the cap at 1000 the driver never collects the
    roster (CollectLimit bounds it at cap+1 rows) and the distributed
    finish labels every cell with a distinct dense id."""
    from xarray_spatial_spark import tiled as tiled_mod
    from xarray_spatial_spark.operators.regions import regions_tiled
    from pyspark.sql import functions as F

    n = 1024
    cells = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("y"),
        F.pmod(F.col("id"), F.lit(n)).cast("int").alias("x"),
    ).withColumn(
        "value", F.pmod(F.col("y") + F.col("x"), F.lit(2)).cast("double"))
    monkeypatch.setattr(regions_mod, "MAX_DRIVER_ROSTER", 1000)
    out = regions(cells, neighborhood=4, tile_h=256, tile_w=256)
    stats = out.agg(
        F.countDistinct("region").alias("n"),
        F.min("region").alias("lo"),
        F.max("region").alias("hi"),
    ).collect()[0]
    assert stats["n"] == n * n
    assert stats["lo"] == 0.0 and stats["hi"] == float(n * n - 1)
    # dense-tile twin takes the distributed finish too
    tdf = tiled_mod.tile(
        cells.select("y", "x", "value"), tile_h=256, tile_w=256)
    tout = regions_tiled(tdf, neighborhood=4)
    got = tiled_mod.numpy_from_tiled(tout, value_col="region")
    assert len(np.unique(got)) == n * n
    assert got[0, 0] == 0.0 and got.min() == 0.0
    assert got.max() == float(n * n - 1)


def test_connected_components(spark):
    # two chains + an isolate-ish pair + a self-loop
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 12), (20, 21), (21, 10)]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {r["node"]: r["label"]
           for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 20: 10, 21: 10, 12: 12}


def test_connected_components_long_chain(spark):
    # a 60-node path exercises many propagation rounds
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {r["node"]: r["label"]
           for r in connected_components(df).collect()}
    assert set(got.values()) == {0} and len(got) == 61


def test_grouped_kernels_build_without_eval_type_warning(spark):
    """The grouped pandas kernels of regions and polygonize annotate
    their key, so PySpark infers the grouped-map eval type without a
    UserWarning."""
    import warnings

    from xarray_spatial_spark.operators.polygonize import polygonize

    df = df_from_numpy(spark, np.array([[0.0, 1.0], [1.0, 1.0]]))
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        regions(df, tile_h=2, tile_w=2)
        polygonize(df, tile_h=2, tile_w=2)
