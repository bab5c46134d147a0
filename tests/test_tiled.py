"""Dense-tile raster format: round-trip, stencil parity with the
long-form path, tiled terrain parity, global stats."""

import numpy as np
import pytest

from xarray_spatial_spark import raster, tiled
from xarray_spatial_spark.operators import focal, surface
from xarray_spatial_spark.operators.convolution import circle_kernel


@pytest.fixture(scope="module")
def arr():
    rng = np.random.default_rng(42)
    a = rng.uniform(0, 100, size=(70, 93))
    a[5, 7] = np.nan
    a[40:44, 60:66] = np.nan
    return a


def test_tile_untile_roundtrip(spark, arr):
    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    back = tiled.numpy_from_tiled(tdf)
    np.testing.assert_array_equal(back, np.where(np.isfinite(arr), arr, np.nan))
    # long-form round trip
    long = tiled.untile(tdf)
    dense = raster.numpy_from_df(long)
    np.testing.assert_array_equal(dense, back)


def test_tile_partial_edges(spark, arr):
    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    rows = tdf.collect()
    # 70x93 at 32 -> 3x3 tile grid with clipped bottom/right
    assert len(rows) == 9
    for r in rows:
        assert r["h"] == (6 if r["ty"] == 2 else 32)
        assert r["w"] == (29 if r["tx"] == 2 else 32)
        assert len(r["value"]) == r["h"] * r["w"] * 8


@pytest.mark.parametrize("op,kwargs", [
    (surface.slope, {"cellsize_x": 3.0, "cellsize_y": 2.0}),
    (surface.aspect, {}),
    (surface.curvature, {"cellsize": 2.0}),
    (surface.hillshade, {}),
])
def test_surface_tiled_matches_long(spark, arr, op, kwargs):
    df = raster.df_from_numpy(spark, arr)
    expected = raster.numpy_from_df(op(df, tile_h=32, tile_w=32, **kwargs))
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    got = tiled.numpy_from_tiled(op(tdf, **kwargs))
    np.testing.assert_allclose(got, expected, rtol=1e-6, equal_nan=True)


def test_focal_mean_tiled_matches_long(spark, arr):
    df = raster.df_from_numpy(spark, arr)
    expected = raster.numpy_from_df(focal.mean(df, tile_h=32, tile_w=32))
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    got = tiled.numpy_from_tiled(focal.mean(tdf))
    np.testing.assert_allclose(got, expected, rtol=1e-12, equal_nan=True)


def test_focal_stats_radius2_tiled(spark, arr):
    k = circle_kernel(1, 1, 2.5)
    df = raster.df_from_numpy(spark, arr)
    long_out = focal.focal_stats(df, k, stats_funcs=("mean", "max", "sum"),
                                 tile_h=32, tile_w=32)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    tiled_out = focal.focal_stats(tdf, k, stats_funcs=("mean", "max", "sum"))
    for c in ("mean", "max", "sum"):
        np.testing.assert_allclose(
            tiled.numpy_from_tiled(tiled_out, value_col=c),
            raster.numpy_from_df(long_out, value_col=c),
            rtol=1e-12, equal_nan=True,
        )


def test_hotspots_tiled_matches_long(spark):
    rng = np.random.default_rng(3)
    a = rng.normal(10, 2, size=(60, 60))
    a[10:14, 10:14] += 40  # hot blob
    k = circle_kernel(1, 1, 1.5)
    df = raster.df_from_numpy(spark, a)
    expected = raster.numpy_from_df(focal.hotspots(df, k, tile_h=32, tile_w=32))
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    got = tiled.numpy_from_tiled(focal.hotspots(tdf, k))
    np.testing.assert_allclose(got, expected, equal_nan=True)


def test_global_stats(spark, arr):
    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    gs = tiled.global_stats(tdf)
    finite = arr[np.isfinite(arr)]
    assert gs["count"] == finite.size
    np.testing.assert_allclose(gs["mean"], finite.mean())
    np.testing.assert_allclose(gs["std"], finite.std())
    np.testing.assert_allclose(gs["min"], finite.min())
    np.testing.assert_allclose(gs["max"], finite.max())


def test_terrain_tiled_bit_matches_long(spark):
    from xarray_spatial_spark.sources.terrain import (
        generate_terrain, generate_terrain_tiled,
    )

    long_arr = raster.numpy_from_df(
        generate_terrain(spark, 96, 80, seed=10), value_col="value"
    )
    tiled_arr = tiled.numpy_from_tiled(
        generate_terrain_tiled(spark, 96, 80, seed=10, tile=48)
    )
    np.testing.assert_allclose(tiled_arr, long_arr, rtol=1e-12)


def test_summarize_terrain_tiled(spark, arr):
    df = raster.df_from_numpy(spark, arr)
    long_out = surface.summarize_terrain(df, tile_h=32, tile_w=32)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    tiled_out = surface.summarize_terrain(tdf)
    for c in ("slope", "aspect", "curvature"):
        np.testing.assert_allclose(
            tiled.numpy_from_tiled(tiled_out, value_col=c),
            raster.numpy_from_df(long_out, value_col=c),
            rtol=1e-6, equal_nan=True,
        )


def test_float32_tiles_match_float64(spark, arr):
    df = raster.df_from_numpy(spark, arr)
    t64 = tiled.tile(df, tile_h=32, tile_w=32)
    t32 = tiled.tile(df, tile_h=32, tile_w=32, dtype=np.float32)
    s64 = tiled.numpy_from_tiled(surface.slope(t64))
    s32 = tiled.numpy_from_tiled(surface.slope(t32))
    # slope computes in float32 on both paths; storage dtype only
    # changes the final widening
    np.testing.assert_allclose(s32, s64, rtol=1e-5, equal_nan=True)
    gs = tiled.global_stats(t32)
    finite = arr[np.isfinite(arr)]
    np.testing.assert_allclose(gs["mean"], finite.mean(), rtol=1e-6)


def test_fuse_stencils_matches_chained(spark, arr):
    """3 fused focal-mean stages in ONE halo pass == 3 separate
    passes; and the plan has exactly one stencil exchange."""
    from xarray_spatial_spark.operators.focal import mean as focal_mean

    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    chained = tiled.numpy_from_tiled(focal_mean(focal_mean(focal_mean(tdf))))

    def mean3(arrs):
        a = arrs["value"]
        nanmask = np.isnan(a)
        vals = np.where(nanmask, 0.0, a)
        ones = (~nanmask).astype(a.dtype)
        s = np.zeros((a.shape[0] - 2, a.shape[1] - 2), dtype=a.dtype)
        c = np.zeros_like(s)
        for dy in range(3):
            for dx in range(3):
                s += vals[dy:dy + s.shape[0], dx:dx + s.shape[1]]
                c += ones[dy:dy + s.shape[0], dx:dx + s.shape[1]]
        sm = np.where(c > 0, s / c, np.nan)
        interior = a[1:-1, 1:-1]
        return {"value": np.where(np.isnan(interior), interior, sm)}

    fn, r = tiled.fuse_stencils([(mean3, 1)] * 3)
    assert r == 3
    fused_df = tiled.apply_stencil_tiled(tdf, fn, r)
    fused = tiled.numpy_from_tiled(fused_df)
    np.testing.assert_allclose(fused, chained, rtol=1e-12, equal_nan=True)
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    assert (plan.count("FlatMapGroupsInPandas")
            + plan.count("FlatMapGroupsInArrow")) == 2  # tile() pack + ONE stencil


def test_focal_mean_multipass_fused(spark, arr):
    """tiled focal.mean(passes=3) must equal the long-form 3-pass
    result while shuffling once."""
    df = raster.df_from_numpy(spark, arr)
    expected = raster.numpy_from_df(focal.mean(df, passes=3, tile_h=32, tile_w=32))
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    out = focal.mean(tdf, passes=3)
    got = tiled.numpy_from_tiled(out)
    np.testing.assert_allclose(got, expected, rtol=1e-12, equal_nan=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (plan.count("FlatMapGroupsInPandas")
            + plan.count("FlatMapGroupsInArrow")) == 2  # pack + one stencil


def test_focal_stats_float32_high_dynamic_range(spark):
    """float32 tiles with |mean| >> std: the slice-stat second moment
    must accumulate in float64 or var/std collapse to rounding noise."""
    rng = np.random.default_rng(77)
    big = rng.uniform(3000, 4000, (40, 40))
    df = raster.df_from_numpy(spark, big)
    t32 = tiled.tile(df, tile_h=16, tile_w=16, dtype=np.float32)
    k = np.ones((3, 3))
    got = tiled.numpy_from_tiled(
        focal.focal_stats(t32, k, stats_funcs=("std",)), value_col="std")
    # reference: float64 per-window nanstd of the float32-rounded data
    a32 = big.astype(np.float32).astype(np.float64)
    pad = np.full((42, 42), np.nan)
    pad[1:-1, 1:-1] = a32
    exp = np.full_like(a32, np.nan)
    import warnings as _w
    for y in range(40):
        for x in range(40):
            with _w.catch_warnings():
                _w.simplefilter("ignore")
                exp[y, x] = np.nanstd(pad[y:y+3, x:x+3])
    np.testing.assert_allclose(got, exp, rtol=1e-4, equal_nan=True)


def test_heterogeneous_fused_chain_matches_sequential(spark, arr):
    """smooth -> slope -> smooth as ONE fused exchange == the three
    operators run sequentially (3 exchanges), using the public kernel
    factories (focal.mean_stencil / surface.slope_stencil)."""
    from xarray_spatial_spark.operators.focal import mean_stencil
    from xarray_spatial_spark.operators.surface import slope_stencil

    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    seq = tiled.numpy_from_tiled(
        focal.mean(surface.slope(focal.mean(tdf)))
    )
    fn, r = tiled.fuse_stencils(
        [mean_stencil(), slope_stencil(), mean_stencil()]
    )
    assert r == 3
    fused_df = tiled.apply_stencil_tiled(tdf, fn, r)
    fused = tiled.numpy_from_tiled(fused_df)
    np.testing.assert_allclose(fused, seq, rtol=1e-6, equal_nan=True)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_halo_across_super_tiles_matches_long(spark, arr, dtype):
    """16-px tiles on the 70x93 raster: 5x6 ragged tiles spanning 2x2
    super-tiles, so halos come both from sibling tiles in the same
    group and from strips sent across super-tile boundaries.  Slope,
    focal_stats at r=2 (JVM message projection) and at r=10 (Python
    emitter) match the long-form path."""
    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=16, tile_w=16, dtype=dtype).persist()
    rtol = 1e-12 if dtype == np.float64 else 1e-5
    stats = ("mean", "max")
    try:
        assert tdf.count() == 30
        np.testing.assert_allclose(
            tiled.numpy_from_tiled(surface.slope(tdf)),
            raster.numpy_from_df(surface.slope(df, tile_h=32, tile_w=32)),
            rtol=max(rtol, 1e-6), equal_nan=True,
        )
        for k in (circle_kernel(1, 1, 2.5), np.ones((21, 21))):
            long_out = focal.focal_stats(df, k, stats_funcs=stats,
                                         tile_h=32, tile_w=32)
            tiled_out = focal.focal_stats(tdf, k, stats_funcs=stats)
            for c in stats:
                np.testing.assert_allclose(
                    tiled.numpy_from_tiled(tiled_out, value_col=c),
                    raster.numpy_from_df(long_out, value_col=c),
                    rtol=rtol, equal_nan=True,
                )
    finally:
        tdf.unpersist()


def test_halo_radius_up_to_tile_size(spark):
    """A radius equal to the tile size is exact; one past it raises a
    ValueError naming the radius and the tile, instead of returning
    cells that miss the halo from tiles two away."""
    rng = np.random.default_rng(5)
    a = rng.uniform(0, 10, (72, 72))  # 16-px tiles: 5x5, 2x2 super-tiles
    df = raster.df_from_numpy(spark, a)
    tdf = tiled.tile(df, tile_h=16, tile_w=16)
    k16 = np.ones((33, 33))
    np.testing.assert_allclose(
        tiled.numpy_from_tiled(
            focal.focal_stats(tdf, k16, stats_funcs=("mean",)),
            value_col="mean"),
        raster.numpy_from_df(
            focal.focal_stats(df, k16, stats_funcs=("mean",),
                              tile_h=32, tile_w=32),
            value_col="mean"),
        rtol=1e-12, equal_nan=True,
    )
    out = focal.focal_stats(tdf, np.ones((41, 41)), stats_funcs=("mean",))
    with pytest.raises(Exception, match=r"ValueError: halo radius 20 "
                                        r"exceeds the 16x16 tile"):
        out.collect()


@pytest.mark.parametrize("value", ["shuffle", "bucket", "brodcast", "broadcast"])
def test_unknown_halo_strategy_raises(spark, arr, value):
    """The halo has one plan and no strategy conf: any value of the
    retired key, 'broadcast' included, raises and names the key instead
    of silently running some plan."""
    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    spark.conf.set("spark.xrspatial.halo.strategy", value)
    try:
        with pytest.raises(ValueError, match=r"spark\.xrspatial\.halo\.strategy"
                                             r" is set .* one plan"):
            surface.slope(tdf)
    finally:
        spark.conf.unset("spark.xrspatial.halo.strategy")


def _assert_tile_format(tdf, bands):
    """``tdf`` has exactly ``tiled_schema(bands)`` and every row's
    perimeter blobs are those of its block."""
    from pyspark.sql.types import _parse_datatype_string

    assert tdf.schema == _parse_datatype_string(tiled.tiled_schema(bands))
    rows = tdf.collect()
    assert rows
    for r in rows:
        for b in bands:
            block = tiled._decode(r[b], r["h"], r["w"])
            for sfx, blob in tiled._halo_blobs(block).items():
                assert bytes(r[f"{b}{sfx}"]) == blob, (b, sfx, r["ty"], r["tx"])


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_tiled_producers_write_the_one_format(spark, arr, dtype):
    """tile, map_tiles, apply_stencil_tiled, regions_tiled and
    generate_terrain_tiled all write tiled_schema's types and blobs
    consistent with each block (ragged 16x20 tiles of the 70x93
    raster)."""
    from xarray_spatial_spark.operators.regions import regions_tiled
    from xarray_spatial_spark.sources.terrain import generate_terrain_tiled

    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=16, tile_w=20, dtype=dtype).persist()
    try:
        _assert_tile_format(tdf, ["value"])
        _assert_tile_format(tiled.map_tiles(
            tdf, lambda a: {"value": a["value"], "twice": a["value"] * 2},
            out_cols=("value", "twice")), ["value", "twice"])
        _assert_tile_format(surface.slope(tdf), ["value"])
        _assert_tile_format(regions_tiled(tiled.map_tiles(
            tdf, lambda a: {"value": np.floor(a["value"] / 25)})),
            ["value", "region"])
        _assert_tile_format(generate_terrain_tiled(
            spark, 45, 37, tile=16, dtype=dtype), ["value"])
    finally:
        tdf.unpersist()


def test_tile_batch_writes_tiled_schema_types(spark):
    meta = {"ty": 1, "tx": 2, "h": 2, "w": 3, "th": 4, "tw": 3}
    batch = tiled._tile_batch(meta, {"v": np.zeros((2, 3), np.float32)})
    want = tiled._arrow_schema_of(tiled.tiled_schema(["v"]))
    assert batch.schema.names == want.names
    assert batch.schema.types == want.types
    (got_meta, arrs), = tiled._tile_rows(batch, ["v"])
    assert got_meta == meta
    assert arrs["v"].dtype == np.float32 and arrs["v"].shape == (2, 3)


def test_blobless_tiled_frame_raises(spark, arr):
    """A tiled frame without its perimeter blobs is refused at plan
    time, naming the missing columns."""
    tdf = tiled.tile(raster.df_from_numpy(spark, arr), tile_h=32, tile_w=32)
    bare = tdf.drop("value__le", "value__te")
    with pytest.raises(ValueError, match="value__le.*value__te"):
        surface.slope(bare)
