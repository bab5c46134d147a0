"""Dense-tile raster format: round-trip, stencils on both formats
against the operator's kernel run once on the whole NaN-padded array
(Spark-free), the long-form adapter on sparse input, tiled terrain
parity, global stats."""

import warnings

import numpy as np
import pytest

from xarray_spatial_spark import raster, tiled
from xarray_spatial_spark.operators import focal, surface
from xarray_spatial_spark.operators.convolution import circle_kernel, convolve_numpy


@pytest.fixture(scope="module")
def arr():
    rng = np.random.default_rng(42)
    a = rng.uniform(0, 100, size=(70, 93))
    a[5, 7] = np.nan
    a[40:44, 60:66] = np.nan
    return a


def _whole_array(monkeypatch, mod, op, bands, dtype=np.float64, **kwargs):
    """Spark-free reference: the ``(fn, radius)`` that ``op`` hands to
    ``mod.apply_stencil``, run once on the whole raster (``bands``:
    name -> 2-D array, NaN = no cell) padded by the radius with NaN —
    dask ``map_overlap``'s ``boundary=np.nan``.  Returns out column ->
    float64 array, non-finite as NaN."""
    seen = []
    with monkeypatch.context() as m:
        m.setattr(mod, "apply_stencil",
                  lambda df, fn, radius, value_cols=("value",),
                  out_cols=("value",), *_, **__:
                  seen.append((fn, int(radius), list(out_cols))))
        op(None, **kwargs)
    (fn, r, ocols), = seen
    padded = {b: np.pad(np.asarray(a, dtype=np.float64).astype(dtype), r,
                        constant_values=np.nan) for b, a in bands.items()}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        outs = fn(padded)
    res = {}
    for c in ocols:
        o = np.asarray(outs[c]).astype(dtype).astype(np.float64)
        res[c] = np.where(np.isfinite(o), o, np.nan)
    return res


def _hotspots_ref(a, kernel):
    """numpy hotspots: z of the kernel-mean convolution against the
    raster's global mean / population std, then the 90/95/99 ladder
    (reference focal.py:882-915); NaN z -> class 0."""
    finite = a[np.isfinite(a)]
    r = max(kernel.shape) // 2
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        conv = convolve_numpy(np.pad(a, r, constant_values=np.nan),
                              kernel / kernel.sum())
    z = (conv - finite.mean()) / finite.std()
    az = np.abs(z)
    conf = np.select([az > 2.58, az > 1.96, az > 1.65], [99.0, 95.0, 90.0], 0.0)
    return np.where(np.isnan(z), 0.0, np.sign(z) * conf)


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
def test_surface_tiled_matches_long(spark, monkeypatch, arr, op, kwargs):
    df = raster.df_from_numpy(spark, arr)
    expected = raster.numpy_from_df(op(df, tile_h=32, tile_w=32, **kwargs))
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    got = tiled.numpy_from_tiled(op(tdf, **kwargs))
    np.testing.assert_allclose(got, expected, rtol=1e-6, equal_nan=True)
    ref = _whole_array(monkeypatch, surface, op, {"value": arr}, **kwargs)["value"]
    np.testing.assert_allclose(got, ref, rtol=1e-6, equal_nan=True)
    np.testing.assert_allclose(expected, ref, rtol=1e-6, equal_nan=True)


def test_focal_mean_tiled_matches_long(spark, monkeypatch, arr):
    df = raster.df_from_numpy(spark, arr)
    expected = raster.numpy_from_df(focal.mean(df, tile_h=32, tile_w=32))
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    got = tiled.numpy_from_tiled(focal.mean(tdf))
    np.testing.assert_allclose(got, expected, rtol=1e-12, equal_nan=True)
    ref = _whole_array(monkeypatch, focal, focal.mean, {"value": arr})["value"]
    np.testing.assert_allclose(got, ref, rtol=1e-12, equal_nan=True)
    np.testing.assert_allclose(expected, ref, rtol=1e-12, equal_nan=True)


def test_focal_stats_radius2_tiled(spark, monkeypatch, arr):
    k = circle_kernel(1, 1, 2.5)
    df = raster.df_from_numpy(spark, arr)
    long_out = focal.focal_stats(df, k, stats_funcs=("mean", "max", "sum"),
                                 tile_h=32, tile_w=32)
    tdf = tiled.tile(df, tile_h=32, tile_w=32)
    tiled_out = focal.focal_stats(tdf, k, stats_funcs=("mean", "max", "sum"))
    ref = _whole_array(monkeypatch, focal, focal.focal_stats, {"value": arr},
                       kernel=k, stats_funcs=("mean", "max", "sum"))
    for c in ("mean", "max", "sum"):
        np.testing.assert_allclose(
            tiled.numpy_from_tiled(tiled_out, value_col=c),
            raster.numpy_from_df(long_out, value_col=c),
            rtol=1e-12, equal_nan=True,
        )
        for got in (tiled.numpy_from_tiled(tiled_out, value_col=c),
                    raster.numpy_from_df(long_out, value_col=c)):
            np.testing.assert_allclose(got, ref[c], rtol=1e-12, equal_nan=True)


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
    ref = _hotspots_ref(a, k)
    assert (np.abs(ref) == 99.0).any()
    np.testing.assert_array_equal(got, ref)
    np.testing.assert_array_equal(expected, ref)


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
def test_halo_across_super_tiles_matches_long(spark, monkeypatch, arr, dtype):
    """16-px tiles on the 70x93 raster: 5x6 ragged tiles spanning 2x2
    super-tiles, so halos come both from sibling tiles in the same
    group and from strips sent across super-tile boundaries.  Slope,
    focal_stats at r=2 (JVM message projection) and at r=10 (Python
    emitter) match the long-form path and the whole-array kernel."""
    df = raster.df_from_numpy(spark, arr)
    tdf = tiled.tile(df, tile_h=16, tile_w=16, dtype=dtype).persist()
    rtol = 1e-12 if dtype == np.float64 else 1e-5
    stats = ("mean", "max")
    try:
        assert tdf.count() == 30
        got = tiled.numpy_from_tiled(surface.slope(tdf))
        np.testing.assert_allclose(
            got,
            raster.numpy_from_df(surface.slope(df, tile_h=32, tile_w=32)),
            rtol=max(rtol, 1e-6), equal_nan=True,
        )
        np.testing.assert_allclose(
            got, _whole_array(monkeypatch, surface, surface.slope,
                              {"value": arr}, dtype=dtype)["value"],
            rtol=rtol, equal_nan=True)
        for k in (circle_kernel(1, 1, 2.5), np.ones((21, 21))):
            long_out = focal.focal_stats(df, k, stats_funcs=stats,
                                         tile_h=32, tile_w=32)
            tiled_out = focal.focal_stats(tdf, k, stats_funcs=stats)
            ref = _whole_array(monkeypatch, focal, focal.focal_stats,
                               {"value": arr}, dtype=dtype, kernel=k,
                               stats_funcs=stats)
            for c in stats:
                np.testing.assert_allclose(
                    tiled.numpy_from_tiled(tiled_out, value_col=c),
                    raster.numpy_from_df(long_out, value_col=c),
                    rtol=rtol, equal_nan=True,
                )
                np.testing.assert_allclose(
                    tiled.numpy_from_tiled(tiled_out, value_col=c), ref[c],
                    rtol=rtol, equal_nan=True)
    finally:
        tdf.unpersist()


def test_halo_radius_up_to_tile_size(spark, monkeypatch):
    """A radius equal to the tile size is exact; one past it raises a
    ValueError naming the radius and the tile, instead of returning
    cells that miss the halo from tiles two away."""
    rng = np.random.default_rng(5)
    a = rng.uniform(0, 10, (72, 72))  # 16-px tiles: 5x5, 2x2 super-tiles
    df = raster.df_from_numpy(spark, a)
    tdf = tiled.tile(df, tile_h=16, tile_w=16)
    k16 = np.ones((33, 33))
    got = tiled.numpy_from_tiled(
        focal.focal_stats(tdf, k16, stats_funcs=("mean",)), value_col="mean")
    np.testing.assert_allclose(
        got,
        raster.numpy_from_df(
            focal.focal_stats(df, k16, stats_funcs=("mean",),
                              tile_h=32, tile_w=32),
            value_col="mean"),
        rtol=1e-12, equal_nan=True,
    )
    ref = _whole_array(monkeypatch, focal, focal.focal_stats, {"value": a},
                       kernel=k16, stats_funcs=("mean",))["mean"]
    np.testing.assert_allclose(got, ref, rtol=1e-12, equal_nan=True)
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


def _long_rows(spark, bands, keep):
    """Long-form rows of the cells where ``keep`` holds, one column
    per band; non-finite values become NULL."""
    import pandas as pd

    yy, xx = np.nonzero(keep)
    data = {"y": yy.astype(np.int32), "x": xx.astype(np.int32)}
    for b, a in bands.items():
        v = pd.Series(np.asarray(a, dtype=np.float64)[yy, xx])
        data[b] = v.where(np.isfinite(v), None)
    schema = "y int, x int, " + ", ".join(f"{b} double" for b in bands)
    return spark.createDataFrame(pd.DataFrame(data), schema=schema)


def _masks(shape):
    """Sparse layouts of a long-form raster: absent interior cells, a
    partial last row (an events raster whose row count is not a
    multiple of its width) and a crop offset from the origin."""
    h, w = shape
    holes = np.random.default_rng(11).random(shape) > 0.25
    partial = np.ones(shape, bool)
    partial[-1, w // 3:] = False
    crop = np.zeros(shape, bool)
    crop[9:h - 6, 13:w - 4] = True
    return {"holes": holes, "partial_last_row": partial, "crop": crop}


def _scatter(pdf, col, shape):
    out = np.full(shape, np.nan)
    out[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = pdf[col].to_numpy(
        dtype=np.float64, na_value=np.nan)
    return out


def test_long_form_adapter_sparse_stencils(spark, monkeypatch):
    """Long-form stencils on sparse input, with NULL values: an absent
    cell is NaN in every window (as it would be in the whole array),
    and exactly the input's cells come back, one row each."""
    rng = np.random.default_rng(12)
    shape = (37, 45)
    a = rng.uniform(0, 50, shape)
    a[4, 6] = a[20, 30] = np.nan  # NULL values
    k = circle_kernel(1, 1, 2.5)
    cases = [
        (surface, surface.slope, {}, ("value",)),
        (focal, focal.focal_stats,
         {"kernel": k, "stats_funcs": ("mean", "max")}, ("mean", "max")),
    ]
    for name, keep in _masks(shape).items():
        df = _long_rows(spark, {"value": a}, keep)
        src = np.where(keep, a, np.nan)
        for mod, op, kw, cols in cases:
            out = op(df, tile_h=16, tile_w=16, **kw)
            assert out.columns == ["y", "x", *cols]
            pdf = out.toPandas()
            assert len(pdf) == keep.sum(), (name, op.__name__)
            assert set(zip(pdf["y"], pdf["x"])) == set(zip(*np.nonzero(keep)))
            ref = _whole_array(monkeypatch, mod, op, {"value": src}, **kw)
            for c in cols:
                np.testing.assert_allclose(
                    _scatter(pdf, c, shape), np.where(keep, ref[c], np.nan),
                    rtol=1e-12, equal_nan=True, err_msg=f"{name} {c}")


def test_long_form_adapter_multiband(spark, monkeypatch):
    """A multi-band stencil (value, lat, lon) on sparse long-form rows
    with a NULL latitude matches its kernel on the whole arrays."""
    rng = np.random.default_rng(13)
    shape = (30, 41)
    bands = {
        "value": rng.uniform(0, 500, shape),
        "lat": np.linspace(40, 41, shape[0])[:, None] * np.ones((1, shape[1])),
        "lon": np.linspace(-3, -2, shape[1])[None, :] * np.ones((shape[0], 1)),
    }
    bands["lat"][7, 9] = np.nan
    keep = _masks(shape)["partial_last_row"] & (rng.random(shape) > 0.03)
    df = _long_rows(spark, bands, keep)
    pdf = surface.geodesic_slope(df, out_col="s", tile_h=16, tile_w=16).toPandas()
    assert len(pdf) == keep.sum()
    ref = _whole_array(monkeypatch, surface, surface.geodesic_slope,
                       {b: np.where(keep, v, np.nan) for b, v in bands.items()},
                       out_col="s")["s"]
    assert np.isfinite(ref[keep]).sum() > keep.sum() // 2
    np.testing.assert_allclose(_scatter(pdf, "s", shape),
                               np.where(keep, ref, np.nan),
                               rtol=1e-12, equal_nan=True)


def test_negative_cell_raises(spark):
    """Tiled rasters start at (0, 0): a negative y or x raises a
    ValueError naming the cell instead of losing its halo."""
    df = spark.createDataFrame([(0, 0, 1.0), (-1, 3, 2.0)],
                               "y int, x int, value double")
    msg = r"ValueError: cell \(y=-1, x=3\) has a negative coordinate"
    with pytest.raises(Exception, match=msg):
        tiled.tile(df, tile_h=4, tile_w=4, shape=(1, 4)).collect()
    with pytest.raises(Exception, match=msg):
        surface.slope(df, tile_h=4, tile_w=4).collect()
