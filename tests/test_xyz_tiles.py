"""XYZ PNG tile sink: pixel-exact reassembly through the from-scratch
PNG codec, overview downsample semantics, file layout, sparse edges."""

import os

import numpy as np
import pandas as pd

from xarray_spatial_spark.operators.multimodal import decode_png
from xarray_spatial_spark.sources.xyz_tiles import (
    TILE_PX,
    downsample_rgba,
    render_xyz_tiles,
    write_xyz_tiles,
)


def pack(img: np.ndarray) -> np.ndarray:
    """(h, w, 4) uint8 -> int64 RGBA words."""
    v = img.astype(np.int64)
    return v[..., 0] | (v[..., 1] << 8) | (v[..., 2] << 16) | (v[..., 3] << 24)


def pixel_df(spark, img: np.ndarray):
    h, w = img.shape[:2]
    ys, xs = np.mgrid[0:h, 0:w]
    rgba = pack(img)
    keep = img[..., 3] > 0  # sparse frame: only opaque pixels stored
    pdf = pd.DataFrame({
        "x": xs[keep], "y": ys[keep], "rgba": rgba[keep]
    })
    return spark.createDataFrame(pdf)


def gradient_world(h, w) -> np.ndarray:
    ys, xs = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 4), dtype=np.uint8)
    img[..., 0] = (xs % 256).astype(np.uint8)
    img[..., 1] = (ys % 256).astype(np.uint8)
    img[..., 2] = ((xs + ys) % 256).astype(np.uint8)
    img[..., 3] = 255
    return img


def test_base_level_reassembles_pixel_exact(spark):
    world = gradient_world(512, 512)  # pixel_zoom 9 -> tile zooms 1, 0
    tiles = render_xyz_tiles(pixel_df(spark, world), pixel_zoom=9).collect()
    base = [t for t in tiles if t.z == 1]
    assert len(base) == 4
    got = np.zeros_like(world)
    for t in base:
        img = decode_png(bytes(t.png))
        assert img.shape == (TILE_PX, TILE_PX, 4)
        got[t.ty * 256:(t.ty + 1) * 256, t.tx * 256:(t.tx + 1) * 256] = img
        assert t.n_px == 256 * 256
    np.testing.assert_array_equal(got, world)


def test_overview_is_floor_mean_of_children(spark):
    world = gradient_world(512, 512)
    tiles = {(t.z, t.tx, t.ty): t
             for t in render_xyz_tiles(pixel_df(spark, world),
                                       pixel_zoom=9).collect()}
    ov = decode_png(bytes(tiles[(0, 0, 0)].png))
    # dense world: every 2x2 block fully present -> plain floor-mean
    want = (world.astype(np.int64).reshape(256, 2, 256, 2, 4)
            .sum(axis=(1, 3)) // 4).astype(np.uint8)
    np.testing.assert_array_equal(ov, want)


def test_sparse_world_edges_transparent(spark):
    world = np.zeros((300, 200, 4), dtype=np.uint8)
    world[10:50, 20:60] = (200, 100, 50, 255)
    tiles = render_xyz_tiles(pixel_df(spark, world), pixel_zoom=9).collect()
    base = {(t.tx, t.ty): t for t in tiles if t.z == 1}
    # only tile (0, 0) has opaque pixels at the base level
    assert set(base) == {(0, 0)}
    img = decode_png(bytes(base[(0, 0)].png))
    np.testing.assert_array_equal(img[10:50, 20:60],
                                  world[10:50, 20:60])
    assert (img[..., 3] > 0).sum() == 40 * 40
    assert base[(0, 0)].n_px == 40 * 40


def test_downsample_ignores_absent_children(spark):
    # one present child in a 2x2 block: mean over PRESENT pixels only
    pdf = pd.DataFrame({"x": [4], "y": [6], "rgba": [pack(
        np.array([[[100, 200, 40, 255]]], dtype=np.uint8))[0, 0]]})
    out = downsample_rgba(spark.createDataFrame(pdf)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.x, r.y) == (2, 3)
    v = int(r.rgba)
    assert [(v >> s) & 0xFF for s in (0, 8, 16, 24)] == [100, 200, 40, 255]


def test_write_xyz_layout(spark, tmp_path):
    world = gradient_world(256, 256)  # single tile world
    tiles = render_xyz_tiles(pixel_df(spark, world), pixel_zoom=8)
    out = str(tmp_path / "tiles")
    write_xyz_tiles(tiles, out)
    p = os.path.join(out, "0", "0", "0.png")
    assert os.path.exists(p)
    with open(p, "rb") as f:
        img = decode_png(f.read())
    np.testing.assert_array_equal(img, world)
    # parquet artifact readable with the same bytes
    art = spark.read.parquet(os.path.join(out, "_tiles.parquet")).collect()
    assert len(art) == 1 and bytes(art[0].png) == open(p, "rb").read()


def test_render_builds_without_eval_type_warning(spark):
    """The per-tile pandas kernel annotates its key, so PySpark infers
    the grouped-map eval type without a UserWarning."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        render_xyz_tiles(pixel_df(spark, gradient_world(4, 4)), pixel_zoom=1)
