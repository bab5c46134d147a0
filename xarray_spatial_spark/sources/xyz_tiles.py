"""XYZ / slippy-map PNG tile sink — the tile-server artifact.

The north star names a "tiling engine"; this module makes the word
literal: a long-form RGBA pixel frame (what functions/viz.py's
``bands_to_img_expr`` / ``color_values_expr`` produce) becomes the
``{z}/{x}/{y}.png`` directory every web-map client (Leaflet /
OpenLayers / MapLibre) reads, plus a parquet artifact of the same
tiles for lakehouse storage and incremental re-render.

Coordinate model: the input frame lives in a 2^p x 2^p "pixel world"
(``pixel_zoom`` p — e.g. a zoom-10 cell grid rendered 1 px/cell has
p = 10).  With 256 = 2^8 px per tile, tile zoom z covers pixels at
p' = z + 8, so the deepest tile level is ``p - 8`` and each overview
level halves the pixel grid.

Plan, per level (pure DataFrame ops + one Arrow encode stage):

1. tile assignment is a bit shift (``x >> 8``) — the groupBy key;
2. ``applyInPandas`` per tile assembles the 256x256 RGBA array
   (missing pixels transparent) and runs the from-scratch PNG
   encoder (operators/multimodal.encode_png — the library the
   codec tier already bit-validates against libpng);
3. overviews: 2x2 mean per channel (unpack -> avg -> floor -> pack,
   whole-stage codegen), then re-tile.  Level l+1 re-aggregates
   level l's pixels, so the source frame is scanned once.

Scale: pixels shuffle once per level and levels shrink 4x each, so
total shuffle volume is <= 4/3 of the base frame; each task holds
one 256 KB tile.  ``write_xyz_tiles`` materializes files from the
executors (foreachPartition) — on a real deployment the same rows
go to object storage; the parquet artifact IS the durable form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TILE_PX = 256


def _channel(col, shift: int):
    return (F.shiftright(col.cast("long"), shift) % 256).cast("long")


def downsample_rgba(
    pixels: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    rgba_col: str = "rgba",
) -> DataFrame:
    """One overview step: 2x2 pixel blocks -> one pixel, per-channel
    mean over the PRESENT children (floor; absent children don't
    dilute the average — edge tiles keep their intensity)."""
    c = F.col(rgba_col)
    chans = [_channel(c, s).alias(f"_c{i}") for i, s in
             enumerate((0, 8, 16, 24))]
    g = (
        pixels.select(
            F.shiftright(F.col(x_col).cast("long"), 1).alias(x_col),
            F.shiftright(F.col(y_col).cast("long"), 1).alias(y_col),
            *chans,
        )
        .groupBy(x_col, y_col)
        .agg(*[F.floor(F.avg(f"_c{i}")).alias(f"_c{i}") for i in range(4)])
    )
    packed = (
        F.col("_c0") + F.col("_c1") * F.lit(1 << 8)
        + F.col("_c2") * F.lit(1 << 16) + F.col("_c3") * F.lit(1 << 24)
    )
    return g.select(x_col, y_col, packed.alias(rgba_col))


def _render_level(pixels: DataFrame, z: int) -> DataFrame:
    """Tile one pixel level: ``(z, tx, ty, png, n_px)``."""
    import numpy as np
    import pandas as pd

    def _one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from xarray_spatial_spark.operators.multimodal import encode_png

        tx, ty = int(key[0]), int(key[1])
        img = np.zeros((TILE_PX, TILE_PX, 4), dtype=np.uint8)
        px = pdf["x"].to_numpy(np.int64) - tx * TILE_PX
        py = pdf["y"].to_numpy(np.int64) - ty * TILE_PX
        v = pdf["rgba"].to_numpy(np.int64)
        for i, s in enumerate((0, 8, 16, 24)):
            img[py, px, i] = (v >> s) & 0xFF
        return pd.DataFrame({
            "z": [z], "tx": [tx], "ty": [ty],
            "png": [encode_png(img)], "n_px": [len(pdf)],
        })

    keyed = pixels.select(
        F.shiftright(F.col("x").cast("long"), 8).alias("tx"),
        F.shiftright(F.col("y").cast("long"), 8).alias("ty"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("rgba").cast("long").alias("rgba"),
    )
    return keyed.groupBy("tx", "ty").applyInPandas(
        _one, schema="z int, tx long, ty long, png binary, n_px long")


def render_xyz_tiles(
    pixels: DataFrame,
    pixel_zoom: int,
    min_zoom: int = 0,
    x_col: str = "x",
    y_col: str = "y",
    rgba_col: str = "rgba",
) -> DataFrame:
    """RGBA pixel frame at ``pixel_zoom`` -> PNG tiles for every tile
    zoom in ``[min_zoom, pixel_zoom - 8]`` (clamped at 0; a pixel
    world smaller than one tile renders as the single zoom-0 tile).

    Returns ``(z, tx, ty, png, n_px)``."""
    if pixel_zoom < 0:
        raise ValueError("pixel_zoom must be >= 0")
    max_tz = max(pixel_zoom - 8, 0)
    min_zoom = max(0, min(min_zoom, max_tz))
    cur = pixels.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y"),
        F.col(rgba_col).alias("rgba"),
    )
    levels = []
    for tz in range(max_tz, min_zoom - 1, -1):
        levels.append(_render_level(cur, tz))
        if tz > min_zoom:
            cur = downsample_rgba(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def write_xyz_tiles(
    tiles: DataFrame,
    out_dir: str,
    artifact: bool = True,
) -> None:
    """Materialize ``{out_dir}/{z}/{tx}/{ty}.png`` from the executors
    and (optionally) the parquet twin at ``{out_dir}/_tiles.parquet``
    — the durable form a tile CDN ingests."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(rows) -> None:
        for r in rows:
            d = os.path.join(out_dir, str(r["z"]), str(r["tx"]))
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".{r['ty']}.png.tmp")
            with open(tmp, "wb") as f:
                f.write(r["png"])
            os.replace(tmp, os.path.join(d, f"{r['ty']}.png"))

    tiles.foreachPartition(_write)
    if artifact:
        tiles.write.mode("overwrite").parquet(
            os.path.join(out_dir, "_tiles.parquet"))
