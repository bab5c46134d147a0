"""Halo stencil entry point — the engine's core custom operator (no
Spark primitive exists for this).

The reference runs every stencil through dask ``map_overlap`` with an
NaN boundary (focal.py:70-76, 329-340; slope.py:86-98;
convolution.py:316-325; proximity.py:603-627).  The Spark re-plan has
one halo plan, ``tiled.apply_stencil_tiled``: tiles travel whole to
their own 4x4 super-tile's group, border strips to neighbouring
super-tiles, and each group assembles its NaN-padded tiles with numpy
slices — one shuffle, about the raster's bytes.  ``apply_stencil``
only picks the input format: a tiled raster runs the plan directly, a
long-form raster (one row per cell) runs it through ``tiled._via_tiles``,
whose presence band keeps absent cells NaN in every window and returns
the input's cells only.

Constraint mirrored from dask (halo depth <= chunk size): radius must
not exceed tile_h/tile_w.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame

DEFAULT_TILE = 256

# fn(arrs: dict[col -> (H, W) float64 padded array], radius) ->
#    dict[out_col -> (tile_h, tile_w) array for the interior]
StencilFn = Callable[[dict[str, np.ndarray]], dict[str, np.ndarray]]


def apply_stencil(
    df: DataFrame,
    fn: StencilFn,
    radius: int,
    value_cols: Sequence[str] = ("value",),
    out_cols: Sequence[str] = ("value",),
    tile_h: int = DEFAULT_TILE,
    tile_w: int = DEFAULT_TILE,
) -> DataFrame:
    """Run a vectorized-numpy stencil over every tile with halo.

    Input: long-form raster (y, x, *value_cols) OR a dense tiled
    raster (ty, tx, h, w, <band> binary — see
    ``xarray_spatial_spark.tiled``), detected by schema.  Output
    format matches the input format.  ``fn`` receives NaN-padded
    dense arrays of shape (tile_h+2r, tile_w+2r) and returns
    interior-shaped (tile_h, tile_w) arrays.  ``tile_h``/``tile_w``
    size the long-form input's tiles only: a tiled input keeps its
    own.  A long-form output has one row per input cell, non-finite
    values NULL."""
    from xarray_spatial_spark import tiled as _tiled

    if _tiled.is_tiled(df):
        return _tiled.apply_stencil_tiled(
            df, fn, radius, value_cols=value_cols, out_cols=out_cols,
        )
    if radius > min(tile_h, tile_w):
        raise ValueError(
            f"radius {radius} exceeds tile size ({tile_h}x{tile_w}); "
            "use larger tiles (dask mirror: depth <= chunk size)"
        )
    r = int(radius)
    bands = list(value_cols)
    ocols = list(out_cols)
    present = _tiled.PRESENT

    def _fn(arrs: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
        p = arrs[present]
        return {**fn({c: arrs[c] for c in bands}),
                present: p[r:p.shape[0] - r, r:p.shape[1] - r]}

    def _run(tdf: DataFrame) -> DataFrame:
        return _tiled.apply_stencil_tiled(
            tdf, _fn, r, value_cols=[*bands, present],
            out_cols=[*ocols, present])

    return _tiled._via_tiles(df, bands, tile_h, tile_w, _run, ocols)


def windows(arr: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """(H-kh+1, W-kw+1, kh, kw) sliding windows (no copy) — for a padded
    tile with radius (kh//2, kw//2) the leading dims are exactly the
    interior shape."""
    return np.lib.stride_tricks.sliding_window_view(arr, (kh, kw))
