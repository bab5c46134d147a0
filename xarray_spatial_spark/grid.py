"""Hierarchical spatial cell index + raster grid spec (from scratch).

Two related concepts:

1. **Geographic cell index** (H3/S2-style, but built from scratch as a
   Web-Mercator quadtree): a point (lon, lat) maps at zoom ``z`` to an
   integer tile ``(xt, yt)``; the pair is Morton-interleaved and packed
   with the zoom into one int64 ``cell_id``.  ``parent``, ``children``,
   ``neighbors`` and ``ring`` are O(1) bit ops — all vectorized numpy so
   they run inside Arrow-batched pandas UDFs, plus Spark Column
   variants for the Catalyst-native path.

   Layout (63 usable bits):  ``cell_id = (z << 58) | morton(xt, yt)``
   for z in [0, 28].

2. **GridSpec** — the dense-raster coordinate metadata of the reference
   (``attrs['res']``/coords; see reference xrspatial/utils.py:233-277
   ``get_dataarray_resolution`` and tests/general_checks.py:30-61
   ``create_test_raster``).  A raster is stored long-form, one cell per
   row ``(y:int, x:int, value:double)``; GridSpec is a tiny broadcast
   manifest carrying origin/resolution/shape, never per-cell data.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_ZOOM = 28
_ZOOM_SHIFT = 58

# ---------------------------------------------------------------------------
# Morton (Z-order) interleave — vectorized numpy bit tricks
# ---------------------------------------------------------------------------


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 28 bits of v so there is a 0 bit between each."""
    v = v.astype(np.uint64) & np.uint64(0x0FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x000000000FFFFFFF)
    return v


def morton_encode(xt: np.ndarray, yt: np.ndarray) -> np.ndarray:
    return _part1by1(np.asarray(xt)) | (_part1by1(np.asarray(yt)) << np.uint64(1))


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(m).astype(np.uint64)
    return _compact1by1(m), _compact1by1(m >> np.uint64(1))


# ---------------------------------------------------------------------------
# lon/lat -> tile (Web-Mercator, slippy-map convention)
# ---------------------------------------------------------------------------


def lnglat_to_tile(
    lon: np.ndarray, lat: np.ndarray, zoom: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized lon/lat -> integer tile coordinates at ``zoom``.

    Latitude is clamped to the Web-Mercator domain (±85.05113°).
    """
    n = float(1 << zoom)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    xt = np.floor((lon + 180.0) / 360.0 * n)
    lat_rad = np.radians(lat)
    yt = np.floor((1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / math.pi) / 2.0 * n)
    xt = np.clip(xt, 0, n - 1).astype(np.int64)
    yt = np.clip(yt, 0, n - 1).astype(np.int64)
    return xt, yt


def encode(xt: np.ndarray, yt: np.ndarray, zoom: int) -> np.ndarray:
    """Pack (tile_x, tile_y, zoom) into an int64 cell id."""
    if not 0 <= zoom <= MAX_ZOOM:
        raise ValueError(f"zoom must be in [0, {MAX_ZOOM}]")
    m = morton_encode(np.asarray(xt), np.asarray(yt))
    return ((np.uint64(zoom) << np.uint64(_ZOOM_SHIFT)) | m).astype(np.int64)


def decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell).astype(np.uint64)
    zoom = (c >> np.uint64(_ZOOM_SHIFT)).astype(np.int64)
    xt, yt = morton_decode(c & np.uint64((1 << _ZOOM_SHIFT) - 1))
    return xt.astype(np.int64), yt.astype(np.int64), zoom


def cell_of(lon: np.ndarray, lat: np.ndarray, zoom: int) -> np.ndarray:
    xt, yt = lnglat_to_tile(lon, lat, zoom)
    return encode(xt, yt, zoom)


def parent(cell: np.ndarray, parent_zoom: int) -> np.ndarray:
    """Ancestor cell at a coarser zoom — pure bit shift (tile = partition key)."""
    c = np.asarray(cell).astype(np.uint64)
    zoom = (c >> np.uint64(_ZOOM_SHIFT)).astype(np.int64)
    if np.any(zoom < parent_zoom):
        raise ValueError("parent_zoom must be <= cell zoom")
    m = c & np.uint64((1 << _ZOOM_SHIFT) - 1)
    shift = (2 * (zoom - parent_zoom)).astype(np.uint64)
    pm = m >> shift
    return ((np.uint64(parent_zoom) << np.uint64(_ZOOM_SHIFT)) | pm).astype(np.int64)


def children(cell: int) -> np.ndarray:
    """The four child cells one zoom finer (driver-side helper)."""
    c = np.uint64(cell)
    zoom = int(c >> np.uint64(_ZOOM_SHIFT))
    m = int(c & np.uint64((1 << _ZOOM_SHIFT) - 1))
    base = np.uint64((zoom + 1) << _ZOOM_SHIFT)
    return np.array(
        [np.int64(base | np.uint64((m << 2) | q)) for q in range(4)], dtype=np.int64
    )


def neighbors_disk(cell: np.ndarray, radius: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance ``radius`` (incl. self) of each
    input cell — the cell-ring expansion primitive for kNN / halo joins.

    Returns shape ``(len(cell), (2r+1)^2)``; out-of-domain tiles clamp to
    the torus in x (longitude wraps) and clip in y.
    """
    xt, yt, zoom = decode(np.asarray(cell))
    n = (np.int64(1) << zoom.astype(np.int64))
    offs = np.arange(-radius, radius + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="xy")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (xt[:, None] + dx) % n[:, None]  # wrap lon
    ny = np.clip(yt[:, None] + dy, 0, n[:, None] - 1)
    z = int(zoom[0]) if len(zoom) else 0
    out = encode(nx.ravel(), ny.ravel(), z).reshape(nx.shape)
    return out


def neighbors_rect(cell: np.ndarray, rx: int, ry: int) -> np.ndarray:
    """Rectangular cell neighborhood: Chebyshev rx in x, ry in y —
    the mercator-aware variant of ``neighbors_disk`` (cell lat-span
    shrinks by cos(lat), so bounding a fixed degree radius needs a
    taller ring near the poles).  Shape (len(cell), (2rx+1)(2ry+1));
    lon wraps, lat clips."""
    xt, yt, zoom = decode(np.asarray(cell))
    n = (np.int64(1) << zoom.astype(np.int64))
    ox = np.arange(-rx, rx + 1, dtype=np.int64)
    oy = np.arange(-ry, ry + 1, dtype=np.int64)
    dx, dy = np.meshgrid(ox, oy, indexing="xy")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (xt[:, None] + dx) % n[:, None]
    ny = np.clip(yt[:, None] + dy, 0, n[:, None] - 1)
    z = int(zoom[0]) if len(zoom) else 0
    return encode(nx.ravel(), ny.ravel(), z).reshape(nx.shape)


def neighbors_span(cell: np.ndarray, rx: int, up: int, dn: int) -> np.ndarray:
    """Asymmetric rectangular neighborhood: Chebyshev ``rx`` in x
    (wraps), y offsets ``-up .. +dn`` (clips).  The exact-cover variant
    of ``neighbors_rect``: mercator tile lat-spans shrink toward the
    poles asymmetrically, so an exact degree-radius cover needs
    per-point up/down spans computed from the tile rows of
    ``lat ± radius`` (see proximity.knn_ring_join).  Shape
    ``(len(cell), min(2rx+1, 2^zoom)(up+dn+1))``: a span wider than
    the world holds each column once.  ``cell`` shares one zoom."""
    xt, yt, zoom = decode(np.asarray(cell))
    n = (np.int64(1) << zoom.astype(np.int64))
    z = int(zoom[0]) if len(zoom) else 0
    ox = np.arange(-rx, rx + 1, dtype=np.int64)[:1 << z]
    oy = np.arange(-up, dn + 1, dtype=np.int64)
    dx, dy = np.meshgrid(ox, oy, indexing="xy")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (xt[:, None] + dx) % n[:, None]
    ny = np.clip(yt[:, None] + dy, 0, n[:, None] - 1)
    return encode(nx.ravel(), ny.ravel(), z).reshape(nx.shape)


def ring(cell: np.ndarray, radius: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance ``radius``."""
    if radius == 0:
        return np.asarray(cell).reshape(-1, 1)
    disk = neighbors_disk(cell, radius)
    k = 2 * radius + 1
    mask = np.zeros((k, k), dtype=bool)
    mask[0, :] = mask[-1, :] = mask[:, 0] = mask[:, -1] = True
    return disk[:, mask.ravel()]


def tile_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell (driver-side)."""
    xt, yt, zoom = (int(v[0]) for v in decode(np.array([cell])))
    n = float(1 << zoom)

    def _lat(y: float) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))

    lon_min = xt / n * 360.0 - 180.0
    lon_max = (xt + 1) / n * 360.0 - 180.0
    return lon_min, _lat(yt + 1), lon_max, _lat(yt)


# ---------------------------------------------------------------------------
# Catalyst-native Column variants (JVM-side, codegen'd — no Python)
# ---------------------------------------------------------------------------


def tile_x_col(lon: Column, zoom: int) -> Column:
    n = float(1 << zoom)
    xt = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.least(F.greatest(xt, F.lit(0)), F.lit(int(n) - 1)).cast("long")


def tile_y_col(lat: Column, zoom: int) -> Column:
    n = float(1 << zoom)
    lat_c = F.least(F.greatest(lat, F.lit(-85.05112878)), F.lit(85.05112878))
    lat_rad = F.radians(lat_c)
    yt = F.floor(
        (F.lit(1.0) - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(n)
    )
    return F.least(F.greatest(yt, F.lit(0)), F.lit(int(n) - 1)).cast("long")


def _part1by1_col(v: Column) -> Column:
    """Column-expression Morton bit-spread — same constants as the
    numpy `_part1by1`; ~12 codegen'd bit ops, no Python."""
    v = v.bitwiseAND(F.lit(0x0FFFFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return v


def _compact1by1_col(v: Column) -> Column:
    """Column-expression inverse interleave — mirror of numpy
    `_compact1by1`; codegen'd bit ops, no Python."""
    v = v.bitwiseAND(F.lit(0x5555555555555555))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 1))).bitwiseAND(
        F.lit(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 2))).bitwiseAND(
        F.lit(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 4))).bitwiseAND(
        F.lit(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 8))).bitwiseAND(
        F.lit(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 16))).bitwiseAND(
        F.lit(0x000000000FFFFFFF))
    return v


def cell_decode_cols(cell: Column) -> tuple[Column, Column, Column]:
    """JVM-native unpack of a cell id -> (zoom, tile_x, tile_y) —
    the Column twin of numpy ``decode`` (same bit layout)."""
    zoom = F.shiftrightunsigned(cell, _ZOOM_SHIFT)
    m = cell.bitwiseAND(F.lit((1 << _ZOOM_SHIFT) - 1))
    xt = _compact1by1_col(m)
    yt = _compact1by1_col(F.shiftrightunsigned(m, 1))
    return zoom.cast("int"), xt.cast("long"), yt.cast("long")


def cell_from_tiles_col(xt: Column, yt: Column, zoom: int) -> Column:
    """Pack (tile_x, tile_y, zoom) Columns into the int64 cell id —
    codegen twin of numpy ``encode``."""
    if not 0 <= zoom <= MAX_ZOOM:
        raise ValueError(f"zoom must be in [0, {MAX_ZOOM}]")
    m = _part1by1_col(xt).bitwiseOR(F.shiftleft(_part1by1_col(yt), 1))
    return F.lit(zoom << _ZOOM_SHIFT).bitwiseOR(m)


def cell_col(lon: Column, lat: Column, zoom: int) -> Column:
    """Fully JVM-native packed cell id — identical bits to numpy
    ``cell_of`` but whole-stage-codegen (the production hot path of
    ``operators.tiling.assign_cells``; tests pin it to ``cell_of``)."""
    return cell_from_tiles_col(
        tile_x_col(lon, zoom), tile_y_col(lat, zoom), zoom)


def parent_col(cell: Column, cell_zoom: int, parent_zoom: int) -> Column:
    """JVM-native ancestor cell — two shifts and an OR."""
    if parent_zoom > cell_zoom:
        raise ValueError("parent_zoom must be <= cell zoom")
    m = cell.bitwiseAND(F.lit((1 << _ZOOM_SHIFT) - 1))
    return F.lit(parent_zoom << _ZOOM_SHIFT).bitwiseOR(
        F.shiftrightunsigned(m, 2 * (cell_zoom - parent_zoom))
    )


def flat_cell_col(lon: Column, lat: Column, zoom: int) -> Column:
    """Non-Morton packed id ``xt * 2^z + yt`` — simple arithmetic so the
    identical formula runs in any ANSI-SQL oracle (DuckDB parity)."""
    n = 1 << zoom
    return (tile_x_col(lon, zoom) * F.lit(n) + tile_y_col(lat, zoom)).alias("cell_flat")


# ---------------------------------------------------------------------------
# Dense-raster GridSpec (reference coords/attrs analog)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GridSpec:
    """Raster coordinate metadata: the analog of the reference's
    ``DataArray`` coords + ``attrs['res']``.

    ``y_coords``/``x_coords`` follow reference tests/general_checks.py:43-46:
    y descending from ``(h-1)*res_y`` to 0, x ascending from 0.
    """

    height: int
    width: int
    x0: float = 0.0
    y0: float = 0.0
    xres: float = 1.0
    yres: float = 1.0  # positive magnitude; y axis descends
    unit: str = "meter"

    def x_coord(self, x: np.ndarray) -> np.ndarray:
        return self.x0 + np.asarray(x) * self.xres

    def y_coord(self, y: np.ndarray) -> np.ndarray:
        return self.y0 + (self.height - 1 - np.asarray(y)) * self.yres

    @property
    def cellsize(self) -> tuple[float, float]:
        return (self.xres, self.yres)

    def tile_id_col(self, tile_h: int, tile_w: int) -> Column:
        """Partition key for halo-tile ops: row-major tile index."""
        tiles_x = -(-self.width // tile_w)
        return (
            (F.col("y") / F.lit(tile_h)).cast("long") * F.lit(tiles_x)
            + (F.col("x") / F.lit(tile_w)).cast("long")
        )
