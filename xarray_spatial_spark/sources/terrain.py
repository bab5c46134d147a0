"""Synthetic raster sources: Perlin noise + multi-octave terrain.

Reference semantics: xrspatial/perlin.py (fade/gradient/lerp kernel
:28-75, seeded permutation + min-max scale :78-93) and
xrspatial/terrain.py (16 seeded octaves :40-61, /1.97 + cube + water
cutoff <0.3 + zfactor :50-80, range scaling :240-257).

Spark plan: the noise value of a cell is a pure function of its (x, y)
coordinate and the seeded permutation table(s) — embarrassingly
parallel.  ``spark.range(height)`` rows are the unit of work; each
Arrow batch computes its rows' full width vectorized against the
broadcast permutation tables (one 8 MB table per octave; 16 for
terrain).  The min-max normalization is the standard two-job
global-then-local pattern (same as the reference's eager np.min/ptp).

Seeding matches the reference exactly: legacy ``np.random.seed(s);
np.random.permutation(2**20)`` (RandomState stream is stable across
numpy versions), so a single-node numpy evaluation of the same formula
reproduces the distributed output bit-for-bit; the reference's own
numpy path agrees to float32 rounding.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fade(t):
    return 6 * t**5 - 15 * t**4 + 10 * t**3


def _gradient_dot(h, x, y):
    """Vectorized gradient selection: h mod 4 -> one of 4 unit vectors,
    dotted with (x, y) (reference perlin.py:39-48)."""
    f = np.mod(h, 4)
    gx = np.where(f == 2, 1.0, np.where(f == 3, -1.0, 0.0))
    gy = np.where(f == 0, 1.0, np.where(f == 1, -1.0, 0.0))
    return gx * x + gy * y


def perlin_field(p: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """The reference `_perlin` kernel (perlin.py:51-74), vectorized."""
    xi = x.astype(int)
    yi = y.astype(int)
    xf = x - xi
    yf = y - yi
    u = _fade(xf)
    v = _fade(yf)
    n00 = _gradient_dot(p[p[xi] + yi], xf, yf)
    n01 = _gradient_dot(p[p[xi] + yi + 1], xf, yf - 1)
    n11 = _gradient_dot(p[p[xi + 1] + yi + 1], xf - 1, yf - 1)
    n10 = _gradient_dot(p[p[xi + 1] + yi], xf - 1, yf)
    x1 = n00 + u * (n10 - n00)
    x2 = n01 + u * (n11 - n01)
    return x1 + v * (x2 - x1)


def _perm(seed: int, dtype=np.int64) -> np.ndarray:
    np.random.seed(seed)
    if dtype == np.int32:
        p = np.random.permutation(np.arange(2**20, dtype=np.int32))
    else:
        p = np.random.permutation(2**20)
    return np.append(p, p)


def _raw_rows(
    spark: SparkSession,
    width: int,
    height: int,
    compute: "callable[[np.ndarray], np.ndarray]",
) -> DataFrame:
    """spark.range(height) -> (y, x, value) rows; ``compute(rows)``
    returns the (len(rows), width) value block."""

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = pdf["id"].to_numpy(np.int64)
            block = compute(rows)
            n = len(rows)
            yield pd.DataFrame(
                {
                    "y": np.repeat(rows, width).astype(np.int32),
                    "x": np.tile(np.arange(width, dtype=np.int32), n),
                    "value": block.ravel().astype(np.float64),
                }
            )

    return (
        spark.range(0, height, 1, spark.sparkContext.defaultParallelism)
        .mapInPandas(_op, schema="y int, x int, value double")
    )


def _raw_tiles(
    spark: SparkSession,
    width: int,
    height: int,
    compute_block,
    tile: int,
    dtype=np.float64,
) -> DataFrame:
    """Dense-tile generator: one task per tile, no per-cell rows, no
    shuffle.  ``compute_block(y0, h, x0, w) -> (h, w) float array``.
    Output is the tiled raster format (xarray_spatial_spark.tiled)."""
    from xarray_spatial_spark.tiled import _tile_batch, tiled_schema

    nty = -(-height // tile)
    ntx = -(-width // tile)

    def _op(batches):
        for rb in batches:
            for tid in rb.column("id").to_numpy().tolist():
                ty, tx = tid // ntx, tid % ntx
                y0, x0 = ty * tile, tx * tile
                h = min(tile, height - y0)
                w = min(tile, width - x0)
                block = compute_block(y0, h, x0, w)
                meta = {"ty": ty, "tx": tx, "h": h, "w": w,
                        "th": tile, "tw": tile}
                yield _tile_batch(
                    meta, {"value": np.ascontiguousarray(block, dtype=dtype)})

    par = min(nty * ntx, spark.sparkContext.defaultParallelism * 2)
    return spark.range(0, nty * ntx, 1, par).mapInArrow(
        _op, schema=tiled_schema(["value"])
    )


def _minmax_scale(df: DataFrame) -> DataFrame:
    box = df.agg(F.min("value").alias("_lo"), F.max("value").alias("_hi"))
    return (
        df.join(F.broadcast(box))
        .withColumn("value", (F.col("value") - F.col("_lo")) / (F.col("_hi") - F.col("_lo")))
        .drop("_lo", "_hi")
    )


def perlin(
    spark: SparkSession,
    width: int,
    height: int,
    freq: tuple[float, float] = (1, 1),
    seed: int = 5,
) -> DataFrame:
    """Single-octave seeded Perlin noise, min-max scaled to [0, 1]
    (perlin.py:78-93 / public :189)."""
    p = _perm(seed)
    bc = spark.sparkContext.broadcast(p)
    linx = np.linspace(0, freq[0], width, endpoint=False, dtype=np.float32)
    liny = np.linspace(0, freq[1], height, endpoint=False, dtype=np.float32)

    def compute(rows: np.ndarray) -> np.ndarray:
        x = np.broadcast_to(linx, (len(rows), width))
        y = np.broadcast_to(liny[rows][:, None], (len(rows), width))
        return perlin_field(bc.value, x, y)

    return _minmax_scale(_raw_rows(spark, width, height, compute))


def generate_terrain(
    spark: SparkSession,
    width: int,
    height: int,
    x_range: tuple[float, float] = (0, 500),
    y_range: tuple[float, float] = (0, 500),
    seed: int = 10,
    zfactor: float = 4000,
    full_extent: tuple | None = None,
) -> DataFrame:
    """16-octave seeded terrain with water cutoff (terrain.py:36-80,
    :183-280).  Output: long-form raster scaled to [0, zfactor] with
    values < 0.3*zfactor zeroed ("water")."""
    if full_extent is None:
        full_extent = (x_range[0], y_range[0], x_range[1], y_range[1])
    fx = (full_extent[0], full_extent[2])
    fy = (full_extent[1], full_extent[3])

    def _scale(v, rng):
        return (v - rng[0]) / (rng[1] - rng[0])

    xr_s = (_scale(x_range[0], fx), _scale(x_range[1], fx))
    yr_s = (_scale(y_range[0], fy), _scale(y_range[1], fy))

    perms = [_perm(seed + i, dtype=np.int32) for i in range(16)]
    bc = spark.sparkContext.broadcast(perms)
    linx = np.linspace(xr_s[0], xr_s[1], width, endpoint=False, dtype=np.float32)
    liny = np.linspace(yr_s[0], yr_s[1], height, endpoint=False, dtype=np.float32)

    def compute(rows: np.ndarray) -> np.ndarray:
        ps = bc.value
        x = np.broadcast_to(linx, (len(rows), width)).astype(np.float32)
        y = np.broadcast_to(liny[rows][:, None], (len(rows), width)).astype(np.float32)
        acc = np.zeros((len(rows), width), dtype=np.float64)
        for i in range(16):
            m = 1.0 / 2**i
            f = float(2**i)
            acc += perlin_field(ps[i], x * f, y * f) * m
        acc /= 1.00 + 0.50 + 0.25 + 0.13 + 0.06 + 0.03
        return acc**3

    raw = _raw_rows(spark, width, height, compute)
    scaled = _minmax_scale(raw)
    return scaled.withColumn(
        "value",
        F.when(F.col("value") < 0.3, F.lit(0.0)).otherwise(F.col("value")) * zfactor,
    )


def generate_terrain_tiled(
    spark: SparkSession,
    width: int,
    height: int,
    x_range: tuple[float, float] = (0, 500),
    y_range: tuple[float, float] = (0, 500),
    seed: int = 10,
    zfactor: float = 4000,
    full_extent: tuple | None = None,
    tile: int = 512,
    dtype=np.float64,
) -> DataFrame:
    """``generate_terrain`` emitting the dense-tile format directly —
    one generator task per tile, zero shuffles in synthesis (min-max
    scaling adds the same two-job global-then-local pattern).  Same
    seeded formula as the long-form path, so
    ``tiled.numpy_from_tiled(...)`` bit-matches ``numpy_from_df`` of
    ``generate_terrain`` at equal (width, height, seed)."""
    from xarray_spatial_spark import tiled as tl

    if full_extent is None:
        full_extent = (x_range[0], y_range[0], x_range[1], y_range[1])
    fx = (full_extent[0], full_extent[2])
    fy = (full_extent[1], full_extent[3])

    def _scale(v, rng):
        return (v - rng[0]) / (rng[1] - rng[0])

    xr_s = (_scale(x_range[0], fx), _scale(x_range[1], fx))
    yr_s = (_scale(y_range[0], fy), _scale(y_range[1], fy))

    perms = [_perm(seed + i, dtype=np.int32) for i in range(16)]
    bc = spark.sparkContext.broadcast(perms)
    linx = np.linspace(xr_s[0], xr_s[1], width, endpoint=False, dtype=np.float32)
    liny = np.linspace(yr_s[0], yr_s[1], height, endpoint=False, dtype=np.float32)

    def compute_block(y0: int, h: int, x0: int, w: int) -> np.ndarray:
        ps = bc.value
        x = np.broadcast_to(linx[x0:x0 + w], (h, w)).astype(np.float32)
        y = np.broadcast_to(liny[y0:y0 + h][:, None], (h, w)).astype(np.float32)
        acc = np.zeros((h, w), dtype=np.float64)
        for i in range(16):
            m = 1.0 / 2**i
            f = float(2**i)
            acc += perlin_field(ps[i], x * f, y * f) * m
        acc /= 1.00 + 0.50 + 0.25 + 0.13 + 0.06 + 0.03
        return acc**3

    raw = _raw_tiles(spark, width, height, compute_block, tile, dtype=dtype)
    gs = tl.global_stats(raw, "value")
    lo, span = gs["min"], gs["max"] - gs["min"]

    def _rescale(arrs):
        v = (arrs["value"] - lo) / span
        return {"value": np.where(v < 0.3, 0.0, v) * zfactor}

    return tl.map_tiles(raw, _rescale)
