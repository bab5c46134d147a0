"""Zonal statistics — the groupBy/agg family.

Reference semantics: xrspatial/zonal.py (stats :422-667, crosstab
:922-1154, apply :1157-1263, trim :1643-1842, crop :1845-2062).

Where the reference hand-rolls per-block partial stats and combines
them (zonal.py:83-102, 166-277), we emit a single declarative
``groupBy().agg()`` and let Catalyst produce the identical
partial/final HashAggregate — map-side combine, one shuffle on the
zone key, exact ``var_pop``/``stddev_pop``.

Conventions (see raster.py): a "raster" is a long-form DataFrame; the
two input rasters of the reference (zones, values) arrive here as one
DataFrame carrying both columns (join on (y, x) via ``align`` — a
co-partitioned equi-join, no driver round-trip).  NULL is the nodata
(reference NaN); ±inf was already mapped to NULL on ingest per the
``np.isfinite`` validity rule (zonal.py:190, 759).

Scale notes (100 TB): the only shuffle is the zone-keyed aggregate;
majority adds a second, narrower shuffle on (zone, value) whose
partial counts combine map-side.  Zone cardinality is tiny next to
cell count, so the final agg is never the bottleneck; skewed zones
are fine because partial aggregation collapses each partition's
contribution to one row per (zone[, value]).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_STATS = ("mean", "max", "min", "sum", "std", "var", "count")

_BUILTIN_AGGS = {
    "mean": lambda c: F.avg(c),
    "max": lambda c: F.max(c),
    "min": lambda c: F.min(c),
    "sum": lambda c: F.sum(c),
    "std": lambda c: F.stddev_pop(c),  # population std, zonal.py:95-99
    "var": lambda c: F.var_pop(c),
    "count": lambda c: F.count(c),
}


def align(zones: DataFrame, values: DataFrame, how: str = "inner") -> DataFrame:
    """Join two long-form rasters on (y, x) — the analog of
    ``validate_arrays`` shape alignment (utils.py:146-165).  With both
    sides bucketed/partitioned on the same tile key this is a
    co-located join; at worst one shuffle each."""
    return zones.join(values, ["y", "x"], how)


def _valid(value_col: str, nodata_values: float | None) -> Column:
    cond = F.col(value_col).isNotNull()
    if nodata_values is not None:
        # sentinel-equality exclusion on top of NULL (zonal.py:159, 356-360)
        cond = cond & (F.col(value_col) != F.lit(nodata_values))
    return cond


def stats(
    zv: DataFrame,
    zone_col: str = "zone",
    value_col: str = "value",
    zone_ids: Iterable[float] | None = None,
    stats_funcs: Iterable[str] | Mapping[str, Column] = (*DEFAULT_STATS, "majority"),
    nodata_values: float | None = None,
) -> DataFrame:
    """Per-zone statistics of a values raster (zonal.py:422-667).

    ``stats_funcs`` may be builtin names (mean/max/min/sum/std/var/
    count/majority) or a mapping name -> aggregate Column (the Spark
    answer to the reference's custom-callable stats, zonal.py:474-483).

    Majority = most frequent value, ties broken by smallest value —
    matching ``np.unique`` sort order + ``argmax``-first
    (zonal.py:55-60).
    """
    df = zv.filter(F.col(zone_col).isNotNull() & _valid(value_col, nodata_values))
    if zone_ids is not None:
        df = df.filter(F.col(zone_col).isin(list(zone_ids)))

    if isinstance(stats_funcs, Mapping):
        names = list(stats_funcs)
        aggs = [stats_funcs[n].alias(n) for n in names]
        want_majority = False
    else:
        names = list(stats_funcs)
        want_majority = "majority" in names
        aggs = [
            _BUILTIN_AGGS[n](F.col(value_col)).alias(n) for n in names if n != "majority"
        ]

    out = df.groupBy(F.col(zone_col).alias("zone")).agg(*aggs)

    if want_majority:
        out = out.join(majority(df, zone_col, value_col), "zone", "left")
        # preserve requested column order
        out = out.select("zone", *[n for n in names])
    return out


def stats_fused(
    zv: DataFrame,
    zone_col: str = "zone",
    value_col: str = "value",
    zone_ids: Iterable[float] | None = None,
    nodata_values: float | None = None,
) -> DataFrame:
    """All default stats INCLUDING majority from a single scan.

    The plain ``stats`` path scans the source twice when majority is
    requested (one agg per shape).  Here the first aggregate groups by
    (zone, value) — after which rows collapse to the value histogram —
    and the zone-level finals (count/sum/min/max/mean/std/var AND
    majority) all derive from that histogram.  One scan, two narrow
    shuffles; var/std expand from sum/sum² exactly like the
    reference's dask combine (zonal.py:92-102, 250-259)."""
    df = zv.filter(F.col(zone_col).isNotNull() & _valid(value_col, nodata_values))
    if zone_ids is not None:
        df = df.filter(F.col(zone_col).isin(list(zone_ids)))
    hist = df.groupBy(F.col(zone_col).alias("zone"), F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    return _finals_from_hist(hist)


def _finals_from_hist(hist: DataFrame) -> DataFrame:
    """(zone, _v, _c) value histogram -> per-zone finals incl.
    majority (count/sum/min/max/mean/std/var, majority = highest
    count then smallest value).

    var is TWO-PASS over the histogram — ``sum((v-mean)²·c)/count``
    with the mean taken from a zone-partitioned window — not the
    one-pass ``sumsq/count − mean²`` catastrophic-cancellation form:
    the one-pass residual depends on float accumulation order across
    partitions (~1e-6 absolute at raster magnitudes), which made
    round(var, 6) a midpoint lottery against any independent engine.
    Two-pass shrinks the order-dependence to ~1e-11.  Cost: one extra
    exchange of the COLLAPSED histogram (zones × distinct values —
    the final groupBy still ships only #zones map-side partials), a
    rounding error next to the cell-scale first aggregation for the
    classed rasters this path exists for."""
    w = Window.partitionBy("zone")
    hist = hist.withColumn(
        "_mean", F.sum(F.col("_v") * F.col("_c")).over(w) / F.sum("_c").over(w)
    )
    dev = F.col("_v") - F.col("_mean")
    out = hist.groupBy("zone").agg(
        F.sum("_c").alias("count"),
        F.sum(F.col("_v") * F.col("_c")).alias("sum"),
        F.min("_v").alias("min"),
        F.max("_v").alias("max"),
        F.sum(dev * dev * F.col("_c")).alias("_wss"),
        F.min(F.struct((-F.col("_c")).alias("_n"), F.col("_v").alias("v"))).alias("_m"),
    )
    mean = F.col("sum") / F.col("count")
    var = F.col("_wss") / F.col("count")
    return out.select(
        "zone",
        mean.alias("mean"),
        "max",
        "min",
        "sum",
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std"),
        F.greatest(var, F.lit(0.0)).alias("var"),
        "count",
        F.col("_m.v").alias("majority"),
    )


def stats_tiled(
    tdf: DataFrame,
    zone_band: str = "zone",
    value_band: str = "value",
    zone_ids: Iterable[float] | None = None,
    nodata_values: float | None = None,
) -> DataFrame:
    """Zonal stats directly on a TWO-BAND dense-tile raster — the
    100-TB path: each tile emits its local (zone, value, count)
    histogram from one vectorized ``np.unique`` pass, so the shuffle
    carries histogram rows (zones x values per tile) instead of
    ~33-byte per-cell long-form rows; zone finals including majority
    reuse the ``stats_fused`` derivation, so results match
    ``stats_fused(untile(tdf))`` (same histogram, same expressions).

    NaN in either band excludes the cell (NaN zone = nodata zone, the
    long-form NULL-zone rule); majority ties break by smallest value
    exactly like ``stats`` (zonal.py:55-60)."""
    hist = _tile_hist(tdf, zone_band, value_band, nodata_values)
    if zone_ids is not None:
        hist = hist.filter(F.col("zone").isin([float(z) for z in zone_ids]))
    hist = hist.groupBy("zone", "_v").agg(F.sum("_c").alias("_c"))
    return _finals_from_hist(hist)


def _tile_hist(
    tdf: DataFrame, zone_band: str, value_band: str,
    nodata_values: float | None,
) -> DataFrame:
    """Per-tile (zone, value, count) partial histograms over a
    two-band tiled raster — one vectorized pass, no per-cell rows."""
    from xarray_spatial_spark import tiled as tl

    def _hist(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            zs, vs, cs = [], [], []
            for _, arrs in tl._tile_rows(rb, [zone_band, value_band]):
                z = arrs[zone_band].ravel()
                v = arrs[value_band].ravel()
                m = ~np.isnan(z) & ~np.isnan(v)
                if nodata_values is not None:
                    m &= v != nodata_values
                if not m.any():
                    continue
                # (zone, value) packed as complex128: np.unique then
                # sorts ONE 1-D array (lexicographic real-then-imag)
                # instead of a structured-view row sort — ~20x faster
                # than unique(axis=0) on 512^2 tiles.  NaNs are already
                # masked; -0.0 merges with 0.0 like Spark's groupBy
                # key normalization.
                key = z[m].astype(np.float64) + 1j * v[m].astype(np.float64)
                uniq, counts = np.unique(key, return_counts=True)
                zs.append(uniq.real)
                vs.append(uniq.imag)
                cs.append(counts.astype(np.int64))
            if zs:
                yield pa.RecordBatch.from_pydict(
                    {"zone": np.concatenate(zs), "_v": np.concatenate(vs),
                     "_c": np.concatenate(cs)}
                )

    return tl._select(tdf, [zone_band, value_band]).mapInArrow(
        _hist, schema="zone double, _v double, _c long")


def stats_dataset(
    zv: DataFrame,
    value_cols: Sequence[str],
    zone_col: str = "zone",
    zone_ids: Iterable[float] | None = None,
    stats_funcs: Iterable[str] = DEFAULT_STATS,
    nodata_values: float | None = None,
) -> DataFrame:
    """Multi-band zonal stats — the reference's Dataset fan-out
    (xrspatial/zonal.py:592-611; dataset_support.py:11-33) where
    ``stats`` recurses per variable and merges on zone.

    Spark improves on the recursion: all bands aggregate in ONE
    groupBy pass (one scan, one shuffle), output columns named
    ``<band>_<stat>``.  ``majority`` is excluded here (it needs the
    per-(zone,value) histogram; call ``stats_fused`` per band when you
    need it)."""
    names = [n for n in stats_funcs if n != "majority"]
    df = zv.filter(F.col(zone_col).isNotNull())
    if zone_ids is not None:
        df = df.filter(F.col(zone_col).isin(list(zone_ids)))
    aggs = []
    for band in value_cols:
        v = F.when(_valid(band, nodata_values), F.col(band))
        for n in names:
            aggs.append(_BUILTIN_AGGS[n](v).alias(f"{band}_{n}"))
    return df.groupBy(F.col(zone_col).alias("zone")).agg(*aggs)


def stats_to_raster(
    zv: DataFrame,
    stats_df: DataFrame,
    zone_col: str = "zone",
) -> DataFrame:
    """The reference's ``return_type='xarray.DataArray'``
    (zonal.py:313-331): broadcast the per-zone stats back onto every
    cell — a broadcast join on the zone key (zone cardinality is tiny
    by construction)."""
    return zv.join(F.broadcast(stats_df), zone_col, "left")


def majority(
    zv: DataFrame, zone_col: str = "zone", value_col: str = "value"
) -> DataFrame:
    """Most frequent value per zone, smallest value on ties.

    Two-level aggregate: count per (zone, value) — partials combine
    map-side — then a min over struct(-count, value).  No window, no
    sort of the full data.
    """
    counts = (
        zv.groupBy(F.col(zone_col).alias("zone"), F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return (
        counts.groupBy("zone")
        .agg(F.min(F.struct((-F.col("_cnt")).alias("_neg"), F.col("_v").alias("v"))).alias("_m"))
        .select("zone", F.col("_m.v").alias("majority"))
    )


def crosstab_tiled(
    tdf: DataFrame,
    zone_band: str = "zone",
    cat_band: str = "cat",
    zone_ids: Iterable[float] | None = None,
    cat_ids: Iterable | None = None,
    agg: str = "count",
) -> DataFrame:
    """Zone x category contingency table directly on a two-band
    dense-tile raster: the same per-tile complex128 histogram pass as
    ``stats_tiled`` feeds the pivot, so only (zone, cat, count) rows
    ever shuffle.  2-D count/percentage form (numeric category codes —
    tile bands are floats)."""
    hist = _tile_hist(tdf, zone_band, cat_band, None)
    if zone_ids is not None:
        hist = hist.filter(F.col("zone").isin([float(z) for z in zone_ids]))
    if cat_ids is not None:
        hist = hist.filter(F.col("_v").isin([float(c) for c in cat_ids]))
    pivoted = (
        hist.groupBy("zone")
        .pivot("_v", [float(c) for c in cat_ids] if cat_ids is not None
               else None)
        .sum("_c")
        .na.fill(0)
    )
    if agg == "percentage":
        # pivot column names contain dots ("1.0") — backtick-quote
        # them or column resolution parses struct field paths
        cats = [c for c in pivoted.columns if c != "zone"]
        total = sum(F.col(f"`{c}`") for c in cats)
        return pivoted.select(
            "zone", *[(F.col(f"`{c}`") / total * 100.0).alias(c) for c in cats]
        )
    return pivoted


def crosstab(
    zv: DataFrame,
    zone_col: str = "zone",
    cat_col: str = "cat",
    zone_ids: Iterable[float] | None = None,
    cat_ids: Iterable | None = None,
    agg: str = "count",
    nodata_values: float | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Zone × category contingency table (zonal.py:922-1154).

    2-D form: ``agg`` in {'count', 'percentage'} over the category
    raster itself. 3-D form: pass ``value_col`` and an agg name from
    the stats set, aggregated per (zone, category-layer) — the
    reference's layered crosstab (zonal.py:1096-1135).

    Providing ``cat_ids`` pins the pivot columns without the extra
    distinct-scan Spark would otherwise run (exactly the reference's
    eager ``unique`` pre-pass, zonal.py:190 — we make it optional).
    """
    df = zv.filter(F.col(zone_col).isNotNull() & F.col(cat_col).isNotNull())
    if nodata_values is not None:
        # 2-D form: nodata is a category value; 3-D form: a cell value
        target = value_col if value_col is not None else cat_col
        df = df.filter(F.col(target) != F.lit(nodata_values))
    if zone_ids is not None:
        df = df.filter(F.col(zone_col).isin(list(zone_ids)))
    if cat_ids is not None:
        df = df.filter(F.col(cat_col).isin(list(cat_ids)))

    pivoted = df.groupBy(F.col(zone_col).alias("zone")).pivot(
        cat_col, list(cat_ids) if cat_ids is not None else None
    )
    if value_col is None:
        out = pivoted.count().na.fill(0)
        if agg == "percentage":
            # percentage of zone total per category (zonal.py:802-806)
            cat_cols = [c for c in out.columns if c != "zone"]
            total = sum(F.col(c) for c in cat_cols)
            out = out.select(
                "zone",
                *[(F.col(c) / total * 100.0).alias(c) for c in cat_cols],
            )
        return out
    return pivoted.agg(_BUILTIN_AGGS[agg](F.col(value_col)))


def apply(
    zv: DataFrame,
    func: Column,
    zone_col: str = "zone",
    value_col: str = "value",
    nodata: float = 0,
) -> DataFrame:
    """Mutate values inside zones, pass through outside (zonal.py:1157-1263).
    ``func`` is a Column expression over ``value_col`` (vectorized apply)."""
    return zv.withColumn(
        value_col,
        F.when(
            F.col(zone_col).isNotNull() & (F.col(zone_col) != F.lit(nodata)), func
        ).otherwise(F.col(value_col)),
    )


def _bbox_filter(df: DataFrame, content: Column) -> DataFrame:
    """Shared trim/crop core: bounding box of content cells, then range
    filter. Two passes; the first reduces to 4 scalars via min/max agg
    (a crossJoin with a 1-row broadcast, not a collect)."""
    box = df.filter(content).agg(
        F.min("y").alias("_y0"),
        F.max("y").alias("_y1"),
        F.min("x").alias("_x0"),
        F.max("x").alias("_x1"),
    )
    return (
        df.join(F.broadcast(box))
        .filter(F.col("y").between(F.col("_y0"), F.col("_y1")))
        .filter(F.col("x").between(F.col("_x0"), F.col("_x1")))
        .drop("_y0", "_y1", "_x0", "_x1")
    )


def trim(
    raster: DataFrame, values: Iterable[float] = (None,), value_col: str = "value"
) -> DataFrame:
    """Drop border rows/cols containing only ``values`` (zonal.py:1643-1842).
    ``None`` in ``values`` plays the reference's NaN."""
    vals = list(values)
    trim_null = any(v is None or (isinstance(v, float) and v != v) for v in vals)
    finite = [v for v in vals if v is not None and v == v]
    content = F.col(value_col).isNotNull() if trim_null else F.lit(True)
    if finite:
        content = content & ~F.col(value_col).isin(finite)
    return _bbox_filter(raster, content)


def crop(
    zv: DataFrame,
    zones_ids: Iterable[float],
    zone_col: str = "zone",
) -> DataFrame:
    """Crop to the bbox where the zones raster takes ``zones_ids``
    (zonal.py:1845-2062)."""
    return _bbox_filter(zv, F.col(zone_col).isin(list(zones_ids)))


def suggest_zonal_canvas(
    smallest_area: float,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    min_pixels: int = 25,
) -> tuple[int, int]:
    """Canvas sizing so the smallest polygon covers >= min_pixels
    (zonal.py:1266-1403) — driver-side arithmetic, no data pass."""
    total_area = (x_range[1] - x_range[0]) * (y_range[1] - y_range[0])
    pixels = total_area / smallest_area * min_pixels
    aspect = (x_range[1] - x_range[0]) / (y_range[1] - y_range[0])
    h = int((pixels / aspect) ** 0.5)
    w = int(h * aspect)
    return h, w
