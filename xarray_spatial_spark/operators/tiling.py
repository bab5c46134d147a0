"""Tile / cell assignment — the raster<->vector bridge of the engine.

Every document (point) is assigned to a fine ``cell_id`` (Morton-packed
Web-Mercator quadtree, grid.py) and a coarse ``tile_id`` (its ancestor at
``tile_zoom``).  ``tile_id`` is the engine's partition key: the analog of a
dask chunk in the reference (SURVEY.md §1.3), and the unit of the halo
exchange, manifests, and skew accounting.

Two paths produce identical assignments:

- ``assign_cells``       — JVM-native Morton bit-interleave
  (grid.cell_col), bit-identical to numpy ``grid.cell_of``.  Used in
  production because the packed id carries zoom + supports O(1)
  parent/ring ops downstream.
- ``assign_cells_flat``  — pure Column expressions (``xt * 2^z + yt``),
  JVM-side/codegen, SQL-parity with any ANSI oracle.  Same tile, no
  Morton packing.

Skew: geocoded web pages are zipfian (cities).  ``salt_column`` spreads a
hot tile over ``n_salt`` sub-keys for the aggregation path; AQE skew-join
handles the join path (session.py turns it on).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xarray_spatial_spark import grid


def _check_zoom(zoom: int) -> None:
    # validate on the driver: a lazy plan may prune the UDF entirely
    # (count() never evaluates it), deferring the error to first use
    if not 0 <= zoom <= grid.MAX_ZOOM:
        raise ValueError(f"zoom must be in [0, {grid.MAX_ZOOM}], got {zoom}")


def assign_cells(
    df: DataFrame,
    zoom: int,
    tile_zoom: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Add ``cell_id`` (at ``zoom``) and, if requested, ``tile_id``
    (ancestor at ``tile_zoom``).

    Fully JVM-native (grid.cell_col — codegen'd bit ops, no Python
    worker round-trip: measured ~2x the throughput of an Arrow-UDF
    twin on wide rows because non-UDF columns never queue behind a
    Python stage); bit-identical to numpy ``grid.cell_of`` /
    ``grid.parent``."""
    out = df.withColumn(
        "cell_id", grid.cell_col(F.col(lon_col), F.col(lat_col), zoom)
    )
    if tile_zoom is not None:
        out = out.withColumn(
            "tile_id", grid.parent_col(F.col("cell_id"), zoom, tile_zoom)
        )
    return out


def assign_cells_s2(
    df: DataFrame,
    level: int,
    tile_level: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """The genuine-S2 twin of :func:`assign_cells`: add ``cell_id`` (S2
    id at ``level``, signed int64 bit pattern) and optionally
    ``tile_id`` (ancestor at ``tile_level``).

    Encoding batch-runs in an Arrow pandas UDF in the scan stage (the
    cube-face + Hilbert math needs trig, so there is no pure-Catalyst
    twin); the parent rollup IS pure Catalyst bit ops.  Downstream
    semantics match the mercator grid: tile_id is the shuffle/partition
    key, salting/AQE apply unchanged, and descendant ranges make
    point-in-region a broadcast range join (s2.range_cols)."""
    from xarray_spatial_spark import s2

    out = df.withColumn(
        "cell_id", s2.cell_col(F.col(lon_col), F.col(lat_col), level)
    )
    if tile_level is not None:
        out = out.withColumn("tile_id", s2.parent_col(F.col("cell_id"), tile_level))
    return out


def assign_cells_flat(
    df: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat",
    out_col: str = "cell_flat",
) -> DataFrame:
    """Catalyst-native tile id ``xt * 2^zoom + yt`` (no Python at all)."""
    expr = (
        grid.tile_x_col(F.col(lon_col), zoom) * F.lit(1 << zoom)
        + grid.tile_y_col(F.col(lat_col), zoom)
    )
    return df.withColumn(out_col, expr)


def salt_column(key: Column, n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt) — spread a hot key across
    ``n_salt`` reducers; aggregate twice (salted partial, then final)."""
    return F.pmod(F.xxhash64(key), F.lit(n_salt))


def _combine_by_prefix(agg_cols: list[str], who: str) -> list[Column]:
    """Re-aggregation columns for associative partials: ``cnt_``/``sum_``
    combine with sum, ``min_`` with min, ``max_`` with max.  The prefix
    convention is what makes two-level (salted) and multi-level
    (pyramid) rollups composable without the caller restating combine
    logic; means are composed from sum+count at the end."""
    finals = []
    for c in agg_cols:
        if c.startswith("cnt_") or c.startswith("sum_"):
            finals.append(F.sum(c).alias(c))
        elif c.startswith("min_"):
            finals.append(F.min(c).alias(c))
        elif c.startswith("max_"):
            finals.append(F.max(c).alias(c))
        else:
            raise ValueError(
                f"{who} needs cnt_/sum_/min_/max_ prefixed aliases, got {c!r}"
            )
    return finals


def salted_agg(df: DataFrame, key: str, aggs: list[Column], n_salt: int = 16) -> DataFrame:
    """Two-level aggregation for skewed keys: groupBy(key, salt) partials,
    then groupBy(key) finals.  Only associative aggs belong here (count/
    sum/min/max); the caller composes means from sum+count."""
    salted = df.withColumn("_salt", salt_column(F.col(key), n_salt))
    partial = salted.groupBy(key, "_salt").agg(*aggs)
    agg_cols = [c for c in partial.columns if c not in (key, "_salt")]
    return partial.groupBy(key).agg(*_combine_by_prefix(agg_cols, "salted_agg"))


def pyramid_rollup(
    df: DataFrame,
    zoom: int,
    min_zoom: int,
    aggs: list[Column],
    lon_col: str = "lon",
    lat_col: str = "lat",
    n_salt: int = 0,
) -> DataFrame:
    """Hierarchical cell rollup: aggregate points to Web-Mercator tiles
    at ``zoom``, then roll the aggregates up every coarser level down to
    ``min_zoom`` — the H3/S2 ``compact``/parent-rollup analog, and the
    zoom-pyramid a tile server would precompute (reference quadtree
    semantics: grid.py parent/children; xrspatial has no multi-level
    rollup — dask rechunks instead).

    Scale plan: the raw table is scanned and shuffled ONCE (the base
    groupBy at ``zoom``; ``n_salt`` > 0 routes it through
    :func:`salted_agg` for zipfian cell skew).  The base aggregate — at
    most ``4**zoom`` rows, tiny next to the input — is cached and every
    coarser level re-aggregates IT with the prefix combine rules
    (``floor(tile/2**k)`` is exactly the tile id at ``zoom-k`` because
    ``floor(floor(v*2^z)/2^k) == floor(v*2^(z-k))``), so level cost is
    independent of the input size and no union branch rescans the raw
    data.

    ``aggs`` follow the :func:`salted_agg` alias convention
    (``cnt_``/``sum_``/``min_``/``max_``).  Output:
    ``(zoom:int, tile_x, tile_y, *aggs)`` for every level in
    ``[min_zoom, zoom]``.
    """
    _check_zoom(zoom)
    if not 0 <= min_zoom <= zoom:
        raise ValueError(f"need 0 <= min_zoom <= zoom, got {min_zoom} > {zoom}")
    if "tile_x" in df.columns or "tile_y" in df.columns:
        raise ValueError(
            "pyramid_rollup derives tile_x/tile_y itself; rename or drop "
            "the input's tile_x/tile_y columns first"
        )
    keyed = df.select(
        grid.tile_x_col(F.col(lon_col), zoom).alias("tile_x"),
        grid.tile_y_col(F.col(lat_col), zoom).alias("tile_y"),
        "*",
    )
    if n_salt > 0:
        keyed = keyed.withColumn(
            "_tkey", F.col("tile_x") * F.lit(1 << zoom) + F.col("tile_y")
        )
        base_s = salted_agg(keyed, "_tkey", aggs, n_salt=n_salt)
        # integer bit ops, NOT double division: _tkey reaches 2^56 at
        # max zoom, past float64's exact-integer range
        base = base_s.select(
            F.shiftrightunsigned(F.col("_tkey"), zoom).alias("tile_x"),
            F.col("_tkey").bitwiseAND(F.lit((1 << zoom) - 1)).alias("tile_y"),
            *[c for c in base_s.columns if c != "_tkey"],
        )
    else:
        base = keyed.groupBy("tile_x", "tile_y").agg(*aggs)
    agg_cols = [c for c in base.columns if c not in ("tile_x", "tile_y")]
    # the cache lives until the session drops it (spark.catalog.clearCache
    # or base-level unpersist); at <= 4**zoom rows per call that is the
    # intended trade for never rescanning the raw input per level
    base = base.persist()
    levels = [base.select(F.lit(zoom).cast("int").alias("zoom"), "*")]
    for z in range(zoom - 1, min_zoom - 1, -1):
        k = zoom - z
        levels.append(
            base.groupBy(
                F.floor(F.col("tile_x") / F.lit(1 << k)).cast("long").alias("tile_x"),
                F.floor(F.col("tile_y") / F.lit(1 << k)).cast("long").alias("tile_y"),
            )
            .agg(*_combine_by_prefix(agg_cols, "pyramid_rollup"))
            .select(F.lit(z).cast("int").alias("zoom"), "*")
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def s2_focal(
    df: DataFrame,
    value_col: str,
    cell_col: str = "cell_id",
    stat: str = "mean",
    include_self: bool = True,
) -> DataFrame:
    """Focal (neighborhood) statistics on the SPHERE's cell graph —
    the raster family's focal.mean re-expressed over S2 cells, so
    smoothing page-density or signal fields works on globally indexed
    data with no planar raster and no dateline/pole seams
    (s2.all_neighbors crosses cube-face boundaries exactly).

    Returns (cell_id, focal_<stat>) for every input cell: ``stat``
    over the cell's own value (``include_self``) and its <= 8
    same-level neighbors THAT HAVE DATA (missing neighbors simply
    don't contribute — the nodata-excluded semantics of focal.mean).

    Scale: one cell-scale aggregate collapses rows to per-cell
    partials FIRST, so the neighbor explosion and the second
    aggregate both run at cells x 9, never input rows; the neighbor
    ids come from one vectorized Arrow pass (the same automaton as
    the encode).  stat in {mean, sum, count, min, max} — all
    decomposable, so partials combine associatively."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from xarray_spatial_spark import s2

    if stat not in ("mean", "sum", "count", "min", "max"):
        raise ValueError(f"unsupported focal stat {stat!r}")
    per_cell = df.na.drop(subset=[cell_col, value_col]).groupBy(
        F.col(cell_col).alias("_c")).agg(
        F.sum(value_col).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
        F.min(value_col).alias("_mn"),
        F.max(value_col).alias("_mx"),
    )

    @pandas_udf("array<long>")
    def _nbrs(cells: pd.Series) -> pd.Series:
        import numpy as np

        arr = cells.to_numpy(dtype=np.int64)
        if not arr.size:
            return pd.Series([], dtype=object)
        out = s2.all_neighbors(arr.view(np.uint64))
        return pd.Series([a.view(np.int64).tolist() for a in out])

    # each cell SENDS its partial to its neighbors (and itself):
    # receiver-side aggregation then needs no neighbor lookup at all
    targets = F.col("_nb")
    if include_self:
        targets = F.array_union(F.array(F.col("_c")), F.col("_nb"))
    contrib = (
        per_cell.withColumn("_nb", _nbrs(F.col("_c")))
        .select(F.explode(targets).alias("_t"), "_s", "_n", "_mn", "_mx")
    )
    agg = contrib.groupBy("_t").agg(
        F.sum("_s").alias("_ss"), F.sum("_n").alias("_nn"),
        F.min("_mn").alias("_mmn"), F.max("_mx").alias("_mmx"),
    )
    expr = {
        "mean": F.col("_ss") / F.col("_nn"),
        "sum": F.col("_ss"),
        "count": F.col("_nn"),
        "min": F.col("_mmn"),
        "max": F.col("_mmx"),
    }[stat]
    # only cells that exist in the input get an output row
    return (
        per_cell.select(F.col("_c").alias(cell_col))
        .join(agg, F.col(cell_col) == F.col("_t"))
        .select(cell_col, expr.alias(f"focal_{stat}"))
    )


def compact_cells(
    cells: DataFrame,
    cell_col: str = "cell",
    min_zoom: int = 0,
) -> DataFrame:
    """Minimal mixed-resolution covering of a cell set — the H3
    ``compact`` / S2 ``CellUnion::Normalize`` verb for the Morton
    grid ids: (1) cells contained in a coarser cell ALSO present are
    dropped (containment normalization), then (2) complete sibling
    QUADRUPLES merge into their parent, cascading down to
    ``min_zoom``.  Coverage is exactly preserved; output ids carry
    their own zoom (grid.encode bit layout), so the result is a valid
    shuffle/join key set at any mixture of resolutions.

    Plan: the zoom roster is one ≤29-row collect; each cascade level
    is a cell-scale groupBy-on-parent + anti-join (map-side combine
    bounds hot parents), localCheckpoint per level (graph.py loop
    idiom).  Levels run max_zoom→min_zoom once — a newly merged
    parent participates in the NEXT level's quadruple check, so one
    sweep is complete (children always merge strictly before their
    parent could).  No Python; the parent is two bit ops."""
    cur = cells.select(F.col(cell_col).alias("cell")).distinct() \
        .localCheckpoint()
    zoom_of = F.shiftrightunsigned(F.col("cell"), grid._ZOOM_SHIFT) \
        .cast("int")
    zs = sorted(r[0] for r in cur.select(zoom_of.alias("z"))
                .distinct().collect())
    if not zs:
        return cur
    if len(zs) > 1:
        # containment normalization: drop any cell one of whose
        # ancestors AT A PRESENT COARSER ZOOM is also in the set
        anc = F.array(*[
            F.when(zoom_of == za, grid.parent_col(F.col("cell"), za, zp))
            for za in zs for zp in zs if zp < za
        ])
        cand = (
            cur.select("cell", F.explode(anc).alias("_anc"))
            .where(F.col("_anc").isNotNull())
        )
        covered = cand.join(
            cur.select(F.col("cell").alias("_anc")), "_anc", "left_semi"
        ).select("cell").distinct()
        cur = cur.join(covered, "cell", "left_anti").localCheckpoint()
    for z in range(max(zs), min_zoom, -1):
        lvl = cur.where(zoom_of == z)
        rest = cur.where(zoom_of != z)
        par = grid.parent_col(F.col("cell"), z, z - 1)
        quads = (
            lvl.groupBy(par.alias("_p"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") == 4)
            .select(F.col("_p").alias("cell"))
        )
        keep = lvl.join(
            quads.select(F.col("cell").alias("_p")),
            par == F.col("_p"), "left_anti",
        )
        cur = rest.unionByName(keep).unionByName(quads).localCheckpoint()
    return cur


def uncompact_cells(
    cells: DataFrame,
    zoom: int,
    cell_col: str = "cell",
) -> DataFrame:
    """Inverse of :func:`compact_cells`: expand every cell to its
    complete descendant set at ``zoom`` (cells already at ``zoom``
    pass through; finer cells are an error).  Pure Catalyst: per
    present coarser zoom z the 4^(zoom-z) children enumerate as ONE
    ``sequence`` explode with literal shifts — no Python."""
    src = cells.select(F.col(cell_col).alias("cell")).distinct()
    zoom_of = F.shiftrightunsigned(F.col("cell"), grid._ZOOM_SHIFT) \
        .cast("int")
    zs = sorted(r[0] for r in src.select(zoom_of.alias("z"))
                .distinct().collect())
    if any(z > zoom for z in zs):
        raise ValueError(
            f"uncompact_cells: set contains cells finer than zoom {zoom}")
    parts = []
    for z in zs:
        lvl = src.where(zoom_of == z)
        k = zoom - z
        if k == 0:
            parts.append(lvl)
            continue
        m = F.col("cell").bitwiseAND(F.lit((1 << grid._ZOOM_SHIFT) - 1))
        child = (
            F.lit(zoom << grid._ZOOM_SHIFT)
            .bitwiseOR(F.shiftleft(m, 2 * k))
            .bitwiseOR(F.col("_q"))
        )
        parts.append(
            lvl.select(F.explode(
                F.sequence(F.lit(0), F.lit(4 ** k - 1))).alias("_q"),
                F.col("cell"))
            .select(child.alias("cell"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def s2_compact_cells(
    cells: DataFrame,
    cell_col: str = "cell",
    min_level: int = 0,
) -> DataFrame:
    """S2 ``CellUnion::Normalize`` on the genuine S2 index (s2.py):
    the same verb as :func:`compact_cells`, over sentinel-bit cell
    ids — containment normalization (descendants of present ancestors
    drop), then complete sibling quadruples cascade into parents down
    to ``min_level``.  Parent/level are pure bit ops
    (s2.parent_col / s2.level_col), so the whole cascade is codegen;
    one cell-scale groupBy + anti-join per level."""
    from xarray_spatial_spark import s2

    cur = cells.select(F.col(cell_col).alias("cell")).distinct() \
        .localCheckpoint()
    lvl_of = s2.level_col(F.col("cell"))
    ls = sorted(r[0] for r in cur.select(lvl_of.alias("l"))
                .distinct().collect())
    if not ls:
        return cur
    if len(ls) > 1:
        anc = F.array(*[
            F.when(lvl_of == la, s2.parent_col(F.col("cell"), lp))
            for la in ls for lp in ls if lp < la
        ])
        covered = (
            cur.select("cell", F.explode(anc).alias("_anc"))
            .where(F.col("_anc").isNotNull())
            .join(cur.select(F.col("cell").alias("_anc")), "_anc",
                  "left_semi")
            .select("cell").distinct()
        )
        cur = cur.join(covered, "cell", "left_anti").localCheckpoint()
    for lev in range(max(ls), min_level, -1):
        lvl = cur.where(lvl_of == lev)
        rest = cur.where(lvl_of != lev)
        par = s2.parent_col(F.col("cell"), lev - 1)
        quads = (
            lvl.groupBy(par.alias("_p"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") == 4)
            .select(F.col("_p").alias("cell"))
        )
        keep = lvl.join(
            quads.select(F.col("cell").alias("_p")),
            par == F.col("_p"), "left_anti",
        )
        cur = rest.unionByName(keep).unionByName(quads).localCheckpoint()
    return cur


def s2_uncompact_cells(
    cells: DataFrame,
    level: int,
    cell_col: str = "cell",
) -> DataFrame:
    """Inverse: every cell expands to its complete descendant set at
    ``level`` — ids at level t inside a cell are the arithmetic
    sequence ``range_min + (lsb_t - 1) + k * 2 * lsb_t`` (children
    tile the parent's contiguous id range), one ``sequence`` explode
    per present coarser level, pure Catalyst."""
    from xarray_spatial_spark import s2

    src = cells.select(F.col(cell_col).alias("cell")).distinct()
    lvl_of = s2.level_col(F.col("cell"))
    ls = sorted(r[0] for r in src.select(lvl_of.alias("l"))
                .distinct().collect())
    if any(lv > level for lv in ls):
        raise ValueError(
            f"s2_uncompact_cells: set contains cells finer than "
            f"level {level}")
    lsb_t = 1 << (2 * (s2.MAX_LEVEL - level))
    parts = []
    for lv in ls:
        lvl = src.where(lvl_of == lv)
        if lv == level:
            parts.append(lvl)
            continue
        k = 4 ** (level - lv)
        lsb = F.col("cell").bitwiseAND(-F.col("cell"))
        rmin = F.col("cell") - (lsb - F.lit(1))
        child = rmin + F.lit(lsb_t - 1) + F.col("_q") * F.lit(2 * lsb_t)
        parts.append(
            lvl.select(F.explode(
                F.sequence(F.lit(0), F.lit(k - 1))).alias("_q"),
                F.col("cell"))
            .select(child.cast("long").alias("cell"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
