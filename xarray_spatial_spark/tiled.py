"""Dense-tile raster format — the scale representation for stencils.

The long-form raster (one row per cell) is the engine's interchange /
test format; at 100-TB scale a stencil over it shuffles ~33 bytes per
cell plus per-row Arrow overhead.  This module stores a raster as one
row per TILE:

    (ty long, tx long, h int, w int, th int, tw int, <band> binary ...)

where each band is the row-major float64 (or float32) bytes of the
(h, w) block (NaN = nodata, mirroring the reference's
``boundary=np.nan`` dask map_overlap pad, xrspatial/focal.py:70-76),
followed by its four perimeter blobs.  Tiles are full
``tile_h x tile_w`` except the raster's bottom/right edges, which are
clipped, so the raster extent is implicit in the tile set.

A stencil pass over tiled data is ONE shuffle of about the raster's
bytes, grouped per 4x4 super-tile: every tile goes to its own
super-tile's group, plus radius-wide border strips to each
neighbouring super-tile.  Each group assembles its tiles' NaN-padded
blocks from its siblings and the strips with vectorized numpy slices —
no per-cell rows, no pandas scatter.  This is the Spark re-plan of dask
``map_overlap`` boundary exchange at ~8 bytes/cell instead of ~33.

``operators.halo.apply_stencil`` dispatches here automatically when
its input carries the tiled schema, so every stencil operator
(slope/aspect/curvature/hillshade/focal/convolve/hotspots) runs on
either format with identical kernels and identical results
(tests/test_tiled.py asserts long==tiled equivalence per op).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_spatial_spark.functions.geo import sql_ident

DEFAULT_TILE = 512

TILE_KEY_COLS = ("ty", "tx", "h", "w", "th", "tw")

StencilFn = Callable[[dict[str, np.ndarray]], dict[str, np.ndarray]]


def is_tiled(df: DataFrame) -> bool:
    return set(TILE_KEY_COLS).issubset(set(df.columns))


_DTYPES = {8: np.float64, 4: np.float32}


def _decode(buf: bytes | pa.Buffer, h: int, w: int) -> np.ndarray:
    """Blob -> (h, w) view; dtype inferred from the byte length, so
    float32 and float64 rasters share one format (float32 halves scan,
    shuffle, and Arrow bytes; the reference's surface kernels compute
    in float32 anyway, xrspatial/slope.py:58)."""
    isz = len(buf) // (h * w) if h * w else 8
    return np.frombuffer(buf, dtype=_DTYPES[isz]).reshape(h, w)


EDGE = 8  # columns kept in the transposed edge blobs (supports radius <= 8
           # in the all-JVM strip path; larger radii use the Python fallback)


def tiled_schema(bands: Sequence[str]) -> str:
    """Canonical tiled schema: per band, the dense block plus four
    small perimeter blobs (~6%% of tile bytes at 512px): TRANSPOSED
    leftmost/rightmost ``EDGE`` columns (``__le``/``__re``) and plain
    top/bottom ``EDGE`` rows (``__te``/``__be``).  The transposed edge
    blobs make every vertical and corner halo strip of the default
    plan a plain contiguous ``substring`` in whole-stage codegen
    (column extraction from row-major bytes would need per-element
    higher-order functions, which fall out of codegen and copy
    catastrophically); the row blobs let the broadcast plan's strip
    projection scan perimeter bytes only, never the block column."""
    cols = ["ty long", "tx long", "h int", "w int", "th int", "tw int"]
    for b in bands:
        cols += [f"{b} binary"] + [f"{b}{sfx} binary" for sfx in BLOB_SUFFIXES]
    return ", ".join(cols)


def _edge_blobs(a: np.ndarray) -> tuple[bytes, bytes]:
    """(h, w) block -> transposed left/right edge blobs, each
    (min(EDGE, w), h) row-major."""
    e = min(EDGE, a.shape[1])
    le = np.ascontiguousarray(a[:, :e].T).tobytes()
    re = np.ascontiguousarray(a[:, a.shape[1] - e:].T).tobytes()
    return le, re


BLOB_SUFFIXES = ("__le", "__re", "__te", "__be")


def _halo_blobs(a: np.ndarray) -> dict[str, bytes]:
    """All four perimeter blobs for one block: transposed left/right
    EDGE columns plus plain top/bottom EDGE rows (row-major, already
    contiguous).  The default halo plan slices its vertical and corner
    strips from the transposed blobs; the broadcast plan reads only the
    four blobs, so its strips job costs perimeter, not area."""
    le, re = _edge_blobs(a)
    e = min(EDGE, a.shape[0])
    te = np.ascontiguousarray(a[:e, :]).tobytes()
    be = np.ascontiguousarray(a[a.shape[0] - e:, :]).tobytes()
    return {"__le": le, "__re": re, "__te": te, "__be": be}


# ---------------------------------------------------------------------------
# long-form <-> tiled conversion
# ---------------------------------------------------------------------------

def tile(
    df: DataFrame,
    tile_h: int = DEFAULT_TILE,
    tile_w: int = DEFAULT_TILE,
    value_cols: Sequence[str] = ("value",),
    shape: tuple[int, int] | None = None,
    dtype=np.float64,
) -> DataFrame:
    """Long-form (y, x, bands...) -> tiled.  One shuffle keyed by tile.
    ``shape`` clips edge tiles; when None it is computed with one tiny
    agg job (max y/x).  ``dtype=np.float32`` halves every downstream
    byte (stored, shuffled, Arrow-crossed) at float32 precision."""
    if shape is None:
        row = df.agg(F.max("y").alias("my"), F.max("x").alias("mx")).collect()[0]
        shape = (int(row["my"]) + 1, int(row["mx"]) + 1)
    H, W = shape
    bands = list(value_cols)

    def _pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        h = min(tile_h, H - ty * tile_h)
        w = min(tile_w, W - tx * tile_w)
        py = pdf["y"].to_numpy(np.int64) - ty * tile_h
        px = pdf["x"].to_numpy(np.int64) - tx * tile_w
        out = {"ty": [ty], "tx": [tx], "h": [h], "w": [w],
               "th": [tile_h], "tw": [tile_w]}
        for b in bands:
            a = np.full((h, w), np.nan, dtype=dtype)
            a[py, px] = pdf[b].to_numpy(np.float64)
            out[b] = [a.tobytes()]
            for sfx, blob in _halo_blobs(a).items():
                out[f"{b}{sfx}"] = [blob]
        return pd.DataFrame(out)

    keyed = df.withColumn("_ty", F.floor(F.col("y") / tile_h).cast("long")).withColumn(
        "_tx", F.floor(F.col("x") / tile_w).cast("long")
    )
    return keyed.groupBy("_ty", "_tx").applyInPandas(
        _pack, schema=tiled_schema(bands)
    )


def untile(
    tdf: DataFrame,
    value_cols: Sequence[str] = ("value",),
    drop_nan: bool = False,
) -> DataFrame:
    """Tiled -> long-form (y, x, bands...).  Map-side only (no
    shuffle).  NaN cells become NULL; ``drop_nan`` omits them."""
    bands = list(value_cols)
    schema = "y int, x int, " + ", ".join(f"{b} double" for b in bands)

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                h, w = int(r.h), int(r.w)
                yy = np.repeat(
                    np.arange(h, dtype=np.int64) + int(r.ty) * int(r.th), w
                )
                xx = np.tile(
                    np.arange(w, dtype=np.int64) + int(r.tx) * int(r.tw), h
                )
                data = {b: _decode(getattr(r, b), h, w).ravel() for b in bands}
                if drop_nan:
                    keep = np.zeros(h * w, dtype=bool)
                    for b in bands:
                        keep |= ~np.isnan(data[b])
                    yy, xx = yy[keep], xx[keep]
                    data = {b: v[keep] for b, v in data.items()}
                out = pd.DataFrame(
                    {"y": yy.astype(np.int32), "x": xx.astype(np.int32)}
                )
                for b in bands:
                    out[b] = pd.Series(data[b]).where(np.isfinite(data[b]))
                yield out

    return tdf.mapInPandas(_unpack, schema=schema)


# ---------------------------------------------------------------------------
# halo-stencil over tiles
# ---------------------------------------------------------------------------

# Halo groups are 4x4 super-tiles keyed by ``bk``: a tile travels whole
# to its own super-tile's group, where its siblings read their halos
# from it, and sends a border strip only to neighbours in another
# super-tile.
_BLOCK = 4
_BK = 1 << 20

MSG_FIELDS = ("bk", "gy0", "gx0", "sh", "sw", "iscenter", "transposed",
              "th", "tw")


def _block_key(ty: int, tx: int) -> int:
    return (ty // _BLOCK) * _BK + tx // _BLOCK


def _block_key_sql(ty: str, tx: str) -> str:
    return f"(({ty}) div {_BLOCK}) * {_BK} + (({tx}) div {_BLOCK})"


def _span_sql(d: int, r: int, n: str, tn: str) -> tuple[str, str]:
    """(first row, row count) of the part of a tile of ``n`` rows (full
    size ``tn``) that a neighbour at offset ``d`` along that axis needs."""
    if d == -1:
        return "0", f"least({r}, {n})"
    if d == 0:
        return "0", n
    lo = f"greatest({tn} - {r}, 0)"
    return lo, f"({n} - {lo})"


def _jvm_messages(tdf: DataFrame, r: int, bands: Sequence[str]) -> DataFrame:
    """All halo messages per tile as ONE SQL explode of plain
    substring/concat expressions — zero Python, zero higher-order
    functions, stays in whole-stage codegen.

    The centre message is the tile itself (a zero-copy column
    reference) keyed by its own super-tile.  A strip for neighbour
    (dy, dx) is emitted only when that neighbour lies in another
    super-tile.  dx == 0 strips slice the row-major block directly
    (contiguous rows).  dx != 0 strips (vertical edges + corners) slice
    the transposed edge blobs, and arrive transposed=1 ((sw, sh)
    row-major); ``r`` is a plan-time int so the per-column concat
    unrolls to <= EDGE substrings."""
    own = _block_key_sql("ty", "tx")
    structs = []
    for dy in (-1, 0, 1):
        rlo, sh = _span_sql(dy, r, "h", "th")
        for dx in (-1, 0, 1):
            clo, sw = _span_sql(dx, r, "w", "tw")
            centre = dy == 0 and dx == 0
            dest = _block_key_sql(f"ty + {dy}", f"tx + {dx}")
            fields = [
                f"CAST({dest} AS LONG) AS bk",
                f"CAST(ty * th + {rlo} AS LONG) AS gy0",
                f"CAST(tx * tw + {clo} AS LONG) AS gx0",
                f"CAST({sh} AS INT) AS sh",
                f"CAST({sw} AS INT) AS sw",
                f"{int(centre)} AS iscenter",
                f"{int(dx != 0)} AS transposed",
                "CAST(th AS INT) AS th",
                "CAST(tw AS INT) AS tw",
            ]
            for b in bands:
                data = sql_ident(b)
                # bytes per cell, from blob length (float32 or float64)
                isz = f"CAST(length({data}) / (h * w) AS LONG)"
                if centre:
                    strip = data
                elif dx == 0:
                    # contiguous row band from the row-major block
                    strip = (f"substring({data}, CAST({rlo} * w * {isz} + 1 AS INT), "
                             f"CAST({sh} * w * {isz} AS INT))")
                else:
                    # from the transposed edge blob: blob row j = source
                    # column (j for __le; w-e+j for __re), each a
                    # contiguous h-run; slice rows [rlo, rlo+sh) of up
                    # to r columns and concat (only the first `sw`
                    # columns exist when w < r)
                    blob = sql_ident(f"{b}__le" if dx == -1 else f"{b}__re")
                    parts = []
                    for k in range(r):
                        j = str(k) if dx == -1 else f"(least({EDGE}, w) - {sw} + {k})"
                        parts.append(
                            f"CASE WHEN {k} < {sw} THEN substring({blob}, "
                            f"CAST(({j} * h + {rlo}) * {isz} + 1 AS INT), "
                            f"CAST({sh} * {isz} AS INT)) ELSE X'' END")
                    strip = parts[0] if r == 1 else f"concat({', '.join(parts)})"
                fields.append(f"{strip} AS {sql_ident(b)}")
            msg = f"struct({', '.join(fields)})"
            if not centre:
                valid = (f"{sh} > 0 AND {sw} > 0 AND ty + {dy} >= 0 "
                         f"AND tx + {dx} >= 0 AND {dest} != {own}")
                msg = f"CASE WHEN {valid} THEN {msg} END"
            structs.append(msg)
    return (
        tdf.selectExpr(f"explode(array({', '.join(structs)})) AS _m")
        .where("_m IS NOT NULL")
        .selectExpr("_m.*")
    )


def _python_messages(tdf: DataFrame, r: int, bands: Sequence[str]) -> DataFrame:
    """Message emitter for radius > EDGE (or inputs without edge
    blobs): views each tile in Python and emits the same messages as
    ``_jvm_messages`` — the tile to its own super-tile, a strip to each
    neighbour in another super-tile — all untransposed.  One extra
    JVM->Python crossing of the raster."""
    msg_schema = (
        "bk long, gy0 long, gx0 long, sh int, sw int, "
        "iscenter int, transposed int, th int, tw int, "
        + ", ".join(f"{sql_ident(b)} binary" for b in bands)
    )
    target = _arrow_schema_of(msg_schema)

    def _emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            keys = _key_arrays(rb)
            blobs = {b: rb.column(b) for b in bands}
            rows: dict[str, list] = {f.name: [] for f in target}
            for i in range(rb.num_rows):
                ty, tx, h, w, th, tw = (int(keys[c][i]) for c in TILE_KEY_COLS)
                gy, gx = ty * th, tx * tw
                own = _block_key(ty, tx)
                arrs = {b: _blob_view(blobs[b], i, h, w) for b in bands}
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        dty, dtx = ty + dy, tx + dx
                        centre = dy == 0 and dx == 0
                        if dty < 0 or dtx < 0:
                            continue
                        bk = _block_key(dty, dtx)
                        if bk == own and not centre:
                            continue
                        rlo = max(0, (dty * th - r) - gy)
                        rhi = min(h, (dty * th + th + r) - gy)
                        clo = max(0, (dtx * tw - r) - gx)
                        chi = min(w, (dtx * tw + tw + r) - gx)
                        if rlo >= rhi or clo >= chi:
                            continue
                        msg = (bk, gy + rlo, gx + clo, rhi - rlo, chi - clo,
                               int(centre), 0, th, tw)
                        for k, v in zip(MSG_FIELDS, msg):
                            rows[k].append(v)
                        for b in bands:
                            rows[b].append(arrs[b][rlo:rhi, clo:chi].tobytes())
            yield pa.RecordBatch.from_pydict(rows, schema=target)

    return tdf.mapInArrow(_emit, schema=msg_schema)


def _strip_rows(tdf: DataFrame, r: int, bands: Sequence[str]) -> DataFrame:
    """Narrow JVM projection of each tile's four halo strips — top /
    bottom row bands sliced from the block, left / right column bands
    sliced from the transposed edge blobs (all contiguous substrings,
    whole-stage codegen).  Per-tile bytes ~ 2r(h + w) * isz * n_bands
    = perimeter scale; this is what the broadcast halo path collects."""
    h, w = F.col("h"), F.col("w")
    have_tb = all(f"{b}__te" in tdf.columns for b in bands)
    cols = [F.col(c) for c in TILE_KEY_COLS]
    for b in bands:
        toph = F.least(F.lit(r), h)
        lc = F.least(F.lit(r), w)
        e = F.least(F.lit(EDGE), w)
        if have_tb:
            # stored top/bottom row blobs -> the projection touches NO
            # block column: the whole strips job scans perimeter bytes
            isz = (F.length(F.col(f"{b}__le"))
                   / (F.least(F.lit(EDGE), w) * h)).cast("long")
            et = F.least(F.lit(EDGE), h)
            top = F.col(f"{b}__te").substr(
                F.lit(1), (toph * w * isz).cast("int"))
            bot = F.col(f"{b}__be").substr(
                ((et - toph) * w * isz + 1).cast("int"),
                (toph * w * isz).cast("int"))
        else:
            block = F.col(b)
            isz = (F.length(block) / (h * w)).cast("long")
            top = block.substr(F.lit(1), (toph * w * isz).cast("int"))
            bot = block.substr(((h - toph) * w * isz + 1).cast("int"),
                               (toph * w * isz).cast("int"))
        cols += [
            top.alias(f"{b}__top"),
            bot.alias(f"{b}__bot"),
            F.col(f"{b}__le").substr(F.lit(1), (lc * h * isz).cast("int"))
            .alias(f"{b}__l"),
            F.col(f"{b}__re").substr(((e - lc) * h * isz + 1).cast("int"),
                                     (lc * h * isz).cast("int"))
            .alias(f"{b}__r"),
        ]
    return tdf.select(*cols)


# strip kind consulted per neighbor offset (dy, dx) during assembly:
# vertical neighbors (and diagonals) contribute row bands, horizontal
# neighbors contribute column bands; the generic overlap clip trims
# each full-length strip down to the halo (corners included).
_NBR_STRIP = {
    (-1, -1): "bot", (-1, 0): "bot", (-1, 1): "bot",
    (0, -1): "r", (0, 1): "l",
    (1, -1): "top", (1, 0): "top", (1, 1): "top",
}


def _clip_place(pad, oy0, ox0, gy0, gx0, sh, sw, src) -> None:
    """Copy the overlap of a source rect (global origin gy0/gx0, shape
    sh/sw) into the padded array whose global origin is (oy0, ox0)."""
    H2, W2 = pad.shape
    oy, ox = gy0 - oy0, gx0 - ox0
    slo_y, slo_x = max(0, -oy), max(0, -ox)
    oy, ox = max(0, oy), max(0, ox)
    shi_y = min(sh, slo_y + H2 - oy)
    shi_x = min(sw, slo_x + W2 - ox)
    if shi_y <= slo_y or shi_x <= slo_x:
        return
    pad[oy:oy + shi_y - slo_y, ox:ox + shi_x - slo_x] = \
        src[slo_y:shi_y, slo_x:shi_x]


# Both halo plans assemble a tile from the same parts: the centre block
# plus neighbour "pieces" (gy0, gx0, sh, sw, {band: array}) — the
# sibling tiles and strips of its super-tile group, or broadcast
# perimeter strips — each a zero-copy view of an Arrow binary cell
# holding true raster values at its own global coordinates.  The plans
# differ only in how they gather the pieces.

def _blob_view(col, i: int, sh: int, sw: int,
               transposed: bool = False) -> np.ndarray:
    """Zero-copy (sh, sw) view of row ``i`` of an Arrow binary column:
    ``_decode`` reads the cell's buffer in place (no Python ``bytes``
    copy).  Transposed strips are stored (sw, sh) row-major."""
    buf = col[i].as_buffer()
    return _decode(buf, sw, sh).T if transposed else _decode(buf, sh, sw)


def _key_arrays(tbl) -> dict[str, np.ndarray]:
    """The tile-key columns of an Arrow table / record batch as numpy."""
    return {c: tbl.column(c).to_numpy(zero_copy_only=False)
            for c in TILE_KEY_COLS}


def _reduce_tile(meta: dict, centre: dict, pieces, r: int, reduce_fn,
                 target: pa.Schema) -> pa.RecordBatch:
    """Assemble one tile and reduce it: NaN-pad the centre blocks by
    ``r``, clip every neighbour piece into place, run ``reduce_fn``
    (all-NaN windows' RuntimeWarnings silenced) and convert its pandas
    frame to the ``target`` Arrow schema.  Halos come from the 8
    neighbour tiles only, so a radius past the tile size is refused."""
    h, w = meta["h"], meta["w"]
    if r > min(meta["th"], meta["tw"]):
        raise ValueError(
            f"halo radius {r} exceeds the {meta['th']}x{meta['tw']} tile; "
            f"retile with tiles of at least {r} px per side"
        )
    oy0, ox0 = meta["ty"] * meta["th"] - r, meta["tx"] * meta["tw"] - r
    padded = {}
    for b, blk in centre.items():
        pad = np.full((h + 2 * r, w + 2 * r), np.nan, dtype=blk.dtype)
        pad[r:r + h, r:r + w] = blk
        padded[b] = pad
    for gy0, gx0, sh, sw, srcs in pieces:
        for b, src in srcs.items():
            _clip_place(padded[b], oy0, ox0, gy0, gx0, sh, sw, src)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        pdf = reduce_fn(meta, padded)
    return pa.RecordBatch.from_arrays(_arrow_arrays(pdf, target), schema=target)


def _strip_lookup(tbl, bands: Sequence[str], r: int):
    """Arrow table of ``_strip_rows`` rows -> ``piece(tile, kind)``,
    the tile's ``kind`` strip as a piece with its own global coords, or
    None when the table has no such tile."""
    keys = _key_arrays(tbl)
    row = {t: i for i, t in enumerate(zip(keys["ty"].tolist(),
                                          keys["tx"].tolist()))}
    cols = {(b, kind): tbl.column(f"{b}__{kind}")
            for b in bands for kind in ("top", "bot", "l", "r")}

    def piece(t: tuple, kind: str):
        i = row.get(t)
        if i is None:
            return None
        h, w = int(keys["h"][i]), int(keys["w"][i])
        gy, gx = t[0] * int(keys["th"][i]), t[1] * int(keys["tw"][i])
        toph, lc = min(r, h), min(r, w)
        gy0, gx0, sh, sw, tr = {
            "top": (gy, gx, toph, w, False),
            "bot": (gy + h - toph, gx, toph, w, False),
            "l": (gy, gx, h, lc, True),
            "r": (gy, gx + w - lc, h, lc, True),
        }[kind]
        return gy0, gx0, sh, sw, {
            b: _blob_view(cols[(b, kind)], i, sh, sw, tr) for b in bands
        }

    return piece


def _halo_broadcast(
    tdf: DataFrame,
    r: int,
    bands: list,
    reduce_fn,
    out_schema: str,
    max_bytes: int,
) -> DataFrame:
    """Shuffle-free halo exchange: ONE perimeter-scale collect of the
    strip projection -> broadcast -> mapInArrow assembles each padded
    block from its own row plus the 8 neighbors' broadcast strips.

    Trade vs the default plan: the input is SCANNED twice (strip
    projection + stencil pass) instead of shuffled once, and the strip
    volume must fit the driver/broadcast (4r(th+tw)/(th*tw) of raster
    bytes — ~0.8%% at r=1 512^2 f32, so a ~2 TB raster saturates a
    512 MB cap; beyond that the default plan is the plan).  Use it on
    STORED/cached tiled tables; on computed chains the double scan
    re-executes the upstream plan."""
    sdf = _strip_rows(tdf, r, bands)
    # size the strip volume BEFORE collecting — the cap must protect
    # the driver, not report an OOM after the fact (one tiny agg job
    # over the perimeter-scale projection)
    size_expr = None
    for b in bands:
        for sfx in ("__top", "__bot", "__l", "__r"):
            e = F.length(F.col(f"{b}{sfx}"))
            size_expr = e if size_expr is None else size_expr + e
    est = sdf.agg(F.sum(size_expr).alias("n")).collect()[0]["n"] or 0
    if est > max_bytes:
        raise ValueError(
            f"halo strips ({int(est) >> 20} MiB) exceed the broadcast cap "
            f"({max_bytes >> 20} MiB); unset spark.xrspatial.halo.strategy "
            "for the default plan"
        )
    bc = tdf.sparkSession.sparkContext.broadcast(sdf.toArrow())
    target = _arrow_schema_of(out_schema)

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        strip = _strip_lookup(bc.value, bands, r)
        for rb in batches:
            keys = _key_arrays(rb)
            blobs = {b: rb.column(b) for b in bands}
            for i in range(rb.num_rows):
                meta = {c: int(keys[c][i]) for c in TILE_KEY_COLS}
                ty, tx = meta["ty"], meta["tx"]
                centre = {b: _blob_view(blobs[b], i, meta["h"], meta["w"])
                          for b in bands}
                pieces = [p for (dy, dx), kind in _NBR_STRIP.items()
                          if (p := strip((ty + dy, tx + dx), kind)) is not None]
                yield _reduce_tile(meta, centre, pieces, r, reduce_fn, target)

    return tdf.mapInArrow(_run, schema=out_schema)


def halo_map_tiled(
    tdf: DataFrame,
    radius: int,
    value_cols: Sequence[str],
    reduce_fn,
    out_schema: str,
) -> DataFrame:
    """The generic halo-exchange primitive: per-tile ``reduce_fn(meta,
    padded)`` where ``meta`` = dict(ty, tx, h, w, th, tw) and
    ``padded`` maps band -> NaN-padded (h+2r, w+2r) array.
    ``reduce_fn`` returns ANY pd.DataFrame matching ``out_schema`` —
    stencils return one tiled row (apply_stencil_tiled).  The radius
    must not exceed the tile size (the task raises ``ValueError``).

    Default plan: one message projection (``_jvm_messages``, or
    ``_python_messages`` for radius > EDGE or inputs without edge
    blobs) sends every tile to its 4x4 super-tile's group and a border
    strip to each neighbouring super-tile; ONE groupBy(bk) shuffle ->
    ``_halo_shuffle`` assembles every tile of the group.  One scan,
    raster-scale shuffle, works on any tiled input.

    ``spark.xrspatial.halo.strategy=broadcast`` (the only other
    accepted value) selects ``_halo_broadcast``: perimeter-scale strip
    collect + broadcast -> shuffle-free mapInArrow.  Two scans, zero
    shuffle, for stored rasters whose strips fit
    ``spark.xrspatial.halo.broadcast.maxBytes`` (default 512 MiB;
    raises past the cap).  Requires radius <= EDGE and edge blobs.

    Domain edges stay NaN on both plans."""
    r = int(radius)
    bands = list(value_cols)
    have_edges = all(f"{b}__le" in tdf.columns for b in bands)
    strategy = tdf.sparkSession.conf.get("spark.xrspatial.halo.strategy", None)
    if strategy == "broadcast":
        if r > EDGE or not have_edges:
            raise ValueError("broadcast halo needs radius <= EDGE and edge blobs")
        max_bytes = int(tdf.sparkSession.conf.get(
            "spark.xrspatial.halo.broadcast.maxBytes", str(512 << 20)
        ))
        return _halo_broadcast(tdf, r, bands, reduce_fn, out_schema,
                               max_bytes)
    if strategy is not None:
        raise ValueError(
            f"unknown spark.xrspatial.halo.strategy {strategy!r}: the only "
            "accepted value is 'broadcast'; unset it for the default plan"
        )
    if r <= EDGE and have_edges:
        msgs = _jvm_messages(tdf, r, bands)
    else:
        msgs = _python_messages(tdf, r, bands)
    return _halo_shuffle(msgs, r, bands, reduce_fn, out_schema)


def _arrow_schema_of(ddl: str) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def _arrow_arrays(pdf: pd.DataFrame, target: pa.Schema) -> list:
    """pandas frame -> arrow arrays against the TARGET schema (pandas
    int defaults are 64-bit; the tiled schema carries int32 fields)."""
    arrays = []
    for field in target:
        col = pdf[field.name]
        if col.dtype == object:
            arrays.append(pa.array(col.tolist(), type=field.type))
        else:
            arrays.append(pa.array(col.to_numpy(), type=field.type))
    return arrays


def _halo_shuffle(
    msgs: DataFrame, r: int, bands: Sequence[str], reduce_fn, out_schema: str
) -> DataFrame:
    """The default plan's assembly: ONE groupBy(bk) brings a
    super-tile's tiles and the strips its neighbours sent together;
    every message is a piece read zero-copy from the shuffled Arrow
    buffers.  Each centre tile is reduced with every other piece of its
    group — ``_clip_place`` drops the pieces outside its window.
    Groups without a centre (strips addressed past the raster edge)
    emit nothing."""
    target = _arrow_schema_of(out_schema)

    def _assemble(key: tuple, tbl: pa.Table) -> pa.Table:
        m = {c: tbl.column(c).to_numpy(zero_copy_only=False)
             for c in MSG_FIELDS}
        blobs = {b: tbl.column(b) for b in bands}
        pieces = []
        for i in range(tbl.num_rows):
            sh, sw = int(m["sh"][i]), int(m["sw"][i])
            tr = bool(m["transposed"][i])
            pieces.append((int(m["gy0"][i]), int(m["gx0"][i]), sh, sw, {
                b: _blob_view(blobs[b], i, sh, sw, tr) for b in bands
            }))
        outs = []
        for ci in np.flatnonzero(m["iscenter"] == 1).tolist():
            gy0, gx0, h, w, centre = pieces[ci]
            th, tw = int(m["th"][ci]), int(m["tw"][ci])
            meta = {"ty": gy0 // th, "tx": gx0 // tw, "h": h, "w": w,
                    "th": th, "tw": tw}
            outs.append(_reduce_tile(meta, centre,
                                     pieces[:ci] + pieces[ci + 1:],
                                     r, reduce_fn, target))
        return pa.Table.from_batches(outs, schema=target)

    return msgs.groupBy("bk").applyInArrow(_assemble, schema=out_schema)


def apply_stencil_tiled(
    tdf: DataFrame,
    fn: StencilFn,
    radius: int,
    value_cols: Sequence[str] = ("value",),
    out_cols: Sequence[str] = ("value",),
) -> DataFrame:
    """One halo-stencil pass over a tiled raster.

    Plan: a single JVM-side SQL explode emits, per tile, the full tile
    addressed to its own 4x4 super-tile (a zero-copy column reference)
    plus the border strips (contiguous substrings of the block / its
    transposed edge blobs) that neighbours in other super-tiles need;
    ONE groupBy(bk) shuffle co-locates them; each task assembles every
    tile's NaN-padded (h+2r, w+2r) block with numpy slicing, runs
    ``fn``, and emits the interior (plus refreshed edge blobs) as one
    tiled row per tile.

    Raster bytes cross the JVM<->Python boundary exactly once each
    way (the assemble/kernel stage); shuffle volume ~= raster bytes *
    (1 + r(th+tw)/(2*th*tw)) — ~0.2%% halo overhead at r=1, 512x512.
    Groups that hold no tile (strips addressed past the raster edge)
    emit nothing, so domain edges stay NaN exactly like the long-form
    path / the reference's NaN boundary (xrspatial/focal.py:70-76
    map_overlap boundary=np.nan).
    """
    bands = list(value_cols)
    ocols = list(out_cols)
    out_schema = tiled_schema(ocols)

    def _reduce(meta: dict, padded: dict) -> pd.DataFrame:
        outs = fn(padded)
        dts = {b: padded[b].dtype for b in bands}
        default_dt = next(iter(dts.values()))
        row = {"ty": [meta["ty"]], "tx": [meta["tx"]],
               "h": [meta["h"]], "w": [meta["w"]],
               "th": [meta["th"]], "tw": [meta["tw"]]}
        for b in ocols:
            a = np.ascontiguousarray(outs[b], dtype=dts.get(b, default_dt))
            row[b] = [a.tobytes()]
            for sfx, blob in _halo_blobs(a).items():
                row[f"{b}{sfx}"] = [blob]
        return pd.DataFrame(row)

    return halo_map_tiled(tdf, radius, bands, _reduce, out_schema)


# ---------------------------------------------------------------------------
# tiled aggregates (global reductions without untiling)
# ---------------------------------------------------------------------------

def global_stats(tdf: DataFrame, value_col: str = "value") -> dict[str, float]:
    """count / mean / population std / min / max over a tiled raster —
    map-side numpy partials + one tiny agg (the tiled analog of
    ``df.agg(avg, stddev_pop)``)."""

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = s = s2 = 0.0
        lo, hi = np.inf, -np.inf
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                a = _decode(getattr(rec, value_col), int(rec.h), int(rec.w))
                m = np.isfinite(a)
                if m.any():
                    v = a[m].astype(np.float64, copy=False)
                    n += v.size
                    s += float(v.sum())
                    s2 += float((v * v).sum())
                    lo = min(lo, float(v.min()))
                    hi = max(hi, float(v.max()))
        yield pd.DataFrame(
            {"n": [n], "s": [s], "s2": [s2], "lo": [lo], "hi": [hi]}
        )

    part = tdf.mapInPandas(
        _partial, schema="n double, s double, s2 double, lo double, hi double"
    )
    row = part.agg(
        F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("s2").alias("s2"),
        F.min("lo").alias("lo"), F.max("hi").alias("hi"),
    ).collect()[0]
    n = float(row["n"]) or float("nan")
    mean = float(row["s"]) / n
    var = max(0.0, float(row["s2"]) / n - mean * mean)
    return {
        "count": n,
        "mean": mean,
        "std": var ** 0.5,
        "min": float(row["lo"]),
        "max": float(row["hi"]),
    }


def map_tiles(
    tdf: DataFrame,
    fn: Callable[[dict[str, np.ndarray]], dict[str, np.ndarray]],
    value_cols: Sequence[str] = ("value",),
    out_cols: Sequence[str] = ("value",),
    out_dtypes: dict | None = None,
) -> DataFrame:
    """Cell-local (radius-0) transform — map-side only, no shuffle.
    ``fn`` maps dict of (h, w) arrays to dict of (h, w) arrays.
    Output bands default to the matching input band's dtype (first
    band's for new names); ``out_dtypes`` pins specific bands — e.g.
    an exact-integer label band must stay float64 on a float32
    raster."""
    bands = list(value_cols)
    ocols = list(out_cols)
    odt = out_dtypes or {}

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"ty": [], "tx": [], "h": [], "w": [], "th": [], "tw": []}
            for b in ocols:
                out[b] = []
                for sfx in BLOB_SUFFIXES:
                    out[f"{b}{sfx}"] = []
            for rec in pdf.itertuples(index=False):
                h, w = int(rec.h), int(rec.w)
                arrs = {b: _decode(getattr(rec, b), h, w) for b in bands}
                dts = {b: a.dtype for b, a in arrs.items()}
                default_dt = next(iter(dts.values()))
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", category=RuntimeWarning)
                    res = fn(arrs)
                out["ty"].append(int(rec.ty))
                out["tx"].append(int(rec.tx))
                out["h"].append(h)
                out["w"].append(w)
                out["th"].append(int(rec.th))
                out["tw"].append(int(rec.tw))
                for b in ocols:
                    a = np.ascontiguousarray(
                        res[b], dtype=odt.get(b, dts.get(b, default_dt)))
                    out[b].append(a.tobytes())
                    for sfx, blob in _halo_blobs(a).items():
                        out[f"{b}{sfx}"].append(blob)
            yield pd.DataFrame(out)

    return tdf.mapInPandas(_run, schema=tiled_schema(ocols))


def numpy_from_tiled(tdf: DataFrame, value_col: str = "value") -> np.ndarray:
    """Collect a tiled raster to one dense array (tests only)."""
    rows = tdf.select("ty", "tx", "h", "w", "th", "tw", value_col).collect()
    H = max(int(r["ty"]) * int(r["th"]) + int(r["h"]) for r in rows)
    W = max(int(r["tx"]) * int(r["tw"]) + int(r["w"]) for r in rows)
    out = np.full((H, W), np.nan, dtype=np.float64)
    for r in rows:
        a = _decode(r[value_col], int(r["h"]), int(r["w"]))
        y0 = int(r["ty"]) * int(r["th"])
        x0 = int(r["tx"]) * int(r["tw"])
        out[y0:y0 + int(r["h"]), x0:x0 + int(r["w"])] = a
    return out


# ---------------------------------------------------------------------------
# reading stored tiled rasters
# ---------------------------------------------------------------------------

_TARGET_VECTOR_BYTES = 64 << 20  # per-column ceiling for the parquet reader
_TABLE_BATCH_ROWS = 4096


def raster_scan_conf(spark: SparkSession, tile_bytes: int) -> None:
    """Size the vectorized parquet reader for multi-MB binary cells:
    the 4096-row default reserves batch_rows * tile_bytes contiguous
    per column — >2 GB aborts the scan outright and ~GBs OOM the heap
    under 32 concurrent tasks.  Captured at ACTION time (measured), so
    this must be set on the session before materializing a plan that
    scans tiled parquet."""
    rows = max(4, _TARGET_VECTOR_BYTES // max(1, tile_bytes))
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", str(rows))


def table_scan_conf(spark: SparkSession) -> None:
    """Restore the narrow-table reader batch (8-row batches cost ~12x
    on the documents scan; see session.py note)."""
    spark.conf.set(
        "spark.sql.parquet.columnarReaderBatchSize", str(_TABLE_BATCH_ROWS)
    )


def read(spark: SparkSession, path: str, tile_bytes: int | None = None) -> DataFrame:
    """Open a stored tiled raster and configure the session's reader
    batch for its tile size (probed from the first row when not
    given).  The conf change persists on the session — flip back with
    ``table_scan_conf`` before big narrow-table scans."""
    return _sized_scan(spark, spark.read.parquet(path), tile_bytes)


def _sized_scan(
    spark: SparkSession, df: DataFrame, tile_bytes: int | None
) -> DataFrame:
    if tile_bytes is None:
        band = next(
            c for c in df.columns
            if c not in TILE_KEY_COLS and not c.endswith(BLOB_SUFFIXES)
        )
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "4")
        row = df.select(F.length(band).alias("n")).limit(1).collect()
        tile_bytes = int(row[0]["n"]) if row else 8 << 20
    raster_scan_conf(spark, tile_bytes)
    return df


# ---------------------------------------------------------------------------
# stencil fusion
# ---------------------------------------------------------------------------

def fuse_stencils(stages: "Sequence[tuple[StencilFn, int]]") -> tuple[StencilFn, int]:
    """Compose a chain of stencil kernels into ONE (fn, radius) pair.

    A stage with radius r consumes an r-padded block and returns the
    interior; padding the INPUT by the sum of all radii lets every
    stage run back-to-back on progressively-shrinking arrays without
    touching Spark between them.  An n-stage pipeline then costs one
    halo shuffle instead of n — the 100-TB version of "loop fusion"
    (e.g. focal.mean(passes=3), or slope-then-smooth).

    Stage i's fn maps {band: padded array} -> {band: interior array};
    output bands of stage i feed stage i+1.
    """
    radii = [int(r) for _, r in stages]
    total = sum(radii)

    def _fused(arrs: dict) -> dict:
        cur = arrs
        for (fn, r), idx in zip(stages, range(len(stages))):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", category=RuntimeWarning)
                cur = fn(cur)
            # cur arrays are now padded by the REMAINING radii sum
        return cur

    return _fused, total
