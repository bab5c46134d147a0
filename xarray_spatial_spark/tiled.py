"""Dense-tile raster format — the scale representation for stencils.

The long-form raster (one row per cell) is the engine's interchange /
test format; at 100-TB scale a stencil over it shuffles ~33 bytes per
cell plus per-row Arrow overhead.  This module stores a raster as one
row per TILE:

    (ty long, tx long, h int, w int, th int, tw int, <band> binary ...)

where each band is the row-major float64 (or float32) bytes of the
(h, w) block (NaN = nodata, mirroring the reference's
``boundary=np.nan`` dask map_overlap pad, xrspatial/focal.py:70-76),
followed by its four perimeter blobs.  Every tiled frame carries all
four blobs of every band; a frame without them is refused at plan
time.  Tiles are full ``tile_h x tile_w`` except the raster's
bottom/right edges, which are clipped, so the raster extent is
implicit in the tile set.

Only this module knows that row format (the blob layout, the
dtype-by-length rule, the ``EDGE`` width).  Every producer writes tile
rows with ONE Arrow writer (``_tile_batch``) and every consumer reads
them with ONE Arrow reader (``_tile_rows``, zero-copy views of the
binary cells), inside ``mapInArrow`` / ``applyInArrow`` — tile bytes
never pass through pandas.

A stencil pass over tiled data is ONE shuffle of about the raster's
bytes, grouped per 4x4 super-tile: every tile goes to its own
super-tile's group, plus radius-wide border strips to each
neighbouring super-tile.  Each group assembles its tiles' NaN-padded
blocks from its siblings and the strips with vectorized numpy slices —
no per-cell rows, no pandas scatter.  This is the Spark re-plan of dask
``map_overlap`` boundary exchange at ~8 bytes/cell instead of ~33.

``operators.halo.apply_stencil`` dispatches here when its input
carries the tiled schema; a long-form input goes through ``_via_tiles``,
which packs it into full tiles with a presence band, runs the same
tiled plan and untiles the input's cells.  So every stencil operator
(slope/aspect/curvature/hillshade/focal/convolve/hotspots) and
``regions`` have one plan for both formats (tests/test_tiled.py and
tests/test_regions.py check both against numpy references).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_spatial_spark.functions.geo import sql_ident

DEFAULT_TILE = 512

TILE_KEY_COLS = ("ty", "tx", "h", "w", "th", "tw")
_KEY_TYPES = (pa.int64(),) * 2 + (pa.int32(),) * 4

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
           # in the all-JVM strip path; larger radii use the Python emitter)

BLOB_SUFFIXES = ("__le", "__re", "__te", "__be")


def tiled_schema(bands: Sequence[str]) -> str:
    """Canonical tiled schema: per band, the dense block plus four
    small perimeter blobs (~6%% of tile bytes at 512px): TRANSPOSED
    leftmost/rightmost ``EDGE`` columns (``__le``/``__re``) and plain
    top/bottom ``EDGE`` rows (``__te``/``__be``).  The transposed edge
    blobs make every vertical and corner halo strip a plain contiguous
    ``substring`` in whole-stage codegen (column extraction from
    row-major bytes would need per-element higher-order functions,
    which fall out of codegen and copy catastrophically); the row blobs
    let ``regions_tiled``'s strip projection (``_strip_rows``) scan
    perimeter bytes only, never the block column."""
    cols = ["ty long", "tx long", "h int", "w int", "th int", "tw int"]
    for b in bands:
        cols += [f"{b} binary"] + [f"{b}{sfx} binary" for sfx in BLOB_SUFFIXES]
    return ", ".join(cols)


def _halo_blobs(a: np.ndarray) -> dict[str, bytes]:
    """All four perimeter blobs for one block: transposed left/right
    EDGE columns ((min(EDGE, w), h) row-major) plus plain top/bottom
    EDGE rows.  The halo plan slices its vertical and corner strips
    from the transposed blobs; ``_strip_rows`` (``regions_tiled``'s
    border compare) reads only the four blobs, so it costs perimeter,
    not area."""
    e = min(EDGE, a.shape[1])
    er = min(EDGE, a.shape[0])
    return {
        "__le": np.ascontiguousarray(a[:, :e].T).tobytes(),
        "__re": np.ascontiguousarray(a[:, a.shape[1] - e:].T).tobytes(),
        "__te": a[:er, :].tobytes(),
        "__be": a[a.shape[0] - er:, :].tobytes(),
    }


def _require_blobs(tdf: DataFrame, bands: Sequence[str]) -> None:
    """Refuse, at plan time, a tiled frame that lacks a band's block or
    perimeter blobs."""
    missing = [f"{b}{sfx}" for b in bands for sfx in ("",) + BLOB_SUFFIXES
               if f"{b}{sfx}" not in tdf.columns]
    if missing:
        raise ValueError(f"tiled frame lacks columns {missing}: every "
                         "tiled frame carries its bands' perimeter blobs")


# ---------------------------------------------------------------------------
# the tile codec: one Arrow writer, one Arrow reader
# ---------------------------------------------------------------------------

def _tile_batch(
    meta: dict, blocks: dict[str, np.ndarray],
    extra: dict[str, pa.Array] | None = None,
) -> pa.RecordBatch:
    """The tile writer: one tile row — ``meta``'s key columns (ty, tx,
    h, w, th, tw) with ``tiled_schema``'s Arrow types, then per band its
    (h, w) block's bytes (already in the band's output dtype) and four
    perimeter blobs, then the one-row ``extra`` columns."""
    cols = {c: pa.array([meta[c]], t) for c, t in zip(TILE_KEY_COLS, _KEY_TYPES)}
    for b, a in blocks.items():
        cols[b] = pa.array([a.tobytes()], pa.binary())
        for sfx, blob in _halo_blobs(a).items():
            cols[f"{b}{sfx}"] = pa.array([blob], pa.binary())
    cols.update(extra or {})
    return pa.RecordBatch.from_pydict(cols)


def _tile_rows(batch, bands: Sequence[str]) -> Iterator[tuple[dict, dict]]:
    """The tile reader: per row of an Arrow record batch or table, its
    ``meta`` (the key columns as ints) and a zero-copy (h, w) view of
    each band's block."""
    keys = {c: batch.column(c).to_numpy(zero_copy_only=False)
            for c in TILE_KEY_COLS}
    cols = {b: batch.column(b) for b in bands}
    for i in range(batch.num_rows):
        meta = {c: int(keys[c][i]) for c in TILE_KEY_COLS}
        yield meta, {b: _blob_view(cols[b], i, meta["h"], meta["w"])
                     for b in bands}


def _blob_view(col, i: int, sh: int, sw: int,
               transposed: bool = False) -> np.ndarray:
    """Zero-copy (sh, sw) view of row ``i`` of an Arrow binary column:
    ``_decode`` reads the cell's buffer in place (no Python ``bytes``
    copy).  Transposed strips are stored (sw, sh) row-major."""
    buf = col[i].as_buffer()
    return _decode(buf, sw, sh).T if transposed else _decode(buf, sh, sw)


def _select(tdf: DataFrame, bands: Sequence[str]) -> DataFrame:
    """The key columns and ``bands`` only: what a reader needs crosses
    into Python, not the perimeter blobs or other bands."""
    return tdf.select(*(tdf[c] for c in dict.fromkeys((*TILE_KEY_COLS, *bands))))


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
    byte (stored, shuffled, Arrow-crossed) at float32 precision.  A
    cell with a negative ``y`` or ``x`` raises ``ValueError`` naming
    it: tiled rasters start at (0, 0)."""
    if shape is None:
        row = df.agg(F.max("y").alias("my"), F.max("x").alias("mx")).collect()[0]
        shape = (int(row["my"]) + 1, int(row["mx"]) + 1)
    return _tile(df, tile_h, tile_w, value_cols, shape, dtype)


def _tile(
    df: DataFrame,
    tile_h: int,
    tile_w: int,
    value_cols: Sequence[str],
    shape: tuple[int, int] | None,
    dtype=np.float64,
) -> DataFrame:
    """``tile`` without the extent job: ``shape=None`` packs every tile
    full ``tile_h x tile_w``, NaN where no row lands."""
    bands = list(value_cols)

    def _pack(key: tuple, tbl: pa.Table) -> pa.Table:
        ty, tx = key[0].as_py(), key[1].as_py()
        ys = tbl.column("y").to_numpy(zero_copy_only=False).astype(np.int64)
        xs = tbl.column("x").to_numpy(zero_copy_only=False).astype(np.int64)
        if ty < 0 or tx < 0:
            i = int(np.flatnonzero((ys < 0) | (xs < 0))[0])
            raise ValueError(f"cell (y={ys[i]}, x={xs[i]}) has a negative "
                             "coordinate; tiled rasters start at (0, 0)")
        h, w = tile_h, tile_w
        if shape is not None:
            h = min(tile_h, shape[0] - ty * tile_h)
            w = min(tile_w, shape[1] - tx * tile_w)
        py, px = ys - ty * tile_h, xs - tx * tile_w
        blocks = {}
        for b in bands:
            a = np.full((h, w), np.nan, dtype=dtype)
            a[py, px] = tbl.column(b).to_numpy(zero_copy_only=False)
            blocks[b] = a
        meta = {"ty": ty, "tx": tx, "h": h, "w": w, "th": tile_h, "tw": tile_w}
        return pa.Table.from_batches([_tile_batch(meta, blocks)])

    keyed = df.withColumn("_ty", F.floor(F.col("y") / tile_h).cast("long")).withColumn(
        "_tx", F.floor(F.col("x") / tile_w).cast("long")
    )
    return keyed.groupBy("_ty", "_tx").applyInArrow(
        _pack, schema=tiled_schema(bands)
    )


def untile(
    tdf: DataFrame,
    value_cols: Sequence[str] = ("value",),
    drop_nan: bool = False,
) -> DataFrame:
    """Tiled -> long-form (y, x, bands...).  Map-side only (no
    shuffle).  NaN and +-inf cells become NULL; ``drop_nan`` omits
    NaN cells."""
    bands = list(value_cols)
    schema = "y int, x int, " + ", ".join(f"{b} double" for b in bands)

    def _unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for meta, arrs in _tile_rows(rb, bands):
                h, w = meta["h"], meta["w"]
                yy = np.repeat(
                    np.arange(h, dtype=np.int64) + meta["ty"] * meta["th"], w
                ).astype(np.int32)
                xx = np.tile(
                    np.arange(w, dtype=np.int64) + meta["tx"] * meta["tw"], h
                ).astype(np.int32)
                data = {b: a.ravel().astype(np.float64) for b, a in arrs.items()}
                if drop_nan:
                    keep = np.zeros(h * w, dtype=bool)
                    for v in data.values():
                        keep |= ~np.isnan(v)
                    yy, xx = yy[keep], xx[keep]
                    data = {b: v[keep] for b, v in data.items()}
                cols = {"y": pa.array(yy), "x": pa.array(xx)}
                for b, v in data.items():
                    cols[b] = pa.array(v, mask=~np.isfinite(v))
                yield pa.RecordBatch.from_pydict(cols)

    return _select(tdf, bands).mapInArrow(_unpack, schema=schema)


PRESENT = "__present"


def _via_tiles(
    df: DataFrame,
    value_cols: Sequence[str],
    tile_h: int,
    tile_w: int,
    run: Callable[[DataFrame], DataFrame],
    out_cols: Sequence[str],
    keep: str = PRESENT,
) -> DataFrame:
    """The long-form adapter: run a tiled operator on a long-form
    raster.  ``(y, x, value_cols...)`` is packed as float64 into full
    ``tile_h x tile_w`` tiles (so no extent job) with one more band,
    ``PRESENT``: 1.0 on every input row, NaN elsewhere.  Absent cells
    are NaN in every band, so a stencil window sees them exactly as it
    sees the raster's edge.  ``run`` maps that tiled frame to one whose
    bands include ``out_cols`` and ``keep``; the result is untiled and
    the rows where ``keep`` is non-NULL (the input's cells) come back
    as ``(y int, x int, out_cols double...)``, non-finite values
    NULL."""
    bands = list(value_cols)
    src = df.select("y", "x", *(F.col(c).cast("double").alias(c) for c in bands),
                    F.lit(1.0).alias(PRESENT))
    tdf = _tile(src, tile_h, tile_w, [*bands, PRESENT], None)
    ocols = list(out_cols)
    return (untile(run(tdf), list(dict.fromkeys([*ocols, keep])))
            .where(F.col(keep).isNotNull()).select("y", "x", *ocols))


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
    """Message emitter for radius > EDGE: views each tile in Python and
    emits the same messages as ``_jvm_messages`` — the tile to its own
    super-tile, a strip to each neighbour in another super-tile — all
    untransposed.  One extra JVM->Python crossing of the raster."""
    msg_schema = (
        "bk long, gy0 long, gx0 long, sh int, sw int, "
        "iscenter int, transposed int, th int, tw int, "
        + ", ".join(f"{sql_ident(b)} binary" for b in bands)
    )
    target = _arrow_schema_of(msg_schema)

    def _emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            rows: dict[str, list] = {f.name: [] for f in target}
            for meta, arrs in _tile_rows(rb, bands):
                ty, tx, h, w, th, tw = (meta[c] for c in TILE_KEY_COLS)
                gy, gx = ty * th, tx * tw
                own = _block_key(ty, tx)
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

    return _select(tdf, bands).mapInArrow(_emit, schema=msg_schema)


def _strip_rows(tdf: DataFrame, bands: Sequence[str]) -> DataFrame:
    """Narrow JVM projection of each tile's four 1-wide border strips
    (``<band>__top``/``__bot``/``__l``/``__r``): the top / bottom rows
    sliced from the stored row blobs, the left / right columns from the
    transposed edge blobs — all contiguous substrings in whole-stage
    codegen that touch NO block column, so the per-tile bytes are
    perimeter scale.  ``regions_tiled`` pairs these strips across tile
    boundaries; it is the only reader of the ``__te``/``__be`` row
    blobs."""
    h, w = F.col("h"), F.col("w")
    cols = [F.col(c) for c in TILE_KEY_COLS]
    for b in bands:
        e = F.least(F.lit(EDGE), w)
        et = F.least(F.lit(EDGE), h)
        isz = (F.length(F.col(f"{b}__le")) / (e * h)).cast("long")
        cols += [
            F.col(f"{b}__te").substr(F.lit(1), (w * isz).cast("int"))
            .alias(f"{b}__top"),
            F.col(f"{b}__be").substr(((et - 1) * w * isz + 1).cast("int"),
                                     (w * isz).cast("int"))
            .alias(f"{b}__bot"),
            F.col(f"{b}__le").substr(F.lit(1), (h * isz).cast("int"))
            .alias(f"{b}__l"),
            F.col(f"{b}__re").substr(((e - 1) * h * isz + 1).cast("int"),
                                     (h * isz).cast("int"))
            .alias(f"{b}__r"),
        ]
    return tdf.select(*cols)


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


# A tile is assembled from its centre block plus neighbour "pieces"
# (gy0, gx0, sh, sw, {band: array}) — the sibling tiles and strips of
# its super-tile group — each a zero-copy view of an Arrow binary cell
# holding true raster values at its own global coordinates.

def _reduce_tile(meta: dict, centre: dict, pieces, r: int, fn: StencilFn,
                 out_cols: Sequence[str]) -> pa.RecordBatch:
    """Assemble one tile and run the stencil on it: NaN-pad the centre
    blocks by ``r``, clip every neighbour piece into place, run ``fn``
    (all-NaN windows' RuntimeWarnings silenced) and write its interior
    arrays as one tile row.  An output band keeps the dtype of the
    input band of the same name (the first input band's for new
    names).  Halos come from the 8 neighbour tiles only, so a radius
    past the tile size is refused."""
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
    first = next(iter(padded.values())).dtype
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        outs = fn(padded)
    return _tile_batch(meta, {
        b: np.ascontiguousarray(
            outs[b], dtype=padded[b].dtype if b in padded else first)
        for b in out_cols
    })


def _arrow_schema_of(ddl: str) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def _halo_shuffle(
    msgs: DataFrame, r: int, bands: Sequence[str], fn: StencilFn,
    out_cols: Sequence[str],
) -> DataFrame:
    """The halo plan's assembly: ONE groupBy(bk) brings a
    super-tile's tiles and the strips its neighbours sent together;
    every message is a piece read zero-copy from the shuffled Arrow
    buffers.  Each centre tile is assembled with every other piece of
    its group — ``_clip_place`` drops the pieces outside its window.
    Groups without a centre (strips addressed past the raster edge)
    emit nothing."""
    out_schema = tiled_schema(out_cols)
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
                                     r, fn, out_cols))
        return pa.Table.from_batches(outs, schema=target)

    return msgs.groupBy("bk").applyInArrow(_assemble, schema=out_schema)


def apply_stencil_tiled(
    tdf: DataFrame,
    fn: StencilFn,
    radius: int,
    value_cols: Sequence[str] = ("value",),
    out_cols: Sequence[str] = ("value",),
) -> DataFrame:
    """One halo-stencil pass over a tiled raster: per tile, ``fn`` maps
    the NaN-padded (h+2r, w+2r) arrays of ``value_cols`` to the (h, w)
    interior arrays of ``out_cols``, written as one tiled row.  The
    radius must not exceed the tile size (the task raises
    ``ValueError``); a frame without its perimeter blobs raises at
    plan time, and so does the retired halo-strategy conf when it is
    set (the halo has one plan).

    The plan: a single JVM-side SQL explode (``_jvm_messages``;
    ``_python_messages`` for radius > EDGE) emits, per tile, the full
    tile addressed to its own 4x4 super-tile (a zero-copy column
    reference) plus the border strips (contiguous substrings of the
    block / its transposed edge blobs) that neighbours in other
    super-tiles need; ONE groupBy(bk) shuffle co-locates them; each
    task assembles every tile's padded block with numpy slicing
    (``_halo_shuffle``), runs ``fn``, and writes the interior (plus
    refreshed perimeter blobs).  Raster bytes cross the JVM<->Python
    boundary exactly once each way; shuffle volume ~= raster bytes *
    (1 + r(th+tw)/(2*th*tw)) — ~0.2%% halo overhead at r=1, 512x512.

    Groups that hold no tile (strips addressed past the raster edge)
    emit nothing, so domain edges stay NaN, exactly like the
    reference's NaN boundary
    (xrspatial/focal.py:70-76 map_overlap boundary=np.nan)."""
    r = int(radius)
    bands = list(value_cols)
    ocols = list(out_cols)
    _require_blobs(tdf, bands)
    retired = "spark.xrspatial.halo.strategy"
    if (strategy := tdf.sparkSession.conf.get(retired, None)) is not None:
        raise ValueError(f"{retired} is set to {strategy!r}, but the halo "
                         f"has one plan; unset {retired}")
    if r <= EDGE:
        msgs = _jvm_messages(tdf, r, bands)
    else:
        msgs = _python_messages(tdf, r, bands)
    return _halo_shuffle(msgs, r, bands, fn, ocols)


# ---------------------------------------------------------------------------
# tiled aggregates (global reductions without untiling)
# ---------------------------------------------------------------------------

def global_stats(tdf: DataFrame, value_col: str = "value") -> dict[str, float]:
    """count / mean / population std / min / max over a tiled raster —
    map-side numpy partials + one tiny agg (the tiled analog of
    ``df.agg(avg, stddev_pop)``)."""

    def _partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        n = s = s2 = 0.0
        lo, hi = np.inf, -np.inf
        for rb in batches:
            for _, arrs in _tile_rows(rb, [value_col]):
                a = arrs[value_col]
                m = np.isfinite(a)
                if m.any():
                    v = a[m].astype(np.float64, copy=False)
                    n += v.size
                    s += float(v.sum())
                    s2 += float((v * v).sum())
                    lo = min(lo, float(v.min()))
                    hi = max(hi, float(v.max()))
        yield pa.RecordBatch.from_pydict(
            {"n": [n], "s": [s], "s2": [s2], "lo": [lo], "hi": [hi]}
        )

    part = _select(tdf, [value_col]).mapInArrow(
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

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for meta, arrs in _tile_rows(rb, bands):
                dts = {b: a.dtype for b, a in arrs.items()}
                first = dts[bands[0]]
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", category=RuntimeWarning)
                    res = fn(arrs)
                yield _tile_batch(meta, {
                    b: np.ascontiguousarray(
                        res[b], dtype=odt.get(b, dts.get(b, first)))
                    for b in ocols
                })

    return _select(tdf, bands).mapInArrow(_run, schema=tiled_schema(ocols))


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
    df = spark.read.parquet(path)
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
    def _fused(arrs: dict) -> dict:
        for fn, _ in stages:
            # arrs are padded by the REMAINING radii sum
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", category=RuntimeWarning)
                arrs = fn(arrs)
        return arrs

    return _fused, sum(int(r) for _, r in stages)
