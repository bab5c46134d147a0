"""Seeded inputs for the three workloads and the references their
outputs are checked against.

Every input is a pure function of ``(workload, seed, size)``: the same
seed gives byte-identical rows, polygons and terrain.  Inputs are built
once per seed and size into a cache directory and reused by later runs,
so a run's set-up time never includes input generation.  The one input
that needs the program to exist, geojoin's Iceberg doc table, is
committed by each run's set-up from the staged rows built here.  The references
are computed here with numpy from the generated arrays, never through
the Spark path under test.  Tile and S2 cell ids use the package's own
numpy cores (``grid.cell_of``, ``s2.cell_of``), which the Spark plans do
not call for Mercator cells and call only inside the UDF for S2 cells.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes -------------------------------------------------------------------

GEOJOIN_DOCS = 100_000
INGEST_DOCS = 100_000
TERRAIN_SIDE = 1024
TERRAIN_TILE = 256

GEO_ZOOM, GEO_TILE_ZOOM = 12, 5
S2_LEVEL, S2_TILE_LEVEL = 14, 1
# polygon grids (columns, rows): 12 and 2000 polygons
GEO_POLYGONS, INGEST_POLYGONS, CITIES = (4, 3), (50, 40), 40
CLASSES, CLASS_BLOCK = 6, 16
INPUT_FILES = 8          # raw/staging files, so scans split across cores
CACHE_KEEP = 12          # cached input sets kept per workload

EARTH_RADIUS = 6378137.0

# (lon, lat) of the cities that take 20% of the documents
HOT_CITIES = np.array([
    (-74.0060, 40.7128), (-0.1278, 51.5074), (139.6503, 35.6762),
    (-46.6333, -23.5505), (77.2090, 28.6139),
])
HOT_SHARE = 0.2

VOCAB = np.array([
    "the", "of", "and", "river", "mountain", "city", "market", "report",
    "science", "open", "model", "query", "join", "cell", "zone", "raster",
    "vector", "stream", "light", "stone", "café", "straße", "東京",
    "año", "naïve", "über", "łódź", "île", "harbour", "valley",
])
LANGS = np.array(["en", "de", "fr", "es", "ja"])
WORKLOAD_KEYS = {"geojoin": 1, "ingest": 2, "stencil": 3}


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), WORKLOAD_KEYS[workload]])


# -- generators --------------------------------------------------------------

def points(rng: np.random.Generator, n: int):
    """lon/lat of n documents: uniform on the sphere (|lat| < 82) except
    a ``HOT_SHARE`` of rows placed exactly on the hot cities."""
    lon = rng.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(rng.uniform(-0.99, 0.99, n)))
    hot = rng.random(n) < HOT_SHARE
    city = rng.integers(0, len(HOT_CITIES), n)
    lon[hot] = HOT_CITIES[city[hot], 0]
    lat[hot] = HOT_CITIES[city[hot], 1]
    return lon, lat


def tiling_polygons(rng, cols: int, rows: int) -> dict[int, np.ndarray]:
    """``cols * rows`` polygons (zone id 1..n, row-major) that tile the
    whole lon/lat plane [-180, 180] x [-90, 90] without overlap, as
    administrative boundaries tile the land: a grid whose corners move by
    up to 0.1 of a cell and whose edge midpoints move across the edge by
    up to 0.08 of a cell.  Neighbours share their vertices, so every
    point lies in exactly one polygon and the R-tree returns about one
    candidate per point.  Every polygon has 8 vertices (corners and edge
    midpoints) for every seed, so the size of the program's PIP
    expressions (and its cost) does not change with the seed.  The
    jitter bounds keep each polygon simple: from a shared corner the
    horizontal edge leaves within 43 degrees of the horizontal and the
    vertical edge within 43 degrees of the vertical (in cell units)."""
    dx, dy = 360.0 / cols, 180.0 / rows
    x = np.broadcast_to(np.linspace(-180.0, 180.0, cols + 1), (rows + 1, cols + 1)).copy()
    y = np.broadcast_to(np.linspace(-90.0, 90.0, rows + 1)[:, None], (rows + 1, cols + 1)).copy()
    # boundary corners move only along the boundary
    x[:, 1:-1] += rng.uniform(-0.1, 0.1, (rows + 1, cols - 1)) * dx
    y[1:-1, :] += rng.uniform(-0.1, 0.1, (rows - 1, cols + 1)) * dy
    # midpoints of horizontal edges (rows + 1, cols) and vertical edges (rows, cols + 1)
    hx, hy = (x[:, :-1] + x[:, 1:]) / 2, (y[:, :-1] + y[:, 1:]) / 2
    hy[1:-1] += rng.uniform(-0.08, 0.08, (rows - 1, cols)) * dy
    vx, vy = (x[:-1] + x[1:]) / 2, (y[:-1] + y[1:]) / 2
    vx[:, 1:-1] += rng.uniform(-0.08, 0.08, (rows, cols - 1)) * dx
    out = {}
    for r in range(rows):
        for c in range(cols):
            ring = [(x[r, c], y[r, c]), (hx[r, c], hy[r, c]), (x[r, c + 1], y[r, c + 1]),
                    (vx[r, c + 1], vy[r, c + 1]), (x[r + 1, c + 1], y[r + 1, c + 1]),
                    (hx[r + 1, c], hy[r + 1, c]), (x[r + 1, c], y[r + 1, c]), (vx[r, c], vy[r, c])]
            out[r * cols + c + 1] = np.array(ring)
    return out


def cities(rng, n: int) -> np.ndarray:
    """(n, 3) lon, lat, city_id; the hot cities are the first five."""
    lon = np.r_[HOT_CITIES[:, 0], rng.uniform(-180.0, 180.0, n - len(HOT_CITIES))]
    lat = np.r_[HOT_CITIES[:, 1], rng.uniform(-60.0, 70.0, n - len(HOT_CITIES))]
    return np.stack([lon, lat, np.arange(n, dtype=np.float64)], 1)


def texts(rng, n: int) -> list[str]:
    lens = rng.integers(8, 72, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))].tolist()
    ends = np.cumsum(lens).tolist()
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lens.tolist())]


def terrain(rng, side: int):
    """Fractal elevation (float32 metres, NaN lake) and a land-class
    band: ``CLASS_BLOCK``-cell square blocks of ``CLASSES`` classes, NaN
    in the lake.  With six classes equal blocks stay below percolation,
    so the regions are small and their number and shape -- what
    ``regions_tiled`` costs -- barely change with the seed."""
    elev = np.zeros((side, side), np.float64)
    for octave in range(2, 9):
        g = 1 << octave
        grid = rng.random((g + 1, g + 1))
        t = np.linspace(0.0, g, side, endpoint=False)
        i = t.astype(np.int64)
        f = t - i
        rows = grid[i] * (1 - f)[:, None] + grid[i + 1] * f[:, None]
        elev += (rows[:, i] * (1 - f) + rows[:, i + 1] * f) / (1 << (octave - 2))
    elev = (elev - elev.min()) / (elev.max() - elev.min()) * 3000.0
    cy, cx = rng.integers(side // 4, 3 * side // 4, 2)
    yy, xx = np.ogrid[:side, :side]
    lake = (yy - cy) ** 2 + (xx - cx) ** 2 < (side // 12) ** 2
    elev[lake] = np.nan
    value = elev.astype(np.float32)
    blocks = rng.integers(0, CLASSES, (-(-side // CLASS_BLOCK),) * 2).astype(np.float32)
    cls = np.kron(blocks, np.ones((CLASS_BLOCK, CLASS_BLOCK), np.float32))[:side, :side]
    cls[lake] = np.nan
    return value, cls, (int(cy), int(cx))


# -- references --------------------------------------------------------------

def ray_cast(px, py, verts) -> np.ndarray:
    """Even-odd point-in-polygon; same arithmetic order as the program."""
    x1, y1 = verts[:, 0], verts[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    inside = np.zeros(len(px), bool)
    for xi, yi, xj, yj in zip(x1, y1, x2, y2):
        cond = (yi > py) != (yj > py)
        with np.errstate(invalid="ignore", divide="ignore"):
            xints = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= cond & (px < xints)
    return inside


def pip_zones(px, py, polygons: dict[int, np.ndarray]) -> np.ndarray:
    """First containing polygon in ascending zone order, NaN if none."""
    out = np.full(len(px), np.nan)
    free = np.ones(len(px), bool)
    order = np.argsort(px, kind="stable")
    sx = px[order]
    for z in sorted(polygons):
        v = polygons[z]
        lo = np.searchsorted(sx, v[:, 0].min(), side="left")
        hi = np.searchsorted(sx, v[:, 0].max(), side="right")
        cand = order[lo:hi]
        idx = cand[free[cand] & (py[cand] >= v[:, 1].min()) & (py[cand] <= v[:, 1].max())]
        hit = idx[ray_cast(px[idx], py[idx], v)]
        out[hit] = float(z)
        free[hit] = False
    return out


def nearest_city(px, py, city: np.ndarray, chunk: int = 200_000):
    """Great-circle nearest city: (distance m, city id); ties go to the
    smaller id."""
    dist = np.empty(len(px))
    cid = np.empty(len(px))
    lat2, lon2 = np.radians(city[:, 1]), np.radians(city[:, 0])
    for s in range(0, len(px), chunk):
        lat1 = np.radians(py[s:s + chunk])[:, None]
        lon1 = np.radians(px[s:s + chunk])[:, None]
        a = np.sin((lat2 - lat1) / 2) ** 2 \
            + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
        d = 2.0 * EARTH_RADIUS * np.arcsin(np.sqrt(a))
        k = np.argmin(d, axis=1)
        dist[s:s + chunk] = d[np.arange(len(k)), k]
        cid[s:s + chunk] = city[k, 2]
    return dist, cid


def tile_stats(tile, n_chars, zone, near_d, near_c) -> dict[int, list[float]]:
    """Per-tile reference of the geojoin output (columns ``GEO_STATS``)."""
    keys, inv = np.unique(tile, return_inverse=True)
    v = n_chars.astype(np.float64)
    cnt = np.bincount(inv).astype(np.float64)
    s = np.bincount(inv, v)
    mean = s / cnt
    var = np.bincount(inv, (v - mean[inv]) ** 2) / cnt
    lo = np.full(len(keys), np.inf)
    hi = np.full(len(keys), -np.inf)
    np.minimum.at(lo, inv, v)
    np.maximum.at(hi, inv, v)
    hits = np.bincount(inv, ~np.isnan(zone)).astype(np.float64)
    zsum = np.bincount(inv, np.nan_to_num(zone))
    dsum = np.bincount(inv, near_d)
    csum = np.bincount(inv, near_c)
    cols = np.stack([cnt, s, mean, lo, hi, var, np.sqrt(var), hits, zsum, dsum, csum], 1)
    return {int(k): row.tolist() for k, row in zip(keys, cols)}


GEO_STATS = ("count", "sum", "mean", "min", "max", "var", "std",
             "pip_hits", "zone_sum", "near_m_sum", "city_sum")
# columns compared exactly (integer-valued); the rest to 1e-9 relative
GEO_EXACT = {"count", "sum", "min", "max", "pip_hits", "zone_sum", "city_sum"}


def horn_slope(p: np.ndarray) -> np.ndarray:
    a = p.astype(np.float32)
    am, bm, cm = a[2:, :-2], a[2:, 1:-1], a[2:, 2:]
    dm, fm = a[1:-1, :-2], a[1:-1, 2:]
    gm, hm, im = a[:-2, :-2], a[:-2, 1:-1], a[:-2, 2:]
    dx = ((cm + 2 * fm + im) - (am + 2 * dm + gm)) / 8.0
    dy = ((gm + 2 * hm + im) - (am + 2 * bm + cm)) / 8.0
    return np.arctan((dx * dx + dy * dy) ** 0.5) * 57.29578


def hillshade(p: np.ndarray, azimuth=225.0, altitude=25.0) -> np.ndarray:
    data = p.astype(np.float32)
    gx, gy = np.gradient(data)
    slope = np.pi / 2.0 - np.arctan(np.sqrt(gx * gx + gy * gy))
    aspect = np.arctan2(-gx, gy)
    azr = (360.0 - azimuth) * np.pi / 180.0
    altr = altitude * np.pi / 180.0
    shaded = np.sin(altr) * np.sin(slope) + np.cos(altr) * np.cos(slope) * np.cos(
        (azr - np.pi / 2.0) - aspect)
    return ((shaded + 1) / 2)[1:-1, 1:-1]


def nan_mean3(p: np.ndarray) -> np.ndarray:
    """3x3 nan-mean; NaN centres stay NaN."""
    nan = np.isnan(p)
    vals = np.where(nan, 0.0, p)
    ones = (~nan).astype(p.dtype)
    h, w = p.shape[0] - 2, p.shape[1] - 2
    s = np.zeros((h, w), p.dtype)
    c = np.zeros_like(s)
    for dy in range(3):
        for dx in range(3):
            s += vals[dy:dy + h, dx:dx + w]
            c += ones[dy:dy + h, dx:dx + w]
    with np.errstate(invalid="ignore", divide="ignore"):
        sm = np.where(c > 0, s / c, np.nan)
    centre = p[1:-1, 1:-1]
    return np.where(np.isnan(centre), centre, sm)


def pad(a: np.ndarray, r: int) -> np.ndarray:
    return np.pad(a, r, constant_values=np.nan)


def regions(cls: np.ndarray) -> np.ndarray:
    """4-connected equal-value components (NaN equals NaN), labelled by
    the scan-order rank of each component's first cell."""
    h, w = cls.shape
    idx = np.arange(h * w).reshape(h, w)

    def same(a, b):
        return (a == b) | (np.isnan(a) & np.isnan(b))

    eh = same(cls[:, :-1], cls[:, 1:])
    ev = same(cls[:-1, :], cls[1:, :])
    ea = np.r_[idx[:, :-1][eh], idx[:-1, :][ev]]
    eb = np.r_[idx[:, 1:][eh], idx[1:, :][ev]]
    lab = np.arange(h * w)
    while True:
        la, lb = lab[ea], lab[eb]
        m = la != lb
        if not m.any():
            break
        np.minimum.at(lab, np.maximum(la[m], lb[m]), np.minimum(la[m], lb[m]))
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
    _, rank = np.unique(lab, return_inverse=True)
    return rank.reshape(h, w).astype(np.float64)


def stencil_references(value: np.ndarray, cls: np.ndarray) -> dict[str, np.ndarray]:
    fused = pad(value, 3)
    for fn in (nan_mean3, horn_slope, nan_mean3):
        fused = fn(fused)
    return {
        "slope": horn_slope(pad(value, 1)),
        "hillshade": hillshade(pad(value, 1)),
        "mean": nan_mean3(pad(value, 1)),
        "fused": fused,
        "regions": regions(cls),
    }


# -- tiled raster files ------------------------------------------------------

EDGE = 8  # perimeter blob width of the program's stored tile format


def _tile_columns(a: np.ndarray) -> list[bytes]:
    """Block bytes plus the four perimeter blobs of the stored tile
    format: transposed left/right EDGE columns, top/bottom EDGE rows."""
    e, er = min(EDGE, a.shape[1]), min(EDGE, a.shape[0])
    return [
        a.tobytes(),
        np.ascontiguousarray(a[:, :e].T).tobytes(),
        np.ascontiguousarray(a[:, a.shape[1] - e:].T).tobytes(),
        np.ascontiguousarray(a[:er, :]).tobytes(),
        np.ascontiguousarray(a[a.shape[0] - er:, :]).tobytes(),
    ]


def write_tiled(path: Path, bands: dict[str, np.ndarray], tile: int, files: int) -> None:
    H, W = next(iter(bands.values())).shape
    keys = [(ty, tx) for ty in range(-(-H // tile)) for tx in range(-(-W // tile))]
    sfx = ("", "__le", "__re", "__te", "__be")
    path.mkdir(parents=True)
    for f in range(files):
        cols: dict[str, list] = {c: [] for c in ("ty", "tx", "h", "w", "th", "tw")}
        for b in bands:
            for s in sfx:
                cols[b + s] = []
        for ty, tx in keys[f::files]:
            blk = {b: a[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
                   for b, a in bands.items()}
            h, w = next(iter(blk.values())).shape
            for c, v in zip(("ty", "tx", "h", "w", "th", "tw"), (ty, tx, h, w, tile, tile)):
                cols[c].append(v)
            for b, a in blk.items():
                for s, blob in zip(sfx, _tile_columns(np.ascontiguousarray(a))):
                    cols[b + s].append(blob)
        types = {"ty": pa.int64(), "tx": pa.int64(), "h": pa.int32(), "w": pa.int32(),
                 "th": pa.int32(), "tw": pa.int32()}
        table = pa.table({c: pa.array(v, types.get(c, pa.binary())) for c, v in cols.items()})
        pq.write_table(table, path / f"part-{f:03d}.parquet", compression="snappy")


# -- the cache ---------------------------------------------------------------

@dataclass
class Inputs:
    workload: str
    seed: int
    dir: Path
    meta: dict = field(default_factory=dict)

    def arrays(self) -> dict[str, np.ndarray]:
        with np.load(self.dir / "refs.npz") as z:
            return {k: z[k] for k in z.files}

    def dir_bytes(self, name: str) -> int:
        return sum(p.stat().st_size for p in (self.dir / name).rglob("*") if p.is_file())


def write_parts(table: pa.Table, d: Path) -> None:
    """``INPUT_FILES`` parquet files, so a scan splits across cores."""
    n = table.num_rows
    for f in range(INPUT_FILES):
        lo, hi = f * n // INPUT_FILES, (f + 1) * n // INPUT_FILES
        pq.write_table(table.slice(lo, hi - lo), d / f"part-{f:03d}.parquet")


def _geojoin(d: Path, rng) -> dict:
    n = GEOJOIN_DOCS
    from xarray_spatial_spark import grid

    lon, lat = points(rng, n)
    n_chars = rng.integers(40, 4000, n).astype(np.int32)
    polys = tiling_polygons(rng, *GEO_POLYGONS)
    city = cities(rng, CITIES)
    stage = d / "staging"
    stage.mkdir()
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 86400 * 365, n).astype("timedelta64[s]")
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "lat": lat, "lon": lon, "n_chars": n_chars,
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    write_parts(table, stage)
    tile = grid.parent(grid.cell_of(lon, lat, GEO_ZOOM), GEO_TILE_ZOOM)
    zone = pip_zones(lon, lat, polys)
    near_d, near_c = nearest_city(lon, lat, city)
    ref = tile_stats(tile, n_chars, zone, near_d, near_c)
    np.savez(d / "refs.npz", city=city, sample_lon=lon[:10_000], sample_lat=lat[:10_000],
             **{f"poly_{z}": v for z, v in polys.items()})
    return {"docs": n, "tiles": ref}


def _ingest(d: Path, rng) -> dict:
    n = INGEST_DOCS
    from xarray_spatial_spark import s2

    lon, lat = points(rng, n)
    txt = texts(rng, n)
    polys = tiling_polygons(rng, *INGEST_POLYGONS)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 86400 * 365, n).astype("timedelta64[s]")
    site = rng.integers(0, 5000, n)
    url = [f"https://site{s}.example/page/{i}" for i, s in enumerate(site)]
    html = [f"<html><body><p>{t}</p></body></html>".encode()
            for t in txt]
    table = pa.table({
        "url": url,
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": txt,
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "lat": lat, "lon": lon,
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
    })
    raw = d / "raw"
    raw.mkdir()
    write_parts(table, raw)
    cell = s2.cell_of(lon, lat, S2_LEVEL)
    tile = s2.parent(cell, S2_TILE_LEVEL)
    keys, counts = np.unique(tile, return_counts=True)
    hot_tile = int(tile[np.flatnonzero((lon == HOT_CITIES[0, 0]) & (lat == HOT_CITIES[0, 1]))[0]])
    zone = pip_zones(lon, lat, polys)
    in_tile = np.flatnonzero(tile == hot_tile)
    sample = np.sort(rng.choice(in_tile, 64, replace=False))
    np.savez(d / "refs.npz", sample_lon=lon[:10_000], sample_lat=lat[:10_000],
             **{f"poly_{z}": v for z, v in polys.items()})
    return {
        "docs": n,
        "input_bytes": sum(p.stat().st_size for p in raw.iterdir()),
        "hot_tile": hot_tile,
        "tile_rows": int(counts[keys == hot_tile][0]),
        "tile_hits": int((~np.isnan(zone[in_tile])).sum()),
        "sample": {
            int(i): {"text": txt[i], "zone": None if np.isnan(zone[i]) else float(zone[i]),
                     "cell_id": int(cell[i])}
            for i in sample
        },
    }


def _stencil(d: Path, rng) -> dict:
    value, cls, lake = terrain(rng, TERRAIN_SIDE)
    write_tiled(d / "terrain", {"value": value, "cls": cls}, TERRAIN_TILE, 4)
    refs = stencil_references(value, cls)
    nt = TERRAIN_SIDE // TERRAIN_TILE
    # corner (domain border), right edge, bottom edge, and the lake's tile
    tiles = [(0, 0), (0, nt - 1), (nt - 1, 1), (lake[0] // TERRAIN_TILE, lake[1] // TERRAIN_TILE)]
    out = {}
    for name, arr in refs.items():
        for ty, tx in tiles:
            out[f"{name}_{ty}_{tx}"] = arr[ty * TERRAIN_TILE:(ty + 1) * TERRAIN_TILE,
                                           tx * TERRAIN_TILE:(tx + 1) * TERRAIN_TILE]
    np.savez(d / "refs.npz", **out)
    return {"cells": TERRAIN_SIDE * TERRAIN_SIDE, "tile": TERRAIN_TILE,
            "sample_tiles": tiles, "regions": int(refs["regions"].max()) + 1,
            "raster_bytes": int(value.nbytes)}


BUILDERS = {"geojoin": _geojoin, "ingest": _ingest, "stencil": _stencil}
SIZES = {"geojoin": GEOJOIN_DOCS, "ingest": INGEST_DOCS, "stencil": TERRAIN_SIDE}


def source_hash() -> str:
    """Hash of this file and of the package's sources: the references
    use the package's numpy cores, so a change to either rebuilds."""
    h = hashlib.sha1(Path(__file__).read_bytes())
    pkg = Path(__file__).resolve().parent.parent / "xarray_spatial_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:10]


def prepare(workload: str, seed: int, cache: Path) -> Inputs:
    """The cached inputs of (workload, seed), built first if missing.
    The cache key includes ``source_hash``, so a changed generator or
    package never reuses old inputs.  Keeps the ``CACHE_KEEP`` most
    recently used sets per workload."""
    version = source_hash()
    d = cache / f"{workload}-{SIZES[workload]}-s{seed}-{version}"
    if not (d / "meta.json").exists():
        tmp = cache / f".build-{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        t0 = time.perf_counter()
        meta = BUILDERS[workload](tmp, rng_for(workload, seed))
        meta["build_s"] = time.perf_counter() - t0
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    os.utime(d)
    sets = sorted(cache.glob(f"{workload}-*"), key=lambda p: p.stat().st_mtime)
    for old in sets[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return Inputs(workload, seed, d, json.loads((d / "meta.json").read_text()))


def store_doc_table(inp: Inputs, spark, table: str) -> None:
    """Commit the staged geojoin rows as the Iceberg doc table with the
    program's own ``write_iceberg``.  Every run does this in its set-up,
    so every run's session has the same history and reads a table its
    own code wrote."""
    from xarray_spatial_spark.sources.iceberg_format import write_iceberg

    shutil.rmtree(table, ignore_errors=True)
    write_iceberg(spark.read.parquet(str(inp.dir / "staging")), table)


def polygons_of(arrays: dict[str, np.ndarray]) -> dict[int, np.ndarray]:
    return {int(k[5:]): v for k, v in arrays.items() if k.startswith("poly_")}
