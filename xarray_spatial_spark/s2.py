"""From-scratch S2 cell index (cube-face + quadratic projection + Hilbert).

The north-star data model assigns every geocoded page to an "H3/S2 cell"
batch-encoded inside vectorized Arrow UDFs.  ``grid.py`` provides the
Web-Mercator quadtree flavor; this module is the genuine S2 scheme built
from scratch against the published algorithm (the S2 geometry library's
public docs/papers: Hilbert-curve cell ids over the quadratic-projected
cube — no code consulted, tables are the published automaton constants):

* a point on the sphere maps to one of 6 cube faces, then through the
  quadratic (area-equalizing) UV->ST transform to a 30-bit (i, j) leaf
  coordinate on that face;
* (face, i, j) maps to a position along a face-local Hilbert curve via a
  2-bit-per-level automaton, giving the canonical 64-bit cell id layout
  ``[3 face bits | 2*level position bits | 1 sentinel bit | zeros]``;
* parent / range / containment are O(1) bit ops on the id — a cell's
  descendants form one CONTIGUOUS id range, which is what makes S2 ids
  a join/partition key: point-in-region is a range join, spatial
  locality is id locality (Hilbert, unlike Morton, has no long jumps).

Everything is vectorized numpy over ``uint64`` so it batch-encodes
inside Arrow-batched pandas UDFs; ids are REINTERPRETED as signed int64
bit patterns for Spark's LongType (faces 4 and 5 come out negative).
Equality joins / groupBy are unaffected; for a globally ordered sort use
:func:`unsigned_order_col` (flips the sign bit so signed order matches
unsigned id order).

Scale notes (100 TB): encoding is embarrassingly parallel in the scan
stage; a coarse parent cell (level 8-12) is the shuffle/partition key
with the same salting/AQE story as the mercator grid; containment joins
broadcast the (small) covering-cell side and run as range predicates the
optimizer can use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

MAX_LEVEL = 30
_FACE_SHIFT = 61  # 64 - 3 face bits

# Published Hilbert automaton constants (S2 docs): orientation is two
# bits (swap=1, invert=2); each level consumes one (i_bit, j_bit) pair.
_IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.uint64
)
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.uint64
)
_POS_TO_ORIENTATION = np.array([1, 0, 0, 3], dtype=np.uint64)


# ---------------------------------------------------------------------------
# sphere -> face/UV -> ST -> IJ
# ---------------------------------------------------------------------------


def _lnglat_to_xyz(lon: np.ndarray, lat: np.ndarray):
    rlon = np.radians(np.atleast_1d(np.asarray(lon, dtype=np.float64)))
    rlat = np.radians(np.atleast_1d(np.asarray(lat, dtype=np.float64)))
    cl = np.cos(rlat)
    return cl * np.cos(rlon), cl * np.sin(rlon), np.sin(rlat)


def _xyz_to_face_uv(x, y, z):
    """Face = axis of the largest |component| (+3 when negative); (u, v)
    is the gnomonic projection onto that face.  Tie-break priority is
    x, then y, then z (ties live on a measure-zero set)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis0 = (ax >= ay) & (ax >= az)
    axis1 = ~axis0 & (ay >= az)
    axis2 = ~axis0 & ~axis1
    face = np.where(axis0, np.where(x >= 0, 0, 3),
                    np.where(axis1, np.where(y >= 0, 1, 4),
                             np.where(z >= 0, 2, 5))).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    with np.errstate(divide="ignore", invalid="ignore"):
        for f, (un, ud, vn, vd) in enumerate(_FACE_UV):
            m = face == f
            if np.any(m):
                u[m] = un(x[m], y[m], z[m]) / ud(x[m], y[m], z[m])
                v[m] = vn(x[m], y[m], z[m]) / vd(x[m], y[m], z[m])
    return face, u, v


# per-face (u numerator, u denominator, v numerator, v denominator)
_FACE_UV = [
    (lambda x, y, z: y, lambda x, y, z: x, lambda x, y, z: z, lambda x, y, z: x),
    (lambda x, y, z: -x, lambda x, y, z: y, lambda x, y, z: z, lambda x, y, z: y),
    (lambda x, y, z: -x, lambda x, y, z: z, lambda x, y, z: -y, lambda x, y, z: z),
    (lambda x, y, z: z, lambda x, y, z: x, lambda x, y, z: y, lambda x, y, z: x),
    (lambda x, y, z: z, lambda x, y, z: y, lambda x, y, z: -x, lambda x, y, z: y),
    (lambda x, y, z: -y, lambda x, y, z: z, lambda x, y, z: -x, lambda x, y, z: z),
]

# inverse: face center/axes to rebuild xyz from (face, u, v)
_FACE_XYZ = [
    lambda u, v: (np.ones_like(u), u, v),
    lambda u, v: (-u, np.ones_like(u), v),
    lambda u, v: (-u, -v, np.ones_like(u)),
    lambda u, v: (-np.ones_like(u), -v, -u),
    lambda u, v: (v, -np.ones_like(u), -u),
    lambda u, v: (v, u, -np.ones_like(u)),
]


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection: equalizes cell areas across the face."""
    with np.errstate(invalid="ignore"):  # np.where evaluates both branches
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    i = np.floor(s * float(1 << MAX_LEVEL)).astype(np.int64)
    return np.clip(i, 0, (1 << MAX_LEVEL) - 1).astype(np.uint64)


# ---------------------------------------------------------------------------
# Hilbert curve: (face, i, j) <-> 64-bit cell id
# ---------------------------------------------------------------------------


def _build_luts():
    """4-levels-per-step automaton tables (the canonical speedup):
    fwd[(ij8 << 2) | r] = (pos8 << 2) | r'   (ij8 = four MSB-first
    (i_bit, j_bit) quads), and the inverse for decode.  Built once by
    running the published 2-bit automaton, so the LUT path is
    definitionally equal to the reference loop (pinned in tests)."""
    fwd = np.zeros(1024, np.uint16)
    inv = np.zeros(1024, np.uint16)
    for r0 in range(4):
        for ij8 in range(256):
            r = r0
            pos = 0
            for k in (3, 2, 1, 0):
                ijq = (ij8 >> (2 * k)) & 3
                p = int(_IJ_TO_POS[r, ijq])
                pos = (pos << 2) | p
                r = r ^ int(_POS_TO_ORIENTATION[p])
            fwd[(ij8 << 2) | r0] = (pos << 2) | r
        for pos8 in range(256):
            r = r0
            ij = 0
            for k in (3, 2, 1, 0):
                p = (pos8 >> (2 * k)) & 3
                q = int(_POS_TO_IJ[r, p])
                ij = (ij << 2) | q
                r = r ^ int(_POS_TO_ORIENTATION[p])
            inv[(pos8 << 2) | r0] = (ij << 2) | r
    # 4-bit nibble spreaders: i bits to odd positions, j bits to even
    spread_i = np.zeros(16, np.uint16)
    spread_j = np.zeros(16, np.uint16)
    for v in range(16):
        si = sj = 0
        for b in range(4):
            if v & (1 << b):
                si |= 1 << (2 * b + 1)
                sj |= 1 << (2 * b)
        spread_i[v] = si
        spread_j[v] = sj
    return fwd, inv, spread_i, spread_j


_LUT_FWD, _LUT_INV, _SPREAD_I, _SPREAD_J = _build_luts()


def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf (level-30) cell id from face + 30-bit ij.  Returns int64
    bit patterns (faces 4/5 set the sign bit).  Vectorized 4 levels
    per step via the automaton LUT; the low 2-bit padding is dropped
    afterwards (later levels never affect earlier position bits)."""
    face = np.asarray(face, dtype=np.uint64)
    i32 = (np.asarray(i, dtype=np.uint64) << np.uint64(2))
    j32 = (np.asarray(j, dtype=np.uint64) << np.uint64(2))
    r = (face & np.uint64(1)).astype(np.uint16)
    pos = np.zeros_like(i32)
    for step in range(7, -1, -1):
        ni = ((i32 >> np.uint64(4 * step)) & np.uint64(0xF)).astype(np.int64)
        nj = ((j32 >> np.uint64(4 * step)) & np.uint64(0xF)).astype(np.int64)
        ij8 = (_SPREAD_I[ni] | _SPREAD_J[nj]).astype(np.int64)
        ent = _LUT_FWD[(ij8 << 2) | r]
        pos = (pos << np.uint64(8)) | (ent >> np.uint16(2)).astype(np.uint64)
        r = ent & np.uint16(3)
    pos >>= np.uint64(4)  # drop the two padded levels
    uid = (face << np.uint64(_FACE_SHIFT)) | (pos << np.uint64(1)) | np.uint64(1)
    return uid.view(np.int64)


def to_face_ij(cell: np.ndarray):
    """Inverse of :func:`from_face_ij` for LEAF ids; for a coarser cell
    id this returns the (face, i, j) of the leaf its sentinel bit
    pattern denotes (a leaf inside the cell)."""
    c = np.asarray(cell).astype(np.int64).view(np.uint64)
    face = (c >> np.uint64(_FACE_SHIFT)).astype(np.uint64)
    pos32 = ((c >> np.uint64(1)) & np.uint64((1 << 60) - 1)) << np.uint64(4)
    r = (face & np.uint64(1)).astype(np.uint16)
    i = np.zeros_like(pos32)
    j = np.zeros_like(pos32)
    for step in range(7, -1, -1):
        p8 = ((pos32 >> np.uint64(8 * step)) & np.uint64(0xFF)).astype(np.int64)
        ent = _LUT_INV[(p8 << 2) | r]
        ij8 = (ent >> np.uint16(2)).astype(np.uint64)
        # un-interleave: odd bits -> i nibble, even bits -> j nibble
        ii = ((ij8 >> np.uint64(7)) & np.uint64(1)) << np.uint64(3)
        ii |= ((ij8 >> np.uint64(5)) & np.uint64(1)) << np.uint64(2)
        ii |= ((ij8 >> np.uint64(3)) & np.uint64(1)) << np.uint64(1)
        ii |= (ij8 >> np.uint64(1)) & np.uint64(1)
        jj = ((ij8 >> np.uint64(6)) & np.uint64(1)) << np.uint64(3)
        jj |= ((ij8 >> np.uint64(4)) & np.uint64(1)) << np.uint64(2)
        jj |= ((ij8 >> np.uint64(2)) & np.uint64(1)) << np.uint64(1)
        jj |= ij8 & np.uint64(1)
        i = (i << np.uint64(4)) | ii
        j = (j << np.uint64(4)) | jj
        r = ent & np.uint16(3)
    i >>= np.uint64(2)  # drop the two padded levels
    j >>= np.uint64(2)
    return face.view(np.int64), i.view(np.int64), j.view(np.int64)


def _from_face_ij_ref(face, i, j) -> np.ndarray:
    """Reference 2-bit-per-level loop (the published automaton as
    written) — kept for the LUT equality pin in tests."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    r = face & np.uint64(1)
    pos = np.zeros_like(i)
    for k in range(MAX_LEVEL - 1, -1, -1):
        ij = (((i >> np.uint64(k)) & np.uint64(1)) << np.uint64(1)) | (
            (j >> np.uint64(k)) & np.uint64(1)
        )
        p = _IJ_TO_POS[r, ij]
        pos = (pos << np.uint64(2)) | p
        r = r ^ _POS_TO_ORIENTATION[p]
    uid = (face << np.uint64(_FACE_SHIFT)) | (pos << np.uint64(1)) | np.uint64(1)
    return uid.view(np.int64)


# ---------------------------------------------------------------------------
# id algebra — all O(1) bit ops
# ---------------------------------------------------------------------------


def _lsb_at(level) -> np.uint64:
    return np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))


def _lsb(cell: np.ndarray) -> np.ndarray:
    c = np.asarray(cell).astype(np.int64).view(np.uint64)
    return c & (~c + np.uint64(1))


def level_of(cell: np.ndarray) -> np.ndarray:
    """Level from the sentinel bit position: 30 - ctz(id)/2."""
    lsb = _lsb(cell).astype(np.float64)
    ctz = np.log2(lsb).round().astype(np.int64)
    return MAX_LEVEL - ctz // 2


def parent(cell: np.ndarray, level: int) -> np.ndarray:
    """Ancestor at ``level``: clear the finer position bits, set the
    sentinel — ``(id & -lsb) | lsb``.  The containing cell of any
    leaf/finer id."""
    c = np.asarray(cell).astype(np.int64).view(np.uint64)
    lsb = _lsb_at(level)
    return ((c & ~(lsb - np.uint64(1))) | lsb).view(np.int64)


def range_min(cell: np.ndarray) -> np.ndarray:
    c = np.asarray(cell).astype(np.int64).view(np.uint64)
    return (c - (_lsb(cell) - np.uint64(1))).view(np.int64)


def range_max(cell: np.ndarray) -> np.ndarray:
    c = np.asarray(cell).astype(np.int64).view(np.uint64)
    return (c + (_lsb(cell) - np.uint64(1))).view(np.int64)


def contains(cell: np.ndarray, other: np.ndarray) -> np.ndarray:
    """cell contains other (descendant-or-self), via range inclusion on
    the UNSIGNED bit patterns."""
    lo = np.asarray(range_min(cell)).view(np.uint64)
    hi = np.asarray(range_max(cell)).view(np.uint64)
    o = np.asarray(other).astype(np.int64).view(np.uint64)
    return (lo <= o) & (o <= hi)


def _wrap_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray):
    """Leaf (i, j) possibly one step outside [0, 2^30) -> the proper
    (face', i', j') on the adjacent face.

    Uses the LINEAR st<->uv projection for the round trip through xyz:
    the cross-face transform is a coordinate permutation/reflection
    that is identical in linear and quadratic space (the quadratic
    transform is symmetric, st(-u) = 1 - st(u), and face grids align
    along shared edges), and the half-leaf centering makes the integer
    recovery exact for the in-range coordinate."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    n = 1 << MAX_LEVEL
    inside = (i >= 0) & (i < n) & (j >= 0) & (j < n)
    ic = np.clip(i, -1, n).astype(np.float64)
    jc = np.clip(j, -1, n).astype(np.float64)
    u = 2.0 * (ic + 0.5) / n - 1.0
    v = 2.0 * (jc + 0.5) / n - 1.0
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, fn in enumerate(_FACE_XYZ):
        m = face == f
        if np.any(m):
            x[m], y[m], z[m] = fn(u[m], v[m])
    face2, u2, v2 = _xyz_to_face_uv(x, y, z)
    i2 = np.clip(np.floor((0.5 * (u2 + 1.0)) * n), 0, n - 1).astype(np.int64)
    j2 = np.clip(np.floor((0.5 * (v2 + 1.0)) * n), 0, n - 1).astype(np.int64)
    return (
        np.where(inside, face, face2),
        np.where(inside, np.clip(i, 0, n - 1), i2),
        np.where(inside, np.clip(j, 0, n - 1), j2),
    )


_EDGE_OFFSETS = ((0, -1), (1, 0), (0, 1), (-1, 0))
_ALL_OFFSETS = _EDGE_OFFSETS + ((-1, -1), (1, -1), (1, 1), (-1, 1))


def _neighbors(cell: np.ndarray, offsets) -> np.ndarray:
    c = np.asarray(cell)
    lev = level_of(c)
    size = np.int64(1) << (MAX_LEVEL - lev)
    face, i, j = to_face_ij(c)
    i0 = i & ~(size - 1)
    j0 = j & ~(size - 1)
    icen = i0 + size // 2
    jcen = j0 + size // 2
    cols = []
    for di, dj in offsets:
        # step one full cell from the base corner; use the center leaf
        # for the in-range coordinate so the result is interior
        ni = np.where(di == 0, icen, np.where(di < 0, i0 - size, i0 + size))
        nj = np.where(dj == 0, jcen, np.where(dj < 0, j0 - size, j0 + size))
        f2, i2, j2 = _wrap_face_ij(face, ni, nj)
        leaf = from_face_ij(f2, i2, j2)
        # per-row level parent (vectorized: (id & -lsb) | lsb)
        lsb = (np.uint64(1) << (2 * (MAX_LEVEL - lev)).astype(np.uint64))
        u64 = leaf.view(np.uint64)
        cols.append(((u64 & ~(lsb - np.uint64(1))) | lsb).view(np.int64))
    return np.stack(cols, axis=1)


def edge_neighbors(cell: np.ndarray) -> np.ndarray:
    """The 4 edge-adjacent cells at the same level, crossing cube-face
    boundaries where needed.  Shape (len(cell), 4)."""
    return _neighbors(cell, _EDGE_OFFSETS)


def all_neighbors(cell: np.ndarray) -> list[np.ndarray]:
    """Edge + vertex neighbors at the same level (the kNN ring-1
    expansion set): per input cell, a deduped array of <= 8 distinct
    neighboring ids (7 around a cube corner, where no diagonal exists)."""
    raw = _neighbors(cell, _ALL_OFFSETS)
    c = np.asarray(cell)
    out = []
    for k in range(raw.shape[0]):
        row = np.unique(raw[k])
        out.append(row[row != c[k]])
    return out


def cell_of(lon: np.ndarray, lat: np.ndarray, level: int = MAX_LEVEL) -> np.ndarray:
    """Batch-encode points to S2 cell ids at ``level`` (the UDF core)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    x, y, z = _lnglat_to_xyz(lon, lat)
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    return leaf if level == MAX_LEVEL else parent(leaf, level)


def center_lnglat(cell: np.ndarray):
    """(lon, lat) of the cell's ij-range center — deterministic point
    inside the cell; re-encoding it at the cell's level returns the
    same cell."""
    c = np.asarray(cell)
    lev = level_of(c)
    face, i, j = to_face_ij(c)
    size = np.float64(2.0) ** (MAX_LEVEL - lev)
    base_i = (i.astype(np.float64) // size) * size
    base_j = (j.astype(np.float64) // size) * size
    s = (base_i + size / 2.0) / float(1 << MAX_LEVEL)
    t = (base_j + size / 2.0) / float(1 << MAX_LEVEL)
    u = _st_to_uv(s)
    v = _st_to_uv(t)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, fn in enumerate(_FACE_XYZ):
        m = np.asarray(face) == f
        if np.any(m):
            xf, yf, zf = fn(u[m], v[m])
            x[m], y[m], z[m] = xf, yf, zf
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    return lon, lat


def token(cell: np.ndarray) -> list[str]:
    """Canonical S2 token: 16-hex-digit id with trailing zeros stripped."""
    c = np.asarray(cell).astype(np.int64).view(np.uint64)
    return [f"{int(v):016x}".rstrip("0") or "0" for v in c]


def from_token(tokens) -> np.ndarray:
    vals = [int((t + "0" * 16)[:16], 16) for t in tokens]
    return np.array(vals, dtype=np.uint64).view(np.int64)


def children(cell: np.ndarray) -> np.ndarray:
    """The four child cells one level finer: ``id - lsb + (2k+1)·(lsb/4)``
    (children tile the parent's contiguous id range).  Shape (n, 4)."""
    c = np.asarray(cell).astype(np.int64).view(np.uint64)
    lsb = _lsb(cell)
    child_lsb = lsb >> np.uint64(2)
    ks = np.arange(4, dtype=np.uint64)[None, :]
    out = (c[:, None] - lsb[:, None]
           + (np.uint64(2) * ks + np.uint64(1)) * child_lsb[:, None])
    return out.view(np.int64)


def cell_vertices(cell: np.ndarray):
    """Unit-vector corners of each cell: (x, y, z) arrays of shape
    (n, 4) in CCW st order."""
    c = np.asarray(cell)
    lev = level_of(c)
    face, i, j = to_face_ij(c)
    size = (np.int64(1) << (MAX_LEVEL - lev)).astype(np.float64)
    ninv = float(1 << MAX_LEVEL)
    bi = (i.astype(np.float64) // size) * size
    bj = (j.astype(np.float64) // size) * size
    s0, s1 = bi / ninv, (bi + size) / ninv
    t0, t1 = bj / ninv, (bj + size) / ninv
    ss = np.stack([s0, s1, s1, s0], axis=1)
    tt = np.stack([t0, t0, t1, t1], axis=1)
    u = _st_to_uv(ss)
    v = _st_to_uv(tt)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, fn in enumerate(_FACE_XYZ):
        m = np.asarray(face) == f
        if np.any(m):
            x[m], y[m], z[m] = fn(u[m], v[m])
    norm = np.sqrt(x * x + y * y + z * z)
    return x / norm, y / norm, z / norm


def _angular_dist(x, y, z, cx, cy, cz):
    dot = np.clip(x * cx + y * cy + z * cz, -1.0, 1.0)
    return np.arccos(dot)


def cap_covering(
    lon: float, lat: float, radius_deg: float,
    max_level: int = 12, max_cells: int = 64,
) -> np.ndarray:
    """Covering of a spherical cap by S2 cells (the region-query
    primitive: covering -> broadcast id-range join -> exact refine).

    Conservative by construction — NO false negatives: a cell is kept
    as "may intersect" when dist(cap center, cell center) <= radius +
    cell circumradius (every cell point lies within the circumradius
    of its center).  Fully-contained cells (all four vertices AND
    center inside — exact for caps up to a hemisphere, where the max
    of geodesic distance over a convex cell sits at a vertex) emit at
    their current level; intersecting cells subdivide until
    ``max_level`` or the ``max_cells`` budget."""
    if not 0 < radius_deg <= 90:
        raise ValueError("radius_deg must be in (0, 90]")
    r = np.radians(radius_deg)
    cx, cy, cz = _lnglat_to_xyz(np.array([lon]), np.array([lat]))
    cx, cy, cz = float(cx[0]), float(cy[0]), float(cz[0])

    faces = parent(
        from_face_ij(np.arange(6), np.full(6, 1 << 29), np.full(6, 1 << 29)),
        0,
    )
    out: list[int] = []
    queue: list[int] = sorted((int(f) for f in faces),
                              key=lambda v: v & 0xFFFFFFFFFFFFFFFF)
    while queue:
        cell = np.array([queue.pop(0)], dtype=np.int64)
        lev = int(level_of(cell)[0])
        vx, vy, vz = cell_vertices(cell)
        clon, clat = center_lnglat(cell)
        ccx, ccy, ccz = _lnglat_to_xyz(clon, clat)
        d_center = float(_angular_dist(ccx, ccy, ccz, cx, cy, cz)[0])
        d_verts = _angular_dist(vx, vy, vz, cx, cy, cz)[0]
        circum = float(
            _angular_dist(vx, vy, vz, ccx[:, None], ccy[:, None],
                          ccz[:, None]).max())
        if d_center > r + circum:
            continue  # provably disjoint
        contained = d_verts.max() <= r and d_center <= r
        # subdividing nets at most +3 cells over emitting this one
        if contained or lev >= max_level or (
                len(out) + len(queue) + 4 > max_cells):
            out.append(int(cell[0]))
        else:
            queue.extend(int(ch) for ch in children(cell)[0])
    return np.array(sorted(out, key=lambda v: v & 0xFFFFFFFFFFFFFFFF),
                    dtype=np.int64)


def _poly_xyz(lons, lats):
    x, y, z = _lnglat_to_xyz(np.asarray(lons, float), np.asarray(lats, float))
    return np.stack([x, y, z], axis=1)  # (n, 3) unit vectors


def _on_arc(t: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Is unit point t on the minor arc a->b (within tolerance)?"""
    ab = np.arccos(np.clip(np.sum(a * b, axis=-1), -1, 1))
    ta = np.arccos(np.clip(np.sum(t * a, axis=-1), -1, 1))
    tb = np.arccos(np.clip(np.sum(t * b, axis=-1), -1, 1))
    return ta + tb <= ab + 1e-9


def _point_in_spherical_polygon(p: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Crossing-count test: the geodesic from p to a reference point
    OUTSIDE the polygon (the antipode of the vertex centroid) crosses
    the boundary an odd number of times iff p is inside.  ``p``
    (m, 3), ``verts`` (n, 3); simple polygons smaller than a
    hemisphere.  Robust at any distance from the polygon (a winding-
    angle formulation degenerates near the antipode)."""
    # antipode of the centroid, with a fixed generic jitter so the
    # test geodesic doesn't pass exactly through polygon vertices for
    # symmetric inputs (vertex hits double-count and flip parity)
    ref = -verts.mean(axis=0) + np.array([0.00731, 0.01193, 0.00547])
    ref = ref / np.linalg.norm(ref)
    m = len(p)
    n1 = np.cross(p, ref)  # (m, 3): great circle through p and ref
    crossings = np.zeros(m, dtype=np.int64)
    n = len(verts)
    for k in range(n):
        a = verts[k]
        b = verts[(k + 1) % n]
        n2 = np.cross(a, b)
        t = np.cross(n1, n2)
        norm = np.linalg.norm(t, axis=1)
        ok = norm > 1e-12
        t = np.where(ok[:, None], t / np.where(ok, norm, 1.0)[:, None], t)
        for cand in (t, -t):
            hit = (
                ok
                & _on_arc(cand, a[None, :], b[None, :])
                & _on_arc(cand, p, np.broadcast_to(ref, p.shape))
            )
            crossings += hit.astype(np.int64)
    return crossings % 2 == 1


def _dist_to_arc(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Angular distance from each unit point p (m, 3) to the geodesic
    arc a->b."""
    n = np.cross(a, b)
    n = n / np.linalg.norm(n)
    s = p @ n
    d_plane = np.abs(np.arcsin(np.clip(s, -1, 1)))
    c = p - s[:, None] * n[None, :]
    norm = np.linalg.norm(c, axis=1)
    ok = norm > 1e-12
    c[ok] = c[ok] / norm[ok, None]
    # closest great-circle point lies ON the arc iff it's between a, b
    ab = np.arccos(np.clip(a @ b, -1, 1))
    within = (
        (np.arccos(np.clip(c @ a, -1, 1))
         + np.arccos(np.clip(c @ b, -1, 1))) <= ab + 1e-9
    ) & ok
    d_ends = np.minimum(np.arccos(np.clip(p @ a, -1, 1)),
                        np.arccos(np.clip(p @ b, -1, 1)))
    return np.where(within, d_plane, d_ends)


def _dist_to_boundary(p: np.ndarray, verts: np.ndarray) -> np.ndarray:
    n = len(verts)
    d = np.full(len(p), np.inf)
    for k in range(n):
        d = np.minimum(d, _dist_to_arc(p, verts[k], verts[(k + 1) % n]))
    return d


def polygon_covering(
    lons, lats, max_level: int = 12, max_cells: int = 64,
) -> np.ndarray:
    """Covering of a simple spherical polygon (vertices joined by
    geodesics, smaller than a hemisphere) — same provable guarantees
    as :func:`cap_covering`:

    * may-intersect is conservative (NO false negatives): center
      inside, or boundary within the cell circumradius of the center —
      any shared point q gives dist(center, boundary) <= dist(center,
      q) <= circumradius when the center is outside;
    * containment is exact: all four cell vertices inside AND the
      boundary farther than the circumradius (the whole cell sits on
      one side).

    This is the scalable PIP prefilter: covering -> leaf-range join ->
    exact ray-cast refine (operators/pip.py)."""
    verts = _poly_xyz(lons, lats)
    if len(verts) < 3:
        raise ValueError("polygon needs >= 3 vertices")
    faces = parent(
        from_face_ij(np.arange(6), np.full(6, 1 << 29), np.full(6, 1 << 29)),
        0,
    )
    out: list[int] = []
    queue: list[int] = sorted((int(f) for f in faces),
                              key=lambda v: v & 0xFFFFFFFFFFFFFFFF)
    while queue:
        cell = np.array([queue.pop(0)], dtype=np.int64)
        lev = int(level_of(cell)[0])
        vx, vy, vz = cell_vertices(cell)
        cverts = np.stack([vx[0], vy[0], vz[0]], axis=1)
        clon, clat = center_lnglat(cell)
        cc = _poly_xyz(clon, clat)
        circum = float(np.arccos(np.clip(cverts @ cc[0], -1, 1)).max())
        d_bound = float(_dist_to_boundary(cc, verts)[0])
        center_in = bool(_point_in_spherical_polygon(cc, verts)[0])
        if not center_in and d_bound > circum:
            continue  # provably disjoint
        contained = (
            center_in and d_bound > circum
            and bool(_point_in_spherical_polygon(cverts, verts).all())
        )
        if contained or lev >= max_level or (
                len(out) + len(queue) + 4 > max_cells):
            out.append(int(cell[0]))
        else:
            queue.extend(int(ch) for ch in children(cell)[0])
    return np.array(sorted(out, key=lambda v: v & 0xFFFFFFFFFFFFFFFF),
                    dtype=np.int64)


def polygon_area_steradians(lons, lats) -> float:
    """Area of a simple spherical polygon (geodesic edges, smaller
    than a hemisphere) by summing signed triangle areas from the first
    vertex (L'Huilier's theorem per triangle; signs from the triple
    product).  Multiply by R² for a physical area."""
    verts = _poly_xyz(lons, lats)
    if len(verts) < 3:
        raise ValueError("polygon needs >= 3 vertices")
    total = 0.0
    a = verts[0]
    for k in range(1, len(verts) - 1):
        b, c = verts[k], verts[k + 1]
        ab = np.arccos(np.clip(a @ b, -1, 1))
        bc = np.arccos(np.clip(b @ c, -1, 1))
        ca = np.arccos(np.clip(c @ a, -1, 1))
        s = (ab + bc + ca) / 2
        t = np.tan(s / 2) * np.tan((s - ab) / 2) \
            * np.tan((s - bc) / 2) * np.tan((s - ca) / 2)
        e = 4 * np.arctan(np.sqrt(max(t, 0.0)))
        sign = 1.0 if float(np.dot(a, np.cross(b, c))) >= 0 else -1.0
        total += sign * e
    return abs(total)


def cap_area_steradians(radius_deg: float) -> float:
    """Area of a spherical cap: 2π(1 - cos r)."""
    return 2 * np.pi * (1 - np.cos(np.radians(radius_deg)))


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def cell_col(lon: Column, lat: Column, level: int = MAX_LEVEL) -> Column:
    """Arrow-batched pandas UDF wrapping :func:`cell_of` — the
    "vectorized UDF that batch-encodes cell IDs" of the north star.
    Runs in the scan stage; no shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def _enc(lo: pd.Series, la: pd.Series) -> pd.Series:
        return pd.Series(cell_of(lo.to_numpy(), la.to_numpy(), level))

    return _enc(lon, lat)


def parent_col(cell: Column, level: int) -> Column:
    """Catalyst-native parent: clear bits below the level's lsb, set it.
    Pure JVM bit ops — stays in whole-stage codegen."""
    lsb = 1 << (2 * (MAX_LEVEL - level))
    # (id & -lsb) | lsb in two's-complement int64
    return (cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb)))


def range_cols(cell: Column) -> tuple[Column, Column]:
    """(range_min, range_max) Columns: id -/+ (lsb-1), lsb = id & -id.
    int64 overflow cannot occur (sentinel layout bounds the offsets)."""
    lsb = cell.bitwiseAND(-cell)
    return (cell - (lsb - F.lit(1))).alias("s2_range_min"), (
        cell + (lsb - F.lit(1))
    ).alias("s2_range_max")


def level_col(cell: Column) -> Column:
    """Catalyst-native level: 30 - ctz(id)/2.  The lsb is an exact
    power of two <= 2^60, so the double log2 is exact after round."""
    lsb = cell.bitwiseAND(-cell)
    ctz = F.round(F.log2(lsb.cast("double"))).cast("int")
    return (F.lit(MAX_LEVEL) - ctz / F.lit(2)).cast("int")


def unsigned_order_col(cell: Column) -> Column:
    """Monotonic remap so SIGNED ordering equals unsigned id ordering
    (faces 4/5 store negative bit patterns): flip the sign bit."""
    return cell.bitwiseXOR(F.lit(-(1 << 63)))


def face_col(cell: Column) -> Column:
    """Face 0-5 from the top 3 bits (sign-aware: arithmetic shift then
    mask)."""
    return F.shiftrightunsigned(cell, _FACE_SHIFT).cast("int")
