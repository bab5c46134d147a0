"""S2 cell index (xarray_spatial_spark/s2.py) — structural properties
that pin the from-scratch implementation:

* Hilbert automaton correctness via the adjacency property (consecutive
  curve positions are IJ-neighbors — Morton fails this; only a correct
  Hilbert traversal passes it at every position),
* id-algebra invariants (roundtrip, parent containment, range nesting),
* the leaf>>k shortcut the DuckDB oracle uses,
* Spark surface: Arrow-UDF encode == numpy, Catalyst parent/range ops,
  containment as a broadcast range join.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark import s2

rng = np.random.default_rng(7)


def test_face_ij_roundtrip():
    n = 5000
    face = rng.integers(0, 6, n)
    i = rng.integers(0, 1 << 30, n)
    j = rng.integers(0, 1 << 30, n)
    ids = s2.from_face_ij(face, i, j)
    f2, i2, j2 = s2.to_face_ij(ids)
    assert np.array_equal(face, f2)
    assert np.array_equal(i, i2)
    assert np.array_equal(j, j2)
    assert np.all(s2.level_of(ids) == s2.MAX_LEVEL)
    # ids for faces 4/5 are negative bit patterns, 0-3 positive
    assert np.array_equal(ids < 0, face >= 4)


def test_hilbert_adjacency():
    """pos and pos+1 decode to IJ cells exactly one step apart — the
    defining continuity property of a Hilbert curve."""
    n = 4000
    pos = rng.integers(0, (1 << 60) - 1, n).astype(np.uint64)
    face = rng.integers(0, 6, n).astype(np.uint64)
    id_a = ((face << np.uint64(61)) | (pos << np.uint64(1)) | np.uint64(1)).view(np.int64)
    id_b = ((face << np.uint64(61)) | ((pos + np.uint64(1)) << np.uint64(1)) | np.uint64(1)).view(np.int64)
    _, ia, ja = s2.to_face_ij(id_a)
    _, ib, jb = s2.to_face_ij(id_b)
    assert np.all(np.abs(ia - ib) + np.abs(ja - jb) == 1)


def test_parent_containment_and_nesting():
    n = 3000
    ids = s2.from_face_ij(
        rng.integers(0, 6, n), rng.integers(0, 1 << 30, n), rng.integers(0, 1 << 30, n)
    )
    prev = ids
    for lev in (25, 18, 12, 6, 0):
        p = s2.parent(ids, lev)
        assert np.all(s2.level_of(p) == lev)
        assert np.all(s2.contains(p, ids))
        assert np.all(s2.contains(p, prev))
        # range endpoints are leaf ids inside the cell
        assert np.all(s2.contains(p, s2.range_min(p)))
        assert np.all(s2.contains(p, s2.range_max(p)))
        prev = p
    # a cell never contains a foreign cell: shift i by the cell size
    p12 = s2.parent(ids, 12)
    f, i, j = s2.to_face_ij(ids)
    size = 1 << 18
    other = s2.parent(s2.from_face_ij(f, (i + size) % (1 << 30), j), 12)
    assert not np.any(other == p12)


def test_leaf_shift_shortcut_matches_parent():
    """Top-k bits of (i, j) through k automaton steps == parent(leaf, k)
    — the identity the DuckDB oracle's recursive CTE relies on."""
    n = 2000
    face = rng.integers(0, 6, n)
    i = rng.integers(0, 1 << 30, n)
    j = rng.integers(0, 1 << 30, n)
    leaf = s2.from_face_ij(face, i, j)
    for lev in (12, 8):
        sh = 30 - lev
        fsh = np.asarray(face, dtype=np.uint64)
        r = fsh & np.uint64(1)
        pos = np.zeros(n, dtype=np.uint64)
        ii = (np.asarray(i, dtype=np.uint64) >> np.uint64(sh))
        jj = (np.asarray(j, dtype=np.uint64) >> np.uint64(sh))
        for k in range(lev - 1, -1, -1):
            ij = (((ii >> np.uint64(k)) & np.uint64(1)) << np.uint64(1)) | (
                (jj >> np.uint64(k)) & np.uint64(1)
            )
            p = s2._IJ_TO_POS[r, ij]
            pos = (pos << np.uint64(2)) | p
            r = r ^ s2._POS_TO_ORIENTATION[p]
        shift = 2 * (30 - lev)
        uid = (
            (fsh << np.uint64(61))
            | (pos << np.uint64(shift + 1))
            | (np.uint64(1) << np.uint64(shift))
        ).view(np.int64)
        assert np.array_equal(uid, s2.parent(leaf, lev))


def test_center_reencode_and_token():
    n = 2000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-89, 89, n)
    for lev in (6, 14, 22):
        c = s2.cell_of(lon, lat, lev)
        clon, clat = s2.center_lnglat(c)
        assert np.array_equal(s2.cell_of(clon, clat, lev), c)
    leaf = s2.cell_of(lon, lat)
    toks = s2.token(leaf[:64])
    assert np.array_equal(s2.from_token(toks), leaf[:64])
    assert all(not t.endswith("0") or t == "0" for t in toks)


def _edge_biased_cells(level, n):
    """Random cells with many touching face boundaries."""
    face = rng.integers(0, 6, n)
    near = lambda: np.where(
        rng.random(n) < 0.5,
        rng.integers(0, 1 << 30, n),
        np.where(
            rng.random(n) < 0.5,
            rng.integers(0, 1 << 21, n),
            (1 << 30) - 1 - rng.integers(0, 1 << 21, n),
        ),
    )
    return s2.parent(s2.from_face_ij(face, near(), near()), level)


@pytest.mark.parametrize("level", [6, 10, 16])
def test_edge_neighbors_geometric_mirror(level):
    """For each cell edge, mirror an interior point across the edge in
    UV space, project to the sphere, and re-encode: the landing cell
    must be exactly the computed edge neighbor — including across
    cube-face boundaries (the wrap path)."""
    n = 1200
    cells = _edge_biased_cells(level, n)
    nbrs = s2.edge_neighbors(cells)
    f, ci, cj = s2.to_face_ij(cells)
    size = 1 << (30 - level)
    i0, j0 = ci & ~(size - 1), cj & ~(size - 1)
    ninv = float(1 << 30)
    s0, s1 = i0 / ninv, (i0 + size) / ninv
    t0, t1 = j0 / ninv, (j0 + size) / ninv
    scen, tcen, w = (s0 + s1) / 2, (t0 + t1) / 2, size / ninv
    # edges in _EDGE_OFFSETS order: j-, i+, j+, i-
    specs = [
        (scen, t0 + w / 4, None, t0),
        (s1 - w / 4, tcen, s1, None),
        (scen, t1 - w / 4, None, t1),
        (s0 + w / 4, tcen, s0, None),
    ]
    for e, (s_in, t_in, s_edge, t_edge) in enumerate(specs):
        uin, vin = s2._st_to_uv(np.asarray(s_in)), s2._st_to_uv(np.asarray(t_in))
        if s_edge is not None:
            ue = s2._st_to_uv(np.asarray(s_edge))
            uout, vout = 2 * ue - uin, vin
        else:
            ve = s2._st_to_uv(np.asarray(t_edge))
            uout, vout = uin, 2 * ve - vin
        x, y, z = np.empty(n), np.empty(n), np.empty(n)
        for ff in range(6):
            m = f == ff
            if m.any():
                x[m], y[m], z[m] = s2._FACE_XYZ[ff](uout[m], vout[m])
        lon = np.degrees(np.arctan2(y, x))
        lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
        assert np.array_equal(s2.cell_of(lon, lat, level), nbrs[:, e])


def test_all_neighbors_ring():
    cells = _edge_biased_cells(8, 400)
    en = s2.edge_neighbors(cells)
    an = s2.all_neighbors(cells)
    for k in range(len(cells)):
        assert set(en[k]) <= set(an[k])
        assert cells[k] not in an[k]
        assert 7 <= len(an[k]) <= 8
        assert np.all(s2.level_of(an[k]) == 8)
    # a face-corner cell has no diagonal across the cube corner: 7 nbrs
    corner = s2.parent(s2.from_face_ij(np.array([0]), np.array([0]), np.array([0])), 5)
    assert len(s2.all_neighbors(corner)[0]) == 7


def test_quadratic_st_inverse():
    u = rng.uniform(-1, 1, 10000)
    s = s2._uv_to_st(u)
    assert np.all((s >= 0) & (s <= 1))
    assert np.allclose(s2._st_to_uv(s), u, atol=1e-12)


def test_cell_of_level_validation():
    with pytest.raises(ValueError):
        s2.cell_of(np.array([0.0]), np.array([0.0]), 31)


def test_spark_cell_col_matches_numpy(spark):
    n = 1500
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"k": np.arange(n), "lon": lon, "lat": lat}))
    out = (
        df.withColumn("leaf", s2.cell_col(F.col("lon"), F.col("lat")))
        .withColumn("c10", s2.cell_col(F.col("lon"), F.col("lat"), 10))
        .withColumn("p10", s2.parent_col(F.col("leaf"), 10))
        .withColumn("face", s2.face_col(F.col("leaf")))
        .orderBy("k")
        .toPandas()
    )
    leaf = s2.cell_of(lon, lat)
    assert np.array_equal(out["leaf"].to_numpy(), leaf)
    assert np.array_equal(out["c10"].to_numpy(), s2.cell_of(lon, lat, 10))
    # Catalyst parent == numpy parent == UDF-at-level
    assert np.array_equal(out["p10"].to_numpy(), s2.parent(leaf, 10))
    assert np.array_equal(out["p10"].to_numpy(), out["c10"].to_numpy())
    f, _, _ = s2.to_face_ij(leaf)
    assert np.array_equal(out["face"].to_numpy(), f)


def test_spark_containment_range_join(spark):
    """Point-in-cells as a broadcast range join on (range_min, range_max):
    every point lands in exactly the covering cell that contains it."""
    import pandas as pd

    n = 800
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    leaf = s2.cell_of(lon, lat)
    covers = np.unique(s2.parent(leaf, 4))  # coarse covering of the points
    pts = spark.createDataFrame(pd.DataFrame({"k": np.arange(n), "leaf": leaf}))
    cov = spark.createDataFrame(
        pd.DataFrame(
            {
                "cell": covers,
                "lo": s2.range_min(covers),
                "hi": s2.range_max(covers),
            }
        )
    )
    joined = pts.join(
        F.broadcast(cov),
        (F.col("leaf") >= F.col("lo")) & (F.col("leaf") <= F.col("hi")),
        "left",
    )
    got = joined.groupBy("k").agg(
        F.count("cell").alias("n_cov"), F.min("cell").alias("cell")
    ).orderBy("k").toPandas()
    assert np.all(got["n_cov"].to_numpy() == 1)
    assert np.array_equal(got["cell"].to_numpy(), s2.parent(leaf, 4))


def test_unsigned_order_col(spark):
    import pandas as pd

    ids = s2.from_face_ij(
        np.repeat(np.arange(6), 50),
        rng.integers(0, 1 << 30, 300),
        rng.integers(0, 1 << 30, 300),
    )
    df = spark.createDataFrame(pd.DataFrame({"id": ids}))
    got = (
        df.orderBy(s2.unsigned_order_col(F.col("id")))
        .select("id")
        .toPandas()["id"]
        .to_numpy()
    )
    want = ids[np.argsort(ids.view(np.uint64), kind="stable")]
    assert np.array_equal(got, want)


def test_assign_cells_s2(spark):
    """Tiling-operator integration: S2 cell + tile assignment matches
    the numpy core; tile_id is the Catalyst parent of cell_id."""
    import pandas as pd
    from xarray_spatial_spark.operators.tiling import assign_cells_s2

    n = 600
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    df = spark.createDataFrame(pd.DataFrame({"k": np.arange(n), "lon": lon, "lat": lat}))
    out = assign_cells_s2(df, level=16, tile_level=6).orderBy("k").toPandas()
    want = s2.cell_of(lon, lat, 16)
    assert np.array_equal(out["cell_id"].to_numpy(), want)
    assert np.array_equal(out["tile_id"].to_numpy(), s2.parent(want, 6))
    # grouping by tile_id co-locates all descendants of a level-6 cell
    grp = (
        assign_cells_s2(df, 16, 6).groupBy("tile_id").count().toPandas()
    )
    assert grp["count"].sum() == n
    assert np.all(s2.level_of(grp["tile_id"].to_numpy()) == 6)


def _angdist_deg(lon1, lat1, lon2, lat2):
    x1, y1, z1 = s2._lnglat_to_xyz(np.asarray(lon1), np.asarray(lat1))
    x2, y2, z2 = s2._lnglat_to_xyz(np.asarray(lon2), np.asarray(lat2))
    return np.degrees(np.arccos(np.clip(x1 * x2 + y1 * y2 + z1 * z2, -1, 1)))


def test_children_tile_parent_range():
    cells = _edge_biased_cells(9, 300)
    ch = s2.children(cells)
    for k in range(len(cells)):
        kids = ch[k]
        assert np.all(s2.level_of(kids) == 10)
        assert np.all(s2.parent(kids, 9) == cells[k])
        # LEAF ranges tile the parent: consecutive sibling ranges are
        # separated by exactly one even (non-leaf) id
        los = np.sort(s2.range_min(kids).view(np.uint64))
        his = np.sort(s2.range_max(kids).view(np.uint64))
        assert los[0] == np.uint64(s2.range_min(cells[k: k + 1])[0])
        assert his[-1] == np.uint64(s2.range_max(cells[k: k + 1])[0])
        assert np.all(los[1:] == his[:-1] + 2)


def test_cell_vertices_reencode():
    cells = _edge_biased_cells(7, 200)
    vx, vy, vz = s2.cell_vertices(cells)
    # nudge each vertex toward the center: the point is inside the cell
    clon, clat = s2.center_lnglat(cells)
    cx, cy, cz = s2._lnglat_to_xyz(clon, clat)
    eps = 1e-6
    px = vx * (1 - eps) + cx[:, None] * eps
    py = vy * (1 - eps) + cy[:, None] * eps
    pz = vz * (1 - eps) + cz[:, None] * eps
    lon = np.degrees(np.arctan2(py, px))
    lat = np.degrees(np.arctan2(pz, np.sqrt(px * px + py * py)))
    for corner in range(4):
        assert np.array_equal(
            s2.cell_of(lon[:, corner], lat[:, corner], 7), cells)


def test_cap_covering_conservative_and_budgeted():
    """NO false negatives across random caps, and the cell budget
    holds."""
    for seed in range(5):
        r = np.random.default_rng(seed)
        clon = r.uniform(-180, 180)
        clat = r.uniform(-80, 80)
        rad = r.uniform(0.5, 30)
        cov = s2.cap_covering(clon, clat, rad, max_level=10, max_cells=80)
        assert 0 < len(cov) <= 80
        n = 20000
        lon = r.uniform(-180, 180, n)
        lat = r.uniform(-85, 85, n)
        d = _angdist_deg(lon, lat, clon, clat)
        ul = s2.cell_of(lon, lat).view(np.uint64)
        lo = s2.range_min(cov).view(np.uint64)
        hi = s2.range_max(cov).view(np.uint64)
        in_cov = ((ul[:, None] >= lo) & (ul[:, None] <= hi)).any(axis=1)
        assert not np.any((d <= rad) & ~in_cov)  # nothing missed
        # over-coverage stays small (cells hug the cap boundary)
        assert ((d > rad) & in_cov).mean() < 0.05
    with pytest.raises(ValueError):
        s2.cap_covering(0, 0, 0)


def test_cap_query_spark_exact(spark):
    """The full region-query pattern: covering cells broadcast as id
    ranges, points range-join into candidates, an exact angular-
    distance refine finishes — result EQUALS the brute-force filter."""
    import pandas as pd

    n = 4000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    clon, clat, rad = 12.5, 47.0, 9.0
    cov = s2.cap_covering(clon, clat, rad, max_level=11, max_cells=64)
    pts = spark.createDataFrame(pd.DataFrame({
        "k": np.arange(n), "lon": lon, "lat": lat,
        "leaf": s2.cell_of(lon, lat),
        "u": s2.cell_of(lon, lat).view(np.uint64).astype("float64"),
    }))
    covdf = spark.createDataFrame(pd.DataFrame({
        "lo": s2.range_min(cov), "hi": s2.range_max(cov),
        "ulo": s2.range_min(cov).view(np.uint64).astype("float64"),
        "uhi": s2.range_max(cov).view(np.uint64).astype("float64"),
    }))
    cand = pts.join(
        F.broadcast(covdf),
        (F.col("u") >= F.col("ulo")) & (F.col("u") <= F.col("uhi")),
        "inner",
    )
    refine = (
        F.degrees(F.acos(F.least(F.lit(1.0),
            F.sin(F.radians(F.col("lat"))) * F.sin(F.radians(F.lit(clat)))
            + F.cos(F.radians(F.col("lat"))) * F.cos(F.radians(F.lit(clat)))
            * F.cos(F.radians(F.col("lon") - F.lit(clon))))))
        <= F.lit(rad)
    )
    got = sorted(r["k"] for r in cand.filter(refine).select("k").collect())
    want = sorted(np.where(_angdist_deg(lon, lat, clon, clat) <= rad)[0])
    assert got == [int(w) for w in want]
    assert len(got) > 0


TRI = ([60.0, 120.0, 90.0], [40.0, 40.0, 80.0])
QUAD = ([-30.0, 40.0, 40.0, -30.0], [-20.0, -20.0, 30.0, 30.0])


def test_spherical_point_in_polygon_known():
    verts = s2._poly_xyz(*TRI)
    got = s2._point_in_spherical_polygon(
        s2._poly_xyz([90, 90, 90, 0, -77, 61], [50, 70, 20, 0, -73, 41]),
        verts,
    )
    # the bottom edge is a GEODESIC bulging poleward: at lon 61 it
    # sits near lat 40.2, so (61, 41) is just inside; at lon 90 the
    # bulge peaks near lat 44, so (90, 20) is far outside
    assert list(got) == [True, True, False, False, False, True]


@pytest.mark.parametrize("poly", [TRI, QUAD,
                                  ([10, 20, 25, 15, 5], [0, 2, 12, 18, 10])])
def test_polygon_covering_conservative(poly):
    """No point inside the polygon (robust crossing-count truth) is
    ever outside the covering."""
    verts = s2._poly_xyz(*poly)
    cov = s2.polygon_covering(*poly, max_level=9, max_cells=80)
    assert 0 < len(cov) <= 80
    n = 20000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    inside = s2._point_in_spherical_polygon(s2._poly_xyz(lon, lat), verts)
    ul = s2.cell_of(lon, lat).view(np.uint64)
    lo = s2.range_min(cov).view(np.uint64)
    hi = s2.range_max(cov).view(np.uint64)
    in_cov = ((ul[:, None] >= lo) & (ul[:, None] <= hi)).any(axis=1)
    assert not np.any(inside & ~in_cov)
    assert (~inside & in_cov).mean() < 0.05
    with pytest.raises(ValueError):
        s2.polygon_covering([0, 1], [0, 1])


def test_polygon_query_spark_exact(spark):
    """Scalable PIP: covering prefilter (broadcast leaf-range join)
    + exact spherical refine == brute force over all points."""
    import pandas as pd

    assert pd is not None

    n = 3000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    verts = s2._poly_xyz(*TRI)
    cov = s2.polygon_covering(*TRI, max_level=11, max_cells=64)
    pts = spark.createDataFrame(pd.DataFrame({
        "k": np.arange(n), "lon": lon, "lat": lat,
        "leaf": s2.cell_of(lon, lat)}))
    covdf = spark.createDataFrame(pd.DataFrame({
        "lo": s2.range_min(cov), "hi": s2.range_max(cov)}))
    cand = pts.join(
        F.broadcast(covdf),
        (F.col("leaf") >= F.col("lo")) & (F.col("leaf") <= F.col("hi")),
        "inner",
    )

    @F.pandas_udf("boolean")
    def _refine(lo_: pd.Series, la_: pd.Series) -> pd.Series:
        return pd.Series(s2._point_in_spherical_polygon(
            s2._poly_xyz(lo_.to_numpy(), la_.to_numpy()), verts))

    got = sorted(r["k"] for r in
                 cand.filter(_refine(F.col("lon"), F.col("lat")))
                 .select("k").collect())
    want = np.where(s2._point_in_spherical_polygon(
        s2._poly_xyz(lon, lat), verts))[0]
    assert got == [int(w) for w in want]
    assert 0 < len(got) < n
    # the prefilter really reduced work
    assert cand.count() < n * 0.2


def test_lut_equals_reference_automaton():
    """The 4-levels-per-step LUT path is bit-identical to the 2-bit
    published-automaton loop it was built from."""
    n = 20000
    face = rng.integers(0, 6, n)
    i = rng.integers(0, 1 << 30, n)
    j = rng.integers(0, 1 << 30, n)
    assert np.array_equal(s2.from_face_ij(face, i, j),
                          s2._from_face_ij_ref(face, i, j))
    # corners of the ij domain
    for ii in (0, (1 << 30) - 1):
        for jj in (0, (1 << 30) - 1):
            a = np.full(6, ii)
            b = np.full(6, jj)
            f = np.arange(6)
            assert np.array_equal(s2.from_face_ij(f, a, b),
                                  s2._from_face_ij_ref(f, a, b))


def test_polygon_area_known_values():
    """Octant triangle = 4π/8; small square ~ planar; concave-safe
    signed decomposition; cap area closed form."""
    # octant: (0,0), (90,0), (0,90) covers exactly 1/8 of the sphere
    oct_area = s2.polygon_area_steradians([0, 90, 0], [0, 0, 90])
    assert oct_area == pytest.approx(4 * np.pi / 8, rel=1e-12)
    # a tiny square of side d degrees ~ (d*pi/180)^2 steradians
    d = 0.1
    sq = s2.polygon_area_steradians([0, d, d, 0], [0, 0, d, d])
    assert sq == pytest.approx(np.radians(d) ** 2, rel=1e-3)
    # vertex order (orientation) must not change the magnitude
    rev = s2.polygon_area_steradians([0, 0, d, d], [d, 0, 0, d])
    assert rev == pytest.approx(sq, rel=1e-12)
    # covering cells of a cap sum to roughly the cap's area
    cap = s2.cap_area_steradians(10.0)
    cov = s2.cap_covering(30.0, 20.0, 10.0, max_level=9, max_cells=128)
    cells_area = 0.0
    for c in cov:
        vx, vy, vz = s2.cell_vertices(np.array([c]))
        cells_area += s2.polygon_area_steradians(
            np.degrees(np.arctan2(vy[0], vx[0])),
            np.degrees(np.arctan2(vz[0], np.sqrt(vx[0]**2 + vy[0]**2))))
    assert cap < cells_area < cap * 1.35  # covering ⊇ cap, modest excess
    with pytest.raises(ValueError):
        s2.polygon_area_steradians([0, 1], [0, 1])
