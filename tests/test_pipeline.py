"""Multimodal plumbing, manifests/resume, point-in-polygon join."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark.operators import multimodal as mm
from xarray_spatial_spark.operators import pip
from xarray_spatial_spark.plans import manifest as mf


def test_decode_unknown_format_raises(spark):
    """synth_media payloads are not a recognized image format: the
    real decode path must fail loudly (per-row, at execution), not
    fabricate pixels."""
    df = mm.synth_media(spark, 4)
    with pytest.raises(Exception, match="unrecognized image format"):
        mm.decode_image(df).collect()


def test_decode_feature_resize_pipeline(spark):
    df = mm.synth_media(spark, 12)
    dec = mm.decode_image(df, fake=True)
    rows = dec.select("media_id", F.size("pixels").alias("n"), "width", "height").collect()
    for r in rows:
        assert r["n"] == r["width"] * r["height"] * 3
    feats = mm.image_features(dec).select("media_id", "features").collect()
    assert all(len(r["features"]) == 14 for r in feats)
    # determinism: same media id -> same features at different parallelism
    f2 = mm.image_features(mm.decode_image(df.repartition(5), fake=True))
    a = {r["media_id"]: r["features"] for r in feats}
    b = {r["media_id"]: r["features"] for r in f2.select("media_id", "features").collect()}
    assert a == b
    rs = mm.resize_image(dec, 8, 8)
    assert rs.select(F.size("pixels")).distinct().collect()[0][0] == 8 * 8 * 3


def test_sample_frames(spark):
    df = mm.synth_media(spark, 5, kind="video")
    out = mm.sample_frames(df, every_ms=500)
    pdf = out.toPandas()
    durs = {r["media_id"]: r["duration_ms"] for r in df.collect()}
    for mid, g in pdf.groupby("media_id"):
        assert len(g) == max(int(durs[mid] / 500), 1)
        assert (g["ts_ms"] == g["frame_idx"] * 500).all()


def test_manifest_run_and_resume(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).select(
            (F.col("id") % 4).alias("tile_id"), F.col("id").alias("v")
        )

    out1 = mf.run_stage(spark, tmp_path / "s1", build, key="tile_id",
                        params={"p": 1})
    assert out1.count() == 100 and calls["n"] == 1
    # resume: same fingerprint -> no recompute
    out2 = mf.run_stage(spark, tmp_path / "s1", build, key="tile_id",
                        params={"p": 1})
    assert out2.count() == 100 and calls["n"] == 1
    # changed params -> recompute
    mf.run_stage(spark, tmp_path / "s1", build, key="tile_id", params={"p": 2})
    assert calls["n"] == 2
    m = json.loads((tmp_path / "s1" / "_manifest.json").read_text())
    assert m["status"] == "complete"
    assert m["metrics"]["rows"] == 100 and m["metrics"]["partitions"] == 4
    assert len(m["lineage"]) == 4
    assert mf.verify_lineage(spark, tmp_path / "s1")


def test_manifest_incomplete_reruns(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select((F.col("id") % 2).alias("k"), "id")

    mf.run_stage(spark, tmp_path / "s2", build, key="k")
    (tmp_path / "s2" / "_manifest.json").write_text("{corrupt")
    mf.run_stage(spark, tmp_path / "s2", build, key="k")
    assert calls["n"] == 2


SQUARE = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
TRIANGLE = np.array([[20.0, 20.0], [30.0, 20.0], [25.0, 30.0]])


def test_pip_join(spark):
    import pandas as pd

    pts = pd.DataFrame(
        {
            "pid": range(6),
            "lon": [5.0, 25.0, 50.0, 0.5, 25.0, 9.99],
            "lat": [5.0, 21.0, 50.0, 9.5, 29.9, 0.01],
        }
    )
    df = spark.createDataFrame(pts)
    out = pip.pip_join(df, {1: SQUARE, 2: TRIANGLE}, zone_col="zone")
    got = {r["pid"]: r["zone"] for r in out.collect()}
    assert got[0] == 1.0        # center of square
    assert got[1] == 2.0        # inside triangle
    assert got[2] is None or np.isnan(got[2])  # nowhere
    assert got[3] == 1.0
    assert got[4] == 2.0    # narrow slice just under the triangle apex
    assert got[5] == 1.0


def test_pip_expr_matches_arrow_path(spark):
    """Compiled Catalyst PIP must agree with the Arrow ray-cast path."""
    import pandas as pd

    rng = np.random.default_rng(12)
    pts = pd.DataFrame(
        {
            "pid": range(2000),
            "lon": rng.uniform(-10, 40, 2000),
            "lat": rng.uniform(-10, 40, 2000),
        }
    )
    nan = float("nan")
    bad = spark.createDataFrame(  # NULL and NaN coordinates match no polygon
        [(2000, None, 5.0), (2001, 5.0, None), (2002, None, None),
         (2003, nan, 5.0), (2004, 5.0, nan), (2005, nan, nan)],
        "pid long, lon double, lat double")
    df = spark.createDataFrame(pts).unionByName(bad)
    # zone 3 has zero area (every edge horizontal): it contains no point
    polys = {1: SQUARE, 2: TRIANGLE, 3: np.array([(0, 5), (10, 5), (20, 5)], np.float64)}
    a = {r["pid"]: r["zone"] for r in pip.pip_join(df, polys).collect()}
    b = {r["pid"]: r["zone"] for r in pip.pip_join_expr(df, polys).collect()}
    assert len(a) == len(b) == 2006
    for k in a:
        av, bv = a[k], b[k]
        assert (av is None and bv is None) or av == bv, (k, av, bv)
    assert all(a[k] is None for k in range(2000, 2006))
    # some of each
    assert any(v == 1.0 for v in b.values()) and any(v is None for v in b.values())


def test_pip_join_empty_polygon_set(spark):
    """No polygons: every zone is NULL on both paths, and an empty
    GeoJSON collection gives a set that assigns nothing."""
    from xarray_spatial_spark.sources import geojson

    df = spark.createDataFrame([(0, 5.0, 5.0), (1, None, 1.0)], "pid long, lon double, lat double")
    for join in (pip.pip_join, pip.pip_join_expr):
        assert [r["zone"] for r in join(df, {}).orderBy("pid").collect()] == [None, None]
    pset, attrs = geojson.polygon_set(
        geojson.parse_feature_collection('{"type": "FeatureCollection", "features": []}'))
    assert attrs == {} and pset.verts == {}
    assert np.isnan(pset.assign(np.array([5.0]), np.array([5.0]))).all()


def test_pip_matches_bruteforce_on_random_points(spark):
    import pandas as pd

    rng = np.random.default_rng(8)
    pts = pd.DataFrame(
        {
            "pid": range(500),
            "lon": rng.uniform(-5, 35, 500),
            "lat": rng.uniform(-5, 35, 500),
        }
    )
    df = spark.createDataFrame(pts)
    polys = {1: SQUARE, 2: TRIANGLE}
    out = {r["pid"]: r["zone"] for r in pip.pip_join(df, polys).collect()}

    def brute(x, y):
        for z, v in polys.items():
            if pip._ray_cast(np.array([x]), np.array([y]), v)[0]:
                return float(z)
        return None

    for i in range(500):
        want = brute(pts.lon[i], pts.lat[i])
        gotv = out[i]
        if want is None:
            assert gotv is None or np.isnan(gotv)
        else:
            assert gotv == want


def test_pip_join_many_polygons_bucketed_path(spark):
    """2,000-polygon set through the broadcast R-tree (the web-scale
    PIP path); assignments verified against the analytic ground truth
    of a disjoint square grid."""
    import numpy as np

    from xarray_spatial_spark.operators import pip

    # 50 x 40 = 2000 disjoint squares: cell (i, j) covers
    # lon [i, i+0.8], lat [j, j+0.8] (gap 0.2 -> some points miss)
    polys = {}
    for i in range(50):
        for j in range(40):
            zid = i * 40 + j
            lon0, lat0 = i - 25.0, j - 20.0
            polys[zid] = np.array([
                [lon0, lat0], [lon0 + 0.8, lat0],
                [lon0 + 0.8, lat0 + 0.8], [lon0, lat0 + 0.8],
            ])
    assert len(polys) > 64  # beyond pip_join_expr's compiled CASE

    rng = np.random.default_rng(11)
    lons = rng.uniform(-25, 25, 20000)
    lats = rng.uniform(-20, 20, 20000)
    import pandas as pd
    df = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(20000), "lon": lons, "lat": lats})
    )
    out = pip.pip_join(df, polys).toPandas().set_index("pid")

    ii = np.floor(lons + 25).astype(int)
    jj = np.floor(lats + 20).astype(int)
    in_cell = ((lons + 25 - ii) <= 0.8) & ((lats + 20 - jj) <= 0.8) \
        & (ii < 50) & (jj < 40)
    want = np.where(in_cell, (ii * 40 + jj).astype(float), np.nan)
    got = out.loc[np.arange(20000), "zone"].to_numpy()
    # boundary points follow the ray-cast half-open rule; keep the
    # check exact by dropping the measure-zero boundary set
    on_edge = (np.isclose((lons + 25 - ii) % 1, 0.8) |
               np.isclose((lats + 20 - jj) % 1, 0.8) |
               np.isclose((lons + 25 - ii) % 1, 0.0) |
               np.isclose((lats + 20 - jj) % 1, 0.0))
    keep = ~on_edge
    np.testing.assert_array_equal(got[keep], want[keep])
    assert np.isnan(want[keep]).sum() > 1000  # gaps genuinely exercised
