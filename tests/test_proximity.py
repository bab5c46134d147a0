"""Proximity goldens ported from reference xrspatial/tests/test_proximity.py.

Fixture: 4x6 raster with targets 1..4 (test_proximity.py:25-42),
lon = linspace(-20,20,6), lat = linspace(20,-20,4).
Goldens: default euclidean (:47-55), target_values=[2,3] (:58-66),
manhattan (:70-78), great-circle (:82-90), max_distance=10 (:94-103),
allocation (:106-113), direction (:130-138).
"""

import math

import numpy as np
import pandas as pd
import pytest

from xarray_spatial_spark.operators import proximity as prox
from xarray_spatial_spark.raster import numpy_from_df

DATA = np.asarray(
    [
        [0.0, 0.0, 0.0, 0.0, 0.0, 2.0],
        [0.0, 0.0, 1.0, 0.0, 0.0, 0.0],
        [0.0, np.inf, 3.0, 0.0, 0.0, 0.0],
        [4.0, 0.0, 0.0, 0.0, np.nan, 0.0],
    ]
)
H, W = DATA.shape
LON = np.linspace(-20, 20, W)
LAT = np.linspace(20, -20, H)


@pytest.fixture()
def raster(spark):
    yy, xx = np.meshgrid(np.arange(H), np.arange(W), indexing="ij")
    v = DATA.ravel()
    pdf = pd.DataFrame(
        {
            "y": yy.ravel().astype("int32"),
            "x": xx.ravel().astype("int32"),
            "lon": LON[xx.ravel()],
            "lat": LAT[yy.ravel()],
            "value": pd.Series(v).where(np.isfinite(v), None),
        }
    )
    return spark.createDataFrame(
        pdf, schema="y int, x int, lon double, lat double, value double"
    )


def _grid(df):
    return numpy_from_df(df).astype(np.float32)


def test_default_proximity(raster):
    expected = np.array(
        [
            [20.82733247, 15.54920505, 13.33333333, 15.54920505, 8.0, 0.0],
            [16.0, 8.0, 0.0, 8.0, 15.54920505, 13.33333333],
            [13.33333333, 8.0, 0.0, 8.0, 16.0, 24.0],
            [0.0, 8.0, 13.33333333, 15.54920505, 20.82733247, 27.45501371],
        ],
        dtype=np.float32,
    )
    np.testing.assert_allclose(_grid(prox.proximity(raster)), expected, rtol=1e-6)


def test_target_proximity(raster):
    expected = np.array(
        [
            [31.09841011, 27.84081736, 24.0, 16.0, 8.0, 0.0],
            [20.82733247, 15.54920505, 13.33333333, 15.54920505, 15.54920505, 13.33333333],
            [16.0, 8.0, 0.0, 8.0, 16.0, 24.0],
            [20.82733247, 15.54920505, 13.33333333, 15.54920505, 20.82733247, 27.45501371],
        ],
        dtype=np.float32,
    )
    got = _grid(prox.proximity(raster, target_values=[2, 3]))
    np.testing.assert_allclose(got, expected, rtol=1e-6)


def test_manhattan_proximity(raster):
    expected = np.array(
        [
            [29.33333333, 21.33333333, 13.33333333, 16.0, 8.0, 0.0],
            [16.0, 8.0, 0.0, 8.0, 16.0, 13.33333333],
            [13.33333333, 8.0, 0.0, 8.0, 16.0, 24.0],
            [0.0, 8.0, 13.33333333, 21.33333333, 29.33333333, 37.33333333],
        ],
        dtype=np.float32,
    )
    got = _grid(prox.proximity(raster, distance_metric="MANHATTAN"))
    np.testing.assert_allclose(got, expected, rtol=1e-6)


def test_great_circle_proximity(raster):
    expected = np.array(
        [
            [2278099.27025501, 1717528.97437217, 1484259.87724365,
             1673057.17235307, 836769.1780019, 0],
            [1768990.54084204, 884524.60324856, 0, 884524.60324856,
             1717528.97437217, 1484259.87724365],
            [1484259.87724365, 884524.60324856, 0, 884524.60324856,
             1768990.54084204, 2653336.85436932],
            [0, 836769.1780019, 1484259.87724365, 1717528.97437217,
             2278099.27025501, 2986647.12982316],
        ],
        dtype=np.float32,
    )
    got = _grid(prox.proximity(raster, distance_metric="GREAT_CIRCLE"))
    np.testing.assert_allclose(got, expected, rtol=1e-6)


def test_max_distance_proximity(raster):
    expected = np.array(
        [
            [np.nan, np.nan, np.nan, np.nan, 8.0, 0.0],
            [np.nan, 8.0, 0.0, 8.0, np.nan, np.nan],
            [np.nan, 8.0, 0.0, 8.0, np.nan, np.nan],
            [0.0, 8.0, np.nan, np.nan, np.nan, np.nan],
        ],
        dtype=np.float32,
    )
    got = _grid(prox.proximity(raster, max_distance=10))
    np.testing.assert_allclose(got, expected, rtol=1e-6)


def test_default_allocation(raster):
    expected = np.array(
        [
            [1.0, 1.0, 1.0, 1.0, 2.0, 2.0],
            [1.0, 1.0, 1.0, 1.0, 2.0, 2.0],
            [4.0, 3.0, 3.0, 3.0, 3.0, 3.0],
            [4.0, 4.0, 3.0, 3.0, 3.0, 3.0],
        ],
        dtype=np.float32,
    )
    np.testing.assert_allclose(_grid(prox.allocation(raster)), expected, rtol=1e-6)


def test_default_direction(raster):
    expected = np.array(
        [
            [50.194427, 30.963757, 360.0, 329.03625, 90.0, 0.0],
            [90.0, 90.0, 0.0, 270.0, 149.03624, 180.0],
            [360.0, 90.0, 0.0, 270.0, 270.0, 270.0],
            [0.0, 270.0, 180.0, 210.96376, 230.19443, 240.9454],
        ],
        dtype=np.float32,
    )
    np.testing.assert_allclose(_grid(prox.direction(raster)), expected, rtol=1e-6)


def test_max_distance_direction(raster):
    expected = np.array(
        [
            [np.nan, np.nan, np.nan, np.nan, 90.0, 0.0],
            [np.nan, 90.0, 0.0, 270.0, np.nan, np.nan],
            [np.nan, 90.0, 0.0, 270.0, np.nan, np.nan],
            [0.0, 270.0, np.nan, np.nan, np.nan, np.nan],
        ],
        dtype=np.float32,
    )
    got = _grid(prox.direction(raster, max_distance=10))
    np.testing.assert_allclose(got, expected, rtol=1e-6)


def test_knn_ring_join_matches_broadcast(spark):
    """Distributed cell-ring kNN (k=1) agrees with broadcast NN."""
    from xarray_spatial_spark.sources.documents import documents

    docs = documents(spark, 400).select("doc_id", "lon", "lat")
    targets = (
        documents(spark, 4000)
        .filter("doc_id % 100 = 0")
        .select((1000000 + __import__('pyspark').sql.functions.col("doc_id")).alias("target_id"),
                "lon", "lat")
    )
    # zoom=2 ring=2 -> the 5x5 disk covers the whole 4x4 world grid => exact
    got = (
        prox.knn_ring_join(docs, targets, k=1, zoom=2, ring=2)
        .select("doc_id", "dist")
        .toPandas()
        .set_index("doc_id")["dist"]
        .sort_index()
    )
    want = (
        prox.nearest_broadcast(docs, targets)
        .select("doc_id", "nearest_dist")
        .toPandas()
        .set_index("doc_id")["nearest_dist"]
        .sort_index()
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(), rtol=1e-9)

    # pruned config: ring result is a valid upper bound, and any point whose
    # true NN lies inside its own cell is exact
    pruned = (
        prox.knn_ring_join(docs, targets, k=1, zoom=4, ring=1)
        .select("doc_id", "dist")
        .toPandas()
        .set_index("doc_id")["dist"]
    )
    joined = pruned.to_frame("got").join(want.to_frame("want"), how="inner")
    assert (joined["got"] >= joined["want"] - 1e-9).all()
    near = joined[joined["want"] < 1.0]  # zoom-4 cells span >=11 deg lon
    np.testing.assert_allclose(near["got"], near["want"], rtol=1e-9)


@pytest.mark.parametrize("metric", ["GREAT_CIRCLE", "EUCLIDEAN", "MANHATTAN"])
def test_nearest_expr_matches_broadcast(spark, metric):
    """Compiled LEAST-chain nearest must equal the Arrow broadcast path,
    with and without ``max_distance``; ``nearest_dist`` must be
    bit-identical to ``geo.distance_col`` on the chosen target."""
    from pyspark.sql import functions as F

    from xarray_spatial_spark.functions.geo import distance_col
    from xarray_spatial_spark.plans.joins import nearest_join
    from xarray_spatial_spark.sources.documents import documents

    # doc -1 sits exactly between targets 9 and 4 (mirrored longitude on
    # one latitude: equidistant under every metric), so the tie goes to
    # the smaller payload, 4
    tie = spark.createDataFrame([(-1, 0.0, 10.0)], "doc_id long, lon double, lat double")
    docs = documents(spark, 300).select("doc_id", "lon", "lat").unionByName(tie)
    targets = [(-74.006, 40.7128, 1.0), (-0.1278, 51.5074, 2.0),
               (139.6503, 35.6762, 3.0), (77.209, 28.6139, 5.0),
               (2.0, 10.0, 9.0), (-2.0, 10.0, 4.0)]
    tdf = spark.createDataFrame(
        pd.DataFrame(targets, columns=["lon", "lat", "city"]),
        schema="lon double, lat double, city double",
    )
    cols = ["nearest_dist", "nearest_x", "nearest_y"]

    def compiled(df):
        return (
            df.select("doc_id", *cols, "nearest_payload")
            .toPandas().set_index("doc_id").sort_index()
        )

    def broadcast(max_distance):
        return (
            prox.nearest_broadcast(docs, tdf, target_payload="city", metric=metric,
                                   max_distance=max_distance)
            .select("doc_id", *cols, "nearest_payload")
            .toPandas().set_index("doc_id").sort_index()
        )

    near = prox.nearest_expr(docs, targets, metric=metric)
    got, want = compiled(near), broadcast(math.inf)
    np.testing.assert_allclose(got[cols], want[cols], rtol=1e-9)
    np.testing.assert_array_equal(got["nearest_payload"], want["nearest_payload"])
    assert got.loc[-1, "nearest_payload"] == 4.0
    exact = distance_col(F.col("lon"), F.col("nearest_x"), F.col("lat"),
                         F.col("nearest_y"), metric)
    assert near.filter(~F.col("nearest_dist").eqNullSafe(exact)).count() == 0

    md = float(np.median(want["nearest_dist"]))
    got = compiled(nearest_join(docs, tdf, target_payload="city", metric=metric,
                                max_distance=md))
    want = broadcast(md)
    beyond = want["nearest_dist"].isna()
    assert 0 < beyond.sum() < len(want)
    np.testing.assert_array_equal(got["nearest_payload"].isna(), beyond)
    np.testing.assert_allclose(got[cols], want[cols], rtol=1e-9)
    np.testing.assert_array_equal(got["nearest_payload"], want["nearest_payload"])


def test_nearest_expr_one_and_no_target(spark):
    """One target needs no LEAST; no target gives NULLs, as the
    broadcast path does."""
    pts = spark.createDataFrame([(0.0, 0.0), (3.0, 4.0)], "lon double, lat double")
    one = prox.nearest_expr(pts, [(0.0, 0.0, 7.0)]).orderBy("lon").collect()
    assert [(r.nearest_dist, r.nearest_payload) for r in one] == [(0.0, 7.0), (5.0, 7.0)]
    none = prox.nearest_expr(pts, []).collect()
    assert all(r.nearest_dist is None and r.nearest_payload is None for r in none)
