"""plans/joins.py nearest planner and its tiers: the broadcast tier's
STR tree NN, the ring tier, and one output shape per k.  Tests reach a
tier by lowering the planner's caps or by calling the tier directly;
no caller picks one."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark import raster
from xarray_spatial_spark.operators import proximity
from xarray_spatial_spark.plans import joins


def test_nearest_plan_tiers():
    assert joins.nearest_plan(5) == "expr"
    assert joins.nearest_plan(64) == "expr"
    assert joins.nearest_plan(65) == "broadcast"
    assert joins.nearest_plan(64, k=3) == "ring"
    assert joins.nearest_plan(5_000_001) == "ring"


def test_ring_zoom_bounds_radius():
    for md in (0.01, 0.5, 3.0, 45.0):
        z = joins.ring_zoom(md)
        assert 360.0 / (1 << z) >= md          # one cell spans the radius
        assert z == 0 or 360.0 / (1 << (z + 1)) < md  # tightest such zoom


def test_ring_unbounded_raises(spark, monkeypatch):
    pts = spark.range(10).select(
        (F.col("id") * 1.0).alias("lon"), (F.col("id") * 1.0).alias("lat")
    )
    monkeypatch.setattr(joins, "EXPR_CAP", 0)
    monkeypatch.setattr(joins, "BROADCAST_CAP", 0)
    with pytest.raises(ValueError, match="unbounded"):
        joins.nearest_join(pts, pts)


def test_knn_unbounded_raises_naming_k(spark):
    """k > 1 plans the ring at any target count, so an unbounded
    max_distance raises, and the message names k."""
    pts = spark.range(10).select(
        (F.col("id") * 1.0).alias("lon"), (F.col("id") * 1.0).alias("lat")
    )
    with pytest.raises(ValueError, match=r"k=3\).*unbounded"):
        joins.nearest_join(pts, pts, k=3)


@pytest.fixture(scope="module")
def scattered(spark):
    rng = np.random.default_rng(11)
    pts = rng.uniform(-50, 50, size=(400, 2))
    tgt = rng.uniform(-50, 50, size=(80, 2))
    pdf = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], schema="lon double, lat double"
    )
    tv = [(float(x), float(y), float(i + 1)) for i, (x, y) in enumerate(tgt)]
    tdf = spark.createDataFrame(tv, schema="lon double, lat double, value double")
    return pdf, tdf, pts, np.array([(x, y, v) for x, y, v in tv])


def test_nearest_join_sizes_small_targets_in_one_job(spark, scattered):
    """<= EXPR_CAP targets: one Spark job both sizes the target side and
    collects the rows the expr strategy inlines."""
    pdf = scattered[0]
    targets = spark.range(40, numPartitions=4).select(
        (F.col("id") * 2.5 - 50.0).alias("lon"),
        (F.col("id") * -2.0 + 40.0).alias("lat"),
        F.col("id").cast("double").alias("value"),
    )
    sc = spark.sparkContext
    group = "nearest-join-sizing"
    sc.setJobGroup(group, "size the targets")
    try:
        out = joins.nearest_join(pdf, targets, target_payload="value")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    got = out.toPandas().sort_values(["lon", "lat"]).reset_index(drop=True)
    tx, ty = np.arange(40) * 2.5 - 50.0, np.arange(40) * -2.0 + 40.0
    p = got[["lon", "lat"]].to_numpy()
    d = np.hypot(p[:, :1] - tx[None, :], p[:, 1:] - ty[None, :])
    np.testing.assert_array_equal(got["nearest_payload"], d.argmin(axis=1))
    np.testing.assert_allclose(got["nearest_dist"], d.min(axis=1), rtol=1e-12)


def test_knn_below_cap_ranked_rows(spark, scattered):
    """k=3 over 50 targets (below the expr cap) gives each point its up
    to 3 nearest targets within max_distance as ranked rows, matching a
    numpy brute force."""
    _, _, pts, tgt = scattered
    t, md = tgt[:50], 9.0
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "doc_id long, lon double, lat double")
    targets = spark.createDataFrame(
        [(int(v), float(x), float(y)) for x, y, v in t],
        "target_id long, lon double, lat double")
    got = joins.nearest_join(points, targets, k=3, max_distance=md).toPandas()
    d = np.hypot(pts[:, :1] - t[None, :, 0], pts[:, 1:] - t[None, :, 1])
    want = {}
    for i, row in enumerate(d):
        order = np.argsort(row, kind="stable")
        near = order[row[order] <= md][:3]
        if len(near):
            want[i] = (t[near, 2].astype(np.int64), row[near])
    assert set(got["doc_id"]) == set(want)
    for i, g in got.groupby("doc_id"):
        g = g.sort_values("knn_rank")
        ids, dist = want[i]
        assert g["knn_rank"].tolist() == list(range(1, len(ids) + 1))
        np.testing.assert_array_equal(g["target_id"], ids)
        np.testing.assert_allclose(g["dist"], dist, rtol=1e-12)
    sizes = {len(v[0]) for v in want.values()}
    assert 3 in sizes and len(want) < len(pts)  # full, and some points empty


def test_bucket_pruned_matches_dense(spark, scattered):
    """The STR tree search bounded by a finite max_distance equals the
    unbounded search cut at max_distance (out-of-range NULLs
    included)."""
    pdf, tdf, pts, tgt = scattered
    md = 7.5
    pruned = proximity.nearest_broadcast(
        pdf, tdf, target_payload="value", max_distance=md
    ).toPandas().sort_values(["lon", "lat"]).reset_index(drop=True)
    dense = proximity.nearest_broadcast(
        pdf, tdf, target_payload="value"
    ).toPandas().sort_values(["lon", "lat"]).reset_index(drop=True)
    # unbounded search + manual cutoff == bounded search
    mask = dense["nearest_dist"] > md
    for c in ("nearest_dist", "nearest_x", "nearest_y", "nearest_payload"):
        dense.loc[mask, c] = np.nan
        np.testing.assert_allclose(
            pruned[c].to_numpy(np.float64), dense[c].to_numpy(np.float64),
            equal_nan=True,
        )
    assert mask.sum() > 0 and (~mask).sum() > 0  # both regimes exercised


def test_bucket_pruned_great_circle(spark, scattered):
    """The same bounded-against-unbounded STR tree comparison on the
    great-circle metric (max_distance in meters)."""
    pdf, tdf, _, _ = scattered
    md = 900_000.0  # meters
    pruned = proximity.nearest_broadcast(
        pdf, tdf, target_payload="value", metric="GREAT_CIRCLE",
        max_distance=md,
    ).toPandas().sort_values(["lon", "lat"]).reset_index(drop=True)
    dense = proximity.nearest_broadcast(
        pdf, tdf, target_payload="value", metric="GREAT_CIRCLE",
    ).toPandas().sort_values(["lon", "lat"]).reset_index(drop=True)
    mask = dense["nearest_dist"] > md
    dense.loc[mask, "nearest_dist"] = np.nan
    np.testing.assert_allclose(
        pruned["nearest_dist"].to_numpy(np.float64),
        dense["nearest_dist"].to_numpy(np.float64),
        equal_nan=True,
    )


def test_proximity_ring_strategy_matches_broadcast(spark, monkeypatch):
    """The ring tier (caps lowered) must reproduce the broadcast result
    on a raster whose search radius is bounded — the planner's 100-TB
    tier exercised at a real zoom."""
    rng = np.random.default_rng(5)
    a = np.zeros((40, 40))
    ii = rng.integers(0, 40, size=15)
    jj = rng.integers(0, 40, size=15)
    a[ii, jj] = rng.integers(1, 5, size=15).astype(float)
    df = raster.df_from_numpy(spark, a).select(
        F.col("x").cast("double").alias("cx"),
        F.col("y").cast("double").alias("cy"),
        "value",
    )
    md = 6.0
    kw = dict(x_col="cx", y_col="cy", max_distance=md)
    monkeypatch.setattr(joins, "EXPR_CAP", 0)
    b = proximity.proximity(df, **kw).toPandas()
    monkeypatch.setattr(joins, "BROADCAST_CAP", 0)
    r = proximity.proximity(df, **kw).toPandas()
    b = b.sort_values(["cy", "cx"]).reset_index(drop=True)
    r = r.sort_values(["cy", "cx"]).reset_index(drop=True)
    np.testing.assert_allclose(
        r["value"].to_numpy(np.float64), b["value"].to_numpy(np.float64),
        equal_nan=True,
    )
    assert np.isnan(r["value"]).any() and np.isfinite(r["value"]).any()


def test_allocation_ring_strategy(spark, monkeypatch):
    rng = np.random.default_rng(6)
    a = np.zeros((30, 30))
    a[3, 4] = 2.0
    a[20, 25] = 1.0
    a[11, 16] = 3.0
    df = raster.df_from_numpy(spark, a).select(
        F.col("x").cast("double").alias("cx"),
        F.col("y").cast("double").alias("cy"),
        "value",
    )
    kw = dict(x_col="cx", y_col="cy", max_distance=50.0)
    monkeypatch.setattr(joins, "EXPR_CAP", 0)
    b = proximity.allocation(df, **kw).toPandas()
    monkeypatch.setattr(joins, "BROADCAST_CAP", 0)
    r = proximity.allocation(df, **kw).toPandas()
    b = b.sort_values(["cy", "cx"]).reset_index(drop=True)
    r = r.sort_values(["cy", "cx"]).reset_index(drop=True)
    np.testing.assert_allclose(
        r["value"].to_numpy(np.float64), b["value"].to_numpy(np.float64),
        equal_nan=True,
    )


def test_ring_strategy_high_latitude(spark):
    """Mercator cells span fewer degrees of latitude away from the
    equator; the lat-aware ring must keep the ring path exact at
    60-75 deg latitude where a fixed 1-cell ring under-covers."""
    rng = np.random.default_rng(21)
    pts = [(float(rng.uniform(-30, 30)), float(rng.uniform(55, 75)))
           for _ in range(300)]
    tgts = [(float(rng.uniform(-30, 30)), float(rng.uniform(55, 75)),
             float(i + 1)) for i in range(25)]
    pdf = spark.createDataFrame(pts, schema="lon double, lat double")
    tdf = spark.createDataFrame(tgts, schema="lon double, lat double, value double")
    md = 6.0
    rj = proximity.nearest_ring(pdf, tdf, md, target_payload="value")
    ring_d = {(r["lon"], r["lat"]): r["nearest_dist"]
              for r in rj.collect() if r["nearest_dist"] is not None}
    bc = proximity.nearest_broadcast(pdf, tdf, target_payload="value",
                                     max_distance=md)
    miss = 0
    for r in bc.collect():
        key = (r["lon"], r["lat"])
        if r["nearest_dist"] is not None and not math.isnan(r["nearest_dist"]):
            assert key in ring_d, f"ring missed point {key}"
            assert abs(ring_d[key] - r["nearest_dist"]) < 1e-9
        else:
            miss += 1
    assert miss < 300  # some points do have in-range targets


def test_ring_strategy_polar_exact_span(spark):
    """The exact-span ring (tile rows of lat +/- radius) keeps the ring
    path exact right up to the mercator clamp — latitudes 78-85 where
    the old cos(point_lat) heuristic under-covered."""
    rng = np.random.default_rng(7)
    pts = [(float(rng.uniform(-170, 170)), float(rng.uniform(78.0, 85.0)))
           for _ in range(200)]
    tgts = [(float(rng.uniform(-170, 170)), float(rng.uniform(78.0, 85.0)),
             float(i + 1)) for i in range(20)]
    pdf = spark.createDataFrame(pts, schema="lon double, lat double")
    tdf = spark.createDataFrame(tgts, schema="lon double, lat double, value double")
    md = 8.0
    rj = proximity.nearest_ring(pdf, tdf, md, target_payload="value")
    ring_d = {(r["lon"], r["lat"]): r["nearest_dist"]
              for r in rj.collect() if r["nearest_dist"] is not None}
    bc = proximity.nearest_broadcast(pdf, tdf, target_payload="value",
                                     max_distance=md)
    for r in bc.collect():
        key = (r["lon"], r["lat"])
        if r["nearest_dist"] is not None and not math.isnan(r["nearest_dist"]):
            assert key in ring_d, f"ring missed polar point {key}"
            assert abs(ring_d[key] - r["nearest_dist"]) < 1e-9


def test_ring_great_circle_high_latitude_lon_span(spark):
    """A great-circle radius of t degrees spans up to asin(sin t / cos
    lat) degrees of longitude, far more than t near the pole: at lat
    76-80 with a 1,500 km radius the ring must still find the same
    nearest target as the broadcast tier for every point."""
    rng = np.random.default_rng(76)
    pts = [(float(rng.uniform(-180, 180)), float(rng.uniform(76, 80)))
           for _ in range(400)]
    tgts = [(float(rng.uniform(-180, 180)), float(rng.uniform(76, 80)),
             float(i + 1)) for i in range(4)]
    pdf = spark.createDataFrame(pts, schema="lon double, lat double")
    tdf = spark.createDataFrame(tgts, schema="lon double, lat double, value double")
    md = 1_500_000.0
    cols = ["lon", "lat", *proximity.NEAREST_COLS]
    ring = proximity.nearest_ring(pdf, tdf, md, target_payload="value",
                                  metric="GREAT_CIRCLE").select(cols).collect()
    bc = proximity.nearest_broadcast(pdf, tdf, target_payload="value",
                                     metric="GREAT_CIRCLE",
                                     max_distance=md).select(cols).collect()
    assert len(ring) == len(bc) == 400
    found = {(r["lon"], r["lat"]): r for r in ring}
    near = 0
    for r in bc:
        got = found[(r["lon"], r["lat"])]
        assert (got["nearest_x"], got["nearest_y"], got["nearest_payload"]) == \
            (r["nearest_x"], r["nearest_y"], r["nearest_payload"]), r
        if r["nearest_dist"] is not None:
            near += 1
            assert got["nearest_dist"] == pytest.approx(r["nearest_dist"], rel=1e-9)
    assert near > 300


def test_ring_cell_budget_error(spark):
    """Polar blow-up guard: a radius needing >4096 candidate cells per
    point raises with actionable advice instead of exploding the
    join."""
    pdf = spark.createDataFrame([(0.0, 85.0)], schema="lon double, lat double")
    tdf = spark.createDataFrame([(0.0, 85.0, 1.0)],
                                schema="lon double, lat double, value double")
    import pytest
    with pytest.raises(Exception, match="lower the zoom"):
        proximity.knn_ring_join(
            pdf.withColumn("doc_id", F.lit(1)),
            tdf.withColumn("target_id", F.lit(1)),
            zoom=12, max_distance_deg=10.0,
            point_id="doc_id", target_id="target_id",
        ).collect()


@pytest.mark.parametrize("max_distance", [math.inf, 3_000_000.0])
@pytest.mark.parametrize("n_targets", [64, 65])
def test_nearest_non_finite_points_get_nulls(spark, monkeypatch, n_targets,
                                             max_distance):
    """NULL and NaN coordinates have no nearest target on any tier
    (64 targets -> expr, 65 -> broadcast, bounded + caps lowered ->
    ring): all nearest columns NULL, bounded or not, while finite points
    keep theirs.  Every tier appends the same columns, and without
    ``target_payload`` the same rows with a NULL ``nearest_payload``.
    The ring keeps one row per input row where coordinates repeat, and
    its rows match ``nearest_broadcast``."""
    rng = np.random.default_rng(3)
    tv = [(float(x), float(y), float(i))
          for i, (x, y) in enumerate(rng.uniform(-40, 40, (n_targets, 2)))]
    tdf = spark.createDataFrame(tv, "lon double, lat double, city double")
    pts = spark.createDataFrame(
        [(0, 1.0, 2.0), (1, None, 2.0), (2, 1.0, None),
         (3, float("nan"), 2.0), (4, -3.0, float("nan")),
         (5, 1.0, 2.0), (6, 12.0, -7.0), (7, 12.0, -7.0), (8, 150.0, 70.0)],
        "pid long, lon double, lat double",
    )
    out = joins.nearest_join(pts, tdf, target_payload="city",
                             metric="GREAT_CIRCLE", max_distance=max_distance)
    cols = ["nearest_dist", "nearest_x", "nearest_y", "nearest_payload"]
    assert out.columns == ["pid", "lon", "lat", *cols]
    rows = {r["pid"]: [r[c] for c in cols] for r in out.collect()}
    assert all(v is not None for v in rows[0])
    for pid in (1, 2, 3, 4):
        assert rows[pid] == [None] * 4, (pid, rows[pid])
    bare = joins.nearest_join(pts, tdf, metric="GREAT_CIRCLE",
                              max_distance=max_distance)
    assert bare.columns == out.columns
    assert {r["pid"]: [r[c] for c in cols] for r in bare.collect()} == {
        pid: v[:3] + [None] for pid, v in rows.items()}
    if math.isinf(max_distance):
        return
    want = {r["pid"]: r for r in proximity.nearest_broadcast(
        pts, tdf, target_payload="city", metric="GREAT_CIRCLE",
        max_distance=max_distance).collect()}
    assert want[8]["nearest_dist"] is None  # beyond max_distance
    monkeypatch.setattr(joins, "EXPR_CAP", 0)
    monkeypatch.setattr(joins, "BROADCAST_CAP", 0)
    for payload in ("city", None):
        ring = joins.nearest_join(pts, tdf, target_payload=payload,
                                  metric="GREAT_CIRCLE",
                                  max_distance=max_distance)
        assert ring.columns == out.columns
        got = ring.collect()
        assert sorted(r["pid"] for r in got) == list(range(9))
        for r in got:
            w = want[r["pid"]]
            assert (r["nearest_x"], r["nearest_y"]) == (w["nearest_x"], w["nearest_y"])
            assert r["nearest_payload"] == (w["nearest_payload"] if payload else None)
            if w["nearest_dist"] is None:
                assert r["nearest_dist"] is None, r
            else:
                assert r["nearest_dist"] == pytest.approx(w["nearest_dist"], rel=1e-9)


def test_great_circle_bucket_wraps_antimeridian(spark):
    """Points at +-179.9 deg with targets across the antimeridian: the
    broadcast tier's STR tree search bounded by a finite max_distance
    equals the unbounded search cut at max_distance, and the expr
    tier."""
    rng = np.random.default_rng(8)
    n = 200
    plon = np.where(rng.random(n) < 0.5, 179.9, -179.9)
    plat = rng.uniform(-60, 60, n)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(plon, plat))],
        "pid long, lon double, lat double",
    )
    tlon = np.concatenate([rng.uniform(179.0, 180.0, 20),
                           rng.uniform(-180.0, -179.0, 20)])
    tlat = rng.uniform(-60, 60, 40)
    tv = [(float(x), float(y), float(i))
          for i, (x, y) in enumerate(zip(tlon, tlat))]
    tdf = spark.createDataFrame(tv, "lon double, lat double, city double")
    md = 200_000.0
    cols = ["nearest_dist", "nearest_x", "nearest_y", "nearest_payload"]

    def frame(df):
        return df.toPandas().set_index("pid").sort_index()

    pruned = frame(proximity.nearest_broadcast(
        pts, tdf, target_payload="city", metric="GREAT_CIRCLE",
        max_distance=md).select("pid", *cols))
    dense = frame(proximity.nearest_broadcast(
        pts, tdf, target_payload="city", metric="GREAT_CIRCLE")
        .select("pid", *cols))
    beyond = dense["nearest_dist"] > md
    dense.loc[beyond, cols] = np.nan
    assert 0 < beyond.sum() < n
    np.testing.assert_array_equal(pruned[cols].to_numpy(), dense[cols].to_numpy())
    # the nearest target of some in-range point lies across the line
    near = ~beyond
    assert (np.sign(pruned.loc[near, "nearest_x"])
            != np.sign(plon[near.to_numpy()])).any()
    expr = frame(joins.nearest_join(
        pts, tdf, target_payload="city", metric="GREAT_CIRCLE",
        max_distance=md)
        .select("pid", *cols))
    np.testing.assert_array_equal(expr["nearest_payload"], pruned["nearest_payload"])
    np.testing.assert_allclose(expr[cols[:3]], pruned[cols[:3]], rtol=1e-9)


def test_broadcast_keeps_caller_nan(spark):
    """On the broadcast tier (65 targets) only x/y reach Python: a NaN
    in the caller's float columns comes back NaN, not NULL."""
    rng = np.random.default_rng(4)
    tv = [(float(x), float(y), float(i))
          for i, (x, y) in enumerate(rng.uniform(-40, 40, (65, 2)))]
    tdf = spark.createDataFrame(tv, "lon double, lat double, city double")
    pts = spark.createDataFrame(
        [(0, 1.0, 2.0, float("nan")), (1, float("nan"), 2.0, 3.5)],
        "pid long, lon double, lat double, f double",
    )
    rows = {r["pid"]: r for r in
            joins.nearest_join(pts, tdf, target_payload="city").collect()}
    assert math.isnan(rows[0]["f"]) and math.isnan(rows[1]["lon"])
    assert rows[0]["nearest_payload"] is not None
    assert rows[1]["nearest_payload"] is None


def test_broadcast_plan_one_python_udf(spark, scattered):
    """The broadcast tier is one Arrow UDF returning a struct: one
    Python node holding one UDF call and no MapInPandas, so the search
    runs once per row however many nearest columns are read."""
    pdf, tdf = scattered[:2]
    out = proximity.nearest_broadcast(pdf, tdf, target_payload="value")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1 and "MapInPandas" not in plan
    assert plan.count("_near(") == 1
