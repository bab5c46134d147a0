"""STR-packed R-tree (plans/rtree.py) and the pip_join assignment that
ray-casts its candidate pairs (operators/pip.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark.plans.rtree import STRtree


def _rand_boxes(n, seed):
    rng = np.random.RandomState(seed)
    x0 = rng.uniform(-170, 160, n)
    y0 = rng.uniform(-80, 70, n)
    return np.stack([x0, y0, x0 + rng.uniform(0.5, 15, n),
                     y0 + rng.uniform(0.5, 12, n)], axis=1)


class TestSTRtree:
    def test_structure_invariants(self):
        boxes = _rand_boxes(500, 3)
        t = STRtree(boxes, fanout=8)
        # every level's node bbox contains all its children's bboxes;
        # child ranges PARTITION the level below (contiguous per node,
        # order permuted by the upper packing passes)
        below = boxes[t.entry_order]
        for bb, cs, cc in t.levels:
            covered = np.concatenate(
                [np.arange(cs[i], cs[i] + cc[i]) for i in range(len(bb))])
            assert sorted(covered.tolist()) == list(range(len(below)))
            for i in range(len(bb)):
                ch = below[cs[i]: cs[i] + cc[i]]
                assert (ch[:, 0] >= bb[i, 0]).all() and (ch[:, 1] >= bb[i, 1]).all()
                assert (ch[:, 2] <= bb[i, 2]).all() and (ch[:, 3] <= bb[i, 3]).all()
            below = bb
        assert len(t.levels[-1][0]) == 1  # single root

    def test_query_matches_bruteforce(self):
        boxes = _rand_boxes(300, 7)
        t = STRtree(boxes, fanout=16)
        rng = np.random.RandomState(11)
        px = rng.uniform(-180, 180, 2000)
        py = rng.uniform(-85, 85, 2000)
        pts, ents = t.query_pairs(px, py)
        got = set(zip(pts.tolist(), ents.tolist()))
        want = set()
        for j in range(len(boxes)):
            m = ((px >= boxes[j, 0]) & (px <= boxes[j, 2])
                 & (py >= boxes[j, 1]) & (py <= boxes[j, 3]))
            want |= {(int(i), j) for i in np.flatnonzero(m)}
        assert got == want
        # sorted by (point, entry)
        assert (np.diff(pts) >= 0).all()

    def test_single_and_tiny(self):
        t = STRtree(np.array([[0.0, 0.0, 1.0, 1.0]]))
        pts, ents = t.query_pairs(np.array([0.5, 2.0]), np.array([0.5, 0.5]))
        assert pts.tolist() == [0] and ents.tolist() == [0]
        with pytest.raises(ValueError):
            STRtree(np.empty((0, 4)))
        with pytest.raises(ValueError):
            STRtree(np.array([[0.0, 0.0, 1.0, 1.0]]), fanout=1)

    def test_empty_query(self):
        t = STRtree(_rand_boxes(10, 1))
        pts, ents = t.query_pairs(np.array([]), np.array([]))
        assert len(pts) == 0 and len(ents) == 0


def _dense_nearest(px, py, tx, ty, pay, metric, max_distance):
    """Reference: the whole (points, targets) distance matrix, targets
    in (payload, x, y) order, first argmin; NaN / -1 beyond
    ``max_distance`` or where the distance is not finite."""
    from xarray_spatial_spark.operators.proximity import _distance

    order = np.lexsort((ty, tx, pay))
    with np.errstate(invalid="ignore"):
        d = _distance(px[:, None], py[:, None], tx[order][None, :],
                      ty[order][None, :], metric)
    idx = np.argmin(d, axis=1)
    dist = d[np.arange(len(px)), idx]
    beyond = ~np.isfinite(dist) | (dist > max_distance)
    dist[beyond] = np.nan
    idx[beyond] = -1
    return dist, idx


class TestNearest:
    @pytest.mark.parametrize("metric", ["EUCLIDEAN", "MANHATTAN", "GREAT_CIRCLE"])
    @pytest.mark.parametrize("n_targets", [1, 65, 2000])
    @pytest.mark.parametrize("case", ["spread", "ties", "antimeridian"])
    def test_matches_dense_argmin_bit_for_bit(self, metric, n_targets, case):
        """The branch-and-bound STR search returns the dense argmin's
        distance (as raw bits) and winner, ties to the smallest
        (payload, x, y) included; non-finite points and points beyond
        ``max_distance`` get (nan, -1)."""
        from xarray_spatial_spark.operators.proximity import TargetSet

        rng = np.random.default_rng(n_targets)
        tx, ty = rng.uniform(-180, 180, n_targets), rng.uniform(-75, 75, n_targets)
        px, py = rng.uniform(-180, 180, 1500), rng.uniform(-80, 80, 1500)
        if case == "ties":  # snapped to a 2-degree lattice: many equal distances
            tx, ty, px, py = (np.round(a / 2) * 2 for a in (tx, ty, px, py))
        if case == "antimeridian":
            tx = np.where(rng.random(n_targets) < 0.5, rng.uniform(178, 180, n_targets),
                          rng.uniform(-180, -178, n_targets))
            px = np.where(rng.random(1500) < 0.5, 179.9, -179.9)
        pay = rng.integers(0, 1 + n_targets // 3, n_targets).astype(np.float64)
        px[:5] = [np.nan, np.inf, -np.inf, 0.0, np.nan]
        py[:5] = [0.0, 0.0, 10.0, np.inf, np.nan]
        t = TargetSet(tx, ty, pay)
        max_distance = np.inf
        for bounded in (False, True):
            got_d, got_i = t.nearest(px, py, metric, max_distance)
            want_d, want_i = _dense_nearest(px, py, tx, ty, pay, metric, max_distance)
            np.testing.assert_array_equal(got_d.view(np.int64), want_d.view(np.int64))
            np.testing.assert_array_equal(got_i, want_i)
            assert (got_i[:5] == -1).all()
            if bounded:  # both regimes
                assert 0 < (got_i == -1).sum() - 5 < len(px) - 5
            max_distance = float(np.nanmedian(got_d))

    def test_descent_prunes(self):
        """An unbounded search over 5000 targets computes far fewer than
        points x targets exact distances."""
        from xarray_spatial_spark.operators.proximity import (
            _distance, _lower_bound, _node_terms, _point_terms,
        )

        rng = np.random.default_rng(2)
        tx, ty = rng.uniform(-50, 50, 5000), rng.uniform(-50, 50, 5000)
        px, py = rng.uniform(-50, 50, 400), rng.uniform(-50, 50, 400)
        tree = STRtree(np.stack([tx, ty, tx, ty], axis=1))
        n_exact = []

        def exact(p, j):
            n_exact.append(len(p))
            return _distance(px[p], py[p], tx[j], ty[j], "EUCLIDEAN")

        pt = _point_terms(px, py, "EUCLIDEAN")
        nodes = [_node_terms(bb, "EUCLIDEAN") for bb, _, _ in tree.levels]
        d, _ = tree.nearest(400, exact,
                            lambda p, li, n: _lower_bound([c[p] for c in pt],
                                                          [c[n] for c in nodes[li]],
                                                          "EUCLIDEAN"))
        want = _distance(px[:, None], py[:, None], tx, ty, "EUCLIDEAN").min(axis=1)
        np.testing.assert_array_equal(d, want)
        assert sum(n_exact) < 400 * 5000 / 20


def _box_lower_bound(px, py, box, metric):
    """The box lower bound as it was computed per (point, box) pair
    before its point and node terms were hoisted: the reference the
    hoisted bound must match bit for bit."""
    from xarray_spatial_spark.functions.geo import EARTH_RADIUS

    x0, y0, x1, y1 = box.T
    m = metric.upper()
    if m != "GREAT_CIRCLE":
        dx = np.maximum(np.maximum(x0 - px, px - x1), 0.0)
        dy = np.maximum(np.maximum(y0 - py, py - y1), 0.0)
        return np.sqrt(dx * dx + dy * dy) if m == "EUCLIDEAN" else dx + dy
    lat = np.radians(py)
    lat0, lat1 = np.radians(y0), np.radians(y1)
    dlat = np.maximum(np.maximum(lat0 - lat, lat - lat1), 0.0)
    inside = np.mod(px - x0, 360.0) <= x1 - x0
    gap = np.minimum(np.mod(x0 - px, 360.0), np.mod(px - x1, 360.0))
    dlon = np.radians(np.where(inside, 0.0, np.maximum(gap - 1e-9, 0.0)))
    cos_band = np.minimum(np.cos(lat0), np.cos(lat1))
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat) * cos_band * np.sin(dlon / 2.0) ** 2
    valid = (np.abs(py) <= 90.0) & (y0 >= -90.0) & (y1 <= 90.0)
    a = np.where(valid, a * (1.0 - 1e-12), 0.0)
    return EARTH_RADIUS * 2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


@pytest.mark.parametrize("metric", ["EUCLIDEAN", "MANHATTAN", "GREAT_CIRCLE"])
def test_hoisted_lower_bound_matches_per_pair_bound_bit_for_bit(metric):
    """Per-point and per-node terms, gathered per pair, give the same
    bits as the per-pair formula: on random boxes, boxes touching and
    crossing +-90 deg latitude, boxes spanning the antimeridian, and
    points beyond +-90 deg."""
    from xarray_spatial_spark.operators.proximity import (
        _lower_bound, _node_terms, _point_terms,
    )

    rng = np.random.default_rng(9)
    n_boxes, n_pts, n_pairs = 3000, 2000, 50000
    x0 = rng.uniform(-180, 180, n_boxes)
    y0 = rng.uniform(-95, 95, n_boxes)
    x1 = x0 + rng.exponential(20, n_boxes)  # some past +180
    y1 = y0 + rng.exponential(10, n_boxes)
    y0[:200], y1[200:400], y0[400:450], y1[400:450] = -90.0, 90.0, -90.0, 90.0
    x0[450:600], x1[450:600] = rng.uniform(170, 180, 150), rng.uniform(180, 190, 150)
    x0[600:700], x1[600:700] = -180.0, 180.0
    box = np.stack([x0, y0, x1, y1], axis=1)
    px, py = rng.uniform(-180, 180, n_pts), rng.uniform(-92, 92, n_pts)
    py[:100] = rng.choice([-90.0, 90.0], 100)
    px[100:300] = rng.choice([-180.0, 180.0, 179.999, -179.999], 200)
    p, n = rng.integers(0, n_pts, n_pairs), rng.integers(0, n_boxes, n_pairs)
    pt = [c[p] for c in _point_terms(px, py, metric)]
    got = _lower_bound(pt, [c[n] for c in _node_terms(box, metric)], metric)
    want = _box_lower_bound(px[p], py[p], box[n], metric)
    np.testing.assert_array_equal(got.view(np.int64), want.view(np.int64))
    assert (want > 0).any() and (want == 0).any()


def _star(rng, n, cx, cy, r):
    """Simple polygon of ``n`` vertices around (cx, cy), radius <= r."""
    th = np.sort(rng.uniform(0, 2 * np.pi, n))
    rr = r * rng.uniform(0.3, 1.0, n)
    return np.stack([cx + rr * np.cos(th), cy + rr * np.sin(th)], axis=1)


class TestPipIndexDispatch:
    def test_polygon_set_rejects_removed_grid_index(self):
        from xarray_spatial_spark.operators.pip import PolygonSet

        polys = {0: np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]])}
        assert PolygonSet(polys, index="rtree").rtree.n_entries == 1
        for index in ("grid", "auto"):
            with pytest.raises(ValueError, match="grid index was removed"):
                PolygonSet(polys, index=index)

    def test_overlapping_mixed_polygons_match_ray_cast(self, spark):
        from xarray_spatial_spark.operators.pip import _ray_cast, pip_join

        # 120 overlapping polygons of 3 to ~300 vertices, one closed
        # ring (last vertex == first) and one zero-area polygon
        rng = np.random.RandomState(9)
        polys = {}
        for z in range(120):
            n = 3 + (z * 37) % 300 if z % 10 else 3
            polys[z] = _star(rng, n, *rng.uniform(-8, 8, 2), rng.uniform(1, 10))
        polys[5] = np.concatenate([polys[5], polys[5][:1]])
        polys[6] = np.array([[0.0, 1.0], [5.0, 1.0], [9.0, 1.0]])
        px = rng.uniform(-20, 20, 3000)
        py = rng.uniform(-20, 20, 3000)
        px[0], py[0] = polys[5][0]  # on a vertex
        df = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
            "id long, lon double, lat double")
        got = {r["id"]: r["zone"] for r in pip_join(df, polys).collect()}
        inside = np.array([_ray_cast(px, py, polys[z]) for z in sorted(polys)])
        want = np.where(inside.any(axis=0), inside.argmax(axis=0), np.nan)
        got = np.array([np.nan if got[i] is None else got[i] for i in range(len(px))])
        np.testing.assert_array_equal(got, want)
        assert (inside.sum(axis=0) >= 2).sum() > 500  # overlaps decide

    def test_rtree_first_match_ascending_zone(self, spark):
        from xarray_spatial_spark.operators.pip import pip_join

        # 70 overlapping squares sharing a corner region: the LOWEST
        # zone id containing the point must win
        polys = {z: np.array([[0.0, 0.0], [10.0 + z * 0.01, 0.0],
                              [10.0 + z * 0.01, 10.0], [0.0, 10.0]])
                 for z in range(70)}
        df = spark.createDataFrame([(0, 5.0, 5.0)], "id long, lon double, lat double")
        out = pip_join(df, polys).collect()
        assert out[0]["zone"] == 0.0
