"""Parity tests: engine numpy kernels vs the reference's scalar functions.

Expected values are computed by importing the reference modules directly
(pure functions, no network) and comparing on deterministic random inputs.
"""

from __future__ import annotations

import numpy as np
import pytest

from building2osm_spark import geom
from tests.conftest import import_reference

rng = np.random.default_rng(42)


def random_points(n, lon0=10.7, lat0=59.9, spread=0.01):
    return np.stack(
        [lon0 + rng.uniform(-spread, spread, n), lat0 + rng.uniform(-spread, spread, n)],
        axis=1,
    )


def random_ring(n=6, lon0=10.7, lat0=59.9, radius_m=20.0):
    """Convex-ish closed ring around a centre (deterministic via module rng)."""
    angles = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = radius_m * rng.uniform(0.6, 1.4, n)
    dlat = r / 111320.0
    dlon = r / (111320.0 * np.cos(np.radians(lat0)))
    ring = np.stack([lon0 + dlon * np.cos(angles), lat0 + dlat * np.sin(angles)], axis=1)
    ring = np.round(ring, 7)
    return np.vstack([ring, ring[:1]])


class TestDistanceBearing:
    def test_distance_matches_reference(self):
        ref_b2o = import_reference("building2osm")
        p = random_points(50)
        q = random_points(50)
        got = geom.distance(p, q)
        for i in range(50):
            want = ref_b2o.distance(tuple(p[i]), tuple(q[i]))
            assert got[i] == pytest.approx(want, abs=1e-12)

    def test_bearing_matches_reference(self):
        ref_b2o = import_reference("building2osm")
        p = random_points(50)
        q = random_points(50)
        got = geom.bearing(p, q)
        for i in range(50):
            want = ref_b2o.bearing(tuple(p[i]), tuple(q[i]))
            assert got[i] == pytest.approx(want, abs=1e-10)

    def test_bearing_turn_matches_reference(self):
        ref_b2o = import_reference("building2osm")
        a, b, c = random_points(30), random_points(30), random_points(30)
        got = geom.bearing_turn(a, b, c)
        for i in range(30):
            want = ref_b2o.bearing_turn(tuple(a[i]), tuple(b[i]), tuple(c[i]))
            assert got[i] == pytest.approx(want, abs=1e-10)

    def test_coordinate_offset_matches_reference(self):
        ref_merge = import_reference("building_merge")
        p = random_points(20)
        for d in (-20.0, 5.0, 100.0):
            got = geom.coordinate_offset(p, d)
            for i in range(20):
                want = ref_merge.coordinate_offset(tuple(p[i]), d)
                assert got[i, 0] == pytest.approx(want[0], abs=1e-13)
                assert got[i, 1] == pytest.approx(want[1], abs=1e-13)


class TestAreaCentre:
    def test_area_b2osm_radius(self):
        ref_b2o = import_reference("building2osm")
        for _ in range(20):
            ring = random_ring(n=int(rng.integers(4, 12)))
            want = ref_b2o.polygon_area([tuple(p) for p in ring])
            assert geom.polygon_area(ring) == want

    def test_area_merge_radius(self):
        ref_merge = import_reference("building_merge")
        for _ in range(20):
            ring = random_ring(n=int(rng.integers(4, 12)))
            want = ref_merge.polygon_area([tuple(p) for p in ring])
            assert geom.polygon_area_merge(ring) == want

    def test_area_unclosed_is_zero(self):
        ring = random_ring()[:-1]
        assert geom.polygon_area(ring) == 0

    def test_centre(self):
        ref_b2o = import_reference("building2osm")
        for _ in range(10):
            ring = random_ring()
            want = ref_b2o.polygon_centre([tuple(p) for p in ring])
            got = geom.polygon_centre(ring)
            assert got[0] == pytest.approx(want[0], abs=1e-13)
            assert got[1] == pytest.approx(want[1], abs=1e-13)

    def test_centroid_det_weighted(self):
        ref_merge = import_reference("building_merge")
        for _ in range(10):
            ring = random_ring()
            want = ref_merge.polygon_centroid([tuple(p) for p in ring])
            got = geom.polygon_centroid(ring)
            assert got[0] == pytest.approx(want[0], rel=1e-12)
            assert got[1] == pytest.approx(want[1], rel=1e-12)

    def test_centroid_hole_aware(self):
        ref_split = import_reference("municipality_split")
        outer = np.array([[0.0, 0.0], [0.0, 5.0], [5.0, 5.0], [5.0, 0.0], [0.0, 0.0]])
        hole = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]])
        want = ref_split.centroid_polygon([[tuple(p) for p in outer], [tuple(p) for p in hole]])
        got = geom.centroid_polygon([outer, hole])
        assert got == pytest.approx(want, rel=1e-12)

    def test_centroid_reference_unit_case(self):
        # tests/test_geometri_func.py:31-34
        tri = np.array([[0.0, 0.0], [3.0, 6.0], [6.0, 0.0], [0.0, 0.0]])
        assert geom.centroid_polygon([tri]) == pytest.approx((3.0, 2.0))


class TestLineDistanceHausdorff:
    def test_line_distance_matches_reference(self):
        ref_b2o = import_reference("building2osm")
        for _ in range(50):
            s1, s2, p = random_points(1)[0], random_points(1)[0], random_points(1)[0]
            want = ref_b2o.line_distance(tuple(s1), tuple(s2), tuple(p))
            got = geom.line_distance(s1, s2, p)
            assert got == pytest.approx(want, abs=1e-9)

    def test_line_distance_zero_length_segment(self):
        ref_b2o = import_reference("building2osm")
        s = np.array([10.7, 59.9])
        p = np.array([10.7005, 59.9005])
        want = ref_b2o.line_distance(tuple(s), tuple(s), tuple(p))
        assert geom.line_distance(s, s, p) == pytest.approx(want, abs=1e-9)

    def test_hausdorff_matches_reference(self):
        ref_merge = import_reference("building_merge")
        for _ in range(25):
            r1 = random_ring(n=int(rng.integers(4, 10)))
            r2 = random_ring(n=int(rng.integers(4, 10)), lon0=10.7002, lat0=59.9001)
            want = ref_merge.hausdorff_distance(
                [tuple(p) for p in r1], [tuple(p) for p in r2]
            )
            got = geom.hausdorff_distance(r1, r2)
            assert got == pytest.approx(want, abs=1e-9)

    def test_hausdorff_symmetric(self):
        r1, r2 = random_ring(), random_ring(lon0=10.7003)
        assert geom.hausdorff_distance(r1, r2) == pytest.approx(
            geom.hausdorff_distance(r2, r1), abs=1e-12
        )


class TestPIP:
    # the four reference unit tests, tests/test_geometri_func.py:4-28
    def test_inside_cw_triangle(self):
        tri = np.array([[1.0, 1.0], [2.0, 3.0], [3.0, 1.0], [1.0, 1.0]])
        assert geom.points_in_polygon(np.array([[2.0, 2.0]]), [tri])[0]

    def test_inside_ccw_triangle(self):
        tri = np.array([[3.0, 1.0], [2.0, 3.0], [1.0, 1.0], [3.0, 1.0]])
        assert geom.points_in_polygon(np.array([[2.0, 2.0]]), [tri])[0]

    def test_outside(self):
        tri = np.array([[1.0, 1.0], [2.0, 3.0], [3.0, 1.0], [1.0, 1.0]])
        assert not geom.points_in_polygon(np.array([[1.0, 3.0]]), [tri])[0]

    def test_point_in_hole_is_outside(self):
        outer = np.array([[0.0, 0.0], [0.0, 5.0], [5.0, 5.0], [5.0, 0.0], [0.0, 0.0]])
        hole = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]])
        assert not geom.points_in_polygon(np.array([[2.0, 2.0]]), [outer, hole])[0]

    def test_vectorized_matches_reference(self):
        ref_split = import_reference("municipality_split")
        ring = random_ring(n=8)
        pts = random_points(200, spread=0.02)
        got = geom.points_in_ring(pts, ring)
        ring_t = [tuple(p) for p in ring]
        for i in range(200):
            assert got[i] == ref_split.inside_linear_ring(tuple(pts[i]), ring_t)

    def test_multipolygon(self):
        t1 = np.array([[1.0, 1.0], [2.0, 3.0], [3.0, 1.0], [1.0, 1.0]])
        t2 = np.array([[11.0, 1.0], [12.0, 3.0], [13.0, 1.0], [11.0, 1.0]])
        pts = np.array([[2.0, 2.0], [12.0, 2.0], [7.0, 2.0]])
        got = geom.points_in_multipolygon(pts, [[t1], [t2]])
        assert got.tolist() == [True, True, False]

    def test_orientation_invariance_property(self):
        # PIP result must not depend on ring orientation (SURVEY.md §5.4)
        for _ in range(10):
            ring = random_ring(n=int(rng.integers(4, 10)))
            pts = random_points(50, spread=0.02)
            fwd = geom.points_in_ring(pts, ring)
            rev = geom.points_in_ring(pts, ring[::-1])
            assert np.array_equal(fwd, rev)


class TestSimplify:
    def test_rdp_matches_reference(self):
        ref_b2o = import_reference("building2osm")
        for _ in range(20):
            ring = random_ring(n=int(rng.integers(6, 20)))
            for eps in (0.05, 0.5, 2.0):
                want = ref_b2o.simplify_polygon([tuple(p) for p in ring], eps)
                got = geom.simplify_ring(ring, eps)
                assert [tuple(p) for p in got] == want

    def test_rdp_idempotent(self):
        ring = random_ring(n=15)
        once = geom.simplify_ring(ring, 0.5)
        twice = geom.simplify_ring(once, 0.5)
        assert np.array_equal(once, twice)

    def test_rdp_max_deviation_bound(self):
        # every dropped vertex is within eps of the kept chain
        ring = random_ring(n=20)
        eps = 1.0
        kept = geom.simplify_ring(ring, eps)
        for p in ring:
            d = geom.line_distance_matrix(p[None, :], kept[:-1], kept[1:]).min()
            assert d <= eps + 1e-9 or any(np.array_equal(p, k) for k in kept)


class TestParse:
    def test_dedupe_consecutive_matches_reference(self):
        ref_b2o = import_reference("building2osm")
        coords = "10.1 59.1 10.2 59.2 10.2 59.2 10.3 59.3 10.2 59.2 10.4 59.4"
        want = ref_b2o.parse_polygon(coords)
        vals = np.array([float(v) for v in coords.split(" ")]).reshape(-1, 2)
        got = geom.dedupe_consecutive(vals)
        assert [tuple(p) for p in got] == want


class TestHausdorffBatch:
    def test_batch_is_bit_identical_to_scalar(self):
        # round 6: the conflate kernel scores whole Arrow batches through
        # hausdorff_distance_batch; padding must not perturb any value
        rng = np.random.default_rng(7)
        rings = []
        for _ in range(80):
            n = int(rng.integers(2, 40))
            base = np.array([10.7 + rng.uniform(-0.1, 0.1), 59.9 + rng.uniform(-0.05, 0.05)])
            pts = base + rng.normal(0, 1e-4, (n, 2))
            rings.append(np.vstack([pts, pts[0]]))
        rings[3] = rings[3][:1]   # degenerate: < 2 vertices -> 0.0
        rings[7] = rings[7][:2]
        pairs = [(rings[i], rings[(i * 7 + 3) % 80]) for i in range(80)]
        ref = np.array([geom.hausdorff_distance(a, b) for a, b in pairs])
        xy1 = np.concatenate([a for a, _ in pairs])
        n1 = np.array([len(a) for a, _ in pairs])
        xy2 = np.concatenate([b for _, b in pairs])
        n2 = np.array([len(b) for _, b in pairs])
        # tiny target_bytes forces many mixed-size chunks (the hard case)
        got = geom.hausdorff_distance_batch(xy1, n1, xy2, n2, target_bytes=1 << 12)
        assert np.array_equal(ref, got)

    def test_empty_batch(self):
        out = geom.hausdorff_distance_batch(
            np.empty((0, 2)), np.empty(0, np.int64),
            np.empty((0, 2)), np.empty(0, np.int64),
        )
        assert out.size == 0
