"""polygon_overlay_join: exact pair kernel known-cases, rect fuzz vs interval
arithmetic, cover-blocking parity vs the quarantined brute force, holes,
containment, and the convex fast-accept."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.overlay import (
    _blocked_pairs,
    np_rings_relate,
    np_segments_intersect_any,
    overlay_brute_force,
    polygon_overlay_join,
)


def rect(x0, y0, x1, y1):
    xs = np.array([x0, x1, x1, x0], dtype=np.float64)
    ys = np.array([y0, y0, y1, y1], dtype=np.float64)
    return (xs, ys)


def ring_dicts(xs, ys):
    return [{"lon": float(x), "lat": float(y)} for x, y in zip(xs, ys)]


def poly_row(pid, rings):
    xs = np.concatenate([r[0] for r in rings])
    ys = np.concatenate([r[1] for r in rings])
    return {
        "poly_id": pid,
        "bbox": {
            "min": {"lon": float(xs.min()), "lat": float(ys.min())},
            "max": {"lon": float(xs.max()), "lat": float(ys.max())},
        },
        "rings": [ring_dicts(*r) for r in rings],
    }


POLY_SCHEMA = (
    "poly_id long, bbox struct<min:struct<lon:double,lat:double>,"
    "max:struct<lon:double,lat:double>>, "
    "rings array<array<struct<lon:double,lat:double>>>"
)


def polys(spark, rows):
    return spark.createDataFrame(rows, schema=POLY_SCHEMA)


# ---------------------------------------------------------------------------
# pair kernel
# ---------------------------------------------------------------------------
class TestKernel:
    def test_disjoint(self):
        inter, cont = np_rings_relate([rect(0, 0, 1, 1)], [rect(2, 2, 3, 3)])
        assert (inter, cont) == (False, False)

    def test_overlap(self):
        inter, cont = np_rings_relate([rect(0, 0, 2, 2)], [rect(1, 1, 3, 3)])
        assert (inter, cont) == (True, False)

    def test_containment_without_edge_contact(self):
        inter, cont = np_rings_relate([rect(0, 0, 10, 10)], [rect(2, 2, 3, 3)])
        assert (inter, cont) == (True, True)
        # reversed: B contains A -> intersects but not a-contains-b
        inter, cont = np_rings_relate([rect(2, 2, 3, 3)], [rect(0, 0, 10, 10)])
        assert (inter, cont) == (True, False)

    def test_plus_sign_cross_no_vertices_inside(self):
        # tall thin rect x wide flat rect: boundaries cross, no vertex of
        # either is inside the other
        a = [rect(4, 0, 6, 10)]
        b = [rect(0, 4, 10, 6)]
        assert np_rings_relate(a, b) == (True, False)

    def test_edge_touch_counts_as_intersects(self):
        inter, cont = np_rings_relate([rect(0, 0, 1, 1)], [rect(1, 0, 2, 1)])
        assert (inter, cont) == (True, False)

    def test_corner_touch_counts(self):
        inter, _ = np_rings_relate([rect(0, 0, 1, 1)], [rect(1, 1, 2, 2)])
        assert inter

    def test_identical_rings(self):
        inter, cont = np_rings_relate([rect(0, 0, 1, 1)], [rect(0, 0, 1, 1)])
        assert inter and not cont  # boundary contact blocks strict contains

    def test_b_inside_a_hole_is_disjoint(self):
        a = [rect(0, 0, 10, 10), rect(2, 2, 8, 8)]  # annulus
        b = [rect(4, 4, 6, 6)]  # strictly inside the hole
        assert np_rings_relate(a, b) == (False, False)

    def test_b_spanning_a_hole_not_contained(self):
        a = [rect(0, 0, 10, 10), rect(4, 4, 6, 6)]
        b = [rect(3, 3, 7, 7)]  # covers the hole entirely; B's corners in A
        inter, cont = np_rings_relate(a, b)
        assert inter and not cont  # the hole pokes a void into B

    def test_contains_with_unrelated_hole(self):
        a = [rect(0, 0, 10, 10), rect(7, 7, 9, 9)]
        b = [rect(1, 1, 3, 3)]  # away from the hole
        assert np_rings_relate(a, b) == (True, True)

    def test_segments_collinear_overlap(self):
        a = [rect(0, 0, 2, 1)]
        b = [rect(1, 0, 3, 1)]  # shares part of the bottom edge line
        assert np_segments_intersect_any(a, b)

    def test_rect_fuzz_vs_interval_arithmetic(self):
        rng = np.random.default_rng(42)
        for _ in range(300):
            x0, y0 = rng.uniform(-50, 50, 2)
            w, h = rng.uniform(0.5, 30, 2)
            u0, v0 = rng.uniform(-50, 50, 2)
            w2, h2 = rng.uniform(0.5, 30, 2)
            want = (x0 <= u0 + w2 and u0 <= x0 + w
                    and y0 <= v0 + h2 and v0 <= y0 + h)
            got, _ = np_rings_relate(
                [rect(x0, y0, x0 + w, y0 + h)], [rect(u0, v0, u0 + w2, v0 + h2)]
            )
            assert got == want

    def test_convex_fuzz_vs_point_sampling(self):
        # independent (approximate) witness: dense point sampling can only
        # CONFIRM intersection; every sampled hit must be a kernel hit
        rng = np.random.default_rng(7)
        for _ in range(60):
            rings = []
            for _ in range(2):
                c = rng.uniform(-20, 20, 2)
                r = rng.uniform(1, 10, 2)
                ang = np.sort(rng.uniform(0, 2 * np.pi, rng.integers(5, 10)))
                rings.append((c[0] + r[0] * np.cos(ang), c[1] + r[1] * np.sin(ang)))
            inter, _ = np_rings_relate([rings[0]], [rings[1]])
            if not inter:
                # sample points of each, none may fall in the other
                from engine.joins import np_point_in_polygon

                for (xs, ys), (ox, oy) in ((rings[0], rings[1]), (rings[1], rings[0])):
                    t = rng.uniform(0, 1, (50, len(xs)))
                    t /= t.sum(axis=1, keepdims=True)  # convex combos
                    px, py = t @ xs, t @ ys
                    assert not np_point_in_polygon(px, py, ox, oy).any()


# ---------------------------------------------------------------------------
# operator vs brute force
# ---------------------------------------------------------------------------
def random_poly_rows(n, seed, lo=-60.0, hi=60.0, rmax=8.0):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        c = rng.uniform(lo, hi, 2)
        r = rng.uniform(0.5, rmax, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, int(rng.integers(5, 11))))
        xs, ys = c[0] + r[0] * np.cos(ang), c[1] + r[1] * np.sin(ang)
        rows.append(poly_row(i, [(xs, ys)]))
    return rows


def pairs_set(df):
    return {(r["a_id"], r["b_id"]) for r in df.collect()}


class TestOperator:
    def test_blocking_parity_vs_brute_force(self, spark):
        pa = polys(spark, random_poly_rows(30, seed=1))
        pb = polys(spark, random_poly_rows(40, seed=2))
        got = pairs_set(polygon_overlay_join(pa, pb, res_min=3, res_max=9))
        want = pairs_set(overlay_brute_force(pa, pb))
        assert got == want
        assert len(want) > 10  # non-trivial workload

    def test_contains_parity(self, spark):
        # big A polys, small B polys -> real containment pairs exist
        pa = polys(spark, random_poly_rows(15, seed=3, rmax=15.0))
        pb = polys(spark, random_poly_rows(60, seed=4, rmax=1.0))
        got = pairs_set(
            polygon_overlay_join(pa, pb, predicate="contains", res_min=3, res_max=9)
        )
        want = pairs_set(overlay_brute_force(pa, pb, predicate="contains"))
        assert got == want
        assert len(want) > 0

    def test_holes_parity(self, spark):
        rng = np.random.default_rng(11)
        rows_a = []
        for i in range(12):
            c = rng.uniform(-40, 40, 2)
            w, h = rng.uniform(6, 16, 2)
            outer = rect(c[0] - w, c[1] - h, c[0] + w, c[1] + h)
            hole = rect(c[0] - w / 3, c[1] - h / 3, c[0] + w / 3, c[1] + h / 3)
            rows_a.append(poly_row(i, [outer, hole]))
        pa = polys(spark, rows_a)
        pb = polys(spark, random_poly_rows(50, seed=12, rmax=3.0))
        got = pairs_set(polygon_overlay_join(pa, pb, res_min=3, res_max=9))
        want = pairs_set(overlay_brute_force(pa, pb))
        assert got == want
        # at least one B poly must sit inside some hole (disjoint despite
        # bbox overlap) for this test to mean anything
        assert len(want) > 5

    def test_convex_fast_accept_parity(self, spark):
        # rect inputs: pairs the fast accept proves must match the exact
        # kernel's answer (brute force), and the fast accept must fire
        rng = np.random.default_rng(21)
        rows_a, rows_b = [], []
        for i in range(20):
            x0, y0 = rng.uniform(-50, 30, 2)
            w, h = rng.uniform(10, 40, 2)
            rows_a.append(poly_row(i, [rect(x0, y0, x0 + w, y0 + h)]))
        for i in range(25):
            x0, y0 = rng.uniform(-50, 30, 2)
            w, h = rng.uniform(2, 10, 2)
            rows_b.append(poly_row(i, [rect(x0, y0, x0 + w, y0 + h)]))
        # single-ring frames (ring col)
        ra = [{**r, "ring": r["rings"][0]} for r in rows_a]
        rb = [{**r, "ring": r["rings"][0]} for r in rows_b]
        sch = ("poly_id long, bbox struct<min:struct<lon:double,lat:double>,"
               "max:struct<lon:double,lat:double>>, "
               "ring array<struct<lon:double,lat:double>>")
        pa = spark.createDataFrame([{k: r[k] for k in ("poly_id", "bbox", "ring")}
                                    for r in ra], schema=sch)
        pb = spark.createDataFrame([{k: r[k] for k in ("poly_id", "bbox", "ring")}
                                    for r in rb], schema=sch)
        fast = pairs_set(polygon_overlay_join(pa, pb, res_min=3, res_max=9))
        slow = pairs_set(overlay_brute_force(pa, pb))
        assert fast == slow
        assert len(fast) > 10
        accepted = _blocked_pairs(pa, pb, 3, 9, 256, True).filter("_accepted = 1")
        assert accepted.count() > 0

    def test_shuffled_cover_path(self, spark):
        pa = polys(spark, random_poly_rows(10, seed=31))
        pb = polys(spark, random_poly_rows(10, seed=32))
        got = pairs_set(polygon_overlay_join(
            pa, pb, broadcast_cover=False, broadcast_rings=False,
            res_min=3, res_max=9))
        want = pairs_set(overlay_brute_force(pa, pb))
        assert got == want

    def test_bad_predicate(self, spark):
        pa = polys(spark, random_poly_rows(2, seed=41))
        with pytest.raises(ValueError):
            polygon_overlay_join(pa, pa, predicate="touches")


# ---------------------------------------------------------------------------
# intersection AREA overlay (Sutherland-Hodgman vs convex zones)
# ---------------------------------------------------------------------------
class TestIntersectionArea:
    def test_clip_closed_forms(self):
        from engine.overlay import np_convex_clip, np_intersection_area

        # rect x rect overlap
        a, b = rect(0, 0, 4, 4), rect(2, 2, 6, 6)
        qx, qy = np_convex_clip(a[0].tolist(), a[1].tolist(),
                                b[0].tolist(), b[1].tolist())
        assert sorted(zip(qx, qy)) == [(2, 2), (2, 4), (4, 2), (4, 4)]
        assert np_intersection_area([a], b) == 4.0
        # clip orientation agnostic
        b_cw = (b[0][::-1].copy(), b[1][::-1].copy())
        assert np_intersection_area([a], b_cw) == 4.0
        # containment: small triangle in big square = triangle area
        tri = (np.array([1.0, 3.0, 1.0]), np.array([1.0, 1.0, 3.0]))
        assert np_intersection_area([tri], rect(0, 0, 4, 4)) == 2.0
        # disjoint
        assert np_intersection_area([rect(0, 0, 1, 1)], rect(5, 5, 6, 6)) == 0.0
        # slanted clip: radius-1 diamond centered on the unit square's
        # center passes EXACTLY through all 4 square corners -> overlap is
        # the whole square (boundary-inclusive half-planes)
        dia = (np.array([1.5, 0.5, -0.5, 0.5]), np.array([0.5, 1.5, 0.5, -0.5]))
        assert np_intersection_area([rect(0, 0, 1, 1)], dia) == 1.0
        # radius 0.75 cuts each square corner by a legs-0.25 triangle:
        # overlap = 1 - 4 * 0.25^2/2 = 0.875
        dia2 = (np.array([1.25, 0.5, -0.25, 0.5]),
                np.array([0.5, 1.25, 0.5, -0.25]))
        got = np_intersection_area([rect(0, 0, 1, 1)], dia2)
        assert abs(got - 0.875) < 1e-12
        # donut A x rect B over the hole: outer [0,4]^2, hole [1,3]^2,
        # B = [0,4]x[0,2] -> 8 - 4 = ... hole∩B = [1,3]x[1,2] area 2 -> 6
        donut = [rect(0, 0, 4, 4), rect(1, 1, 3, 3)]
        assert np_intersection_area(donut, rect(0, 0, 4, 2)[0:2]) == 6.0

    def test_join_matches_brute_kernel(self, spark):
        from engine.overlay import (
            np_intersection_area, polygon_area_overlay_join, _ring_arrays,
        )

        rng = np.random.default_rng(13)
        import math

        a_rows, b_rows = [], []
        for pid in range(14):
            cx, cy = rng.uniform(-20, 20, 2)
            angs = np.sort(rng.uniform(0, 2 * np.pi, 7))
            r = rng.uniform(2, 8, 7)
            a_rows.append(poly_row(
                pid, [(cx + r * np.cos(angs), cy + r * np.sin(angs))]
            ))
        for pid in range(8):
            cx, cy = rng.uniform(-20, 20, 2)
            rad = rng.uniform(2, 9)
            rot = rng.uniform(0, 2 * np.pi)
            k = int(rng.integers(3, 8))
            angs = rot + np.arange(k) * 2 * np.pi / k  # regular = convex
            b_rows.append(poly_row(
                100 + pid, [(cx + rad * np.cos(angs), cy + rad * np.sin(angs))]
            ))
        A, B = polys(spark, a_rows), polys(spark, b_rows)
        got = {
            (r["a_id"], r["b_id"]): r["area"]
            for r in polygon_area_overlay_join(A, B).collect()
        }
        want = {}
        for ar in a_rows:
            for br in b_rows:
                area = np_intersection_area(
                    _ring_arrays(ar["rings"]), _ring_arrays(br["rings"])[0]
                )
                if area > 0:
                    want[(ar["poly_id"], br["poly_id"])] = area
        assert set(got) == set(want)
        for k_, v in want.items():
            assert abs(got[k_] - v) < 1e-9, k_
        assert len(want) > 5  # the draw produced real overlaps

    def test_join_area_closed_form(self, spark):
        from engine.overlay import polygon_area_overlay_join

        A = polys(spark, [
            poly_row(1, [rect(0, 0, 4, 4), rect(1, 1, 3, 3)]),  # donut
            poly_row(2, [rect(10, 10, 12, 12)]),
        ])
        B = polys(spark, [
            poly_row(50, [rect(0, 0, 4, 2)]),   # half over the donut
            poly_row(51, [rect(20, 20, 21, 21)]),  # disjoint from all
        ])
        got = {
            (r["a_id"], r["b_id"]): r["area"]
            for r in polygon_area_overlay_join(A, B).collect()
        }
        assert got == {(1, 50): 6.0}


class TestDomainGuard:
    def test_fully_out_of_range_bbox_raises(self, spark):
        # entirely past lat 90: clamped cover degenerates and the SAT cull
        # silently drops it (missed pairs) — the cover must refuse instead
        A = polys(spark, [poly_row(1, [rect(100, 300, 102, 302)])])
        B = polys(spark, [poly_row(50, [rect(100, 300, 102, 302)])])
        with pytest.raises(Exception, match="grid domain"):
            polygon_overlay_join(A, B).count()

    def test_edge_crossing_bbox_clamps_soundly(self, spark):
        # bbox CROSSING lat 90 stays legal: the clamped cover still finds the
        # in-domain overlap (the flagship's synth polygons cross the edge)
        A = polys(spark, [poly_row(1, [rect(10, 85, 20, 95)])])
        B = polys(spark, [poly_row(50, [rect(15, 88, 25, 89)])])
        got = polygon_overlay_join(A, B).collect()
        assert {(r["a_id"], r["b_id"]) for r in got} == {(1, 50)}

    def test_full_domain_bbox_ok(self, spark):
        # exactly the domain corners must stay legal
        A = polys(spark, [poly_row(1, [rect(-180, -90, 180, 90)])])
        B = polys(spark, [poly_row(50, [rect(0, 0, 1, 1)])])
        got = polygon_overlay_join(A, B).collect()
        assert {(r["a_id"], r["b_id"]) for r in got} == {(1, 50)}
