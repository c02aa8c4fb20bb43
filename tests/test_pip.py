"""PIP join vs the numpy brute-force oracle (FIXTURES.md §2: the oracle is ray-cast
in NumPy, never the engine itself)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from engine import cells, joins, synth


def _poly_rings(polys):
    """{poly_id: (xs, ys)} of a (poly_id, ring) polygon frame."""
    return {
        int(r["poly_id"]): (
            np.array([v["lon"] for v in r["ring"]], dtype=np.float64),
            np.array([v["lat"] for v in r["ring"]], dtype=np.float64),
        )
        for r in polys.select("poly_id", "ring").collect()
    }


def _brute_force_pairs(points_pdf, rings):
    got = set()
    for pid, (xs, ys) in rings.items():
        inside = joins.np_point_in_polygon(
            points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy(), xs, ys
        )
        for img in points_pdf.loc[inside, "image_id"]:
            got.add((img, pid))
    return got


def test_pip_join_matches_brute_force(spark):
    images = synth.images_df(spark, 3000, hot_frac=0.3).select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    polys = synth.polygons_df(spark, p=25, hot_frac=0.3)
    out = joins.pip_join(images, polys)
    got = {(r["image_id"], r["poly_id"]) for r in out.collect()}
    rings = _poly_rings(polys)
    want = _brute_force_pairs(images.toPandas(), rings)
    assert got == want
    assert len(want) > 0  # fixture must actually exercise containment


def test_pip_join_shuffle_path_same_result(spark):
    images = synth.images_df(spark, 1500, hot_frac=0.5).select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    polys = synth.polygons_df(spark, p=12, hot_frac=0.4)
    a = {
        (r["image_id"], r["poly_id"])
        for r in joins.pip_join(images, polys, broadcast_cover=True).collect()
    }
    b = {
        (r["image_id"], r["poly_id"])
        for r in joins.pip_join(images, polys, broadcast_cover=False).collect()
    }
    assert a == b


def test_pip_multiring_matches_brute_force(spark):
    """pip_join_multiring (outer ring + holes, OSM outer/inner roles) vs the
    numpy even-odd multipolygon oracle: ellipse outers with rect holes."""
    images = synth.images_df(spark, 3000, hot_frac=0.3).select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    rng = np.random.default_rng(7)
    polys, py_rings = [], {}
    for i in range(8):
        clon, clat = rng.uniform(-150, 150), rng.uniform(-60, 60)
        rlon, rlat = 8.0 + rng.random() * 10, 6.0 + rng.random() * 8
        ang = np.sort(rng.uniform(0, 2 * np.pi, 9))
        ox, oy = clon + rlon * np.cos(ang), clat + rlat * np.sin(ang)
        hx0, hx1 = clon - rlon * 0.3, clon + rlon * 0.3
        hy0, hy1 = clat - rlat * 0.3, clat + rlat * 0.3
        outer = [{"lon": float(a), "lat": float(b)} for a, b in zip(ox, oy)]
        hole = [
            {"lon": hx0, "lat": hy0}, {"lon": hx1, "lat": hy0},
            {"lon": hx1, "lat": hy1}, {"lon": hx0, "lat": hy1},
        ]
        polys.append({
            "poly_id": i,
            "bbox": {"min": {"lon": float(ox.min()), "lat": float(oy.min())},
                     "max": {"lon": float(ox.max()), "lat": float(oy.max())}},
            "rings": [outer, hole],
        })
        py_rings[i] = [
            (ox, oy),
            (np.array([hx0, hx1, hx1, hx0]), np.array([hy0, hy0, hy1, hy1])),
        ]
    pdf = spark.createDataFrame(
        polys,
        schema="poly_id long, bbox struct<min:struct<lon:double,lat:double>,"
               "max:struct<lon:double,lat:double>>, "
               "rings array<array<struct<lon:double,lat:double>>>",
    )
    out = joins.pip_join_multiring(images, pdf, res_min=4, res_max=9)
    got = {(r["image_id"], r["poly_id"]) for r in out.collect()}
    pts = images.toPandas()
    want = set()
    holes_excluded = 0
    for pid, rings in py_rings.items():
        inside = joins.np_point_in_multipolygon(
            pts["lon"].to_numpy(), pts["lat"].to_numpy(), rings
        )
        outer_only = joins.np_point_in_polygon(
            pts["lon"].to_numpy(), pts["lat"].to_numpy(), rings[0][0], rings[0][1]
        )
        holes_excluded += int((outer_only & ~inside).sum())
        for img in pts.loc[inside, "image_id"]:
            want.add((img, pid))
    assert got == want
    assert len(want) > 0 and holes_excluded > 0  # holes must actually exclude


def test_polygon_cover_contains_all_inside_points(spark):
    """Cover must be a superset: every inside point's cell appears in the cover."""
    polys = synth.polygons_df(spark, p=10)
    cover = joins.polygon_cover(polys).toPandas()
    rings = _poly_rings(polys)
    rng = np.random.default_rng(7)
    for pid, (xs, ys) in rings.items():
        sub = cover[cover["poly_id"] == pid]
        assert len(sub) > 0
        res = int(sub["res"].iloc[0])
        lon = rng.uniform(xs.min(), xs.max(), 200)
        lat = rng.uniform(ys.min(), ys.max(), 200)
        inside = joins.np_point_in_polygon(lon, lat, xs, ys)
        cc = cells.np_grid_encode_lonlat(lon[inside], lat[inside], res)
        assert set(cc.tolist()) <= set(sub["cell"].tolist())


def test_tile_assign_matches_bounds(spark):
    images = synth.images_df(spark, 500).select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    out = joins.tile_assign(images, 9).toPandas()
    n = 2**9
    want_x = np.clip(np.floor((out["lon"] + 180) / 360 * n), 0, n - 1).astype(np.int64)
    want_y = np.clip(np.floor((out["lat"] + 90) / 180 * n), 0, n - 1).astype(np.int64)
    assert (out["tile_id"] == 9 * 2**50 + want_x * 2**25 + want_y).all()


def test_cell_to_tile_consistent_with_tile_assign(spark):
    images = synth.images_df(spark, 500).select(
        "image_id",
        F.col("phash"),
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    via_point = joins.tile_assign(images, 8).select("image_id", "tile_id")
    via_cell = images.select(
        "image_id",
        joins.cell_to_tile(
            cells.grid_encode_phash(F.col("phash"), 11), 11, 8
        ).alias("tile_id2"),
    )
    j = via_point.join(via_cell, "image_id")
    assert j.filter(F.col("tile_id") != F.col("tile_id2")).count() == 0


def test_pip_join_nonconvex_exact(spark):
    """pip_join must be exact for ANY simple polygon: the cover's cell
    classification and cull hold for concave rings. Fixture: a star
    (concave) and an L-shape, with points placed in the concavities (where
    a convex treatment would differ)."""
    import math

    star_xs, star_ys = [], []
    for i in range(10):
        r = 20.0 if i % 2 == 0 else 7.0
        a = math.pi * i / 5.0
        star_xs.append(10.0 + r * math.cos(a))
        star_ys.append(5.0 + r * math.sin(a))
    lshape = ([-60.0, -40.0, -40.0, -50.0, -50.0, -60.0],
              [-30.0, -30.0, -25.0, -25.0, -10.0, -10.0])
    rings = {0: (np.array(star_xs), np.array(star_ys)),
             1: (np.array(lshape[0]), np.array(lshape[1]))}

    rows = []
    for pid, (xs, ys) in rings.items():
        for r in [
            {"poly_id": pid,
             "bbox": {"min": {"lon": float(xs.min()), "lat": float(ys.min())},
                      "max": {"lon": float(xs.max()), "lat": float(ys.max())}},
             "ring": [{"lon": float(a), "lat": float(b)} for a, b in zip(xs, ys)]}
        ]:
            rows.append(r)
    polys = spark.createDataFrame(
        rows,
        schema="poly_id long, bbox struct<min:struct<lon:double,lat:double>,"
               "max:struct<lon:double,lat:double>>, "
               "ring array<struct<lon:double,lat:double>>",
    )
    # deterministic grid of probe points incl. concavity interiors
    pts = [(f"p{i}", -70.0 + (i % 40) * 2.7, -35.0 + (i // 40) * 2.3)
           for i in range(800)]
    points = spark.createDataFrame(pts, "image_id string, lon double, lat double")
    out = joins.pip_join(points, polys)
    got = {(r["image_id"], r["poly_id"]) for r in out.collect()}
    want = _brute_force_pairs(points.toPandas(), rings)
    assert got == want
    assert len(want) > 10  # star + L interiors actually hit


def _multiring_fixture_rows(n_polys=8, seed=7, concave=False):
    """Ellipse-ish (or concave star) outers with a rect hole each; returns
    (spark rows, {pid: [(xs, ys), ...]}) for the numpy oracle."""
    import math

    rng = np.random.default_rng(seed)
    rows, py_rings = [], {}
    for i in range(n_polys):
        clon, clat = rng.uniform(-150, 150), rng.uniform(-60, 60)
        rlon, rlat = 8.0 + rng.random() * 10, 6.0 + rng.random() * 8
        if concave:
            # 10-point star: alternating outer/inner radius -> concave outer
            ang = np.array([math.pi * j / 5.0 for j in range(10)])
            rr = np.where(np.arange(10) % 2 == 0, 1.0, 0.35)
            ox = clon + rlon * rr * np.cos(ang)
            oy = clat + rlat * rr * np.sin(ang)
        else:
            ang = np.sort(rng.uniform(0, 2 * np.pi, 9))
            ox, oy = clon + rlon * np.cos(ang), clat + rlat * np.sin(ang)
        hx0, hx1 = clon - rlon * 0.15, clon + rlon * 0.15
        hy0, hy1 = clat - rlat * 0.15, clat + rlat * 0.15
        outer = [{"lon": float(a), "lat": float(b)} for a, b in zip(ox, oy)]
        hole = [
            {"lon": hx0, "lat": hy0}, {"lon": hx1, "lat": hy0},
            {"lon": hx1, "lat": hy1}, {"lon": hx0, "lat": hy1},
        ]
        rows.append({
            "poly_id": i,
            "bbox": {"min": {"lon": float(ox.min()), "lat": float(oy.min())},
                     "max": {"lon": float(ox.max()), "lat": float(oy.max())}},
            "rings": [outer, hole],
        })
        py_rings[i] = [
            (ox, oy),
            (np.array([hx0, hx1, hx1, hx0]), np.array([hy0, hy0, hy1, hy1])),
        ]
    return rows, py_rings


_MULTIRING_SCHEMA = (
    "poly_id long, bbox struct<min:struct<lon:double,lat:double>,"
    "max:struct<lon:double,lat:double>>, "
    "rings array<array<struct<lon:double,lat:double>>>"
)


def _multiring_want(pts, py_rings):
    want = set()
    for pid, rings in py_rings.items():
        inside = joins.np_point_in_multipolygon(
            pts["lon"].to_numpy(), pts["lat"].to_numpy(), rings
        )
        for img in pts.loc[inside, "image_id"]:
            want.add((img, pid))
    return want


def test_pip_multiring_concave_outer(spark):
    """Concave OUTER rings (the real OSM relation case): a cell whose 4
    corners lie inside a concave ring need not lie inside it. Verified
    against the numpy even-odd multipolygon oracle, with probe points that
    land in the concavities (inside the outer bbox, outside the star)."""
    rows, py_rings = _multiring_fixture_rows(n_polys=6, seed=11, concave=True)
    pdf = spark.createDataFrame(rows, schema=_MULTIRING_SCHEMA)
    pts = [(f"p{i}", -170.0 + (i % 80) * 4.3, -75.0 + (i // 80) * 3.7)
           for i in range(3200)]
    points = spark.createDataFrame(pts, "image_id string, lon double, lat double")
    out = joins.pip_join_multiring(points, pdf, res_min=4, res_max=9)
    got = {(r["image_id"], r["poly_id"]) for r in out.collect()}
    ppdf = points.toPandas()
    want = _multiring_want(ppdf, py_rings)
    assert got == want
    # the fixture must actually exercise the concavity: some points inside the
    # outer ring's CONVEX HULL bbox-cover but outside the star
    in_hull_not_star = 0
    for pid, rings in py_rings.items():
        ox, oy = rings[0]
        bbox_in = (
            (ppdf["lon"] >= ox.min()) & (ppdf["lon"] <= ox.max())
            & (ppdf["lat"] >= oy.min()) & (ppdf["lat"] <= oy.max())
        ).to_numpy()
        star_in = joins.np_point_in_polygon(
            ppdf["lon"].to_numpy(), ppdf["lat"].to_numpy(), ox, oy
        )
        in_hull_not_star += int((bbox_in & ~star_in).sum())
    assert in_hull_not_star > 0


def test_pip_multiring_distributed_path(spark, tmp_path):
    """Polygon sets larger than driver_side_limit must take the distributed
    cover path: no .collect() of the polygons, no LocalRelation anywhere in
    the plan (the round-2 version force-collected + force-broadcast the
    polygon side). Same answers as the numpy oracle."""
    rows, py_rings = _multiring_fixture_rows(n_polys=8, seed=7)
    # polygons come from parquet so any LocalRelation in the plan could only
    # be a driver-collected cover
    ppath = str(tmp_path / "mpolys.parquet")
    spark.createDataFrame(rows, schema=_MULTIRING_SCHEMA).write.parquet(ppath)
    pdf = spark.read.parquet(ppath)
    images = synth.images_df(spark, 2000, hot_frac=0.3).select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    out = joins.pip_join_multiring(
        images, pdf, res_min=4, res_max=9, driver_side_limit=3
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan
    got = {(r["image_id"], r["poly_id"]) for r in out.collect()}
    want = _multiring_want(images.toPandas(), py_rings)
    assert got == want
    assert len(want) > 0


def test_cover_tmp_dirs_cleaned(spark):
    """_materialize_if_large tracks its temp dirs; cleanup_cover_dirs removes
    them (and is registered atexit) — no orphan dir per pip_join call."""
    import os

    rows, _ = _multiring_fixture_rows(n_polys=4, seed=3)
    pdf = spark.createDataFrame(rows, schema=_MULTIRING_SCHEMA)
    cover = joins.multiring_cover(pdf, driver_side_limit=2)  # forces materialize
    cover.count()
    assert len(joins._COVER_TMP_DIRS) >= 1
    dirs = list(joins._COVER_TMP_DIRS)
    assert all(os.path.isdir(d) for d in dirs)
    removed = joins.cleanup_cover_dirs()
    assert removed >= 1
    assert not any(os.path.isdir(d) for d in dirs)
    assert joins._COVER_TMP_DIRS == []


def test_pip_join_matches_brute_force_arrow_off(arrow_off):
    test_pip_join_matches_brute_force(arrow_off)


def test_pip_multiring_matches_brute_force_arrow_off(arrow_off):
    test_pip_multiring_matches_brute_force(arrow_off)


def _grid_lines(lo, hi, span, origin, res):
    """Every res-`res` cell boundary coordinate in [lo, hi]."""
    step = span / 2**res
    k = np.arange(np.floor((lo - origin) / step), np.ceil((hi - origin) / step) + 1)
    return origin + k * step


def test_pip_adversarial_points_match_oracles(spark):
    """Soundness of the clipped-edge cover at the places its classification
    could slip: points exactly on cell boundaries and corners at every used
    resolution, on ring vertices and on horizontal edges; ring edges lying
    exactly on cell boundaries; a bbox touching the grid border, with points
    at lon 180 and lat 90, and one crossing it, with clamped points beyond
    it; edges a rounding error left of and below the lon/lat 0 grid lines,
    with points between (the encoder rounds them into the cell past the
    line); a concave star and an outer ring with a hole. pip_join and
    pip_join_multiring must return the numpy oracles' pairs."""
    import math

    c9 = 360.0 / 2**9  # res-9 cell width in lon; 180 / 2**9 in lat
    star = (
        np.array([10.0 + (20.0 if i % 2 == 0 else 7.0) * math.cos(math.pi * i / 5)
                  for i in range(10)]),
        np.array([5.0 + (20.0 if i % 2 == 0 else 7.0) * math.sin(math.pi * i / 5)
                  for i in range(10)]),
    )
    # edges on res-9 (and coarser) cell boundaries
    x0, x1, y0, y1 = -180 + 96 * c9, -180 + 112 * c9, -90 + 320 * c9 / 2, -90 + 336 * c9 / 2
    on_grid = (np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]))
    border = (np.array([170.0, 180.0, 180.0, 170.0]), np.array([80.0, 80.0, 90.0, 90.0]))
    beyond = (np.array([175.0, 185.0, 185.0, 175.0]), np.array([60.0, 60.0, 92.0, 92.0]))
    tiny = (np.array([-5e-18, 3.0, 3.0, -5e-18]), np.array([-5e-18, -5e-18, 3.0, 3.0]))
    # horizontal top and bottom edges, big enough for a coarse level
    trapezoid = (np.array([-150.0, -60.0, -80.0, -130.0]),
                 np.array([-70.0, -70.0, -20.0, -20.0]))
    singles = {0: star, 1: on_grid, 2: border, 3: trapezoid, 4: beyond, 5: tiny}
    hole = (np.array([-110.0, -100.0, -100.0, -110.0]),
            np.array([-50.0, -50.0, -40.0, -40.0]))
    star_hole = (np.array([8.0, 12.0, 12.0, 8.0]), np.array([3.0, 3.0, 7.0, 7.0]))
    multis = {0: [star, star_hole], 1: [on_grid], 2: [border], 3: [trapezoid, hole],
              4: [beyond], 5: [tiny]}

    rng = np.random.default_rng(5)
    px, py = [rng.uniform(-180, 180, 1500)], [rng.uniform(-90, 90, 1500)]
    for xs, ys in list(singles.values()) + [hole, star_hole]:
        px.append(xs)  # ring vertices
        py.append(ys)
        for i in range(len(xs)):  # points on horizontal edges
            j = i - 1
            if ys[i] == ys[j]:
                t = rng.uniform(0, 1, 5)
                px.append(xs[j] + t * (xs[i] - xs[j]))
                py.append(np.full(5, ys[i]))
        lo_x, hi_x, lo_y, hi_y = xs.min() - 1, xs.max() + 1, ys.min() - 1, ys.max() + 1
        for res in (4, 5, 7, 9):  # cell sides and corners at every candidate level
            gx = _grid_lines(lo_x, hi_x, 360.0, -180.0, res)[:40]
            gy = _grid_lines(lo_y, hi_y, 180.0, -90.0, res)[:40]
            px += [np.repeat(gx, len(gy)), gx, rng.uniform(lo_x, hi_x, len(gy))]
            py += [np.tile(gy, len(gx)), rng.uniform(lo_y, hi_y, len(gx)), gy]
    px += [np.full(20, 180.0), np.linspace(168.0, 181.0, 20), np.array([180.0])]
    py += [np.linspace(78.0, 90.0, 20), np.full(20, 90.0), np.array([90.0])]
    px += [np.array([181.0, 186.0, 178.0, 178.0, 186.0])]  # clamped into border cells
    py += [np.array([82.0, 82.0, 91.0, 95.0, 95.0])]
    px += [np.array([-1e-17, 1.5, -1e-17, 1e-18])]  # between `tiny`'s edges and 0
    py += [np.array([1.5, -1e-17, -1e-17, 1e-18])]
    px, py = np.concatenate(px), np.concatenate(py)
    pdf = pd.DataFrame({"image_id": np.arange(len(px)), "lon": px, "lat": py})
    points = spark.createDataFrame(pdf, "image_id long, lon double, lat double")

    def bbox(rings):
        xs = np.concatenate([r[0] for r in rings])
        ys = np.concatenate([r[1] for r in rings])
        return {"min": {"lon": float(xs.min()), "lat": float(ys.min())},
                "max": {"lon": float(xs.max()), "lat": float(ys.max())}}

    def verts(xs, ys):
        return [{"lon": float(a), "lat": float(b)} for a, b in zip(xs, ys)]

    polys = spark.createDataFrame(
        [{"poly_id": pid, "bbox": bbox([r]), "ring": verts(*r)}
         for pid, r in singles.items()],
        schema="poly_id long, bbox struct<min:struct<lon:double,lat:double>,"
               "max:struct<lon:double,lat:double>>, "
               "ring array<struct<lon:double,lat:double>>",
    )
    mpolys = spark.createDataFrame(
        [{"poly_id": pid, "bbox": bbox(rs), "rings": [verts(*r) for r in rs]}
         for pid, rs in multis.items()],
        schema=_MULTIRING_SCHEMA,
    )
    cover = joins.build_pip_cover(polys, res_min=4, res_max=9)
    assert len(cover._pip_used_res) >= 3
    got = {(r["image_id"], r["poly_id"])
           for r in joins.pip_join(points, polys, res_min=4, res_max=9).collect()}
    assert got == _brute_force_pairs(pdf, singles)
    got_m = {(r["image_id"], r["poly_id"]) for r in
             joins.pip_join_multiring(points, mpolys, res_min=4, res_max=9).collect()}
    want_m = _multiring_want(pdf, multis)
    assert got_m == want_m
    # the fixture reaches every polygon, the border cells and both holes
    assert {pid for _, pid in want_m} == set(multis)
    assert ((pdf["lon"] == 180.0) | (pdf["lat"] == 90.0)).sum() > 30
    clamped = {(i, 4) for i in pdf.index[(pdf["lon"] > 180.0) | (pdf["lat"] > 90.0)]}
    assert clamped & want_m and clamped - want_m
    near_zero = {(i, 5) for i in pdf.index[(pdf["lon"].abs() < 1e-16)
                                           | (pdf["lat"].abs() < 1e-16)]}
    assert near_zero & want_m and near_zero - want_m
    assert len(_brute_force_pairs(pdf, singles) - want_m) > 0
