"""Polyline (linestring) operators: cell cover + points-within-radius join.

OSM ways are polylines (the reference's way geometries,
/root/reference/.../osmdata/ — this engine re-grounds them over the graft's
planar anchor space), and the canonical curation query over the geotagged
image corpus is "images within d of a road/route". The join discipline
matches knn_join/pip_join: the point side is the fact table and is touched
once (one cell encode, no explode, no shuffle when the line cover
broadcasts); ALL expansion happens on the line side.

Cover construction is Column-only (no Python workers):

  lines --(posexplode vertices)--> segments (A, B)
        --(sequence-explode ~len/cell sample points along AB)-->
        --(2D sequence-explode a (2k+1)^2 neighbor block per sample)-->
        distinct (line_id, cell)

Soundness: with sample step <= cell size s, every cell the segment traverses
is within 1 cell (Chebyshev) of some sample point's cell; dilating by
k = 1 + ceil(radius/s) therefore covers every cell within `radius` of the
segment. Default s = max(1, radius) keeps k = 2 (a 5x5 block per sample).

The exact refine is point-to-segment distance. arithmetic='double' is the
production path; arithmetic='int_exact' computes the comparison in pure
int64 rationals — exact and engine-portable when coords are integers with
|coord| < ~2^15 and r^2 * |seg|^2 < 2^62 (the DuckDB oracle twin runs the
identical integer expressions, so the registry row is hash-stable by
construction, per the repo's oracle determinism rules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_IY_SHIFT = 2**31  # local planar cell packing: cell = ix * 2^31 + iy


def _cell(x: Column, y: Column, s: float) -> Column:
    return (
        F.floor(x / F.lit(float(s))).cast("long") * F.lit(_IY_SHIFT)
        + F.floor(y / F.lit(float(s))).cast("long")
    )


def line_segments(lines: DataFrame, id_col: str = "line_id",
                  pts_col: str = "pts") -> DataFrame:
    """(line_id, pts: array<struct<x,y>>) -> one row per consecutive segment
    (line_id, seg_idx, ax, ay, bx, by)."""
    seg = lines.select(
        F.col(id_col).alias("line_id"),
        F.posexplode(F.slice(F.col(pts_col), 1, F.size(pts_col) - 1)).alias(
            "seg_idx", "_a"
        ),
        F.col(pts_col).alias("_pts"),
    )
    return seg.select(
        "line_id",
        "seg_idx",
        F.col("_a.x").cast("double").alias("ax"),
        F.col("_a.y").cast("double").alias("ay"),
        F.element_at(F.col("_pts"), F.col("seg_idx") + 2)["x"].cast("double").alias("bx"),
        F.element_at(F.col("_pts"), F.col("seg_idx") + 2)["y"].cast("double").alias("by"),
    )


def line_cover(segs: DataFrame, radius: float, cell_size: float | None = None,
               keep_segments: bool = False) -> DataFrame:
    """Distinct (line_id[, seg_idx, ax..by], cell) cells within `radius` of
    each segment (superset; exact refine happens at join time). Column-only.
    """
    if radius <= 0:
        raise ValueError("radius must be > 0")
    s = float(cell_size) if cell_size is not None else max(1.0, float(radius))
    k = 1 + int(-(-radius // s))  # 1 + ceil(radius / s)

    n_steps = F.greatest(
        F.lit(1),
        F.ceil(
            F.greatest(F.abs(F.col("bx") - F.col("ax")),
                       F.abs(F.col("by") - F.col("ay"))) / F.lit(s)
        ).cast("int"),
    )
    t = F.col("_i").cast("double") / F.col("_n").cast("double")
    px = F.col("ax") + t * (F.col("bx") - F.col("ax"))
    py = F.col("ay") + t * (F.col("by") - F.col("ay"))
    sampled = (
        segs.withColumn("_n", n_steps)
        .withColumn("_i", F.explode(F.sequence(F.lit(0), F.col("_n"))))
        .withColumn("_sx", px)
        .withColumn("_sy", py)
    )
    dil = (
        sampled.withColumn("_dx", F.explode(F.sequence(F.lit(-k), F.lit(k))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-k), F.lit(k))))
        .withColumn(
            "cell",
            (F.floor(F.col("_sx") / F.lit(s)).cast("long") + F.col("_dx"))
            * F.lit(_IY_SHIFT)
            + F.floor(F.col("_sy") / F.lit(s)).cast("long")
            + F.col("_dy"),
        )
    )
    keys = (["line_id", "seg_idx", "ax", "ay", "bx", "by"]
            if keep_segments else ["line_id"])
    return dil.select(*keys, "cell").distinct()


def _d2_le_r2_double(px, py, ax, ay, bx, by, r: float) -> Column:
    """Point-to-segment distance^2 <= r^2, double arithmetic (production)."""
    vx, vy = bx - ax, by - ay
    wx, wy = px - ax, py - ay
    t_num = wx * vx + wy * vy
    t_den = vx * vx + vy * vy
    t = F.when(t_den == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_num / t_den))
    )
    dx = px - (ax + t * vx)
    dy = py - (ay + t * vy)
    return dx * dx + dy * dy <= F.lit(float(r) * float(r))


def _d2_le_r2_int(px, py, ax, ay, bx, by, r2: int) -> Column:
    """Exact integer-rational point-to-segment comparison (coords integral):

      t_num = (P-A).(B-A), t_den = |B-A|^2
      t_num <= 0      -> |P-A|^2            <= r^2
      t_num >= t_den  -> |P-B|^2            <= r^2
      else            -> |P-A|^2 * t_den - t_num^2 <= r^2 * t_den

    All int64; caller owns the overflow budget (|coords| < 2^15 keeps every
    product under 2^62). Identical expressions run in the DuckDB twin.
    """
    L = lambda c: c.cast("long")  # noqa: E731
    px, py, ax, ay, bx, by = L(px), L(py), L(ax), L(ay), L(bx), L(by)
    vx, vy = bx - ax, by - ay
    wx, wy = px - ax, py - ay
    ux, uy = px - bx, py - by
    t_num = wx * vx + wy * vy
    t_den = vx * vx + vy * vy
    d2a = wx * wx + wy * wy
    d2b = ux * ux + uy * uy
    return (
        F.when((t_den == 0) | (t_num <= 0), d2a <= F.lit(int(r2)))
        .when(t_num >= t_den, d2b <= F.lit(int(r2)))
        .otherwise(d2a * t_den - t_num * t_num <= F.lit(int(r2)) * t_den)
    )


def line_radius_join(
    points: DataFrame,
    lines: DataFrame,
    radius: float,
    cell_size: float | None = None,
    point_id: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
    line_id: str = "line_id",
    pts_col: str = "pts",
    arithmetic: str = "double",
    broadcast_cover: bool = True,
) -> DataFrame:
    """Distinct (point_id, line_id) pairs where the point lies within
    `radius` of the polyline (planar). points: (point_id, x, y); lines:
    (line_id, pts: array<struct<x,y>>).

    arithmetic='double' | 'int_exact' (see _d2_le_r2_int for the exact-mode
    contract). The point side is scanned once and never exploded; the line
    cover is the broadcast side by default."""
    if arithmetic not in ("double", "int_exact"):
        raise ValueError(f"unknown arithmetic {arithmetic!r}")
    s = float(cell_size) if cell_size is not None else max(1.0, float(radius))

    segs = line_segments(lines, id_col=line_id, pts_col=pts_col)
    cover = line_cover(segs, radius, cell_size=s, keep_segments=True)
    if broadcast_cover:
        cover = F.broadcast(cover)

    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col(x_col).cast("double").alias("_px"),
        F.col(y_col).cast("double").alias("_py"),
    ).withColumn("cell", _cell(F.col("_px"), F.col("_py"), s))

    cand = p.join(cover, "cell")
    if arithmetic == "double":
        pred = _d2_le_r2_double(
            F.col("_px"), F.col("_py"), F.col("ax"), F.col("ay"),
            F.col("bx"), F.col("by"), radius,
        )
    else:
        r2 = int(round(radius * radius))
        if abs(r2 - radius * radius) > 0:
            raise ValueError("int_exact needs an integer radius^2")
        pred = _d2_le_r2_int(
            F.col("_px"), F.col("_py"), F.col("ax"), F.col("ay"),
            F.col("bx"), F.col("by"), r2,
        )
    return (
        cand.filter(pred)
        .select("point_id", F.col("line_id"))
        .distinct()
    )


def line_radius_brute_force(
    points: DataFrame,
    lines: DataFrame,
    radius: float,
    point_id: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
    line_id: str = "line_id",
    pts_col: str = "pts",
    arithmetic: str = "double",
) -> DataFrame:
    """Quarantined O(|P| x |segments|) twin: cross join + the same distance
    predicate, no cover. For tests and the DuckDB oracle shape."""
    segs = line_segments(lines, id_col=line_id, pts_col=pts_col)
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col(x_col).cast("double").alias("_px"),
        F.col(y_col).cast("double").alias("_py"),
    )
    cand = p.crossJoin(F.broadcast(segs))
    if arithmetic == "double":
        pred = _d2_le_r2_double(
            F.col("_px"), F.col("_py"), F.col("ax"), F.col("ay"),
            F.col("bx"), F.col("by"), radius,
        )
    else:
        pred = _d2_le_r2_int(
            F.col("_px"), F.col("_py"), F.col("ax"), F.col("ay"),
            F.col("bx"), F.col("by"), int(round(radius * radius)),
        )
    return cand.filter(pred).select("point_id", "line_id").distinct()


def line_length(lines: DataFrame, id_col: str = "line_id",
                pts_col: str = "pts") -> DataFrame:
    """Per-line planar length (sum of segment lengths) — Column-only via
    aggregate over zipped consecutive vertices."""
    segs = line_segments(lines, id_col=id_col, pts_col=pts_col)
    d = F.sqrt(
        (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax"))
        + (F.col("by") - F.col("ay")) * (F.col("by") - F.col("ay"))
    )
    return segs.groupBy("line_id").agg(F.sum(d).alias("length"))


def _orient(px, py, qx, qy, rx, ry) -> Column:
    """Signed orientation of r relative to directed segment p->q (the classic
    cross-product test). Exact when coordinates are integers-in-doubles
    within 2^26 (products stay exact); otherwise deterministic IEEE."""
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def segments_intersect_expr(ax, ay, bx, by, cx, cy, dx, dy) -> Column:
    """Boolean Column: closed segment ab intersects closed segment cd
    (proper crossing, endpoint touch, or collinear overlap) — the standard
    orientation + on-segment test, all Column algebra."""
    o1 = _orient(ax, ay, bx, by, cx, cy)
    o2 = _orient(ax, ay, bx, by, dx, dy)
    o3 = _orient(cx, cy, dx, dy, ax, ay)
    o4 = _orient(cx, cy, dx, dy, bx, by)

    def between(px, py, qx, qy, rx, ry):
        # r within the bbox of pq (used only when collinear)
        return (
            (F.least(px, qx) <= rx) & (rx <= F.greatest(px, qx))
            & (F.least(py, qy) <= ry) & (ry <= F.greatest(py, qy))
        )

    proper = (
        (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0)))
        & (((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0)))
    )
    touch = (
        ((o1 == 0) & between(ax, ay, bx, by, cx, cy))
        | ((o2 == 0) & between(ax, ay, bx, by, dx, dy))
        | ((o3 == 0) & between(cx, cy, dx, dy, ax, ay))
        | ((o4 == 0) & between(cx, cy, dx, dy, bx, by))
    )
    return proper | touch


def line_intersection_join(
    lines_a: DataFrame,
    lines_b: DataFrame,
    cell_size: float = 64.0,
    id_a: str = "line_id",
    id_b: str = "line_id",
    pts_col: str = "pts",
) -> DataFrame:
    """All (a_id, b_id) polyline pairs that INTERSECT (any segment pair
    crossing, touching, or collinearly overlapping), with the crossing
    count: (a_id, b_id, n_seg_pairs) — the network-crossing join (road x
    rail, route x boundary, cable x pipeline).

    Plan: segments explode (line_segments), each segment emits its BBOX's
    grid cells (pure sequence/transform HOFs, fan-out bounded by segment
    extent / cell_size), candidate segment pairs meet in shared cells and
    survive only in the min shared cell of their bbox INTERSECTION (the
    dedup-free ownership rule: each qualifying segment pair counted exactly
    once, no distinct over pairs), then the exact orientation test refines.
    One equi-join + one hash agg; never a cartesian. Choose cell_size near
    the typical segment extent. A SELF-join (lines_a is lines_b) emits each
    unordered pair in both orientations plus the trivial (id, id) rows —
    filter a_id < b_id at the call site (the bench does)."""
    sa = line_segments(lines_a, id_col=id_a, pts_col=pts_col).select(
        F.col("line_id").alias("a_id"), F.col("seg_idx").alias("a_seg"),
        F.col("ax").alias("aax"), F.col("ay").alias("aay"),
        F.col("bx").alias("abx"), F.col("by").alias("aby"),
    )
    sb = line_segments(lines_b, id_col=id_b, pts_col=pts_col).select(
        F.col("line_id").alias("b_id"), F.col("seg_idx").alias("b_seg"),
        F.col("ax").alias("bax"), F.col("ay").alias("bay"),
        F.col("bx").alias("bbx"), F.col("by").alias("bby"),
    )
    s = float(cell_size)

    def bbox_cells(x0, y0, x1, y1):
        cx0 = F.floor(F.least(x0, x1) / s).cast("long")
        cx1 = F.floor(F.greatest(x0, x1) / s).cast("long")
        cy0 = F.floor(F.least(y0, y1) / s).cast("long")
        cy1 = F.floor(F.greatest(y0, y1) / s).cast("long")
        return F.flatten(
            F.transform(
                F.sequence(cx0, cx1),
                lambda cx: F.transform(
                    F.sequence(cy0, cy1),
                    lambda cy: F.concat_ws(":", cx, cy),
                ),
            )
        )

    ea = sa.withColumn(
        "cell",
        F.explode(bbox_cells(F.col("aax"), F.col("aay"), F.col("abx"), F.col("aby"))),
    )
    eb = sb.withColumn(
        "cell",
        F.explode(bbox_cells(F.col("bax"), F.col("bay"), F.col("bbx"), F.col("bby"))),
    )
    j = ea.join(eb, "cell")
    # min shared cell of the bbox intersection (non-empty for candidates
    # whose bboxes overlap; pairs with disjoint bboxes cannot intersect)
    ix0 = F.greatest(
        F.least("aax", "abx"), F.least("bax", "bbx")
    )
    iy0 = F.greatest(
        F.least("aay", "aby"), F.least("bay", "bby")
    )
    ix1 = F.least(F.greatest("aax", "abx"), F.greatest("bax", "bbx"))
    iy1 = F.least(F.greatest("aay", "aby"), F.greatest("bay", "bby"))
    own = F.concat_ws(
        ":", F.floor(ix0 / s).cast("long"), F.floor(iy0 / s).cast("long")
    )
    hit = segments_intersect_expr(
        F.col("aax"), F.col("aay"), F.col("abx"), F.col("aby"),
        F.col("bax"), F.col("bay"), F.col("bbx"), F.col("bby"),
    )
    pairs = (
        j.filter((ix0 <= ix1) & (iy0 <= iy1))
        .filter(F.col("cell") == own)
        .filter(hit)
    )
    return pairs.groupBy("a_id", "b_id").agg(
        F.count("*").alias("n_seg_pairs")
    )


def dissolve_segments(
    segs: DataFrame,
    cls_col: str | None = None,
    scale: float = 1000.0,
    seg_id: str = "seg_id",
    method: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Polyline network dissolve (the line side of ArcGIS Dissolve / road-
    network preprocessing): segments sharing an endpoint — after snapping
    endpoints to a 1/scale tolerance grid — and the same class merge into
    one network component. Returns (membership, summary):

      membership: (seg_id, comp) — component id per segment (the
        component's minimum packed endpoint key: deterministic);
      summary: per (comp, cls): n_segs, length_e6 (sum of per-segment
        FLOOR(1e6 * euclidean length) — exact int64, order-independent),
        n_nodes (distinct snapped endpoints), n_odd (odd-degree nodes —
        0 = closed loop(s) / Eulerian, 2 = one simple open path end to
        end), is_path, is_loop.

    Plan: endpoints quantize by half-up rounding to the snap grid; each
    segment contributes one (u, v) edge; components via engine.graph
    connected_components (O(log n) star rounds — the routable-network
    'largest component' cut at scale); degrees are one endpoint hash agg.
    Domain guard: |snapped coord| < 2^20 grid cells and class id in
    [0, 2^21) so the packed node key (cls, qx, qy) stays int64 — raised
    loudly, the engine's guard discipline.

    Ordered vertex assembly is deliberately NOT done here: for simple
    paths compose with the pointer-doubling ordering machinery
    (engine.terrain.stream_links is the raster-side template); branching
    components have no single vertex order.

    method: 'tiles' (the 'auto' default) labels via engine.graph.
    tile_local_components — the snapped endpoint coordinates ARE the
    anchors, so the measured contour-linking fast path (3.08x at 4M
    segments) applies verbatim; 'cc' keeps the generic alternating-star
    CC. Labels identical either way (component min packed key)."""
    from engine.graph import connected_components, tile_local_components

    off, kbits = 1 << 20, 21
    cls = (
        F.col(cls_col).cast("long") if cls_col is not None
        else F.lit(0).cast("long")
    )
    q = lambda c: F.floor(c.cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast("long")  # noqa: E731
    base = segs.select(
        F.col(seg_id).alias("_sid"),
        cls.alias("_cls"),
        q(F.col("x1")).alias("qx1"), q(F.col("y1")).alias("qy1"),
        q(F.col("x2")).alias("qx2"), q(F.col("y2")).alias("qy2"),
        F.sqrt(
            (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
            + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
        ).alias("_len"),
    )
    guard = (
        (F.abs(F.col("qx1")) < off) & (F.abs(F.col("qy1")) < off)
        & (F.abs(F.col("qx2")) < off) & (F.abs(F.col("qy2")) < off)
        & (F.col("_cls") >= 0) & (F.col("_cls") < (1 << 21))
    )
    def node(qx, qy):
        # the domain guard is woven INTO the key expression (cells.
        # pack_feature_id discipline) so Catalyst cannot prune it away
        packed = (
            F.col("_cls") * F.lit(1 << (2 * kbits))
            + (qx + off) * F.lit(1 << kbits) + (qy + off)
        )
        return F.when(guard, packed).otherwise(
            F.raise_error(F.lit(
                "dissolve_segments: snapped coordinate beyond 2^20 grid "
                "cells or class outside [0, 2^21) — rescale inputs"
            ))
        )

    edges = base.select(
        "_sid", "_cls", "_len", "qx1", "qy1",
        node(F.col("qx1"), F.col("qy1")).alias("u"),
        node(F.col("qx2"), F.col("qy2")).alias("v"),
    )
    if method not in ("auto", "tiles", "cc"):
        raise ValueError(f"unknown method {method!r}")
    if method in ("auto", "tiles"):
        comp = tile_local_components(
            edges.select(
                "u", "v",
                # anchors: snapped first-endpoint grid coords, shifted
                # non-negative (shiftright on negatives would scatter tiles)
                (F.col("qx1") + F.lit(off)).alias("ax"),
                (F.col("qy1") + F.lit(off)).alias("ay"),
            ),
        )
    else:
        nodes = edges.select(F.col("u").alias("id")).unionByName(
            edges.select(F.col("v").alias("id"))
        ).distinct()
        comp = connected_components(
            edges.select("u", "v"), "u", "v", nodes=nodes, id_col="id"
        )
    memb = edges.join(comp, edges["u"] == comp["id"]).select(
        F.col("_sid").alias(seg_id), F.col("comp").alias("comp"),
        "_cls", "_len",
    )
    # node degrees: count segment-endpoint incidences per snapped node
    # (a zero-length segment contributes 2 to its single node's degree —
    # consistent with the python oracle and Euler counting)
    ends = edges.select(F.col("u").alias("nid")).unionByName(
        edges.select(F.col("v").alias("nid"))
    )
    deg = ends.groupBy("nid").agg(F.count("*").alias("deg"))
    node_comp = deg.join(comp, deg["nid"] == comp["id"]).select(
        "comp", "deg"
    )
    node_sum = node_comp.groupBy("comp").agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.pmod(F.col("deg"), 2)).alias("n_odd"),
    )
    seg_sum = memb.groupBy("comp", F.col("_cls").alias("cls")).agg(
        F.count("*").alias("n_segs"),
        F.sum(F.floor(F.col("_len") * F.lit(1e6)).cast("long"))
        .alias("length_e6"),
    )
    summary = seg_sum.join(node_sum, "comp").select(
        "comp", "cls", "n_segs", "length_e6", "n_nodes", "n_odd",
        (F.col("n_odd") == 2).alias("is_path"),
        (F.col("n_odd") == 0).alias("is_loop"),
    )
    return memb.select(seg_id, "comp"), summary


def validate_rings(
    polys: DataFrame,
    id_col: str = "poly_id",
    ring_col: str = "ring",
) -> DataFrame:
    """Ring validity check (the self-intersection core of ST_IsValid): a
    simple ring's segments may meet ONLY at consecutive endpoints — any
    other contact (a crossing, a touch, a collinear overlap, a vertex
    landing on a non-adjacent segment) makes the polygon invalid. Rings
    are array<struct<x, y>> (open form — the closing edge last->first is
    implied, matching the engine's polygon convention); per polygon the
    n*(n-1)/2 NON-ADJACENT segment pairs (adjacency wraps around the
    closing edge) are tested with the exact orientation/on-segment
    predicate `segments_intersect_expr` — all in-row Column HOF algebra
    over the exploded pair list, no join at all (a ring's own pair set is
    bounded by its vertex count; rings big enough to need blocking should
    go through line_intersection_join on their own segments instead).
    Returns (id, n_vertices, n_bad_pairs, is_valid); rings with < 3
    vertices report invalid with n_bad_pairs = -1 (degenerate)."""
    n = F.size(F.col(ring_col))
    seg = lambda i: (  # noqa: E731
        F.element_at(F.col(ring_col), i + 1),
        F.element_at(F.col(ring_col), F.pmod(i + 1, n) + 1),
    )
    idxs = F.sequence(F.lit(0), n - 1)
    pair_bad = F.flatten(
        F.transform(
            idxs,
            lambda i: F.transform(
                F.filter(
                    idxs,
                    # j > i, non-adjacent: skip j == i+1 and the wrap pair
                    # (0, n-1)
                    lambda j: (j > i + 1)
                    & ~((i == 0) & (j == n - 1)),
                ),
                lambda j: F.when(
                    segments_intersect_expr(
                        seg(i)[0]["x"], seg(i)[0]["y"],
                        seg(i)[1]["x"], seg(i)[1]["y"],
                        seg(j)[0]["x"], seg(j)[0]["y"],
                        seg(j)[1]["x"], seg(j)[1]["y"],
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            ),
        )
    )
    n_bad = F.aggregate(
        pair_bad, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return polys.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_vertices"),
        F.when(n < 3, F.lit(-1).cast("long")).otherwise(n_bad)
        .alias("n_bad_pairs"),
        F.when(n < 3, F.lit(False)).otherwise(n_bad == 0).alias("is_valid"),
    )
