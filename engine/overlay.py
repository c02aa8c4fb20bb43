"""Polygon-polygon overlay join (intersects / contains) — the region-to-region
counterpart of pip_join.

The reference's join surface is point-like feature -> parent geometry
(SparkJobs.scala:55-62); real OSM analytics also ask region-to-region
questions ("which changeset bboxes intersect which admin boundaries"), and a
training-data curation pipeline asks the same of image footprints vs license
or AOI polygons. This module adds that operator with the same plan discipline
as pip_join: cell-cover equi-join for blocking, slim id-pairs through the
shuffle, exact numpy refine only for the boundary residue.

Plan shape:

  cover(A)  --(grid_ancestor to one blocking res R)-->  (a_id, cell_R, ...)
  cover(B)  --(same normalization)------------------->  (b_id, cell_R, ...)
  join on cell_R                -- the only wide op; smaller side broadcast
  fast-accept (Column-only)     -- full_inside cells nested across A and B
                                   PROVE region intersection: the finer cell
                                   is a subset of both regions
  groupBy (a_id, b_id)          -- slim dedup, max(accepted)
  pending pairs + rings         -- two dim joins attach ring payloads late
  mapInPandas refine            -- exact segment-cross + even-odd vertex test

Soundness of the blocking: every cover keeps each cell at its polygon's
chosen res that the polygon's region or boundary touches (it drops only
cells that lie outside with no ring edge near them), and grid_ancestor is
monotone — so any common point's blocking-res cell appears in both
normalized covers. The fast accept fires only when both joined cover rows
are full_inside and one original cell is an ancestor of the other (the finer
cell is then a subset of BOTH regions, a certificate of intersection);
everything else goes through the exact test.

At 100 TB: both polygon sets may be large (neither needs to broadcast — set
broadcast_cover=False for a shuffled cell join); candidate volume is bounded
by cover selectivity, the pair shuffle carries 16-byte id pairs, and ring
bytes move only for the pairs that reach the refine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells
from .joins import np_point_in_multipolygon


# ---------------------------------------------------------------------------
# numpy pair kernel
# ---------------------------------------------------------------------------
def _ring_arrays(raw) -> list[tuple[np.ndarray, np.ndarray]]:
    """rings payload (list of list of {lon, lat}) -> [(xs, ys), ...]."""
    out = []
    for ring in raw:
        xs = np.fromiter((v["lon"] for v in ring), dtype=np.float64)
        ys = np.fromiter((v["lat"] for v in ring), dtype=np.float64)
        out.append((xs, ys))
    return out


def _edges(rings: list[tuple[np.ndarray, np.ndarray]]):
    """All boundary edges of an even-odd ring set as flat endpoint arrays."""
    x1 = np.concatenate([xs for xs, _ in rings])
    y1 = np.concatenate([ys for _, ys in rings])
    x2 = np.concatenate([np.roll(xs, -1) for xs, _ in rings])
    y2 = np.concatenate([np.roll(ys, -1) for _, ys in rings])
    return x1, y1, x2, y2


def np_segments_intersect_any(a, b) -> bool:
    """True if any edge of A touches/crosses any edge of B (closed semantics:
    shared endpoints, T-touches and collinear overlap all count). Vectorized
    over the full edge-pair grid via broadcasting."""
    ax1, ay1, ax2, ay2 = (v[:, None] for v in _edges(a))
    bx1, by1, bx2, by2 = (v[None, :] for v in _edges(b))

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)

    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    if proper.any():
        return True

    def on_seg(px, py, qx, qy, rx, ry):
        return (
            (np.minimum(px, qx) <= rx) & (rx <= np.maximum(px, qx))
            & (np.minimum(py, qy) <= ry) & (ry <= np.maximum(py, qy))
        )

    touch = (
        ((d1 == 0) & on_seg(bx1, by1, bx2, by2, ax1, ay1))
        | ((d2 == 0) & on_seg(bx1, by1, bx2, by2, ax2, ay2))
        | ((d3 == 0) & on_seg(ax1, ay1, ax2, ay2, bx1, by1))
        | ((d4 == 0) & on_seg(ax1, ay1, ax2, ay2, bx2, by2))
    )
    return bool(touch.any())


def np_rings_relate(a, b) -> tuple[bool, bool]:
    """(intersects, a_contains_b) for two even-odd ring sets.

    intersects: any boundary contact, or a vertex of one strictly interior to
    the other (covers full containment; boundary-only contact counts).
    a_contains_b (region containment, holes respected): no boundary contact,
    every B vertex even-odd inside A, and no A vertex inside B (rules out an
    A hole ring sitting strictly inside B).
    """
    # bbox reject before any edge-pair work
    axs = np.concatenate([xs for xs, _ in a]); ays = np.concatenate([ys for _, ys in a])
    bxs = np.concatenate([xs for xs, _ in b]); bys = np.concatenate([ys for _, ys in b])
    if (
        axs.max() < bxs.min() or bxs.max() < axs.min()
        or ays.max() < bys.min() or bys.max() < ays.min()
    ):
        return False, False

    boundary = np_segments_intersect_any(a, b)
    a_in_b = np_point_in_multipolygon(axs, ays, b)
    b_in_a = np_point_in_multipolygon(bxs, bys, a)
    intersects = boundary or bool(a_in_b.any()) or bool(b_in_a.any())
    contains = (not boundary) and bool(b_in_a.all()) and not bool(a_in_b.any())
    return intersects, contains


# ---------------------------------------------------------------------------
# operator
# ---------------------------------------------------------------------------
def _as_rings_frame(polys: DataFrame, id_out: str) -> DataFrame:
    """Normalize (poly_id, ring) or (poly_id, rings) to (id_out, rings)."""
    if "rings" in polys.columns:
        rings = F.col("rings")
    else:
        rings = F.array(F.col("ring"))
    return polys.select(F.col("poly_id").alias(id_out), rings.alias(f"{id_out}_rings"))


def polygon_overlay_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    predicate: str = "intersects",
    res_min: int = 4,
    res_max: int = 11,
    max_cells: int = 256,
    broadcast_cover: bool = True,
    broadcast_rings: bool = True,
) -> DataFrame:
    """All (a_id, b_id) pairs whose regions satisfy `predicate`.

    Both inputs are pip_join-shaped polygon frames: (poly_id, bbox, ring) for
    single rings or (poly_id, bbox, rings) for multipolygons with holes
    (even-odd). predicate: 'intersects' (boundary contact counts) or
    'contains' (A's region contains B's, holes respected, no boundary
    contact). Returns (a_id, b_id), exact.

    The covers classify their cells exactly for any ring (full_inside cells
    lie wholly inside the region), which feeds the Column-only fast-accept
    for nested interior cells. broadcast_cover broadcasts the B cover into
    the cell join (B is the smaller side by convention); broadcast_rings
    broadcasts both ring dims into the late payload attach. Set either
    False at very large polygon counts for shuffled equi-joins instead.
    """
    if predicate not in ("intersects", "contains"):
        raise ValueError(f"unknown predicate {predicate!r}")
    pairs = _blocked_pairs(
        polys_a, polys_b, res_min, res_max, max_cells, broadcast_cover,
    )

    if predicate == "intersects":
        sure = pairs.filter(F.col("_accepted") == 1).select("a_id", "b_id")
        pending = pairs.filter(F.col("_accepted") == 0)
    else:
        # a full-inside-nested cell proves intersection, not containment
        sure = None
        pending = pairs

    ra = _as_rings_frame(polys_a, "a_id")
    rb = _as_rings_frame(polys_b, "b_id")
    if broadcast_rings:
        ra, rb = F.broadcast(ra), F.broadcast(rb)
    payload = pending.join(ra, "a_id").join(rb, "b_id")

    want_contains = predicate == "contains"

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep_a, keep_b = [], []
            for row in pdf.itertuples(index=False):
                a_rings = _ring_arrays(row.a_id_rings)
                b_rings = _ring_arrays(row.b_id_rings)
                inter, cont = np_rings_relate(a_rings, b_rings)
                hit = cont if want_contains else inter
                if hit:
                    keep_a.append(row.a_id)
                    keep_b.append(row.b_id)
            yield pd.DataFrame({"a_id": keep_a, "b_id": keep_b})

    refined = payload.mapInPandas(refine, schema="a_id long, b_id long")
    return refined if sure is None else sure.unionByName(refined)


def _blocked_pairs(
    polys_a: DataFrame,
    polys_b: DataFrame,
    res_min: int,
    res_max: int,
    max_cells: int,
    broadcast_cover: bool,
) -> DataFrame:
    """Candidate (a_id, b_id, _accepted) pairs via the cell-cover blocking:
    covers of both sides normalized to one blocking res, ONE equi-join on
    the blocking cell, slim id-pair dedup. _accepted = 1 marks pairs whose
    nested full-interior cells PROVE region intersection (the Column-only
    fast accept); 0 means unknown — run the exact pair kernel."""
    from . import joins

    def _cover(polys: DataFrame) -> DataFrame:
        if "rings" in polys.columns:
            return joins.multiring_cover(polys, "rings", res_min, res_max, max_cells)
        return joins.polygon_cover(polys, res_min, res_max, max_cells)

    cov_a, cov_b = _cover(polys_a), _cover(polys_b)

    def _min_res(cov: DataFrame) -> int:
        pinned = getattr(cov, "_pip_used_res", None)
        if pinned:
            return min(pinned)
        row = cov.agg(F.min("res").alias("r")).collect()[0]
        return int(row["r"]) if row["r"] is not None else res_min

    blocking_res = min(_min_res(cov_a), _min_res(cov_b))

    a = cov_a.select(
        F.col("poly_id").alias("a_id"),
        F.col("res").alias("_ares"),
        F.col("cell").alias("_acell"),
        F.col("full_inside").alias("_afull"),
        cells.grid_ancestor(F.col("cell"), F.lit(blocking_res)).alias("_bkcell"),
    )
    b = cov_b.select(
        F.col("poly_id").alias("b_id"),
        F.col("res").alias("_bres"),
        F.col("cell").alias("_bcell"),
        F.col("full_inside").alias("_bfull"),
        cells.grid_ancestor(F.col("cell"), F.lit(blocking_res)).alias("_bkcell"),
    )
    if broadcast_cover:
        b = F.broadcast(b)

    joined = a.join(b, "_bkcell")
    # fast accept: both cover cells fully interior AND one cell is an ancestor
    # of the other => the finer cell is a subset of both regions
    shallow = F.least("_ares", "_bres")
    nested = cells.grid_ancestor(F.col("_acell"), shallow) == cells.grid_ancestor(
        F.col("_bcell"), shallow
    )
    accept = (F.col("_afull") & F.col("_bfull") & nested).cast("int")
    return joined.groupBy("a_id", "b_id").agg(F.max(accept).alias("_accepted"))


def np_convex_clip(sx, sy, cx, cy):
    """Sutherland-Hodgman clip of a simple subject ring against a CONVEX
    clip ring (any orientation; normalized to CCW internally). Returns the
    clipped ring as two lists (possibly empty). Exact half-plane rule:
    boundary points count as inside, and the edge-line intersection is only
    evaluated across a strict inside/outside transition (denominator
    nonzero by construction)."""
    # normalize clip orientation to CCW (positive signed area)
    n = len(cx)
    a2 = sum(
        cx[i] * cy[(i + 1) % n] - cx[(i + 1) % n] * cy[i] for i in range(n)
    )
    if a2 < 0:
        cx, cy = cx[::-1], cy[::-1]
    out = list(zip(sx, sy))
    for i in range(n):
        x1, y1 = float(cx[i]), float(cy[i])
        x2, y2 = float(cx[(i + 1) % n]), float(cy[(i + 1) % n])
        inp, out = out, []
        if not inp:
            break
        dcx, dcy = x1 - x2, y1 - y2
        n1 = x1 * y2 - y1 * x2

        def inside(p):
            return (x2 - x1) * (p[1] - y1) - (y2 - y1) * (p[0] - x1) >= 0

        def inter(s, e):
            dpx, dpy = s[0] - e[0], s[1] - e[1]
            n2 = s[0] * e[1] - s[1] * e[0]
            n3 = 1.0 / (dcx * dpy - dcy * dpx)
            return ((n1 * dpx - dcx * n2) * n3, (n1 * dpy - dcy * n2) * n3)

        s = inp[-1]
        for e in inp:
            if inside(e):
                if not inside(s):
                    out.append(inter(s, e))
                out.append(e)
            elif inside(s):
                out.append(inter(s, e))
            s = e
    return [p[0] for p in out], [p[1] for p in out]


def np_intersection_area(a_rings, b_outer) -> float:
    """Exact-algorithm area of (even-odd multiring A) ∩ (convex single-ring
    B): clip A's outer ring and each hole against B (Sutherland-Hodgman) and
    combine by shoelace — area(outer ∩ B) − Σ area(hole_i ∩ B), valid
    because even-odd holes lie inside the outer ring and are disjoint."""
    bx, by = b_outer

    def shoelace(xs, ys):
        k = len(xs)
        if k < 3:
            return 0.0
        return abs(sum(
            xs[i] * ys[(i + 1) % k] - xs[(i + 1) % k] * ys[i] for i in range(k)
        )) / 2.0

    total = 0.0
    for j, (xs, ys) in enumerate(a_rings):
        qx, qy = np_convex_clip(xs.tolist(), ys.tolist(), bx.tolist(), by.tolist())
        piece = shoelace(qx, qy)
        total += piece if j == 0 else -piece
    return total


def polygon_area_overlay_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    res_min: int = 4,
    res_max: int = 11,
    max_cells: int = 256,
    broadcast_cover: bool = True,
    broadcast_rings: bool = True,
) -> DataFrame:
    """Intersection-AREA overlay: (a_id, b_id, area) for every pair with
    positive overlap area — the "how much of each parcel lies in each zone"
    join that areal statistics, exposure analysis and license-AOI accounting
    run, the quantitative upgrade of polygon_overlay_join's boolean
    predicate. The B (zone) side must be SINGLE CONVEX rings (pre-hull
    concave zones with geomfns.convex_hull, or subdivide); the A side can be
    any pip_join-shaped polygon frame including multiring holes (even-odd
    subtracts hole overlap exactly).

    Same scale discipline as polygon_overlay_join: cover blocking bounds
    candidates, the pair shuffle carries 16-byte ids, ring payloads attach
    late, and the Sutherland-Hodgman + shoelace kernel runs per candidate
    pair in Arrow batches. Boundary-touch pairs (area 0) are dropped —
    that's the measure-zero difference from predicate='intersects'."""
    pairs = _blocked_pairs(
        polys_a, polys_b, res_min, res_max, max_cells, broadcast_cover,
    ).select("a_id", "b_id")
    ra = _as_rings_frame(polys_a, "a_id")
    rb = _as_rings_frame(polys_b, "b_id")
    if broadcast_rings:
        ra, rb = F.broadcast(ra), F.broadcast(rb)
    payload = pairs.join(ra, "a_id").join(rb, "b_id")

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep_a, keep_b, keep_area = [], [], []
            for row in pdf.itertuples(index=False):
                a_rings = _ring_arrays(row.a_id_rings)
                b_rings = _ring_arrays(row.b_id_rings)
                area = np_intersection_area(a_rings, b_rings[0])
                if area > 0.0:
                    keep_a.append(row.a_id)
                    keep_b.append(row.b_id)
                    keep_area.append(area)
            yield pd.DataFrame(
                {"a_id": keep_a, "b_id": keep_b, "area": keep_area}
            )

    return payload.mapInPandas(
        refine, schema="a_id long, b_id long, area double"
    )


def overlay_brute_force(
    polys_a: DataFrame, polys_b: DataFrame, predicate: str = "intersects"
) -> DataFrame:
    """Quarantined O(|A| x |B|) twin: cross join + the same exact pair kernel,
    no cover blocking. For tests (asserts the blocking loses no pairs) and
    broadcastable polygon sets only."""
    ra = _as_rings_frame(polys_a, "a_id")
    rb = _as_rings_frame(polys_b, "b_id")
    want_contains = predicate == "contains"

    def refine(batches):
        for pdf in batches:
            keep_a, keep_b = [], []
            for row in pdf.itertuples(index=False):
                inter, cont = np_rings_relate(
                    _ring_arrays(row.a_id_rings), _ring_arrays(row.b_id_rings)
                )
                if cont if want_contains else inter:
                    keep_a.append(row.a_id)
                    keep_b.append(row.b_id)
            yield pd.DataFrame({"a_id": keep_a, "b_id": keep_b})

    return F.broadcast(ra).crossJoin(rb).mapInPandas(
        refine, schema="a_id long, b_id long"
    )
