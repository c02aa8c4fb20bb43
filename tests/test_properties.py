"""Property-based tests (hypothesis) — SURVEY.md §5.4: shuffle-invariance,
round-trips, count conservation, cover/refine agreement with brute force."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine import cells, joins

_slow = settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(
    phash=st.integers(min_value=0, max_value=2**63 - 1),
    res=st.integers(min_value=0, max_value=28),
)
@_slow
def test_grid_pack_roundtrip_numpy(phash, res):
    c = cells.np_grid_encode_phash(np.array([phash], dtype=np.int64), res)[0]
    r = c // cells._RES_SHIFT
    ix = (c % cells._RES_SHIFT) // cells._IX_SHIFT
    iy = c % cells._IX_SHIFT
    assert r == res and 0 <= ix < 2**res and 0 <= iy < 2**res
    # hierarchy: parent arithmetic == direct coarse encode, any step count
    for steps in (1, min(4, res)):
        if res - steps < 0:
            continue
        parent = (
            (res - steps) * cells._RES_SHIFT
            + (ix >> steps) * cells._IX_SHIFT
            + (iy >> steps)
        )
        direct = cells.np_grid_encode_phash(
            np.array([phash], dtype=np.int64), res - steps
        )[0]
        assert parent == direct


@given(
    lon=st.floats(min_value=-179.99, max_value=179.99),
    lat=st.floats(min_value=-89.99, max_value=89.99),
    level=st.integers(min_value=1, max_value=26),
)
@_slow
def test_s2_parent_consistency(lon, lat, level):
    c = cells.np_s2_encode(np.array([lon]), np.array([lat]), level)
    if level >= 2:
        p = cells.np_s2_parent(c, 1)
        direct = cells.np_s2_encode(np.array([lon]), np.array([lat]), level - 1)
        assert (p == direct).all()
    face, lev, si, ti = cells.np_s2_decode(c)
    assert lev[0] == level and 0 <= si[0] < 2**level and 0 <= ti[0] < 2**level


def _clipped_parity(px, py, parity, edges):
    """parity XOR the even-odd crossings of `edges` ((4, m): xi, yi, xj, yj),
    with np_point_in_polygon's edge test."""
    acc = np.full(px.shape, parity)
    for xi, yi, xj, yj in edges.T:
        crosses = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = (xj - xi) * (py - yi) / (yj - yi) + xi
        acc ^= crosses & (px < x_int)
    return acc


@given(
    seed=st.integers(min_value=0, max_value=10**6),
    nv=st.integers(min_value=3, max_value=12),
)
@_slow
def test_pip_cover_plus_corner_classification_agrees_with_raycast(seed, nv):
    """For a random polygon (convex, or a concave star, either one with or
    without a hole): at points sampled inside the bbox, on the grid lines
    (cell sides and corners) and on the ring vertices, a kept cell's parity
    XOR its clipped edges equals the full-ring ray cast; every cell the cover
    marks full_inside (no clipped edge) contains only inside points; and no
    inside point falls in a cell the cover dropped."""
    rng = np.random.default_rng(seed)
    clon, clat = rng.uniform(-150, 150), rng.uniform(-60, 60)
    rlon, rlat = 0.5 + rng.random() * 5, 0.5 + rng.random() * 5
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    scale = 1.0 if seed % 2 else rng.uniform(0.3, 1.0, nv)
    xs = clon + rlon * scale * np.cos(ang)
    ys = clat + rlat * scale * np.sin(ang)
    rings = [(xs, ys)]
    if seed % 3 == 0:
        h = 0.1 * min(rlon, rlat)
        rings.append((clon + h * np.array([-1.0, 1.0, 1.0, -1.0]),
                      clat + h * np.array([-1.0, -1.0, 1.0, 1.0])))
    # the bbox of all rings: a hole at the center of a thin triangle can
    # stick out of the outer ring, and even-odd counts that part inside
    ax, ay = np.concatenate([r[0] for r in rings]), np.concatenate([r[1] for r in rings])
    res, cc, parity, undecided, edges = joins._cover_one(
        0, ax.min(), ay.min(), ax.max(), ay.max(), 4, 11, 256, rings
    )
    full = parity & ~undecided.any(axis=1)
    n = 2**res
    gx = np.arange(int((ax.min() + 180) / 360 * n), int((ax.max() + 180) / 360 * n) + 2)
    gy = np.arange(int((ay.min() + 90) / 180 * n), int((ay.max() + 90) / 180 * n) + 2)
    gx, gy = gx / n * 360 - 180, gy / n * 180 - 90
    ux = rng.uniform(ax.min(), ax.max(), 400)
    uy = rng.uniform(ay.min(), ay.max(), 400)
    px = np.concatenate([
        ux, np.repeat(gx, len(gy)), rng.choice(gx, 200), ux[:200], ax,
    ])
    py = np.concatenate([
        uy, np.tile(gy, len(gx)), uy[:200], rng.choice(gy, 200), ay,
    ])
    want = joins.np_point_in_multipolygon(px, py, rings)
    cell_of = cells.np_grid_encode_lonlat(px, py, res)
    row = {c: k for k, c in enumerate(cc.tolist())}
    for x, y, c, w in zip(px, py, cell_of.tolist(), want):
        k = row.get(c)
        if k is None:
            assert not w
            continue
        got = _clipped_parity(np.array([x]), np.array([y]), parity[k],
                              edges[:, undecided[k]])[0]
        assert got == w
        if full[k]:
            assert w
    for cell in cc[full]:
        ix = (cell % cells._RES_SHIFT) // cells._IX_SHIFT
        iy = cell % cells._IX_SHIFT
        lon0, lon1 = ix / n * 360 - 180, (ix + 1) / n * 360 - 180
        lat0, lat1 = iy / n * 180 - 90, (iy + 1) / n * 180 - 90
        qx = rng.uniform(lon0, lon1, 16)
        qy = rng.uniform(lat0, lat1, 16)
        assert joins.np_point_in_multipolygon(qx, qy, rings).all()


@given(
    ops=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 4), st.integers(0, 9)),
        min_size=1, max_size=30,
    )
)
@_slow
def test_running_parent_set_fold_matches_python(ops):
    """The membership rule 'last event <= t is ADD' equals a sequential set fold
    when events are applied in (ts, ADD-before-DELETE) order."""
    events = sorted(
        [(t, ct, p) for ct, p, t in ops], key=lambda e: (e[0], e[1])
    )
    state: set[int] = set()
    timeline = {}
    for t, ct, p in events:
        if ct == 0:
            state.add(p)
        else:
            state.discard(p)
        timeline[t] = set(state)
    # window-rule emulation: for each boundary t, parent present iff the last
    # event for that parent at/<= t is an ADD
    for t, want in timeline.items():
        got = set()
        for p in {p for _, _, p in events}:
            evs = [(tt, cc) for tt, cc, pp in events if pp == p and tt <= t]
            if evs and evs[-1][1] == 0:
                got.add(p)
        assert got == want
