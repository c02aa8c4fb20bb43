"""Independent reference results the workloads check the engine against.
Pure numpy (and DuckDB for the registry queries); nothing here calls the
engine's own kernels."""

from __future__ import annotations

import numpy as np

# packed shortest-path label: dist * HOPS + hops, so one integer min is the
# lexicographic (distance, fewest edges) minimum
HOPS = 1 << 20
INF = np.iinfo(np.int64).max


def pip_pairs(lon: np.ndarray, lat: np.ndarray, polygons: list[dict]) -> dict:
    """poly_id -> indices of the points strictly inside its ring (even-odd
    ray cast), for every polygon with at least one point."""
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    out = {}
    for p in polygons:
        xs = np.array([v["lon"] for v in p["ring"]])
        ys = np.array([v["lat"] for v in p["ring"]])
        lo, hi = np.searchsorted(slon, [xs.min(), xs.max()], side="left")
        idx = np.arange(lo, min(hi + 1, len(slon)))
        idx = idx[(slat[idx] >= ys.min()) & (slat[idx] <= ys.max())]
        px, py = slon[idx], slat[idx]
        inside = np.zeros(px.shape, dtype=bool)
        for i in range(len(xs)):
            xi, yi = xs[i], ys[i]
            xj, yj = xs[i - 1], ys[i - 1]
            crosses = (yi > py) != (yj > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at = (xj - xi) * (py - yi) / (yj - yi) + xi
            inside ^= crosses & (px < x_at)
        if inside.any():
            out[int(p["poly_id"])] = order[idx[inside]]
    return out


def pip_counts(lon: np.ndarray, lat: np.ndarray, polygons: list[dict]) -> dict:
    """poly_id -> number of points strictly inside its ring."""
    return {k: len(v) for k, v in pip_pairs(lon, lat, polygons).items()}


def component_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, comp): every node that appears in a non-loop edge, labelled with
    the smallest node id of its connected component. Min-label propagation
    with pointer jumping until nothing changes."""
    keep = u != v
    u, v = u[keep], v[keep]
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    label = np.arange(len(ids))
    while True:
        new = label.copy()
        np.minimum.at(new, a, label[b])
        np.minimum.at(new, b, label[a])
        new = new[new]
        if np.array_equal(new, label):
            break
        label = new
    return ids, ids[label]


def shortest_paths(
    u: np.ndarray, v: np.ndarray, w: np.ndarray, sources: list[tuple[int, int]],
) -> dict:
    """(source_id, node) -> (dist, hops) over the undirected weighted graph:
    the shortest distance and, among shortest paths, the fewest edges.
    Frontier relaxation per source over a CSR adjacency."""
    su = np.concatenate([u, v])
    sv = np.concatenate([v, u])
    sw = np.concatenate([w, w]).astype(np.int64)
    order = np.argsort(su, kind="stable")
    su, sv, sw = su[order], sv[order], sw[order]
    nodes = np.unique(np.concatenate([su, [n for _, n in sources]]))
    head = np.searchsorted(su, nodes, side="left")
    tail = np.searchsorted(su, nodes, side="right")
    dst = np.searchsorted(nodes, sv)
    out = {}
    label = np.full(len(nodes), INF, dtype=np.int64)
    for sid, node in sources:
        s = int(np.searchsorted(nodes, node))
        label[s] = 0
        frontier = np.array([s])
        touched = [frontier]
        while len(frontier):
            counts = tail[frontier] - head[frontier]
            edge = np.repeat(head[frontier] - np.cumsum(counts) + counts, counts) + np.arange(counts.sum())
            cand = np.repeat(label[frontier], counts) + sw[edge] * HOPS + 1
            tgt = dst[edge]
            best = label.copy()
            np.minimum.at(best, tgt, cand)
            frontier = np.unique(tgt[best[tgt] < label[tgt]])
            label[frontier] = best[frontier]
            touched.append(frontier)
        reached = np.unique(np.concatenate(touched))
        for i in reached:
            out[(sid, int(nodes[i]))] = (int(label[i] // HOPS), int(label[i] % HOPS))
        label[reached] = INF
    return out


def registry_digests(sf_dir: str, names: list[str]) -> dict:
    """query -> (rows, columns, md5) of its DuckDB oracle_sql() twin over the
    tables in sf_dir, canonicalized the way tools/check_oracle.py does."""
    import duckdb

    import __spark_entry__ as entry_mod
    from tools.check_oracle import canonicalize

    sql = entry_mod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "orders"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {q: canonicalize(con.execute(sql[q]).df()) for q in names}
    finally:
        con.close()
