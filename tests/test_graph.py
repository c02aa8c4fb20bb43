"""Connected components (large-star/small-star) vs a driver-side BFS oracle."""

import random

import pytest
from pyspark.sql import functions as F

from engine import graph


def _bfs_components(n_nodes, edges):
    """Driver-side oracle: min-id label per component via BFS."""
    adj = {i: set() for i in range(n_nodes)}
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    label = {}
    for start in range(n_nodes):
        if start in label:
            continue
        comp = [start]
        seen = {start}
        stack = [start]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    comp.append(y)
                    stack.append(y)
        m = min(comp)
        for x in comp:
            label[x] = m
    return label


def _run(spark, n_nodes, edges, with_nodes=True):
    e = spark.createDataFrame(edges or [(0, 0)], ["u", "v"])
    if not edges:
        e = e.limit(0)
    nodes = (
        spark.range(n_nodes).withColumnRenamed("id", "nid") if with_nodes else None
    )
    out = graph.connected_components(e, nodes=nodes, id_col="nid")
    return {r["id"]: r["comp"] for r in out.collect()}


@pytest.mark.parametrize("seed,n,m", [(1, 30, 20), (2, 60, 45), (3, 100, 160)])
def test_random_graphs_match_bfs(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    assert _run(spark, n, edges) == _bfs_components(n, edges)


def test_driver_vs_distributed_parity(spark, monkeypatch):
    """The numpy union-find below the edge gate and the star-round loop
    above it (gate forced to 0) label every node identically."""
    rng = random.Random(3)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(160)]
    e = spark.createDataFrame(edges, ["u", "v"])
    nodes = spark.range(100).withColumnRenamed("id", "nid")

    def labels():
        out = graph.connected_components(e, nodes=nodes, id_col="nid")
        return sorted(map(tuple, out.collect()))

    driver = labels()
    monkeypatch.setattr(graph, "_DRIVER_EDGES", 0)
    distributed = labels()
    assert graph.LAST_ROUNDS > 0
    assert driver == distributed


def test_driver_vs_distributed_parity_arrow_off(arrow_off, monkeypatch):
    test_driver_vs_distributed_parity(arrow_off, monkeypatch)


def test_path_graph_converges_fast(spark):
    # a 200-node chain: naive min-label propagation would need 200 rounds;
    # the star alternation must finish well inside max_iters
    n = 200
    edges = [(i, i + 1) for i in range(n - 1)]
    out = _run(spark, n, edges)
    assert out == {i: 0 for i in range(n)}


def test_disjoint_cliques_and_singletons(spark):
    edges = [
        (u, v) for base in (10, 20, 30) for u in range(base, base + 4)
        for v in range(u + 1, base + 4)
    ]
    out = _run(spark, 40, edges)
    for base in (10, 20, 30):
        for i in range(base, base + 4):
            assert out[i] == base
    # nodes 0-9 and 34-39 are isolated -> own singleton component
    assert all(out[i] == i for i in range(10))


def test_empty_edges(spark):
    out = _run(spark, 5, [])
    assert out == {i: i for i in range(5)}


def test_duplicate_and_reversed_edges(spark):
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (4, 2)]
    out = _run(spark, 5, edges)
    assert out[1] == out[2] == out[4] == 1
    assert out[3] == 3 and out[0] == 0


def test_dedup_survivors(spark):
    df = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (6, 7)], ["id_a", "id_b"]
    )
    kept = sorted(
        r["doc_id"] for r in graph.dedup_survivors(df, pairs).collect()
    )
    # {0,3,5} -> keep 0; {6,7} -> keep 6; 1,2,4 untouched
    assert kept == [0, 1, 2, 4, 6]


def test_sql_twin_matches(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    rng = random.Random(7)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    e = spark.createDataFrame(edges, ["id_a", "id_b"])
    spark_out = sorted(
        (r["id"], r["cluster_id"])
        for r in graph.neardup_clusters(e).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE p AS SELECT * FROM (VALUES "
        + ", ".join(f"({u}, {v})" for u, v in edges)
        + ") t(id_a, id_b)"
    )
    sql = graph.connected_components_sql("SELECT id_a, id_b FROM p")
    duck_out = sorted((int(a), int(b)) for a, b in con.execute(sql).fetchall())
    # Spark side labels only nodes in pairs here (no nodes frame); the SQL
    # twin does the same — drop self-loop-only nodes from both for compare
    real = {u for u, v in edges if u != v} | {v for u, v in edges if u != v}
    assert [x for x in spark_out if x[0] in real] == [
        x for x in duck_out if x[0] in real
    ]


# ---------------------------------------------------------------------------
# exact-integer PageRank
# ---------------------------------------------------------------------------
def _py_pagerank(edges, nodes, n_iters, d_e3=850, scale=10**12):
    deg = {}
    for u, _v in edges:
        deg[u] = deg.get(u, 0) + 1
    n = len(nodes)
    s_total = n * scale
    teleport = ((1000 - d_e3) * s_total // 1000) // n
    rank = {v: scale for v in nodes}
    for _ in range(n_iters):
        dang = sum(r for v, r in rank.items() if deg.get(v, 0) == 0)
        dang_share = (d_e3 * dang) // (1000 * n)
        incoming = {v: 0 for v in nodes}
        for u, v in edges:
            incoming[v] += (d_e3 * rank[u]) // (1000 * deg[u])
        rank = {v: teleport + dang_share + incoming[v] for v in nodes}
    return rank


def test_pagerank_exact_python_parity(spark):
    import random as _r

    from engine.graph import pagerank

    rng = _r.Random(67)
    nodes = list(range(30))
    edges = []
    for _ in range(80):
        u, v = rng.sample(nodes, 2)
        edges.append((u, v))
    # a couple of dangling nodes (no out-edges): 28, 29 never source
    edges = [(u, v) for u, v in edges if u not in (28, 29)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, n_iters=8, nodes=ndf).collect()
    }
    want = _py_pagerank(edges, nodes, 8)
    assert got == want  # exact integer equality, every node


def test_pagerank_cycle_fixpoint_and_hub(spark):
    from engine.graph import pagerank

    # directed 5-cycle: the uniform vector is an EXACT fixpoint
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(cyc, "src long, dst long")
    out = {r["id"]: r["rank"] for r in pagerank(df, n_iters=13).collect()}
    assert all(v == 10**12 for v in out.values())
    # star: every leaf points at the hub -> hub rank dominates
    star = [(i, 0) for i in range(1, 8)]
    sdf = spark.createDataFrame(star, "src long, dst long")
    s = {r["id"]: r["rank"] for r in pagerank(sdf, n_iters=10).collect()}
    assert s[0] > 4 * max(v for k, v in s.items() if k != 0)
    import pytest as _pt

    with _pt.raises(ValueError):
        pagerank(df, n_iters=0)


def test_pagerank_large_scale_exact_past_2_53(spark):
    """The regime the r4 advice flagged: numerators beyond 2^53, where the
    old double-divide floor identity could floor off-by-one.  scale=1e15 on
    a 4-node star makes d_e3*rank reach ~3.4e18 (< 2^62 guard) while the
    hub rank itself passes 2^53 — exact python-integer replay must match
    every node bit-for-bit."""
    from engine.graph import pagerank

    nodes = [0, 1, 2, 3]
    edges = [(1, 0), (2, 0), (3, 0), (0, 1)]  # star into 0, one back-edge
    df = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "id long")
    scale = 10**15
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, n_iters=12, nodes=ndf, scale=scale).collect()
    }
    want = _py_pagerank(edges, nodes, 12, scale=scale)
    # the regime is actually exercised: the div numerator d_e3*rank passes
    # 2^53 (double floors go off-by-one past rank ~1.06e13; hub is ~1.8e15)
    assert 850 * got[0] > 2**53
    assert got == want


def test_pagerank_overflow_guard_raises(spark):
    """d_e3*n*scale >= 2^62 must raise loudly, never wrap silently."""
    import pytest as _pt

    from engine.graph import pagerank

    df = spark.createDataFrame([(i, (i + 1) % 20) for i in range(20)],
                               "src long, dst long")
    with _pt.raises(ValueError, match="int64 contract"):
        pagerank(df, n_iters=2, scale=2**62 // 850 // 20 + 1)
