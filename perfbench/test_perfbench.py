"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import harness  # noqa: E402
import inputs  # noqa: E402
import oracles  # noqa: E402


# ---------------------------------------------------------------- seeded inputs
def test_same_seed_same_inputs():
    assert inputs.polygon_rows(5) == inputs.polygon_rows(5)
    for a, b in zip(inputs.np_image_points(5, 1000), inputs.np_image_points(5, 1000)):
        assert np.array_equal(a, b)
    assert inputs.registry_offsets(5) == inputs.registry_offsets(5)


def test_other_seed_other_inputs():
    assert inputs.polygon_rows(5) != inputs.polygon_rows(6)
    assert not np.array_equal(inputs.np_image_points(5, 1000)[0],
                              inputs.np_image_points(6, 1000)[0])
    assert inputs.registry_offsets(5) != inputs.registry_offsets(6)


def test_registry_tables_repeat(tmp_path):
    import pyarrow.parquet as pq

    for d in ("a", "b"):
        (tmp_path / d).mkdir()
        inputs.write_registry_tables(str(tmp_path / d), 9)
    for t in ("documents", "orders"):
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    docs = pq.read_table(tmp_path / "a" / "documents.parquet")["doc_id"].to_numpy()
    assert len(docs) == inputs.N_DOCUMENTS and docs[0] % 100 == 0


def test_image_points_keep_the_skew_and_range():
    lon, lat = inputs.np_image_points(3, 10_000)
    from engine import synth

    hot = ((lon >= synth.HOT_LON_MIN) & (lon < synth.HOT_LON_MIN + synth.HOT_BOX_DEG)
           & (lat >= synth.HOT_LAT_MIN) & (lat < synth.HOT_LAT_MIN + synth.HOT_BOX_DEG))
    assert abs(hot.mean() - inputs.HOT_PER_MILLE / 1000) < 0.01
    assert inputs.image_key0(inputs.KEY_RANGES - 1) + inputs.KEY_STRIDE < 8e9


def test_edge_ids_for_is_the_smallest_sufficient_range():
    def n_edges(ids):  # one edge per id that is not a block root
        return ids - -(-ids // inputs.TREE)

    for n in (1, 2, 3, 450_000, 1_100_000):
        ids = inputs.edge_ids_for(n)
        assert n_edges(ids) >= n > n_edges(ids - 1)


# ---------------------------------------------------------------- metric names
def test_metric_names_and_units():
    for good in ("setup_s", "pass_s.p50", "terrain.raster_field.hot.execute_s",
                 "graph.cc.above.jobs", "1x"):
        assert harness.check_name(good) == good
    for bad in ("", "_x", ".x", "a b", "x" * 65, "q/s", "é"):
        with pytest.raises(ValueError):
            harness.check_name(bad)
    for good in ("s", "ms", "1/s", "count", "ratio", "%"):
        harness.check_unit(good)
    for bad in ("", "x" * 17, "m s"):
        with pytest.raises(ValueError):
            harness.check_unit(bad)


def test_benchmark_json_contract():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        harness.check_name(n)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


# ---------------------------------------------------------------- percentiles
def test_percentile():
    assert harness.percentile([3, 1, 2], 50) == 2
    assert harness.percentile([1, 2, 3, 4], 50) == 2.5
    assert harness.percentile([5, 1, 9], 100) == 9
    assert harness.percentile([5, 1, 9], 0) == 1
    assert harness.percentile([0, 10], 90) == pytest.approx(9.0)
    assert harness.percentile([7], 99) == 7
    with pytest.raises(ValueError):
        harness.percentile([], 50)
    with pytest.raises(ValueError):
        harness.percentile([1], 101)


# ---------------------------------------------------------------- job accounting
class FakeTracker:
    """StatusTracker double: jobs by group, stage ids per job, task counts."""

    def __init__(self):
        self.groups = {"g": [], None: [], "other": []}
        self.jobs = {}
        self.stages = {}

    def add_job(self, jid, group, stages):
        self.groups[group].append(jid)
        self.jobs[jid] = SimpleNamespace(stageIds=list(stages))

    def getJobIdsForGroup(self, group):
        return list(self.groups.get(group, []))

    def getJobInfo(self, jid):
        return self.jobs.get(jid)

    def getStageInfo(self, sid):
        return self.stages.get(sid)


def test_job_delta_counts_thread_started_jobs():
    t = FakeTracker()
    t.add_job(0, "g", [0])
    t.add_job(1, None, [1])
    led = harness.JobLedger(t, "g")
    mark = led.mark()
    assert mark == 1
    t.add_job(2, "g", [2, 3])
    t.add_job(3, None, [4])       # started from an engine thread: no group
    t.add_job(4, "g", [3, 5])     # reuses stage 3 (skipped, ran no tasks)
    for sid, done, failed in ((2, 4, 0), (3, 8, 1), (4, 2, 0), (5, 0, 0)):
        t.stages[sid] = SimpleNamespace(numCompletedTasks=done, numFailedTasks=failed)
    ids = led.since(mark)
    assert ids == [2, 3, 4]
    assert led.usage(ids) == {"jobs": 3, "stages": 4, "tasks": 14, "failed_tasks": 1}


def test_job_delta_ignores_jobs_before_the_mark_and_missing_infos():
    t = FakeTracker()
    led = harness.JobLedger(t, "g")
    assert led.mark() == -1
    t.add_job(0, None, [0])
    t.jobs.pop(0)                 # info already trimmed by the status store
    assert led.usage(led.since(-1)) == {"jobs": 1, "stages": 0, "tasks": 0,
                                        "failed_tasks": 0}
    assert led.since(0) == []


# ---------------------------------------------------------------- spans
def test_self_time_merges_overlapping_children():
    tr = harness.Tracer()
    parent = harness.Span(0, "p", None, 0.0, 10.0)
    tr.spans = [parent,
                harness.Span(1, "a", 0, 1.0, 4.0),
                harness.Span(2, "b", 0, 3.0, 5.0),   # overlaps a
                harness.Span(3, "c", 0, 8.0, 12.0),  # runs past the parent
                harness.Span(4, "d", 1, 1.5, 2.0)]   # grandchild: not subtracted twice
    assert tr.self_time(parent) == pytest.approx(10.0 - 4.0 - 2.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(3.0 - 0.5)


def test_spans_nest_and_write(tmp_path):
    tr = harness.Tracer()
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    path = tmp_path / "t.jsonl"
    tr.write_jsonl(str(path))
    rows = [json.loads(x) for x in path.read_text().splitlines()]
    assert rows[1]["name"] == "inner" and rows[1]["k"] == 1
    assert rows[0]["self_s"] <= rows[0]["end"] - rows[0]["start"]


# ---------------------------------------------------------------- oracles
def test_pip_counts_square():
    sq = {"poly_id": 3, "ring": [{"lon": 0.0, "lat": 0.0}, {"lon": 2.0, "lat": 0.0},
                                 {"lon": 2.0, "lat": 2.0}, {"lon": 0.0, "lat": 2.0}]}
    far = {"poly_id": 4, "ring": [{"lon": 50.0, "lat": 50.0}, {"lon": 51.0, "lat": 50.0},
                                  {"lon": 51.0, "lat": 51.0}]}
    lon = np.array([1.0, 1.5, 3.0, -1.0, 0.5])
    lat = np.array([1.0, 0.5, 1.0, 1.0, 2.5])
    assert oracles.pip_counts(lon, lat, [sq, far]) == {3: 2}


def test_component_labels():
    u = np.array([5, 7, 9, 2, 4])
    v = np.array([7, 9, 5, 3, 4])      # 4-4 is a self-loop: dropped
    ids, comp = oracles.component_labels(u, v)
    assert dict(zip(ids.tolist(), comp.tolist())) == {2: 2, 3: 2, 5: 5, 7: 5, 9: 5}


def test_component_labels_long_path():
    n = 200
    u = np.arange(n - 1)[::-1]
    ids, comp = oracles.component_labels(u, u + 1)
    assert ids.tolist() == list(range(n)) and set(comp.tolist()) == {0}


def _brute_sssp(u, v, w, sources):
    """Dijkstra on (dist, hops) tuples."""
    import heapq

    adj = {}
    for a, b, c in zip(u.tolist(), v.tolist(), w.tolist()):
        adj.setdefault(a, []).append((b, c))
        adj.setdefault(b, []).append((a, c))
    out = {}
    for sid, s in sources:
        best = {s: (0, 0)}
        heap = [(0, 0, s)]
        while heap:
            d, h, x = heapq.heappop(heap)
            if best[x] < (d, h):
                continue
            for y, c in adj.get(x, []):
                cand = (d + c, h + 1)
                if y not in best or cand < best[y]:
                    best[y] = cand
                    heapq.heappush(heap, (*cand, y))
        out.update({(sid, x): dh for x, dh in best.items()})
    return out


def test_shortest_paths_matches_dijkstra():
    rng = np.random.default_rng(1)
    u = rng.integers(0, 60, 150)
    v = rng.integers(0, 60, 150)
    keep = u != v
    u, v = u[keep], v[keep]
    pairs = {}
    for a, b in zip(u.tolist(), v.tolist()):
        pairs.setdefault((min(a, b), max(a, b)), int(rng.integers(1, 10)))
    u = np.array([p[0] for p in pairs])
    v = np.array([p[1] for p in pairs])
    w = np.array(list(pairs.values()))
    sources = [(0, int(u[0])), (1, int(v[3]))]
    assert oracles.shortest_paths(u, v, w, sources) == _brute_sssp(u, v, w, sources)
