"""The benchmark's workloads. Each one sets up (session, seeded inputs,
warm-up pass), runs timed passes in a closed loop with one client, checks
the outputs outside the timed region, and returns its metrics.

pip_flagship and registry_iter are the workloads BENCHMARK.json lists.
gate_sides (about 50 s a pass at the 1M-edge gates) and ingest_units (two
job runs, each starting its own JVM) are run by name: a run of either costs
more than the benchmark's run budget leaves for a third workload.

Every call into the engine goes through `Bench.op`, which times it from
outside as a span (construct = building the DataFrame, including any driver
actions of iterative operators; execute = the final action) and, in a traced
run, attaches the Spark jobs, stages and tasks the call started.
"""

from __future__ import annotations

import time
import traceback
from statistics import median

from harness import JobLedger, Tracer, percentile

GROUP = "perfbench"

# Timed passes per run, whatever --seconds asks (a registry pass outlasts
# BENCHMARK.json's run_seconds on its own): as many as the driver's run
# budget (4 + 22 runs per workload in 3420 s) affords for the two listed
# workloads.
MIN_PASSES = {"pip_flagship": 3, "registry_iter": 1, "gate_sides": 1,
              "ingest_units": 1}

# pip_flagship: images per pass (persisted during set-up) and the grid
# resolution of the cells.grid_encode_s probe (the pipeline's default).
N_IMAGES = 500_000
ENCODE_RES = 9
# the first passes of a session still speed up as the JVM compiles the hot
# paths: they are set-up, not samples
PIP_WARMUP_PASSES = 2
# point partitions per core: with many short tasks a core that runs slow
# (host contention) delays one small task, not a whole wave
PIP_TASKS_PER_CORE = 8

# registry_iter
QUERIES = ("knn", "routing", "raster_field")

# ingest_units: images, grid resolution and cell-range units of the job, and
# pruned reads per pass
INGEST_IMAGES = 1_000_000
INGEST_RES = 9
INGEST_UNITS = 8
INGEST_READS = 8

# gate_sides: the engine's driver/distributed gates sit at 1M edges. CC
# counts canonical (deduplicated, loop-free) edges; routing counts the
# symmetrized edge set, i.e. twice the undirected input.
CC_EDGES = {"below": 900_000, "above": 1_100_000}
SSSP_EDGES = {"below": 450_000, "above": 550_000}
N_SOURCES = 16
# a driver-side path issues a fixed handful of jobs (size probe, fetch,
# final write); a distributed loop issues several per round
DRIVER_PATH_MAX_JOBS = 8


class Bench:
    """Session, spans, job accounting and the attempted/failed ledger of one
    run."""

    def __init__(self, spark, seconds: float, trace: bool, tracer: Tracer) -> None:
        self.spark = spark
        self.seconds = seconds
        self.trace = trace
        self.tracer = tracer
        self.ledger = JobLedger(spark.sparkContext.statusTracker(), GROUP)
        self.accounting = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list] = {}
        spark.sparkContext.setJobGroup(GROUP, GROUP)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def op(self, name: str, construct, execute):
        """One operation: df = construct(); out = execute(df). Returns
        (df, out), or None when it raised (counted as failed). While
        accounting, the span gets the call's Spark usage and `trace_s`, the
        time the accounting itself took (the tracing overhead)."""
        self.attempted += 1
        if self.accounting:
            t = time.perf_counter()
            mark = self.ledger.mark()
            trace_s = time.perf_counter() - t
        with self.tracer.span(name) as s:
            try:
                with self.tracer.span(name + ".construct"):
                    df = construct()
                with self.tracer.span(name + ".execute"):
                    out = execute(df)
            except Exception:
                self.fail(f"{name}: {traceback.format_exc(limit=3)}")
                s.attrs["error"] = True
                return None
            finally:
                if self.accounting:
                    t = time.perf_counter()
                    s.attrs.update(self.ledger.usage(self.ledger.since(mark)))
                    s.attrs["trace_s"] = trace_s + time.perf_counter() - t
        return df, out

    def passes(self, one_pass, min_passes: int) -> list:
        """Timed passes until `seconds` have elapsed and at least `min_passes`
        ran; in a traced run every pass is accounted."""
        done = []
        t0 = time.perf_counter()
        self.accounting = self.trace
        while len(done) < min_passes or time.perf_counter() - t0 < self.seconds:
            with self.tracer.span("pass") as s:
                one_pass()
            done.append(s)
        self.accounting = False
        return done

    def ops_of(self, pass_span) -> dict:
        return {c.name: c for c in self.tracer.children(pass_span)}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _phase(bench: Bench, op_span, suffix: str) -> float:
    """Duration of an operation's construct or execute phase (0 if the
    operation failed before reaching it)."""
    return next((c.duration for c in bench.tracer.children(op_span)
                 if c.name.endswith(suffix)), 0.0)


def pass_metrics(bench: Bench, passes: list, names) -> tuple[dict, dict]:
    """Pass wall figures and, in a traced run, the generic per-layer figures
    of the operations `names`: construct/execute time, Spark usage and the
    accounting time (trace.overhead_s), each summed per pass, median over
    passes."""
    walls = [p.duration for p in passes]
    bench.samples["pass_s"] = walls
    e2e = {
        "pass_s.p50": (median(walls), "s"),
        "pass_s.max": (percentile(walls, 100), "s"),
        "pass_s.n": (len(walls), "count"),
    }
    layer = {}
    if bench.trace:
        def per_pass(fn):
            return median([sum(fn(s) for n, s in bench.ops_of(p).items() if n in names)
                            for p in passes])

        layer = {
            "construct_s": (per_pass(lambda s: _phase(bench, s, ".construct")), "s"),
            "execute_s": (per_pass(lambda s: _phase(bench, s, ".execute")), "s"),
            "spark.jobs": (per_pass(lambda s: s.attrs["jobs"]), "count"),
            "spark.stages": (per_pass(lambda s: s.attrs["stages"]), "count"),
            "spark.tasks": (per_pass(lambda s: s.attrs["tasks"]), "count"),
            "spark.failed_tasks": (per_pass(lambda s: s.attrs["failed_tasks"]), "count"),
            "trace.overhead_s": (per_pass(lambda s: s.attrs["trace_s"]), "s"),
        }
    return e2e, layer


def op_metrics(bench: Bench, passes: list, name: str) -> dict:
    """<name>.construct_s / execute_s (median over passes) and, from a traced
    run, <name>.jobs / stages / tasks of its last pass (they repeat exactly
    from pass to pass)."""
    spans = [bench.ops_of(p)[name] for p in passes]
    out = {
        f"{name}.construct_s": (median([_phase(bench, s, ".construct") for s in spans]), "s"),
        f"{name}.execute_s": (median([_phase(bench, s, ".execute") for s in spans]), "s"),
    }
    if bench.trace:
        for k in ("jobs", "stages", "tasks"):
            out[f"{name}.{k}"] = (spans[-1].attrs[k], "count")
    return out


def _all_ok(bench: Bench, passes: list, names) -> bool:
    return all(n in bench.ops_of(p) and not bench.ops_of(p)[n].attrs.get("error")
               for p in passes for n in names)


# --------------------------------------------------------------------------
# pip_flagship
# --------------------------------------------------------------------------
def pip_flagship(bench: Bench, seed: int, cores: int, workdir: str) -> dict:
    """Cell encode + PIP join + per-polygon count over seeded image points
    (persisted in set-up) against 200 seeded polygons. The polygon cover is
    built once in set-up, as bench.py does: a pass times the point side."""
    from pyspark.sql import functions as F

    import inputs
    import oracles
    from engine import cells, joins, schema

    spark = bench.spark
    with bench.tracer.span("setup.inputs"):
        pts = inputs.image_points(spark, seed, N_IMAGES, PIP_TASKS_PER_CORE * cores).persist()
        pts.count()
        poly_rows = inputs.polygon_rows(seed)
        polys = spark.createDataFrame(poly_rows, schema=schema.POLYGONS)
    with bench.tracer.span("setup.oracle"):
        want = oracles.pip_counts(*inputs.np_image_points(seed, N_IMAGES), poly_rows)
    built_id = len(bench.tracer.spans)
    built = bench.op("joins.build_pip_cover", lambda: joins.build_pip_cover(polys),
                     lambda cover: None)
    if built is None:
        raise RuntimeError(bench.errors[-1])
    cover = built[0]
    counts = {}

    def one_pass():
        r = bench.op(
            "joins.pip_join",
            lambda: joins.pip_join(pts, polys, cover=cover)
            .groupBy("poly_id").agg(F.count("*").alias("n")),
            lambda df: {int(x["poly_id"]): int(x["n"]) for x in df.collect()},
        )
        if r is None:
            return
        counts.update(r[1])
        if r[1] != want:
            bench.fail(f"pip counts differ from the numpy ray cast in "
                       f"{sum(r[1].get(k) != v for k, v in want.items())} polygons")

    with bench.tracer.span("setup.warmup"):  # codegen, broadcast, JIT
        for _ in range(PIP_WARMUP_PASSES):
            one_pass()
    setup_end = time.perf_counter()
    passes = bench.passes(one_pass, MIN_PASSES["pip_flagship"])
    names = ("joins.pip_join",)
    e2e, layer = pass_metrics(bench, passes, names)
    e2e["pip.images_per_s"] = (N_IMAGES / e2e["pass_s.p50"][0], "1/s")
    report = {}
    if bench.trace and _all_ok(bench, passes, names):
        report.update(op_metrics(bench, passes, "joins.pip_join"))
        report["joins.build_pip_cover_s"] = (bench.tracer.spans[built_id].duration, "s")
        report["joins.cover_rows"] = (cover.count(), "count")
        cand = joins.pip_join(pts, polys, cover=cover, exact=False).count()
        report["joins.refine_hit_ratio"] = (sum(counts.values()) / cand, "ratio")
        enc = []
        for _ in range(3):
            t = time.perf_counter()
            noop(pts.select(cells.grid_encode_phash(F.col("phash"), ENCODE_RES)))
            enc.append(time.perf_counter() - t)
        report["cells.grid_encode_s"] = (median(enc), "s")
    inputs_desc = {"images": N_IMAGES, "image_key0": inputs.image_key0(seed),
                   "polygons": len(poly_rows), "polygons_seed": seed}
    return dict(e2e=e2e, layer=layer, report=report, setup_end=setup_end,
                inputs=inputs_desc)


# --------------------------------------------------------------------------
# registry_iter
# --------------------------------------------------------------------------
def registry_iter(bench: Bench, seed: int, cores: int, workdir: str) -> dict:
    """knn, routing and raster_field from __spark_entry__.queries(): each
    query is constructed, then written to the noop sink."""
    import os

    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    import inputs
    import oracles
    from tools.check_oracle import canonicalize

    spark = bench.spark
    sf_dir = os.path.join(workdir, "registry")
    os.makedirs(sf_dir)
    with bench.tracer.span("setup.inputs"):
        tables = inputs.write_registry_tables(sf_dir, seed)
    with bench.tracer.span("setup.oracle"):
        want = oracles.registry_digests(sf_dir, list(QUERIES))
    fns = entry_mod.queries()

    def run(q, execute):
        try:
            return bench.op(f"entry.{q}", lambda: fns[q](spark, sf_dir), execute)
        finally:
            spark.catalog.clearCache()  # queries persist intermediates

    # warm-up pass: the same queries collected and checked against DuckDB
    tags = []
    with bench.tracer.span("setup.warmup"):
        for q in QUERIES:
            r = run(q, lambda df: df.toPandas())
            if r is None:
                continue
            got = canonicalize(r[1])
            if got != want[q]:
                bench.fail(f"{q}: spark rows={got[0]} hash={got[2]} vs oracle "
                           f"rows={want[q][0]} hash={want[q][2]}")
            if q == "raster_field":
                tags = sorted(set(r[1]["tag"]))
    setup_end = time.perf_counter()

    def one_pass():
        for q in QUERIES:
            run(q, noop)

    passes = bench.passes(one_pass, MIN_PASSES["registry_iter"])
    names = [f"entry.{q}" for q in QUERIES]
    e2e, layer = pass_metrics(bench, passes, names)
    for q in QUERIES:
        e2e[f"query_s.{q}"] = (median(
            [bench.ops_of(p)[f"entry.{q}"].duration for p in passes]), "s")
    report = {}
    if bench.trace and _all_ok(bench, passes, names):
        for q in QUERIES:
            report.update(op_metrics(bench, passes, f"entry.{q}"))
        df = fns["raster_field"](spark, sf_dir)
        for tag in tags:
            t = time.perf_counter()
            noop(df.filter(F.col("tag") == tag))
            report[f"terrain.raster_field.{tag}.execute_s"] = (time.perf_counter() - t, "s")
        spark.catalog.clearCache()
    inputs_desc = {"tables": tables, "seed_applies": True,
                   "note": "key ranges [first, rows] generated from the seed"}
    return dict(e2e=e2e, layer=layer, report=report, setup_end=setup_end,
                inputs=inputs_desc)


# --------------------------------------------------------------------------
# gate_sides
# --------------------------------------------------------------------------
def gate_sides(bench: Bench, seed: int, cores: int, workdir: str) -> dict:
    """connected_components and shortest_paths on seeded edge lists, each at
    one size below and one above its 1M-edge driver gate."""
    import numpy as np

    import inputs
    import oracles
    from engine import graph, routing

    spark = bench.spark
    rng = np.random.default_rng([seed, 13])
    frames, arrays = {}, {}
    with bench.tracer.span("setup.inputs"):
        for op, sizes in (("cc", CC_EDGES), ("sssp", SSSP_EDGES)):
            for side, n in sizes.items():
                e = inputs.edges(spark, seed, inputs.edge_ids_for(n), 2 * cores).persist()
                pdf = e.toPandas()
                frames[op, side] = e
                arrays[op, side] = tuple(pdf[c].to_numpy() for c in ("u", "v", "w"))
    sources = {
        side: [(k, int(x) * inputs.TREE) for k, x in enumerate(rng.choice(
            inputs.edge_ids_for(n) // inputs.TREE, N_SOURCES, replace=False))]
        for side, n in SSSP_EDGES.items()
    }
    src_frames = {side: spark.createDataFrame(s, "source_id long, node long")
                  for side, s in sources.items()}

    def cc(e):
        return lambda: graph.connected_components(e, "u", "v")

    def sssp(e, s):
        return lambda: routing.shortest_paths(e, s, src="u", dst="v", w="w",
                                              max_rounds=16)

    calls = {}
    for side in ("below", "above"):
        calls[f"graph.cc.{side}"] = cc(frames["cc", side])
        calls[f"routing.sssp.{side}"] = sssp(frames["sssp", side], src_frames[side])
    results = {}

    def one_pass():
        for name, fn in calls.items():
            r = bench.op(name, fn, noop)
            results[name] = r and r[0]

    # warm-up at about a tenth of the size: both driver paths, codegen and
    # JIT, no gate crossed
    with bench.tracer.span("setup.warmup"):
        small = inputs.edges(spark, seed, inputs.edge_ids_for(100_000), cores).persist()
        bench.op("warmup.cc", cc(small), noop)
        bench.op("warmup.sssp", sssp(small, src_frames["below"]), noop)
    setup_end = time.perf_counter()
    passes = bench.passes(one_pass, MIN_PASSES["gate_sides"])

    # checks on the last pass's outputs, outside the timed region
    for name, df in results.items():
        if df is None:
            continue
        side = name.rsplit(".", 1)[1]
        if name.startswith("graph.cc"):
            u, v, _ = arrays["cc", side]
            ids, comp = oracles.component_labels(u, v)
            got = df.toPandas().sort_values("id")
            if not (np.array_equal(got["id"].to_numpy(), ids)
                    and np.array_equal(got["comp"].to_numpy(), comp)):
                bench.fail(f"{name}: labels differ from the numpy union-find")
        else:
            u, v, w = arrays["sssp", side]
            want = oracles.shortest_paths(u, v, w, sources[side])
            got = {(int(r.source_id), int(r.node)): (int(r.dist), int(r.hops))
                   for r in df.collect()}
            if got != want:
                bench.fail(f"{name}: {len(set(got.items()) ^ set(want.items()))} "
                           f"labels differ from the numpy relaxation")

    names = list(calls)
    e2e, layer = pass_metrics(bench, passes, names)
    for name in names:
        op, side = name.split(".")[1:]
        e2e[f"{op}_s.{side}"] = (median([bench.ops_of(p)[name].duration for p in passes]), "s")
    report = {}
    if bench.trace and _all_ok(bench, passes, names):
        for name in names:
            m = op_metrics(bench, passes, name)
            report.update({k: v for k, v in m.items()
                           if not k.endswith((".stages", ".tasks"))})
            jobs = m[f"{name}.jobs"][0]
            report[f"{name}.side"] = (
                "driver" if jobs <= DRIVER_PATH_MAX_JOBS else "distributed", "path")
    inputs_desc = {
        "cc_edges": {s: len(arrays["cc", s][0]) for s in CC_EDGES},
        "sssp_edges": {s: len(arrays["sssp", s][0]) for s in SSSP_EDGES},
        "sssp_sources": N_SOURCES, "edge_hash_seed": seed,
    }
    return dict(e2e=e2e, layer=layer, report=report, setup_end=setup_end,
                inputs=inputs_desc)


# --------------------------------------------------------------------------
# ingest_units
# --------------------------------------------------------------------------
def ingest_units(bench: Bench, seed: int, cores: int, workdir: str) -> dict:
    """jobs/run_pipeline.py over a seeded --images parquet into a fresh
    iceberg_lite table (cell-range units: encode + PIP + aggregate + append +
    checkpoint), the same --run-id again (resume), then pruned reads."""
    import os
    import subprocess
    import sys

    import numpy as np
    from pyspark.sql import functions as F

    import inputs
    import oracles
    from engine import iceberg_lite, synth

    spark = bench.spark
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    images = os.path.join(workdir, "images.parquet")
    table_dir = os.path.join(workdir, "table")
    with bench.tracer.span("setup.inputs"):
        inputs.image_points(spark, seed, INGEST_IMAGES, 2 * cores).select(
            "image_id", "phash").write.parquet(images)
    # the job's polygons are the fixed seed-42 fixture (synth.polygons_df);
    # the expected aggregate has one row per distinct (cell, polygon) pair
    with bench.tracer.span("setup.oracle"):
        polys = [r.asDict(recursive=True) for r in synth.polygons_df(
            spark, p=200, hot_frac=0.1, radius_scale=2.0).collect()]
        x, y = inputs.np_image_xy(seed, INGEST_IMAGES)
        ix, iy = x >> (32 - INGEST_RES), y >> (31 - INGEST_RES)
        lon, lat = inputs.np_image_points(seed, INGEST_IMAGES)
        want_rows = sum(
            len(np.unique(ix[idx] * (1 << 32) + iy[idx]))
            for idx in oracles.pip_pairs(lon, lat, polys).values()
        )
    cmd = [sys.executable, os.path.join(root, "jobs", "run_pipeline.py"),
           "--images", images, "--out", table_dir, "--run-id", "perfbench",
           "--res", str(INGEST_RES), "--cell-splits", str(INGEST_UNITS)]
    table = iceberg_lite.Table(table_dir)
    setup_end = time.perf_counter()

    def job(name):
        return bench.op(
            name,
            lambda: subprocess.run(cmd, capture_output=True, text=True, check=True),
            lambda proc: None,
        )

    # the job's own session start counts: that is what a spark-submit user pays
    if job("jobs.run_pipeline") is None:
        raise RuntimeError("run_pipeline failed: " + bench.errors[-1])
    sid = table.current_snapshot_id()
    job("jobs.run_pipeline.resume")
    if table.row_count() != want_rows:
        bench.fail(f"table rows {table.row_count()} != aggregate rows {want_rows}")
    if table.current_snapshot_id() != sid:
        bench.fail("the resume run committed a new snapshot")

    snap = table.snapshot()
    files = snap["files"]
    ranges = sorted(tuple(f["partition_ranges"]["cell"]) for f in files)
    picks = [ranges[i] for i in np.random.default_rng([seed, 17]).choice(
        len(ranges), min(INGEST_READS, len(ranges)), replace=False)]
    names = [f"iceberg.read.{i}" for i in range(len(picks))]
    read_files, got = [], []

    def one_pass():
        for name, (lo, hi) in zip(names, picks):
            r = bench.op(
                name,
                lambda: table.read(spark, prune={"cell": (lo, hi)})
                .filter(F.col("cell").between(lo, hi)),
                lambda df: sorted(map(tuple, df.collect())),
            )
            if r is not None:
                read_files.append(len(r[0].inputFiles()) / len(files))
                got.append(((lo, hi), r[1]))

    passes = bench.passes(one_pass, MIN_PASSES["ingest_units"])
    full = table.read(spark)
    for (lo, hi), rows in got:
        if rows != sorted(map(tuple, full.filter(F.col("cell").between(lo, hi)).collect())):
            bench.fail(f"pruned read of cells {lo}..{hi} differs from the filtered full read")

    def wall(name):
        return next(s.duration for s in bench.tracer.spans if s.name == name)

    reads = [s.duration for p in passes for s in bench.tracer.children(p)]
    bench.samples["read_s"] = reads
    e2e, layer = pass_metrics(bench, passes, names)
    e2e["ingest.images_per_s"] = (INGEST_IMAGES / wall("jobs.run_pipeline"), "1/s")
    e2e["resume_s"] = (wall("jobs.run_pipeline.resume"), "s")
    e2e["read_s.p50"] = (median(reads), "s")
    units = table.checkpoint_load("perfbench")["units"].values()
    snap_json = os.path.join(table_dir, "metadata", f"snap-{snap['snapshot_id']}.json")
    report = {
        "iceberg.unit_s": (median([u["metrics"]["elapsed_sec"] for u in units]), "s"),
        "iceberg.bytes_per_row": (
            sum(f["bytes"] for f in files) / sum(f["rows"] for f in files), "B"),
        "iceberg.files_written": (len(files), "count"),
        "iceberg.last_snapshot_json_bytes": (os.path.getsize(snap_json), "B"),
        "iceberg.read_files_frac": (median(read_files), "ratio"),
    }
    inputs_desc = {"images": INGEST_IMAGES, "image_key0": inputs.image_key0(seed),
                   "units": INGEST_UNITS, "reads": len(picks),
                   "polygons": "run_pipeline's fixed seed-42 fixture"}
    return dict(e2e=e2e, layer=layer, report=report, setup_end=setup_end,
                inputs=inputs_desc)


WORKLOADS = {
    "pip_flagship": pip_flagship,
    "registry_iter": registry_iter,
    "gate_sides": gate_sides,
    "ingest_units": ingest_units,
}
