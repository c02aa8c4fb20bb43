"""spark-graft benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload pip_flagship --seed 1 --seconds 10 --trace 0

Workloads: pip_flagship and registry_iter (listed in BENCHMARK.json, which
says why each exists), gate_sides and ingest_units (run by name only; see
workloads.py). Load model: closed loop, one client — a single driver thread
runs one pass after another on a `get_spark` session at
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may use).

The last stdout line is the result:
    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}
with the end_to_end metrics of BENCHMARK.json (--trace 0) or its per_layer
metrics (--trace 1). The line before it is {"report": ...}: every metric the
workload measured, by name and unit (including failed_frac and the
workload-specific ones), the host record and the input description. A traced
run also writes its spans as JSON lines under .perfbench_work/traces/.

Everything the run writes (seeded inputs, Spark scratch and checkpoints)
stays under .perfbench_work/ in the checkout and is removed at exit, except
the trace files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the run must end (and clean up) before an outside limit of 180 s
DEADLINE_S = 170


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "engine" / "session.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    # the pandas-UDF workers import `engine`: the repo root must be on the
    # PYTHONPATH the session (and its workers) start with
    cpus = _cpus()
    work = ROOT / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM this run starts keeps its scratch (and no perf-data file)
    # inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [str(HERE), str(ROOT)]
    import tempfile

    tempfile.tempdir = str(tmp)

    import workloads
    from harness import Tracer, check_name, check_unit, host_delta, host_snapshot

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    host0 = host_snapshot()
    spark = None
    try:
        from engine.session import get_spark

        tracer = Tracer()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cores=cpus)
        session_s = time.perf_counter() - t0
        bench = workloads.Bench(spark, args.seconds, bool(args.trace), tracer)
        res = workloads.WORKLOADS[args.workload](bench, args.seed, cpus, str(run_dir))
        host = host_delta(host0, host_snapshot())
        if args.trace:
            traces = work / "traces"
            traces.mkdir(exist_ok=True)
            trace_file = traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
            tracer.write_jsonl(str(trace_file))
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = dict(res["e2e"])
    metrics["setup_s"] = (res["setup_end"] - t0, "s")
    metrics["failed_frac"] = (bench.failed / max(bench.attempted, 1), "ratio")
    layer = dict(res["layer"])
    layer["session.get_spark_s"] = (session_s, "s")
    for s in tracer.spans:
        if s.parent is None and s.name.startswith("setup."):
            res["report"][f"{s.name}_s"] = (s.duration, "s")
    everything = {**metrics, **layer, **res["report"]}
    for name, (_, unit) in everything.items():
        check_name(name)
        check_unit(unit)

    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else metrics
    out = {m["name"]: {"value": source[m["name"]][0], "unit": source[m["name"]][1]}
           for m in listed}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cpus,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in everything.items()},
        "samples": bench.samples, "inputs": res["inputs"], "host": host,
        "errors": bench.errors,
    }
    if args.trace:
        report["trace_file"] = str(trace_file.relative_to(ROOT))
    for k, (v, u) in everything.items():
        print(f"{k:48s} {v!s:>24} {u}", file=sys.stderr)
    for e in bench.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": bench.failed == 0, "attempted": bench.attempted,
        "failed": bench.failed, "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
