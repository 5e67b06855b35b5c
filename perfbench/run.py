"""End-to-end benchmark of the engine: the finance ETL, the curation
funnel and a query mix, one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload finance_etl --seed 1 --seconds 8 --trace 0

Set-up starts the session, lands the seeded inputs and runs one warm-up
pass. The timed region then runs whole passes of the workload, as many
as it takes to fill ``--seconds`` on a quiet 4-core host; every output
is checked against DuckDB afterwards. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics (from spans
around the engine's public functions) with ``--trace 1``.
``--smoke`` shrinks every input; ``--plant-fault`` corrupts one output
before the gates run, so a test can see them fail.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

#: Input sizes per workload, and the ``--smoke`` sizes.
SIZES = {
    "finance_etl": {"tickers": 200, "days": 1260, "batches": 5},
    "curation": {"docs": 600, "warm_docs": 100},
    "query_mix": {"scale": 1.0},
}
SMOKE = {
    "finance_etl": {"tickers": 30, "days": 120, "batches": 2},
    "curation": {"docs": 150, "warm_docs": 60},
    "query_mix": {"scale": 0.2},
}
#: A pass's wall time on a quiet 4-core host. A run makes
#: ceil(--seconds / this) passes: a fixed amount of work, so the pass
#: count cannot flip between runs on a noisy host.
NOMINAL_PASS_S = {"finance_etl": 11.0, "curation": 5.5, "query_mix": 6.0}
#: Times the input generation is repeated inside set-up; its median
#: enters setup_s.
GENERATE_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant-fault", action="store_true")
    return ap.parse_args(argv)


def isolate(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside ``run_dir``, and let the workers import the engine."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.chdir(run_dir)


def shutdown(spark, tree) -> None:
    """Stop the session and the JVM, then wait for every descendant."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # exited meanwhile
    while tree.descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    try:
        return start(args, spec, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def start(args, spec, run_dir: Path) -> int:
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    try:
        import ab  # noqa: F401
        import workloads  # noqa: F401 — imports the engine
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    from financial_data_pipeline_optimization_spark import get_spark
    from spans import ProcTree

    tree = ProcTree()
    # A fixed, pre-touched heap: the JVM's resident set does not depend
    # on when the collector decides to grow the heap.
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
        },
    )
    session_s = time.perf_counter() - T0
    try:
        return measure(args, spec, spark, session_s, tree, run_dir)
    finally:
        shutdown(spark, tree)


def measure(args, spec, spark, session_s, tree, run_dir) -> int:
    import workloads
    from ab import LoadSampler
    from oracle import OracleCache
    from spans import Tracer, jvm_gc_s

    sizes = (SMOKE if args.smoke else SIZES)[args.workload]
    wl = workloads.WORKLOADS[args.workload](
        spark, args.seed, run_dir, sizes, OracleCache(WORK / "oracle_cache")
    )

    generate_s = []
    for _ in range(GENERATE_REPS):
        t = time.perf_counter()
        wl.generate()
        generate_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t

    tracer = Tracer(spark) if args.trace else None
    if tracer is not None:
        wl.install(tracer)
        gc0 = jvm_gc_s(spark)
    load = LoadSampler(poll_s=1.0)
    tree.start()
    t_region = time.perf_counter()
    passes = []
    for i in range(max(1, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))):
        t = time.perf_counter()
        p = wl.run_pass(i)
        p.wall_s = time.perf_counter() - t
        passes.append(p)
    region_s = time.perf_counter() - t_region
    tree.stop()
    load.stop()
    if tracer is not None:
        gc_s = jvm_gc_s(spark) - gc0
        tracer.restore()

    problems = wl.check(passes, args.plant_fault)
    for msg in problems:
        print(f"perfbench: correctness gate failed: {msg}", file=sys.stderr)
    ops = [o for p in passes for o in p.ops]
    failed = sum(1 for o in ops if o.error)

    host = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "ext_cores_mean": load.ext_cores_mean,
        "steal_cores_mean": load.steal_cores_mean,
        "pass_s": [round(p.wall_s, 3) for p in passes],
        "ops": len(ops),
    }
    if tracer is None:
        lat = wl.op_latencies(passes)
        values = {
            "setup_s": session_s + statistics.median(generate_s) + warmup_s,
            "run_s": statistics.median(p.wall_s for p in passes),
            "op_p50_s": workloads.median(lat),
            "op_geomean_s": workloads.geomean(lat),
            "cpu_s": tree.cpu_s / len(passes),
            "peak_rss_mb": tree.peak_rss_mb,
        }
        names = spec["end_to_end"]
    else:
        values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        values.update(wl.layers(passes))
        values.update({
            "session.get_spark.wall_s": session_s,
            "setup.generate_s": statistics.median(generate_s),
            "setup.warmup_s": warmup_s,
            "jvm.gc_s": gc_s,
            "trace.overhead_frac": tracer.overhead_s / region_s,
            "trace.uncovered_s": region_s - sum(s.wall_s for s in tracer.roots),
        })
        names = spec["per_layer"]
        write_trace(args.workload, host, values, tracer)
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names
    }
    print("HOST " + json.dumps(host), flush=True)
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if not problems and failed == 0 else 1


def write_trace(workload: str, host: dict, values: dict, tracer) -> None:
    """Per-span totals of a traced run, sorted by self time, next to
    the per-layer metrics: ``.perfbench_work/trace_<workload>.json``."""
    from spans import own_totals

    table: dict[str, dict[str, float]] = {}
    for root in tracer.roots:
        for s in root.walk():
            row = table.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["wall_s"] += s.wall_s
            row["self_s"] += s.self_s
            own = own_totals(s)
            for k in ("jobs", "cpu_s", "shuffle_mb", "io_mb", "spill_mb"):
                row[f"self_{k}"] = row.get(f"self_{k}", 0.0) + own[k]
    spans = dict(sorted(table.items(), key=lambda kv: -kv[1]["self_s"]))
    out = WORK / f"trace_{workload}.json"
    out.write_text(json.dumps(
        {"host": host, "per_layer": values, "spans": spans}, indent=1
    ) + "\n")
    print(f"perfbench: span table written to {out}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
