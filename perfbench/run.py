"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload build|serve|refresh|all \\
        --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its seeded inputs, sets up,
measures in a closed loop (``serve`` for ``--seconds`` seconds, ``build``
and ``refresh`` a fixed number of operations), checks the engine's
outputs and prints one ``name value unit`` line per metric, the checks, and
as the last line one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
makes a traced run and reports the per-layer metrics and the tracing
overhead, and writes its spans to ``.perfbench/traces/``. ``--workload all``
runs the three workloads one after another.

Exit code 1 when a correctness check fails, 2 when the engine package is
not in the checkout. Temporary files stay under ``.perfbench/`` and are
removed at the end of the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "flume_elasticsearch_2_spark"
WORKLOADS = ("build", "serve", "refresh")
JVM_HEAP = "2g"

# name -> unit; BENCHMARK.json lists the same metrics
END_TO_END = {
    "setup_s": "s",
    "peak_memory_mb": "MB",
    "index_bytes_per_doc": "bytes",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}
PER_LAYER = {
    "pipeline.prepare_s": "s",
    "build_index.segments_s": "s",
    "build_index.shuffle_write_bytes": "bytes",
    "pipeline.dedup_dropped": "count",
    "build_index.n_postings": "count",
    "codec.bytes_per_posting": "bytes",
    "query_index.meta_ms": "ms",
    "query_index.read_ms": "ms",
    "query_index.score_ms": "ms",
    "query_index.gather_ms": "ms",
    "query_index.shards_per_query": "count",
    "query_index.read_bytes_per_query": "bytes",
    "build_index.gen_build_s": "s",
    "merge.merge_s": "s",
    "merge.write_amplification": "ratio",
    "merge.tombstones": "count",
    "query_index.batch_s": "s",
    "trace.overhead_pct": "%",
}
# what the generic throughput and latency mean on each workload
WORKLOAD_NAMES = {
    "build": ("build_docs_per_s", "build_ms"),
    "serve": ("queries_per_s", "query_ms"),
    "refresh": ("cycle_docs_per_s", "cycle_ms"),
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args: argparse.Namespace) -> int:
    worst = 0
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        print(f"== {w}", flush=True)
        worst = max(worst, subprocess.run(cmd, cwd=ROOT).returncode)
    return worst


def _spark(args: argparse.Namespace, run_dir: str):
    from flume_elasticsearch_2_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    # A fixed, pre-touched JVM heap: a growing heap's resident size followed
    # the collector's sizing decisions and made resident memory swing by a
    # fifth between runs. Peak memory counts the heap by its peak use instead
    # (procs.PeakMemory).
    java_opts = [
        f"-Djava.io.tmpdir={run_dir}/tmp", "-XX:-UsePerfData",
        f"-Xms{JVM_HEAP}", "-XX:+AlwaysPreTouch",
    ]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the status REST API of the UI serves the traced run's stage metrics
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.memory": JVM_HEAP,
        "spark.driver.extraJavaOptions": " ".join(java_opts),
    }
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def measure(args: argparse.Namespace, run_dir: str):
    from perfbench import procs, workloads
    from perfbench.tracing import Tracer

    spark, cpus = _spark(args, run_dir)
    print(f"[perfbench {time.perf_counter() - T_START:7.2f} s] spark session up", file=sys.stderr)
    peak = procs.PeakMemory(spark)
    tracer = Tracer() if args.trace else None
    ctx = workloads.Context(
        spark=spark, work_dir=os.path.join(run_dir, "work"), seed=args.seed,
        seconds=args.seconds, t_start=T_START, tracer=tracer, peak_memory=peak,
    )
    os.makedirs(ctx.work_dir)
    try:
        if tracer is not None:
            workloads.install_tracing(ctx)
        outcome = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if tracer is not None:
            tracer.restore()
        peak.close()
        procs.stop_spark(spark)
    print(f"[perfbench] peak memory: JVM heap used {peak.heap_peak_bytes / 2**20:.0f} MB "
          f"of {peak.heap_committed_bytes / 2**20:.0f} MB committed; PSS by process (MB): "
          f"{sorted((round(b / 2**20), p) for p, b in peak.peak_detail.items())}", file=sys.stderr)
    if tracer is not None:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    return outcome, peak.peak_mb, cpus


def latencies(ops) -> list[float]:
    """Per-operation latency (s); a failed operation misses every limit."""
    from perfbench.workloads import LIMIT_MISSED_S

    return [o.latency_s if o.ok else LIMIT_MISSED_S for o in ops]


def end_to_end(outcome, peak_mb: float) -> dict[str, float]:
    import numpy as np

    ops = outcome.ops
    lat = latencies(ops)
    work = sum(outcome.work_per_op(o) for o in ops if o.ok)
    return {
        "setup_s": outcome.setup_s,
        "peak_memory_mb": peak_mb,
        "index_bytes_per_doc": outcome.index_bytes_per_doc,
        "throughput_per_s": work / sum(o.latency_s for o in ops),
        "latency_p50_ms": 1e3 * float(np.percentile(lat, 50)),
    }


def report(args: argparse.Namespace, outcome, peak_mb: float, cpus: int) -> bool:
    """Print the metric lines and the result line; True when every check
    passed."""
    import numpy as np

    from perfbench.workloads import overhead_pct

    ops = outcome.ops
    failed = sum(1 for o in ops if not o.ok)
    e2e = end_to_end(outcome, peak_mb)
    rate_name, lat_name = WORKLOAD_NAMES[args.workload]
    print(
        f"# {args.workload}: seed {args.seed}, local[{cpus}], {len(ops)} operations "
        f"in {sum(o.latency_s for o in ops):.2f} s, trace {args.trace}"
    )
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {END_TO_END[name]}")
    print(f"{rate_name} {e2e['throughput_per_s']:.6g} 1/s")
    print(f"{lat_name}_p50 {e2e['latency_p50_ms']:.6g} ms (n={len(ops)})")
    # the tail is printed, not bounded: its run-to-run spread on a shared
    # machine exceeds the largest bound a metric may have
    for q in (90, 95):
        print(f"{lat_name}_p{q} {1e3 * float(np.percentile(latencies(ops), q)):.6g} ms (n={len(ops)})")
    print(f"error_rate {failed / len(ops):.6g} ratio ({failed} of {len(ops)} failed)")
    for name, (value, unit) in outcome.extra.items():
        print(f"{name} {value:.6g} {unit}")

    if args.trace:
        layer = {name: float(outcome.per_layer.get(name, 0.0)) for name in PER_LAYER}
        layer["trace.overhead_pct"] = overhead_pct(ops)
        unknown = set(outcome.per_layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        for name, value in layer.items():
            print(f"{name} {value:.6g} {PER_LAYER[name]}")
        metrics = {n: {"value": v, "unit": PER_LAYER[n]} for n, v in layer.items()}
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in e2e.items()}

    for name, ok, detail in outcome.checks:
        print(f"check {'ok' if ok else 'FAILED'}: {name} ({detail})")
    correct = bool(outcome.checks) and all(ok for _, ok, _ in outcome.checks)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return correct


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the engine from this checkout (not an installed
    # or zipped copy); temporary files of every process stay in the run dir
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # the short-lived JVM that builds the spark-submit command would leave
    # its perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # import perfbench as a package from the root, so its module names
    # cannot shadow top-level modules
    sys.path[0] = ROOT
    try:
        outcome, peak_mb, cpus = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if report(args, outcome, peak_mb, cpus) else 1


if __name__ == "__main__":
    sys.exit(main())
