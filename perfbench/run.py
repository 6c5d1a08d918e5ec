"""sketchlib benchmark: one command, three seeded workloads, oracle-checked.

    python3 perfbench/run.py --workload serve-states --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are made from ``--seed`` and cached
under ``.perfbench/cache``; each run works in ``.perfbench/work-<pid>`` and
removes it. The last line of standard output is one JSON object: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (spans are also written to ``.perfbench/traces``). The line before
it is a report with every latency series, its sample count and tail
percentile, the set-up parts and any failures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def tail_percentile(vals: list[float]) -> tuple[int, float] | None:
    """The highest listed percentile with at least ten samples beyond it."""
    import numpy as np

    for p in TAIL_PERCENTILES:
        if len(vals) * (100 - p) / 100 >= 10:
            return p, float(np.percentile(vals, p))
    return None


def start_spark(work: str, cores: int):
    """A local session whose temporary files all stay under ``work``."""
    from sketchlib.spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    from spans import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while process_tree()[1:] and time.time() < deadline:
        time.sleep(0.2)
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:  # exited meanwhile
            pass
    while process_tree()[1:]:
        time.sleep(0.1)


def check_names(metrics: dict, kind: str) -> None:
    """The metrics printed must be exactly those BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    printed = {name: m["unit"] for name, m in metrics.items()}
    if printed != declared:
        raise SystemExit(f"{kind} metrics differ from BENCHMARK.json: "
                         f"{sorted(set(printed.items()) ^ set(declared.items()))}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import inputs
    import workloads
    from spans import Tracer, is_jvm, jvm_live_heap_mb, median, peak_rss_mb, process_tree

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    run_fn, primary = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    seed_inputs = inputs.SeedInputs(os.path.join(state, "cache"), args.seed)
    tracer = Tracer(bool(args.trace))
    timeline = {"inputs": time.perf_counter() - T_START}
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        try:
            b = workloads.Bench(spark, args.seed, args.seconds, seed_inputs, work, tracer, cores)
            b.setup_parts["session"] = session_s
            timeline["session"] = time.perf_counter() - T_START
            run_fn(b)
            timeline["workload"] = time.perf_counter() - T_START
            jvm_heap_mb = jvm_live_heap_mb(spark)
            if args.trace:
                import probe

                probe.run_probes(b)
                timeline["probes"] = time.perf_counter() - T_START
            state_bytes = sum(
                os.path.getsize(os.path.join(d, f))
                for root in b.catalog_dirs if os.path.isdir(root)
                for d, _, fs in os.walk(root) for f in fs
            )
            pids = process_tree()
            rss = peak_rss_mb([p for p in pids if not is_jvm(p)])
            jvm_rss = peak_rss_mb([p for p in pids if is_jvm(p)])
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    timeline["stopped"] = time.perf_counter() - T_START

    setup_s = sum(b.setup_parts.values())
    attempted = b.attempted + len(b.misrouted)
    failed = b.failed + len(b.misrouted)
    series = {
        name: {"n": len(v), "p50_ms": median(v) * 1e3,
               **({f"p{tp[0]}_ms": tp[1] * 1e3} if (tp := tail_percentile(v)) else {})}
        for name, v in sorted(b.latencies.items())
    }
    report = {
        "workload": args.workload, "seed": args.seed, "clients": cores,
        "setup_parts_s": b.setup_parts,
        "series": series, "state_bytes": state_bytes, "jvm_peak_rss_mb": jvm_rss, **b.report,
        "timeline_s": timeline, "misrouted": b.misrouted, "failures": b.failures,
    }
    if args.trace:
        lat = b.latencies
        traced, untraced = lat.get(f"{primary}:traced"), lat.get(f"{primary}:untraced")
        overhead_ms = (median(traced) - median(untraced)) * 1e3 if traced and untraced else 0.0
        import probe

        metrics = probe.per_layer_metrics(b, overhead_ms, jvm_rss)
        trace_path = os.path.join(state, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
        tracer.write(trace_path)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_ms": {"value": median(b.latencies[primary]) * 1e3, "unit": "ms"},
            "ops_per_s": {"value": b.ops_per_s, "unit": "1/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "jvm_live_heap_mb": {"value": jvm_heap_mb, "unit": "MB"},
            "ok_frac": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
    check_names(metrics, "per_layer" if args.trace else "end_to_end")
    print("perfbench-report " + json.dumps(report, default=float))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
