"""End-to-end benchmark of the OAI-PMH aggregator.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The command generates its inputs from the
seed, sets the program up, drives it for ``--seconds`` through its public
entry points, checks every output and prints, as the last line of
standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
wrappers around the program's public functions record spans and the
metrics are the per-layer ones (see README.md). The line before it holds
the workload's own named metrics. Wrong outputs make the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("point_requests", "ingest_sweeps")
PACKAGE = "cessda_cdc_aggregator_oai_pmh_repo_handler_spark"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _per_layer() -> list[dict]:
    """The per-layer metrics BENCHMARK.json names, each with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict, bool]:
    import harness
    import layers
    import serving
    import sweeps
    from tracing import Tracer

    t0 = time.perf_counter()
    spark = harness.start_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark) if args.trace else None
    workload = {"point_requests": serving.point_requests,
                "ingest_sweeps": sweeps.ingest_sweeps}[args.workload]
    try:
        res = workload(spark, work, args.seed, args.seconds, tracer)
        checks = res["checks"]
        if tracer is not None:
            tracer.uninstall()
            tracer.drain()
            if args.workload == "ingest_sweeps":
                lay = layers.ingest_layers(tracer, res)
                checks.record(lay["ingest.quarantined_rows"] == res["malformed_events"],
                              f"quarantined {lay['ingest.quarantined_rows']} rows, "
                              f"landed {res['malformed_events']} malformed events")
            else:
                lay = layers.serving_layers(tracer, res)
        rss = harness.peak_rss_mb(spark)
    finally:
        _stop_jvm(spark)

    e2e = {
        "setup_s": harness.metric(session_s + res["setup_s"], "s"),
        "work_per_s": harness.metric(res["work_per_s"], "1/s"),
    }
    detail = dict(res["detail"])
    detail["fail_ratio"] = harness.metric(checks.failed / checks.attempted, "ratio")
    # reported, but not end-to-end metrics: work_per_s carries the
    # latency, and the peak RSS spread up to 0.26 between runs (README.md,
    # "End-to-end metrics")
    detail["latency_ms_iqm"] = harness.metric(res["latency_ms_iqm"], "ms")
    detail["peak_rss_mb"] = harness.metric(rss, "MB")
    detail["setup_s"] = e2e["setup_s"]
    detail["setup_parts"] = harness.metric(
        {"session_s": session_s, **res["setup_parts"]}, "s")
    if tracer is None:
        metrics = e2e
    else:
        lay["traced.latency_ms_iqm"] = res["latency_ms_iqm"]
        lay["traced.work_per_s"] = res["work_per_s"]
        metrics = {m["name"]: harness.metric(lay.get(m["name"], 0), m["unit"])
                   for m in _per_layer()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace_{args.workload}_s{args.seed}.json"),
                    metrics)
    for why in checks.reasons:
        print(f"check failed: {why}", file=sys.stderr)
    result = {"correct": checks.failed == 0, "attempted": checks.attempted,
              "failed": checks.failed, "metrics": metrics}
    return result, {"workload": args.workload, "seed": args.seed,
                    "detail": detail}, checks.failed == 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found beside {HERE}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sys.path.insert(0, ROOT)
    import harness

    harness.configure_env(ROOT, work)
    try:
        result, detail, ok = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
