#!/usr/bin/env python3
"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One workload per process, one client in
a closed loop, one local[nproc] Spark session. Inputs come from the seed;
every op's output is checked against an independent reference outside the
timed region.

Standard output: a ``{"report": ...}`` line (environment, sizes, every
metric's median / quartiles / tail with sample counts, check details),
then, as the last line, ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Traced runs also write their spans to
``.perfbench_work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("crawl_epochs", "admit_burst")

# name -> unit; keep in step with BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "jvm_peak_rss_mb": "MiB",
}
PER_LAYER = {
    "op.jobs": "count",
    "op.driver_self_s": "s",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "admission.batch_share": "frac",
    "snapshot.admitted_write_share": "frac",
    "snapshot.commit_share": "frac",
    "snapshot.maintenance_share": "frac",
    "snapshot.frontier_rewrite_share": "frac",
    "snapshot.filter_advance_share": "frac",
    "snapshot.bytes_written": "bytes",
    "snapshot.files_written": "count",
    "snapshot.dirty_parts": "count",
    "snapshot.catalog_mb": "MiB",
    "fetch.select_fetch_share": "frac",
    "fetch.rows": "count",
    "fetch.ok_frac": "frac",
    "extract.span_rows_share": "frac",
    "extract.span_rows": "count",
    "frontier.successors_share": "frac",
    "frontier.emitted_rows": "count",
    "urls.canonicalize_share": "frac",
    "dedup.within_batch_share": "frac",
    "dedup.filter_build_share": "frac",
    "dedup.filter_probe_share": "frac",
    "dedup.filter_fp_rate": "frac",
    "politeness.select_share": "frac",
    "politeness.selected_rows": "count",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median_of(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return statistics.median(vals) if vals else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    traced = bool(args.trace)
    sys.path.insert(0, harness.ROOT)
    import mediacrawler_spark  # noqa: F401  fails fast outside a checkout

    ws = harness.Workspace(args.workload, args.seed)
    ws.isolate_env()
    clock = harness.Clock(T_START)
    if args.workload == "crawl_epochs":
        import crawl as workload
    else:
        import admit as workload
    from tracer import Tracer

    spark = harness.start_spark(ws)
    try:
        pid = harness.jvm_pid(spark)
        env = harness.environment(spark, args.seed, args.workload, traced)
        tracer = Tracer(spark.sparkContext, enabled=False)
        res = workload.measure(spark, ws, args.seed, args.seconds, traced, clock, tracer)
        rss_mb = harness.peak_rss_mb(pid)
        spark.catalog.clearCache()
        if traced:
            trace_path = os.path.join(
                ws.traces, f"{args.workload}-seed{args.seed}.jsonl"
            )
            tracer.write(trace_path, clock.t0, env)
    finally:
        harness.stop_spark(spark)
        ws.cleanup()

    walls = res["op_walls"]
    samples = {
        "op_s": harness.summarize(walls),
        "setup_s": {"n": 1, "median": res["setup_s"]},
    }
    if traced:
        layers = res["layers"]
        metrics = {k: median_of(layers, k) for k in PER_LAYER}
        metrics["trace.op_p50_s"] = statistics.median(walls)
        metrics["trace.overhead_s"] = res["overhead_s"]
        metrics["snapshot.catalog_mb"] = res.get("catalog_mb", 0.0)
        units = PER_LAYER
        for k in PER_LAYER:
            vals = [r[k] for r in layers if k in r]
            if vals:
                samples[k] = harness.summarize(vals)
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "op_p50_s": statistics.median(walls),
            "items_per_s": res["items_per_s"],
            "jvm_peak_rss_mb": rss_mb,
        }
        units = END_TO_END

    report = {
        "env": env,
        "sizes": res["sizes"],
        "setup_phases": res["setup_phases"],
        "item": res["item"],
        "op_walls_s": walls,
        "samples": samples,
        "catalog_mb": res.get("catalog_mb"),
        "jvm_peak_rss_mb": rss_mb,
        "check": res["check"],
        "trace_file": os.path.relpath(trace_path, harness.ROOT) if traced else None,
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
