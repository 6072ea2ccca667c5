"""CDC sync benchmark: one command, three workloads.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository.  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``.  The lines
above it print each workload's own metric names with units and sample
counts.  See README.md for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_stream", "cdc_backfill", "query_mix")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores",
        type=int,
        default=0,
        help="local[N] width (default: all cores; 1 for the single-threaded baseline)",
    )
    p.add_argument("--catchup-only", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    missing = [
        p
        for p in ("monstache_spark/streaming/pipeline.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from harness import END_TO_END, Bench

    bench = Bench(
        root,
        args.workload,
        args.seed,
        args.seconds,
        bool(args.trace),
        args.cores or len(os.sched_getaffinity(0)),
    )
    tempfile.tempdir = None  # re-read TMPDIR, now inside the work dir
    try:
        import tracing

        tracer = tracing.Tracer(bench) if bench.trace else tracing.NULL
        if args.workload == "query_mix":
            import querymix

            res = querymix.query_mix(bench, tracer)
        else:
            import cdc

            if args.workload == "cdc_stream":
                res = cdc.cdc_stream(bench, tracer, catchup_only=args.catchup_only)
            else:
                res = cdc.cdc_backfill(bench, tracer)
        py_mb, jvm_mb = bench.peak_rss_mb()
        res.metrics["peak_rss_mb"] = py_mb + jvm_mb
        res.name("peak_rss_parts_mb", py_mb + jvm_mb, "MB", f"Python {py_mb:.0f} MB + driver JVM {jvm_mb:.0f} MB")
        if bench.trace:
            tracer.finish(res)
    finally:
        bench.close()
    if bench.trace and args.workload == "cdc_stream" and bench.cores > 1:
        res.layers["cdc.scale_ratio"] = tracing.scale_ratio(root, args, res)

    if args.catchup_only:  # the single-core baseline hands its numbers back
        print(json.dumps({"metrics": {k: {"value": v} for k, v in res.metrics.items()}}))
        return 0
    for name, (value, unit, note) in res.named.items():
        print(f"{name:28s} {value:14.4f} {unit:8s} {note}")
    if bench.trace:
        metrics = {k: {"value": v, "unit": tracing.PER_LAYER[k]} for k, v in res.layers.items()}
    else:
        metrics = {k: {"value": res.metrics[k], "unit": u} for k, u in END_TO_END.items()}
        for k, u in END_TO_END.items():
            print(f"{k:28s} {res.metrics[k]:14.4f} {u}")
    values = [m["value"] for m in metrics.values()]
    correct = res.failed == 0 and all(math.isfinite(v) for v in values)
    print(
        json.dumps(
            {"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
