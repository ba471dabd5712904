"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a checkout and prints, as the last line
of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Every workload reports
the same metrics: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separate traced run.  The line
before it carries the host descriptor and run details.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, eventlog  # noqa: E402

# workload -> the module that runs it
WORKLOADS = {"bulkload": "bulkload", "analytic": "analytic", "serve_read": "serve", "serve_mixed": "serve"}
END_TO_END = ("setup_s", "peak_rss_mb", "success_ratio", "pass_s", "op_geomean_ms")
PER_LAYER = ("traced.pass_s",) + tuple(name for name, _, _ in eventlog.LAYERS)


def op_geomean_ms(passes: list[dict]) -> float:
    """Geometric mean, over the kinds of operation, of each kind's median
    wall: every kind weighs the same, however small its share of a pass."""
    by_kind: dict[str, list[float]] = {}
    for p in passes:
        for kind, ms in p["ops"]:
            by_kind.setdefault(kind, []).append(ms)
    return math.exp(sum(math.log(common.median(v)) for v in by_kind.values()) / len(by_kind))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] width; defaults to, and may not exceed, the cores this process may use")
    args = ap.parse_args(argv)

    try:
        common.require_program()
        cpus = common.check_width(args.cpus or common.nproc())
    except common.BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    t_begin = time.perf_counter()
    steal_begin = common.cpu_steal_s()
    module = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    work = common.WorkDir(args.workload)
    common.isolate_env(work)
    spark = None
    try:
        with common.PeakRss() as rss:
            if getattr(module, "NEEDS_SPARK", True):
                spark = common.start_spark(work, cpus, bool(args.trace), f"perfbench-{args.workload}")
                java = common.java_version(spark)
                t_session = time.perf_counter()
                res = module.run(spark, work, args.seed, args.seconds, bool(args.trace))
                t_run = time.perf_counter()
                common.stop_spark(spark)
                spark = None
                res["info"]["phases_s"] = {"session": t_session - t_begin, "run": t_run - t_session,
                                           "stop": time.perf_counter() - t_run}
            else:
                res = module.run(args.workload, work, cpus, args.seed, args.seconds, bool(args.trace))
                java = res["info"].get("java")
    except common.BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            common.stop_spark(spark)
        work.close()

    attempted, failed = res["attempted"], res["failed"]
    passes = res["passes"]
    metrics = {
        "setup_s": (common.median(res["setup_walls_s"]), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "success_ratio": (1.0 - failed / attempted, "ratio"),
    }
    if passes:
        metrics["pass_s"] = (common.median([p["wall_s"] for p in passes]), "s")
        metrics["op_geomean_ms"] = (op_geomean_ms(passes), "ms")
    layers = dict(res.get("layers") or {})
    if args.trace and layers and passes:
        layers["traced.pass_s"] = metrics["pass_s"]
    source, wanted = (layers, PER_LAYER) if args.trace else (metrics, END_TO_END)
    printed = {k: source[k] for k in wanted if k in source}
    correct = attempted >= 1 and failed == 0 and len(printed) == len(wanted)

    res["info"]["cpu_steal_s"] = common.cpu_steal_s() - steal_begin
    res["info"]["rss_at_peak_mb"] = rss.at_peak
    res["info"]["pass_walls_s"] = [p["wall_s"] for p in passes]
    print(json.dumps({
        "host": common.host_descriptor(cpus, java),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": {k: v[0] for k, v in metrics.items()},
        "info": res.get("info"),
        "trace_detail": res.get("detail"),
    }, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in printed.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
