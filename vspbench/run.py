#!/usr/bin/env python3
"""Benchmark entry point.

    python3 vspbench/run.py --workload {olap,stream_live} --seed N \
        --seconds S --trace {0,1}

Runs one workload on ``local[<cores>]`` from the root of a checkout,
checks its outputs, and prints a report followed, as the last line of
standard output, by one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on the Spark event log and reports the per-layer
metrics instead. The exit code is non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap", "stream_live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import video_stream_processing_spark  # noqa: F401
    except ImportError as e:
        print(f"vspbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from vspbench import harness, olap, stream
    from vspbench.spans import PER_LAYER

    workloads = {"olap": olap.run, "stream_live": stream.run}
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = harness.Context(
        root=ROOT,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cores=len(os.sched_getaffinity(0)),
    )
    harness.configure_env(ctx)
    t0 = time.perf_counter()
    ctx.rss.start()
    try:
        res = workloads[args.workload](ctx)
        if ctx.trace:
            ctx.tracer.write(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        ctx.rss.stop()
        stragglers = harness.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)

    res["peak_rss_mb"] = ctx.rss.peak_mb
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cores": ctx.cores,
        "wall_s": time.perf_counter() - t0,
        "stragglers_stopped": stragglers,
        "peak_rss_split_mb": {k: v / 2**20 for k, v in ctx.rss.peak_split.items()},
        **{k: res[k] for k in END_TO_END},
        **res["report"],
    }
    if ctx.trace:
        report["self_s"] = ctx.tracer.self_times()
        report["tracing_overhead"] = _overhead(args, res)
        metrics = {k: {"value": float(res["per_layer"].get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        _save_untraced(args, res)
        metrics = {k: {"value": float(res[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}, indent=1, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if res["correct"] and res["failed"] == 0 else 1


def _last_path(workload: str) -> str:
    return os.path.join(ROOT, ".bench_work", f"last-untraced-{workload}.json")


def _save_untraced(args, res: dict) -> None:
    with open(_last_path(args.workload), "w") as fh:
        json.dump({"seed": args.seed, **{k: res[k] for k in END_TO_END}}, fh)


def _overhead(args, res: dict) -> dict:
    """Traced end-to-end numbers next to the last untraced run of the same
    workload in this checkout."""
    traced = {k: res[k] for k in END_TO_END}
    try:
        with open(_last_path(args.workload)) as fh:
            untraced = json.load(fh)
    except FileNotFoundError:
        return {"traced": traced, "untraced": None}
    return {
        "traced": traced,
        "untraced": untraced,
        "ratio": {k: traced[k] / untraced[k] for k in END_TO_END if untraced.get(k)},
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
