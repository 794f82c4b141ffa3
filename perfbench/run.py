#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload analyst_sf0.1 --seed 1 --seconds 15 --trace 0

Run from the repository root.  The engine runs on ``local[nproc]`` with
its defaults; only ``cpus`` is passed to ``session.get_spark``.  With
``--trace 0`` the last stdout line carries the end-to-end metrics of
``metrics.END_TO_END``; with ``--trace 1`` the same run also tags Spark
jobs with per-span job groups and writes Spark's event log, and the line
carries the per-layer metrics of ``metrics.PER_LAYER`` instead.  The
traced run also writes its spans and layer self-time table to
``.perfbench/reports/``.  Inputs are generated from the seed and cached
under ``.perfbench/cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import ROOT, WORK, RssSampler, Tracer, fresh_dir, nproc, prepare_env, process_start_epoch  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("analyst_sf0.1", "alerts_stream")


class Ctx:
    """State of one run, shared by the workload's steps."""

    def __init__(self, args, run_dir: Path):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.run_dir = run_dir
        self.cores = nproc()
        self.tracer = Tracer()


def _workload(name: str):
    if name == "analyst_sf0.1":
        import analyst

        return analyst
    import alerts

    return alerts


def _stop_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args) -> dict:
    t_proc = process_start_epoch()
    if not (ROOT / "pulseboard_spark").is_dir():
        raise SystemExit(f"engine package pulseboard_spark not found under {ROOT}")
    run_dir = fresh_dir(WORK / f"run-{os.getpid()}")
    event_log = run_dir / "eventlog" if args.trace else None
    prepare_env(run_dir, event_log)
    sys.path.insert(0, str(ROOT))
    from pulseboard_spark.session import get_spark

    ctx = Ctx(args, run_dir)
    wl = _workload(args.workload)
    tr = ctx.tracer
    spark = None
    try:
        t = time.time()
        wl.prepare(ctx)
        ctx.inputs_s = time.time() - t
        with RssSampler() as rss:
            with tr.span("setup", op="setup"):
                with tr.span("session.start"):
                    spark = get_spark("perfbench", cpus=ctx.cores)
                spark.sparkContext.setLogLevel("ERROR")
                tr.sc, tr.jobs = spark.sparkContext, ctx.trace
                with tr.span("session.warmup", job_group=True):
                    wl.warm_up(ctx, spark)
            setup_s = time.time() - t_proc - ctx.inputs_s
            e2e = wl.measure(ctx, spark)
        e2e["setup_s"] = setup_s
        ctx.peak_rss_mb = rss.peak_bytes / 2**20
        attempted, failed, problems = wl.check(ctx, spark)
        spark.stop()
        spark = None
        _stop_jvm()
        if args.trace:
            metrics, report = _layers(ctx, args, e2e, event_log)
            problems += report["problems"]
            units = {k: u for k, (u, _) in PER_LAYER.items()}
        else:
            metrics, units = e2e, END_TO_END
        for p in problems:
            print(f"# check: {p}", file=sys.stderr)
        print(f"# samples: {ctx.samples}", file=sys.stderr)
        return {
            "correct": failed == 0 and not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _layers(ctx, args, e2e: dict, event_log: Path) -> tuple[dict, dict]:
    import eventlog
    import layers

    stats = eventlog.read(event_log)
    if args.workload == "analyst_sf0.1":
        metrics, report = layers.analyst(ctx, e2e, stats)
    else:
        metrics, report = layers.alerts(ctx, e2e, stats)
    reports = WORK / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    out = reports / f"{args.workload}-s{args.seed}.json"
    out.write_text(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": ctx.cores,
        "end_to_end_traced": e2e,
        "per_layer": metrics,
        **report,
        "spans": [s.__dict__ for s in ctx.tracer.spans],
    }, indent=1, default=str))
    print(f"# layer report: {out}", file=sys.stderr)
    return metrics, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
