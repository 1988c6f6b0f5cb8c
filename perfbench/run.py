#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``perfbench/workloads.py``) on local[4] from the
root of a checkout, checks its outputs, and prints one JSON object as the
last line of standard output:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (``perfbench/trace.py``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import sys
import time
import traceback


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

# a pass's wall time and its peak RSS spread too widely from run to run
# on a 4-vCPU VM to hold a 0.25 bound (see perfbench/README.md); the
# traced run reports them
END_TO_END = {
    "setup_s": "s",
    "step_s_geomean": "s",
}


def end_to_end(setup_s: float, passes) -> dict:
    steps = [s for p in passes for s in p.steps]
    return {
        "setup_s": setup_s,
        "step_s_geomean": math.exp(statistics.fmean(math.log(s) for s in steps)),
    }


def run(args) -> dict:
    from perfbench import trace as trace_mod
    from perfbench import workloads as wl_mod

    harness.require_package(ROOT)
    scratch = harness.Scratch(ROOT)
    sampler = harness.RssSampler() if args.trace else None
    spark = None
    clock = harness.Clock()
    try:
        with clock.span("session"):
            spark = harness.start_spark(ROOT, scratch, trace=bool(args.trace))
        ctx = wl_mod.Ctx(spark, scratch, args.seed)
        wl = wl_mod.WORKLOADS[args.workload]()
        wl.setup(ctx, clock)
        with clock.span("warmup"):
            harness.warm_session(spark)
        setup_s = time.perf_counter() - T_START
        passes = []
        if not args.trace:
            while not passes or sum(p.run_s for p in passes) < args.seconds:
                passes.append(wl.run_pass(ctx, traced=False))
                wl.record(ctx, passes[-1])
            wl.check(ctx)
            metrics = end_to_end(setup_s, passes)
            units = END_TO_END
        else:
            metrics = {k: 0.0 for k in trace_mod.LAYER_METRICS}
            # the traced pass comes first, so it meets the same cold
            # session as an untraced run's pass; the untraced pass after
            # it is warmer, so the overhead read from the two is an
            # upper bound
            timer = trace_mod.TableWriteTimer()
            sampler.active = True
            cpu0 = harness.tree_cpu_s()
            with timer:
                traced = wl.run_pass(ctx, traced=True)
            cpu_s = harness.tree_cpu_s() - cpu0
            sampler.active = False
            wl.record(ctx, traced)
            untraced = wl.run_pass(ctx, traced=False)
            wl.record(ctx, untraced)
            wl.check(ctx)
            metrics.update({
                "setup.session_s": clock.spans["session"],
                "setup.inputs_s": clock.spans["inputs"],
                "setup.warmup_s": clock.spans["warmup"],
                "trace.traced_run_s": traced.run_s,
                "trace.untraced_run_s": untraced.run_s,
                "trace.overhead_s": traced.run_s - untraced.run_s,
                "trace.peak_rss_mb": sampler.peak_mb,
                "trace.cpu_s": cpu_s,
            })
            metrics.update(wl.layers(ctx, traced, timer))
            harness.stop_spark(spark)
            spark = None
            log = trace_mod.EventLog(scratch.sub("events"))
            metrics.update(log.fold(traced.t_start, traced.t_end, traced.run_s,
                                    len(traced.steps), harness.CORES))
            if args.workload == "queries":
                metrics.update(log.per_query(traced.t_start, traced.t_end))
            units = trace_mod.LAYER_METRICS
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        if sampler is not None:
            sampler.close()
        scratch.close()
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except SystemExit:
        raise
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
