"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_batches --seed 1 --seconds 15 --trace 0

Runs one workload in one process on ``local[nproc]`` and prints, on stderr
and stdout, the host facts and every metric by name with its unit. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The traced run enables Spark's event log, tags
each operation with a job group and times each layer on its own; the
end-to-end numbers come from untraced runs only.

The work directory ``.perfbench_work/`` at the repository root holds every
file a run writes (inputs, snapshots, spark.local.dir, the event log) and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from perfbench import eventlog, host  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    END_TO_END_METRICS,
    LAYER_METRICS,
    WORKLOADS,
    tail,
)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--small", action="store_true", help="tiny inputs, for the self-tests"
    )
    return ap.parse_args(argv)


def run(args: argparse.Namespace) -> dict:
    # Fail before anything is written when the engine is not importable.
    import kbgen_spark.pipeline  # noqa: F401

    work = os.path.join(REPO_ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host.configure_env(work, REPO_ROOT)

    log_dir = os.path.join(work, "eventlog") if args.trace else None
    steal0 = host.steal_ticks()
    try:
        t0 = time.perf_counter()
        spark = host.start_session(log_dir)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.small, bool(args.trace))
            setup_s = session_s + wl.setup()
            window_rss = host.reset_peak_rss()
            wl.measure(args.seconds)
            wl.summarize()
            if window_rss:
                wl.detail["driver_rss_peak_mb"] = (host.peak_rss_mb(os.getpid()), "MB")
            e2e = {
                "setup_s": setup_s,
                "call_cpu_s": wl.detail["call_cpu_s"][0],
                "jvm_rss_peak_mb": host.peak_rss_mb(wl.jvm),
            }
            facts = host.host_facts(spark)
            if args.trace:
                wl.trace_layers()
        finally:
            host.stop_session(spark)
        facts["steal_ticks"] = host.steal_ticks() - steal0
        if args.trace:
            layers = {name: 0.0 for name, _ in LAYER_METRICS}
            layers.update(wl.layers)
            layers["session.start_s"] = session_s
            layers["trace.call_p50_s"] = wl.detail["call_p50_s"][0]
            stats = eventlog.aggregate(eventlog.read_events(log_dir))
            calls = len(wl.latencies)
            layers.update(eventlog.per_call_metrics(stats, wl.call_groups, calls))
            if wl.plan_groups:
                plan = eventlog.select(stats, wl.plan_groups)
                layers["pipeline.jobs_before_return"] = plan.jobs / calls
            metrics = {name: (layers[name], unit) for name, unit in LAYER_METRICS}
        else:
            metrics = {name: (e2e[name], unit) for name, unit in END_TO_END_METRICS}
    finally:
        host.clean(work)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it, or it is already gone

    tl = tail(wl.latencies)
    detail = dict(wl.detail)
    detail["call_tail_s"] = (
        (tl[1], f"s at p{tl[0]:.1f} of {len(wl.latencies)}")
        if tl
        else (None, f"needs 11 operations, have {len(wl.latencies)}")
    )
    detail["failed_ops_ratio"] = (wl.out.failed / max(wl.out.attempted, 1), "ratio")
    print("host " + json.dumps(facts, sort_keys=True))
    for name, (value, unit) in {**detail, **metrics}.items():
        print(f"metric {args.workload} {name} = {value} {unit}")
    for line in wl.out.failures:
        print("failure " + line.splitlines()[0])
    return {
        "correct": wl.out.failed == 0,
        "attempted": wl.out.attempted,
        "failed": wl.out.failed,
        "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    # A terminated run still stops Spark and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    result = run(parse_args(argv))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
