"""Search-engine benchmark: one workload, one run.

    python3 perfbench/run.py --workload <build_search|ingest_mixed>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer metrics, measured
with spans and the Spark event log, with ``--trace 1``). The lines
before it are a readable report. The corpus seed is ``--seed`` and the
query seed is derived from it. Workloads, sizes and metrics are
described in ``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine's Python workers import it from the same tree
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import uci_searchengine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.rss import PeakRssSampler

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sampler = PeakRssSampler().start()
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
            if run.trace:
                workloads.layer_metrics(run)
        finally:
            with run.phase("stop"):
                run.stop_spark()
        if run.trace:  # the event log is complete once Spark stopped
            workloads.spark_metrics(run)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    run.metrics["peak_rss_mb"] = sampler.peak_bytes / 2**20
    if run.trace:
        for k, v in run.metrics.items():
            run.layers[f"traced.{k}"] = v
        names, units = run.layers, workloads.LAYER_UNITS
    else:
        names, units = run.metrics, workloads.E2E_UNITS

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("# phases (s): " + ", ".join(f"{k}={v:.2f}" for k, v in run.phases.items()))
    for note in run.notes:
        print(f"# {note}")
    for k, unit in (workloads.E2E_UNITS | workloads.TIMING_UNITS).items():
        print(f"# {k} = {run.metrics[k]:.6g} {unit}")
    if run.trace:
        for k, unit in workloads.LAYER_UNITS.items():
            print(f"# {k} = {run.layers[k]:.6g} {unit}")
    print(f"# failed_share = {run.failed / max(run.attempted, 1):.4g} "
          f"({run.failed} of {run.attempted} operations)")
    for msg in run.failures:
        print(f"# FAILED: {msg}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": names[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
