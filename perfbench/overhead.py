"""Tracing overhead: each metric an untraced run reports (the end-to-end
metrics and the timings) against the same metric of a traced run of the
same workload and seed.

    python3 perfbench/run.py --workload W --seed S --trace 0 > plain.out
    python3 perfbench/run.py --workload W --seed S --trace 1 > traced.out
    python3 perfbench/overhead.py plain.out traced.out
"""

from __future__ import annotations

import re
import sys

# a metric line of run.py's report: "# name = value unit"
METRIC_LINE = re.compile(r"^# (\S+) = (\S+) (\S+)$")


def report_metrics(path: str) -> dict[str, tuple[float, str]]:
    out = {}
    with open(path) as f:
        for line in f:
            m = METRIC_LINE.match(line.strip())
            if m:
                out[m[1]] = (float(m[2]), m[3])
    return out


def main(plain_path: str, traced_path: str) -> None:
    traced = report_metrics(traced_path)
    for name, (v, unit) in report_metrics(plain_path).items():
        t = traced[f"traced.{name}"][0]
        print(f"{name}: untraced {v:.6g} traced {t:.6g} {unit} (traced/untraced {t / v:.3f})")


if __name__ == "__main__":
    main(*sys.argv[1:3])
