"""Summarise the run records under ``perfbench/_out``.

    python3 perfbench/compare.py

For each workload and end-to-end metric: the median of the untraced runs,
their spread (distance between the first and third quartile as a share of
the median, as ``statistics.quantiles(values, n=4)`` gives them), and,
where traced runs exist, the traced median and the tracing overhead
(traced median minus untraced median).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("nan")


def main(out_dir: str = os.path.join(HERE, "_out")) -> int:
    runs = defaultdict(lambda: defaultdict(list))  # (workload, trace) -> metric -> values
    for path in sorted(glob.glob(os.path.join(out_dir, "*", "result.json"))):
        with open(path) as fh:
            r = json.load(fh)
        for name, v in r["end_to_end"].items():
            runs[(r["workload"], r["trace"])][name].append(v)
    for wl in sorted({w for w, _t in runs}):
        plain, traced = runs.get((wl, 0), {}), runs.get((wl, 1), {})
        n = len(next(iter(plain.values()), []))
        print(f"{wl}: {n} untraced, {len(next(iter(traced.values()), []))} traced runs")
        for name in plain or traced:
            p, t = plain.get(name, []), traced.get(name, [])
            line = f"  {name:24s}"
            if p:
                line += f" median {statistics.median(p):12.4f}  spread {spread(p):6.3f}"
            if t:
                line += f"  traced {statistics.median(t):12.4f}"
            if p and t:
                line += f"  overhead {statistics.median(t) - statistics.median(p):+10.4f}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
