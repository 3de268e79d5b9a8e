#!/usr/bin/env python3
"""Summarise benchmark records, and compare two sets of them.

    python3 perfbench/compare.py A.jsonl           # spread of each metric
    python3 perfbench/compare.py A.jsonl B.jsonl   # B's medians against A's

Input files hold the full records ``run.py`` prints (the line before the
last) or appends to ``.perfbench_work/records.jsonl``, one per line.
For every workload and metric the summary gives the run count, the
median and the spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median. A spread over a third of the metric's bound in BENCHMARK.json is
flagged ``WIDE``; a B median worse than A's by more than the bound is
flagged ``WORSE``. Records of one workload from different core counts
are never compared: the command refuses and exits with status 2.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def load(path: str) -> dict:
    """{(workload, trace): {metric: [values]}} plus each workload's core
    counts."""
    out: dict = defaultdict(lambda: defaultdict(list))
    cpus: dict = defaultdict(set)
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        rec = json.loads(line)
        cpus[rec["workload"]].add((rec["nproc"], rec["cpus"]))
        for name, m in rec["metrics"].items():
            out[(rec["workload"], rec["trace"])][name].append(m["value"])
    return {"metrics": out, "cpus": cpus}


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(p) for p in argv]
    for workload in set().union(*(s["cpus"] for s in sets)):
        cpus = set().union(*(s["cpus"][workload] for s in sets))
        if len(cpus) > 1:
            print(f"refusing to compare {workload} records from different core counts: "
                  f"{sorted(cpus)}", file=sys.stderr)
            return 2
    a = sets[0]["metrics"]
    b = sets[1]["metrics"] if len(sets) == 2 else None
    status = 0
    for key in sorted(a):
        print(f"== {key[0]} (trace {key[1]})")
        for name, values in a[key].items():
            bound = BOUNDS.get(name, {}).get("bound")
            med, sp = statistics.median(values), spread(values)
            flag = " WIDE" if bound is not None and name != "setup_s" and sp > bound / 3 else ""
            line = f"  {name:30s} n={len(values):2d} median={med:14.4f} spread={sp:6.3f}{flag}"
            if b is not None and b.get(key, {}).get(name):
                other = statistics.median(b[key][name])
                change = (other - med) / med if med else 0.0
                worse = change if BOUNDS.get(name, {}).get("better") == "lower" else -change
                line += f" | B median={other:14.4f} change={change:+.3f}"
                if bound is not None and worse > bound:
                    line += " WORSE"
                    status = 1
            print(line)
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
