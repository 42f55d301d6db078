"""Compare two sets of benchmark records (``.perfbench/results/*.json``).

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

Prints, per end-to-end metric, each side's median and quartiles and the
ratio of the medians. Records from different workloads, from hosts whose
core counts differ (``nproc`` or ``spark_graft_cpus``), or made with
different driver heaps (``driver_memory``) are refused with exit code 3:
timings from different hosts are never compared.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def comparable(records: list[dict]) -> str | None:
    """None if every record has the same workload, core counts and driver
    heap, else why not."""
    for key in ("workload", "nproc", "spark_graft_cpus", "driver_memory"):
        values = {r["stamp"].get(key) for r in records}
        if len(values) > 1:
            return f"records differ in {key}: {sorted(map(str, values))}"
    return None


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    why = comparable(base + new)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 3
    print(f"{'metric':14s} {'base q1/med/q3':>30s} {'new q1/med/q3':>30s} {'new/base':>9s}")
    for name in base[0]["end_to_end"]:
        b = summary([r["end_to_end"][name] for r in base])
        n = summary([r["end_to_end"][name] for r in new])
        cells = [" / ".join(f"{x:.4g}" for x in s) for s in (b, n)]
        print(f"{name:14s} {cells[0]:>30s} {cells[1]:>30s} {n[1] / b[1]:9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
