"""Which per-span counters repeat exactly across traced runs of one code.

Usage (from the repository root)::

    python3 perfbench/steadiness.py .perfbench/trace/A.json .perfbench/trace/B.json

A and B are two trace records of the same workload and seed (``run.py
--trace 1`` writes one per run). For every span name and counter it prints
the values per traced unit in each run and whether they repeat exactly:
across the two runs (same unit index) and across the warm units of one
session. Only a count that repeats exactly can carry a claim on its own;
the rest need paired runs.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "output_mb", "spill_mb")


def _per_unit(path: str) -> dict[str, dict[int, dict]]:
    with open(path) as f:
        rec = json.load(f)
    out: dict[str, dict[int, dict]] = {}
    for s in rec["spans"]:
        if s["unit"] is None:
            continue
        acc = out.setdefault(s["name"], {}).setdefault(s["unit"], dict.fromkeys(COUNTS, 0))
        for c in COUNTS:
            acc[c] += s[c]
    return out


def main(a_path: str, b_path: str) -> None:
    a, b = _per_unit(a_path), _per_unit(b_path)
    print("| span | counter | run A by unit | run B by unit | across runs | across warm units |")
    print("|---|---|---|---|---|---|")
    for name in sorted(a.keys() & b.keys()):
        units = sorted(a[name].keys() & b[name].keys())
        for c in COUNTS:
            va = [round(a[name][u][c], 3) for u in units]
            vb = [round(b[name][u][c], 3) for u in units]
            if not any(va + vb):
                continue
            warm = va[1:] + vb[1:]
            print(
                f"| {name} | {c} | {va} | {vb} | {'exact' if va == vb else 'varies'} "
                f"| {'exact' if len(set(warm)) <= 1 else 'varies'} |"
            )


if __name__ == "__main__":
    main(*sys.argv[1:3])
