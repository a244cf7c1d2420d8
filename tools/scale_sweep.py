"""Full-registry scale sweep: run every registered query at a scaled
dataset and record wall time + row count + any exception.

The correctness gate runs at sf0.01; this is the SCALE gate — it hunts
the failure modes small SFs cannot see (int64/decimal overflow in
aggregates, denominator quantization collapse, degenerate-empty outputs,
super-linear blowups). r7's 10x discipline caught two real int64
overflows pre-registration; the 30x tier triples the headroom check.

Each record also lists the key's scale-gate decisions
(``functions/joins``: site, treatment, n_rows, branch, and how many
times that decision was taken), so a receipt shows which branch fired.

Usage: python tools/scale_sweep.py <scaled_sf_dir> [out_jsonl] [key ...]
"""

from __future__ import annotations

import json
import logging
import os
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maap_data_pipelines_spark import registry  # noqa: E402
from maap_data_pipelines_spark.functions import joins  # noqa: E402
from maap_data_pipelines_spark.session import get_spark  # noqa: E402


class GateLog(logging.Handler):
    """Collects the scale-gate decisions logged at DEBUG by functions/joins."""

    def __init__(self) -> None:
        super().__init__(logging.DEBUG)
        self.seen: Counter = Counter()

    def emit(self, record: logging.LogRecord) -> None:
        self.seen[record.args] += 1

    def drain(self) -> list[dict]:
        out = [
            dict(zip(("site", "treatment", "n_rows", "branch"), args), n=n)
            for args, n in self.seen.items()
        ]
        self.seen = Counter()
        return out


def main() -> int:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    only = set(sys.argv[3:])
    qs = registry.queries()
    unknown = only - qs.keys()
    if unknown:
        print(f"ERROR: unknown keys (not in registry): {sorted(unknown)}")
        return 2
    spark = get_spark("scale-sweep")
    gates = GateLog()
    gate_log = logging.getLogger(joins.__name__)
    gate_log.addHandler(gates)
    gate_log.setLevel(logging.DEBUG)
    out = open(out_path, "w") if out_path else None
    failures = 0
    executed = 0
    for key, fn in qs.items():
        if only and key not in only:
            continue
        executed += 1
        t0 = time.time()
        rec: dict = {"key": key}
        try:
            rec["rows"] = fn(spark, sf_dir).count()
            rec["ok"] = True
        except Exception as e:  # noqa: BLE001
            rec["ok"] = False
            rec["err"] = f"{type(e).__name__}: {e}"[:400]
            traceback.print_exc(limit=3)
            failures += 1
        rec["sec"] = round(time.time() - t0, 2)
        rec["gates"] = gates.drain()
        line = json.dumps(rec)
        print(line, flush=True)
        if out:
            out.write(line + "\n")
            out.flush()
        # Per-key isolation: localCheckpoint/persist blocks pin the
        # unified pool for the SESSION lifetime, so in a one-JVM sweep
        # every key would otherwise inherit its predecessors' shrunken
        # pool (r11: curation_yield_report passed when run early in a
        # sequence and heap-OOMed when run after checkpoint-heavy keys).
        # Production runs one query per job; measure each key that way.
        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:  # noqa: BLE001 - cleanup is best-effort
            pass
    print(f"# {failures} failures / {executed} keys executed")
    if out:
        out.close()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
