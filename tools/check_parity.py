"""Run every registered query against its DuckDB oracle (driver replica).

Usage: python tools/check_parity.py [sf_dir] [key ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maap_data_pipelines_spark import oracle, registry  # noqa: E402
from maap_data_pipelines_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("parity-check")
    qs = registry.queries()
    sqls = registry.oracle_sql()
    failures = 0
    for key, fn in qs.items():
        if only and key not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if key in sqls:
                problems = oracle.compare(df, sqls[key], sf_dir)
            else:
                n = df.count()
                problems = [] if n >= 0 else [f"rows-only check failed: {n}"]
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        status = "PASS" if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{status} {key} ({dt:.1f}s)" + ("" if key in sqls else " [rows-only]"))
        for p in problems:
            print(f"     {p[:400]}")
    print(f"\n{failures} failures / {len(only) if only else len(qs)} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
