"""Profile registered queries: plan build and execution measured apart.

Usage:
    python tools/profile_query.py [--sf SF_DIR] [--runs N] [--plan OUT_DIR]
                                  [key ...] > record.jsonl

With no key, every key of ``registry.queries()`` is profiled in registry
order. Each run of a key prints one JSON line:

* ``build_s`` / ``build_jobs`` / ``build_py4j`` — building the DataFrame
  (``fn(spark, sf)``): wall seconds, Spark jobs started (eager
  checkpoints, gate counts, schema inference) and driver-to-JVM py4j
  commands sent (every ``Column`` built one call at a time is one or more
  round trips);
* ``exec_s`` / ``exec_jobs`` — executing it with ``toArrow()``;
* ``build_compiles`` / ``exec_compiles`` — generated classes Janino
  compiled in each phase (``session.codegen_compiles``: codegen-cache
  misses; a warm re-run of a key reads 0).

``--plan OUT_DIR`` also writes each key's formatted plan to
``OUT_DIR/<key>.txt`` with the per-session numbering normalised
(expression ids ``#123``, ``plan_id=…``, ``_common_expr_…`` aliases,
RDD numbers, object identity hashes and the Python call site of
``applySchemaToPythonRDD``), so the plan directories of two
commits compare with a plain ``diff -r``.

Jobs are the statusTracker job-id delta around each phase, the same
count ``tests/test_pipelines.py`` budgets. Every line is flushed as
it is made, so redirecting stdout keeps a record; the last line sums the
run. The session follows
``session.get_spark`` (``SPARK_GRAFT_CPUS`` /
``SPARK_GRAFT_SHUFFLE_PARTITIONS``); the committed registry records use
4 and 4, the test session's shape.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maap_data_pipelines_spark import registry  # noqa: E402
from maap_data_pipelines_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
    last_job_id,
)


class _Py4jCounter:
    """Counts the commands the driver sends through py4j."""

    def __init__(self, sc):
        client = sc._gateway._gateway_client
        send = client.send_command
        self.n = 0

        def counted(*args, **kwargs):
            self.n += 1
            return send(*args, **kwargs)

        client.send_command = counted


# Numbering that differs between sessions on an identical plan.
_PLAN_NOISE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(?<=\w)@[0-9a-f]+\b"), "@H"),
    # the Python call site a createDataFrame frame was built from
    (re.compile(r"(?<=applySchemaToPythonRDD at )\S+:\d+"), "SITE"),
)


def _normalise_plan(text: str) -> str:
    """A formatted plan with the session-specific numbers replaced."""
    for pat, repl in _PLAN_NOISE:
        text = pat.sub(repl, text)
    return text


def profile(spark, fn, sf: str, py4j: _Py4jCounter) -> dict:
    """One build span and one execute span of a registered query."""
    k0, j0 = codegen_compiles(spark), last_job_id(spark)
    c0, t0 = py4j.n, time.perf_counter()
    df = fn(spark, sf)
    t1 = time.perf_counter()
    c1 = py4j.n
    j1, k1 = last_job_id(spark), codegen_compiles(spark)
    df.toArrow()
    t2 = time.perf_counter()
    j2, k2 = last_job_id(spark), codegen_compiles(spark)
    return {
        "build_s": round(t1 - t0, 3),
        "build_jobs": j1 - j0,
        "build_py4j": c1 - c0,
        "build_compiles": k1 - k0,
        "exec_s": round(t2 - t1, 3),
        "exec_jobs": j2 - j1,
        "exec_compiles": k2 - k1,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--plan", default=None, help="dir to write <key>.txt formatted plans")
    args = ap.parse_args()

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    py4j = _Py4jCounter(spark.sparkContext)

    # warmup so JVM startup isn't billed to the first key
    qs["q6_forecast_revenue"](spark, args.sf).toArrow()

    totals = {"keys": 0, "errors": 0, "zero_job_builds": 0}
    for key in args.keys or list(qs):
        if key not in qs:
            print(f"SKIP {key}: unknown", file=sys.stderr)
            continue
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[key](spark, args.sf).explain("formatted")
            with open(os.path.join(args.plan, f"{key}.txt"), "w") as f:
                f.write(_normalise_plan(buf.getvalue()))
        for run in range(args.runs):
            spark.catalog.clearCache()
            try:
                rec = {"key": key, "run": run, **profile(spark, qs[key], args.sf, py4j)}
            except Exception as e:  # one failing key must not end the record
                rec = {"key": key, "run": run, "error": f"{type(e).__name__}: {e}"[:300]}
            print(json.dumps(rec), flush=True)
            totals["keys"] += 1
            if "error" in rec:
                totals["errors"] += 1
                continue
            totals["zero_job_builds"] += rec["build_jobs"] == 0
            for k in ("build_s", "build_jobs", "build_py4j", "build_compiles",
                      "exec_s", "exec_jobs", "exec_compiles"):
                totals[k] = round(totals.get(k, 0) + rec[k], 3)
    print(json.dumps({"totals": totals}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
