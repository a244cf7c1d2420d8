"""Product benchmark: one workload per run, closed loop, one client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload stac_catalog --seed 1 --seconds 20 --trace 0

A run generates (or reuses) the seed's inputs, starts a fresh Spark session
on ``local[<cores>]``, and runs the workload's unit back to back: the first
unit in the session is the cold one, the rest are warm, until the warm and
cold units together have run ``--seconds`` and at least ``min_warm`` warm
units are done. Each unit's output is checked after its clock stops.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` installs the
span wrappers of ``spans.py``, alternates traced and untraced warm units,
and prints the per-layer metrics plus the tracing overhead; the full span
record goes to ``.perfbench/trace/``. The last stdout line is always the
result object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "maap_data_pipelines_spark"
# a run stops starting units after this long, so one slow run on a busy host
# costs little more than a normal one and ends well inside 180 s
RUN_DEADLINE_S = 80.0


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children_by_parent() -> dict[int, list[int]]:
    """Every live process, grouped by its parent's pid, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


class RssSampler(threading.Thread):
    """High-water RSS of a process tree (Spark JVM, Python, its workers)."""

    def __init__(self, pid: int, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)

    def _tree_mb(self) -> float:
        children = _children_by_parent()
        total, todo = 0.0, [self.pid]
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page_mb
            except (OSError, ValueError, IndexError):
                pass
            todo.extend(children.get(p, ()))
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_mb())
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def _hygiene(run_dir: str, cores: int) -> None:
    """Environment for the session: workers import the package from the
    checkout, temporary files stay inside the run directory, no progress
    bars."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _become_subreaper() -> None:
    """Adopt every orphaned descendant (a Python worker whose JVM is gone,
    say), so ``_reap_children`` can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_children(grace_s: float = 10.0) -> None:
    """Wait for every child process to end: a grace period to exit on its
    own, then SIGTERM, then SIGKILL. Orphans keep arriving while their
    parents die, so repeat until none is left."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children_by_parent().get(os.getpid(), [])
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _run_unit(wl, spark, i: int, span) -> dict:
    t = time.perf_counter()
    try:
        out = wl.unit(spark, i, span)
        wall = time.perf_counter() - t
        problems = wl.check(out)
    except Exception:  # a failed unit is counted, the run goes on
        wall = time.perf_counter() - t
        problems = [traceback.format_exc()]
    finally:
        wl.cleanup(i)
    for p in problems:
        print(f"unit {i} failed: {p}", file=sys.stderr)
    return {"unit": i, "wall_s": wall, "ok": not problems}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    load1 = os.getloadavg()[0]
    start_age_s = _process_age_s()
    _become_subreaper()
    t_process0 = time.perf_counter() - start_age_s
    cores = len(os.sched_getaffinity(0))
    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _hygiene(run_dir, cores)
    wl = workloads.WORKLOADS[args.workload](
        os.path.join(state, "data"), args.seed, os.path.join(run_dir, "out")
    )
    sampler = RssSampler(os.getpid())
    spark = None
    units: list[dict] = []
    tracer = None
    try:
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        sampler.start()
        t0 = time.perf_counter()
        from maap_data_pipelines_spark import session

        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            with tracer.span("session.get_spark", start=t0):
                spark.range(1).collect()
            tracer.collect()
        else:
            spark.range(1).collect()
        # process start to a warmed session, less the (cached) input generation
        setup_s = time.perf_counter() - t_process0 - prepare_s

        # Unit 0 is the cold one; the next ``wl.warmup`` units let the JIT
        # settle and are not reported. Traced runs then alternate untraced
        # and traced units, so both sides of the overhead are warm.
        timed, i = 0.0, 0
        while True:
            measured = i > wl.warmup
            traced = tracer is not None and (i == 0 or (measured and (i - wl.warmup) % 2 == 0))
            if traced:
                tracer.unit = i
                tracer.install(PACKAGE)
                before = tracer.storage()
            rec = _run_unit(wl, spark, i, tracer.span if traced else workloads.null_span)
            if traced:
                tracer.uninstall()
                tracer.collect()
                after = tracer.storage()
                rec["persisted_rdds"] = after[0] - before[0]
                rec["storage_mb"] = after[1] - before[1]
            rec["traced"], rec["measured"] = traced, measured
            units.append(rec)
            timed += rec["wall_s"]
            i += 1
            done = timed >= args.seconds and all(
                sum(u["measured"] and u["traced"] == side for u in units) >= wl.min_warm
                for side in ((False, True) if tracer else (False,))
            )
            if done or time.perf_counter() - t_process0 > RUN_DEADLINE_S:
                break
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            _reap_children()
            if sampler.is_alive():
                sampler.stop()
            shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not u["ok"] for u in units)
    warm = [u for u in units if u["measured"] and not u["traced"]]
    warm_s = _median([u["wall_s"] for u in warm])
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "load1": load1,
        "cores": cores,
        "prepare_s": prepare_s,
        "records": wl.records,
        "failed_ratio": failed / len(units),
        "units": units,
    }
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_unit_s": (units[0]["wall_s"], "s"),
            "warm_unit_s": (warm_s, "s"),
            "records_per_s": (wl.records / (warm_s or units[0]["wall_s"]), "1/s"),
        }
        summary["peak_rss_mb"] = sampler.peak_mb
    else:
        metrics = _trace_metrics(tracer, units, cores, warm_s)
        metrics["process.peak_rss_mb"] = (sampler.peak_mb, "MB")
        summary["spans"] = _span_table(tracer, units)
        _write_trace(state, wl, args.seed, tracer, units)
    summary["metrics"] = {k: v for k, (v, _) in metrics.items()}
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(units),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def _trace_metrics(tracer, units, cores: int, untraced_warm_s: float) -> dict:
    from spans import layer_totals

    traced_warm = [u for u in units if u["measured"] and u["traced"]] or units[:1]
    per_unit = []
    for u in traced_warm:
        spans = [s for s in tracer.spans if s["unit"] == u["unit"]]
        tot = layer_totals(spans)
        tot["spark.cpu_busy_ratio"] = sum(s["executor_cpu_s"] for s in spans) / (
            u["wall_s"] * cores
        )
        tot["materialize.persisted_rdds"] = u["persisted_rdds"]
        tot["materialize.storage_mb"] = u["storage_mb"]
        per_unit.append(tot)
    session = layer_totals([s for s in tracer.spans if s["unit"] is None])
    out = {}
    for name in per_unit[0]:
        layer = name.rsplit(".", 1)[0]
        vals = [session[name]] if layer == "session" else [p[name] for p in per_unit]
        unit = _unit_of(name.rsplit(".", 1)[1])
        out[name] = (_median(vals), unit)
    traced_s = _median([u["wall_s"] for u in traced_warm])
    out["trace.overhead_s"] = (traced_s - untraced_warm_s, "s")
    return out


def _span_table(tracer, units) -> dict:
    """Per span name: median over the traced warm units of each metric."""
    from spans import LAYER_METRICS

    traced = {u["unit"] for u in units if u["measured"] and u["traced"]}
    by_name: dict[str, dict[int, dict]] = {}
    for s in tracer.spans:
        if s["unit"] in traced:
            acc = by_name.setdefault(s["name"], {}).setdefault(
                s["unit"], dict.fromkeys(LAYER_METRICS, 0.0)
            )
            for m in LAYER_METRICS:
                acc[m] += s[m]
    return {
        name: {m: _median([u[m] for u in per_unit.values()]) for m in LAYER_METRICS}
        for name, per_unit in sorted(by_name.items())
    }


def _unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("ratio"):
        return "ratio"
    return "count"


def _write_trace(state: str, wl, seed: int, tracer, units) -> None:
    out_dir = os.path.join(state, "trace")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{seed}-{os.getpid()}.json"), "w") as f:
        json.dump({"workload": wl.name, "seed": seed, "units": units, "spans": tracer.spans}, f)


if __name__ == "__main__":
    sys.exit(main())
