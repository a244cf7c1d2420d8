"""Per-layer spans for the traced benchmark run.

A :class:`Tracer` wraps calls into the package's public functions from the
outside: :meth:`Tracer.install` swaps module attributes for wrappers and
:meth:`Tracer.uninstall` puts the originals back, so untraced runs execute
the package untouched. Each span runs under its own Spark job group; after
each unit :meth:`Tracer.collect` reads the finished jobs and stages from the
status store (it keeps a bounded number of stages, so it is read per unit)
and charges every stage's task metrics to the span whose group ran it.

Counters (jobs, stages, tasks, executor time, bytes) are exclusive: a job
counts for the innermost open span only. ``wall_s`` is inclusive and
``self_s`` is ``wall_s`` minus the wall time of child spans.
"""

from __future__ import annotations

import contextlib
import functools
import time

# (module, function) pairs wrapped in traced units; the span is named
# "<layer>.<function>" with the module path relative to the package.
WRAPPED = (
    ("plans.stac", "stac_items_materialized"),
    ("plans.stac", "transfer_plan"),
    ("plans.stac", "stac_item_json_from_items"),
    ("plans.llm", "cascade_verdicts"),
    ("plans.llm", "yield_report_from_verdicts"),
    ("sinks", "write_items_partitioned"),
    ("sinks", "execute_transfer_plan"),
    ("sinks", "submit_items"),
    ("pipelines", "run_stac_pipeline"),
    ("pipelines", "run_curation_pipeline"),
)

# Span-name prefix -> layer reported in the per-layer metrics.
LAYERS = (
    "session",
    "registry.build",
    "registry.execute",
    "plans.stac",
    "plans.llm",
    "sinks",
    "pipelines",
)
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
)
LAYER_METRICS = ("wall_s", "self_s") + COUNTERS
_MB = 1024.0 * 1024.0


def layer_of(span_name: str) -> str:
    return next(p for p in LAYERS if span_name.startswith(p + "."))


class Tracer:
    """Spans with Spark job groups, kept in memory until the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self.spans: list[dict] = []
        self.unit: int | None = None
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._n = 0

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        """Open a span; ``start`` backdates it to an earlier perf_counter."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"perfbench-{self._n}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "unit": self.unit,
            "start": time.perf_counter() if start is None else start,
            "children_s": 0.0,
            **{c: 0 for c in COUNTERS},
        }
        self._n += 1
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - rec["start"]
            rec["self_s"] = rec["wall_s"] - rec.pop("children_s")
            self._stack.pop()
            if parent:
                parent["children_s"] += rec["wall_s"]
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def install(self, package) -> None:
        import importlib

        for mod_name, fn in WRAPPED:
            module = importlib.import_module(f"{package}.{mod_name}")
            orig = getattr(module, fn)
            setattr(module, fn, self._wrap(orig, f"{mod_name}.{fn}"))
            self._patches.append((module, fn, orig))

    def uninstall(self) -> None:
        while self._patches:
            module, fn, orig = self._patches.pop()
            setattr(module, fn, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- status store -----------------------------------------------------
    def _as_list(self, seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def collect(self) -> None:
        """Charge the task metrics of every job finished since the last call
        to the span that owns the job's group."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        by_id = {s["id"]: s for s in self.spans}
        stage_owner: dict[int, dict] = {}
        jobs = sorted(
            self._as_list(store.jobsList(self._jvm.java.util.ArrayList())),
            key=lambda j: j.jobId(),
        )
        for job in jobs:
            if job.jobId() in self._seen_jobs or str(job.status()) == "RUNNING":
                continue
            self._seen_jobs.add(job.jobId())
            group = job.jobGroup()
            span = by_id.get(group.get()) if group.isDefined() else None
            if span is None:
                continue
            span["jobs"] += 1
            for sid in self._as_list(job.stageIds()):
                stage_owner.setdefault(int(sid), span)
        if not stage_owner:
            return
        stages = self._as_list(
            store.stageList(
                self._jvm.java.util.ArrayList(),
                False,
                False,
                self.sc._gateway.new_array(self._jvm.double, 0),
                self._jvm.java.util.ArrayList(),
            )
        )
        for st in stages:
            key = (int(st.stageId()), int(st.attemptId()))
            span = stage_owner.get(key[0])
            if (
                span is None
                or key in self._seen_stages
                or str(st.status()) in ("SKIPPED", "PENDING")
            ):
                continue
            self._seen_stages.add(key)
            span["stages"] += 1
            span["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            span["executor_run_s"] += st.executorRunTime() / 1e3
            span["executor_cpu_s"] += st.executorCpuTime() / 1e9
            span["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            span["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            span["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
            span["output_mb"] += st.outputBytes() / _MB

    def storage(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        infos = self._jsc.getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) / _MB for i in infos)
        return self.sc._jsc.getPersistentRDDs().size(), mb


def layer_totals(spans: list[dict]) -> dict[str, float]:
    """Per-layer sums of the given spans' metrics, every layer present."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in LAYER_METRICS}
    for s in spans:
        layer = layer_of(s["name"])
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] += s[m]
    return out
