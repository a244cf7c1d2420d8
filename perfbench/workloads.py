"""The benchmark's workloads: inputs, one timed unit, and its output check.

Each workload generates its inputs from the seed once and caches them under
``<data_root>/<name>-<seed>-<code hash>`` together with what its checks
compare against, so a later run with the same seed skips generation and the
DuckDB oracles. A unit is what a user runs; ``check`` runs after the unit's clock
stops and returns the list of problems (empty when the output is right).

* ``stac_catalog`` — :func:`pipelines.run_stac_pipeline` over a seeded
  orders spine: regex and date assembly in ``plans.stac``, four parquet
  writes and read-backs in ``sinks``. Write-heavy; no dedup at all, so a
  dedup or curation change should read flat here.
* ``curation_cascade`` — :func:`pipelines.run_curation_pipeline` over a
  replicated corpus that keeps the curation mix (see ``gen.py``).
  Shuffle-heavy: one checkpointed verdict frame feeds three products.
* ``query_mix`` — registered lazy queries in one long-lived session, in a
  seeded order: plan-build-heavy curation and dedup queries next to
  relational and event bystanders that bypass dedup and materialization.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

import gen


def _code_hash() -> str:
    """Hash of the generator and workload code: a cache written by other
    code is never reused."""
    h = hashlib.sha256()
    for mod in (gen, sys.modules[__name__]):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _expected_reasons(out_dir: str, n_base: int, replicas: int) -> dict[str, int]:
    base = gen.base_reason_counts(os.path.join(out_dir, "documents.parquet"), n_base)
    return {reason: n * replicas for reason, n in base.items()}


def null_span(name: str):
    return contextlib.nullcontext()


class Workload:
    name = ""
    # warm units after the cold one that are run but not reported, then
    # the warm units each run reports at least, whatever --seconds says
    warmup = 1
    min_warm = 2

    def __init__(self, data_root: str, seed: int, work_dir: str):
        self.seed = seed
        self.data_dir = os.path.join(data_root, f"{self.name}-{seed}-{_code_hash()}")
        self.work_dir = work_dir
        self.expected: dict = {}

    def prepare(self) -> None:
        """Generate the inputs for this seed unless they are cached.

        Generation runs in a child process: the DuckDB oracles it calls
        import the package, and the parent must import it only inside the
        timed set-up, whether or not the cache was warm. The child is a plain
        interpreter, waited for here; ``multiprocessing`` would leave its
        resource tracker running past the end of the run.
        """
        done = os.path.join(self.data_dir, "expected.json")
        if not os.path.exists(done):
            code = (
                "import sys; sys.path.insert(0, sys.argv[1]); import workloads; "
                "workloads.WORKLOADS[sys.argv[2]](sys.argv[3], int(sys.argv[4]), '')._build()"
            )
            here = os.path.dirname(os.path.abspath(__file__))
            data_root = os.path.dirname(self.data_dir)
            rc = subprocess.run(
                [sys.executable, "-c", code, here, self.name, data_root, str(self.seed)]
            ).returncode
            if rc != 0:
                raise RuntimeError(f"input generation failed ({rc})")
        with open(done) as f:
            self.expected = json.load(f)

    def _build(self) -> None:
        tmp = f"{self.data_dir}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        expected = self.generate(np.random.default_rng(self.seed), tmp)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f)
        shutil.rmtree(self.data_dir, ignore_errors=True)
        os.rename(tmp, self.data_dir)

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work_dir, f"{self.name}-{i}")

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.out_dir(i), ignore_errors=True)

    @property
    def records(self) -> int:
        return self.expected["records"]

    def generate(self, rng, out_dir: str) -> dict:
        raise NotImplementedError

    def unit(self, spark, i: int, span=null_span):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError


class StacCatalog(Workload):
    name = "stac_catalog"
    # the first warm unit is still slow (JIT); the median absorbs the rest
    warmup = 1
    min_warm = 5
    N_ORDERS = 40_000

    def generate(self, rng, out_dir: str) -> dict:
        gen.write_orders(rng, out_dir, self.N_ORDERS, self.N_ORDERS // 10)
        # Catalog rows: one per order plus an .hdr companion for .bin
        # (key % 5 == 3). Transfers: uploadable (key % 3 != 0), not a COG
        # (key % 5 != 0), not already in the target (key % 4 != 1).
        k = np.arange(self.N_ORDERS)
        moved = (k % 3 != 0) & (k % 5 != 0) & (k % 4 != 1)
        n_transfers = int(moved.sum() + (moved & (k % 5 == 3)).sum())
        return {
            "records": self.N_ORDERS,
            "result": {
                "n_items": self.N_ORDERS,
                "n_transfers": n_transfers,
                "n_copied": n_transfers,
                "n_submitted": self.N_ORDERS,
                "n_failed": 0,
            },
        }

    def unit(self, spark, i: int, span=null_span):
        from maap_data_pipelines_spark import pipelines

        return pipelines.run_stac_pipeline(spark, self.data_dir, self.out_dir(i))

    def check(self, out) -> list[str]:
        want = self.expected["result"]
        return [f"{k}: got {out.get(k)}, want {v}" for k, v in want.items() if out.get(k) != v]


class CurationCascade(Workload):
    name = "curation_cascade"
    N_BASE = 500
    REPLICAS = 4

    def generate(self, rng, out_dir: str) -> dict:
        gen.write_documents(rng, out_dir, self.N_BASE, self.REPLICAS)
        return {
            "records": self.N_BASE * self.REPLICAS,
            "reasons": _expected_reasons(out_dir, self.N_BASE, self.REPLICAS),
        }

    def unit(self, spark, i: int, span=null_span):
        from maap_data_pipelines_spark import pipelines

        out = pipelines.run_curation_pipeline(spark, self.data_dir, self.out_dir(i))
        return out, self.out_dir(i)

    def check(self, out) -> list[str]:
        res, out_dir = out
        hist = pq.read_table(os.path.join(out_dir, "rejections")).to_pydict()
        got = dict(zip(hist["reason"], hist["n_docs"]))
        want = self.expected["reasons"]
        problems = []
        if got != want:
            problems.append(f"rejection histogram {got} != replicas x base {want}")
        if res["n_in"] != self.records or res["n_kept"] != want.get("ok", 0):
            problems.append(f"counts {res} vs n_in={self.records} n_kept={want.get('ok', 0)}")
        return problems


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _digest(tab) -> str:
    """Order-insensitive digest of a result's names, types and values."""
    cols = sorted(tab.column_names)
    data = [tab.column(c).to_pylist() for c in cols]
    rows = sorted(json.dumps(_canon(list(r)), default=str) for r in zip(*data))
    types = [str(tab.schema.field(c).type) for c in cols]
    return hashlib.sha256(json.dumps([cols, types, rows]).encode()).hexdigest()


class _Collected:
    """A collected result in the shape ``oracle.compare`` reads."""

    def __init__(self, tab):
        self._tab = tab

    def toArrow(self):
        return self._tab


class QueryMix(Workload):
    name = "query_mix"
    # Two plan-build-heavy keys (the curation cascade run standalone, and
    # dedup whose eager checkpoints fire jobs while the plan is built) and
    # two bystanders that touch neither dedup nor materialization.
    KEYS = (
        "curation_yield_report",
        "dedup_token_savings",
        "q3_shipping_priority",
        "events_sessionize",
    )
    # the run budget leaves no room for a discarded warm-up pass here
    warmup = 0
    N_ORDERS = 15_000
    N_EVENTS = 10_000
    N_BASE_DOCS = 250
    REPLICAS = 2
    N_VECS = 1_000

    def generate(self, rng, out_dir: str) -> dict:
        gen.write_warehouse(rng, out_dir, self.N_ORDERS)
        gen.write_events(rng, out_dir, self.N_EVENTS)
        gen.write_documents(rng, out_dir, self.N_BASE_DOCS, self.REPLICAS)
        gen.write_embeddings(rng, out_dir, self.N_VECS)
        records = sum(
            pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )
        return {
            "records": records,
            "reasons": _expected_reasons(out_dir, self.N_BASE_DOCS, self.REPLICAS),
            "verified": {},
        }

    def prepare(self) -> None:
        super().prepare()
        self.order = [str(k) for k in np.random.default_rng(self.seed).permutation(self.KEYS)]

    def unit(self, spark, i: int, span=null_span):
        from maap_data_pipelines_spark import registry

        queries = registry.queries()
        out = {}
        for key in self.order:
            with span(f"registry.build.{key}"):
                df = queries[key](spark, self.data_dir)
            with span(f"registry.execute.{key}"):
                out[key] = df.toArrow()
        return out

    def check(self, out) -> list[str]:
        """Each result against its DuckDB oracle; a result whose digest was
        already verified for this seed is not re-run through DuckDB."""
        from maap_data_pipelines_spark import registry
        from maap_data_pipelines_spark.oracle import compare

        oracles = registry.oracle_sql()
        verified = self.expected["verified"]
        problems = []
        yr = out["curation_yield_report"].to_pydict()
        got = dict(zip(yr["reason"], yr["n_docs"]))
        if got != self.expected["reasons"]:
            problems.append(
                f"curation_yield_report n_docs {got} != replicas x base "
                f"{self.expected['reasons']}"
            )
        for key, tab in out.items():
            digest = _digest(tab)
            if verified.get(key) == digest:
                continue
            bad = compare(_Collected(tab), oracles[key], self.data_dir)
            if bad:
                problems.append(f"{key}: {bad}")
            else:
                verified[key] = digest
                self._save_expected()
        return problems

    def _save_expected(self) -> None:
        path = os.path.join(self.data_dir, "expected.json")
        with open(f"{path}.tmp", "w") as f:
            json.dump(self.expected, f)
        os.replace(f"{path}.tmp", path)


WORKLOADS = {w.name: w for w in (StacCatalog, CurationCascade, QueryMix)}
