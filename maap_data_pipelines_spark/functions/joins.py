"""The one scale policy for corpus-scaled frames.

Every runtime "is this corpus small?" decision reads
:data:`SCALE_GATE_ROWS` through one predicate, :func:`_below_gate`, and
takes one of these treatments; the frame's contents pick which:

- :func:`scale_pin` / :func:`corpus_join_hint` — a corpus-scaled join
  side. It must NEVER broadcast: AQE's compressed-shuffle estimate sits
  under the broadcast threshold long after the broadcast build stops
  fitting in memory (r10 300x: curation_yield_report and cluster_topics died
  "Not enough memory to build and broadcast the table"; r9 100x caught
  the same inside dedup_prefix_filter). Below the gate shuffle_hash is
  the fastest non-broadcast strategy; above it the hash relation stops
  fitting a task's memory (r10 300x "cannot build hash map" at 1.5M
  docs) and sort-merge, which spills, is the only correct pin.
- :func:`materialize` — a multi-consumer frame that CONTAINS A SHUFFLE
  (a distinct shingle index): eager ``localCheckpoint`` below the gate.
  Above it the checkpoint store cannot hold a corpus-sized frame (r11
  300x heap OOM on the 78M-row occurrence frame), and a lazy plan
  re-runs the shuffle per consumer (the accumulated shuffle files
  filled the disk at 300x), so it goes to ``persist(DISK_ONLY)``:
  compact blocks, no execution-memory pressure.
- :func:`checkpoint_small` — a SCAN-ONLY multi-consumer frame: eager
  ``localCheckpoint`` below the gate, lazy above it, where codegen
  recompute per consumer is linear and a memory pin is not.
- :func:`run_chains` — independent eager-materialization chains.
  Concurrent submission overlaps the per-job scheduling floor, a
  local-scale win, but the chains share one execution-memory pool (r10
  300x: UNABLE_TO_ACQUIRE_MEMORY at 1.5M docs), so above the gate they
  run one after another and each gets the whole pool.

The binding constraint is PER-TASK memory, not cluster size, so one
row-count gate holds from local[32] to a 1000-executor cluster. r9-r11
read "500k docs clean, 1.5M OOM" and gated at 600k; the r12 100x
receipts (tools/scale100_sweep_r12.jsonl) moved the cliff DOWN: at
500k docs dedup_containment's shuffled-hash build and
curation_yield_report's corpus-grain broadcast both died, while
ngram_jaccard's build survived at the same estimated bytes. Which side
AQE picks to build decides the cliff, not row width, so no bytes-aware
gate separates the runs; the gate sits BELOW the measured failure
point. 400k leaves every bench plan (<= 50k docs) unchanged.

Each decision is logged at DEBUG on this module's logger (silent by
default) as ``site treatment n_rows branch``; ``tools/scale_sweep.py``
records them per key.
"""

from __future__ import annotations

import logging
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

SCALE_GATE_ROWS = 400_000


def _caller_site() -> str:
    """``module.qualname`` of the first frame outside this module."""
    f = sys._getframe(2)
    while f.f_globals.get("__name__") == __name__:
        f = f.f_back
    return f"{f.f_globals.get('__name__')}.{f.f_code.co_qualname}"


def _below_gate(n_rows: int, treatment: str) -> bool:
    """The one scale predicate: True while ``n_rows`` is under the gate."""
    below = n_rows <= SCALE_GATE_ROWS
    if log.isEnabledFor(logging.DEBUG):
        log.debug(
            "%s %s n_rows=%d branch=%s",
            _caller_site(),
            treatment,
            n_rows,
            "below" if below else "above",
        )
    return below


def corpus_join_hint(n_rows: int) -> str:
    """shuffle_hash under the per-task build-memory ceiling, merge above."""
    return "shuffle_hash" if _below_gate(n_rows, "corpus_join_hint") else "merge"


def scale_pin(side: DataFrame, n_rows: int) -> DataFrame:
    """Identity below the gate (let AQE broadcast the genuinely small),
    merge-pinned above it (never a corpus-sized broadcast)."""
    return side if _below_gate(n_rows, "scale_pin") else side.hint("merge")


def materialize(df: DataFrame, n_rows: int) -> DataFrame:
    """A shuffle-bearing multi-consumer frame, computed once: eager
    ``localCheckpoint`` below the gate, ``persist(DISK_ONLY)`` above."""
    if _below_gate(n_rows, "materialize"):
        return df.localCheckpoint()
    return df.persist(StorageLevel.DISK_ONLY)


def checkpoint_small(df: DataFrame, n_rows: int) -> DataFrame:
    """A scan-only multi-consumer frame: eager ``localCheckpoint`` below
    the gate, unchanged (recomputed per consumer) above."""
    return df.localCheckpoint() if _below_gate(n_rows, "checkpoint_small") else df


def run_chains(n_rows: int, *thunks):
    """Results of ``thunks`` in order: run on concurrent scheduler threads
    below the gate, one after another on the calling thread above."""
    if not _below_gate(n_rows, "run_chains"):
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        return [f.result() for f in futures]


def corpus_rows(df: DataFrame) -> int:
    """Exact row count for scale gates / join-strategy pins, counted once.

    When ``df`` is a ``sources.catalog.fan_out`` frame, counts the
    PRE-repartition scan it wraps (``_fanout_base``) — COUNT is
    repartition-invariant. A bare ``sources.catalog.read_table`` scan
    answers from its parquet footers' ``num_rows`` (``_footer_rows``)
    and starts no job; any other frame runs one ``count()``. The count
    is stored on the frame it counted, so every later gate over the same
    frame starts no job; a file-source frame fixes its file listing when
    it is created, so the stored value cannot go stale.
    """
    base = getattr(df, "_fanout_base", df)
    n = getattr(base, "_corpus_rows", None)
    if n is None:
        footer_rows = getattr(base, "_footer_rows", None)
        n = base._corpus_rows = footer_rows() if footer_rows else base.count()
    return n
