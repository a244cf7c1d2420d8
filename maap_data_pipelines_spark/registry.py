"""Central registry: query name -> (spark callable, oracle SQL).

``__spark_entry__.py`` re-exports this; plan modules contribute their
QUERIES/ORACLES dicts. Keys without an oracle entry get the driver's
weaker rows-only check (genuinely non-SQL-expressible ops only).

External correctness harnesses consume ``queries()`` front-to-back with a
bounded budget (50 keys per round), so its order is the rotation. One
stable sort key decides it:

    (has no oracle, newest green round or 0 if never green,
     registration order across _MODULES)

The newest green round of a key is the highest N of a committed
``CORRECTNESS_rN.json`` at the repo root whose row for that key has
``rows_match``, ``schema_match`` and ``hash_match`` all true. So
never-confirmed oracled keys lead in module order, confirmed keys follow
stalest first, and rows-only keys sit at the global tail. Committing a
new record rotates the window; nothing is transcribed into source.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .plans import documents, etl, events, llm, multimodal, sqlapi, stac, tpch, tpch2

_MODULES = [etl, multimodal, events, tpch, documents, tpch2, stac, llm, sqlapi]

_ROOT = Path(__file__).resolve().parent.parent
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def latest_green(root: Path = _ROOT) -> dict[str, int]:
    """Newest round in which each key passed rows, schema and hash checks.

    Keys with no green row are absent. A root with no records yields {}.
    """
    latest: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _RECORD.fullmatch(path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for k, v in json.loads(path.read_text()).items():
            if v.get("rows_match") and v.get("schema_match") and v.get("hash_match"):
                latest[k] = max(latest.get(k, 0), rnd)
    return latest


# Read once at import: queries() runs in every perfbench unit and must not
# touch the filesystem.
_LATEST_GREEN = latest_green()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {overlap}")
        out.update(m.QUERIES)
    oracled = oracle_sql().keys()
    # sorted() is stable, so ties keep registration order.
    order = sorted(out, key=lambda k: (k not in oracled, _LATEST_GREEN.get(k, 0)))
    return {k: out[k] for k in order}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
