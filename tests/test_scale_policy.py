"""The one scale policy (functions/joins.py): both sides of the gate give
the same rows, each treatment does what it says, and no other module
re-forks the decision."""

from __future__ import annotations

import ast
import logging
import os
import threading

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "maap_data_pipelines_spark",
)


def test_scale_branches_match_default_gate(spark, sf_dir, monkeypatch, caplog):
    """Gate at 0 sends every corpus through the scale branches (merge
    pins, DISK_ONLY index, sequential chains): same rows as the default."""
    from pyspark import StorageLevel

    from maap_data_pipelines_spark.functions import joins
    from maap_data_pipelines_spark.operators.dedup import dedup_prefix_filter
    from maap_data_pipelines_spark.plans.llm import corpus_curation_extended
    from maap_data_pipelines_spark.sources.catalog import fan_out, read_table

    def rows():
        docs = fan_out(read_table(spark, sf_dir, "documents"))
        return (
            sorted(corpus_curation_extended(spark, sf_dir).collect()),
            sorted(dedup_prefix_filter(docs).collect()),
        )

    below = rows()
    monkeypatch.setattr(joins, "SCALE_GATE_ROWS", 0)
    with caplog.at_level(logging.DEBUG, logger=joins.__name__):
        above = rows()
    assert above == below
    assert below[0] and below[1]
    decisions = {
        r.args[:2] + r.args[3:] for r in caplog.records if r.name == joins.__name__
    }
    assert (
        "maap_data_pipelines_spark.operators.dedup.dedup_prefix_filter",
        "materialize",
        "above",
    ) in decisions
    assert (
        "maap_data_pipelines_spark.plans.llm._curation_cascade",
        "scale_pin",
        "above",
    ) in decisions

    frame = joins.materialize(spark.range(3), 1)
    try:
        assert frame.storageLevel == StorageLevel.DISK_ONLY
    finally:
        frame.unpersist()
    me = threading.get_ident()
    assert joins.run_chains(1, threading.get_ident, threading.get_ident) == [me, me]


def _names(node: ast.AST):
    for sub in ast.walk(node):
        name = getattr(sub, "id", None) or getattr(sub, "attr", None)
        if isinstance(sub, ast.alias):
            name = sub.name.rsplit(".", 1)[-1]
        if name:
            yield name


def test_scale_policy_lives_in_one_module():
    """DISK_ONLY persists, thread pools and comparisons with the gate
    constant appear only in functions/joins.py (Spark-free source scan)."""
    owner = os.path.join(PKG, "functions", "joins.py")
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == owner:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Compare):
                    found = {"SCALE_GATE_ROWS"} & set(_names(node))
                elif isinstance(node, (ast.Attribute, ast.Name, ast.alias)):
                    found = {"DISK_ONLY", "ThreadPoolExecutor"} & set(_names(node))
                else:
                    continue
                if found:
                    rel = os.path.relpath(path, PKG)
                    offenders.append(f"{rel}:{getattr(node, 'lineno', '?')} {sorted(found)}")
    assert not offenders, offenders
