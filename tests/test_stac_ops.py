"""Reference-semantics pins for the STAC operators.

The date cases mirror the reference's own test battery
(/root/reference/lambdas/build-stac/tests/test_regex.py): strategy
cascade, first-match-wins, multi-date -> (min, max), month/year range
expansion (incl. relativedelta(day=31) == last_day), id precedence.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from maap_data_pipelines_spark.functions.dates import (
    expand_range,
    extracted_dates,
    start_end_single,
)

D = dt.date

# (filename, datetime_range, (start, end, single)) — cases from the
# reference's test_regex.py (range expansion applied separately below).
REGEX_CASES = [
    ("s3://foo/bar/foo_2010-10-31_bar.tif", (None, None, D(2010, 10, 31))),
    ("s3://foo/bar/foo_20051212_bar.tif", (None, None, D(2005, 12, 12))),
    ("s3://foo/bar/foo_200507_bar.tif", (None, None, D(2005, 7, 1))),
    ("s3://foo/bar/foo_2012_bar.tif", (None, None, D(2012, 1, 1))),
    (
        "s3://foo/bar/foo_2005-07-02_to_2006-09-29_bar.tif",
        (D(2005, 7, 2), D(2006, 9, 29), None),
    ),
    (
        "s3://foo/bar/foo_20050702_to_20060929_bar.tif",
        (D(2005, 7, 2), D(2006, 9, 29), None),
    ),
    (
        "s3://foo/bar/foo_2005_2006_2007_bar.tif",
        (D(2005, 1, 1), D(2007, 1, 1), None),
    ),
]


@pytest.mark.parametrize("filename,expected", REGEX_CASES)
def test_extract_dates_reference_cases(spark, filename, expected):
    df = spark.createDataFrame([(filename,)], ["fn"])
    dates = extracted_dates(F.col("fn"))
    start, end, single = start_end_single(dates)
    row = df.select(
        start.alias("s"), end.alias("e"), single.alias("d")
    ).collect()[0]
    assert (row.s, row.e, row.d) == expected


MONTH_CASES = [
    ("s3://foo/bar/foo_2005-01-02.tif", (D(2005, 1, 1), D(2005, 1, 31))),
    ("s3://foo/bar/foo_2005-02-02.tif", (D(2005, 2, 1), D(2005, 2, 28))),
    ("s3://foo/bar/foo_20050302_bar.tif", (D(2005, 3, 1), D(2005, 3, 31))),
    ("s3://foo/bar/foo_20050402_bar.tif", (D(2005, 4, 1), D(2005, 4, 30))),
]


@pytest.mark.parametrize("filename,expected", MONTH_CASES)
def test_month_range_expansion(spark, filename, expected):
    df = spark.createDataFrame([(filename,)], ["fn"])
    dates = extracted_dates(F.col("fn"))
    single = F.element_at(dates, 1)
    start, end = expand_range(single, "month")
    row = df.select(start.alias("s"), end.alias("e")).collect()[0]
    assert (row.s, row.e) == expected


def test_year_range_expansion(spark):
    df = spark.createDataFrame([("s3://foo/bar/foo_20050302_bar.tif",)], ["fn"])
    dates = extracted_dates(F.col("fn"))
    start, end = expand_range(F.element_at(dates, 1), "year")
    row = df.select(start.alias("s"), end.alias("e")).collect()[0]
    assert (row.s, row.e) == (D(2005, 1, 1), D(2005, 12, 31))


def test_no_date_yields_empty_array(spark):
    # Documented deviation: reference raises (regex.py:60-64); we yield []
    # so the dataflow can route undateable files to a quarantine branch.
    df = spark.createDataFrame([("s3://foo/bar/nodates.tif",)], ["fn"])
    row = df.select(extracted_dates(F.col("fn")).alias("d")).collect()[0]
    assert row.d == []


def test_item_id_precedence(spark, sf_dir):
    """id_regex (groups joined by '-') > product_id > stem."""
    from maap_data_pipelines_spark.plans.stac import asset_catalog, item_id

    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    ids = item_id(spark, sf_dir)
    joined = {r["asset_id"]: r for r in ids.collect()}
    for row in cat.collect():
        got = joined[row.asset_id]["item_id"]
        if row.asset_id % 3 == 0:
            coll_n = row.collection.split("-")[1]
            assert got == f"{coll_n}-{row.asset_id}"
        elif row.product_id is not None:
            assert got == row.product_id
        else:
            assert got == row.stem


def test_transfer_plan_idempotent_and_filtered(spark, sf_dir):
    from maap_data_pipelines_spark.plans.stac import asset_catalog, transfer_plan

    plan = transfer_plan(spark, sf_dir)
    rows = plan.collect()
    cat = {
        (r.asset_id, r.ext): r for r in asset_catalog(spark, sf_dir).collect()
    }
    for r in rows:
        src = cat[(r.asset_id, r.ext)]
        assert src.upload and not src.cogify  # eligibility rule
        assert r.asset_id % 4 != 1  # skip-if-exists anti-join
        bucket = "user-shared-store" if src.user_shared else "target-store"
        assert r.target_url == f"s3://{bucket}/file-staging/{src.collection}/{src.filename}"


def test_stac_item_json_is_valid_json(spark, sf_dir):
    import json

    from maap_data_pipelines_spark.plans.stac import stac_item_json

    rows = stac_item_json(spark, sf_dir).limit(20).collect()
    assert rows
    for r in rows:
        doc = json.loads(r.item_json)
        assert doc["type"] == "Feature"
        assert doc["id"]
        assert doc["assets"]["data"]["href"].startswith("s3://")


def test_coverage_gaps_are_maximal_holes(spark, sf_dir):
    """Every reported gap must be a true hole: no item date strictly
    inside (gap_start, gap_end) for that collection, and both endpoints
    must be real item dates."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark import registry

    gaps = registry.queries()["stac_coverage_gaps"](spark, sf_dir).collect()
    assert gaps  # synthetic catalogs have >30-day holes
    items = registry.queries()["build_stac_items"](spark, sf_dir)
    days = {
        (r.collection, str(r.d))
        for r in items.select(
            "collection",
            F.to_date(
                F.coalesce(F.col("datetime"), F.col("start_datetime")).substr(1, 10)
            ).alias("d"),
        )
        .filter(F.col("d").isNotNull())
        .distinct()
        .collect()
    }
    import datetime

    for g in gaps:
        assert (g.collection, g.gap_start) in days
        assert (g.collection, g.gap_end) in days
        s = datetime.date.fromisoformat(g.gap_start)
        e = datetime.date.fromisoformat(g.gap_end)
        assert (e - s).days == g.gap_days > 30
        d = s + datetime.timedelta(days=1)
        while d < e:
            assert (g.collection, d.isoformat()) not in days
            d += datetime.timedelta(days=1)


def test_stac_items_materialized_shares(spark, sf_dir):
    """The materialized items frame is byte-equal to the standalone
    build, and every *_from_items body over it reproduces its registered
    query row-for-row (the cascade_verdicts lever applied to STAC)."""
    from maap_data_pipelines_spark.plans import stac

    items = stac.stac_items_materialized(stac.asset_catalog(spark, sf_dir))
    key = lambda r: tuple("" if v is None else str(v) for v in r)
    assert sorted(map(key, items.collect())) == sorted(
        map(key, stac.build_stac_items(spark, sf_dir).collect())
    )
    pairs = [
        (stac.stac_item_json_from_items(items), stac.stac_item_json),
        (stac.catalog_summary_from_items(items), stac.catalog_summary),
        (stac.coverage_gaps_from_items(items), stac.stac_coverage_gaps),
    ]
    for shared, standalone in pairs:
        assert sorted(map(key, shared.collect())) == sorted(
            map(key, standalone(spark, sf_dir).collect())
        ), standalone.__name__


def test_stac_item_rules_live_in_one_helper_each():
    """The STAC item rules are written once per engine in the package
    (Spark-free source scan, reads counted per scope): ``ID_REGEX`` by
    ``stac._item_id`` and the module-level ``_ITEM_ID_SQL`` (two groups
    each); ``MEDIA_TYPES`` by ``stac._media_type`` and
    ``stac._media_case``; ``array_min`` / ``list_min(`` only in
    ``functions/dates.py``; the '='-joined ``collect_list`` assets
    aggregate only in ``stac.sorted_asset_list`` (its SQL twin once, in
    ``MULTI_ASSET_GROUP_SQL``)."""
    import ast
    from collections import Counter

    from conftest import package_scopes

    found = {k: Counter() for k in ("ID_REGEX", "MEDIA_TYPES", "min", "assets")}
    for rel, scope, nodes in package_scopes():
        where = (rel, scope)
        for n in nodes:
            text = n.value if isinstance(n, ast.Constant) and isinstance(n.value, str) else ""
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load) and n.id in (
                "ID_REGEX",
                "MEDIA_TYPES",
            ):
                found[n.id][where] += 1
            if (isinstance(n, ast.Attribute) and n.attr == "array_min") or "list_min(" in text:
                found["min"][rel] += 1
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "collect_list"
                and any(isinstance(c, ast.Constant) and c.value == "=" for c in ast.walk(n))
            ) or "|| '=' ||" in text:
                found["assets"][where] += 1
    stac = "plans/stac.py"
    assert found == {
        "ID_REGEX": {(stac, "_item_id"): 2, (stac, "<module>"): 2},
        "MEDIA_TYPES": {(stac, "_media_type"): 1, (stac, "_media_case"): 1},
        "min": {"functions/dates.py": 2},
        "assets": {(stac, "sorted_asset_list"): 1, (stac, "<module>"): 1},
    }, found
