"""End-to-end pipeline runners: the jobs a reference user actually ships.

The registry exposes each operator as a lazy query; these runners compose
them into the two complete products and OWN the actions (writes), which
is where persist/checkpoint lifecycles and manifests belong:

* :func:`run_stac_pipeline` — the reference's whole job
  (discovery-derived catalog -> STAC items -> partitioned catalog write
  -> transfer plan -> batched submission receipts), mirroring the Step
  Functions flow (`/root/reference/deploy` wiring) as one Spark job.
* :func:`run_curation_pipeline` — the training-data product: five-stage
  keep/reject cascade (one materialized verdict frame) -> curated corpus
  partitioned by source + rejection histogram + token-yield report.

Both are idempotent (overwrite semantics keyed by the output dir): rerun
produces byte-identical results, so a failed run is re-submitted whole —
the same property the reference gets from skip-if-exists transfers.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import sinks
from .functions.joins import corpus_rows
from .plans import llm, stac
from .sources.catalog import read_table

_DATE_FIELDS = (
    "single_datetime",
    "start_datetime",
    "end_datetime",
    "datetime_range",
)


def discover_from_event(
    spark: SparkSession, event: dict, root: str
) -> DataFrame:
    """Reference event-payload adapter: s3-discovery JSON -> file_obj frame.

    Takes the EXACT event dict a reference user feeds their s3-discovery
    Lambda (`lambdas/s3-discovery/handler.py:17-84`) and produces the same
    file objects as a DataFrame: identical defaulting (collection =
    prefix.rstrip('/'), upload/user_shared False, ingest True), the same
    start-anchored Python ``re.match`` on the full key (run inside the
    dir_discovery source, so a filtered key never leaves it), the same
    date-field and gdal_config_options propagation. ``root`` stands in for
    ``s3://bucket`` (no cloud SDKs here); ``remote_fileurl`` still renders
    the s3 URL the downstream expects.

    What deliberately disappears: the 230 KB payload cap, ``start_after``
    pagination and the one-Lambda-at-a-time listing loop — the listing is
    a distributed scan (one partition per prefix via the dir_discovery
    DataSource), so a 10^9-object bucket is a normal DataFrame, not a
    re-invocation chain.
    """
    from .sources.pyds import register

    register(spark)
    bucket = event.get("bucket", "local")
    prefix = event.get("prefix", "")
    collection = event.get("collection", prefix.rstrip("/"))
    reader = spark.read.format("dir_discovery").option("path", root)
    if regex := event.get("filename_regex"):
        reader = reader.option("filename_regex", regex)
    listing = reader.load()
    if prefix:
        listing = listing.filter(F.col("key").startswith(prefix))
    cols = [
        F.lit(collection).alias("collection"),
        F.concat(F.lit(f"s3://{bucket}/"), F.col("key")).alias(
            "remote_fileurl"
        ),
        F.lit(bool(event.get("upload", False))).alias("upload"),
        F.lit(bool(event.get("user_shared", False))).alias("user_shared"),
        F.lit(bool(event.get("ingest", True))).alias("ingest"),
        F.lit(json.dumps(event.get("properties", {}))).alias("properties"),
    ]
    for f in _DATE_FIELDS:
        if f in event:
            cols.append(F.lit(str(event[f])).alias(f))
    if "gdal_config_options" in event:
        cols.append(
            F.lit(str(event["gdal_config_options"])).alias(
                "gdal_config_options"
            )
        )
    return listing.select(*cols)


def discover_from_inventory_event(
    spark: SparkSession, event: dict, csv_path: str
) -> DataFrame:
    """Reference event-payload adapter: inventory JSON -> file_obj frame.

    Mirrors `lambdas/inventory/handler.py:20-88` against the user's OWN
    event dict: ``file_url_key`` selects the CSV column (header-name
    based, so any inventory layout works), ``filename_regex`` applies
    with ``re.match`` start-anchoring, ``product_id`` is the stem of the
    last path segment, ``metadata_file_url_key``+``metadata_type`` render
    as the canonical ';'-joined ``key=url`` assets string (one entry —
    the same encoding every discovery adapter emits, so downstream
    unions are schema-compatible), and every event key containing "asset"
    propagates verbatim — the Lambda's exact enrichment rules. The CSV is
    read distributed (a multi-GB inventory is just a dataset), replacing
    the download-to-/tmp + DictReader + 230 KB chunking loop.
    """
    inv = spark.read.option("header", True).csv(csv_path)
    url = F.col(event.get("file_url_key", "s3_path"))
    if regex := event.get("filename_regex"):
        # Python's re.match, as the s3 mode's source applies it; compiled
        # on the driver, so a bad pattern raises while the plan is built
        rx = re.compile(regex)
        keep = F.udf(
            lambda u: u is not None and rx.match(u) is not None, "boolean"
        )
        inv = inv.filter(keep(url))
    stem = F.regexp_replace(
        F.element_at(F.split(url, "/"), -1), r"\.[^.]*$", ""
    )
    props = (
        json.dumps(event["properties"]) if "properties" in event else None
    )
    cols = [
        F.lit(event["collection"]).alias("collection"),
        url.alias("remote_fileurl"),
        F.lit(bool(event.get("upload", False))).alias("upload"),
        F.lit(bool(event.get("user_shared", False))).alias("user_shared"),
        F.lit(props).cast("string").alias("properties"),
        stem.alias("product_id"),
        F.lit(bool(event.get("ingest", True))).alias("ingest"),
        F.lit(bool(event.get("cogify", False))).alias("cogify"),
    ]
    mk, mt = event.get("metadata_file_url_key"), event.get("metadata_type")
    if mk and mt:
        # rendered as the engine's ONE canonical assets encoding — the
        # ';'-joined 'key=url' string multi_asset_group and the cmr
        # adapter emit — so every discovery mode unions by name into a
        # single onboarding frame (run_discovery_spec) without a
        # map-vs-string type clash.
        cols.append(
            F.concat(F.lit(f"{mt}="), F.col(mk)).alias("assets")
        )
    return inv.select(*cols, *_asset_passthrough(event))


def _asset_passthrough(event: dict) -> list[Column]:
    """Every event key containing "asset", verbatim as a string literal
    (the inventory and cmr-query Lambdas' enrichment rule)."""
    return [F.lit(str(v)).alias(k) for k, v in event.items() if "asset" in k]


_CMR_S3_REL = "http://esipfed.org/ns/fedsearch/1.1/s3#"


def discover_from_cmr_event(
    spark: SparkSession, event: dict, granules: DataFrame
) -> DataFrame:
    """Reference event-payload adapter: cmr-query JSON -> file_obj frame.

    ``granules`` is the CMR search response's ``feed.entry`` list as a
    DataFrame (``spark.read.json`` of a granule dump — the one HTTP GET
    stays with the caller; no network here). Mirrors
    `lambdas/cmr-query/handler.py:108-194`:

    - link selection keeps the LAST link per granule whose rel is the s3#
      rel or ``event['link_rel']`` (the Lambda overwrites file_obj in its
      link loop — last match wins); granules with no matching link are
      dropped (the Lambda appends an empty dict that downstream code
      cannot use — documented deviation);
    - event keys containing "asset" propagate verbatim;
    - with ``data_file_regex``/``data_file``: the multi-asset regroup
      (handler.py:11-105) — product_id = first regex match in the url,
      assets = sorted {suffix: url} map over the product's files
      (suffix = url minus ``.*product_id[-_.]?``), one output row per
      url matching ``.*product_id.*data_file``. The assets map is
      rendered as a deterministic ';'-joined 'suffix=url' string, the
      same stable rendering `multi_asset_group` uses.

    Page-looping (``start_after``) disappears: the caller hands the whole
    dump, and grouping is a DataFrame aggregation, not a 100-granule
    Lambda window — product groups spanning page boundaries, which the
    reference silently mis-groups, are handled correctly.
    """
    collection = event["collection"]
    link_rel = event.get("link_rel")
    # "last matching link wins" must not depend on partitioning: F.last is
    # documented non-deterministic, so carry the array position through
    # posexplode and take max_by(href, pos) — explicit array-order semantics.
    lnk = F.posexplode(F.col("links")).alias("pos", "link")
    picked = (
        granules.select(F.col("id").alias("granule_id"), lnk)
        .withColumn("rel", F.col("link.rel"))
        .withColumn("href", F.col("link.href"))
        .filter(
            (F.col("rel") == _CMR_S3_REL)
            | ((F.lit(link_rel).isNotNull()) & (F.col("rel") == F.lit(link_rel)))
        )
        .groupBy("granule_id")
        .agg(F.max_by("href", "pos").alias("remote_fileurl"))
    )
    cols = [
        F.lit(collection).alias("collection"),
        F.col("remote_fileurl"),
        F.col("granule_id"),
        F.col("granule_id").alias("id"),
        F.lit(event.get("mode")).cast("string").alias("mode"),
        F.lit(event.get("test_links")).cast("string").alias("test_links"),
        F.lit(event.get("reverse_coords")).cast("string").alias("reverse_coords"),
        *_asset_passthrough(event),
    ]
    objs = picked.select(*cols)

    data_file_regex = event.get("data_file_regex")
    if not data_file_regex:
        return objs
    data_file = event.get("data_file", "")
    with_pid = objs.withColumn(
        "product_id", F.regexp_extract("remote_fileurl", data_file_regex, 0)
    ).filter(F.col("product_id") != "")
    # suffix = url minus everything through product_id and one [-_.]
    suffix = F.expr(
        "regexp_replace(remote_fileurl, concat('.*', product_id, '[-_.]?'), '')"
    )
    assets = with_pid.groupBy("product_id").agg(
        F.concat_ws(";", stac.sorted_asset_list(suffix)).alias("assets")
    )
    # Build the pattern as a column expression: splicing data_file into the
    # SQL text via repr would break on quotes in the event payload.
    keep = F.regexp_like(
        F.col("remote_fileurl"),
        F.concat(F.lit(".*"), F.col("product_id"), F.lit(".*"), F.lit(data_file)),
    )
    return (
        with_pid.filter(keep)
        .join(F.broadcast(assets), "product_id")
        .select(*objs.columns, "product_id", "assets")
    )


def run_stac_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str, endpoint: str = "dry://ingest"
) -> dict:
    """Catalog -> items -> partitioned write -> transfer plan -> receipts.

    The asset catalog is planned ONCE and both the items and the transfer
    plan derive from it; the items frame is assembled once
    (``stac.stac_items_materialized``) and shared by the catalog write and
    the JSON rendering — the cascade_verdicts composition lever applied
    to the STAC tier. Every returned count is observed by the write that
    produced its directory, so no output is read back to be counted; the
    only read-back is the written transfer plan, the artifact the copies
    run from.
    """
    cat = stac.asset_catalog(spark, sf_dir)
    items = stac.stac_items_materialized(cat)
    counts = {
        "n_items": sinks.write_items_partitioned(
            items, os.path.join(out_dir, "catalog"), partition_cols=("collection",)
        )
    }
    plan = stac.transfer_plan_from_catalog(cat)
    plan_dir = os.path.join(out_dir, "transfer_plan")
    counts |= _write_counted(plan, plan_dir, n_transfers=F.count(F.lit(1)))
    copy_receipts = sinks.execute_transfer_plan(
        spark.read.schema(plan.schema).parquet(plan_dir)
    )
    counts |= _write_counted(
        copy_receipts,
        os.path.join(out_dir, "transfer_receipts"),
        n_copied=F.count_if(F.col("status") == 200),
    )
    docs = stac.stac_item_json_from_items(items).select(
        F.col("asset_id").cast("string").alias("item_id"), "item_json"
    )
    receipts = sinks.submit_items(docs, endpoint=endpoint)
    counts |= _write_counted(
        receipts,
        os.path.join(out_dir, "receipts"),
        n_submitted=F.count(F.lit(1)),
        n_failed=F.count_if(F.col("status") != 200),
    )
    return counts


def _write_counted(df: DataFrame, path: str, **metrics: Column) -> dict:
    """Overwrite ``path`` with ``df`` as parquet; return ``metrics`` as
    observed over the rows written.

    The observation is the plan's top node, so it runs in the write's
    result stage, where each task's metric update is applied once (a
    re-run shuffle map stage can apply its updates twice).
    """
    written = Observation()
    df.observe(written, *[m.alias(k) for k, m in metrics.items()]).write.mode(
        "overwrite"
    ).parquet(path)
    return written.get


def run_curation_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Five-stage keep/reject cascade -> curated corpus + rejection
    histogram + token-yield report.

    All three products branch from ONE materialized verdict frame
    (``llm.cascade_verdicts`` — the cascade's quality scan, exact-dup
    groupBy, LSH band join, containment join and novelty pass run
    exactly once per pipeline run, not once per product). The yield
    report reuses the registered query's body via
    ``yield_report_from_verdicts`` so the pipeline artifact is
    row-identical to `curation_yield_report`.
    """
    decisions = llm.cascade_verdicts(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    kept = docs.join(
        decisions.filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    n_kept = sinks.write_items_partitioned(
        kept, os.path.join(out_dir, "corpus"), partition_cols=("source",)
    )
    hist = (
        decisions.groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .coalesce(1)
    )
    hist.write.mode("overwrite").parquet(os.path.join(out_dir, "rejections"))
    yield_report = llm.yield_report_from_verdicts(decisions, docs).coalesce(1)
    yield_report.write.mode("overwrite").parquet(os.path.join(out_dir, "yield"))
    n_in = corpus_rows(docs)
    return {"n_in": n_in, "n_kept": n_kept, "n_rejected": n_in - n_kept}


def run_dataset_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """The training-dataset build: split -> leakage audit -> dup-span
    removal plan -> context-window packing -> partitioned corpus.

    The third end-to-end product (after the STAC catalog and the curation
    cascade): everything a pretraining data drop needs, from the same
    lazy operators —

    1. deterministic 80/10/10 split assignment (hash-gated, no RNG);
    2. cross-split 5-gram leakage audit (``split_leakage``) written as a
       monitorable report;
    3. cross-doc duplicate-span removal plan (``dup_span_removal``) with
       per-doc words-to-cut totals folded into the manifest;
    4. concatenate-and-split packing (``doc_pack_assign``) for the train
       split only;
    5. the corpus written partitioned by split (train/val/test dirs).

    Idempotent like its siblings: overwrite semantics keyed by out_dir.
    """
    from .operators.curation import doc_pack_assign, dup_span_removal, split_leakage
    from .plans.etl import doc_split_assign

    docs = read_table(spark, sf_dir, "documents")
    splits = doc_split_assign(spark, sf_dir).select("doc_id", "split")
    labeled = docs.join(splits, "doc_id")
    sinks.write_items_partitioned(
        labeled, os.path.join(out_dir, "corpus"), partition_cols=("split",)
    )

    leak = split_leakage(docs)
    leak.write.mode("overwrite").parquet(os.path.join(out_dir, "leakage"))

    spans = dup_span_removal(docs)
    cut_totals = spans.groupBy("doc_id").agg(
        F.sum("span_words").alias("n_cut_words")
    )
    spans.write.mode("overwrite").parquet(os.path.join(out_dir, "removal_plan"))

    train = labeled.filter(F.col("split") == "train")
    packs = doc_pack_assign(train).join(cut_totals, "doc_id", "left").select(
        "doc_id",
        "source",
        "pack_id",
        "straddles",
        F.coalesce(F.col("n_cut_words"), F.lit(0)).alias("n_cut_words"),
    )
    packs.write.mode("overwrite").parquet(os.path.join(out_dir, "pack_manifest"))

    back = spark.read.parquet(os.path.join(out_dir, "corpus"))
    manifest = spark.read.parquet(os.path.join(out_dir, "pack_manifest"))
    by_split = {
        r.split: r.n for r in back.groupBy("split").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    return {
        "n_docs": sum(by_split.values()),
        "by_split": by_split,
        "n_leaky_eval_docs": spark.read.parquet(
            os.path.join(out_dir, "leakage")
        ).filter(F.col("n_leaked") > 0).count(),
        "n_packs": manifest.select("source", "pack_id").distinct().count(),
        "n_docs_with_cuts": manifest.filter(F.col("n_cut_words") > 0).count(),
    }


def run_incremental_ingest(
    spark: SparkSession, batch: DataFrame, state_dir: str
) -> dict:
    """Steady-state corpus ingest: admit only content-new docs, grow state.

    The production loop around ``dedup_incremental``'s query shape, with
    the corpus hash set PERSISTED between runs instead of recomputed:

    1. dedup the incoming batch within itself (min doc_id per text hash);
    2. anti-join against the state dir's hash set (first run: empty);
    3. append the admitted docs to ``corpus/`` and their hashes to
       ``hashes/`` — the state the NEXT batch anti-joins against.

    Replaying the same batch admits zero docs (content-level idempotence
    — the at-least-once delivery guard an ingest pipeline needs). The
    state is one row per distinct text ever admitted: at 100 TB the
    anti-join probe is hash-sized, not corpus-sized, and the append
    never rewrites history.
    """
    from pyspark.sql.window import Window

    hashes_dir = os.path.join(state_dir, "hashes")
    corpus_dir = os.path.join(state_dir, "corpus")
    w = Window.partitionBy("text_md5").orderBy("doc_id")
    incoming = (
        batch.withColumn("text_md5", F.md5(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    try:
        known = spark.read.parquet(hashes_dir).select("text_md5")
        first_run = False
    except Exception:
        known = None
        first_run = True
    admitted = (
        incoming
        if known is None
        else incoming.join(known, "text_md5", "left_anti")
    )
    admitted = admitted.localCheckpoint()  # pin BEFORE appending to state
    n_admitted = admitted.count()
    if n_admitted:
        mode = "overwrite" if first_run else "append"
        admitted.drop("text_md5").write.mode(mode).parquet(corpus_dir)
        admitted.select("text_md5").write.mode(mode).parquet(hashes_dir)
    return {
        "n_batch": batch.count(),
        "n_admitted": n_admitted,
        "n_corpus": (
            spark.read.parquet(corpus_dir).count() if n_admitted or not first_run
            else 0
        ),
    }


# --- event routing: the trigger/proxy surface as engine functions ---------

_INVALID_JOB_NAME_CHARS = re.compile("[^a-zA-Z0-9_-]")


def filter_job_name(name: str | None) -> str:
    """Sanitize an execution name (parity: discovery-trigger
    handler.py ``filter_sfname`` / proxy handler.py — strip everything
    outside [a-zA-Z0-9_-], None -> "")."""
    if name is None:
        return ""
    return _INVALID_JOB_NAME_CHARS.sub("", name)


def execution_name(event: dict) -> str:
    """Deterministic job name for one discovery event.

    Parity: discovery-trigger handler.py builds
    ``{collection[:38]}-{page:04d}-{uuid4}`` with page capped at 9999.
    The uuid suffix exists only to dodge Step Functions' 90-day
    execution-name dedup window; the engine's jobs are idempotent
    overwrites keyed by output dir, so the name stays deterministic —
    rerun = same job, not a new one.
    """
    page = min(event.get("start_after", 1), 9999)
    return f"{filter_job_name(event.get('collection'))[:38]}-{page:04d}"


def group_records_by_collection(records: list[dict]) -> dict:
    """Queue-records fan-in (parity: proxy handler.py
    ``group_by_collection`` — one execution per collection, records
    grouped in arrival order)."""
    grouped: dict = {}
    for record in records:
        grouped.setdefault(record.get("collection"), []).append(record)
    return grouped


def dispatch_discovery(
    spark: SparkSession,
    event: dict,
    *,
    root: str | None = None,
    csv_path: str | None = None,
    granules: DataFrame | None = None,
    transport=None,
) -> DataFrame:
    """Route one discovery event to its adapter by ``event['discovery']``.

    The reference wires this dispatch through Step Functions state
    machine choices (deploy wiring); the engine routes in-process:
    ``s3`` -> :func:`discover_from_event` (needs ``root``),
    ``inventory`` -> :func:`discover_from_inventory_event` (needs
    ``csv_path``), ``cmr`` -> :func:`discover_from_cmr_event` over either
    a provided granule frame or the HTTP paging client when a
    ``transport`` is given. Every value in the reference's own
    step_function_inputs/*.json routes through exactly one branch.
    """
    mode = event.get("discovery")
    if mode == "s3":
        if root is None:
            raise ValueError("s3 discovery event needs root=")
        return discover_from_event(spark, event, root)
    if mode == "inventory":
        if csv_path is None:
            raise ValueError("inventory discovery event needs csv_path=")
        return discover_from_inventory_event(spark, event, csv_path)
    if mode == "cmr":
        if granules is None:
            if transport is None:
                raise ValueError(
                    "cmr discovery event needs granules= or transport="
                )
            from .sources.cmr import read_cmr_granules

            granules = read_cmr_granules(spark, event, transport)
        return discover_from_cmr_event(spark, event, granules)
    raise ValueError(f"unknown discovery mode: {mode!r}")


def route_queue_records(
    spark: SparkSession, records: list[dict], **ctx
) -> dict:
    """Proxy twin: group queued events by collection, one unioned
    discovery frame per collection (keyed by :func:`execution_name` of
    the group's first record). ``ctx`` forwards to
    :func:`dispatch_discovery`; frames union by name with missing
    columns allowed, since different discovery modes emit different
    optional columns.
    """
    out: dict = {}
    for _, group in group_records_by_collection(records).items():
        df = None
        for event in group:
            d = dispatch_discovery(spark, event, **ctx)
            df = d if df is None else df.unionByName(
                d, allowMissingColumns=True
            )
        out[execution_name(group[0])] = df
    return out


def run_discovery_spec(
    spark: SparkSession, spec: list[dict], **defaults
) -> DataFrame:
    """Declarative multi-collection onboarding: a run-spec as data.

    The reference drives per-collection discovery/cogify options from
    config (deploy/config.py + RESOURCES.md — one entry per collection,
    the deploy loops them into state-machine inputs). The engine's twin:
    ``spec`` is a list of discovery event dicts, each optionally carrying
    a per-collection adapter context under ``"ctx"`` (``root`` /
    ``csv_path`` / ``granules`` / ``transport``) that overrides the
    shared ``defaults``. Every event routes through
    :func:`dispatch_discovery`; the per-collection frames union by name
    (missing optional columns NULL-fill) into ONE receipts DataFrame
    stamped with ``collection`` and ``execution`` lineage columns — so
    onboarding N collections is one config value and one job, and the
    result is ordinary dataflow (filter by collection, count per
    execution, feed build_stac_items).

    Scale note: the union is plan-level (no shuffle); each branch keeps
    its own pushed-down listing/scan, and downstream consumers see one
    frame partitioned as the branches produced it.
    """
    out: DataFrame | None = None
    for event in spec:
        ctx = {**defaults, **event.get("ctx", {})}
        d = dispatch_discovery(spark, event, **ctx).withColumn(
            "execution", F.lit(execution_name(event))
        )
        # the adapters already emit `collection` with their own
        # defaulting (e.g. s3: prefix.rstrip('/')) — keep it
        out = d if out is None else out.unionByName(d, allowMissingColumns=True)
    if out is None:
        raise ValueError("empty discovery spec")
    return out


def apply_rollup_batch(table, batch_df: DataFrame, batch_id: int) -> bool:
    """Merge one micro-batch of raw events into an hourly rollup table.

    Exactly-once without a streaming-state store: the merged aggregates
    and the applied batch id publish in one manifest, behind the replay
    guard ``VersionedTable.batch_applied`` under the NAMESPACED key
    ``rollup_batch_id`` (table meta merges across commits, so an
    unrelated ``commit()``/``merge_upsert`` cannot reset it). Returns
    True if the batch was applied, False if skipped as replay. Single
    rollup-stream writer per table.
    """
    meta = table.latest_meta()
    # Legacy fallback: tables committed before the guard key was
    # namespaced recorded it as 'batch_id'. Without this, the first
    # replayed micro-batch after an upgrade would pass the guard and be
    # double-applied into the additive merge.
    legacy_used = "rollup_batch_id" not in meta and "batch_id" in meta
    if table.batch_applied("batch_id" if legacy_used else "rollup_batch_id", batch_id):
        return False
    part = batch_df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    new_meta = {"rollup_batch_id": batch_id}
    if legacy_used:
        # one-time migration: the un-namespaced key is shared across
        # writers (table.py's documented hazard) — retire it (None
        # tombstone deletes) so subsequent reads use only the namespaced
        # guard and a foreign 'batch_id' can never suppress rollups.
        new_meta["batch_id"] = None
    table.merge_aggregate(
        part,
        keys=["hour", "event_type"],
        sum_cols=["n_events", "value_cents"],
        meta=new_meta,
    )
    return True



def run_embedding_health_report(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """One-stop embedding-space health report before anything trains.

    Composes the labeled-embedding eval battery into a single artifact
    directory + summary dict — the go/no-go read a training run starts
    with: 1-NN neighborhood purity (local), nearest-centroid confusion
    (global separability), per-dimension Fisher ratios (which dims
    carry signal), the top principal direction (drift fingerprint —
    diff it across snapshots), and the per-source outlier review queue.
    Every component is an already-oracled registered operator; the
    report is their composition, persisted as parquet per section.
    """
    from .operators import kmeans as km
    from .plans.llm import doc_embedding_outliers

    emb = read_table(spark, sf_dir, "embeddings")
    sections = {
        "knn_accuracy": km.embedding_knn_accuracy(emb),
        "label_confusion": km.embedding_label_confusion(emb),
        "fisher_ratio": km.embedding_fisher_ratio(emb),
        "pca_top": km.embedding_pca_top(emb),
        "outliers": doc_embedding_outliers(spark, sf_dir),
    }
    for name, df in sections.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    knn = spark.read.parquet(os.path.join(out_dir, "knn_accuracy"))
    acc = knn.agg(
        (F.sum("n_correct") / F.sum("n_eval")).alias("a")
    ).collect()[0][0]
    conf = spark.read.parquet(os.path.join(out_dir, "label_confusion"))
    diag = conf.agg(
        F.sum(
            F.when(F.col("true_label") == F.col("pred_label"), F.col("n_vecs"))
            .otherwise(0)
        ).alias("d"),
        F.sum("n_vecs").alias("t"),
    ).collect()[0]
    fisher = spark.read.parquet(os.path.join(out_dir, "fisher_ratio"))
    top_dim = fisher.orderBy(F.desc("fisher")).limit(1).collect()[0]
    return {
        "knn_accuracy": round(float(acc), 6),
        "centroid_accuracy": round(diag.d / diag.t, 6),
        "top_fisher_dim": int(top_dim.dim),
        "top_fisher": float(top_dim.fisher),
        "n_outliers": spark.read.parquet(os.path.join(out_dir, "outliers")).count(),
    }

def run_retrieval_report(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """One-stop retrieval-stack evaluation over the document corpus.

    The search-quality companion to :func:`run_embedding_health_report`:
    for the fixed query battery it persists the full ranking stack —
    BM25 lexical top-k, the hybrid RRF fusion, and the MMR-diversified
    context selection — and reads back the summary a retrieval owner
    actually checks: per-query pool depth, how much the fused order
    disagrees with pure BM25 (fusion doing work), and how much relevance
    MMR trades per pick for diversity (redundancy present at all?).
    Every component is an already-oracled registered operator; the
    report is their composition, persisted as parquet per section.
    """
    from .operators import text as tx

    docs = read_table(spark, sf_dir, "documents")
    sections = {
        "bm25": tx.bm25_topk(docs),
        "rrf": tx.retrieval_rrf_fusion(docs),
        "mmr": tx.retrieval_mmr_topk(docs),
    }
    for name, df in sections.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    bm25 = spark.read.parquet(os.path.join(out_dir, "bm25"))
    rrf = spark.read.parquet(os.path.join(out_dir, "rrf"))
    mmr = spark.read.parquet(os.path.join(out_dir, "mmr"))
    n_queries = bm25.select("query_id").distinct().count()
    # fused-vs-lexical disagreement: share of fused top-10 rows whose
    # fused rank differs from their BM25 rank (0 = fusion is a no-op)
    moved = rrf.filter("rnk <= 10").agg(
        F.sum((F.col("rnk") != F.col("bm25_rnk")).cast("long")).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    # MMR's price of diversity: mean relevance given up per non-seed pick
    # (rel is pool-normalized micro, so this reads as ppm of the best doc)
    div = mmr.filter("mmr_rank > 1").agg(
        F.avg(F.col("rel") - F.col("mmr")).alias("paid"),
        F.avg("max_sim").alias("redundancy"),
    ).collect()[0]
    return {
        "n_queries": int(n_queries),
        "fused_moved_share": round(moved.m / moved.n, 6),
        "mmr_relevance_paid_micro": round(float(div.paid), 1),
        "mmr_mean_max_sim_micro": round(float(div.redundancy), 1),
    }


def run_experiment_report(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """One-stop experiment readout — the report an experimentation
    platform renders per test, in trust order.

    Composes the oracled experimentation battery into a single artifact
    directory + summary dict: (1) the SRM TRUST GATE first (a broken
    assignment invalidates everything downstream regardless of
    significance), (2) the raw two-proportion z readout, (3) the CUPED
    variance-reduced readout (the number actually shipped), (4) the
    per-stratum CUPED breakdown plus its n-weighted combined estimate
    (post-stratification — the heterogeneity read: a lift concentrated
    in one revenue stratum and a uniform lift print the same pooled
    number), (5) the post-hoc power table, (6) the forward-looking MDE
    curve, (7) the always-valid sequential (mSPRT) readout a peeked
    dashboard may show. Every section is an already-oracled registered
    operator; the report is their composition, persisted as parquet per
    section — the run_embedding_health_report pattern applied to
    experimentation.
    The combined estimate is the exact integer fold the
    events_cuped_stratified docstring leaves to consumers:
    sum((n_a+n_b) * diff_cuped_milli) div sum(n_a+n_b) over the strata
    with a defined adjusted lift.
    """
    from .plans import events as ev

    sections = {
        "srm": ev.events_ab_srm_check(spark, sf_dir),
        "z_readout": ev.events_ab_test(spark, sf_dir),
        "cuped": ev.events_cuped(spark, sf_dir),
        "cuped_strata": ev.events_cuped_stratified(spark, sf_dir),
        "power": ev.events_ab_power(spark, sf_dir),
        "mde_curve": ev.events_mde_curve(spark, sf_dir),
        # peeking-safe monitoring: the number a live dashboard may show
        "sequential": ev.events_ab_sequential(spark, sf_dir),
    }
    for name, df in sections.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    srm = spark.read.parquet(os.path.join(out_dir, "srm")).collect()[0]
    z = spark.read.parquet(os.path.join(out_dir, "z_readout")).collect()[0]
    cuped = spark.read.parquet(os.path.join(out_dir, "cuped")).collect()[0]
    strata = spark.read.parquet(os.path.join(out_dir, "cuped_strata"))
    combined = (
        strata.filter(F.col("diff_cuped_milli").isNotNull())
        .agg(
            F.expr(
                "sum((n_a + n_b) * diff_cuped_milli) div sum(n_a + n_b)"
            ).alias("d"),
            F.count(F.lit(1)).alias("k"),
        )
        .collect()[0]
    )
    seq = spark.read.parquet(os.path.join(out_dir, "sequential")).collect()[0]
    mde = spark.read.parquet(os.path.join(out_dir, "mde_curve"))
    feasible = (
        mde.filter(F.col("feasible_now") == 1)
        .agg(F.min("delta_micro").alias("m"))
        .collect()[0]
        .m
    )
    return {
        # the gate: downstream numbers are only readable if this is 0
        "srm_suspected": int(srm.srm_suspected),
        "n_a": int(z.n_a),
        "n_b": int(z.n_b),
        "z_milli": int(z.z_milli),
        "diff_raw_milli": int(cuped.diff_raw_milli),
        "diff_cuped_milli": int(cuped.diff_cuped_milli),
        "variance_reduction_ppm": int(cuped.rho2_ppm),
        # post-stratified combined lift (n-weighted over defined strata)
        # beside the pooled one: divergence between the two is the
        # heterogeneity signal the per-stratum section breaks down
        "diff_stratified_milli": None if combined.d is None else int(combined.d),
        "n_strata_defined": int(combined.k),
        # smallest lift (micro) the CURRENT population can already detect;
        # None when even 10ppt is out of reach
        "min_feasible_mde_micro": None if feasible is None else int(feasible),
        # always-valid (peeking-safe) p — the only p a live dashboard
        # may display mid-experiment
        "always_valid_p_ppm": int(seq.always_valid_p_ppm),
        "sequential_reject": int(seq.reject_at_5pct),
    }


def run_live_rollup_pipeline(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    fmt: str = "json",
):
    """Streaming incremental materialized view: events -> hourly rollup.

    The fourth end-to-end product, closing the lakehouse loop the other
    three leave open: a continuous query tails the landing directory and
    maintains a VersionedTable holding the (hour, event_type) rollup —
    no streaming aggregation state, no watermark eviction. Each
    micro-batch partial-aggregates ITSELF (tiny) and merges additively
    into the table; the table IS the state, so a late event simply merges
    into its hour whenever it arrives, and every publish is a snapshot a
    dashboard can pin. Batch backfill and live tail are the same code
    path (availableNow trigger). Exactly-once via the manifest batch-id
    transaction (see :func:`apply_rollup_batch`).
    """
    from .streaming.rollup import EVENT_SCHEMA
    from .table import VersionedTable

    table = VersionedTable(table_dir)
    reader = spark.readStream.schema(EVENT_SCHEMA)
    stream = (
        reader.json(landing_dir) if fmt == "json" else reader.parquet(landing_dir)
    )
    return sinks.start_available_now(
        stream, lambda b, i: apply_rollup_batch(table, b, i) and None, checkpoint_dir
    )


# -- declarative stage orchestration (retry / error routing) ---------------


@dataclass
class Stage:
    """One orchestration stage with Step-Functions-style retry policy.

    Parity: ``deploy/cdk/step_function_stack.py`` — every reference task
    declares ``add_retry(interval, max_attempts)``, optionally filtered
    to specific error types (``errors=["RasterioIOError"]`` on the
    build-stac task), and the state machine routes exhausted tasks. The
    engine's analogue is declarative data: a Stage carries its retry
    policy; :func:`run_stages` executes the list.

    ``fn(ctx) -> dict`` receives the accumulated context and returns
    updates merged into it (the state-machine payload passing). Retries
    apply only to exceptions matching ``retry_on`` (the errors= filter);
    non-matching errors go straight to the exhausted route.
    ``on_exhausted``: 'fail' re-raises (default — the unrouted Step
    Functions failure), 'skip' records the failure and continues the DAG
    (the Catch-route analogue; downstream stages see the unchanged ctx).
    """

    name: str
    fn: Callable[[dict], dict | None]
    max_attempts: int = 1
    interval_seconds: float = 0.0
    backoff_rate: float = 2.0
    retry_on: tuple = (Exception,)
    on_exhausted: str = "fail"


def run_stages(
    stages: list[Stage],
    ctx: dict | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[dict, list[dict]]:
    """Run stages sequentially with per-stage retry/catch; return receipts.

    Receipts are one dict per ATTEMPT — (stage, attempt, status, error) —
    so the run's whole control-flow history is ordinary data a caller can
    land as a DataFrame, exactly like the submission sinks' receipt
    discipline. ``sleep`` is injectable (tests pin the exponential
    backoff schedule without waiting it out). This is driver-side CONTROL
    flow only: stages launch Spark jobs; the orchestrator never touches
    rows.
    """
    ctx = dict(ctx or {})
    receipts: list[dict] = []
    for st in stages:
        if st.on_exhausted not in ("fail", "skip"):
            raise ValueError(f"on_exhausted must be fail|skip: {st.on_exhausted!r}")
        attempt = 0
        while True:
            attempt += 1
            try:
                updates = st.fn(ctx)
                if updates:
                    ctx.update(updates)
                receipts.append(
                    {"stage": st.name, "attempt": attempt, "status": "ok",
                     "error": None}
                )
                break
            except Exception as e:  # noqa: BLE001 — routed, not swallowed
                retryable = isinstance(e, st.retry_on)
                if retryable and attempt < st.max_attempts:
                    receipts.append(
                        {"stage": st.name, "attempt": attempt,
                         "status": "retried", "error": repr(e)}
                    )
                    sleep(st.interval_seconds * st.backoff_rate ** (attempt - 1))
                    continue
                receipts.append(
                    {"stage": st.name, "attempt": attempt, "status": "failed",
                     "error": repr(e)}
                )
                if st.on_exhausted == "fail":
                    raise
                break  # skip: error routed to receipts, DAG continues
    return ctx, receipts


def run_privacy_release_report(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """The privacy RELEASE GATE as one artifact — run before any
    customer-grain export leaves the warehouse. Composes the full triad
    (every component an already-oracled registered operator):

      k-anonymity  — equivalence-class size histogram (linkage risk),
      l-diversity  — distinct sensitive values + homogeneity flags,
      t-closeness  — sensitive-distribution distance per class
                     (skewness risk the first two miss),

    persists each section as parquet, and returns the go/no-go summary:
    a release is OK only when no class fails any rung. The dict is the
    machine-readable gate; the parquet sections are the evidence an
    auditor reads.
    """
    from .plans.etl import (
        customer_k_anonymity,
        customer_l_diversity,
        customer_t_closeness,
    )

    sections = {
        "k_anonymity": customer_k_anonymity(spark, sf_dir),
        "l_diversity": customer_l_diversity(spark, sf_dir),
        "t_closeness": customer_t_closeness(spark, sf_dir),
    }
    for name, df in sections.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    k = spark.read.parquet(os.path.join(out_dir, "k_anonymity"))
    n_at_risk = (
        k.filter(F.col("at_risk")).agg(F.sum("n_rows")).collect()[0][0] or 0
    )
    ld = spark.read.parquet(os.path.join(out_dir, "l_diversity"))
    n_low_div = ld.filter(
        F.col("low_diversity") | F.col("homogeneous")
    ).count()
    tc = spark.read.parquet(os.path.join(out_dir, "t_closeness"))
    worst_t = tc.agg(F.max("t_micro")).collect()[0][0] or 0
    n_t_fail = tc.filter(F.col("fails_t_closeness")).count()
    return {
        "n_rows_k_at_risk": int(n_at_risk),
        "n_classes_low_diversity": int(n_low_div),
        "worst_t_micro": int(worst_t),
        "n_classes_t_fail": int(n_t_fail),
        "release_ok": bool(
            n_at_risk == 0 and n_low_div == 0 and n_t_fail == 0
        ),
    }
