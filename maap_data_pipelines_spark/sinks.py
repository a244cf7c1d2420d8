"""Sinks: partitioned catalog writes + STAC ingestion submission.

The reference's tail stages are data-transfer (s3 copy), then
submit-stac (POST each item to an ingestion API,
lambdas/submit-stac/handler.py). Spark-first equivalents:

* ``write_items_partitioned`` — the catalog itself is a table: items land
  as parquet partitioned by collection. Scale notes: repartition on the
  partition columns first so each output partition is written by few
  tasks (avoids the classic small-files explosion when every task holds
  rows of every collection); maxRecordsPerFile bounds file size.
* ``submit_items`` — distributed batched submission with receipts. Each
  ``batch_size`` slice of an Arrow batch becomes one POST payload; the
  transport is injectable and defaults to a dry-run (a deployment passes
  e.g. a requests.Session.post). The receipts come back as
  a DataFrame so retries/monitoring are ordinary dataflow, not log
  scraping. No driver-side loop: submission parallelism == partition
  count.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

DEFAULT_MAX_RECORDS_PER_FILE = 1_000_000


def write_items_partitioned(
    items: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("collection",),
    mode: str = "overwrite",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> int:
    """Write items as parquet partitioned by collection; return the number
    of rows written.

    The count is observed in the write's final stage, after the
    repartition: accumulator updates from a re-run shuffle map stage can
    be applied twice, result-stage updates are applied once per task.
    """
    written = Observation()
    (
        items.repartition(*[F.col(c) for c in partition_cols])
        .observe(written, F.count(F.lit(1)).alias("n"))
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return written.get["n"]


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and sorted) by its join key.

    Bucketing is the 100 TB co-location lever: every table bucketed the
    same way on the same key joins with ZERO exchange on either side —
    the shuffle is paid once at write time instead of once per query.
    Fact-to-fact joins (orders x lineitem on orderkey) are where this
    wins; broadcast already covers the small-dim case. Requires a
    metastore table (saveAsTable), not a bare path — bucket metadata
    lives in the catalog.
    """
    w = (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:  # external table (explicit location)
        w = w.option("path", path)
    w.saveAsTable(table)


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet z-ordered on two columns (Morton-key range layout).

    ``repartitionByRange`` on the interleaved key splits the keyspace
    into quadtree-cell ranges (one output file each), and the within-
    partition sort lays rows out key-contiguously — so every file's
    min/max stats cover a bounded RECTANGLE in (col_a, col_b) and scans
    filtered on either column can skip most files. A single-column sort
    only prunes on that column; this pays the same one shuffle.
    """
    from .functions.zorder import zorder_key

    z = zorder_key(F.col(col_a), F.col(col_b)).alias("__zkey")
    (
        df.select("*", z)
        .repartitionByRange(n_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def start_available_now(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Start ``stream_df`` draining through ``fn(batch_df, batch_id)``.

    The one micro-batch starter of the package: ``foreachBatch`` with an
    ``availableNow`` trigger, so one call drains everything the source
    holds now and stops, the same code path for backfill and live tail.
    ``checkpoint_dir`` carries the source offsets, so a restart resumes
    rather than re-ingests. Empty micro-batches reach ``fn``; a sink that
    must not commit on them checks ``batch_df.isEmpty()`` itself.
    Returns the ``StreamingQuery``.
    """
    return (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_idempotent_stream_sink(
    stream_df: DataFrame, target_dir: str, checkpoint_dir: str
):
    """Exactly-once streaming parquet sink via foreachBatch.

    The production pattern for arbitrary sinks: Structured Streaming
    guarantees each micro-batch id is replayed with identical contents
    after a failure, so writing every batch to its own
    ``batch_id=<id>`` directory with overwrite semantics makes retries
    and restarts idempotent — a replayed batch clobbers its own previous
    (possibly partial) output and can never double-write. The checkpoint
    dir carries source offsets; restarting with the same checkpoint
    resumes, not re-ingests.
    """

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{target_dir}/batch_id={batch_id}")

    return start_available_now(stream_df, _write_batch, checkpoint_dir)


def start_stream_upsert(
    stream_df: DataFrame,
    table,
    key: str,
    checkpoint_dir: str,
    order_col: str | None = None,
):
    """Streaming MERGE: each micro-batch upserts into a VersionedTable.

    The Delta "streaming merge" pattern on the engine's own snapshot
    table: foreachBatch turns the stream into deterministic micro-batch
    DataFrames, each self-deduped to one row per key — max-struct led by
    ``order_col`` (a sequence/timestamp column) so a batch carrying
    several versions of a key applies its latest; without an
    ``order_col`` the max is lexicographic over all non-key columns
    (deterministic, but pass the real ordering when you have one) — then
    ``table.merge_upsert`` publishes a new snapshot. Replays are
    harmless: re-merging identical rows produces an identical snapshot
    (upsert is content-idempotent), and the checkpoint's offsets stop
    re-ingestion after restart. Readers holding any older version are
    untouched mid-stream — the snapshot-isolation property doing real
    work under continuous ingest.
    """
    from pyspark.sql import functions as F

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        others = [c for c in batch_df.columns if c != key]
        lead = (
            [order_col] + [c for c in others if c != order_col]
            if order_col
            else others
        )
        latest = (
            batch_df.groupBy(key)
            .agg(F.max(F.struct(*lead)).alias("_m"))
            .select(key, *[f"_m.{c}" for c in others])
        )
        table.merge_upsert(latest, key)

    return start_available_now(stream_df, _merge_batch, checkpoint_dir)


def dry_run_transport(payload: list[str], endpoint: str) -> int:
    """Default transport: no network in this environment — pretend 200.

    A deployment passes e.g. ``lambda p, url: session.post(url,
    json=p).status_code`` (parity: submit-stac/handler.py POSTs each item
    dict to the ingestion API).
    """
    return 200


def compact_parquet_dir(
    spark,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 1 << 20,
) -> dict:
    """Execute small-file compaction: fragmented dir -> one file per bin.

    The executable twin of the ``compaction_plan`` query, same greedy
    running-sum rule: order files deterministically, assign
    ``bin = cum_bytes_before // target_bytes``. Execution is ONE Spark
    job, no driver loop over bins: read everything, broadcast-join the
    (file -> bin) metadata map on ``input_file_name``, hash-repartition
    by bin (all of a bin's rows land in one task) and
    ``partitionBy(bin)`` — so every ``bin=N/`` output dir holds exactly
    one compacted file. The listing is driver-side metadata, same as any
    planner's view of the object store (at scale it comes from the
    dir_discovery source instead of os.scandir).

    Returns {n_input_files, n_bins, n_rows}.
    """
    import os

    files = sorted(
        (e.name, e.stat().st_size)
        for e in os.scandir(src_dir)
        if e.is_file() and e.name.endswith(".parquet")
    )
    if not files:
        raise ValueError(f"no parquet files under {src_dir}")
    assign, cum = [], 0
    for name, size in files:
        assign.append((name, cum // target_bytes))
        cum += size
    n_bins = len({b for _, b in assign})
    bin_map = spark.createDataFrame(assign, "_file string, _bin long")

    df = spark.read.parquet(src_dir).withColumn(
        "_file",
        F.element_at(F.split(F.input_file_name(), "/"), -1),
    )
    n_rows = df.count()
    (
        df.join(F.broadcast(bin_map), "_file")
        .drop("_file")
        .repartition(n_bins, F.col("_bin"))
        .write.mode("overwrite")
        .partitionBy("_bin")
        .parquet(dst_dir)
    )
    return {
        "n_input_files": len(files),
        "n_bins": n_bins,
        "n_rows": n_rows,
    }


def dry_run_copy(source_url: str, target_url: str) -> int:
    """Default copier: no object store here — pretend the copy landed.

    A deployment passes e.g. an s3 server-side copy:
    ``lambda src, dst: s3.copy(parse(src), parse(dst)) or 200``
    (parity: data-transfer/handler.py's per-object copy loop).
    """
    return 200


def execute_transfer_plan(
    plan: DataFrame,
    copier: Callable[[str, str], int] = dry_run_copy,
) -> DataFrame:
    """Execute a transfer plan distributed; return per-object receipts.

    The reference's data-transfer Lambda copies objects one at a time in
    its event loop (handler.py:30-74); here every partition of the plan
    runs its copies in parallel through the injectable ``copier`` and the
    outcome comes back as a receipts DataFrame — failed copies are rows
    to filter and re-feed (the plan is already idempotent: re-running it
    anti-joins away objects that now exist). No driver-side loop; copy
    parallelism == partition count.

    Input: (asset_id, source_url, target_url), the columns
    ``plans.stac.transfer_plan`` emits. Output: (asset_id, target_url,
    status).
    """
    src = plan.select("asset_id", "source_url", "target_url")
    schema = "asset_id bigint, target_url string, status int"

    def _copy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            statuses = [
                copier(s, t)
                for s, t in zip(pdf["source_url"], pdf["target_url"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "target_url": pdf["target_url"],
                    "status": statuses,
                }
            )

    return src.mapInPandas(_copy, schema=schema)


def dry_run_crud_transport(method: str, path: str, payload: str | None) -> int:
    """Default CRUD transport: no network — pretend success.

    A deployment passes e.g.
    ``lambda m, p, body: session.request(m, base + p, json=body,
    headers={"Authorization": f"bearer {token}"}).status_code`` —
    the reference's authed request shape (scripts/api.py:67-82).
    """
    return 200


def plan_item_changes(
    desired: DataFrame,
    current: DataFrame,
    id_col: str = "item_id",
    json_col: str = "item_json",
) -> DataFrame:
    """Diff desired catalog state against current: the CRUD change plan.

    The reference exposes imperative per-file insert/update/delete
    scripts (scripts/item.py:25-35 — update and delete are
    "not implemented"; scripts/collection.py:25-74 has insert/delete).
    Engine-side, CRUD is declarative: full-outer-join the desired item
    set against what the API currently holds and emit one row per needed
    change — ``insert`` (not yet present), ``update`` (present, JSON
    differs), ``delete`` (no longer desired). Unchanged items produce NO
    row, which is what makes re-submission idempotent: applying the plan
    twice finds an empty diff the second time.

    Scale shape: one shuffle hash join on item_id; the JSON comparison
    rides the join row, no second pass.
    """
    d = desired.select(
        F.col(id_col).alias("item_id"), F.col(json_col).alias("_d_json")
    )
    c = current.select(
        F.col(id_col).alias("item_id"), F.col(json_col).alias("_c_json")
    )
    op = (
        F.when(F.col("_c_json").isNull(), "insert")
        .when(F.col("_d_json").isNull(), "delete")
        .when(F.col("_d_json") != F.col("_c_json"), "update")
    )
    return (
        d.join(c, "item_id", "full_outer")
        .select("item_id", op.alias("op"), F.col("_d_json").alias("item_json"))
        .filter(F.col("op").isNotNull())
    )


def apply_item_changes(
    changes: DataFrame,
    endpoint: str,
    transport: Callable[[str, str, str | None], int] = dry_run_crud_transport,
    resource: str = "items",
) -> DataFrame:
    """Apply a CRUD change plan; return one receipt row per change.

    Maps ops to the ingestion API's REST shape (scripts/collection.py:
    31-66, scripts/ingest.py:55-76): insert -> POST /items, update ->
    PUT /items/{id}, delete -> DELETE /items/{id}; every request carries
    one item like the reference scripts' per-file loop, but the loop runs
    distributed (parallelism == partition count) and failures surface as
    receipt rows — ordinary dataflow to filter and retry, not stdout.

    ``resource`` switches the REST noun: the same plan/apply machinery
    serves collection CRUD (scripts/collection.py:31-66 POSTs
    /collections and DELETEs /collections/{id}) — pair with
    ``plan_item_changes(..., id_col="collection_id",
    json_col="collection_json")`` for the collection differ.

    Output: (item_id, op, status).
    """
    src = changes.select("item_id", "op", "item_json")
    schema = "item_id string, op string, status int"
    methods = {"insert": "POST", "update": "PUT", "delete": "DELETE"}

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            statuses = []
            for item_id, op, doc in zip(
                pdf["item_id"], pdf["op"], pdf["item_json"]
            ):
                rel = (
                    f"/{resource}" if op == "insert" else f"/{resource}/{item_id}"
                )
                # base_url.rstrip('/') + '/' + path.lstrip('/') — the
                # reference's URL join (scripts/api.py:77-79)
                path = endpoint.rstrip("/") + rel
                body = None if op == "delete" else doc
                statuses.append(transport(methods[op], path, body))
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype(str),
                    "op": pdf["op"],
                    "status": statuses,
                }
            )

    return src.mapInPandas(_apply, schema=schema)


def resolve_item_sources(
    items: DataFrame,
    fetcher: Callable[[str], str],
    id_col: str = "item_id",
    json_col: str = "item_json",
    url_col: str = "stac_file_url",
) -> DataFrame:
    """Resolve rows that carry an item-JSON URL instead of inline JSON.

    Parity: ``submit-stac/handler.py:19-24,96-107`` — a submission event
    is EITHER an inline ``stac_item`` or a ``stac_file_url`` pointing at
    the item document (the reference GETs it from object storage before
    submitting). Engine-side the same union shape is two columns: rows
    with a non-null ``json_col`` pass through; rows with a null
    ``json_col`` and a ``url_col`` fetch their document via the
    injectable ``fetcher(url) -> json_text`` — DISTRIBUTED inside
    mapInPandas, so a million linked items fan the fetches across
    executors instead of a driver loop. Rows with neither raise, like the
    reference ("No stac_item or stac_file_url provided").

    Output: (item_id, item_json) — the exact frame ``submit_items``
    consumes, with every document inline.
    """
    cols = [
        F.col(id_col).alias("item_id"),
        F.col(json_col).alias("_json") if json_col in items.columns
        else F.lit(None).cast("string").alias("_json"),
        F.col(url_col).alias("_url") if url_col in items.columns
        else F.lit(None).cast("string").alias("_url"),
    ]
    src = items.select(*cols)
    schema = "item_id string, item_json string"

    def _resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = []
            for item_id, doc, url in zip(pdf["item_id"], pdf["_json"], pdf["_url"]):
                if doc is not None and not (isinstance(doc, float) and pd.isna(doc)):
                    docs.append(doc)
                elif url is not None and not (isinstance(url, float) and pd.isna(url)):
                    docs.append(fetcher(url))
                else:
                    raise ValueError(
                        f"item {item_id!r}: no {json_col} or {url_col} provided"
                    )
            yield pd.DataFrame(
                {"item_id": pdf["item_id"].astype(str), "item_json": docs}
            )

    return src.mapInPandas(_resolve, schema=schema)


def submit_items(
    items: DataFrame,
    endpoint: str,
    id_col: str = "item_id",
    json_col: str = "item_json",
    batch_size: int = 100,
    transport: Callable[[list[str], str], int] = dry_run_transport,
    dry_run: bool = False,
) -> DataFrame:
    """Submit item JSON documents in batches; return a receipts DataFrame.

    Output: (item_id, batch_size, status) — one row per item. A transport
    returning an int stamps that HTTP code on the whole batch; a transport
    returning a list of ints (one per payload item) reports PER-ITEM
    statuses — the ``report_batch_item_failures`` shape from the
    reference's SQS event sources (deploy/cdk/queue_stack.py:25-55), where
    one bad item must not fail (or force a retry of) its whole batch.

    ``dry_run=True`` is the reference's short-circuit
    (``submit-stac/handler.py:115-118``): the transport is NEVER called —
    even a fully-wired production transport — and every receipt carries
    status 0, the documented "planned, not sent" marker (distinct from
    any HTTP code). This is the audit mode: run the whole pipeline, read
    the receipts, send nothing.
    """
    src = items.select(F.col(id_col).alias("item_id"), F.col(json_col).alias("doc"))
    schema = "item_id string, batch_size int, status int"

    def _submit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = pdf["doc"].tolist()
            sizes: list[int] = []
            statuses: list[int] = []
            for lo in range(0, len(docs), batch_size):
                payload = docs[lo : lo + batch_size]
                status = 0 if dry_run else transport(payload, endpoint)
                if isinstance(status, (list, tuple)):
                    if len(status) != len(payload):
                        raise ValueError(
                            "per-item transport returned "
                            f"{len(status)} statuses for {len(payload)} items"
                        )
                    statuses.extend(status)
                else:
                    statuses.extend([status] * len(payload))
                sizes.extend([len(payload)] * len(payload))
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype(str),
                    "batch_size": sizes,
                    "status": statuses,
                }
            )

    return src.mapInPandas(_submit, schema=schema)


# --- manifest-contract handoff ----------------------------------------------

_MANIFEST_NAME = "_MANIFEST.json"


def _manifest_summary(df: DataFrame, key_cols: tuple[str, ...]) -> dict:
    """Order-insensitive content summary: row count, a wrap-safe content
    sum (per-row xxhash64 of the canonical JSON, reduced mod 2^32 before
    summing so int64 cannot overflow below ~2^31 rows per partition
    tree), and min/max per declared key column."""
    cols = sorted(df.columns)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            "sum(pmod(xxhash64(to_json(struct("
            + ", ".join(cols)
            + "))), 4294967296))"
        ).alias("content_sum"),
    ]
    for c in key_cols:
        aggs.append(F.min(c).alias(f"min__{c}"))
        aggs.append(F.max(c).alias(f"max__{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    return {k: (v if not hasattr(v, "isoformat") else v.isoformat()) for k, v in row.items()}


def write_with_manifest(
    df: DataFrame, path: str, key_cols: tuple[str, ...] = ()
) -> dict:
    """Write parquet AND the data contract that lets the consumer verify
    the handoff — the check a cross-team 100 TB delivery needs before
    anyone trains on it: row count, an order-insensitive content sum,
    and min/max bounds per declared key column, recomputed FROM THE
    FILES WRITTEN (not from the in-memory frame), so the manifest
    attests what actually landed. Local-filesystem manifest placement
    (same directory, ``_MANIFEST.json``); on object stores the same
    bytes would go through the store's API.
    """
    import json
    import os

    df.write.mode("overwrite").parquet(path)
    back = df.sparkSession.read.parquet(path)
    manifest = _manifest_summary(back, key_cols)
    manifest["key_cols"] = list(key_cols)
    with open(os.path.join(path, _MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def verify_manifest(spark, path: str) -> list[str]:
    """Consumer-side check: recompute the summary from the files and
    compare against the shipped manifest. Returns problems ([] = clean
    handoff). A missing manifest is itself a problem."""
    import json
    import os

    mpath = os.path.join(path, _MANIFEST_NAME)
    if not os.path.exists(mpath):
        return [f"missing {_MANIFEST_NAME}"]
    want = json.load(open(mpath))
    key_cols = tuple(want.pop("key_cols", ()))
    got = _manifest_summary(spark.read.parquet(path), key_cols)
    problems = []
    for k, v in want.items():
        g = got.get(k)
        if str(g) != str(v):
            problems.append(f"{k}: manifest={v!r} recomputed={g!r}")
    return problems
