"""Structured Streaming ingest: file source -> watermark -> windowed agg.

Streaming twin of ``plans.events.events_hourly_rollup``. The reference
pipeline is event-driven (SQS fan-out, deploy/cdk/queue_stack.py); on
Spark the same monitoring rollup is a continuous query over a landing
directory: new event files appear, the tumbling 1-hour windows update,
late events are admitted up to the watermark horizon.

Design notes for a real cluster:
* ``withWatermark(ts, 2 hours)`` bounds state: windows older than
  (max event time - 2h) are finalized and evicted — state size is
  O(active windows x event types), independent of total stream length.
* ``approx_count_distinct`` replaces the batch plan's exact
  countDistinct: exact distinct per window is unbounded state in a
  stream; HLL is the standard streaming answer (documented deviation).
* File-source trigger ``availableNow`` lets the same query run as an
  incremental batch (used by tests and backfills).

The package's streams share four pieces, each written once: the reader
:func:`_file_stream` (one file per micro-batch), the starter
``sinks.start_available_now`` (foreachBatch, availableNow, checkpoint),
the replay guard ``VersionedTable.batch_applied`` (batch id in the state
table's manifest meta; warns when a deleted checkpoint restarts the ids)
and the prior read :func:`_state_or_empty` (empty before the first commit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sinks import start_available_now

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType = EVENT_SCHEMA,
    fmt: str = "json",
) -> DataFrame:
    """Streaming read of ``source_dir``, one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .format(fmt)
        .option("maxFilesPerTrigger", 1)
        .load(source_dir)
    )


def _empty_state(spark: SparkSession, schema: str) -> DataFrame:
    """An empty state frame of ``schema``, for reads before a first write."""
    # LIMIT 0 plans as an empty LocalRelation, which the optimizer folds
    # out of the joins and unions it feeds; an empty createDataFrame
    # alone is an RDD scan it cannot see through
    return spark.createDataFrame([], schema).limit(0)


def _state_or_empty(spark: SparkSession, table, schema: str) -> DataFrame:
    """The state table's latest snapshot, or an empty frame of ``schema``
    (the table's own schema) before its first commit."""
    if table.latest_version() is None:
        return _empty_state(spark, schema)
    return table.read(spark)


def streaming_hourly_rollup(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """Streaming DataFrame: hourly tumbling window counts + exact cents."""
    stream = _file_stream(spark, source_dir, fmt=fmt)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "value_cents",
            "n_users_approx",
        )
    )


def streaming_sliding_trend(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """Streaming twin of ``plans.events.events_sliding_trend``.

    Same 1-hour/15-minute sliding windows via the built-in
    ``F.window(slideDuration)`` — the batch query derives identical
    window keys with integer arithmetic (pinned in
    tests/test_analytics_ops.py), so a cutover between backfill (batch)
    and live (stream) produces seamless window series. Distinct users are
    approximate here: exact distincts are unbounded streaming state.
    """
    stream = _file_stream(spark, source_dir, fmt=fmt)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users_approx",
        )
    )


def streaming_sessionize(
    spark: SparkSession, source_dir: str, gap: str = "30 minutes", fmt: str = "json"
) -> DataFrame:
    """Streaming sessionization via the built-in session_window.

    Streaming twin of ``plans.events.events_sessionize``: dynamic-gap
    session windows per user, state bounded by the watermark. This is the
    declarative form of the custom-stateful-operator pattern
    (applyInPandasWithState) — Spark's session_window already implements
    the gap-merge state machine natively, so no Python state handler is
    needed.
    """
    stream = _file_stream(spark, source_dir, fmt=fmt)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window(F.col("ts"), gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def streaming_dedup(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """Streaming exact dedup: first occurrence wins within the watermark.

    Streaming twin of the batch ``dedup_exact`` / ``dedup_incremental``
    family: the content key is hashed and
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — bounded state (keys seen in the last 2 h), exactly
    the replay/at-least-once-delivery guard an ingest topic needs.
    Duplicates further apart than the watermark are deliberately let
    through (they belong to batch reconciliation, e.g.
    ``dedup_incremental``).
    """
    stream = _file_stream(spark, source_dir, fmt=fmt)
    content_hash = F.md5(
        F.concat_ws(
            "\x1f",
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
        )
    )
    return (
        stream.withColumn("content_hash", content_hash)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def run_available_now(
    spark: SparkSession, source_dir: str, query_name: str = "rollup", fmt: str = "json"
):
    """Drain everything currently in source_dir into a memory sink.

    Returns the StreamingQuery; results land in the ``query_name`` temp
    view (complete output mode — windowed aggregation state).
    """
    df = streaming_hourly_rollup(spark, source_dir, fmt=fmt)
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


ATTRIBUTION_WINDOW = "30 minutes"


def streaming_click_attribution(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """Stream-stream interval join: purchases <- clicks within 30 minutes.

    Streaming twin of the batch ``events_asof_attribution``: two streams
    derived from the same landing source (at-scale these are two topics),
    each with its own watermark, joined per user with the click required
    inside [purchase_ts - 30 min, purchase_ts]. Spark's symmetric hash
    join buffers each side ONLY until its watermark plus the interval
    passes — state is bounded by (event rate x horizon), never stream
    length, and the time-range predicate is what makes eviction possible.
    Inner join = unattributed purchases drop (the batch as-of twin keeps
    them as NULL attribution; see ``streaming_click_attribution_outer``
    for the watermark-expiry left-outer variant).

    Output (append mode): one row per (purchase, qualifying click) pair;
    downstream pick-latest dedup is a batch concern
    (``events_asof_attribution`` semantics).
    """
    return _attribution_join(spark, source_dir, fmt, "inner")


def streaming_click_attribution_outer(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: unmatched purchases survive.

    Same join as ``streaming_click_attribution``, but a purchase with no
    qualifying click is emitted with NULL click columns — matching the
    batch as-of twin exactly. The null row can only be produced once the
    CLICK side's watermark passes the purchase timestamp (before that, a
    qualifying click could still arrive), so outer results trail the
    inner ones by the watermark delay and surface in a LATER micro-batch
    (the batch that runs after the watermark has advanced past the
    purchase). Drains must push the watermark forward with newer data for
    the nulls to flush — pinned in tests/test_streaming.py.

    State story is identical to the inner join (bounded by rate x
    horizon); left-outer adds no state, only deferred emission.
    """
    return _attribution_join(spark, source_dir, fmt, "leftOuter")


def _attribution_join(
    spark: SparkSession, source_dir: str, fmt: str, how: str
) -> DataFrame:
    stream = _file_stream(spark, source_dir, fmt=fmt)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.round(F.col("value") * 100).cast("long").alias("purchase_cents"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
        ),
        how,
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "purchase_cents",
        "click_id",
        "click_ts",
    )


def streaming_enriched_rollup(
    spark: SparkSession,
    source_dir: str,
    dim: DataFrame,
    fmt: str = "json",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment: events joined to a static dimension
    BEFORE the windowed rollup.

    The remaining join shape in the streaming matrix (alongside the
    stream-stream interval joins and the foreachBatch index probe).
    NO state is kept for the join itself — only the downstream windowed
    aggregation holds state, bounded by its watermark. Rollup grain:
    (user segment, 1 h window).

    Dimension freshness: Spark re-evaluates the static side per
    micro-batch ONLY when ``dim`` is source-backed (a file/table read) —
    updates to the underlying files are then picked up without
    restarting the query. A cached/checkpointed/in-memory dim is frozen
    at plan time; re-create the query to refresh it. ``broadcast_dim``
    defaults to True (typical dims are small); pass False for a large
    dimension so the planner can pick a shuffle-side strategy instead of
    forcing a broadcast that would OOM the driver.
    """
    stream = _file_stream(spark, source_dir, fmt=fmt)
    dim_side = F.broadcast(dim) if broadcast_dim else dim
    return (
        stream.join(dim_side, "user_id")
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def streaming_cms_merge(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
    key_col: str = "user_id",
):
    """Maintain a count-min sketch across micro-batches: sketches MERGE.

    The property that makes CMS the frequency monitor of a streaming
    ingest fleet: two sketches over disjoint data merge by CELL-WISE
    ADDITION, so each micro-batch contributes its own 4x1024 cell table
    and ``VersionedTable.merge_aggregate`` folds it into the running
    sketch — state is O(CMS_D x CMS_W) forever, per-batch work is one
    bounded aggregation, and the merged table answers point queries for
    keys chosen AFTER ingestion (what Misra-Gries candidates cannot do).

    Exactly-once per the rollup-stream contract: the applied batch id
    rides the table meta under the namespaced guard
    ``VersionedTable.batch_applied`` — merge_aggregate is additive, so a
    replayed batch must skip, not re-add.
    tests pin stream-merged cells == one-shot batch cells bit-for-bit.
    """
    from ..operators.sketch import CMS_D, _cms_bucket_spark

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or table.batch_applied("cms_batch_id", batch_id):
            return
        cells = (
            batch_df.select(F.col(key_col).alias("k"))
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(d).alias("d"),
                                _cms_bucket_spark("k", d).alias("bucket"),
                            )
                            for d in range(CMS_D)
                        ]
                    )
                ).alias("p")
            )
            .select("p.d", "p.bucket")
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        table.merge_aggregate(
            cells, keys=["d", "bucket"], sum_cols=["c"],
            meta={"cms_batch_id": batch_id},
        )

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def streaming_gap_stats(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
):
    """Per-user inter-event gap statistics maintained across micro-batches.

    The streaming state behind the batch bot-detection read
    (plans/events.events_bot_detection): per user the additive
    sufficient statistics (n_gaps, sum g, sum g^2, in whole seconds)
    plus last_ts_us to bridge the gap that CROSSES a batch boundary.
    Each batch computes its internal gaps with one user-partitioned lag
    pass, adds the boundary gap against the persisted last_ts, and
    merge_upserts the combined rows — state is one row per user, work
    per batch is batch-bounded plus the table rewrite. With in-ts-order
    delivery the final stats equal the batch computation exactly
    (pinned); exactly-once via the namespaced applied-batch-id guard
    (additive state must skip replays).
    """

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or table.batch_applied("gap_batch_id", batch_id):
            return
        ev = batch_df.select(
            "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
        )
        gaps = ev.withColumn(
            "g", F.expr("(ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) div 1000000")
        )
        internal = gaps.groupBy("user_id").agg(
            F.sum(F.col("g").isNotNull().cast("long")).alias("n_b"),
            F.coalesce(F.sum("g"), F.lit(0).cast("long")).alias("sg_b"),
            F.coalesce(F.sum(F.col("g") * F.col("g")), F.lit(0).cast("long")).alias("sg2_b"),
            F.min("ts_us").alias("first_ts"),
            F.max("ts_us").alias("last_ts_b"),
        )
        prior = _state_or_empty(
            spark, table, "user_id long, n_gaps long, sg long, sg2 long, last_ts_us long"
        ).select(
            "user_id",
            F.col("n_gaps").alias("n_p"),
            F.col("sg").alias("sg_p"),
            F.col("sg2").alias("sg2_p"),
            F.col("last_ts_us").alias("last_p"),
        )
        j = internal.join(prior, "user_id", "left")
        bg = F.expr("(first_ts - last_p) div 1000000")  # boundary gap (s)
        has_prior = F.col("last_p").isNotNull()
        merged = j.select(
            "user_id",
            (
                F.coalesce("n_p", F.lit(0).cast("long"))
                + F.col("n_b")
                + has_prior.cast("long")
            ).alias("n_gaps"),
            (
                F.coalesce("sg_p", F.lit(0).cast("long"))
                + F.col("sg_b")
                + F.when(has_prior, bg).otherwise(F.lit(0).cast("long"))
            ).alias("sg"),
            (
                F.coalesce("sg2_p", F.lit(0).cast("long"))
                + F.col("sg2_b")
                + F.when(has_prior, bg * bg).otherwise(F.lit(0).cast("long"))
            ).alias("sg2"),
            F.col("last_ts_b").alias("last_ts_us"),
        )
        # the guard rides the SAME commit as the data (one transaction:
        # applied-batch-id and merged rows become visible atomically)
        table.merge_upsert(merged, key="user_id", meta={"gap_batch_id": batch_id})

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def streaming_gap_histogram(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
):
    """ST20: the minute-grain inter-arrival gap HISTOGRAM maintained
    across micro-batches — the streaming state behind
    plans/events.events_interarrival_exponentiality (the KS-vs-
    exponential process-model gate), the ST18/ST19 pattern applied to
    the goodness-of-fit tier.

    One VersionedTable carries BOTH state kinds under a composite
    string key so the batch guard, the histogram increments and the
    per-user cursor commit in ONE transaction:

      - ``hist:<g>`` rows: additive counts per whole-minute gap value
        (the value grid is bounded by the time range, never events);
      - ``last:<user>`` rows: the per-user last ts_us cursor that
        bridges the gap CROSSING a batch boundary.

    Each batch computes its internal per-user gaps with one lag pass,
    adds the boundary gaps against the persisted cursors, folds both
    into minute counts, joins the prior histogram rows for exactly the
    touched g values and merge_upserts count-sums + advanced cursors.
    With in-ts-order delivery the state histogram equals the batch
    lag computation's histogram exactly, so the shared
    ``exponentiality_from_vals`` readout is byte-identical to the
    registered batch query (pinned). Exactly-once via the namespaced
    applied-batch-id guard riding the same commit.

    Late-delivery guard (ADVICE r10): a batch arriving BEHIND a user's
    persisted cursor would produce a negative boundary gap (bucketed to
    negative minutes) and a regressed cursor — silent histogram
    corruption. Negative boundary gaps are therefore QUARANTINED into
    one additive ``late:count`` state row (kind ``late`` — the readout
    filters kind ``hist`` and never sees it; monitors alert on it), and
    the cursor advances with GREATEST(batch last, persisted last) so it
    never regresses. Gaps INSIDE a late batch still enter via the lag
    pass — only the cross-batch boundary is order-sensitive.
    """

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or table.batch_applied("gaphist_batch_id", batch_id):
            return
        ev = batch_df.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        lagged = ev.withColumn(
            "gap_us",
            F.expr(
                "ts_us - lag(ts_us) OVER"
                " (PARTITION BY user_id ORDER BY ts_us, event_id)"
            ),
        )
        per_user = lagged.groupBy("user_id").agg(
            F.min("ts_us").alias("first_ts"),
            F.max("ts_us").alias("last_ts_b"),
        )
        prior = _state_or_empty(
            spark,
            table,
            "key string, kind string, g long, cnt long, user_id long, last_ts_us long",
        )
        cursors = prior.filter(F.col("kind") == "last").select(
            F.col("user_id").alias("u_p"), F.col("last_ts_us").alias("last_p")
        )
        hist_prior = prior.filter(F.col("kind") == "hist").select(
            F.col("g").alias("g_p"), F.col("cnt").alias("c_p")
        )
        late_prior = prior.filter(F.col("kind") == "late").select(
            F.col("cnt").alias("l_p")
        )
        # A late batch (events older than a user's persisted cursor)
        # makes the boundary gap NEGATIVE; folded in it would bucket to
        # negative minutes and silently corrupt the histogram the
        # exponentiality readout fits (ADVICE r10). Quarantine: late
        # boundary gaps are COUNTED under their own state kind (the
        # readout filters kind == 'hist', so the fit never sees them)
        # and the cursor only ever advances (greatest below).
        boundary_all = (
            per_user.join(cursors, per_user.user_id == cursors.u_p)
            .select((F.col("first_ts") - F.col("last_p")).alias("gap_us"))
        )
        boundary = boundary_all.filter(F.col("gap_us") >= 0)
        gaps = (
            lagged.filter(F.col("gap_us").isNotNull())
            .select("gap_us")
            .unionByName(boundary)
            .select(F.expr("gap_us div 60000000").alias("g"))
        )
        batch_counts = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("c_b"))
        hist_rows = (
            batch_counts.join(
                hist_prior, batch_counts.g == hist_prior.g_p, "left"
            )
            .select(
                F.concat(F.lit("hist:"), F.col("g")).alias("key"),
                F.lit("hist").alias("kind"),
                "g",
                (
                    F.col("c_b") + F.coalesce("c_p", F.lit(0).cast("long"))
                ).alias("cnt"),
                F.lit(None).cast("long").alias("user_id"),
                F.lit(None).cast("long").alias("last_ts_us"),
            )
        )
        # the quarantine counter rides the SAME commit: one additive
        # 'late' row (batch negatives + prior count), emitted only when
        # non-zero so replay-guarded exactly-once still holds
        late_rows = (
            boundary_all.filter(F.col("gap_us") < 0)
            .agg(F.count(F.lit(1)).alias("l_b"))
            .crossJoin(
                F.broadcast(late_prior.agg(F.sum("l_p").alias("l_p_sum")))
            )
            .select(
                F.lit("late:count").alias("key"),
                F.lit("late").alias("kind"),
                F.lit(None).cast("long").alias("g"),
                (
                    F.col("l_b") + F.coalesce("l_p_sum", F.lit(0).cast("long"))
                ).alias("cnt"),
                F.lit(None).cast("long").alias("user_id"),
                F.lit(None).cast("long").alias("last_ts_us"),
            )
            .filter(F.col("cnt") > 0)
        )
        # cursors only ADVANCE: a late batch must not regress a user's
        # persisted last-ts (the other half of the same corruption)
        cursor_rows = (
            per_user.join(cursors, per_user.user_id == cursors.u_p, "left")
            .select(
                F.concat(F.lit("last:"), F.col("user_id")).alias("key"),
                F.lit("last").alias("kind"),
                F.lit(None).cast("long").alias("g"),
                F.lit(None).cast("long").alias("cnt"),
                "user_id",
                F.greatest(
                    F.col("last_ts_b"),
                    F.coalesce("last_p", F.col("last_ts_b")),
                ).alias("last_ts_us"),
            )
        )
        table.merge_upsert(
            hist_rows.unionByName(cursor_rows).unionByName(late_rows),
            key="key",
            meta={"gaphist_batch_id": batch_id},
        )

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def gap_histogram_readout(spark: SparkSession, table) -> DataFrame:
    """The exponentiality readout over the ST20 state — the batch
    query's shared kernel applied UNCHANGED to the state histogram."""
    from ..plans.events import exponentiality_from_vals

    vals = (
        table.read(spark)
        .filter(F.col("kind") == "hist")
        .select("g", F.col("cnt").alias("c"))
    )
    return exponentiality_from_vals(vals)


def streaming_ab_state(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
):
    """Per-user A/B conversion flags maintained across micro-batches.

    The streaming state behind the batch experiment readout
    (plans/events.events_ab_test): conv = "has at least one high-value
    purchase" is a MAX flag, so state folds with GREATEST — order- and
    partitioning-independent (unlike gap stats, NO delivery-order
    precondition: any arrival order reaches the same state). Each batch
    computes its per-user flags with one map-side-combined agg, left
    joins the persisted state, and merge_upserts the folded rows; the
    readout (ab_state_readout) then runs the identical z computation the
    batch operator runs on its per-user frame. Exactly-once via the
    namespaced applied-batch-id guard riding the same commit — GREATEST
    happens to be replay-idempotent anyway, but the guard keeps this
    sink contract-identical to the additive ones.
    """
    from ..plans.events import ab_user_conversions

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or table.batch_applied("ab_batch_id", batch_id):
            return
        flags = ab_user_conversions(batch_df).withColumnRenamed("conv", "conv_b")
        prior = _state_or_empty(spark, table, "user_id long, conv long").select(
            "user_id", F.col("conv").alias("conv_p")
        )
        merged = (
            flags.join(prior, "user_id", "left")
            .select(
                "user_id",
                F.greatest(
                    F.col("conv_b"), F.coalesce("conv_p", F.lit(0).cast("long"))
                ).alias("conv"),
            )
        )
        table.merge_upsert(merged, key="user_id", meta={"ab_batch_id": batch_id})

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def ab_state_readout(spark: SparkSession, table) -> DataFrame:
    """One-row z readout over the persisted (user_id, conv) state —
    byte-identical to the batch operator's output on the same events."""
    from ..plans.events import ab_test_from_users

    return ab_test_from_users(table.read(spark).select("user_id", "conv"))


def ab_state_sequential_readout(spark: SparkSession, table) -> DataFrame:
    """One-row mSPRT (always-valid p) readout over the SAME persisted
    (user_id, conv) state :func:`ab_state_readout` consumes — the
    peeking-safe monitoring rung served from the streaming state, so a
    daily-peeked dashboard reads a statistic that is valid at every look
    without any extra state machinery (shared-kernel property:
    plans/events.ab_sequential_from_users runs unchanged on the state
    frame). Byte-equality with the batch events_ab_sequential readout is
    pinned by tests/test_streaming.py::
    test_streaming_ab_sequential_readout_matches_batch."""
    from ..plans.events import ab_sequential_from_users

    return ab_sequential_from_users(table.read(spark).select("user_id", "conv"))


def streaming_theta_merge(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
):
    """Maintain per-segment KMV (theta) sketches across micro-batches.

    The streaming twin of the batch KMV set-operation sketch
    (operators/sketch.theta_overlap): per event_type keep the THETA_K
    smallest md5 hashes of user_ids seen so far. KMV merge is "K
    smallest distinct values of the union" — IDEMPOTENT, unlike the
    additive CMS/rollup merges: re-merging the same values changes
    nothing, so this is the rare streaming state that needs NO
    applied-batch-id guard. A replayed micro-batch rewrites an identical
    sketch by construction (pinned by test).

    State is <= THETA_K rows per segment forever; per-batch work is one
    distinct over the batch plus a segment-partitioned window over
    (state + batch) sketch rows — both bounded. The committed snapshot
    answers distinct/union/intersection estimates for ANY segment pair
    at read time, on data that has long since left the stream.
    """
    from pyspark.sql.window import Window

    from ..operators.sketch import THETA_K

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bs = batch_df.select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
            )
            .cast("long")
            .alias("h"),
        ).distinct()
        state = _state_or_empty(spark, table, "event_type string, h long")
        allr = bs.union(state.select("event_type", "h")).distinct()
        sk = (
            allr.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy("h")
                ),
            )
            .filter(F.col("rn") <= THETA_K)
            .select("event_type", "h")
        )
        # versioned overwrite: the lazy plan still reads the PREVIOUS
        # snapshot's files (commit never touches existing data dirs)
        table.commit(sk, mode="overwrite", meta={"theta_batch_id": batch_id})

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def streaming_markov_state(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
):
    """Maintain the next-event Markov model's transition counts across
    micro-batches — the streaming twin of
    plans/events.events_next_event_prediction's training pass.

    Transition counts are additive, but transitions CROSS batch
    boundaries: the last event of user u in batch n and their first in
    batch n+1 form a transition no single batch sees. The state table
    therefore holds two row kinds: count rows (src, dst, c) and per-user
    carry rows (src=last_type, dst=NULL, c=user_id); each batch stitches
    boundary transitions against the carries, folds internal + boundary
    counts into the count rows, refreshes the touched users' carries,
    and commits ONE overwrite snapshot with the applied-batch-id guard
    in the same manifest (exactly-once: additive counts must skip
    replays). With in-ts-order delivery the drained counts equal the
    batch lag pass exactly (pinned).

    State: |types|² count rows + one carry row per user. Per-batch work:
    one user-partitioned lag pass over the batch + one state-sized fold
    (the merge_upsert cost class, same as streaming_gap_stats).
    """
    from pyspark.sql.window import Window

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or table.batch_applied("markov_batch_id", batch_id):
            return
        ev = batch_df.withColumn(
            "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
        )
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        seq = ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_in_batch"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_u"),
        ).localCheckpoint()
        internal = (
            seq.filter(F.col("prev_in_batch").isNotNull())
            .groupBy(
                F.col("prev_in_batch").alias("src"),
                F.col("event_type").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        prior = _state_or_empty(spark, table, "src string, dst string, c long")
        carry = prior.filter(F.col("dst").isNull())
        firsts = seq.filter(F.col("rn") == 1).select(
            "user_id", F.col("event_type").alias("first_type")
        )
        boundary = (
            firsts.join(
                carry.select(
                    F.col("c").alias("user_id"), F.col("src").alias("last_type")
                ),
                "user_id",
            )
            .groupBy(
                F.col("last_type").alias("src"), F.col("first_type").alias("dst")
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        new_counts = (
            internal.unionByName(boundary)
            .unionByName(prior.filter(F.col("dst").isNotNull()))
            .groupBy("src", "dst")
            .agg(F.sum("c").alias("c"))
        )
        lasts = seq.filter(F.col("rn") == F.col("n_u")).select(
            F.col("event_type").alias("src"),
            F.lit(None).cast("string").alias("dst"),
            F.col("user_id").cast("long").alias("c"),
        )
        stale = carry.join(
            lasts.select(F.col("c").alias("uid")),
            F.col("c") == F.col("uid"),
            "left_anti",
        )
        carries = stale.unionByName(lasts)
        table.commit(
            new_counts.unionByName(carries),
            mode="overwrite",
            meta={"markov_batch_id": batch_id},
        )

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def streaming_cusum_state(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
):
    """Maintain the CUSUM changepoint monitor's hourly counts across
    micro-batches — the streaming twin of plans/events.events_changepoint.

    The detector itself (per-type cumulative deviation argmax) is NOT
    incrementally maintainable — a new hour shifts every prior cusum
    term through the mean — but its INPUT is: hourly counts are
    additive, so the state table holds (event_type, hour_us, c) merged
    per micro-batch via merge_aggregate (work proportional to the
    batch's touched hours, never the history). Detection is then
    ``plans.events.cusum_detect`` applied UNCHANGED to the state table:
    stream==batch is equality of inputs into one shared kernel, not a
    re-implementation claim. Exactly-once: additive merges must skip
    replays, so the applied-batch-id guard rides the same commit.
    """

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or table.batch_applied("cusum_batch_id", batch_id):
            return
        hourly = (
            batch_df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            )
            .groupBy(
                "event_type",
                (F.col("ts_us") - F.col("ts_us") % (3600 * 1_000_000)).alias(
                    "hour_us"
                ),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        table.merge_aggregate(
            hourly,
            keys=["event_type", "hour_us"],
            sum_cols=["c"],
            meta={"cusum_batch_id": batch_id},
        )

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def cusum_changepoint_from_state(spark: SparkSession, table) -> DataFrame:
    """Run the shared CUSUM detector over the streaming state table."""
    from ..plans.events import cusum_detect

    return cusum_detect(table.read(spark).select("event_type", "hour_us", "c"))


def streaming_cuped_state(
    spark: SparkSession,
    source_dir: str,
    table,
    checkpoint_dir: str,
):
    """Maintain CUPED's per-user pre/post revenue sums across
    micro-batches — the streaming twin of plans/events.events_cuped
    (ST19, the ST18 pattern applied to the experimentation tier).

    The readout (theta, adjusted lift, rho2) is NOT incrementally
    maintainable — one new purchase moves every covariance term — but
    its INPUT is: per-user pre/post cents are additive SUMS, so the
    state table holds (user_id, pre_cents, post_cents) merged per
    micro-batch via merge_aggregate (work proportional to the batch's
    touched users, never the user base). The readout is then
    ``plans.events.cuped_readout`` applied UNCHANGED to the state table:
    stream==batch is equality of inputs into one shared kernel.

    Exactly-once via a SOURCE-FILE guard (not a raw batch-id compare):
    the set of applied source files rides the same atomic manifest
    commit as the merged sums, and each micro-batch admits only rows
    from files not yet in that set. This is strictly stronger than the
    batch-id guard the other sinks use (``VersionedTable.batch_applied``)
    — after a checkpoint loss, a restart over an EXTENDED source
    directory re-numbers batches from 0, and an id compare would drop
    the genuinely new files (it warns, but skips them); the file set
    distinguishes replayed data (skipped) from new data (admitted).
    ``cuped_batch_id`` is still recorded (monotone max) for
    observability. The file list grows with the source directory — at
    production file counts, compact it into a bloom/manifest the way
    the sink manifests already do; at state-table scale here it is a
    few strings per commit.
    """

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        meta = table.latest_meta()
        done = set(meta.get("cuped_files") or [])
        with_src = batch_df.withColumn("_src_file", F.input_file_name())
        files = {
            r[0] for r in with_src.select("_src_file").distinct().collect()
        }
        new_files = files - done
        if not new_files:
            return
        from ..plans.events import cuped_user_stats

        fresh = with_src.filter(
            F.col("_src_file").isin(*sorted(new_files))
        ).drop("_src_file")
        per_user = cuped_user_stats(
            fresh.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            )
        )
        last = meta.get("cuped_batch_id")
        table.merge_aggregate(
            per_user,
            keys=["user_id"],
            sum_cols=["pre_cents", "post_cents"],
            meta={
                "cuped_batch_id": batch_id if last is None else max(batch_id, last),
                "cuped_files": sorted(done | new_files),
            },
        )

    return start_available_now(
        _file_stream(spark, source_dir), _one_batch, checkpoint_dir
    )


def cuped_readout_from_state(spark: SparkSession, table) -> DataFrame:
    """Run the shared CUPED readout kernel over the streaming state."""
    from ..plans.events import cuped_readout

    return cuped_readout(
        table.read(spark).select("user_id", "pre_cents", "post_cents")
    )
