"""Warehouse-maintenance ETL plans: dimension versioning + dataset splits.

The reference pipeline maintains a mutable catalog (items are upserted by
submit-stac; ``lambdas/submit-stac/handler.py`` POSTs each item into the
ingestor). On a warehouse the same need — "what did this entity look like
when" — is SCD2 dimension versioning; the training-data counterpart is a
reproducible train/val/test split. Both must be deterministic functions
of the data (no RNG, no processing-time), or a backfill re-run reshuffles
history.

Scale notes:
* ``orders_scd2`` is one window per entity key; partition size is
  bounded by versions-per-entity (orders per customer), never by SF.
* splits/samples are pure column hashes — embarrassingly parallel, no
  shuffle at all, and stable under repartitioning, retries, and
  backfills (the property RNG-based ``df.sample`` does NOT have).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_long, md5_long_sql
from ..operators.curation import (
    SPLIT_BUCKET_SQL,
    SPLIT_NAME_SQL,
    split_bucket,
    split_name,
)
from ..operators.entity import ER_SQL, er_dirty_records, resolve_entities
from ..functions.zorder import zorder_key, zorder_key_sql
from ..operators.profile import profile_columns, profile_sql
from ..operators.text import _LNM, words_col
from ..sources.catalog import fan_out, read_table

ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


def orders_profile(spark, sf_dir):
    """Generic column profiler applied to the orders fact table."""
    return profile_columns(read_table(spark, sf_dir, "orders"), ORDERS_COLS)


def orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version history per customer from the order log.

    Each order is a new version of the customer's "latest order" state:
    valid_from = its order date, valid_to = the next order's date (NULL
    while current), plus version numbers and an is_current flag. Ties on
    the same date are sequenced by orderkey so the history is total.
    """
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
        # o_orderdate is TIMESTAMP_NTZ; cast for unix_micros (UTC session =>
        # identity, matching DuckDB epoch_us on the naive timestamp)
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.lead("o_orderdate").over(w).cast("timestamp")).alias(
            "valid_to_us"
        ),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


ORDERS_SCD2_SQL = """
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(lead(o_orderdate) OVER w) AS valid_to_us,
       row_number() OVER w AS version,
       (lead(o_orderdate) OVER w) IS NULL AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment per document.

    The bucket is a pure hash of the document id — re-running, resharding
    or appending other docs never moves an existing doc between splits
    (contamination-safe), unlike RNG sampling seeded per-partition.
    """
    docs = read_table(spark, sf_dir, "documents")
    bucket = split_bucket()
    return docs.select(
        "doc_id", "source", bucket.alias("bucket"), split_name(bucket).alias("split")
    )


DOC_SPLIT_SQL = f"""
SELECT doc_id, source,
       {SPLIT_BUCKET_SQL} AS bucket,
       {SPLIT_NAME_SQL} AS split
FROM documents
"""


SAMPLE_PER_MILLE = 100  # 10% per stratum


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample per source stratum (hash-gated filter).

    Salting the hash with the stratum key decorrelates it from the split
    hash above, so sampling composes with splitting without bias. The
    filter is pushdown-adjacent (evaluated at the scan, no shuffle); the
    exact kept-set is reproducible on any cluster layout.
    """
    docs = read_table(spark, sf_dir, "documents")
    gate = F.pmod(
        md5_long(F.concat(F.col("source"), F.lit(":"), F.col("doc_id"))),
        F.lit(1000),
    )
    return docs.filter(gate < SAMPLE_PER_MILLE).select(
        "doc_id", "source", gate.alias("sample_bucket")
    )


_gate_hash = md5_long_sql("source || ':' || doc_id")
_GATE_SQL = f"(({_gate_hash}) % 1000 + 1000) % 1000"

DOC_SAMPLE_SQL = f"""
SELECT doc_id, source, {_GATE_SQL} AS sample_bucket
FROM documents
WHERE {_GATE_SQL} < {SAMPLE_PER_MILLE}
"""


SAMPLE_K_PER_STRATUM = 5


def doc_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (hash-ranked).

    Rate gates (above) keep ~p% but the count per stratum varies; eval
    sets usually need EXACTLY k per stratum. Ranking by a per-row hash
    inside each stratum gives a uniform, reproducible choice; the window
    partition is one stratum, whose candidate count is bounded by the
    stratum size — and rank-limit pushdown (WindowGroupLimit) keeps only
    k rows per map partition before the shuffle.
    """
    docs = read_table(spark, sf_dir, "documents")
    rank_hash = md5_long(F.concat(F.lit("k:"), F.col("doc_id")))
    w = Window.partitionBy("source").orderBy(rank_hash.asc(), F.col("doc_id"))
    return (
        docs.select("doc_id", "source", rank_hash.alias("rank_hash"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= SAMPLE_K_PER_STRATUM)
    )


_k_hash = md5_long_sql("'k:' || doc_id")

DOC_SAMPLE_K_SQL = f"""
SELECT doc_id, source, {_k_hash} AS rank_hash,
       row_number() OVER (PARTITION BY source ORDER BY {_k_hash}, doc_id) AS rnk
FROM documents
QUALIFY rnk <= {SAMPLE_K_PER_STRATUM}
"""


def documents_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-source integrity checksum.

    Sum-of-row-hashes mod 2^31-1 plus row count: any changed, added, or
    dropped row flips the digest, and the commutative sum makes the
    result independent of partitioning/order — the cheap cross-cluster
    "did the copy land intact" check. One scan, map-side combine.
    """
    docs = read_table(spark, sf_dir, "documents")
    row_hash = md5_long(
        F.concat_ws("\x1f", F.col("doc_id"), F.col("text"), F.col("lang"))
    ) % F.lit(2_147_483_647)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.pmod(F.sum(row_hash), F.lit(2_147_483_647).cast("long")).alias("digest"),
    )


_row_hash = md5_long_sql(
    "doc_id || chr(31) || text || chr(31) || lang"
)

DOC_CHECKSUM_SQL = f"""
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(({_row_hash}) % 2147483647) % 2147483647 AS BIGINT) AS digest
FROM documents
GROUP BY source
"""


SNAPSHOT_SPLIT_DATE = "1998-01-01"


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: per customer, old state vs new state.

    Old snapshot = latest order before SNAPSHOT_SPLIT_DATE per customer,
    new snapshot = latest order overall; full-outer join on the entity
    key classifies each customer as added / changed / unchanged. The two
    snapshot builds are struct-max aggregations (map-side combined, no
    window sort); the diff is one co-partitioned join on custkey.
    """
    orders = read_table(spark, sf_dir, "orders")
    pick = F.max(
        F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    ).alias("latest")

    def snap(df):
        return df.groupBy("o_custkey").agg(pick).select(
            F.col("o_custkey").alias("custkey"),
            F.col("latest.o_orderkey").alias("orderkey"),
        )

    old = snap(orders.filter(F.col("o_orderdate") < SNAPSHOT_SPLIT_DATE))
    new = snap(orders)
    status = (
        F.when(F.col("o_old.orderkey").isNull(), "added")
        .when(F.col("o_old.orderkey") != F.col("o_new.orderkey"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.alias("o_old")
        .join(new.alias("o_new"), F.col("o_old.custkey") == F.col("o_new.custkey"), "full_outer")
        .select(
            F.coalesce(F.col("o_new.custkey"), F.col("o_old.custkey")).alias("custkey"),
            F.col("o_old.orderkey").alias("old_orderkey"),
            F.col("o_new.orderkey").alias("new_orderkey"),
            status.alias("status"),
        )
    )


SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey
  FROM orders WHERE o_orderdate < '{SNAPSHOT_SPLIT_DATE}'
  QUALIFY row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
),
new AS (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey
  FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
)
SELECT COALESCE(new.custkey, old.custkey) AS custkey,
       old.orderkey AS old_orderkey,
       new.orderkey AS new_orderkey,
       CASE WHEN old.orderkey IS NULL THEN 'added'
            WHEN old.orderkey <> new.orderkey THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.custkey = new.custkey
"""


COMPACTION_TARGET_BYTES = 4000


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: pack files into target-size bins.

    The catalog-maintenance op a 100 TB lake needs continuously: within
    each partition (source), order files deterministically, take the
    running byte total, and assign bin = floor(cumulative_before /
    target). Greedy-by-running-sum packs every bin to >= target except
    the last, in ONE window pass — no driver-side loop over files. The
    window partitions by source, so parallelism = partition count and no
    single task sees the whole listing.
    """
    docs = read_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_chars").over(w), F.lit(0)).cast("long")
    return docs.select(
        "source",
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("n_bytes"),
        (cum_before / COMPACTION_TARGET_BYTES).cast("long").alias("bin_id"),
    )


COMPACTION_SQL = f"""
SELECT source, doc_id AS file_id, n_chars AS n_bytes,
       CAST(FLOOR(COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / {COMPACTION_TARGET_BYTES}.0) AS BIGINT) AS bin_id
FROM documents
"""


DQ_MAX_PRICE_CENTS = 60_000_000  # plausibility ceiling for o_totalprice


def orders_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations → violations-per-rule table.

    The pre-promotion gate: each rule is one conditional aggregate over a
    single shared scan (map-side combined), except referential integrity
    which is an anti-join against the customer keys. Output one row per
    rule with its violation count — zero rows violated == promote.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rules = orders.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_orderkey"),
        F.sum(F.when(cents <= 0, 1).otherwise(0)).cast("long").alias("nonpos_price"),
        F.sum(F.when(cents > DQ_MAX_PRICE_CENTS, 1).otherwise(0))
        .cast("long")
        .alias("price_above_cap"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_status"),
    )
    orphan = (
        orders.join(cust, orders.o_custkey == cust.ck, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orphan_custkey").alias("rule"), "n_violations")
    )
    stack = ", ".join(
        f"'{r}', {r}"
        for r in ("null_orderkey", "nonpos_price", "price_above_cap", "bad_status")
    )
    stacked = rules.select(
        F.expr(f"stack(4, {stack}) AS (rule, n_violations)")
    )
    return stacked.unionByName(orphan)


DQ_SQL = f"""
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
    CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
    CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT) > {DQ_MAX_PRICE_CENTS} THEN 1 ELSE 0 END) AS BIGINT) AS price_above_cap,
    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
  FROM orders
),
orph AS (
  SELECT COUNT(*) AS orphan_custkey
  FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT r.rule, r.n_violations
FROM agg, orph,
LATERAL (VALUES ('null_orderkey', null_orderkey),
                ('nonpos_price', nonpos_price),
                ('price_above_cap', price_above_cap),
                ('bad_status', bad_status),
                ('orphan_custkey', orphan_custkey)) AS r(rule, n_violations)
"""


def orders_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS revenue slope per order priority — regression as aggregation.

    The per-segment trend every revenue dashboard wants, computed with
    the closed-form OLS slope over (month index, monthly cents):
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). Every Σ is an exact
    int64 sum (x is a small month ordinal, y integer cents); the OLS
    cross terms n·Σxy and Σx·Σy are formed in DOUBLE — with y a CENTS
    sum they overflow int64 past ~sf1 (caught by the 10× harness) —
    as the identical expression tree on both engines, so parity holds
    by construction. Two hash-aggs, no window, no UDF; scales as a
    pure map-side-combining pipeline.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("month_idx"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    x, y = F.col("month_idx"), F.col("cents")
    agg = monthly.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    return agg.select(
        "priority",
        "n_months",
        F.expr(
            "ROUND((CAST(n_months AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / (CAST(n_months AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)"
        ).alias("slope_cents_per_month"),
    )


TREND_SQL = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS month_idx,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
agg AS (
  SELECT priority, COUNT(*) AS n_months,
         CAST(SUM(month_idx) AS BIGINT) AS sx,
         CAST(SUM(cents) AS BIGINT) AS sy,
         CAST(SUM(month_idx * cents) AS BIGINT) AS sxy,
         CAST(SUM(month_idx * month_idx) AS BIGINT) AS sxx
  FROM monthly GROUP BY 1
)
SELECT priority, n_months,
       ROUND((CAST(n_months AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n_months AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         AS slope_cents_per_month
FROM agg
"""


def orders_monthly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense monthly revenue series per priority: spine join + zero fill.

    Time-series consumers need a row for EVERY month, including zero
    months. The month spine is generated from the data's own min/max
    (sequence + explode — no driver-side date math), cross-joined with
    the tiny priority dimension (5 rows, broadcast), then left-joined
    with actual monthly revenue. The spine side is (months × priorities)
    rows — trivially small at any SF; the fact side aggregates before
    the join, so the join carries aggregate rows only.
    """
    orders = read_table(spark, sf_dir, "orders")
    month_idx = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        month_idx.alias("month_idx"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    bounds = monthly.groupBy().agg(
        F.min("month_idx").alias("lo"), F.max("month_idx").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("month_idx")
    )
    prios = monthly.select("priority").distinct()
    dense = spine.join(F.broadcast(prios))
    return (
        dense.join(monthly, ["priority", "month_idx"], "left")
        .select(
            "priority",
            "month_idx",
            F.coalesce(F.col("cents"), F.lit(0).cast("long")).alias("cents"),
        )
    )


GAPFILL_SQL = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS month_idx,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
spine AS (
  SELECT UNNEST(range(MIN(month_idx), MAX(month_idx) + 1)) AS month_idx FROM monthly
),
prios AS (SELECT DISTINCT priority FROM monthly)
SELECT p.priority, s.month_idx, COALESCE(m.cents, 0) AS cents
FROM spine s CROSS JOIN prios p
LEFT JOIN monthly m ON m.priority = p.priority AND m.month_idx = s.month_idx
"""


RFM_R_DAYS = (180, 540)  # recency: <=180d -> 3, <=540d -> 2, else 1
RFM_F_ORDERS = (20, 10)  # frequency: >=20 -> 3, >=10 -> 2, else 1
# monetary cuts near the per-customer terciles (orders/customer and order
# value are SF-invariant in this schema, so the split holds across SFs)
RFM_M_CENTS = (280_000_000, 200_000_000)


def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with fixed thresholds: segment sizes + value.

    Recency (days since last order, measured against the data's own max
    date so backfills are reproducible), frequency (order count), and
    monetary (exact cents) each score 1-3 by FIXED thresholds — no
    global quantile sort, so the segmentation is stable under reshards
    and incremental appends (a tercile cut would reshuffle every
    customer's label whenever the distribution drifts). Output: one row
    per (r, f, m) cell with customer count and total cents.

    Scale shape: one per-customer hash-agg, a single-row max-date
    broadcast (allowlisted Q11 shape), then a tiny 27-cell rollup.
    """
    orders = read_table(spark, sf_dir, "orders")
    day = F.floor(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000
    ).cast("long")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    max_day = per_cust.agg(F.max("last_day").alias("max_day"))
    recency = F.col("max_day") - F.col("last_day")
    r_score = (
        F.when(recency <= RFM_R_DAYS[0], 3)
        .when(recency <= RFM_R_DAYS[1], 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("n_orders") >= RFM_F_ORDERS[0], 3)
        .when(F.col("n_orders") >= RFM_F_ORDERS[1], 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("cents") >= RFM_M_CENTS[0], 3)
        .when(F.col("cents") >= RFM_M_CENTS[1], 2)
        .otherwise(1)
    )
    return (
        per_cust.join(F.broadcast(max_day))
        .select(
            r_score.cast("long").alias("r_score"),
            f_score.cast("long").alias("f_score"),
            m_score.cast("long").alias("m_score"),
            "cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("total_cents"),
        )
    )


ORDERS_RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
md AS (SELECT MAX(last_day) AS max_day FROM per_cust)
SELECT CAST(CASE WHEN max_day - last_day <= {RFM_R_DAYS[0]} THEN 3
            WHEN max_day - last_day <= {RFM_R_DAYS[1]} THEN 2 ELSE 1 END AS BIGINT) AS r_score,
       CAST(CASE WHEN n_orders >= {RFM_F_ORDERS[0]} THEN 3
            WHEN n_orders >= {RFM_F_ORDERS[1]} THEN 2 ELSE 1 END AS BIGINT) AS f_score,
       CAST(CASE WHEN cents >= {RFM_M_CENTS[0]} THEN 3
            WHEN cents >= {RFM_M_CENTS[1]} THEN 2 ELSE 1 END AS BIGINT) AS m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM per_cust, md
GROUP BY 1, 2, 3
"""


ZORDER_EPOCH = "1995-01-01"
ZORDER_BUCKET_SHIFT = 26  # 32-bit key >> 26 = 64 layout buckets


def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: per-key-range spans in BOTH clustered dims.

    Computes the Morton key over (o_custkey, order-day) and groups orders
    into 64 contiguous key ranges — the files a z-ordered write would
    produce. Per range: row count and the min/max of each dimension. The
    point of the audit: every range is a bounded rectangle (narrow custkey
    span AND narrow day span), so min/max file stats prune scans filtered
    on EITHER column — a single-column sort gives narrow spans in one dim
    and full-width spans in the other (pinned in tests/test_zorder.py).

    Scale shape: the key is 8 codegen'd integer ops per row; the rollup
    is one hash-agg on a 6-bit key. The write-side twin is
    ``sinks.write_zordered`` (repartitionByRange + sortWithinPartitions
    on the same expression).
    """
    orders = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit(ZORDER_EPOCH)).cast("long")
    z = zorder_key(F.col("o_custkey"), day)
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"), day.alias("day_idx"), z.alias("zkey")
        )
        .groupBy(F.shiftright(F.col("zkey"), ZORDER_BUCKET_SHIFT).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("custkey").alias("min_cust"),
            F.max("custkey").alias("max_cust"),
            F.min("day_idx").alias("min_day"),
            F.max("day_idx").alias("max_day"),
        )
    )


_Z_DAY = f"date_diff('day', DATE '{ZORDER_EPOCH}', o_orderdate)"

ZORDER_LAYOUT_SQL = f"""
WITH z AS (
  SELECT o_custkey AS custkey,
         CAST({_Z_DAY} AS BIGINT) AS day_idx,
         {zorder_key_sql("o_custkey", _Z_DAY)} AS zkey
  FROM orders
)
SELECT zkey >> {ZORDER_BUCKET_SHIFT} AS zbucket,
       COUNT(*) AS n_orders,
       MIN(custkey) AS min_cust,
       MAX(custkey) AS max_cust,
       MIN(day_idx) AS min_day,
       MAX(day_idx) AS max_day
FROM z
GROUP BY 1
"""


QUANTILE_PCTS = (50, 90, 99)


def orders_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles WITHOUT a global sort (count-distribution).

    The naive exact quantile sorts all rows per group (at 100 TB: one task
    per group holding every row). This instead aggregates to (group, value)
    counts first — a partial-agg shuffle bounded by DISTINCT values, not
    rows — then takes a running sum over the much smaller distinct-value
    distribution and picks, for each target percentile p, the smallest
    value whose cumulative count reaches ceil(p*n/100). All-integer
    arithmetic (`cum*100 >= pct*n` avoids the division entirely), so the
    result is bit-exact and engine-portable — unlike interpolated
    percentile_cont, whose float blend differs per engine.

    Scale shape: one row-bounded shuffle (groupBy), one window over
    distinct prices per priority (5 groups x ~distinct-cents rows — the
    skew-prone part is the distribution size, orders of magnitude smaller
    than the data), and a 3-element percentile explode.
    """
    orders = read_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("priority").orderBy("cents")
    w_all = Window.partitionBy("priority")
    cum = counts.select(
        "priority",
        "cents",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    pct = F.explode(
        F.array(*[F.lit(p).cast("long") for p in QUANTILE_PCTS])
    ).alias("pct")
    return (
        cum.select("priority", "cents", "cum", "n", pct)
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("priority", "pct")
        .agg(
            F.min("cents").alias("quantile_cents"),
            F.max("n").alias("n_orders"),
        )
    )


PRICE_QUANTILES_SQL = f"""
WITH counts AS (
  SELECT o_orderpriority AS priority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         COUNT(*) AS c
  FROM orders GROUP BY 1, 2
), cum AS (
  SELECT priority, cents,
         SUM(c) OVER (PARTITION BY priority ORDER BY cents) AS cum,
         SUM(c) OVER (PARTITION BY priority) AS n
  FROM counts
)
SELECT priority, CAST(pct AS BIGINT) AS pct,
       MIN(cents) AS quantile_cents,
       CAST(MAX(n) AS BIGINT) AS n_orders
FROM cum CROSS JOIN (VALUES {", ".join(f"({p})" for p in QUANTILE_PCTS)}) q(pct)
WHERE cum * 100 >= pct * n
GROUP BY 1, 2
"""


MANIFEST_CHUNK = 100_000  # orderkeys per simulated data file
# pruning predicate: shipdate in [1996-06-01, 1996-09-01)
_PRUNE_LO_US = 833_587_200_000_000
_PRUNE_HI_US = 841_536_000_000_000


def lineitem_manifest_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style manifest pruning audit: per-file min/max vs a predicate.

    Table formats (Iceberg/Delta/Hudi) plan scans from a *manifest* of
    per-file column min/max stats — rows proportional to FILE count, not
    data size — so a 100 TB scan prunes to the overlapping files before a
    single byte is read. This query simulates two physical layouts of
    lineitem and computes each one's manifest plus the prune decision for
    a fixed shipdate range predicate:

    - ``by_orderkey`` (arrival order): every file spans nearly the whole
      shipdate range -> ``must_read`` everywhere, pruning is useless;
    - ``by_ship_month`` (time-clustered): min/max align with the
      predicate -> all but ~3 monthly files prune.

    Pairs with ``orders_zorder_layout`` (multi-dim clustering) — together
    they document WHY layout choice, not reader cleverness, determines
    scan cost. One scan, one explode (x2), one partial-agg shuffle whose
    key cardinality is the file count.
    """
    li = read_table(spark, sf_dir, "lineitem")
    ship_us = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    month_idx = (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("long")
    exploded = li.select(
        ship_us.alias("ship_us"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("by_orderkey").alias("layout"),
                    F.expr(f"l_orderkey div {MANIFEST_CHUNK}").alias("file_id"),
                ),
                F.struct(F.lit("by_ship_month").alias("layout"), month_idx.alias("file_id")),
            )
        ).alias("f"),
    )
    manifest = exploded.groupBy(
        F.col("f.layout").alias("layout"), F.col("f.file_id").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ship_us").alias("min_ship_us"),
        F.max("ship_us").alias("max_ship_us"),
    )
    return manifest.withColumn(
        "must_read",
        (F.col("min_ship_us") < F.lit(_PRUNE_HI_US))
        & (F.col("max_ship_us") >= F.lit(_PRUNE_LO_US)),
    )


MANIFEST_PRUNING_SQL = f"""
WITH manifest AS (
  SELECT 'by_orderkey' AS layout,
         l_orderkey // {MANIFEST_CHUNK} AS file_id,
         COUNT(*) AS n_rows,
         MIN(epoch_us(l_shipdate)) AS min_ship_us,
         MAX(epoch_us(l_shipdate)) AS max_ship_us
  FROM lineitem GROUP BY 1, 2
  UNION ALL
  SELECT 'by_ship_month' AS layout,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS file_id,
         COUNT(*) AS n_rows,
         MIN(epoch_us(l_shipdate)) AS min_ship_us,
         MAX(epoch_us(l_shipdate)) AS max_ship_us
  FROM lineitem GROUP BY 1, 2
)
SELECT layout, file_id, n_rows, min_ship_us, max_ship_us,
       (min_ship_us < {_PRUNE_HI_US} AND max_ship_us >= {_PRUNE_LO_US}) AS must_read
FROM manifest
"""


def lineitem_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup WITHOUT a range join: union + carry-forward.

    "Which customer version was current when each line item shipped" is
    the canonical temporal-join: the naive formulation is a range join
    (fact.ts BETWEEN valid_from AND valid_to) whose fan-out explodes on
    long-lived versions. The distributed-native shape instead UNIONs
    version-change events and facts into one per-entity timeline and
    carries the version forward with ``last(ignoreNulls)`` over (time,
    kind) — version events sort before same-instant facts — then keeps
    the fact rows. One shuffle on the entity key, partition size bounded
    by per-entity activity, zero join fan-out at any version lifetime.
    """
    versions = orders_scd2(spark, sf_dir).select(
        "custkey",
        F.col("valid_from_us").alias("t"),
        F.lit(0).alias("kind"),
        "version",
        F.lit(None).cast("long").alias("orderkey"),
        F.lit(None).cast("long").alias("linenumber"),
    )
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    facts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("t"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("long").alias("version"),
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").cast("long").alias("linenumber"),
        )
    )
    w = (
        Window.partitionBy("custkey")
        .orderBy("t", "kind", "version")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        versions.unionByName(facts)
        .withColumn("version_at_ship", F.last("version", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("custkey", "orderkey", "linenumber", F.col("t").alias("ship_us"), "version_at_ship")
    )


SCD2_LOOKUP_SQL = """
WITH versions AS (
  SELECT o_custkey AS custkey, epoch_us(o_orderdate) AS t, 0 AS kind,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS version,
         CAST(NULL AS BIGINT) AS orderkey, CAST(NULL AS BIGINT) AS linenumber
  FROM orders
),
facts AS (
  SELECT o_custkey AS custkey, epoch_us(l_shipdate) AS t, 1 AS kind,
         CAST(NULL AS BIGINT) AS version,
         l_orderkey AS orderkey, CAST(l_linenumber AS BIGINT) AS linenumber
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
timeline AS (
  SELECT *, last_value(version IGNORE NULLS) OVER (
      PARTITION BY custkey ORDER BY t, kind, version
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version_at_ship
  FROM (SELECT * FROM versions UNION ALL SELECT * FROM facts)
)
SELECT custkey, orderkey, linenumber, t AS ship_us, version_at_ship
FROM timeline WHERE kind = 1
"""


W_SCALE = 1_000_000


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic Bernoulli sample: P(keep) = len/max_len.

    The importance-sampling primitive for training mixes (sample documents
    proportional to token mass, not uniformly) with the same no-RNG
    contract as the other split/sample ops: the gate is a pure hash of
    doc_id, so membership is reproducible under reshards, retries and
    backfills, and the comparison ``gate * max_chars < n_chars * SCALE``
    is all-integer (no float threshold drift between engines). One scan +
    a single-row max broadcast.
    """
    docs = read_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("max_chars"))
    gate = md5_long(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))) % W_SCALE
    return (
        docs.join(F.broadcast(mx))
        .withColumn("gate", gate)
        .filter(F.col("gate") * F.col("max_chars") < F.col("n_chars") * W_SCALE)
        .select("doc_id", "source", "n_chars", "max_chars", "gate")
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH mx AS (SELECT MAX(n_chars) AS max_chars FROM documents)
SELECT doc_id, source, n_chars, CAST(max_chars AS BIGINT) AS max_chars,
       ({md5_long_sql("'wsamp:' || CAST(doc_id AS VARCHAR)")} % {W_SCALE}) AS gate
FROM documents, mx
WHERE ({md5_long_sql("'wsamp:' || CAST(doc_id AS VARCHAR)")} % {W_SCALE}) * max_chars
      < n_chars * {W_SCALE}
"""


def bloom_customer_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filter accuracy: which customers have orders, per a
    131072-bit bitmap instead of a key-set shuffle.

    See :func:`..operators.sketch.bloom_membership` — build over
    orders.o_custkey, probe customer.c_custkey. At 100 TB this is the
    runtime-filter pattern: the 2081-row bitmap broadcast replaces
    shuffling millions of build keys to every probe task; the report
    quantifies the price (false-positive rate) exactly, with a full
    oracle reproducing the same bitmap bit-for-bit in SQL.
    """
    from ..operators.sketch import bloom_membership

    return bloom_membership(
        read_table(spark, sf_dir, "orders"),
        "o_custkey",
        read_table(spark, sf_dir, "customer"),
        "c_custkey",
    )


def _bloom_sql() -> str:
    from ..operators.sketch import bloom_membership_sql

    return bloom_membership_sql("orders", "o_custkey", "customer", "c_custkey")



def lineitem_salted_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replicated skew join under the oracle gate: revenue by part brand.

    lineitem (big, potentially hot part keys) joins part via
    ``replicated_skew_join`` — the build side replicates n_salt-fold so
    the probe side's hot key scatters across n_salt reducers (the
    AQE-less skew-join answer, e.g. for streaming micro-batches where
    AQE cannot replan). The oracle is the PLAIN inner join + GROUP BY:
    the decomposition must be row-identical under the value hash.
    """
    from ..operators.skew import replicated_skew_join

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    joined = replicated_skew_join(li, part, key="partkey")
    return joined.groupBy("p_brand").agg(
        F.sum("cents").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


LINEITEM_SALTED_PART_REVENUE_SQL = """
SELECT p.p_brand,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


def customer_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM entity resolution over a deterministic dirty-customer feed.

    Block (addr prefix/suffix-4 equi-join) -> verify (name fold + nation
    + levenshtein <= 2) -> cluster (pointer-jumping CC) -> canonical
    min-id survivor. See operators/entity.py for the completeness proof
    of the two-key blocking under the single-deletion noise model.
    """
    return resolve_entities(er_dirty_records(read_table(spark, sf_dir, "customer")))


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Pearson correlation matrix over lineitem numerics.

    ALL sufficient statistics (n, Σx, Σxy, Σx² for quantity / discount /
    tax, in exact int64 after the established round-then-cast
    integerization) come from a SINGLE map-side-combined aggregate — one
    scan, one 1-row shuffle, regardless of how many column pairs are
    reported. Each pair then costs only scalar arithmetic on the driver
    row: corr = (nΣxy − ΣxΣy) / sqrt((nΣx²−(Σx)²)·(nΣy²−(Σy)²)), the
    denominator product cast to DOUBLE before multiplying (the int64
    product would overflow; the factors themselves stay exact through
    sf≈10 with these small-magnitude columns — re-derive bounds before
    pointing this at wider columns).

    This is the "sufficient statistics, not repeated scans" pattern every
    profiling pass at 100 TB needs: k² correlations for one scan.
    """
    li = read_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100).cast("long").alias("t"),
    )
    s = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("d").alias("sd"),
        F.sum("t").alias("st"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("q") * F.col("t")).alias("sqt"),
        F.sum(F.col("d") * F.col("t")).alias("sdt"),
    )

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str):
        return F.round(
            F.expr(f"CAST(n*{sxy} - {sx}*{sy} AS DOUBLE)")
            / F.sqrt(
                F.expr(f"CAST(n*{sxx} - {sx}*{sx} AS DOUBLE)")
                * F.expr(f"CAST(n*{syy} - {sy}*{sy} AS DOUBLE)")
            ),
            6,
        )

    return s.select(
        "n",
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("c_qd"),
        corr("sqt", "sq", "st", "sqq", "stt").alias("c_qt"),
        corr("sdt", "sd", "st", "sdd", "stt").alias("c_dt"),
    ).select(
        F.expr(
            "stack(3, 'quantity', 'discount', c_qd,"
            " 'quantity', 'tax', c_qt,"
            " 'discount', 'tax', c_dt) AS (col_x, col_y, corr)"
        ),
        "n",
    )


_CORR_STATS = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(d) AS BIGINT) AS sd,
           CAST(SUM(t) AS BIGINT) AS st,
           CAST(SUM(q*q) AS BIGINT) AS sqq, CAST(SUM(d*d) AS BIGINT) AS sdd,
           CAST(SUM(t*t) AS BIGINT) AS stt,
           CAST(SUM(q*d) AS BIGINT) AS sqd, CAST(SUM(q*t) AS BIGINT) AS sqt,
           CAST(SUM(d*t) AS BIGINT) AS sdt
    FROM (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
    )
"""


def _corr_expr(sxy: str, sx: str, sy: str, sxx: str, syy: str) -> str:
    return (
        f"ROUND(CAST(n*{sxy} - {sx}*{sy} AS DOUBLE) / "
        f"sqrt(CAST(n*{sxx} - {sx}*{sx} AS DOUBLE) * "
        f"CAST(n*{syy} - {sy}*{sy} AS DOUBLE)), 6)"
    )


CORR_MATRIX_SQL = f"""
WITH s AS ({_CORR_STATS})
SELECT 'quantity' AS col_x, 'discount' AS col_y,
       {_corr_expr('sqd', 'sq', 'sd', 'sqq', 'sdd')} AS corr, n FROM s
UNION ALL
SELECT 'quantity', 'tax', {_corr_expr('sqt', 'sq', 'st', 'sqq', 'stt')}, n FROM s
UNION ALL
SELECT 'discount', 'tax', {_corr_expr('sdt', 'sd', 'st', 'sdd', 'stt')}, n FROM s
"""


SURROGATE_BUCKET = 1000  # doc_id range width per bucket


def doc_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense sequence numbers WITHOUT a global-sort bottleneck.

    The naive ``row_number() OVER (ORDER BY doc_id)`` collapses the whole
    table into ONE window partition — the classic driver-sized bottleneck
    at scale. The distributed formulation is offset-cumsum indexing:

      1. bucket each row by value range (``doc_id div B`` — deterministic
         under resharding, unlike spark_partition_id),
      2. count rows per bucket (tiny aggregate),
      3. running-sum those counts into per-bucket start offsets (a window
         over BUCKET rows — thousands, not billions),
      4. broadcast-join offsets back and rank WITHIN each bucket
         (window partitions bounded by bucket width, never by SF).

    seq = bucket_offset + local_rank − 1; dense, gap-free, equal to the
    global row_number by construction (buckets are value-ordered). The
    oracle IS the naive global window — parity proves the two-phase
    decomposition exact.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    b = docs.withColumn("bucket", F.expr(f"doc_id div {SURROGATE_BUCKET}"))
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    off_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("cnt").over(off_w), F.lit(0)).alias("offset")
    )
    local_w = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        b.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "seq", (F.col("offset") + F.row_number().over(local_w)).cast("long")
        )
        .select("doc_id", "source", "seq")
    )


SURROGATE_KEYS_SQL = """
SELECT doc_id, source,
       row_number() OVER (ORDER BY doc_id) AS seq
FROM documents
"""


# --- orders_revenue_ewma: integer exponential smoothing (recurrence) ------

EWMA_NUM, EWMA_DEN = 1, 4  # alpha = 1/4: s_t = (x_t + 3 s_{t-1}) div 4


def orders_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority EWMA of monthly revenue — a SEQUENTIAL recurrence with
    a full value-hash oracle.

    Exponential smoothing is the one dashboard primitive the engine's
    window toolbox can't express (each output depends on the previous
    OUTPUT, not a frame of inputs). The recurrence runs entirely inside
    one ``aggregate`` higher-order expression per key: the month series
    is assembled with sort_array(collect_list(struct)) — bounded by
    months-per-key, never by order count — and folded left with the
    integer rule s_t = (x_t + 3*s_{t-1}) div 4 (alpha = 1/4 kept
    rational; cents are non-negative so truncating div == floor on both
    engines). The oracle is a recursive CTE stepping the same rule —
    proving Spark's fold and DuckDB's recursion compute the identical
    sequence. Scale shape: the heavy work (monthly cents) is a map-side-
    combined groupBy; the fold touches #months elements per key.

    Output: (priority, month_idx, cents, ewma_cents) — all int64.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("month_idx"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    series = monthly.groupBy("priority").agg(
        F.sort_array(F.collect_list(F.struct("month_idx", "cents"))).alias("ms")
    )
    fold = (
        "aggregate(ms,"
        " CAST(array() AS array<struct<month_idx: bigint, cents: bigint,"
        " ewma_cents: bigint>>),"
        " (acc, m) -> array_append(acc, named_struct("
        "   'month_idx', m.month_idx, 'cents', m.cents,"
        "   'ewma_cents', CASE WHEN size(acc) = 0 THEN m.cents"
        f"      ELSE (m.cents + {EWMA_DEN - EWMA_NUM} * element_at(acc, -1).ewma_cents)"
        f"           div {EWMA_DEN} END)))"
    )
    return (
        series.select("priority", F.explode(F.expr(fold)).alias("r"))
        .select(
            "priority",
            F.col("r.month_idx").alias("month_idx"),
            F.col("r.cents").alias("cents"),
            F.col("r.ewma_cents").alias("ewma_cents"),
        )
    )


REVENUE_EWMA_SQL = f"""
WITH RECURSIVE monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS month_idx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  GROUP BY 1, 2
),
seq AS (
  SELECT priority, month_idx, cents,
         row_number() OVER (PARTITION BY priority ORDER BY month_idx) AS rn
  FROM monthly
),
r AS (
  SELECT priority, month_idx, cents, rn, cents AS ewma_cents
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.priority, s.month_idx, s.cents, s.rn,
         (s.cents + {EWMA_DEN - EWMA_NUM} * r.ewma_cents) // {EWMA_DEN}
  FROM seq s JOIN r ON s.priority = r.priority AND s.rn = r.rn + 1
)
SELECT priority, month_idx, cents, ewma_cents FROM r
"""


# --- orders_bootstrap_ci: Poisson bootstrap over order revenue ------------

BOOT_B = 32  # bootstrap replicas
# Inverse-CDF thresholds for Poisson(lambda=1) in micro-units (cumulative
# probabilities floor(P*1e6)): deterministic CONSTANTS both engines share,
# replacing any RNG — the draw is a hash-derived uniform against these.
_POIS1_CUM = (367879, 735758, 919698, 980960, 996340, 999416, 999928, 999999)


def orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of mean order revenue: B replica means, ranked.

    THE scalable bootstrap (Chamandy et al.: resampling-with-replacement
    at cluster scale): instead of materializing B resamples, every row
    independently contributes a Poisson(1) count to each replica — one
    scan, B-fold map-side expansion, no sampling shuffle. Randomness is
    replaced by the engine's portable hash: u = md5('boot'||b||':'||key)
    mod 1e6 against fixed inverse-CDF thresholds, so both engines draw
    the IDENTICAL pseudo-counts and the whole estimator is value-hash-
    oracled. Replica mean = one ROUND(sum/sum, 6); the rank column makes
    empirical CI reads trivial (rank 2 / rank B-1 brackets the central
    93.75% band at B = 32).

    Scale shape: explode(sequence(0, B-1)) -> map-side-combined groupBy
    replica (B cells total regardless of order count) -> a B-row window.
    Output: (replica, n_draws, mean_cents, rnk).
    """
    from pyspark.sql.window import Window

    # fan_out (r11): the B-fold explode + per-replica md5 is ~B x |orders|
    # string hashes of pure map work — a single small parquet split would
    # pin all of it to one core (no-op at real scale, see fan_out)
    orders = fan_out(read_table(spark, sf_dir, "orders"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    u = (
        md5_long(
            F.concat(
                F.lit("boot"),
                F.col("replica").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            )
        )
        % 1_000_000
    )
    cnt = F.lit(len(_POIS1_CUM)).cast("long")
    for k in range(len(_POIS1_CUM) - 1, -1, -1):
        cnt = F.when(F.col("u") < _POIS1_CUM[k], F.lit(k)).otherwise(cnt)
    rep = (
        orders.select(
            "o_orderkey",
            cents.alias("cents"),
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("replica"),
        )
        .withColumn("u", u)
        .withColumn("cnt", cnt.cast("long"))
        .groupBy("replica")
        .agg(
            F.sum("cnt").alias("n_draws"),
            F.sum(F.col("cnt") * F.col("cents")).alias("wsum"),
        )
        .select(
            F.col("replica").cast("long").alias("replica"),
            "n_draws",
            F.round(F.col("wsum") / F.col("n_draws"), 6).alias("mean_cents"),
        )
    )
    w = Window.orderBy("mean_cents", "replica")
    return rep.withColumn("rnk", F.row_number().over(w).cast("long"))


def _bootstrap_sql() -> str:
    cnt = f"{len(_POIS1_CUM)}"
    for k in range(len(_POIS1_CUM) - 1, -1, -1):
        cnt = f"CASE WHEN u < {_POIS1_CUM[k]} THEN {k} ELSE {cnt} END"
    return f"""
WITH rep AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         g.b AS replica,
         ({md5_long_sql("'boot' || CAST(g.b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")})
           % 1000000 AS u
  FROM orders, UNNEST(generate_series(0, {BOOT_B - 1})) AS g(b)
),
cnts AS (SELECT replica, cents, CAST({cnt} AS BIGINT) AS cnt FROM rep),
means AS (
  SELECT CAST(replica AS BIGINT) AS replica,
         CAST(SUM(cnt) AS BIGINT) AS n_draws,
         ROUND(CAST(SUM(cnt * cents) AS BIGINT) / CAST(SUM(cnt) AS BIGINT), 6)
           AS mean_cents
  FROM cnts GROUP BY replica
)
SELECT replica, n_draws, mean_cents,
       row_number() OVER (ORDER BY mean_cents, replica) AS rnk
FROM means
"""


BOOTSTRAP_CI_SQL = _bootstrap_sql()


# --- orders_lineitem_reconcile: fact-to-fact DQ reconciliation ------------

RECONCILE_TOPK = 20


def orders_lineitem_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-fact reconciliation: order header total vs its lineitem sum.

    The warehouse trust check every finance pipeline runs nightly: join
    the two fact tables on the business key, compare the header amount
    against the aggregated detail amount in exact integer cents, and
    surface the worst discrepancies (orders with NO detail rows included
    — coalesced to 0, the classic orphan-header defect). Output is the
    top-RECONCILE_TOPK by absolute difference (ties by key) so the row
    set is deterministic and bounded however large the mismatch
    population is.

    Scale shape: one map-side-combined detail aggregate (one row per
    order before the join), then a key equi-join between two fact
    tables — the canonical candidate for bucketed tables
    (sinks.write_bucketed_table persists bucket+sort metadata so this
    join runs with ZERO exchange nightly); the top-k is a
    TakeOrderedAndProject, no full sort.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("order_cents"),
    )
    line = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "lineitem_cents"
            )
        )
    )
    joined = (
        orders.join(line, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "order_cents",
            F.coalesce(F.col("lineitem_cents"), F.lit(0).cast("long")).alias(
                "lineitem_cents"
            ),
        )
        .withColumn("diff_cents", F.col("order_cents") - F.col("lineitem_cents"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.abs(F.col("diff_cents")).desc(), "o_orderkey")
    return (
        joined.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= RECONCILE_TOPK)
    )


RECONCILE_SQL = f"""
WITH line AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS lineitem_cents
  FROM lineitem GROUP BY 1
),
joined AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS order_cents,
         COALESCE(l.lineitem_cents, 0) AS lineitem_cents,
         CAST(round(o.o_totalprice * 100) AS BIGINT)
           - COALESCE(l.lineitem_cents, 0) AS diff_cents
  FROM orders o LEFT JOIN line l USING (o_orderkey)
)
SELECT o_orderkey, order_cents, lineitem_cents, diff_cents,
       row_number() OVER (ORDER BY abs(diff_cents) DESC, o_orderkey) AS rnk
FROM joined
QUALIFY rnk <= {RECONCILE_TOPK}
"""


# --- orders_cohort_ltv: cumulative value curve per acquisition cohort -----


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per cohort user by month.

    The VALUE companion to order_cohort_retention's activity counts —
    retention says who came back, LTV says what the cohort is worth:
    per (cohort month, months-since-acquisition) the cohort's cumulative
    cents and the per-user LTV (one division over exact integers, round
    6). The cumulative window is partitioned by cohort and ordered by
    the month offset, so frame state is bounded by the calendar
    (months^2 output grain, independent of customer count); cohort
    sizes ride a broadcast back onto the curve.

    Output: (cohort_month, months_since, n_users, cum_revenue_cents,
    ltv_cents_per_user).
    """
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    firsts = orders.groupBy("o_custkey").agg(
        F.min("order_month").alias("cohort_month")
    )
    sizes = firsts.groupBy("cohort_month").agg(
        F.countDistinct("o_custkey").alias("n_users")
    )
    monthly = (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort_month",
            F.months_between(F.col("order_month"), F.col("cohort_month"))
            .cast("long")
            .alias("months_since"),
        )
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        monthly.withColumn("cum_revenue_cents", F.sum("rev_cents").over(w))
        .join(F.broadcast(sizes), "cohort_month")
        .select(
            "cohort_month",
            "months_since",
            "n_users",
            "cum_revenue_cents",
            F.round(F.col("cum_revenue_cents") / F.col("n_users"), 6).alias(
                "ltv_cents_per_user"
            ),
        )
    )


COHORT_LTV_SQL = """
WITH om AS (
  SELECT o_custkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
firsts AS (
  SELECT o_custkey, MIN(order_month) AS cohort_month FROM om GROUP BY o_custkey
),
sizes AS (
  SELECT cohort_month, COUNT(DISTINCT o_custkey) AS n_users
  FROM firsts GROUP BY cohort_month
),
monthly AS (
  SELECT f.cohort_month,
         CAST(datediff('month', f.cohort_month, om.order_month) AS BIGINT)
           AS months_since,
         CAST(SUM(om.cents) AS BIGINT) AS rev_cents
  FROM om JOIN firsts f USING (o_custkey)
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_month, months_since,
         CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month
              ORDER BY months_since
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_revenue_cents
  FROM monthly
)
SELECT c.cohort_month, c.months_since, s.n_users, c.cum_revenue_cents,
       ROUND(c.cum_revenue_cents / s.n_users, 6) AS ltv_cents_per_user
FROM cum c JOIN sizes s USING (cohort_month)
"""


K_ANON_THRESHOLD = 5


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity histogram over the customer quasi-identifiers.

    The privacy-engineering read before any customer-grain export: rows
    whose quasi-identifier combination (nation, market segment, account
    balance band) is shared by fewer than K_ANON_THRESHOLD customers are
    re-identifiable by linkage. Output is the equivalence-class SIZE
    histogram — one row per class size k with the class count, row
    count, integer-micro row share and the at-risk flag — so the
    release decision ("suppress or generalize every k<5 class") is a
    read off the table. Two hash-aggs; output cardinality bounded by
    max class size, never by customer count. Balance banding is
    FLOOR(acctbal/1000) — one IEEE double op both engines share.
    """
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    hist = classes.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("k").alias("n_rows"),
    )
    tot = hist.agg(F.sum("n_rows").alias("t_rows"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_classes",
            "n_rows",
            F.expr("(n_rows * 1000000) div t_rows").alias("row_share_micro"),
            (F.col("k") < K_ANON_THRESHOLD).alias("at_risk"),
        )
    )


K_ANONYMITY_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM customer GROUP BY 1, 2, 3
),
hist AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(k) AS BIGINT) AS n_rows
  FROM classes GROUP BY k
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS t_rows FROM hist)
SELECT k, n_classes, n_rows,
       CAST((n_rows * 1000000) // t_rows AS BIGINT) AS row_share_micro,
       k < {K_ANON_THRESHOLD} AS at_risk
FROM hist CROSS JOIN tot
"""


L_DIVERSITY_MIN = 3


def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the customer quasi-identifier classes.

    k-anonymity's blind spot: a class can be large (k-safe) yet leak the
    sensitive attribute anyway when every member SHARES it (homogeneity
    attack). Here the quasi-identifier is (nation, market segment) and
    the sensitive attribute is the account-balance band; per QI class we
    report k, distinct-l, the dominant band's share (integer micro) and
    the two failure flags — l < L_DIVERSITY_MIN and dominant share >
    80%. Shape: one (QI, band) hash-agg, then a per-QI agg — the max
    share needs no window because max(count) commutes into the second
    agg; output is bounded by |nations|×|segments|, never customers.
    """
    cust = read_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("c"))
    classes = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("c").alias("k"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.max("c").alias("dominant"),
    )
    return classes.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        "l_distinct",
        F.expr("(dominant * 1000000) div k").alias("dominant_share_micro"),
        (F.col("l_distinct") < L_DIVERSITY_MIN).alias("low_diversity"),
        (F.expr("(dominant * 1000000) div k") > 800_000).alias("homogeneous"),
    )


L_DIVERSITY_SQL = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(SUM(c) AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS l_distinct,
         CAST(MAX(c) AS BIGINT) AS dominant
  FROM cells GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, k, l_distinct,
       (dominant * 1000000) // k AS dominant_share_micro,
       l_distinct < {L_DIVERSITY_MIN} AS low_diversity,
       (dominant * 1000000) // k > 800000 AS homogeneous
FROM classes
"""


SEASONAL_MA_HALF = 6  # 13-month centered moving average


def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal decomposition of monthly revenue.

    The time-series read behind Holt's forecast and the CUSUM monitor:
    is there a month-of-year rhythm once trend is removed? Monthly
    revenue (whole dollars — cents div 100, int64 headroom for the
    ×13e6 ratio to ~sf4000; shard the series per region beyond) is
    detrended by a 13-month centered moving average computed as an
    EXACT integer window sum (ratio_micro = rev·13·1e6 div trend_sum —
    no float trend, no division until the final quantization), months
    without the full 13-term neighborhood fall out (the classical edge
    rule). Seasonal index per month-of-year = mean of the detrended
    ratios, again exact (sum div n). The unpartitioned window is over
    the MONTHLY series (~80 rows after one map-side-combined agg), not
    raw orders — single-partition is the right plan at that grain.
    Output: 12 rows — n_obs, seasonal index, min/max ratio spread.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m")
    ).agg(
        F.expr(
            "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100"
        ).alias("rev_d")
    )
    w = (
        Window.orderBy("m")
        .rowsBetween(-SEASONAL_MA_HALF, SEASONAL_MA_HALF)
    )
    ratios = (
        monthly.select(
            "m",
            "rev_d",
            F.sum("rev_d").over(w).alias("trend_sum"),
            F.count(F.lit(1)).over(w).alias("n_win"),
        )
        .filter(F.col("n_win") == 2 * SEASONAL_MA_HALF + 1)
        .select(
            (F.col("m") % 12 + 1).alias("month_of_year"),
            F.expr(
                f"(rev_d * {2 * SEASONAL_MA_HALF + 1} * 1000000)"
                " div trend_sum"
            ).alias("ratio_micro"),
        )
    )
    return ratios.groupBy("month_of_year").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.expr("SUM(ratio_micro) div COUNT(*)").alias("seasonal_micro"),
        F.min("ratio_micro").alias("min_ratio_micro"),
        F.max("ratio_micro").alias("max_ratio_micro"),
    )


SEASONAL_SQL = f"""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS rev_d
  FROM orders GROUP BY 1
),
win AS (
  SELECT m, rev_d,
         CAST(SUM(rev_d) OVER w AS BIGINT) AS trend_sum,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_win
  FROM monthly
  WINDOW w AS (ORDER BY m ROWS BETWEEN {SEASONAL_MA_HALF} PRECEDING
               AND {SEASONAL_MA_HALF} FOLLOWING)
),
ratios AS (
  SELECT m % 12 + 1 AS month_of_year,
         (rev_d * {2 * SEASONAL_MA_HALF + 1} * 1000000) // trend_sum AS ratio_micro
  FROM win WHERE n_win = {2 * SEASONAL_MA_HALF + 1}
)
SELECT month_of_year, CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(ratio_micro) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS seasonal_micro,
       CAST(MIN(ratio_micro) AS BIGINT) AS min_ratio_micro,
       CAST(MAX(ratio_micro) AS BIGINT) AS max_ratio_micro
FROM ratios GROUP BY 1
"""


def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue (median pairwise slope).

    The robust companion to orders_revenue_trend's OLS: one anomalous
    month (outage, backfill, promo spike) can drag a least-squares
    slope arbitrarily; the median of all pairwise slopes has a 29%
    breakdown point. The pair set is QUADRATIC ONLY IN MONTHS — revenue
    is rolled up to the ~84-row monthly series first (one map-side-
    combined agg), so the self-join emits ~3.5k pair rows at ANY fact
    size; this is the bounded-grain discipline that makes Theil-Sen
    (normally dismissed as O(n²)) a scale-safe operator. Slopes are
    exact integer micro-dollars-per-month ((Δrev_d·1e6) div Δm, whole
    dollars for int64 headroom to ~sf10⁴); the p25/median/p75 picks are
    lower-order-statistic row_number selections (deterministic, no
    interpolation) over the bounded pair rows.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m")
    ).agg(
        F.expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100").alias(
            "rev_d"
        )
    )
    a = monthly.select(F.col("m").alias("ma"), F.col("rev_d").alias("ra"))
    b = monthly.select(F.col("m").alias("mb"), F.col("rev_d").alias("rb"))
    slopes = (
        a.crossJoin(b)
        .filter(F.col("mb") > F.col("ma"))
        .select(
            F.expr("((rb - ra) * 1000000) div (mb - ma)").alias("slope_micro")
        )
    )
    w = Window.orderBy("slope_micro")
    ranked = slopes.select(
        "slope_micro", F.row_number().over(w).cast("long").alias("r")
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .filter(
            F.expr(
                "r = (n_pairs + 1) div 4 OR r = (n_pairs + 1) div 2"
                " OR r = (3 * (n_pairs + 1)) div 4"
            )
        )
        .groupBy("n_pairs")
        .agg(
            F.min("slope_micro").alias("slope_p25_micro"),
            F.expr(
                "MAX(CASE WHEN r = (n_pairs + 1) div 2"
                " THEN slope_micro END)"
            ).alias("slope_med_micro"),
            F.max("slope_micro").alias("slope_p75_micro"),
        )
    )


THEILSEN_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS rev_d
  FROM orders GROUP BY 1
),
slopes AS (
  SELECT ((b.rev_d - a.rev_d) * 1000000) // (b.m - a.m) AS slope_micro
  FROM monthly a JOIN monthly b ON b.m > a.m
),
ranked AS (
  SELECT slope_micro,
         CAST(row_number() OVER (ORDER BY slope_micro) AS BIGINT) AS r
  FROM slopes
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM ranked)
SELECT n_pairs,
       CAST(MIN(slope_micro) AS BIGINT) AS slope_p25_micro,
       CAST(MAX(CASE WHEN r = (n_pairs + 1) // 2
                     THEN slope_micro END) AS BIGINT) AS slope_med_micro,
       CAST(MAX(slope_micro) AS BIGINT) AS slope_p75_micro
FROM ranked CROSS JOIN n
WHERE r = (n_pairs + 1) // 2
   OR r = (n_pairs + 1) // 4
   OR r = (3 * (n_pairs + 1)) // 4
GROUP BY n_pairs
"""


SHEWHART_WIN = 28  # trailing window (days with data), excludes current
SHEWHART_TOPK = 20


def orders_shewhart_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart 3-sigma control chart over daily revenue — DQ sentinel.

    The classic process-control monitor a warehouse runs on every fact
    feed: each day's revenue against the mean/variance of its own
    trailing SHEWHART_WIN days (strictly preceding — the day under test
    never contaminates its own control limits). Integer-exact sigma
    test: |x-mu| > 3*sigma  <=>  (x*n - s1)^2 > 9*(n*s2 - s1^2), all in
    KILOdollars (cents div 100_000): daily revenue squared then summed
    over the window must stay in int64 — whole dollars overflowed at
    the 10x harness SF (n*s2 ~ 1.8e19), kilodollar cells hold to
    ~sf1000 with sigma resolution ~0.1% of a day. Output is the
    TOP-SHEWHART_TOPK days by
    standardized deviation (denominator-quantized ppm ratio, the lorenz
    pattern), breach-flagged — rank-relative, so the table is never
    degenerate-empty on in-control data, and real breaches sort first.

    Scale shape: one map-side-combined day rollup (bounded by calendar
    days, not orders), one day-grain window pass, TakeOrderedAndProject
    top-K. No fact-sized shuffle beyond the day rollup.
    """
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("o_day")
    ).agg(
        F.expr(
            "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100000"
        ).alias("rev_kd")
    )
    w = (
        Window.orderBy("o_day")
        .rowsBetween(-SHEWHART_WIN, -1)
    )
    stats = daily.select(
        "o_day",
        "rev_kd",
        F.count("rev_kd").over(w).alias("n"),
        F.sum("rev_kd").over(w).alias("s1"),
        F.sum(F.col("rev_kd") * F.col("rev_kd")).over(w).alias("s2"),
    ).filter(F.col("n") == SHEWHART_WIN)
    scored = stats.select(
        "o_day",
        "rev_kd",
        F.expr("s1 div n").alias("mu_kd"),
        F.expr(
            "((rev_kd * n - s1) * (rev_kd * n - s1))"
            " div NULLIF((9 * (n * s2 - s1 * s1)) div 1000000, 0)"
        ).alias("dev_ratio_ppm"),
        F.expr(
            "CAST(CASE WHEN (rev_kd * n - s1) * (rev_kd * n - s1)"
            " > 9 * (n * s2 - s1 * s1) THEN 1 ELSE 0 END AS INT)"
        ).alias("breach"),
    )
    return (
        scored.orderBy(
            F.desc_nulls_last("dev_ratio_ppm"), F.col("o_day")
        ).limit(SHEWHART_TOPK)
    )


SHEWHART_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS o_day,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100000 AS rev_kd
  FROM orders GROUP BY 1
),
stats AS (
  SELECT o_day, rev_kd,
         COUNT(rev_kd) OVER w AS n,
         SUM(rev_kd) OVER w AS s1,
         SUM(rev_kd * rev_kd) OVER w AS s2
  FROM daily
  WINDOW w AS (ORDER BY o_day ROWS BETWEEN {SHEWHART_WIN} PRECEDING
               AND 1 PRECEDING)
),
scored AS (
  SELECT o_day,
         CAST(rev_kd AS BIGINT) AS rev_kd,
         CAST(s1 // n AS BIGINT) AS mu_kd,
         CAST((rev_kd * n - s1) * (rev_kd * n - s1) AS BIGINT)
           // NULLIF(CAST(9 * (n * s2 - s1 * s1) AS BIGINT) // 1000000, 0)
           AS dev_ratio_ppm,
         CAST(CASE WHEN (rev_kd * n - s1) * (rev_kd * n - s1)
              > 9 * (n * s2 - s1 * s1) THEN 1 ELSE 0 END AS INT) AS breach
  FROM stats WHERE n = {SHEWHART_WIN}
)
SELECT * FROM scored
ORDER BY dev_ratio_ppm DESC NULLS LAST, o_day
LIMIT {SHEWHART_TOPK}
"""


def orders_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation test on daily revenue — the
    autocorrelation rung of the DQ tier (shewhart flags level breaches,
    changepoint mean shifts; DW asks whether SUCCESSIVE days co-move,
    the signature of batch-loading artifacts, double-posted feeds, or
    weekly seasonality leaking into a supposedly independent series).

    DW = Σ_{t≥2}(x_t − x_{t−1})² / Σ(x_t − x̄)² about the series mean.
    Both sums are exact: the numerator's per-day squared first
    difference and the denominator via the algebraic identity
    Σ(x−x̄)² = (n·Σx² − S²)/n², formed in decimal(38,0)/HUGEINT (daily
    cents ~1e11 at 100×, diff² ~1e22 — past int64, inside decimal38 to
    ~sf10000). DW and the lag-1 autocorrelation read rho ≈ 1 − DW/2 run
    through one identical double tree in both engines (floor milli /
    ppm); a constant series gives NULL via NULLIF, never an error.
    DW ≈ 2 = independent; → 0 positive serial correlation; → 4
    negative (alternation — the double-posting signature).

    Scale shape: one map-side-combined day rollup (bounded by calendar
    days, never orders), one lag window over the day-grain frame, one
    1-row aggregate. No fact-sized shuffle beyond the day rollup.
    """
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("o_day")).agg(
        F.expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))").alias("x")
    )
    w = Window.orderBy("o_day")
    lagged = daily.select(
        "x", (F.col("x") - F.lag("x", 1).over(w)).alias("diff")
    )
    s = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x")).alias("s2"),
        F.sum(F.expr("CAST(diff AS DECIMAL(19,0)) * diff")).alias("d2"),
    )
    denom = (
        "((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE))"
    )
    dw = f"(CAST(d2 AS DOUBLE) / NULLIF({denom}, 0.0))"
    return s.select(
        F.col("n").alias("n_days"),
        F.col("s1").alias("total_cents"),
        F.expr(f"CAST(FLOOR({dw} * 1000) AS BIGINT)").alias("dw_milli"),
        F.expr(
            f"CAST(FLOOR((1.0 - {dw} / 2.0) * 1000000) AS BIGINT)"
        ).alias("rho1_ppm"),
    )


DURBIN_WATSON_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS o_day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT x, x - LAG(x, 1) OVER (ORDER BY o_day) AS diff FROM daily
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         SUM(CAST(x AS HUGEINT) * x) AS s2,
         SUM(CAST(diff AS HUGEINT) * diff) AS d2
  FROM lagged
)
SELECT n AS n_days, s1 AS total_cents,
       CAST(FLOOR(CAST(d2 AS DOUBLE)
            / NULLIF((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / CAST(n AS DOUBLE), 0.0)
            * 1000) AS BIGINT) AS dw_milli,
       CAST(FLOOR((1.0 - CAST(d2 AS DOUBLE)
            / NULLIF((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / CAST(n AS DOUBLE), 0.0) / 2.0)
            * 1000000) AS BIGINT) AS rho1_ppm
FROM s
"""


def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue about its own median —
    the RANDOMNESS rung of the DQ tier (durbin_watson reads lag-1
    co-movement magnitude; the runs test reads the SIGN pattern, so it
    catches regime stickiness and alternation even when magnitudes
    cancel — the classic nonparametric 'is this series actually random'
    gate).

    The median is the exact lower median of the bounded day frame
    (rank (n+1) div 2 over (revenue, day) — fully deterministic);
    equal-to-median days are dropped per the classic dichotomization.
    R = 1 + Σ[sign_t ≠ sign_{t−1}] over date order, and the normal
    readout z = (R − μ)/σ with μ = 2n1n2/n + 1 and
    σ² = 2n1n2(2n1n2 − n)/(n²(n−1)) runs through one identical double
    tree from exact int64 counts (floor milli); a one-sided series
    (n1·n2 = 0) reads NULL via NULLIF. z ≪ 0 = too few runs (sticky
    regimes / batch artifacts), z ≫ 0 = alternation (the double-posting
    signature durbin_watson reads as DW → 4).

    Scale shape: one map-side-combined day rollup (bounded by calendar
    days), one rank window + a 1-row median broadcast cross (the
    allowlisted Q11 class), one lag window over day-grain rows, one
    1-row aggregate. No fact-sized shuffle past the rollup.
    """
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("o_day")).agg(
        F.expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))").alias("x")
    )
    w_rank = Window.orderBy("x", "o_day")
    ranked = daily.withColumn(
        "rnk", F.row_number().over(w_rank).cast("long")
    )
    med = (
        ranked.crossJoin(
            F.broadcast(daily.agg(F.count(F.lit(1)).alias("n_days")))
        )
        .filter(F.col("rnk") == F.expr("(n_days + 1) div 2"))
        .select(F.col("x").alias("med"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("med"))
        .select("o_day", (F.col("x") > F.col("med")).cast("long").alias("s"))
    )
    w_day = Window.orderBy("o_day")
    flips = signs.select(
        "s",
        F.when(
            F.lag("s", 1).over(w_day).isNull()
            | (F.lag("s", 1).over(w_day) == F.col("s")),
            0,
        )
        .otherwise(1)
        .alias("flip"),
    )
    agg = flips.agg(
        F.sum("s").alias("n1"),
        F.sum(1 - F.col("s")).alias("n2"),
        (F.sum("flip") + 1).alias("r_runs"),
    )
    mu = "(2.0 * n1 * n2 / (n1 + n2) + 1.0)"
    sig = (
        "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
        " / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1.0)))"
    )
    z = f"((CAST(r_runs AS DOUBLE) - {mu}) / NULLIF({sig}, 0.0))"
    return agg.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "r_runs",
        F.expr(
            f"CASE WHEN n1 > 0 AND n2 > 0"
            f" THEN CAST(FLOOR({z} * 1000) AS BIGINT) END"
        ).alias("z_milli"),
    )


RUNS_TEST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS o_day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, o_day) AS BIGINT) AS rnk
  FROM daily
),
med AS (
  SELECT x AS med FROM ranked CROSS JOIN (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
  ) WHERE rnk = (n_days + 1) // 2
),
signs AS (
  SELECT o_day, CAST(x > med AS BIGINT) AS s
  FROM daily CROSS JOIN med WHERE x <> med
),
flips AS (
  SELECT s,
         CASE WHEN LAG(s, 1) OVER (ORDER BY o_day) IS NULL
                OR LAG(s, 1) OVER (ORDER BY o_day) = s THEN 0
              ELSE 1 END AS flip
  FROM signs
),
agg AS (
  SELECT CAST(SUM(s) AS BIGINT) AS n1,
         CAST(SUM(1 - s) AS BIGINT) AS n2,
         CAST(SUM(flip) + 1 AS BIGINT) AS r_runs
  FROM flips
)
SELECT n1 AS n_above, n2 AS n_below, r_runs,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         CAST(FLOOR((CAST(r_runs AS DOUBLE)
              - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
              / NULLIF(sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                   / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1.0))),
                 0.0)
              * 1000) AS BIGINT) END AS z_milli
FROM agg
"""


HILL_TOPK = 200


def orders_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index — the
    heavy-tailedness rung of the stats tier (lorenz/gini read overall
    inequality, deciles the bulk shape; the Hill alpha reads the TAIL
    LAW: alpha ≤ 2 means infinite variance, where mean-based monitors
    like shewhart stop being meaningful and a pipeline must switch to
    quantile control — the single number that says WHICH regime the
    money column is in).

    alpha = k / Σ_{i=1..k} (ln x_(i) − ln x_(k+1)) over the top k+1
    order statistics (cents, orderkey tie-break — fully deterministic).
    Each ln is floor-quantized to integer MICRO (the vocab_entropy
    discipline), so the sum is an exact int64 and alpha one identical
    double tree, floor-quantized milli. A degenerate tail (all top
    values equal ⇒ zero log spread) reads NULL via NULLIF, never an
    error.

    Scale shape: one TakeOrderedAndProject(k+1) — the only corpus-size
    operator, and it's the top-k pattern that needs no global sort —
    then a (k+1)-row rank window and a 1-row aggregate. Plan constant
    past the top-k.
    """
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    top = orders.orderBy(F.desc("cents"), "o_orderkey").limit(HILL_TOPK + 1)
    w = Window.orderBy(F.desc("cents"), "o_orderkey")
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("rn"),
        F.expr(
            "CAST(FLOOR(ln(CAST(cents AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("lnc_micro"),
    )
    s = ranked.agg(
        F.sum(
            F.when(F.col("rn") <= HILL_TOPK, F.col("lnc_micro")).otherwise(0)
        ).alias("s_micro"),
        F.max(
            F.when(F.col("rn") == HILL_TOPK + 1, F.col("lnc_micro"))
        ).alias("ref_micro"),
        F.count(F.lit(1)).alias("n_top"),
    )
    alpha = (
        f"({HILL_TOPK} * 1000000.0"
        f" / NULLIF(CAST(s_micro - {HILL_TOPK} * ref_micro AS DOUBLE), 0.0))"
    )
    return s.select(
        F.col("n_top"),
        "s_micro",
        "ref_micro",
        F.expr(
            f"CASE WHEN n_top = {HILL_TOPK + 1}"
            f" THEN CAST(FLOOR({alpha} * 1000) AS BIGINT) END"
        ).alias("alpha_milli"),
    )


HILL_SQL = f"""
WITH top AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders ORDER BY cents DESC, o_orderkey LIMIT {HILL_TOPK + 1}
),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_orderkey) AS BIGINT)
           AS rn,
         CAST(FLOOR(ln(CAST(cents AS DOUBLE)) * 1000000) AS BIGINT)
           AS lnc_micro
  FROM top
),
s AS (
  SELECT CAST(SUM(CASE WHEN rn <= {HILL_TOPK} THEN lnc_micro ELSE 0 END)
              AS BIGINT) AS s_micro,
         CAST(MAX(CASE WHEN rn = {HILL_TOPK + 1} THEN lnc_micro END)
              AS BIGINT) AS ref_micro,
         CAST(COUNT(*) AS BIGINT) AS n_top
  FROM ranked
)
SELECT n_top, s_micro, ref_micro,
       CASE WHEN n_top = {HILL_TOPK + 1}
            THEN CAST(FLOOR({HILL_TOPK} * 1000000.0
                 / NULLIF(CAST(s_micro - {HILL_TOPK} * ref_micro AS DOUBLE),
                          0.0) * 1000) AS BIGINT) END AS alpha_milli
FROM s
"""


BACKLOG_BUCKET_DAYS = 30
BACKLOG_MAX_BUCKET = 12


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the fulfillment-ops dashboard table.

    Orders not yet finished (status <> 'F') bucketed by age in 30-day
    bands relative to the dataset's own as-of anchor (max order date —
    a warehouse never ages against wall-clock, or every backfill
    re-ages the world). Per band: order count, value in cents, and the
    band's share of total open value in ppm (integer division). The
    anchor is a 1-row max-date broadcast (the Q11/RFM allowlisted
    shape); the aging itself is one scan + one band-sized aggregate.
    """
    orders = read_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("as_of"))
    aged = orders.filter(F.col("o_orderstatus") != "F").crossJoin(
        F.broadcast(anchor)
    )
    bucket = F.least(
        F.floor(
            F.datediff(F.col("as_of"), F.col("o_orderdate"))
            / BACKLOG_BUCKET_DAYS
        ).cast("long"),
        F.lit(BACKLOG_MAX_BUCKET).cast("long"),
    )
    per_bucket = (
        aged.select(
            bucket.alias("age_bucket"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("value_cents"),
        )
    )
    total = per_bucket.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_bucket.crossJoin(F.broadcast(total))
        .select(
            "age_bucket",
            "n_orders",
            "value_cents",
            # denominator-quantized ppm (the lorenz pattern):
            # value_cents*1e6 overflows int64 at the 10x harness SF
            F.expr(
                "value_cents div NULLIF(total_cents div 1000000, 0)"
            ).alias("value_share_ppm"),
        )
        .orderBy("age_bucket")
    )


BACKLOG_AGING_SQL = f"""
WITH anchor AS (SELECT MAX(o_orderdate) AS as_of FROM orders),
aged AS (
  SELECT LEAST(CAST(FLOOR(date_diff('day', o_orderdate, as_of)
                    / {BACKLOG_BUCKET_DAYS}) AS BIGINT),
               {BACKLOG_MAX_BUCKET}) AS age_bucket,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN anchor
  WHERE o_orderstatus <> 'F'
),
per_bucket AS (
  SELECT age_bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS value_cents
  FROM aged GROUP BY 1
),
total AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM per_bucket)
SELECT age_bucket, n_orders, value_cents,
       value_cents // NULLIF(total_cents // 1000000, 0) AS value_share_ppm
FROM per_bucket CROSS JOIN total
ORDER BY age_bucket
"""


WESK_K = 100
_WESK_U = 1_000_000


def doc_weighted_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k length-weighted sample: A-ES priority sampling, no RNG.

    The exact-size companion to :func:`doc_weighted_sample` (Bernoulli,
    variable size): Efraimidis-Spirakis assigns each doc the priority
    ln(u)/w (u uniform from the doc_id hash, w = n_chars) and keeps the
    top k — a one-pass, mergeable, reshard-stable weighted sample whose
    inclusion probabilities match sequential weighted draws. u comes
    from the same md5 gate as every other sampler (reproducible under
    retries/backfills); ln is the one transcendental, computed once and
    rounded (the doc_perplexity float discipline) with doc_id breaking
    ties. Top-k is orderBy+limit — TakeOrderedAndProject, the
    distributed partial top-k, never a global sort.
    """
    docs = read_table(spark, sf_dir, "documents")
    u = md5_long(F.concat(F.lit("wesk:"), F.col("doc_id").cast("string"))) % _WESK_U + 1
    pri = F.round(
        (F.log(u.cast("double")) - F.log(F.lit(float(_WESK_U)))) / F.col("n_chars"),
        9,
    )
    return (
        docs.select(
            "doc_id", "source", "n_chars",
            u.alias("u_micro"), pri.alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(WESK_K)
    )


WEIGHTED_SAMPLE_EXACT_K_SQL = f"""
SELECT doc_id, source, n_chars,
       ({md5_long_sql("'wesk:' || CAST(doc_id AS VARCHAR)")} % {_WESK_U} + 1) AS u_micro,
       ROUND((LN(CAST(({md5_long_sql("'wesk:' || CAST(doc_id AS VARCHAR)")} % {_WESK_U} + 1) AS DOUBLE))
              - LN({_WESK_U}.0)) / n_chars, 9) AS priority
FROM documents
ORDER BY priority DESC, doc_id
LIMIT {WESK_K}
"""


SKYLINE_BUCKET_CENTS = 100_000_00  # 100k-dollar value-range buckets


def customer_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of customers on (total spend, order count).

    The multi-objective shortlist query: a customer is ON the frontier
    iff nobody both spends at least as much AND orders at least as often
    with one strict — the classic SKYLINE operator relational engines
    lack. The naive form is a quadratic dominance self-join; the 2-D
    scale shape is a SORTED PREFIX MAX, and the global sort it implies
    is avoided with the doc_surrogate_keys value-range-bucket pattern:

      1. per-customer exact aggregates (one map-side-combined groupBy);
      2. per-(bucket, total) max order count — bucket = total div 100k$,
         so the cross-bucket cumulative max is a window over BUCKET rows
         only, and the within-bucket prefix max partitions by bucket
         (frame bounded by distinct totals per bucket, never by
         customer count);
      3. dominated iff a strictly-richer total's max count >= mine, or
         my own total group's max count > mine.

    Every comparison is exact int64 (cents), so the frontier is
    reshard-stable; the oracle is the brute NOT EXISTS dominance join —
    parity re-proves the bucketed prefix-max decomposition.
    """
    orders = read_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    per_total = per_cust.groupBy("total_cents").agg(
        F.max("n_orders").alias("total_max_n")
    ).withColumn("bucket", F.expr(f"total_cents div {SKYLINE_BUCKET_CENTS}"))
    # cross-bucket: max count per bucket -> cumulative max over STRICTLY
    # richer buckets (window over bucket rows only)
    per_bucket = per_total.groupBy("bucket").agg(
        F.max("total_max_n").alias("bucket_max_n")
    )
    wb = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    higher_bucket = per_bucket.withColumn(
        "higher_bucket_max_n", F.max("bucket_max_n").over(wb)
    ).select("bucket", "higher_bucket_max_n")
    # within-bucket: prefix max over strictly greater totals
    ww = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("total_cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    strict = (
        per_total.withColumn("within_strict_max_n", F.max("total_max_n").over(ww))
        .join(higher_bucket, "bucket", "left")
        .select(
            "total_cents",
            "total_max_n",
            F.greatest(
                F.coalesce("within_strict_max_n", F.lit(-1).cast("long")),
                F.coalesce("higher_bucket_max_n", F.lit(-1).cast("long")),
            ).alias("strict_max_n"),
        )
    )
    return (
        per_cust.join(strict, "total_cents")
        .filter(
            ~(
                (F.col("strict_max_n") >= F.col("n_orders"))
                | (F.col("total_max_n") > F.col("n_orders"))
            )
        )
        .select("c_custkey", "total_cents", "n_orders")
    )


PARETO_FRONTIER_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS c_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT a.c_custkey, a.total_cents, a.n_orders
FROM per_cust a
WHERE NOT EXISTS (
  SELECT 1 FROM per_cust b
  WHERE b.total_cents >= a.total_cents AND b.n_orders >= a.n_orders
    AND (b.total_cents > a.total_cents OR b.n_orders > a.n_orders)
)
"""


_RI_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def referential_integrity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan census over EVERY foreign-key edge of the star schema.

    The whole-warehouse generalization of orders_dq_expectations' single
    RI check: one row per FK edge with child row count, distinct child
    keys, orphan rows (no matching parent) and orphan share in integer
    micro-units. Each edge costs one distinct-key anti-join against the
    parent's key column (never a row-level join — the child side
    aggregates to its key set first, so the join input is key-distinct),
    then orphan ROWS are recovered by joining counts back. The union of
    five 1-row frames is the census a nightly DQ gate asserts against.
    """
    out = None
    for child, ck, parent, pk in _RI_EDGES:
        c = read_table(spark, sf_dir, child)
        p = read_table(spark, sf_dir, parent)
        keys = c.groupBy(F.col(ck).alias("k")).agg(F.count(F.lit(1)).alias("n"))
        orphans = keys.join(
            p.select(F.col(pk).alias("k")).distinct(), "k", "left_anti"
        )
        row = keys.agg(
            F.lit(f"{child}.{ck}->{parent}.{pk}").alias("fk_edge"),
            F.sum("n").alias("n_child_rows"),
            F.count(F.lit(1)).alias("n_child_keys"),
        ).crossJoin(
            F.broadcast(
                orphans.agg(
                    F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n_orphan_rows"),
                    F.count(F.lit(1)).alias("n_orphan_keys"),
                )
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.withColumn(
        "orphan_share_micro",
        F.expr("(n_orphan_rows * 1000000) div n_child_rows"),
    )


def _ri_census_sql() -> str:
    parts = []
    for child, ck, parent, pk in _RI_EDGES:
        parts.append(f"""
SELECT '{child}.{ck}->{parent}.{pk}' AS fk_edge,
       CAST(SUM(n) AS BIGINT) AS n_child_rows,
       CAST(COUNT(*) AS BIGINT) AS n_child_keys,
       CAST(COALESCE(SUM(CASE WHEN orphan THEN n END), 0) AS BIGINT) AS n_orphan_rows,
       CAST(SUM(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
       CAST((COALESCE(SUM(CASE WHEN orphan THEN n END), 0) * 1000000)
            // SUM(n) AS BIGINT) AS orphan_share_micro
FROM (
  SELECT c.{ck} AS k, COUNT(*) AS n,
         MAX(p.{pk}) IS NULL AS orphan
  FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
    ON p.{pk} = c.{ck}
  GROUP BY c.{ck}
)""")
    return "\nUNION ALL\n".join(parts)


RI_CENSUS_SQL = _ri_census_sql()


def supplier_return_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier return rate with a Wilson 95% interval — SLA with
    UNCERTAINTY, not just a point rate.

    Ranking suppliers by raw return rate punishes small samples (one
    return in three lines reads 33%); the Wilson score interval keeps
    the comparison honest — the LOWER bound is the defensible "at least
    this bad" number an SLA review sorts by. z = 2 kept rational, the
    whole interval rationalized over n: (k + 2 +- 2*sqrt(k(n-k)/n + 1))
    / (n + 4) — exact integer counts into one division chain + one sqrt
    + ROUND 6 per bound (IEEE ops both engines compute bit-identically;
    the z-score-anomaly float discipline). One scan, supplier-sized
    output.
    """
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("n_returned"),
    )
    root = F.sqrt(
        F.col("n_returned") * (F.col("n_lines") - F.col("n_returned"))
        / F.col("n_lines")
        + F.lit(1.0)
    )
    return agg.select(
        "suppkey",
        "n_lines",
        "n_returned",
        F.round(F.col("n_returned") / F.col("n_lines"), 6).alias("return_rate"),
        F.round((F.col("n_returned") + 2 - 2 * root) / (F.col("n_lines") + 4), 6).alias(
            "wilson_low"
        ),
        F.round((F.col("n_returned") + 2 + 2 * root) / (F.col("n_lines") + 4), 6).alias(
            "wilson_high"
        ),
    )


SUPPLIER_RETURN_SLA_SQL = """
WITH agg AS (
  SELECT l_suppkey AS suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
  FROM lineitem GROUP BY 1
)
SELECT suppkey, n_lines, n_returned,
       ROUND(n_returned / n_lines, 6) AS return_rate,
       ROUND((n_returned + 2 - 2 * sqrt(n_returned * (n_lines - n_returned) / n_lines + 1.0))
             / (n_lines + 4), 6) AS wilson_low,
       ROUND((n_returned + 2 + 2 * sqrt(n_returned * (n_lines - n_returned) / n_lines + 1.0))
             / (n_lines + 4), 6) AS wilson_high
FROM agg
"""


def orders_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap histogram: how long until a customer reorders.

    The recency/churn read behind every retention model: consecutive
    order gaps per customer (lag over the customer's own timeline —
    one shuffle on the natural key), bucketed into power-of-two day
    bands via bit length (no float log2, the doc_length_histogram
    trick), with exact counts and integer-micro shares. Same-day repeat
    orders land in bucket 0. Output bounded by ~11 bands at any scale.
    """
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).cast("long").alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    bucketed = gaps.select(
        F.when(F.col("gap_days") <= 0, F.lit(0).cast("long"))
        .otherwise(F.length(F.conv(F.col("gap_days").cast("string"), 10, 2)).cast("long"))
        .alias("gap_bucket")
    )
    hist = bucketed.groupBy("gap_bucket").agg(F.count(F.lit(1)).alias("n_gaps"))
    tot = hist.agg(F.sum("n_gaps").alias("t"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "gap_bucket",
            "n_gaps",
            F.expr("(n_gaps * 1000000) div t").alias("share_micro"),
        )
    )


ORDERS_GAP_SQL = """
WITH gaps AS (
  SELECT datediff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders
),
b AS (
  SELECT CASE WHEN gap_days <= 0 THEN 0
              ELSE CAST(length(bin(gap_days)) AS BIGINT) END AS gap_bucket
  FROM gaps WHERE gap_days IS NOT NULL
),
hist AS (SELECT gap_bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps FROM b GROUP BY 1),
tot AS (SELECT CAST(SUM(n_gaps) AS BIGINT) AS t FROM hist)
SELECT gap_bucket, n_gaps,
       CAST((n_gaps * 1000000) // t AS BIGINT) AS share_micro
FROM hist CROSS JOIN tot
"""


LORENZ_BUCKET_CENTS = 50_000_00  # 50k-dollar value bands


def customer_revenue_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue: the inequality read behind
    "top X% of customers drive Y% of revenue".

    revenue_concentration reports the top-K share; the Lorenz curve is
    the FULL inequality profile (its integral is the Gini). The global
    sort a textbook Lorenz implies is avoided by value-banding customer
    totals (the skyline/doc_surrogate_keys pattern): per 50k$-band
    customer counts and revenue, then cumulative sums over BAND rows
    only (window frame bounded by band count, never customer count).
    Output per band: exact counts/cents plus cumulative population and
    revenue shares in integer micro-units — the curve points a
    dashboard plots and a trapezoid-Gini integrates, reshard-stable.

    Overflow discipline: the population share multiplies a COUNT by 1e6
    (safe to ~9e12 customers), but the revenue share must NOT multiply
    the cents sum (cum_revenue·1e6 overflows int64 at ~$375B total —
    caught by the 10× harness). Instead the DENOMINATOR is quantized:
    share = cum div (tr div 1e6), exact integer ops at ANY scale, off
    by at most one micro-unit from the textbook floor(cum·1e6/tr)
    (LEAST-capped at 1e6 for the closing band; GREATEST guards the
    degenerate sub-$10k corpus).
    """
    orders = read_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    bands = per_cust.groupBy(
        F.expr(f"cents div {LORENZ_BUCKET_CENTS}").alias("band")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    tot = bands.agg(
        F.sum("n_customers").alias("tc"), F.sum("revenue_cents").alias("tr")
    )
    return (
        bands.withColumn("cum_customers", F.sum("n_customers").over(w))
        .withColumn("cum_revenue", F.sum("revenue_cents").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_customers",
            "revenue_cents",
            F.expr("(cum_customers * 1000000) div tc").alias("cum_pop_micro"),
            F.expr(
                "LEAST(cum_revenue div GREATEST(tr div 1000000, 1), 1000000)"
            ).alias("cum_rev_micro"),
        )
    )


CUSTOMER_LORENZ_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
bands AS (
  SELECT cents // {LORENZ_BUCKET_CENTS} AS band,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS revenue_cents
  FROM per_cust GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_customers) AS BIGINT) AS tc,
         CAST(SUM(revenue_cents) AS BIGINT) AS tr
  FROM bands
)
SELECT band, n_customers, revenue_cents,
       CAST((SUM(n_customers) OVER (ORDER BY band) * 1000000) // tc AS BIGINT) AS cum_pop_micro,
       CAST(LEAST(SUM(revenue_cents) OVER (ORDER BY band)
                  // GREATEST(tr // 1000000, 1), 1000000) AS BIGINT) AS cum_rev_micro
FROM bands CROSS JOIN tot
"""


# log10(1 + 1/d) in integer micro-units; the nine entries sum to exactly
# 1_000_000, so shares and expectations live on the same scale.
BENFORD_MICRO = [
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
]
BENFORD_TOL_MICRO = 10_000  # flag digits off by >1 percentage point


def lineitem_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over line-item amounts.

    The forensic-accounting screen: fabricated or re-keyed monetary
    columns drift from the log-uniform leading-digit distribution real
    multiplicative data follows. One hash-agg to 9 digit rows (leading
    digit read off the integer-cents string — no float log10), then the
    observed integer-micro share vs the literal Benford expectation and
    a tolerance flag. Synthetic TPC-H prices are near-uniform, so the
    flags FIRE here — the report is the capability, not a clean bill.
    Output is 9 rows at any scale; the 1-row total cross is broadcast.
    """
    li = read_table(spark, sf_dir, "lineitem")
    obs = (
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
        )
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("t"))
    exp = spark.createDataFrame(BENFORD_MICRO, "digit long, expected_micro long")
    return (
        obs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(exp), "digit")
        .withColumn("share_micro", F.expr("(n * 1000000) div t"))
        .select(
            "digit",
            "n",
            "share_micro",
            "expected_micro",
            (F.col("share_micro") - F.col("expected_micro")).alias("dev_micro"),
            (
                F.abs(F.col("share_micro") - F.col("expected_micro"))
                > F.lit(BENFORD_TOL_MICRO)
            ).alias("suspect"),
        )
    )


BENFORD_SQL = f"""
WITH obs AS (
  SELECT CAST(SUBSTR(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs),
exp(digit, expected_micro) AS (
  VALUES {', '.join(f'({d}, {m})' for d, m in BENFORD_MICRO)}
)
SELECT obs.digit, n,
       (n * 1000000) // t AS share_micro,
       CAST(expected_micro AS BIGINT) AS expected_micro,
       (n * 1000000) // t - expected_micro AS dev_micro,
       ABS((n * 1000000) // t - expected_micro) > {BENFORD_TOL_MICRO} AS suspect
FROM obs JOIN exp USING (digit) CROSS JOIN tot
"""


DUP_PAYMENT_WINDOW_DAYS = 30
DUP_PAYMENT_TWIN_MOD = 41
DUP_PAYMENT_TWIN_OFFSET = 1_000_000_000


def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment candidates: same customer, same amount, close
    in time.

    The accounts-payable audit classic. Candidate pairs come from the
    (customer, exact cents) natural key — a hash-agg grain whose group
    sizes are bounded by orders-per-customer-per-amount, never by SF —
    then CONSECUTIVE orders inside each group are paired via lag and
    kept when ≤30 days apart. No self-join, no quadratic blowup: chains
    of k same-amount orders emit k-1 pair rows. Ties on date are broken
    by orderkey so replays are deterministic.

    TPC-H totalprice is near-unique per customer, so on pristine
    synthetic data the detector correctly finds nothing; to make the
    failure mode demonstrable a deterministic re-keyed twin (orderkey +
    10⁹, posted 7 days later) is unioned in for every 41st order — the
    dedup_containment excerpt-twin pattern. Every surfaced pair is one
    of those injected double-posts.
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderdate",
        "o_orderkey",
    )
    twins = base.filter(
        F.col("o_orderkey") % DUP_PAYMENT_TWIN_MOD == 0
    ).select(
        "o_custkey",
        "cents",
        F.date_add(F.col("o_orderdate"), 7).alias("o_orderdate"),
        (F.col("o_orderkey") + DUP_PAYMENT_TWIN_OFFSET).alias("o_orderkey"),
    )
    keyed = base.unionAll(twins)
    w = Window.partitionBy("o_custkey", "cents").orderBy("o_orderdate", "o_orderkey")
    pairs = keyed.select(
        "o_custkey",
        "cents",
        F.lag("o_orderkey").over(w).alias("first_orderkey"),
        F.col("o_orderkey").alias("second_orderkey"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("days_apart"),
    )
    return pairs.filter(
        F.col("days_apart").isNotNull()
        & (F.col("days_apart") <= DUP_PAYMENT_WINDOW_DAYS)
    )


DUP_PAYMENTS_SQL = f"""
WITH base AS (
  SELECT o_custkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate, o_orderkey
  FROM orders
),
keyed AS (
  SELECT * FROM base
  UNION ALL
  SELECT o_custkey, cents,
         o_orderdate + INTERVAL 7 DAY AS o_orderdate,
         o_orderkey + {DUP_PAYMENT_TWIN_OFFSET} AS o_orderkey
  FROM base WHERE o_orderkey % {DUP_PAYMENT_TWIN_MOD} = 0
),
pairs AS (
  SELECT o_custkey, cents,
         lag(o_orderkey) OVER (PARTITION BY o_custkey, cents ORDER BY o_orderdate, o_orderkey) AS first_orderkey,
         o_orderkey AS second_orderkey,
         datediff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey, cents ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS days_apart
  FROM keyed
)
SELECT o_custkey, cents, first_orderkey, second_orderkey, days_apart
FROM pairs
WHERE days_apart IS NOT NULL AND days_apart <= {DUP_PAYMENT_WINDOW_DAYS}
"""


def customer_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier at-risk table over customer reorder gaps.

    Survival analysis with right-censoring — the statistically honest
    churn read (a naive "average gap" ignores customers who simply
    haven't reordered YET). Subjects are reorder spells: every
    consecutive order pair is an observed event at its gap, and each
    customer's last order is a censored spell ending at the dataset
    horizon (max order date). Weekly bands bound the output (~400 rows
    at any scale): per band the classic KM columns — n_risk via a
    REVERSE cumulative sum over band rows (no separate total needed),
    integer-micro hazard d/n, and the log-survival curve as a
    cumulative sum of per-band micro ln(1 - d/n) terms (integer sums,
    no float association order; the intrinsic_dim ln idiom). A band
    where everyone at risk exits (only ever the last) has no finite
    log-survival — its term is NULL and both engines' SUM skips it.
    All windows run over BAND rows only; the horizon is a 1-row
    broadcast cross (Q11 shape).
    """
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("nxt"),
    )
    horizon = orders.agg(F.max("o_orderdate").alias("md"))
    spells = seq.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("nxt").isNull(), F.datediff(F.col("md"), F.col("o_orderdate"))
        )
        .otherwise(F.datediff(F.col("nxt"), F.col("o_orderdate")))
        .cast("long")
        .alias("days"),
        F.when(F.col("nxt").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("ev"),
    )
    bands = spells.groupBy(F.expr("days div 7").alias("t_week")).agg(
        F.sum("ev").alias("n_event"),
        F.sum(F.lit(1) - F.col("ev")).alias("n_censored"),
    )
    w_desc = Window.orderBy(F.col("t_week").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_asc = Window.orderBy("t_week").rowsBetween(Window.unboundedPreceding, 0)
    risk = bands.withColumn(
        "n_risk", F.sum(F.col("n_event") + F.col("n_censored")).over(w_desc)
    )
    term = (
        F.when(F.col("n_event") == 0, F.lit(0).cast("long"))
        .when(
            F.col("n_event") < F.col("n_risk"),
            F.round(
                F.log(F.expr("(n_risk - n_event) / n_risk")) * 1_000_000
            ).cast("long"),
        )
        .otherwise(F.lit(None).cast("long"))
    )
    return risk.select(
        "t_week",
        "n_risk",
        "n_event",
        "n_censored",
        F.expr("(n_event * 1000000) div n_risk").alias("hazard_micro"),
        F.sum(term).over(w_asc).alias("km_log_micro"),
    )


CUSTOMER_SURVIVAL_SQL = """
WITH horizon AS (SELECT MAX(o_orderdate) AS md FROM orders),
seq AS (
  SELECT o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
),
spells AS (
  SELECT CASE WHEN nxt IS NULL THEN datediff('day', o_orderdate, md)
              ELSE datediff('day', o_orderdate, nxt) END AS days,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
  FROM seq CROSS JOIN horizon
),
bands AS (
  SELECT days // 7 AS t_week,
         CAST(SUM(ev) AS BIGINT) AS n_event,
         CAST(SUM(1 - ev) AS BIGINT) AS n_censored
  FROM spells GROUP BY 1
),
risk AS (
  SELECT t_week, n_event, n_censored,
         CAST(SUM(n_event + n_censored) OVER (ORDER BY t_week DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM bands
)
SELECT t_week, n_risk, n_event, n_censored,
       (n_event * 1000000) // n_risk AS hazard_micro,
       CAST(SUM(CASE WHEN n_event = 0 THEN 0
                     WHEN n_event < n_risk THEN CAST(ROUND(LN((n_risk - n_event) / n_risk) * 1000000) AS BIGINT)
                     ELSE NULL END)
            OVER (ORDER BY t_week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS km_log_micro
FROM risk
"""


def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year Laspeyres / Paasche / Fisher price indices.

    The econometric read on the fact table: did revenue move because
    PRICES moved or because the BASKET moved? Per part-year the unit
    price is quantized once to integer milli-cents (floor(cents*1000 /
    qty) — exact int64); consecutive years join on the common part
    basket and the four index sums (Σu₁q₀, Σu₀q₀, Σu₁q₁, Σu₀q₁) are
    exact integer aggregates. Each index is ONE floor(double/) ratio in
    micro-units and Fisher is the geometric mean — one sqrt + round of
    a product that stays under 2^53. Two hash-aggs + one self-join on
    (partkey): the shuffle grain is part-years, never line items. The
    milli-unit sums are int64-exact to ~sf1000; beyond that shard the
    basket (e.g. by brand) and Fisher-average the shards.
    """
    li = read_table(spark, sf_dir, "lineitem")
    py = (
        li.groupBy(
            F.year("l_shipdate").cast("long").alias("yr"), "l_partkey"
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
        )
        .withColumn("u_milli", F.expr("(cents * 1000) div qty"))
    )
    prev = py.select(
        (F.col("yr") + 1).alias("yr"),
        "l_partkey",
        F.col("u_milli").alias("u0"),
        F.col("qty").alias("q0"),
    )
    cur = py.select(
        "yr", "l_partkey", F.col("u_milli").alias("u1"), F.col("qty").alias("q1")
    )
    sums = (
        cur.join(prev, ["yr", "l_partkey"])
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("u1") * F.col("q0")).alias("l_num"),
            F.sum(F.col("u0") * F.col("q0")).alias("l_den"),
            F.sum(F.col("u1") * F.col("q1")).alias("p_num"),
            F.sum(F.col("u0") * F.col("q1")).alias("p_den"),
        )
    )
    return sums.select(
        "yr",
        "n_parts",
        F.expr(
            "CAST(FLOOR(CAST(l_num AS DOUBLE) * 1000000 / l_den) AS BIGINT)"
        ).alias("laspeyres_micro"),
        F.expr(
            "CAST(FLOOR(CAST(p_num AS DOUBLE) * 1000000 / p_den) AS BIGINT)"
        ).alias("paasche_micro"),
        F.expr(
            "CAST(ROUND(SQRT(CAST(FLOOR(CAST(l_num AS DOUBLE) * 1000000 / l_den) AS DOUBLE)"
            " * CAST(FLOOR(CAST(p_num AS DOUBLE) * 1000000 / p_den) AS DOUBLE))) AS BIGINT)"
        ).alias("fisher_micro"),
    )


PRICE_INDEX_SQL = """
WITH py AS (
  SELECT year(l_shipdate) AS yr, l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
u AS (SELECT yr, l_partkey, (cents * 1000) // qty AS u_milli, qty FROM py),
sums AS (
  SELECT c.yr,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(c.u_milli * p.qty) AS BIGINT) AS l_num,
         CAST(SUM(p.u_milli * p.qty) AS BIGINT) AS l_den,
         CAST(SUM(c.u_milli * c.qty) AS BIGINT) AS p_num,
         CAST(SUM(p.u_milli * c.qty) AS BIGINT) AS p_den
  FROM u c JOIN u p ON p.l_partkey = c.l_partkey AND p.yr = c.yr - 1
  GROUP BY 1
)
SELECT CAST(yr AS BIGINT) AS yr, n_parts,
       CAST(FLOOR(l_num::DOUBLE * 1000000 / l_den) AS BIGINT) AS laspeyres_micro,
       CAST(FLOOR(p_num::DOUBLE * 1000000 / p_den) AS BIGINT) AS paasche_micro,
       CAST(ROUND(SQRT(CAST(FLOOR(l_num::DOUBLE * 1000000 / l_den) AS DOUBLE)
                       * CAST(FLOOR(p_num::DOUBLE * 1000000 / p_den) AS DOUBLE))) AS BIGINT) AS fisher_micro
FROM sums
"""


# --- gdpr_erasure_plan: right-to-be-forgotten cascade audit ----------------

ERASE_MOD = 97  # demonstration cohort: every 97th customer key


def gdpr_erasure_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-cascade PLAN for a deletion cohort — the dry-run every
    right-to-be-forgotten pipeline needs before it mutates anything.

    Given a cohort of customers to erase (here the deterministic
    demonstration predicate ``c_custkey % ERASE_MOD == 0``; in production
    an uploaded key list), compute what the cascade touches across the
    whole star: the customer rows themselves, their orders, and those
    orders' lineitems — per table the delete count, the survivor count
    and the deletion share in ppm. Deleting the customer WITHOUT the
    cascade would orphan every such order, so this table IS the
    referential-integrity contract of the erasure (the census operator's
    counterpart for deletes).

    Scale shape: the cohort membership tests are conditional aggregates
    on single table scans — customer needs no join at all; orders flags
    membership with one broadcast-able dim join (cohort keys only);
    lineitem joins the flagged order KEYS (two-column frame), keeping
    the fact-to-fact shuffle to the join keys. No row leaves the
    executors; the output is 3 rows.
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    in_cohort = (F.col("c_custkey") % ERASE_MOD) == 0
    cust_row = customer.agg(
        F.lit("customer").alias("table_name"),
        F.sum(F.when(in_cohort, 1).otherwise(0)).alias("n_delete"),
        F.count(F.lit(1)).alias("n_total"),
    )
    cohort = customer.filter(in_cohort).select("c_custkey")
    omark = orders.join(
        F.broadcast(cohort), orders.o_custkey == cohort.c_custkey, "left"
    ).select("o_orderkey", F.col("c_custkey").isNotNull().alias("hit"))
    ord_row = omark.agg(
        F.lit("orders").alias("table_name"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_delete"),
        F.count(F.lit(1)).alias("n_total"),
    )
    okeys = omark.filter(F.col("hit")).select("o_orderkey")
    lmark = lineitem.join(
        F.broadcast(okeys), lineitem.l_orderkey == okeys.o_orderkey, "left"
    ).select(F.col("o_orderkey").isNotNull().alias("hit"))
    li_row = lmark.agg(
        F.lit("lineitem").alias("table_name"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_delete"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        cust_row.union(ord_row)
        .union(li_row)
        .select(
            "table_name",
            "n_delete",
            (F.col("n_total") - F.col("n_delete")).alias("n_keep"),
            F.expr("n_delete * 1000000 div n_total").alias("delete_ppm"),
        )
    )


GDPR_ERASURE_SQL = f"""
WITH cust AS (
  SELECT 'customer' AS table_name,
         SUM(CASE WHEN c_custkey % {ERASE_MOD} = 0 THEN 1 ELSE 0 END) AS n_delete,
         COUNT(*) AS n_total
  FROM customer
),
ords AS (
  SELECT 'orders' AS table_name,
         SUM(CASE WHEN o_custkey % {ERASE_MOD} = 0 THEN 1 ELSE 0 END) AS n_delete,
         COUNT(*) AS n_total
  FROM orders
),
li AS (
  SELECT 'lineitem' AS table_name,
         SUM(CASE WHEN o.o_custkey % {ERASE_MOD} = 0 THEN 1 ELSE 0 END) AS n_delete,
         COUNT(*) AS n_total
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
u AS (SELECT * FROM cust UNION ALL SELECT * FROM ords UNION ALL SELECT * FROM li)
SELECT table_name,
       CAST(n_delete AS BIGINT) AS n_delete,
       CAST(n_total - n_delete AS BIGINT) AS n_keep,
       CAST(n_delete * 1000000 // n_total AS BIGINT) AS delete_ppm
FROM u
"""


# --- customer_rfm_segments: k-means customer segmentation on RFM ----------

RFM_K = 4
RFM_ITERS = 3
RFM_SCALE = 1000  # per-axis milli of the axis max: comparable distances


def _rfm_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (recency, frequency, monetary) scaled to axis-milli."""
    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    tot = per.agg(
        F.max("last_dt").alias("horizon"),
        F.max("freq").alias("max_f"),
        F.max("cents").alias("max_m"),
    )
    # recency needs the horizon BEFORE its own max can be taken, so the
    # axis maxes ride two 1-row broadcasts — never a corpus-wide window
    # (a single-partition global window is the scale flaw this avoids)
    per2 = per.crossJoin(F.broadcast(tot)).withColumn(
        "r_days", F.datediff(F.col("horizon"), F.col("last_dt")).cast("long")
    )
    tot2 = per2.agg(F.max("r_days").alias("max_r"))
    return (
        per2.crossJoin(F.broadcast(tot2))
        .select(
            "custkey",
            F.expr(f"(r_days * {RFM_SCALE}) div greatest(1, max_r)").alias(
                "r_milli"
            ),
            F.expr(f"(freq * {RFM_SCALE}) div max_f").alias("f_milli"),
            F.expr(f"(cents * {RFM_SCALE}) div max_m").alias("m_milli"),
        )
    )


RFM_TRANSITION_SPLIT = "1995-06-30"


def customer_rfm_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM-segment migration matrix between the dataset's two halves —
    the temporal-drift read the static segmentations can't give
    (orders_rfm scores customers once, customer_rfm_segments clusters
    them once; a CRM acts on MOVEMENT: which champions are decaying,
    which dormants reactivated). Customers are labeled per half by
    frequency tercile x monetary tercile (NTILE(3) with the fully
    deterministic (value, other-value, custkey) tie-break — ANSI NTILE
    semantics are identical in Spark and DuckDB), and the output is the
    (seg_h1, seg_h2) contingency matrix with per-origin row shares in
    exact ppm; customers active in only one half land in the 'NONE'
    margin (full outer join), so churn and acquisition are rows of the
    same matrix, never silently dropped.

    Scale shape: one map-side-combined (customer, half) rollup, two
    NTILE windows per half over customer-grain rows (the accepted
    segment-partitioned sort class at 1/|orders-per-customer| of fact
    grain), one customer-grain full outer self-join, then a ≤16×16
    matrix aggregate + a matrix-grain share window. No fact-sized
    shuffle past the rollup.
    """
    from pyspark.sql.window import Window as W

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            f"CASE WHEN to_date(o_orderdate) <= DATE'{RFM_TRANSITION_SPLIT}'"
            " THEN 1 ELSE 2 END"
        ).alias("half"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    per = orders.groupBy("o_custkey", "half").agg(
        F.count(F.lit(1)).alias("f"), F.sum("cents").alias("m")
    )
    w_f = W.partitionBy("half").orderBy("f", "m", "o_custkey")
    w_m = W.partitionBy("half").orderBy("m", "f", "o_custkey")
    scored = per.select(
        "o_custkey",
        "half",
        F.concat(
            F.lit("F"),
            F.ntile(3).over(w_f).cast("string"),
            F.lit("M"),
            F.ntile(3).over(w_m).cast("string"),
        ).alias("seg"),
    )
    h1 = scored.filter(F.col("half") == 1).select(
        "o_custkey", F.col("seg").alias("seg_h1")
    )
    h2 = scored.filter(F.col("half") == 2).select(
        "o_custkey", F.col("seg").alias("seg_h2")
    )
    matrix = (
        h1.join(h2, "o_custkey", "full_outer")
        .select(
            F.coalesce("seg_h1", F.lit("NONE")).alias("seg_h1"),
            F.coalesce("seg_h2", F.lit("NONE")).alias("seg_h2"),
        )
        .groupBy("seg_h1", "seg_h2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    w_row = W.partitionBy("seg_h1")
    return matrix.select(
        "seg_h1",
        "seg_h2",
        "n_customers",
        F.expr("n_customers * 1000000")
        .cast("long")
        .alias("_num"),
        F.sum("n_customers").over(w_row).alias("_den"),
    ).select(
        "seg_h1",
        "seg_h2",
        "n_customers",
        F.expr("_num div _den").alias("row_share_ppm"),
    )


RFM_TRANSITION_SQL = f"""
WITH per AS (
  SELECT o_custkey,
         CASE WHEN CAST(o_orderdate AS DATE) <= DATE '{RFM_TRANSITION_SPLIT}'
              THEN 1 ELSE 2 END AS half,
         CAST(COUNT(*) AS BIGINT) AS f,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
  FROM orders GROUP BY 1, 2
),
scored AS (
  SELECT o_custkey, half,
         'F' || CAST(NTILE(3) OVER (PARTITION BY half ORDER BY f, m, o_custkey)
                     AS VARCHAR)
         || 'M' || CAST(NTILE(3) OVER (PARTITION BY half ORDER BY m, f, o_custkey)
                        AS VARCHAR) AS seg
  FROM per
),
matrix AS (
  SELECT COALESCE(h1.seg, 'NONE') AS seg_h1, COALESCE(h2.seg, 'NONE') AS seg_h2,
         CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM (SELECT o_custkey, seg FROM scored WHERE half = 1) h1
  FULL OUTER JOIN (SELECT o_custkey, seg FROM scored WHERE half = 2) h2
    USING (o_custkey)
  GROUP BY 1, 2
)
SELECT seg_h1, seg_h2, n_customers,
       CAST((n_customers * 1000000)
            // SUM(n_customers) OVER (PARTITION BY seg_h1) AS BIGINT)
         AS row_share_ppm
FROM matrix
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segmentation: integer k-means over scaled RFM triples.

    The embedding k-means machinery generalized to WAREHOUSE features —
    proof the clustering tier is not embedding-specific. Recency (days
    to the corpus horizon), frequency (order count) and monetary (cents)
    are each scaled to milli-units of their corpus max so axes are
    commensurable; Lloyd runs RFM_ITERS synchronous rounds ENTIRELY
    IN-PLAN: assignment is a broadcast cross with the K-row centroid
    frame + a per-customer argmin window (the allow-listed ivf_assign
    shape — K bounded, never customer x customer), the update a K-row
    hash-agg with exact floor(sum/count) means. Seeds = the K lowest
    custkeys' vectors; ties break (dist, cid) — every step is an exact
    function of the input, so the DuckDB oracle unrolls the identical
    rounds CTE-for-CTE.

    Output per segment: size and mean RFM in milli — the table a CRM
    reads as "champions / at-risk / dormant / new".
    """
    rfm = _rfm_frame(spark, sf_dir).localCheckpoint()
    cents = (
        rfm.orderBy("custkey")
        .limit(RFM_K)
        .select(
            F.row_number()
            .over(Window.orderBy("custkey"))
            .cast("long")
            .alias("cid"),
            F.col("r_milli").alias("cr"),
            F.col("f_milli").alias("cf"),
            F.col("m_milli").alias("cm"),
        )
    )
    dist = (
        "(r_milli - cr) * (r_milli - cr) + (f_milli - cf) * (f_milli - cf)"
        " + (m_milli - cm) * (m_milli - cm)"
    )
    for _ in range(RFM_ITERS):
        assigned = (
            rfm.crossJoin(F.broadcast(cents))
            .withColumn("d", F.expr(dist))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("custkey").orderBy("d", "cid")
                ),
            )
            .filter(F.col("rn") == 1)
        )
        cents = assigned.groupBy("cid").agg(
            F.floor(F.sum("r_milli") / F.count(F.lit(1))).alias("cr"),
            F.floor(F.sum("f_milli") / F.count(F.lit(1))).alias("cf"),
            F.floor(F.sum("m_milli") / F.count(F.lit(1))).alias("cm"),
        )
    final = (
        rfm.crossJoin(F.broadcast(cents))
        .withColumn("d", F.expr(dist))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("custkey").orderBy("d", "cid")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return final.groupBy(F.col("cid").alias("segment_id")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr("sum(r_milli) div count(*)").alias("mean_r_milli"),
        F.expr("sum(f_milli) div count(*)").alias("mean_f_milli"),
        F.expr("sum(m_milli) div count(*)").alias("mean_m_milli"),
    )


def _rfm_sql() -> str:
    rfm = f"""
  SELECT o_custkey AS custkey,
         (datediff('day', MAX(o_orderdate), (SELECT MAX(o_orderdate) FROM orders)) * {RFM_SCALE})
           // GREATEST(1, MAX(datediff('day', MAX(o_orderdate), (SELECT MAX(o_orderdate) FROM orders))) OVER ()) AS r_milli,
         (COUNT(*) * {RFM_SCALE}) // (MAX(COUNT(*)) OVER ()) AS f_milli,
         (SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) * {RFM_SCALE})
           // (MAX(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))) OVER ()) AS m_milli
  FROM orders GROUP BY o_custkey
"""
    dist = (
        "(e.r_milli - c.cr) * (e.r_milli - c.cr)"
        " + (e.f_milli - c.cf) * (e.f_milli - c.cf)"
        " + (e.m_milli - c.cm) * (e.m_milli - c.cm)"
    )
    ctes = [
        f"rfm AS MATERIALIZED ({rfm})",
        f"""c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY custkey) AS cid,
        r_milli AS cr, f_milli AS cf, m_milli AS cm
 FROM (SELECT * FROM rfm ORDER BY custkey LIMIT {RFM_K}))""",
    ]
    for i in range(1, RFM_ITERS + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT custkey, r_milli, f_milli, m_milli, cid FROM (
    SELECT e.*, c.cid,
           row_number() OVER (PARTITION BY e.custkey
             ORDER BY {dist} ASC, c.cid) AS rn
    FROM rfm e CROSS JOIN c{i - 1} c
  ) WHERE rn = 1)"""
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT cid,
         CAST(FLOOR(SUM(r_milli)::DOUBLE / COUNT(*)) AS BIGINT) AS cr,
         CAST(FLOOR(SUM(f_milli)::DOUBLE / COUNT(*)) AS BIGINT) AS cf,
         CAST(FLOOR(SUM(m_milli)::DOUBLE / COUNT(*)) AS BIGINT) AS cm
  FROM a{i} GROUP BY cid)"""
        )
    ctes.append(
        f"""af AS MATERIALIZED (
  SELECT custkey, r_milli, f_milli, m_milli, cid FROM (
    SELECT e.*, c.cid,
           row_number() OVER (PARTITION BY e.custkey
             ORDER BY {dist} ASC, c.cid) AS rn
    FROM rfm e CROSS JOIN c{RFM_ITERS} c
  ) WHERE rn = 1)"""
    )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT cid AS segment_id,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(r_milli) // COUNT(*) AS BIGINT) AS mean_r_milli,
       CAST(SUM(f_milli) // COUNT(*) AS BIGINT) AS mean_f_milli,
       CAST(SUM(m_milli) // COUNT(*) AS BIGINT) AS mean_m_milli
FROM af GROUP BY cid
"""


RFM_SEGMENTS_SQL = _rfm_sql()


T_CLOSENESS_MAX_MICRO = 250_000  # t > 0.25 fails the release gate


def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy-release triad.

    k-anonymity bounds class SIZE, l-diversity bounds distinct sensitive
    values, but a class can pass both while its sensitive DISTRIBUTION
    still leaks (skewness attack: 90% of one band inside a class that is
    10% globally). t-closeness bounds the distance between each class's
    sensitive distribution and the corpus-wide one; for categorical
    bands with unit ground distance the EMD reduces to total-variation:
    t = ½ Σ_b |p(b|class) − p(b)|. All shares are exact micro ratios, so
    t_micro is an exact integer both engines agree on.

    Bands ABSENT from a class still contribute |0 − p(b)| — the grid is
    completed by crossing the class list with the (small) band dim
    before the cell left-join; both sides are aggregate-sized.

    Output per QI class: k, t_micro, fails_t_closeness.
    """
    cust = read_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=False)
    classes = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("c").alias("k")
    )
    glob = cells.groupBy("bal_band").agg(F.sum("c").alias("gc"))
    tot = glob.agg(F.sum("gc").alias("n"))
    bands = glob.crossJoin(F.broadcast(tot)).select(
        "bal_band", F.expr("(gc * 1000000) div n").alias("g_micro")
    )
    grid = classes.crossJoin(F.broadcast(bands))
    full = grid.join(
        cells, ["c_nationkey", "c_mktsegment", "bal_band"], "left"
    ).na.fill({"c": 0})
    per = full.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        F.abs(F.expr("(c * 1000000) div k") - F.col("g_micro")).alias("d"),
    )
    return (
        per.groupBy("c_nationkey", "c_mktsegment", "k")
        .agg(F.expr("sum(d) div 2").alias("t_micro"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            "t_micro",
            (F.col("t_micro") > T_CLOSENESS_MAX_MICRO).alias(
                "fails_t_closeness"
            ),
        )
    )


T_CLOSENESS_SQL = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, c_mktsegment, SUM(c) AS k
  FROM cells GROUP BY 1, 2
),
gband AS (SELECT bal_band, SUM(c) AS gc FROM cells GROUP BY 1),
tot AS (SELECT SUM(gc) AS n FROM gband),
bands AS (
  SELECT bal_band, (gc * 1000000) // n AS g_micro FROM gband CROSS JOIN tot
),
grid AS (SELECT * FROM classes CROSS JOIN bands),
fgrid AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.k,
         ABS((COALESCE(ce.c, 0) * 1000000) // g.k - g.g_micro) AS d
  FROM grid g
  LEFT JOIN cells ce USING (c_nationkey, c_mktsegment, bal_band)
)
SELECT c_nationkey, c_mktsegment,
       CAST(k AS BIGINT) AS k,
       CAST(SUM(d) // 2 AS BIGINT) AS t_micro,
       SUM(d) // 2 > {T_CLOSENESS_MAX_MICRO} AS fails_t_closeness
FROM fgrid
GROUP BY c_nationkey, c_mktsegment, k
"""


def doc_split_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the train and val unigram
    distributions — the DISTRIBUTION-level split audit next to
    split_leakage's verbatim n-gram overlap: leakage says "val text
    appears in train", JS says the opposite failure, "val is not even
    the same kind of text as train" (a skewed hash, a source that landed
    entirely in one split). JS = ½KL(P‖M) + ½KL(Q‖M) with
    M = (P+Q)/2; per term the log ratio reduces to integers,
    ln(p/m) = lnm(2·a·B) − lnm(a·B + b·A), so each contribution is an
    exact int64 product of a count and two floor-quantized lnm values
    (the zipf discipline — one transcendental per integer), summed and
    divided once per side. Bounded [0, ln 2]: js_milli ≈ 0 = splits
    indistinguishable (what a healthy hash split shows), → 693 =
    disjoint vocabularies.

    Scale shape: one exploded-token groupBy (term, split) — map-side
    combined, vocabulary-bounded — then a vocab-row reduce.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            split_name(split_bucket()).alias("split"),
            F.explode(words_col(F.lower(F.col("text")))).alias("t"),
        )
        .filter(F.col("split") != "test")
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("b"),
        )
    )
    tot = toks.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    terms = toks.crossJoin(F.broadcast(tot)).select(
        "a",
        "b",
        F.when(
            F.col("a") > 0,
            F.expr(
                f"a * ({_LNM.format('2 * a * tb')} - {_LNM.format('a * tb + b * ta')})"
            ),
        )
        .otherwise(F.lit(0))
        .alias("kl_p"),
        F.when(
            F.col("b") > 0,
            F.expr(
                f"b * ({_LNM.format('2 * b * ta')} - {_LNM.format('a * tb + b * ta')})"
            ),
        )
        .otherwise(F.lit(0))
        .alias("kl_q"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("kl_p").alias("skp"),
        F.sum("kl_q").alias("skq"),
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "n_terms",
            F.col("ta").alias("train_tokens"),
            F.col("tb").alias("val_tokens"),
            F.expr("(skp div ta + skq div tb) div 2").alias("js_milli"),
        )
    )


DOC_SPLIT_JS_SQL = f"""
WITH assigned AS (SELECT {SPLIT_NAME_SQL} AS split, text FROM documents),
toks AS (
  SELECT t,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS b
  FROM (SELECT split, unnest(string_split(lower(text), ' ')) AS t
        FROM assigned WHERE split <> 'test')
  GROUP BY t
),
tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM toks),
terms AS (
  SELECT a, b,
         CASE WHEN a > 0 THEN a * ({_LNM.format("2 * a * tb")}
                                 - {_LNM.format("a * tb + b * ta")})
              ELSE 0 END AS kl_p,
         CASE WHEN b > 0 THEN b * ({_LNM.format("2 * b * ta")}
                                 - {_LNM.format("a * tb + b * ta")})
              ELSE 0 END AS kl_q
  FROM toks CROSS JOIN tot
),
s AS (
  SELECT COUNT(*) AS n_terms, SUM(kl_p) AS skp, SUM(kl_q) AS skq FROM terms
)
SELECT CAST(n_terms AS BIGINT) AS n_terms,
       CAST(ta AS BIGINT) AS train_tokens,
       CAST(tb AS BIGINT) AS val_tokens,
       CAST((skp // ta + skq // tb) // 2 AS BIGINT) AS js_milli
FROM s CROSS JOIN tot
"""


def lineitem_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-returnflag price-outlier gate: median ± 3·MAD, EXACT.

    The production DQ rung mean/stddev gates get wrong on heavy-tailed
    money columns (orders_shewhart_control's 3-sigma band is itself
    dragged by the outliers it hunts): median and MAD are 50%-breakdown
    robust, so the fence holds even when the contamination is large.

    Exactness without a global sort: BOTH medians come from the
    count-distribution trick (orders_price_quantiles) — aggregate to
    (mode, value) counts, window-cumulate the distinct-value
    distribution, pick the rank-straddling values — and the even-n
    half-step is kept integer by DOUBLING: med2 = x_ceil(n/2) +
    x_(n/2+1) (2x the median), per-row deviation d2 = |2x − med2|
    (2x), mad4 = doubled median of d2 (4x MAD). The fence
    |x − med| > 3·MAD is then the EXACT integer predicate
    2·d2 > 3·mad4 — no float anywhere in the operator.

    Scale shape: two value-grain count-distribution passes (windows
    over DISTINCT cents per mode, never row-grain sorts), one
    7-row median broadcast join back onto the value-grain frame, one
    final 7-row aggregate.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("returnflag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    counts = li.groupBy("returnflag", "cents").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("returnflag").orderBy("cents")
    w_all = Window.partitionBy("returnflag")
    cum = counts.select(
        "returnflag",
        "cents",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    med = (
        cum.groupBy("returnflag")
        .agg(
            F.max("n").alias("n"),
            F.min(
                F.expr("CASE WHEN cum >= (n + 1) div 2 THEN cents END")
            ).alias("m_lo"),
            F.min(
                F.expr("CASE WHEN cum >= n div 2 + 1 THEN cents END")
            ).alias("m_hi"),
        )
        .select(
            "returnflag", "n", (F.col("m_lo") + F.col("m_hi")).alias("med2")
        )
    )
    dev = (
        counts.join(F.broadcast(med), "returnflag")
        .groupBy("returnflag", "n", "med2", F.expr("abs(2 * cents - med2)").alias("d2"))
        .agg(F.sum("c").alias("c"))
    )
    w_dcum = Window.partitionBy("returnflag").orderBy("d2")
    dcum = dev.select(
        "returnflag", "n", "med2", "d2", "c", F.sum("c").over(w_dcum).alias("cum")
    )
    mad = (
        dcum.groupBy("returnflag")
        .agg(
            F.min(
                F.expr("CASE WHEN cum >= (n + 1) div 2 THEN d2 END")
            ).alias("mad_lo"),
            F.min(
                F.expr("CASE WHEN cum >= n div 2 + 1 THEN d2 END")
            ).alias("mad_hi"),
        )
        .select("returnflag", (F.col("mad_lo") + F.col("mad_hi")).alias("mad4"))
    )
    return (
        dev.join(F.broadcast(mad), "returnflag")
        .groupBy("returnflag")
        .agg(
            F.max("n").alias("n_rows"),
            F.max("med2").alias("med2_cents"),
            F.max("mad4").alias("mad4_cents"),
            F.sum(
                F.expr("CASE WHEN 2 * d2 > 3 * mad4 THEN c ELSE 0 END")
            ).alias("n_outliers"),
        )
        .withColumn(
            "outlier_ppm", F.expr("(n_outliers * 1000000) div n_rows")
        )
    )


MAD_OUTLIERS_SQL = """
WITH counts AS (
  SELECT l_returnflag AS returnflag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT returnflag, cents, c,
         SUM(c) OVER (PARTITION BY returnflag ORDER BY cents) AS cum,
         SUM(c) OVER (PARTITION BY returnflag) AS n
  FROM counts
),
med AS (
  SELECT returnflag, CAST(MAX(n) AS BIGINT) AS n,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
           + MIN(CASE WHEN cum >= n // 2 + 1 THEN cents END) AS med2
  FROM cum GROUP BY 1
),
dev AS (
  SELECT c.returnflag, m.n, m.med2, abs(2 * c.cents - m.med2) AS d2,
         CAST(SUM(c.c) AS BIGINT) AS c
  FROM counts c JOIN med m USING (returnflag)
  GROUP BY 1, 2, 3, 4
),
dcum AS (
  SELECT returnflag, n, med2, d2, c,
         SUM(c) OVER (PARTITION BY returnflag ORDER BY d2) AS cum
  FROM dev
),
mad AS (
  SELECT returnflag,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN d2 END)
           + MIN(CASE WHEN cum >= n // 2 + 1 THEN d2 END) AS mad4
  FROM dcum GROUP BY 1
)
SELECT d.returnflag,
       CAST(MAX(d.n) AS BIGINT) AS n_rows,
       CAST(MAX(d.med2) AS BIGINT) AS med2_cents,
       CAST(MAX(m.mad4) AS BIGINT) AS mad4_cents,
       CAST(SUM(CASE WHEN 2 * d.d2 > 3 * m.mad4 THEN d.c ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST((SUM(CASE WHEN 2 * d.d2 > 3 * m.mad4 THEN d.c ELSE 0 END)
            * 1000000) // MAX(d.n) AS BIGINT) AS outlier_ppm
FROM dev d JOIN mad m USING (returnflag)
GROUP BY 1
"""


QUERIES = {
    "lineitem_mad_outliers": lineitem_mad_outliers,
    "orders_cohort_ltv": orders_cohort_ltv,
    "customer_k_anonymity": customer_k_anonymity,
    "doc_weighted_sample_exact_k": doc_weighted_sample_exact_k,
    "customer_pareto_frontier": customer_pareto_frontier,
    "referential_integrity_census": referential_integrity_census,
    "supplier_return_sla": supplier_return_sla,
    "orders_gap_distribution": orders_gap_distribution,
    "customer_revenue_lorenz": customer_revenue_lorenz,
    "lineitem_benford": lineitem_benford,
    "orders_duplicate_payments": orders_duplicate_payments,
    "customer_survival": customer_survival,
    "lineitem_price_index": lineitem_price_index,
    "customer_l_diversity": customer_l_diversity,
    "orders_seasonal_decompose": orders_seasonal_decompose,
    "orders_theilsen_trend": orders_theilsen_trend,
    "orders_shewhart_control": orders_shewhart_control,
    "orders_durbin_watson": orders_durbin_watson,
    "customer_rfm_transition": customer_rfm_transition,
    "orders_hill_tail_index": orders_hill_tail_index,
    "orders_runs_test": orders_runs_test,
    "orders_backlog_aging": orders_backlog_aging,
    "orders_lineitem_reconcile": orders_lineitem_reconcile,
    "orders_bootstrap_ci": orders_bootstrap_ci,
    "orders_revenue_ewma": orders_revenue_ewma,
    "customer_entity_resolution": customer_entity_resolution,
    "doc_surrogate_keys": doc_surrogate_keys,
    "lineitem_corr_matrix": lineitem_corr_matrix,
    "orders_scd2": orders_scd2,
    "lineitem_salted_part_revenue": lineitem_salted_part_revenue,
    "orders_zorder_layout": orders_zorder_layout,
    "orders_rfm": orders_rfm,
    "doc_split_assign": doc_split_assign,
    "doc_stratified_sample": doc_stratified_sample,
    "doc_sample_exact_k": doc_sample_exact_k,
    "documents_checksum": documents_checksum,
    "orders_snapshot_diff": orders_snapshot_diff,
    "compaction_plan": compaction_plan,
    "orders_dq_expectations": orders_dq_expectations,
    "orders_revenue_trend": orders_revenue_trend,
    "orders_monthly_gapfill": orders_monthly_gapfill,
    "orders_price_quantiles": orders_price_quantiles,
    "lineitem_manifest_pruning": lineitem_manifest_pruning,
    "bloom_customer_filter": bloom_customer_filter,
    "doc_weighted_sample": doc_weighted_sample,
    "lineitem_scd2_lookup": lineitem_scd2_lookup,
    "orders_profile": orders_profile,
    "gdpr_erasure_plan": gdpr_erasure_plan,
    "customer_rfm_segments": customer_rfm_segments,
    "customer_t_closeness": customer_t_closeness,
    "doc_split_js_divergence": doc_split_js_divergence,
}

ORACLES = {
    "lineitem_mad_outliers": MAD_OUTLIERS_SQL,
    "customer_entity_resolution": ER_SQL,
    "doc_surrogate_keys": SURROGATE_KEYS_SQL,
    "lineitem_corr_matrix": CORR_MATRIX_SQL,
    "orders_scd2": ORDERS_SCD2_SQL,
    "lineitem_salted_part_revenue": LINEITEM_SALTED_PART_REVENUE_SQL,
    "orders_zorder_layout": ZORDER_LAYOUT_SQL,
    "orders_rfm": ORDERS_RFM_SQL,
    "doc_split_assign": DOC_SPLIT_SQL,
    "doc_stratified_sample": DOC_SAMPLE_SQL,
    "doc_sample_exact_k": DOC_SAMPLE_K_SQL,
    "documents_checksum": DOC_CHECKSUM_SQL,
    "orders_snapshot_diff": SNAPSHOT_DIFF_SQL,
    "compaction_plan": COMPACTION_SQL,
    "orders_dq_expectations": DQ_SQL,
    "orders_revenue_trend": TREND_SQL,
    "orders_monthly_gapfill": GAPFILL_SQL,
    "orders_price_quantiles": PRICE_QUANTILES_SQL,
    "lineitem_manifest_pruning": MANIFEST_PRUNING_SQL,
    "bloom_customer_filter": _bloom_sql(),
    "doc_weighted_sample": WEIGHTED_SAMPLE_SQL,
    "lineitem_scd2_lookup": SCD2_LOOKUP_SQL,
    "orders_profile": profile_sql("orders", ORDERS_COLS),
    "orders_revenue_ewma": REVENUE_EWMA_SQL,
    "orders_bootstrap_ci": BOOTSTRAP_CI_SQL,
    "orders_lineitem_reconcile": RECONCILE_SQL,
    "orders_cohort_ltv": COHORT_LTV_SQL,
    "customer_k_anonymity": K_ANONYMITY_SQL,
    "doc_weighted_sample_exact_k": WEIGHTED_SAMPLE_EXACT_K_SQL,
    "customer_pareto_frontier": PARETO_FRONTIER_SQL,
    "referential_integrity_census": RI_CENSUS_SQL,
    "supplier_return_sla": SUPPLIER_RETURN_SLA_SQL,
    "orders_gap_distribution": ORDERS_GAP_SQL,
    "customer_revenue_lorenz": CUSTOMER_LORENZ_SQL,
    "lineitem_benford": BENFORD_SQL,
    "orders_duplicate_payments": DUP_PAYMENTS_SQL,
    "customer_survival": CUSTOMER_SURVIVAL_SQL,
    "lineitem_price_index": PRICE_INDEX_SQL,
    "customer_l_diversity": L_DIVERSITY_SQL,
    "orders_seasonal_decompose": SEASONAL_SQL,
    "orders_theilsen_trend": THEILSEN_SQL,
    "orders_shewhart_control": SHEWHART_SQL,
    "orders_durbin_watson": DURBIN_WATSON_SQL,
    "customer_rfm_transition": RFM_TRANSITION_SQL,
    "orders_hill_tail_index": HILL_SQL,
    "orders_runs_test": RUNS_TEST_SQL,
    "orders_backlog_aging": BACKLOG_AGING_SQL,
    "gdpr_erasure_plan": GDPR_ERASURE_SQL,
    "customer_rfm_segments": RFM_SEGMENTS_SQL,
    "customer_t_closeness": T_CLOSENESS_SQL,
    "doc_split_js_divergence": DOC_SPLIT_JS_SQL,
}
