"""Entity resolution (record linkage / MDM): block -> verify -> cluster.

The classic warehouse master-data problem: the same real-world entity
arrives as several slightly-different records (case drift, one-character
address typos), and the pipeline must resolve them to one canonical id
WITHOUT an all-pairs comparison. Reference analogue: the STAC pipeline's
idempotent upsert keying (items re-submitted under the same id;
``lambdas/submit-stac/handler.py``) — here generalized to fuzzy keys.

Standard shape, each stage scale-safe:

1. **Normalize + block**: every record emits a small fixed number of
   blocking keys (address prefix-4 and suffix-4, salted with the nation
   key). Candidate pairs come from an EQUI-JOIN on the blocking key —
   never a cross join. For the single-character-deletion noise model the
   two keys are provably complete: deleting char ``p`` of a 16-char
   address leaves the first 4 chars intact when ``p > 4`` and the last 4
   intact when ``p <= 12``, so every true pair shares at least one key.
2. **Verify**: cheap exact predicates first (case-folded name equality,
   same nation), then ``levenshtein(addr) <= 2`` — a JVM built-in, run
   only on blocked candidates, never on the full cross product.
3. **Cluster**: verified match edges feed the same pointer-jumping
   connected-components used by MinHash dedup (O(log diameter) rounds);
   the canonical survivor is the min rec_id of each component.

Dirty input is synthesized deterministically from ``customer`` (no RNG,
identical in Spark and the DuckDB oracle): every customer contributes a
base record with a 16-hex-char md5-derived address; every third customer
also contributes a "dirty twin" — name lower-cased, one address char
(position ``custkey % 16``) deleted. The oracle resolves components with
a single min-over-neighbors round, which equals the CC fixpoint here
because case-folded names are unique per customer, making every
component a star of diameter <= 1 by construction (the Spark side still
runs the real iterative CC).

Scale notes: blocking keys are pure column expressions (codegen,
map-side); the candidate join is an equi-join whose per-key fan-out is
bounded by block size; Levenshtein runs JVM-side on candidates only; CC
rounds shuffle the node set, never payloads; the final entity-size
window partitions by entity id (partition size = cluster size, bounded
by duplicate multiplicity, never by SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _undirected, connected_components

ER_LEV_MAX = 2  # verify threshold: the noise model edits <= 1 char


def er_dirty_records(cust: DataFrame) -> DataFrame:
    """Deterministic dirty-record feed: base + perturbed twin per 3rd key."""
    addr = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 16)
    base = cust.select(
        (F.col("c_custkey") * 2).alias("rec_id"),
        F.col("c_name").alias("name"),
        addr.alias("addr"),
        F.col("c_nationkey").alias("nation"),
    )
    # delete char at position (custkey % 16) + 1 (1-indexed): keep [1..p],
    # skip p+1, keep the rest. p=0 keeps nothing before the deletion.
    twin = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("full_addr", addr)
        .withColumn("p", (F.col("c_custkey") % 16).cast("int"))
        .select(
            (F.col("c_custkey") * 2 + 1).alias("rec_id"),
            F.lower(F.col("c_name")).alias("name"),
            F.concat(
                F.expr("substring(full_addr, 1, p)"),
                F.expr("substring(full_addr, p + 2)"),
            ).alias("addr"),
            F.col("c_nationkey").alias("nation"),
        )
    )
    return base.unionByName(twin)


def er_match_pairs(recs: DataFrame) -> DataFrame:
    """Blocked candidate generation + verification -> (rec_a, rec_b) edges.

    One scan: each record explodes into its 2 blocking keys (attributes
    ride the block rows, so verification needs no join back), then a
    self-equi-join on the key.
    """
    nation_s = F.col("nation").cast("string")
    blocks = recs.select(
        "rec_id",
        "name",
        "addr",
        "nation",
        F.explode(
            F.array(
                F.concat(nation_s, F.lit("|p|"), F.substring("addr", 1, 4)),
                F.concat(
                    nation_s,
                    F.lit("|s|"),
                    F.expr("substring(addr, length(addr) - 3, 4)"),
                ),
            )
        ).alias("bkey"),
    )
    a = blocks.select(
        F.col("bkey"),
        F.col("rec_id").alias("rec_a"),
        F.col("name").alias("name_a"),
        F.col("addr").alias("addr_a"),
        F.col("nation").alias("nation_a"),
    )
    b = blocks.select(
        F.col("bkey"),
        F.col("rec_id").alias("rec_b"),
        F.col("name").alias("name_b"),
        F.col("addr").alias("addr_b"),
        F.col("nation").alias("nation_b"),
    )
    return (
        a.join(b, "bkey")
        .filter(
            (F.col("rec_a") < F.col("rec_b"))
            & (F.upper("name_a") == F.upper("name_b"))
            & (F.col("nation_a") == F.col("nation_b"))
            & (F.levenshtein("addr_a", "addr_b") <= ER_LEV_MAX)
        )
        .select("rec_a", "rec_b")
        .distinct()
    )


def resolve_entities(recs: DataFrame) -> DataFrame:
    """Full ER: records -> (rec_id, entity_id, n_records, is_canonical)."""
    pairs = er_match_pairs(recs)
    und = _undirected(
        pairs.select(F.col("rec_a").alias("doc_a"), F.col("rec_b").alias("doc_b"))
    )
    labels, _rounds = connected_components(und)
    resolved = recs.select("rec_id").join(
        labels.select(F.col("doc_id").alias("rec_id"), "cluster_id"),
        "rec_id",
        "left",
    )
    w = Window.partitionBy("entity_id")
    return (
        resolved.select(
            "rec_id",
            F.coalesce(F.col("cluster_id"), F.col("rec_id")).alias("entity_id"),
        )
        .withColumn("n_records", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("is_canonical", F.col("rec_id") == F.col("entity_id"))
    )


# --- DuckDB oracle ---------------------------------------------------------

ER_SQL = f"""
WITH recs AS (
    SELECT c_custkey * 2 AS rec_id,
           c_name AS name,
           substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS addr,
           c_nationkey AS nation
    FROM customer
    UNION ALL
    SELECT c_custkey * 2 + 1,
           lower(c_name),
           concat(
               substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16),
                      1, CAST(c_custkey % 16 AS INT)),
               substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16),
                      CAST(c_custkey % 16 AS INT) + 2)
           ),
           c_nationkey
    FROM customer WHERE c_custkey % 3 = 0
),
blocks AS (
    SELECT rec_id, name, addr, nation,
           concat(CAST(nation AS VARCHAR), '|p|', substr(addr, 1, 4)) AS bkey
    FROM recs
    UNION ALL
    SELECT rec_id, name, addr, nation,
           concat(CAST(nation AS VARCHAR), '|s|',
                  substr(addr, length(addr) - 3, 4))
    FROM recs
),
pairs AS (
    SELECT DISTINCT a.rec_id AS rec_a, b.rec_id AS rec_b
    FROM blocks a JOIN blocks b ON a.bkey = b.bkey AND a.rec_id < b.rec_id
    WHERE upper(a.name) = upper(b.name)
      AND a.nation = b.nation
      AND levenshtein(a.addr, b.addr) <= {ER_LEV_MAX}
),
nbrs AS (
    SELECT rec_a AS rec_id, rec_b AS nbr FROM pairs
    UNION ALL
    SELECT rec_b, rec_a FROM pairs
),
-- one min-over-neighbors round == the CC fixpoint: components are stars
-- (diameter <= 1) because case-folded names are unique per customer
entity AS (
    SELECT r.rec_id,
           LEAST(r.rec_id, COALESCE(MIN(n.nbr), r.rec_id)) AS entity_id
    FROM recs r LEFT JOIN nbrs n ON r.rec_id = n.rec_id
    GROUP BY r.rec_id
)
SELECT rec_id,
       entity_id,
       CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_records,
       rec_id = entity_id AS is_canonical
FROM entity
"""
