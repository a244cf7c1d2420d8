"""Registered LLM-data-pipeline plans: dedup + similarity search.

Thin ``(spark, sf_dir)`` adapters over operators/dedup.py (documents) and
operators/ann.py (embeddings), plus ``corpus_curation`` — the end-to-end
keep/reject decision that composes quality filtering with exact and
near-duplicate removal into the pipeline's final artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.joins import corpus_rows as _corpus_rows
from ..functions.joins import materialize as _materialize
from ..functions.joins import scale_pin as _scale_pin
from ..operators import ann, dedup, kmeans, pq, quant, text
from ..sources.catalog import fan_out, read_table


# fan= per-key choice, A/B-measured at sf0.1 (tools/ab_fanout.py, r11):
# fan_out pays only when the op does heavy per-row map work BEFORE its
# first shuffle (shingling over raw text, pairwise vector math); after
# the first exchange AQE coalesces these small frames to 1 partition
# anyway, and for tiny inputs (embeddings: 2k rows at sf0.1) the extra
# round-robin exchange plus 32-way pandas-UDF task overhead LOSES —
# worst on the driver-synced iterative ops (Lloyd loops). At production
# scale fan_out is a no-op either way (partition-count gate), so fan=
# only tunes small-input behavior.
def _doc_plan(op, fan: bool = True):
    def plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return op(fan_out(docs) if fan else docs)

    plan.__name__ = op.__name__
    plan.__doc__ = op.__doc__
    return plan


def _emb_plan(op, fan: bool = False):
    def plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        return op(fan_out(emb) if fan else emb)

    plan.__name__ = op.__name__
    plan.__doc__ = op.__doc__
    return plan


CURATION_NEAR_DUP_JACCARD = 0.5

# The curation cascade's assembly joins all have CORPUS-SCALED sides
# (per-doc quality flags, exact-dup survivors, dup-mass-bounded reject
# lists, per-doc token counts): each is functions/joins.scale_pin-ned.


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's final artifact: per-doc keep flag + first-fail reason.

    Rejection cascade (deterministic order, so the reason histogram is a
    monitorable table):
      1. quality   — fails the C4/Gopher hard rules (quality_filter);
      2. exact_dup — not the min-doc_id survivor of its text hash;
      3. near_dup  — appears as the HIGHER id in a MinHash candidate
                     pair with est_jaccard >= 0.5 (min-id canonical
                     survives, its near-copies drop);
      4. ok        — kept.
    Composes three existing operators via two hash-key joins; every
    building block keeps its own oracle, and the composition has one.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    quality = text.quality_filter(docs).select(
        "doc_id", F.col("keep").alias("q_ok")
    )
    exact_survivor = dedup.dedup_exact(docs).select(
        F.col("canonical_doc_id").alias("doc_id"), F.lit(True).alias("is_survivor")
    )
    near_rejects = (
        dedup.dedup_minhash_lsh(docs)
        .filter(F.col("est_jaccard") >= CURATION_NEAR_DUP_JACCARD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    reason = (
        F.when(~F.col("q_ok"), "quality")
        .when(F.col("is_survivor").isNull(), "exact_dup")
        .when(F.col("near_dup").isNotNull(), "near_dup")
        .otherwise("ok")
    )
    n_docs = _corpus_rows(docs)
    return (
        docs.select("doc_id")
        .join(_scale_pin(quality, n_docs), "doc_id")
        .join(_scale_pin(exact_survivor, n_docs), "doc_id", "left")
        .join(_scale_pin(near_rejects, n_docs), "doc_id", "left")
        .select("doc_id", reason.alias("reason"))
        .withColumn("keep", F.col("reason") == "ok")
    )


CORPUS_CURATION_SQL = f"""
WITH quality AS (
  SELECT doc_id, keep AS q_ok FROM ({text.QUALITY_FILTER_SQL})
),
surv AS (
  SELECT canonical_doc_id AS doc_id, TRUE AS is_survivor
  FROM ({dedup.DEDUP_EXACT_SQL})
),
near AS (
  SELECT DISTINCT doc_b AS doc_id, TRUE AS near_dup
  FROM ({dedup.DEDUP_MINHASH_SQL})
  WHERE est_jaccard >= {CURATION_NEAR_DUP_JACCARD}
)
SELECT d.doc_id,
       CASE WHEN NOT q.q_ok THEN 'quality'
            WHEN s.is_survivor IS NULL THEN 'exact_dup'
            WHEN n.near_dup IS NOT NULL THEN 'near_dup'
            ELSE 'ok' END AS reason,
       (CASE WHEN NOT q.q_ok THEN 'quality'
             WHEN s.is_survivor IS NULL THEN 'exact_dup'
             WHEN n.near_dup IS NOT NULL THEN 'near_dup'
             ELSE 'ok' END) = 'ok' AS keep
FROM documents d
JOIN quality q USING (doc_id)
LEFT JOIN surv s USING (doc_id)
LEFT JOIN near n USING (doc_id)
"""



OUTLIER_TOPK = 3


def doc_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding outliers: the docs to review before training.

    The first CROSS-TABLE operator joining the text corpus to its
    embedding table (doc_id = vec_id): each source's docs get an integer
    micro-unit centroid (floor(sum/count), the label-centroid
    discipline), and the OUTLIER_TOPK docs farthest from their own
    source's centroid surface as review candidates — mislabeled scrapes,
    boilerplate contamination, and encoding garbage all show up as
    within-source embedding outliers long before they show up in loss
    curves. Exact int64 distances, deterministic ties (dist desc,
    doc_id).

    Scale shape: one equi-join docs-to-embeddings on the id, a
    source-count-sized centroid aggregate broadcast back, zip_with
    distance, per-source WindowGroupLimit top-k.
    """
    from pyspark.sql.window import Window

    docs = fan_out(read_table(spark, sf_dir, "documents")).select("doc_id", "source")
    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    q = emb.select(
        F.col("vec_id").alias("doc_id"),
        kmeans.quantize_udf(F.col("embedding")).alias("qv"),
    )
    j = docs.join(q, "doc_id").localCheckpoint(eager=False)
    cents = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(F.col("qv")[d]).alias(f"s{d}") for d in range(kmeans.EMBED_DIM)],
    ).select(
        "source",
        F.array(
            *[
                F.floor(F.col(f"s{d}") / F.col("n_docs")).cast("long")
                for d in range(kmeans.EMBED_DIM)
            ]
        ).alias("cv"),
    )
    scored = j.join(F.broadcast(cents), "source").select(
        "source",
        "doc_id",
        F.expr(
            "aggregate(zip_with(qv, cv, (x, c) -> (x - c) * (x - c)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dist"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("dist"), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= OUTLIER_TOPK)
    )


_OUTLIER_QV = ", ".join(
    f"CAST(FLOOR(embedding[{i}]::DOUBLE * 1000000) AS BIGINT)"
    for i in range(1, 65)
)
_OUTLIER_MEANS = ", ".join(
    f"CAST(FLOOR(SUM(qv[{d}])::DOUBLE / COUNT(*)) AS BIGINT)"
    for d in range(1, 65)
)
_OUTLIER_DIST = " + ".join(
    f"(j.qv[{i}]-c.cv[{i}])*(j.qv[{i}]-c.cv[{i}])" for i in range(1, 65)
)

DOC_EMBEDDING_OUTLIERS_SQL = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS doc_id, [{_OUTLIER_QV}] AS qv FROM embeddings
),
j AS MATERIALIZED (
  SELECT d.source, d.doc_id, q.qv
  FROM documents d JOIN q USING (doc_id)
),
cents AS (
  SELECT source, [{_OUTLIER_MEANS}] AS cv
  FROM j GROUP BY source
),
scored AS (
  SELECT j.source, j.doc_id,
         CAST({_OUTLIER_DIST} AS BIGINT) AS dist
  FROM j JOIN cents c USING (source)
)
SELECT source, doc_id, dist,
       row_number() OVER (PARTITION BY source ORDER BY dist DESC, doc_id) AS rnk
FROM scored
QUALIFY rnk <= {OUTLIER_TOPK}
"""


CURATION_MIN_NOVELTY = 0.2


def corpus_curation_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full five-stage curation cascade — the engine's 200th operator
    and its most complete end-to-end decision.

    Extends :func:`corpus_curation`'s quality -> exact-dup -> near-dup
    cascade with the two duplicate classes MinHash-resemblance misses:
      4. contained  — the doc appears as the HIGHER id in a containment
                      pair (excerpts/quotes/syndication; containment
                      >= 0.8 while Jaccard can be arbitrarily low);
      5. stale      — ingestion-order novelty < CURATION_MIN_NOVELTY
                      (the doc is assembled from 3-grams the corpus
                      already had — boilerplate/template mass).
    First-fail-wins reason order is fixed, so the reason histogram is a
    stable monitorable artifact; every stage reuses its own oracled
    operator and the composition carries one oracle.
    """
    return _curation_cascade(fan_out(read_table(spark, sf_dir, "documents")))


def _curation_cascade(docs: DataFrame) -> DataFrame:
    """:func:`corpus_curation_extended`'s body over a caller's ``docs``
    frame, so a composition that reads the corpus once shares its count."""
    from ..operators import curation

    n_docs = _corpus_rows(docs)
    # r12 (VERDICT #1, guide §2.4 "remove shuffles outright"): the three
    # shingle-consuming stages (minhash, containment, novelty) used to
    # explode+md5 the corpus independently. The DISTINCT hashed index
    # (doc_id, h1, h2) is materialized ONCE (functions/joins.materialize)
    # and shared: MinHash minima are invariant under per-doc distinct
    # (min over a set == min over the multiset), containment unions only
    # the excerpt twins' shingles on top, and novelty's md5_long grain IS
    # h1. Two int64 keys + id is the cheap-to-pin representation (the r11
    # strategy_comparison lever); value-identity per stage is argued at
    # each signature and pinned by the oracle.
    shd = _materialize(
        dedup._shingle_h12(dedup._shingles_df(docs)).distinct(), n_docs
    )
    quality = text.quality_filter(docs).select(
        "doc_id", F.col("keep").alias("q_ok")
    )
    exact_survivor = dedup.dedup_exact(docs).select(
        F.col("canonical_doc_id").alias("doc_id"), F.lit(True).alias("is_survivor")
    )
    near_rejects = (
        dedup.dedup_minhash_lsh(
            docs, hashed=shd.select("doc_id", F.col("h1").alias("h"))
        )
        .filter(F.col("est_jaccard") >= CURATION_NEAR_DUP_JACCARD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    contained = (
        dedup.dedup_containment(docs, shd_docs=shd)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_contained", F.lit(True))
    )
    stale = (
        curation.doc_ngram_novelty(docs, shd_docs=shd)
        .filter(F.col("novelty") < CURATION_MIN_NOVELTY)
        .select("doc_id")
        .withColumn("is_stale", F.lit(True))
    )
    reason = (
        F.when(~F.col("q_ok"), "quality")
        .when(F.col("is_survivor").isNull(), "exact_dup")
        .when(F.col("near_dup").isNotNull(), "near_dup")
        .when(F.col("is_contained").isNotNull(), "contained")
        .when(F.col("is_stale").isNotNull(), "stale")
        .otherwise("ok")
    )
    return (
        docs.select("doc_id")
        .join(_scale_pin(quality, n_docs), "doc_id")
        .join(_scale_pin(exact_survivor, n_docs), "doc_id", "left")
        .join(_scale_pin(near_rejects, n_docs), "doc_id", "left")
        .join(_scale_pin(contained, n_docs), "doc_id", "left")
        .join(_scale_pin(stale, n_docs), "doc_id", "left")
        .select("doc_id", reason.alias("reason"))
        .withColumn("keep", F.col("reason") == "ok")
    )


def cascade_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage verdict frame, MATERIALIZED for multi-consumer runs.

    ``corpus_curation_extended`` and ``curation_yield_report`` are
    registered queries and must each stand alone (the oracle contract);
    but an API consumer that wants the curated corpus AND the yield
    report AND the rejection histogram in one session would otherwise
    pay the five-stage cascade (quality scan, exact-dup groupBy, LSH
    band join, containment join, novelty pass) once PER consumer. This
    helper runs the cascade exactly once and ``localCheckpoint``s the
    per-doc verdict frame — doc_id + reason + keep is corpus-sized but
    3 columns, so the checkpoint is cheap relative to re-derivation —
    letting every downstream product branch from materialized rows.
    ``run_curation_pipeline`` consumes this; byte-equality with the
    standalone registered query is pinned by
    tests/test_curation.py::test_cascade_verdicts_matches_standalone.

    Calling this is not free even if the frame is never consumed: with
    AQE on, ``localCheckpoint(eager=False)`` plans the cascade and runs
    every shuffle stage of it at call time; only the final stage waits
    for the first consuming action.
    """
    # The checkpointed RDD persists for the session — long-lived sessions
    # that call this repeatedly should hold ONE frame and reuse it.
    return corpus_curation_extended(spark, sf_dir).localCheckpoint(eager=False)


def yield_report_from_verdicts(verdicts: DataFrame, docs: DataFrame) -> DataFrame:
    """curation_yield_report's body over a CALLER-SUPPLIED verdict frame.

    Split out so pipeline/API consumers can feed the one
    :func:`cascade_verdicts` checkpoint instead of re-deriving the
    cascade; the registered query composes it with a fresh standalone
    cascade (identical plan, same oracle).
    """
    toks = docs.select(
        "doc_id",
        (F.size(F.split(F.lower(F.col("text")), " "))).cast("long").alias("n_tokens"),
    )
    per = (
        verdicts.join(_scale_pin(toks, _corpus_rows(docs)), "doc_id")
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").alias("t_docs"), F.sum("n_tokens").alias("t_tokens")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "reason",
            "n_docs",
            "n_tokens",
            F.expr("(n_docs * 1000000) div t_docs").alias("doc_share_micro"),
            F.expr("(n_tokens * 1000000) div t_tokens").alias("token_share_micro"),
        )
    )


def curation_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-reason document AND token yield of the five-stage cascade.

    The number a data team actually reports upstream: "X% of documents,
    Y% of tokens survive curation — and here is where the rest went".
    Token mass matters separately from doc count because rejects skew
    long (near-dups, boilerplate) or short (quality): a 5% doc cut can
    be a 20% token cut. One row per verdict reason with exact doc/token
    counts and integer-micro corpus shares; composes the oracled cascade
    verdicts with the exact whitespace token count (swap in
    bpe_token_stats for model-true budgets). Standalone by contract;
    multi-consumer sessions should feed :func:`cascade_verdicts` to
    :func:`yield_report_from_verdicts` instead. The corpus is read once,
    so the cascade and the token join share one row count.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    return yield_report_from_verdicts(_curation_cascade(docs), docs)


def _curation_yield_sql() -> str:
    return f"""
WITH verdicts AS ({_curation_extended_sql()}),
toks AS (
  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
per AS (
  SELECT v.reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens
  FROM verdicts v JOIN toks t USING (doc_id)
  GROUP BY v.reason
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS t_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS t_tokens
  FROM per
)
SELECT reason, n_docs, n_tokens,
       CAST((n_docs * 1000000) // t_docs AS BIGINT) AS doc_share_micro,
       CAST((n_tokens * 1000000) // t_tokens AS BIGINT) AS token_share_micro
FROM per CROSS JOIN tot
"""


def _curation_extended_sql() -> str:
    from ..operators.curation import DOC_NGRAM_NOVELTY_SQL

    reason = f"""CASE WHEN NOT q.q_ok THEN 'quality'
            WHEN s.is_survivor IS NULL THEN 'exact_dup'
            WHEN n.near_dup IS NOT NULL THEN 'near_dup'
            WHEN c.is_contained IS NOT NULL THEN 'contained'
            WHEN st.is_stale IS NOT NULL THEN 'stale'
            ELSE 'ok' END"""
    return f"""
WITH quality AS (
  SELECT doc_id, keep AS q_ok FROM ({text.QUALITY_FILTER_SQL})
),
surv AS (
  SELECT canonical_doc_id AS doc_id, TRUE AS is_survivor
  FROM ({dedup.DEDUP_EXACT_SQL})
),
near AS (
  SELECT DISTINCT doc_b AS doc_id, TRUE AS near_dup
  FROM ({dedup.DEDUP_MINHASH_SQL})
  WHERE est_jaccard >= {CURATION_NEAR_DUP_JACCARD}
),
cont AS (
  SELECT DISTINCT doc_b AS doc_id, TRUE AS is_contained
  FROM ({dedup.CONTAINMENT_SQL})
),
stale AS (
  SELECT doc_id, TRUE AS is_stale
  FROM ({DOC_NGRAM_NOVELTY_SQL})
  WHERE novelty < {CURATION_MIN_NOVELTY}
)
SELECT d.doc_id,
       {reason} AS reason,
       ({reason}) = 'ok' AS keep
FROM documents d
JOIN quality q USING (doc_id)
LEFT JOIN surv s USING (doc_id)
LEFT JOIN near n USING (doc_id)
LEFT JOIN cont c USING (doc_id)
LEFT JOIN stale st USING (doc_id)
"""

QUERIES = {
    "corpus_curation": corpus_curation,
    "dedup_exact": _doc_plan(dedup.dedup_exact, fan=False),
    "dedup_incremental": _doc_plan(dedup.dedup_incremental, fan=False),
    "dedup_minhash_lsh": _doc_plan(dedup.dedup_minhash_lsh),
    "dedup_simhash": _doc_plan(dedup.dedup_simhash),
    "ngram_jaccard": _doc_plan(dedup.ngram_jaccard),
    "dedup_clusters": _doc_plan(dedup.dedup_clusters),
    "dedup_source_modularity": _doc_plan(dedup.dedup_source_modularity),
    "dedup_pagerank": _doc_plan(dedup.dedup_pagerank),
    "similar_docs_topk": _doc_plan(dedup.similar_docs_topk),
    "dedup_cluster_sizes": _doc_plan(dedup.dedup_cluster_sizes),
    "dedup_token_savings": _doc_plan(dedup.dedup_token_savings),
    "dedup_rand_index": _doc_plan(dedup.dedup_rand_index),
    "dedup_triangles": _doc_plan(dedup.dedup_triangles),
    "dedup_clustering_coefficient": _doc_plan(dedup.dedup_clustering_coefficient),
    "minhash_calibration": _doc_plan(dedup.minhash_calibration),
    "ann_cosine_topk": _emb_plan(ann.ann_cosine_topk),
    "ann_lsh_buckets": _emb_plan(ann.ann_lsh_buckets),
    "ann_filtered_topk": _emb_plan(ann.ann_filtered_topk),
    "ann_recall_by_label": _emb_plan(ann.ann_recall_by_label),
    "ann_centroid_balance": _emb_plan(ann.ann_centroid_balance),
    "semantic_decontaminate": _emb_plan(ann.semantic_decontaminate),
    "embedding_dedup": _emb_plan(ann.embedding_dedup),
    "embedding_dedup_lsh": _emb_plan(ann.embedding_dedup_lsh),
    "embedding_hubness": _emb_plan(ann.embedding_hubness),
    "embedding_dedup_mp": _emb_plan(ann.embedding_dedup_mp),
    "embedding_dedup_banded": _emb_plan(ann.embedding_dedup_banded),
    "embedding_dedup_collapsed": _emb_plan(ann.embedding_dedup_collapsed),
    "embedding_dedup_recall": _emb_plan(ann.embedding_dedup_recall),
    "ann_ivf_topk": _emb_plan(ann.ann_ivf_topk),
    "ann_ivf_topk2": _emb_plan(ann.ann_ivf_topk2),
    "ann_ivf_recall": _emb_plan(ann.ann_ivf_recall),
    "ann_ivf_recall2": _emb_plan(ann.ann_ivf_recall2),
    "embedding_kmeans": _emb_plan(kmeans.embedding_kmeans),
    "semantic_dedup": _emb_plan(kmeans.semantic_dedup),
    "ann_ivf_kmeans_topk": _emb_plan(kmeans.ann_ivf_kmeans_topk),
    "ann_ivf_kmeans_recall": _emb_plan(kmeans.ann_ivf_kmeans_recall),
    "ann_l2_topk": _emb_plan(pq.ann_l2_topk),
    "ann_pq_topk": _emb_plan(pq.ann_pq_topk),
    "ann_pq_recall": _emb_plan(pq.ann_pq_recall),
    "ann_pq_rerank": _emb_plan(pq.ann_pq_rerank),
    "ann_pq_rerank_recall": _emb_plan(pq.ann_pq_rerank_recall),
    # r4: matryoshka truncation dial + its recall meter (appended — llm
    # sits after the r04 driver window in registry ordering)
    "ann_matryoshka_topk": _emb_plan(ann.ann_matryoshka_topk),
    "ann_matryoshka_recall": _emb_plan(ann.ann_matryoshka_recall),
    "embedding_label_centroids": _emb_plan(kmeans.embedding_label_centroids),
    "embedding_label_confusion": _emb_plan(kmeans.embedding_label_confusion),
    "ann_ivfpq_topk": _emb_plan(pq.ann_ivfpq_topk),
    "ann_ivfpq_recall": _emb_plan(pq.ann_ivfpq_recall),
    "dedup_minhash_incremental": _doc_plan(dedup.dedup_minhash_incremental),
    "dedup_kcore": _doc_plan(dedup.dedup_kcore),
    "embedding_knn_accuracy": _emb_plan(kmeans.embedding_knn_accuracy, fan=True),
    "embedding_fisher_ratio": _emb_plan(kmeans.embedding_fisher_ratio, fan=True),
    "embedding_triplets": _emb_plan(kmeans.embedding_triplets, fan=True),
    "embedding_pca_top": _emb_plan(kmeans.embedding_pca_top),
    "doc_embedding_outliers": doc_embedding_outliers,
    "corpus_curation_extended": corpus_curation_extended,
    "ann_sq8_topk": _emb_plan(quant.ann_sq8_topk),
    "ann_sq8_recall": _emb_plan(quant.ann_sq8_recall),
    "ann_bq_topk": _emb_plan(quant.ann_bq_topk),
    "ann_bq_recall": _emb_plan(quant.ann_bq_recall),
    "ann_bq_rerank": _emb_plan(quant.ann_bq_rerank),
    "ann_bq_rerank_recall": _emb_plan(quant.ann_bq_rerank_recall),
    "cluster_topics": lambda spark, sf_dir: kmeans.cluster_topics(
        read_table(spark, sf_dir, "embeddings"),
        fan_out(read_table(spark, sf_dir, "documents")),
    ),
    "curation_yield_report": curation_yield_report,
    "dedup_pair_diffstats": _doc_plan(dedup.dedup_pair_diffstats),
    "ann_ivf_nprobe_curve": _emb_plan(ann.ann_ivf_nprobe_curve),
    "embedding_intrinsic_dim": _emb_plan(kmeans.embedding_intrinsic_dim, fan=True),
    "embedding_silhouette": _emb_plan(kmeans.embedding_silhouette),
    "dedup_threshold_curve": _doc_plan(dedup.dedup_threshold_curve),
    "dedup_prefix_filter": _doc_plan(dedup.dedup_prefix_filter),
    "dedup_label_propagation": _doc_plan(dedup.dedup_label_propagation),
    "embedding_centroid_drift": _emb_plan(kmeans.embedding_centroid_drift),
    "dedup_canonical_election": _doc_plan(dedup.dedup_canonical_election),
    "doc_winnowing_matches": _doc_plan(dedup.doc_winnowing_matches),
    "dedup_strategy_comparison": _doc_plan(dedup.dedup_strategy_comparison),
    "dedup_local_bridges": _doc_plan(dedup.dedup_local_bridges),
    "embedding_norm_health": _emb_plan(kmeans.embedding_norm_health),
}

ORACLES = {
    **dedup.QUERY_SQL,
    **ann.QUERY_SQL,
    **kmeans.QUERY_SQL,
    **pq.QUERY_SQL,
    **quant.QUERY_SQL,
    "corpus_curation": CORPUS_CURATION_SQL,
    "doc_embedding_outliers": DOC_EMBEDDING_OUTLIERS_SQL,
    "corpus_curation_extended": _curation_extended_sql(),
    "curation_yield_report": _curation_yield_sql(),
    "dedup_pair_diffstats": dedup.DEDUP_PAIR_DIFFSTATS_SQL,
}
