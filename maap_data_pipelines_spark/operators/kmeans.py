"""Integer-exact distributed k-means + SemDeDup semantic deduplication.

The missing rung between surface dedup (MinHash/SimHash — near-verbatim
copies) and the embedding near-dup operators: SEMANTIC dedup a la
SemDeDup (Abbas et al., 2023) clusters the corpus in embedding space
with k-means, then searches for duplicates only WITHIN a cluster — the
candidate set per document is a cluster, not the corpus.

Why integer micro-units: float k-means is not reproducible across
engines (centroid means and distance sums depend on reduction order).
Quantizing each embedding to int64 micro-units (floor(x * 1e6)) makes
every Lloyd iteration a pure integer function of the data — squared-L2
distances are exact int64 sums (order-free), centroid updates are
floor(sum/count) with sums < 2^53 (exact in the double division both
engines perform) — so an ITERATIVE clustering algorithm carries a full
value-hash oracle (unrolled MATERIALIZED CTEs), not a rows-only waiver.

Scale shape (the SemDeDup deployment story):
* assignment is a map-only pass: the K centroids ride the UDF closure
  (the MLlib iteration shape) — no shuffle grows with the corpus;
* the update shuffles K x 64 cells (map-side partial sums), independent
  of corpus size; per-round driver synchronization is K rows;
* within-cluster pairing is quadratic IN THE CLUSTER, so K must grow
  with the corpus to hold cluster size ~constant (the SemDeDup paper
  runs K = 50k on LAION); K is a parameter here, fixed to KM_K in the
  registered query only so the oracle SQL is a fixed text.

Magnitude audit (no int64 overflow at 100 TB): |component| <= ~2 in
these embeddings -> micro-units |q| <= 2e6; per-dim squared diff <=
1.6e13; 64-dim distance <= 1e15; per-vector inertia contribution is
floor(dist / 1e6) <= 1e9, so the int64 inertia sum holds past 1e9
vectors per cluster.

Parity with the reference repo: none — this is part of the
LLM-training-data operator battery (SURVEY.md mandate), not a MAAP
lambda.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .ann import (
    EMBED_DIM,
    IVF_TOPK,
    _ivf_sql,
    _recall,
    _recall_sql,
    ann_cosine_topk,
    ann_ivf_topk,
    cosine_sql,
    cosine_udf,
)

KM_K = 8
KM_ITERS = 4
KM_SCALE = 1_000_000
SEMDEDUP_COS = 0.4  # same near-dup bar as embedding_dedup


@pandas_udf(ArrayType(LongType()))
def quantize_udf(a: pd.Series) -> pd.Series:
    """float32 embedding -> int64 micro-units: floor(x::DOUBLE * 1e6).

    float32 -> float64 widening is exact; the *1e6 double product and
    floor are the same IEEE ops DuckDB's ``FLOOR(x::DOUBLE * 1000000)``
    performs, so both engines quantize bit-identically.
    """
    if len(a) == 0:
        return pd.Series([], dtype=object)
    A = np.vstack(a.to_numpy()).astype(np.float64)
    Q = np.floor(A * float(KM_SCALE)).astype(np.int64)
    return pd.Series(list(Q))


# plan control, not semantics (see ann.cosine_udf): stop Catalyst from
# re-evaluating the Arrow call on both sides of a pushed filter/window
quantize_udf = quantize_udf.asNondeterministic()


def _assign_udf(cents: list[tuple[int, list[int]]]):
    """Build the per-iteration assignment UDF closed over the centroids.

    The MLlib KMeans shape: each round's centroids (K x 64 int64 — a few
    KB) are collected to the driver and shipped inside the UDF closure,
    so assignment is a pure map pass — no crossJoin, no broadcast
    exchange, no argmin shuffle. All arithmetic is int64; np.argmin
    returns the FIRST minimal index and the centroid rows are sorted by
    cid, so ties break to the lowest cid — identical to the oracle's
    ``ORDER BY dist, cid``.
    """
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.int64)

    @pandas_udf("cid long, dist long")
    def _a(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame({"cid": [], "dist": []}, dtype="int64")
        A = np.vstack(qv.to_numpy()).astype(np.int64)
        d = A[:, None, :] - C[None, :, :]
        dist = (d * d).sum(axis=2)
        j = dist.argmin(axis=1)
        return pd.DataFrame(
            {"cid": cids[j], "dist": dist[np.arange(len(j)), j]}
        )

    return _a.asNondeterministic()


def _assign(q: DataFrame, cents: list[tuple[int, list[int]]], with_dist: bool = False) -> DataFrame:
    a = _assign_udf(cents)
    out = q.select("vec_id", "qv", a(F.col("qv")).alias("ad"))
    cols = ["vec_id", "qv", F.col("ad.cid").alias("cid")] + (
        [F.col("ad.dist").alias("dist")] if with_dist else []
    )
    return out.select(*cols)


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-dim floor(sum/count) in micro-units.

    One groupBy(cid) with 64 per-dim SUM aggregates (separate agg
    buffers — not a single unrolled expression chain, so codegen is
    safe): map-side combine reduces the shuffle to K x 64 cells
    regardless of corpus size. |sum| < 2^53 so the double division is
    exact before floor. Clusters that lost every member emit no row
    (K shrinks); both engines agree.
    """
    sums = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("c"),
        *[F.sum(F.col("qv")[d]).alias(f"s{d}") for d in range(EMBED_DIM)],
    )
    cv = F.array(
        *[
            F.floor(F.col(f"s{d}") / F.col("c")).cast("long")
            for d in range(EMBED_DIM)
        ]
    )
    return sums.select("cid", cv.alias("cv"))


def _lloyd_round(
    q: DataFrame, cents: list[tuple[int, list[int]]]
) -> list[tuple[int, list[int]]]:
    """One Lloyd iteration as ONE single-stage job (r11, guide §1.2/§4.2).

    Value-identical to ``sorted(_update(_assign(q, cents)).collect())``
    (pinned by tests/test_kmeans.py::test_lloyd_round_matches_unfused):
    assignment uses the same int64 argmin (ties to lowest cid — centroid
    rows are cid-sorted), the per-cluster (count, per-dim sum) partials
    are exact int64 and associative, and the new centroid is the same
    floor(double(sum) / double(count)) both the old plan and the DuckDB
    oracle compute. What changes is the MACHINERY: instead of
    ArrowEvalPython -> partial agg -> Exchange(K x 64 cells) -> final agg
    -> collect (2+ AQE stage jobs per round), one mapInPandas emits <= K
    partial rows per partition and the K-row merge runs on the driver —
    the treeAggregate shape MLlib itself uses. Per-round sync stays K x
    numPartitions tiny rows regardless of corpus size.
    """
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    # ADVICE r11: argmin-ties-to-lowest-cid equals the oracle ONLY when
    # the centroid rows arrive cid-sorted; the old per-round re-sort is
    # gone, so guard the invariant (K elements, free) instead of letting
    # an unsorted seeder diverge silently.
    assert (cids[:-1] <= cids[1:]).all(), "cents must be cid-sorted"
    C = np.array([v for _, v in cents], dtype=np.int64)
    k = len(cids)

    def _partials(batches):
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, EMBED_DIM), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            d = A[:, None, :] - C[None, :, :]
            j = (d * d).sum(axis=2).argmin(axis=1)
            counts += np.bincount(j, minlength=k)
            np.add.at(sums, j, A)
        nz = np.flatnonzero(counts)
        if len(nz):
            yield pd.DataFrame(
                {"i": nz, "c": counts[nz], "s": [sums[i] for i in nz]}
            )

    parts = q.select("qv").mapInPandas(
        _partials, "i long, c long, s array<long>"
    ).collect()
    counts = np.zeros(k, dtype=np.int64)
    sums = np.zeros((k, EMBED_DIM), dtype=np.int64)
    for r in parts:
        counts[r.i] += r.c
        sums[r.i] += np.asarray(r.s, dtype=np.int64)
    return [
        (
            int(cids[i]),
            [
                int(x)
                for x in np.floor(
                    sums[i].astype(np.float64) / np.float64(counts[i])
                ).astype(np.int64)
            ],
        )
        for i in np.flatnonzero(counts)
    ]


def _lloyd_centroids(
    emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Run Lloyd's rounds; return (checkpointed quantized corpus, centroids)."""
    q = emb.select(
        "vec_id", quantize_udf(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)
    cents = sorted(
        (r.cid, list(r.cv))
        for r in q.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
        .collect()
    )
    for _ in range(iters):
        cents = _lloyd_round(q, cents)
    return q, cents


def _final_assignment(emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS) -> DataFrame:
    """Lloyd's algorithm, ``iters`` fixed rounds; returns (vec_id, cid, dist).

    The quantized corpus is localCheckpoint-ed once; every iteration is
    ONE distributed job: map-pass assignment (UDF closed over the
    collected centroids) + the K x 64-cell update shuffle, then the K
    new centroid rows return to the driver — the MLlib iteration shape,
    where per-round synchronization cost is K rows regardless of corpus
    size. The returned final assignment is lazy (no collect of anything
    corpus-sized anywhere).
    """
    q, cents = _lloyd_centroids(emb, k=k, iters=iters)
    return _assign(q, cents, with_dist=True).select("vec_id", "cid", "dist")


def embedding_kmeans(emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS) -> DataFrame:
    """K-means cluster summary: (cluster_id, n_vecs, inertia_k).

    inertia_k = sum of floor(dist / 1e6) per member — the within-cluster
    scatter in milli-unit^2, the quantity Lloyd's descends; watch it
    across reruns/ingests as the drift monitor for the semantic index.
    """
    af = _final_assignment(emb, k=k, iters=iters)
    return af.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.expr(f"dist div {KM_SCALE}")).alias("inertia_k"),
    )


def semantic_dedup(emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS) -> DataFrame:
    """SemDeDup: within-cluster cosine near-dups; min vec_id survives.

    Pairs are generated ONLY inside a k-means cluster (equi-join on cid,
    vec_id ordering halves it) — the corpus-scale candidate structure —
    then verified with exact cosine >= SEMDEDUP_COS. Output one row per
    vector: (vec_id, cluster_id, keep).
    """
    af = (
        _final_assignment(emb, k=k, iters=iters)
        .select("vec_id", "cid")
        .localCheckpoint(eager=False)
    )
    vecs = emb.select("vec_id", "embedding")
    a = af.join(vecs, "vec_id").select(
        F.col("vec_id").alias("va"), "cid", F.col("embedding").alias("ea")
    )
    b = af.join(vecs, "vec_id").select(
        F.col("vec_id").alias("vb"), "cid", F.col("embedding").alias("eb")
    )
    drops = (
        a.join(b, "cid")
        .filter(F.col("va") < F.col("vb"))
        .filter(
            F.round(cosine_udf(F.col("ea"), F.col("eb")), 6) >= SEMDEDUP_COS
        )
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return af.join(drops, "vec_id", "left").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("dropped").isNull().alias("keep"),
    )


# -- DuckDB oracle (unrolled MATERIALIZED CTEs, textually parallel) --------


def _qv_sql() -> str:
    terms = ", ".join(
        f"CAST(FLOOR(embedding[{i}]::DOUBLE * {KM_SCALE}) AS BIGINT)"
        for i in range(1, EMBED_DIM + 1)
    )
    return f"SELECT vec_id, [{terms}] AS qv FROM embeddings"


def _dist_sql(a: str, b: str) -> str:
    return " + ".join(
        f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])" for i in range(1, EMBED_DIM + 1)
    )


def _kmeans_ctes(k: int = KM_K, iters: int = KM_ITERS) -> str:
    ctes = [
        f"qemb AS MATERIALIZED ({_qv_sql()})",
        f"c0 AS (SELECT vec_id AS cid, qv AS cv FROM qemb WHERE vec_id < {k})",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT vec_id, qv, cid FROM (
    SELECT e.vec_id, e.qv, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dist_sql('e.qv', 'c.cv')} ASC, c.cid) AS r
    FROM qemb e CROSS JOIN c{i - 1} c
  ) WHERE r = 1)"""
        )
        means = ", ".join(
            f"CAST(FLOOR(SUM(qv[{d}])::DOUBLE / COUNT(*)) AS BIGINT)"
            for d in range(1, EMBED_DIM + 1)
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT cid, [{means}] AS cv FROM a{i} GROUP BY cid)"
        )
    ctes.append(
        f"""af AS MATERIALIZED (
  SELECT vec_id, cid, dist FROM (
    SELECT e.vec_id, c.cid, {_dist_sql('e.qv', 'c.cv')} AS dist,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dist_sql('e.qv', 'c.cv')} ASC, c.cid) AS r
    FROM qemb e CROSS JOIN c{iters} c
  ) WHERE r = 1)"""
    )
    return "WITH " + ",\n".join(ctes)


EMBEDDING_KMEANS_SQL = f"""
{_kmeans_ctes()}
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(FLOOR(dist::DOUBLE / {KM_SCALE}) AS BIGINT)) AS BIGINT) AS inertia_k
FROM af GROUP BY cid
"""

SEMANTIC_DEDUP_SQL = f"""
{_kmeans_ctes()},
drops AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6) >= {SEMDEDUP_COS}
)
SELECT f.vec_id, f.cid AS cluster_id, (d.vec_id IS NULL) AS keep
FROM af f LEFT JOIN drops d ON f.vec_id = d.vec_id
"""

QUERY_SQL = {
    "embedding_kmeans": EMBEDDING_KMEANS_SQL,
    "semantic_dedup": SEMANTIC_DEDUP_SQL,
}


# -- learned-centroid IVF (k-means quantizer instead of first-K) -----------


def kmeans_centroids(emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS) -> DataFrame:
    """The learned coarse quantizer: Lloyd centroids as float vectors.

    Micro-unit int64 centroids scale back to doubles (v / 1e6 — the
    identical IEEE division the oracle performs on cv[i] / 1000000.0),
    shaped like :func:`ann.ivf_centroids`'s (centroid_id, cemb) so the
    whole IVF machinery (assignment, persisted layout, search, recall
    monitors) runs on the LEARNED quantizer unchanged. K rows build
    driver-side from the collected centroids.
    """
    spark = emb.sparkSession
    _, cents = _lloyd_centroids(emb, k=k, iters=iters)
    rows = [(cid, [v / 1e6 for v in cv]) for cid, cv in cents]
    return spark.createDataFrame(rows, "centroid_id long, cemb array<double>")


def ann_ivf_kmeans_topk(emb: DataFrame) -> DataFrame:
    """IVF search over the k-means-learned quantizer (nprobe=1).

    The production upgrade of ann_ivf_topk's deterministic first-K
    quantizer: data-adapted cells balance list sizes and tighten cell
    boundaries; same assignment, ranking, and tie rules.
    """
    return ann_ivf_topk(emb, nprobe=1, cents=kmeans_centroids(emb))


def ann_ivf_kmeans_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 of the learned-quantizer IVF vs brute truth, per query."""
    return _recall(
        ann_cosine_topk(emb).filter(F.col("rnk") <= IVF_TOPK),
        ann_ivf_kmeans_topk(emb),
    )


def _ivf_kmeans_sql() -> str:
    scaled = ", ".join(f"cv[{i}] / 1000000.0" for i in range(1, EMBED_DIM + 1))
    return _ivf_sql(
        1,
        prelude=f"{_kmeans_ctes()},",
        cents=f"cents AS (SELECT cid AS centroid_id, [{scaled}] AS cemb FROM c{KM_ITERS})",
    )


QUERY_SQL.update(
    {
        "ann_ivf_kmeans_topk": _ivf_kmeans_sql(),
        "ann_ivf_kmeans_recall": _recall_sql(_ivf_kmeans_sql()),
    }
)


# -- supervised class prototypes (nearest-centroid classification) ---------


def _label_sums(emb: DataFrame) -> DataFrame:
    q = emb.select("label", quantize_udf(F.col("embedding")).alias("qv"))
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        *[F.sum(F.col("qv")[d]).alias(f"s{d}") for d in range(EMBED_DIM)],
    )


def embedding_label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean embedding (class prototypes) in int64 micro-units.

    The building block of nearest-centroid labeling / prototype networks
    / dataset cartography: one groupBy(label) with 64 per-dim sums
    (map-side combine -> K x 64 shuffle cells regardless of corpus
    size), centroid = floor(sum/count) in micro-units — the same exact
    integer discipline as the k-means update, so the whole artifact is
    value-hash-oracled. Emitted tall (label, dim, centroid_micro,
    n_vectors): K x 64 rows, the layout a downstream join consumes.
    """
    sums = _label_sums(emb)
    cv = F.array(
        *[
            F.floor(F.col(f"s{d}") / F.col("n_vectors")).cast("long")
            for d in range(EMBED_DIM)
        ]
    )
    wide = sums.select("label", "n_vectors", cv.alias("cv"))
    return wide.select(
        "label",
        "n_vectors",
        F.posexplode(F.col("cv")).alias("pos", "centroid_micro"),
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("dim"),
        "centroid_micro",
        "n_vectors",
    )


def embedding_label_confusion(emb: DataFrame) -> DataFrame:
    """Nearest-centroid classification confusion matrix (exact int64).

    How separable are the labels in embedding space? Assign every vector
    to its nearest CLASS PROTOTYPE (integer L2 in micro-units, ties to
    the lowest label) and cross-tabulate true vs predicted — the
    zero-training classifier whose diagonal mass is the standard quick
    read on embedding quality before anything expensive trains on them.

    Scale shape: prototypes are a K x 64 int64 table (a few KB) that
    rides the assignment UDF closure (the MLlib pattern shared with
    Lloyd's iteration — one bounded driver collect, then a pure map
    pass); the confusion rollup is a K x K-cell hash agg. Output:
    (true_label, pred_label, n_vecs).
    """
    # Python int // floors (identical to the F.floor(sum/count) the tall
    # centroid artifact publishes; |sum| < 2^53 keeps both exact)
    sums = _label_sums(emb).collect()
    cents = sorted(
        (
            int(r["label"]),
            [r[f"s{d}"] // r["n_vectors"] for d in range(EMBED_DIM)],
        )
        for r in sums
    )
    a = _assign_udf(cents)
    assigned = emb.select(
        "label", a(quantize_udf(F.col("embedding"))).alias("ad")
    ).select("label", F.col("ad.cid").alias("cid"))
    return assigned.groupBy(
        F.col("label").alias("true_label"),
        F.col("cid").alias("pred_label"),
    ).agg(F.count(F.lit(1)).alias("n_vecs"))


def _qv_terms_sql() -> str:
    """The quantized-embedding list literal (shared by _qv_sql and the
    label-centroid CTEs, which also need the label column)."""
    return ", ".join(
        f"CAST(FLOOR(embedding[{i}]::DOUBLE * {KM_SCALE}) AS BIGINT)"
        for i in range(1, EMBED_DIM + 1)
    )


LABEL_CENTROIDS_SQL = f"""
WITH qemb AS MATERIALIZED (
  SELECT vec_id, label, [{_qv_terms_sql()}] AS qv FROM embeddings
),
cent AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         [{", ".join(f"CAST(FLOOR(SUM(qv[{d}])::DOUBLE / COUNT(*)) AS BIGINT)" for d in range(1, EMBED_DIM + 1))}] AS cv
  FROM qemb GROUP BY label
)
SELECT label,
       unnest(range(1, {EMBED_DIM + 1})) AS dim,
       unnest(cv) AS centroid_micro,
       n_vectors
FROM cent
"""


LABEL_CONFUSION_SQL = f"""
WITH qemb AS MATERIALIZED (
  SELECT vec_id, label, [{_qv_terms_sql()}] AS qv FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label AS clabel,
         [{", ".join(f"CAST(FLOOR(SUM(qv[{d}])::DOUBLE / COUNT(*)) AS BIGINT)" for d in range(1, EMBED_DIM + 1))}] AS cv
  FROM qemb GROUP BY label
),
assigned AS (
  SELECT vec_id, label, clabel FROM (
    SELECT e.vec_id, e.label, c.clabel,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dist_sql('e.qv', 'c.cv')} ASC, c.clabel) AS r
    FROM qemb e CROSS JOIN cent c
  ) WHERE r = 1
)
SELECT label AS true_label, CAST(clabel AS BIGINT) AS pred_label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM assigned GROUP BY 1, 2
"""

QUERY_SQL["embedding_label_centroids"] = LABEL_CENTROIDS_SQL
QUERY_SQL["embedding_label_confusion"] = LABEL_CONFUSION_SQL


# --- 1-NN label probe: the standard embedding-quality eval ----------------

KNN_EVAL_N = 100  # bounded eval slice (vec_id < KNN_EVAL_N)


def embedding_knn_accuracy(emb: DataFrame) -> DataFrame:
    """Leave-one-out 1-NN label accuracy per class, exact int64.

    The kNN probe every embedding-model eval starts with, one rung above
    :func:`embedding_label_confusion`'s prototype classifier: each eval
    vector (a bounded slice, vec_id < KNN_EVAL_N) is labeled by its
    single nearest OTHER vector under integer-L2 in micro-units — no
    prototypes, so it measures local neighborhood purity rather than
    global class separation; the gap between the two numbers is the
    classic "classes are multi-modal" diagnostic. Deterministic ties
    (dist, vec_id), exact counts, one division+round per class row.

    Scale shape: the same documented eval-bounded scan class as
    ann_cosine_topk — KNN_EVAL_N x corpus Arrow-batched rows, linear in
    the corpus, constant in eval size; per-class output is label-count
    rows.
    """
    from pyspark.sql.window import Window

    from .pq import _l2_udf  # deferred: pq imports this module

    q = emb.select(
        "vec_id", "label", quantize_udf(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)
    ev = q.filter(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("eval_id"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("qq"),
    )
    scored = (
        q.crossJoin(F.broadcast(ev))
        .filter(F.col("vec_id") != F.col("eval_id"))
        .select(
            "eval_id",
            "true_label",
            "vec_id",
            F.col("label").alias("pred_label"),
            _l2_udf(F.col("qv"), F.col("qq")).alias("dist"),
        )
    )
    w = Window.partitionBy("eval_id").orderBy("dist", "vec_id")
    nn = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("eval_id", "true_label", "pred_label")
    )
    return (
        nn.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .withColumn(
            "accuracy", F.round(F.col("n_correct") / F.col("n_eval"), 6)
        )
    )


KNN_ACCURACY_SQL = f"""
WITH qemb AS MATERIALIZED (
  SELECT vec_id, label, [{_qv_terms_sql()}] AS qv FROM embeddings
),
ev AS (
  SELECT vec_id AS eval_id, label AS true_label, qv AS qq
  FROM qemb WHERE vec_id < {KNN_EVAL_N}
),
nn AS (
  SELECT eval_id, true_label, pred_label FROM (
    SELECT v.eval_id, v.true_label, e.label AS pred_label,
           row_number() OVER (
             PARTITION BY v.eval_id
             ORDER BY {_dist_sql('e.qv', 'v.qq')} ASC, e.vec_id) AS r
    FROM qemb e CROSS JOIN ev v
    WHERE e.vec_id <> v.eval_id
  ) WHERE r = 1
)
SELECT true_label,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                  AS BIGINT) / CAST(COUNT(*) AS BIGINT), 6) AS accuracy
FROM nn
GROUP BY true_label
"""

QUERY_SQL["embedding_knn_accuracy"] = KNN_ACCURACY_SQL


def embedding_fisher_ratio(emb: DataFrame) -> DataFrame:
    """Per-dimension Fisher discriminant ratio: between-class over
    within-class scatter, exact int64 micro-units.

    The feature-level drill-down under the classifier probes: which of
    the 64 dimensions actually carry label signal? Scatters are computed
    around the FLOORED integer centroids (the same artifact
    embedding_label_centroids emits), so every term is exact:
    between_d = sum_l n_l*(c_l,d - g_d)^2 (g = floored global mean),
    within_d = sum_x (x_d - c_label(x),d)^2, fisher = one division,
    round 6. High-fisher dims drive separability (and are what a
    matryoshka-style truncation should keep); a flat profile says the
    signal is distributed — the diagnostic read before any projection.

    Scale shape: centroids are a K x 64 aggregate; the within pass is
    one broadcast join on label + zip_with + posexplode into a 64-cell
    map-side-combined aggregate — linear, one scan.
    """
    q = emb.select(
        "label", quantize_udf(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)
    # The 64 per-dimension sums are one parsed expression, not 64 Columns
    # built a py4j round trip at a time; the floored means are one
    # transform over them.
    dim_sums = F.expr(_DIM_SUMS_SQL).alias("s")
    floor_means = "transform(s, x -> CAST(FLOOR(x / {}) AS BIGINT))".format
    cents = (
        q.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vectors"), dim_sums)
        .select("label", "n_vectors", F.expr(floor_means("n_vectors")).alias("cv"))
    )
    gm = q.agg(F.count(F.lit(1)).alias("n_all"), dim_sums).select(
        F.expr(floor_means("n_all")).alias("gv")
    )
    between = (
        cents.crossJoin(F.broadcast(gm))
        .select(
            F.posexplode(
                F.expr("zip_with(cv, gv, (c, g) -> n_vectors * (c - g) * (c - g))")
            ).alias("pos", "b")
        )
        .groupBy("pos")
        .agg(F.sum("b").alias("between_ss"))
    )
    within = (
        q.join(F.broadcast(cents.select("label", "cv")), "label")
        .select(
            F.posexplode(
                F.expr("zip_with(qv, cv, (x, c) -> (x - c) * (x - c))")
            ).alias("pos", "wsq")
        )
        .groupBy("pos")
        .agg(F.sum("wsq").alias("within_ss"))
    )
    return (
        between.join(within, "pos")
        .select(
            (F.col("pos") + 1).cast("long").alias("dim"),
            "between_ss",
            "within_ss",
            F.round(F.col("between_ss") / F.col("within_ss"), 6).alias("fisher"),
        )
    )


_DIM_SUMS_SQL = "array({})".format(
    ", ".join(f"sum(qv[{d}])" for d in range(EMBED_DIM))
)

_FISHER_CENT_MEANS = ", ".join(
    f"CAST(FLOOR(SUM(qv[{d}])::DOUBLE / COUNT(*)) AS BIGINT)"
    for d in range(1, EMBED_DIM + 1)
)

FISHER_RATIO_SQL = f"""
WITH qemb AS MATERIALIZED (
  SELECT vec_id, label, [{_qv_terms_sql()}] AS qv FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label, COUNT(*) AS n_vectors, [{_FISHER_CENT_MEANS}] AS cv
  FROM qemb GROUP BY label
),
gm AS (
  SELECT [{_FISHER_CENT_MEANS}] AS gv FROM qemb
),
between_ AS (
  SELECT g.i AS pos,
         CAST(SUM(c.n_vectors * (c.cv[g.i] - gm.gv[g.i])
                  * (c.cv[g.i] - gm.gv[g.i])) AS BIGINT) AS between_ss
  FROM cent c CROSS JOIN gm, UNNEST(generate_series(1, {EMBED_DIM})) AS g(i)
  GROUP BY g.i
),
within_ AS (
  SELECT g.i AS pos,
         CAST(SUM((e.qv[g.i] - c.cv[g.i]) * (e.qv[g.i] - c.cv[g.i]))
              AS BIGINT) AS within_ss
  FROM qemb e JOIN cent c USING (label),
       UNNEST(generate_series(1, {EMBED_DIM})) AS g(i)
  GROUP BY g.i
)
SELECT CAST(b.pos AS BIGINT) AS dim, b.between_ss, w.within_ss,
       ROUND(b.between_ss / w.within_ss, 6) AS fisher
FROM between_ b JOIN within_ w ON b.pos = w.pos
"""

QUERY_SQL["embedding_fisher_ratio"] = FISHER_RATIO_SQL


TRIPLET_EVAL_N = 100  # bounded anchor slice (vec_id < TRIPLET_EVAL_N)


def embedding_triplets(emb: DataFrame) -> DataFrame:
    """Triplet mining: (anchor, hardest positive, hardest negative).

    The training artifact metric-learning / contrastive fine-tuning
    consumes: for each anchor (bounded slice, vec_id < TRIPLET_EVAL_N)
    pick the NEAREST other vector sharing its label (the easy positive)
    and the NEAREST vector with a DIFFERENT label (the hard negative —
    the pair that actually shapes the margin). Distances are exact
    int64 micro-unit L2, ties (dist, vec_id); ``margin_ok`` flags
    anchors whose positive is strictly closer than their negative —
    the fraction of true triplets IS the batch's triplet-accuracy
    metric, so the miner and its quality meter are one output.

    Scale shape: one eval-bounded Arrow-batched scan (the documented
    ann_cosine_topk class) feeding two conditional-min window picks —
    no second corpus pass for the negative side.
    """
    from pyspark.sql.window import Window

    from .pq import _l2_udf  # deferred: pq imports this module

    q = emb.select(
        "vec_id", "label", quantize_udf(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)
    anchors = q.filter(F.col("vec_id") < TRIPLET_EVAL_N).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("qv").alias("aq"),
    )
    scored = (
        q.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            _l2_udf(F.col("qv"), F.col("aq")).alias("dist"),
        )
    )
    w = Window.partitionBy("anchor_id")
    same = F.col("label") == F.col("anchor_label")
    picked = (
        scored.withColumn(
            "pos_key",
            F.min(F.when(same, F.struct("dist", "vec_id"))).over(w),
        )
        .withColumn(
            "neg_key",
            F.min(F.when(~same, F.struct("dist", "vec_id"))).over(w),
        )
        .groupBy("anchor_id", "anchor_label")
        .agg(F.first("pos_key").alias("p"), F.first("neg_key").alias("n"))
    )
    # anchors whose label has no second member (or no other label) have no
    # valid triplet — dropped, matching the oracle's inner join
    return (
        picked.filter(F.col("p").isNotNull() & F.col("n").isNotNull())
        .select(
            "anchor_id",
            "anchor_label",
            F.col("p.vec_id").alias("positive_id"),
            F.col("p.dist").alias("pos_dist"),
            F.col("n.vec_id").alias("negative_id"),
            F.col("n.dist").alias("neg_dist"),
            (F.col("p.dist") < F.col("n.dist")).cast("long").alias("margin_ok"),
        )
    )


EMBEDDING_TRIPLETS_SQL = f"""
WITH qemb AS MATERIALIZED (
  SELECT vec_id, label, [{_qv_terms_sql()}] AS qv FROM embeddings
),
anchors AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, qv AS aq
  FROM qemb WHERE vec_id < {TRIPLET_EVAL_N}
),
scored AS (
  SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
         CAST({_dist_sql('e.qv', 'a.aq')} AS BIGINT) AS dist
  FROM qemb e CROSS JOIN anchors a
  WHERE e.vec_id <> a.anchor_id
),
pos AS (
  SELECT anchor_id, anchor_label, vec_id AS positive_id, dist AS pos_dist
  FROM scored WHERE label = anchor_label
  QUALIFY row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) = 1
),
neg AS (
  SELECT anchor_id, vec_id AS negative_id, dist AS neg_dist
  FROM scored WHERE label <> anchor_label
  QUALIFY row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) = 1
)
SELECT p.anchor_id, p.anchor_label, p.positive_id, p.pos_dist,
       n.negative_id, n.neg_dist,
       CAST(CASE WHEN p.pos_dist < n.neg_dist THEN 1 ELSE 0 END AS BIGINT)
         AS margin_ok
FROM pos p JOIN neg n USING (anchor_id)
"""

QUERY_SQL["embedding_triplets"] = EMBEDDING_TRIPLETS_SQL


# --- distributed PCA: top principal component via power iteration ---------

PCA_ITERS = 3
PCA_VSCALE = 1000  # per-round renormalization: v <- w * 1000 div max|w|


def embedding_pca_top(emb: DataFrame) -> DataFrame:
    """Top principal direction of the embedding cloud, integer-exact.

    Distributed PCA's two halves, both in the engine's exact discipline:

    1. the CENTERED second-moment matrix C[d,e] = sum (x_d - g_d)(x_e -
       g_e) over the corpus, where g is the floored integer mean — the
       classic A^T A explode-join (two posexplodes joined on vec_id,
       4096 cells after map-side combine; at larger widths this becomes
       one mapInPandas outer-product pass, same cells);
    2. POWER ITERATION for the dominant eigenvector: v_{t+1} =
       (C v_t) div max(1, max|C v_t| div 1000) — max-abs renormalization
       to ~+-1000 with the DIVISOR pre-scaled (divide-first keeps every
       intermediate inside int64; a w*1000 numerator overflows at round
       2), replacing the float 2-norm; the direction converges
       identically, only the scale convention differs. PCA_ITERS fixed rounds, both engines run exactly the
       same unrolled recurrence, so the oracle value-hashes the entire
       pipeline. int64 headroom: |C| <= (2e6)^2 * N needs N < 2e6 at
       micro scale — rescale the quantizer before larger corpora.

    The deflation-free top component is the embedding-drift monitor
    (compare across snapshots) and the whitening/centering input every
    downstream projection starts with.

    Output: (dim, component_scaled) — 64 rows, max-abs-normalized to
    roughly +-1000 (exact bound 1000 + divisor truncation slack).
    """
    q = _micro_with_id(emb)
    gm = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col("qv")[d]).alias(f"s{d}") for d in range(EMBED_DIM)],
    ).select(
        F.array(
            *[
                F.floor(F.col(f"s{d}") / F.col("n")).cast("long")
                for d in range(EMBED_DIM)
            ]
        ).alias("gv")
    )
    centered = q.crossJoin(F.broadcast(gm)).select(
        "vec_id", F.expr("zip_with(qv, gv, (x, g) -> x - g)").alias("xc")
    )
    a = centered.select("vec_id", F.posexplode("xc").alias("d", "xd"))
    b = centered.select("vec_id", F.posexplode("xc").alias("e", "xe"))
    cov = (
        a.join(b, "vec_id")
        .groupBy("d", "e")
        .agg(F.sum(F.col("xd") * F.col("xe")).alias("c"))
    )
    # power iteration (r11): the covariance is DIM x DIM = 4096 bounded
    # cells, so ONE collect fetches it and the 3 matvec rounds run on the
    # driver — was 3 driver-synced Spark jobs over the cached 4096-row
    # frame (guide §1.2: don't pay per-round job machinery for K-row
    # state). int64 numpy matvec keeps Spark's exact SUM(c * v[e])
    # semantics within the documented no-overflow headroom; values are
    # bit-identical (pinned by the oracle and the PCA tests).
    C = np.zeros((EMBED_DIM, EMBED_DIM), dtype=np.int64)
    for r in cov.collect():
        C[r.d, r.e] = r.c
    v = np.ones(EMBED_DIM, dtype=np.int64)
    for _ in range(PCA_ITERS):
        wvec = C @ v
        s = int(np.abs(wvec).max()) or 1
        sv = max(1, s // PCA_VSCALE)
        v = np.array(
            [int(x) // sv if x >= 0 else -((-int(x)) // sv) for x in wvec],
            dtype=np.int64,
        )
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(d + 1, int(v[d])) for d in range(EMBED_DIM)],
        "dim long, component_scaled long",
    )


def _micro_with_id(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", quantize_udf(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)


def _pca_sql() -> str:
    """Unrolled power-iteration oracle over the centered moment matrix.

    Truncating division must match Python's behavior on negatives:
    Python // floors while DuckDB // truncates, so the Spark/driver side
    uses sign-split magnitude division (-((-x) * S // s)) and the SQL
    mirrors it with the same CASE.
    """
    gm_terms = ", ".join(
        f"CAST(FLOOR(SUM(qv[{d}])::DOUBLE / COUNT(*)) AS BIGINT)"
        for d in range(1, EMBED_DIM + 1)
    )
    ctes = [
        f"qemb AS MATERIALIZED ({_qv_sql()})",
        f"gm AS (SELECT [{gm_terms}] AS gv FROM qemb)",
        f"""centered AS MATERIALIZED (
  SELECT vec_id,
         [{", ".join(f"qv[{d}] - gv[{d}]" for d in range(1, EMBED_DIM + 1))}] AS xc
  FROM qemb CROSS JOIN gm)""",
        f"""cov AS MATERIALIZED (
  SELECT ga.i AS d, gb.i AS e,
         CAST(SUM(c.xc[ga.i] * c.xc[gb.i]) AS BIGINT) AS c
  FROM centered c,
       UNNEST(generate_series(1, {EMBED_DIM})) AS ga(i),
       UNNEST(generate_series(1, {EMBED_DIM})) AS gb(i)
  GROUP BY ga.i, gb.i)""",
        f"""v0 AS (SELECT unnest(generate_series(1, {EMBED_DIM})) AS d, CAST(1 AS BIGINT) AS v)""",
    ]
    for i in range(1, PCA_ITERS + 1):
        ctes.append(
            f"""w{i} AS MATERIALIZED (
  SELECT cov.d, CAST(SUM(cov.c * v.v) AS BIGINT) AS w
  FROM cov JOIN v{i - 1} v ON v.d = cov.e
  GROUP BY cov.d)"""
        )
        ctes.append(
            f"""v{i} AS MATERIALIZED (
  SELECT d, CASE WHEN w >= 0
                 THEN w // (SELECT GREATEST(GREATEST(MAX(ABS(w)), 1) // {PCA_VSCALE}, 1) FROM w{i})
                 ELSE -((-w) // (SELECT GREATEST(GREATEST(MAX(ABS(w)), 1) // {PCA_VSCALE}, 1) FROM w{i}))
            END AS v
  FROM w{i})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(d AS BIGINT) AS dim, v AS component_scaled FROM v{PCA_ITERS}
"""
    )


EMBEDDING_PCA_TOP_SQL = _pca_sql()

QUERY_SQL["embedding_pca_top"] = EMBEDDING_PCA_TOP_SQL


# -- cluster topic keywords (c-TF-IDF over the k-means assignment) ----------

TOPIC_TOPK = 5


def cluster_topics(emb: DataFrame, docs: DataFrame) -> DataFrame:
    """Top-5 keywords per semantic cluster: BERTopic's c-TF-IDF read.

    The "what IS this cluster" browse layer over the k-means index: each
    cluster's member documents (doc_id == vec_id, the cross-table
    convention) concatenate into one virtual class-document; a term's
    class weight is its in-cluster share times a rational IDF surrogate
    over CLUSTERS (idf_s = K*1000 div (n_clusters_with_term + 1) — the
    bm25_topk lesson: no transcendental crosses the oracle boundary):

        score = ((ctf * 1e6) div cluster_tokens) * idf_s

    exact int64 end to end, so the per-cluster top-5 (score desc, term
    asc) is reshard-stable and the WHOLE composition — four driver-synced
    Lloyd rounds included — carries one value-hash oracle (the unrolled
    kmeans MATERIALIZED CTEs reused verbatim).

    Scale shape: assignment is the Lloyd map pass; the term stage is one
    (cid, term) hash-agg (map-side combined, vocabulary-bounded shuffle,
    never corpus-bounded) + a K-row totals broadcast; top-k is a window
    over (cid, term) rows with WindowGroupLimit pushdown. The
    assignment frame (corpus-sized) and the per-term cdf frame
    (vocabulary-sized) are scale_pin'd: at 300x AQE tried to BROADCAST
    one of them ("Not enough memory to build and broadcast the table",
    r11 sweep) — above the gate both joins pin sort-merge.
    """
    from pyspark.sql.window import Window

    from ..functions.joins import scale_pin
    from .text import words_col

    n_vecs = emb.count()
    af = _final_assignment(emb).select("vec_id", "cid")
    terms = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.explode(words_col(F.lower(F.col("text")))).alias("term"),
    ).join(scale_pin(af, n_vecs), "vec_id")
    ctf = terms.groupBy("cid", "term").agg(F.count(F.lit(1)).alias("ctf"))
    totals = ctf.groupBy("cid").agg(F.sum("ctf").alias("cluster_tokens"))
    cdf = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("cdf"))
    n_clusters = totals.groupBy().agg(F.count(F.lit(1)).alias("k"))
    scored = (
        ctf.join(F.broadcast(totals), "cid")
        .join(scale_pin(cdf, n_vecs), "term")
        .crossJoin(F.broadcast(n_clusters))
        .withColumn(
            "score",
            F.expr("((ctf * 1000000) div cluster_tokens) * ((k * 1000) div (cdf + 1))"),
        )
    )
    w = Window.partitionBy("cid").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOPIC_TOPK)
        .select(
            F.col("cid").alias("cluster_id"),
            "rnk",
            "term",
            "ctf",
            "cluster_tokens",
            F.col("cdf").alias("n_clusters_with_term"),
            "score",
        )
    )


CLUSTER_TOPICS_SQL = f"""
{_kmeans_ctes()},
terms AS (
  SELECT a.cid, unnest(string_split(lower(d.text), ' ')) AS term
  FROM documents d JOIN af a ON a.vec_id = d.doc_id
),
ctf AS (SELECT cid, term, CAST(COUNT(*) AS BIGINT) AS ctf FROM terms GROUP BY 1, 2),
totals AS (SELECT cid, CAST(SUM(ctf) AS BIGINT) AS cluster_tokens FROM ctf GROUP BY 1),
cdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cdf FROM ctf GROUP BY 1),
nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM totals),
scored AS (
  SELECT ctf.cid, ctf.term, ctf.ctf, t.cluster_tokens, c.cdf,
         ((ctf.ctf * 1000000) // t.cluster_tokens) * ((nk.k * 1000) // (c.cdf + 1)) AS score
  FROM ctf JOIN totals t USING (cid) JOIN cdf c USING (term) CROSS JOIN nk
)
SELECT cid AS cluster_id,
       row_number() OVER (PARTITION BY cid ORDER BY score DESC, term) AS rnk,
       term, ctf, cluster_tokens, cdf AS n_clusters_with_term,
       CAST(score AS BIGINT) AS score
FROM scored
QUALIFY rnk <= {TOPIC_TOPK}
"""

QUERY_SQL["cluster_topics"] = CLUSTER_TOPICS_SQL


def embedding_intrinsic_dim(emb: DataFrame) -> DataFrame:
    """TWO-NN intrinsic-dimension estimate of the embedding manifold.

    Facco et al. (2017): for each point the ratio mu = r2/r1 of its two
    nearest-neighbor distances is (under local uniformity) Pareto with
    shape = the INTRINSIC dimension — the manifold dimension the data
    actually occupies, regardless of the 64 ambient dims. The MLE is
    d = n / sum ln(mu_i); with squared integer distances that is
    2n / sum(ln d2 - ln d1). The read before choosing index parameters:
    quantizers, LSH plane counts and recall targets all scale with
    INTRINSIC, not ambient, dimension.

    Engine parity: each per-point term is quantized to an int64 micro
    value (one ROUND of a double both engines compute identically), so
    the cross-partition SUM is exact integer arithmetic — no float
    association order anywhere. Eval slice bounded (vec_id <
    KNN_EVAL_N), exact 2-NN via the documented eval-bounded brute scan
    (linear in corpus, constant in eval size); zero-distance duplicates
    excluded (they carry no ratio information).
    """
    from pyspark.sql.window import Window

    from .pq import _l2_udf  # deferred: pq imports this module

    q = emb.select("vec_id", quantize_udf(F.col("embedding")).alias("qv")).localCheckpoint(eager=False)
    ev = q.filter(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("eval_id"), F.col("qv").alias("qq")
    )
    scored = (
        q.crossJoin(F.broadcast(ev))
        .filter(F.col("vec_id") != F.col("eval_id"))
        .select("eval_id", "vec_id", _l2_udf(F.col("qv"), F.col("qq")).alias("dist"))
        .filter(F.col("dist") > 0)
    )
    w = Window.partitionBy("eval_id").orderBy("dist", "vec_id")
    two = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 2)
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_nn"),
            F.min("dist").alias("d1"),
            F.max("dist").alias("d2"),
        )
        .filter(F.col("n_nn") == 2)
    )
    terms = two.select(
        F.round((F.log(F.col("d2")) - F.log(F.col("d1"))) * 1_000_000)
        .cast("long")
        .alias("term_micro")
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("term_micro").alias("sum_ln_ratio_micro"),
    ).select(
        "n_points",
        "sum_ln_ratio_micro",
        # NULLIF: on a corpus where every eval point's two NNs are
        # equidistant (e.g. exact-duplicate replication), every ln-ratio
        # term is 0 and the MLE is undefined — report NULL, don't divide
        F.expr(
            "ROUND(CAST(n_points AS DOUBLE) * 2000000"
            " / NULLIF(sum_ln_ratio_micro, 0), 3)"
        ).alias("intrinsic_dim"),
    )


INTRINSIC_DIM_SQL = f"""
WITH q AS MATERIALIZED ({_qv_sql()}),
ev AS (SELECT vec_id AS eval_id, qv AS qq FROM q WHERE vec_id < {KNN_EVAL_N}),
scored AS (
  SELECT e.eval_id, c.vec_id, {_dist_sql('c.qv', 'e.qq')} AS dist
  FROM q c CROSS JOIN ev e
  WHERE c.vec_id <> e.eval_id AND {_dist_sql('c.qv', 'e.qq')} > 0
),
two AS (
  SELECT eval_id, COUNT(*) AS n_nn, MIN(dist) AS d1, MAX(dist) AS d2
  FROM (
    SELECT eval_id, vec_id, dist,
           row_number() OVER (PARTITION BY eval_id ORDER BY dist, vec_id) AS r
    FROM scored
  ) WHERE r <= 2
  GROUP BY eval_id
  HAVING COUNT(*) = 2
),
terms AS (
  SELECT CAST(ROUND((LN(d2) - LN(d1)) * 1000000) AS BIGINT) AS term_micro FROM two
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(term_micro) AS BIGINT) AS sum_ln_ratio_micro,
       ROUND(2.0 * COUNT(*) * 1000000 / NULLIF(SUM(term_micro), 0), 3) AS intrinsic_dim
FROM terms
"""

QUERY_SQL["embedding_intrinsic_dim"] = INTRINSIC_DIM_SQL


def _assign2_udf(cents: list[tuple[int, list[int]]]):
    """Assignment UDF that also returns the SECOND-nearest distance.

    Same closure shape as ``_assign_udf`` (K x 64 int64 centroids ship
    inside the UDF — no crossJoin, no shuffle); a stable argsort over
    the per-row distance vector yields the best and runner-up with ties
    broken to the lowest cid (centroid rows are cid-sorted), matching
    the oracle's ``ORDER BY dist, cid``.
    """
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.int64)

    @pandas_udf("cid long, dist long, dist2 long")
    def _a(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame(
                {"cid": [], "dist": [], "dist2": []}, dtype="int64"
            )
        A = np.vstack(qv.to_numpy()).astype(np.int64)
        d = A[:, None, :] - C[None, :, :]
        dist = (d * d).sum(axis=2)
        order = np.argsort(dist, axis=1, kind="stable")
        rows = np.arange(len(A))
        best, second = order[:, 0], order[:, 1]
        return pd.DataFrame(
            {
                "cid": cids[best],
                "dist": dist[rows, best],
                "dist2": dist[rows, second],
            }
        )

    return _a.asNondeterministic()


def embedding_silhouette(emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS) -> DataFrame:
    """Centroid-silhouette cluster-quality report per k-means cluster.

    The clustering-quality meter the kmeans/semantic-dedup stack was
    missing: for each vector, a = squared distance to its OWN final
    centroid, b = squared distance to the nearest OTHER centroid;
    s = (b - a) / b in integer milli-units (a is the minimum so s is in
    [0, 1000]; milli — not micro — keeps (b-a)*1000 inside int64 for
    64-dim micro-unit distances). Per cluster: member count, exact
    milli-sum and mean. Low mean = clusters blur together (semantic
    dedup's candidate structure is weak); the same map-pass shape as
    assignment — one UDF pass + one K-row hash-agg, no extra shuffle.
    """
    q, cents = _lloyd_centroids(emb, k=k, iters=iters)
    a = _assign2_udf(cents)
    scored = q.select(a(F.col("qv")).alias("ad")).select(
        F.col("ad.cid").alias("cid"),
        F.col("ad.dist").alias("a2"),
        F.col("ad.dist2").alias("b2"),
    )
    s = scored.select(
        "cid",
        F.when(F.col("b2") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("((b2 - a2) * 1000) div b2"))
        .alias("s_milli"),
    )
    return s.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("s_milli").alias("sum_s_milli"),
        F.expr("CAST(SUM(s_milli) AS BIGINT) div COUNT(*)").alias("mean_s_milli"),
    )


EMBEDDING_SILHOUETTE_SQL = f"""
{_kmeans_ctes()},
two AS MATERIALIZED (
  SELECT vec_id, cid, dist, r FROM (
    SELECT e.vec_id, c.cid, {_dist_sql('e.qv', 'c.cv')} AS dist,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dist_sql('e.qv', 'c.cv')} ASC, c.cid) AS r
    FROM qemb e CROSS JOIN c{KM_ITERS} c
  ) WHERE r <= 2
),
pv AS (
  SELECT vec_id,
         MAX(CASE WHEN r = 1 THEN cid END) AS cid,
         MAX(CASE WHEN r = 1 THEN dist END) AS a2,
         MAX(CASE WHEN r = 2 THEN dist END) AS b2
  FROM two GROUP BY vec_id
),
s AS (
  SELECT cid,
         CASE WHEN b2 = 0 THEN 0 ELSE ((b2 - a2) * 1000) // b2 END AS s_milli
  FROM pv
)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(s_milli) AS BIGINT) AS sum_s_milli,
       CAST(SUM(s_milli) AS BIGINT) // COUNT(*) AS mean_s_milli
FROM s GROUP BY cid
"""

QUERY_SQL["embedding_silhouette"] = EMBEDDING_SILHOUETTE_SQL


# --- embedding_centroid_drift: encoder-version drift monitor ----------------

DRIFT_K = KM_K
DRIFT_ITERS = KM_ITERS


def embedding_centroid_drift(emb: DataFrame) -> DataFrame:
    """Embedding-space DRIFT between two corpus snapshots — the monitor a
    pipeline runs after swapping encoders or ingesting a new crawl: fit
    k-means on the OLD snapshot, assign BOTH snapshots to those frozen
    centroids, and report per cluster (a) the population-share shift and
    (b) how far the NEW members' mean sits from the old centroid. Share
    shifts say the mixture moved; displacement says the geometry moved —
    an encoder regression shows up in the second even when the first is
    flat. Snapshots here are the deterministic halves vec_id % 2
    (old=even, new=odd), standing in for version columns.

    Mechanics: Lloyd on the old half (seeds = K lowest old vec_ids,
    label = seed vec_id; driver-synced rounds, K×64 cells — the MLlib
    shape), one frozen-centroid assignment pass over everything, then a
    K-row aggregate. Displacement is the exact L2² between the new
    members' per-dim floor-mean and the frozen centroid, in micro²
    div KM_SCALE (the kmeans inertia quantization discipline).
    """
    old = emb.filter(F.col("vec_id") % 2 == 0)
    q_old = old.select(
        "vec_id", quantize_udf(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)
    seeds = sorted(
        (r.vec_id, list(r.qv))
        for r in q_old.orderBy("vec_id").limit(DRIFT_K).collect()
    )
    cents = [(int(c), v) for c, v in seeds]
    for _ in range(DRIFT_ITERS):
        cents = _lloyd_round(q_old, cents)
    # r12 (VERDICT #4, guide §1.2/§4.2 — the _lloyd_round shape applied
    # to the drift delta): the frozen-centroid assignment + K-row drift
    # aggregate used to run as ArrowEvalPython -> 66-agg groupBy ->
    # checkpoint -> totals broadcast job -> createDataFrame broadcast ->
    # join machinery. One mapInPandas pass now emits <= K partial
    # (n_old, n_new, new-sum[64]) rows per partition and the K-row merge
    # plus every downstream expression runs on the driver in the same
    # exact arithmetic: numpy argmin with first-occurrence ties over
    # cid-sorted centroids (== dist ASC, cid row_number), int64 partial
    # sums (associative), floor(float64(sum)/float64(count)) for the new
    # means (== Spark FLOOR(sum/count) — both IEEE double), integer //
    # for the milli shares and div KM_SCALE (all operands non-negative).
    # Per-pass sync stays K x numPartitions rows at any corpus size.
    q_all = emb.select(
        (F.col("vec_id") % 2 == 1).alias("is_new"),
        quantize_udf(F.col("embedding")).alias("qv"),
    )
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.int64)
    k = len(cids)

    def _drift_partials(batches):
        n_old = np.zeros(k, dtype=np.int64)
        n_new = np.zeros(k, dtype=np.int64)
        ns = np.zeros((k, EMBED_DIM), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            isn = pdf["is_new"].to_numpy().astype(bool)
            d = A[:, None, :] - C[None, :, :]
            j = (d * d).sum(axis=2).argmin(axis=1)
            n_old += np.bincount(j[~isn], minlength=k)
            n_new += np.bincount(j[isn], minlength=k)
            np.add.at(ns, j[isn], A[isn])
        nz = np.flatnonzero(n_old + n_new)
        if len(nz):
            yield pd.DataFrame(
                {
                    "i": nz,
                    "no": n_old[nz],
                    "nn": n_new[nz],
                    "s": [ns[i] for i in nz],
                }
            )

    parts = q_all.mapInPandas(
        _drift_partials, "i long, no long, nn long, s array<long>"
    ).collect()
    n_old = np.zeros(k, dtype=np.int64)
    n_new = np.zeros(k, dtype=np.int64)
    ns = np.zeros((k, EMBED_DIM), dtype=np.int64)
    for r in parts:
        n_old[r.i] += r.no
        n_new[r.i] += r.nn
        ns[r.i] += np.asarray(r.s, dtype=np.int64)
    t_old = int(n_old.sum())
    t_new = int(n_new.sum())
    rows = []
    for i in np.flatnonzero(n_old + n_new):
        no, nn = int(n_old[i]), int(n_new[i])
        cv = C[i]
        nm = (
            np.floor(ns[i].astype(np.float64) / np.float64(nn)).astype(np.int64)
            if nn > 0
            else cv
        )
        so = (no * 1000) // max(1, t_old)
        sn = (nn * 1000) // max(1, t_new)
        diff = nm - cv
        rows.append(
            (
                int(cids[i]),
                no,
                nn,
                so,
                sn,
                sn - so,
                int((diff * diff).sum()) // KM_SCALE,
            )
        )
    return emb.sparkSession.createDataFrame(
        rows,
        "cluster_id long, n_old long, n_new long, share_old_milli long, "
        "share_new_milli long, share_shift_milli long, displacement_k long",
    )


def _drift_sql(k: int = DRIFT_K, iters: int = DRIFT_ITERS) -> str:
    terms = ", ".join(
        f"CAST(FLOOR(embedding[{i}]::DOUBLE * {KM_SCALE}) AS BIGINT)"
        for i in range(1, EMBED_DIM + 1)
    )
    ctes = [
        f"qall AS MATERIALIZED (SELECT vec_id, vec_id % 2 = 1 AS is_new, [{terms}] AS qv FROM embeddings)",
        "qold AS (SELECT vec_id, qv FROM qall WHERE NOT is_new)",
        f"""c0 AS (SELECT vec_id AS cid, qv AS cv
 FROM (SELECT * FROM qold ORDER BY vec_id LIMIT {k}))""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT vec_id, qv, cid FROM (
    SELECT e.vec_id, e.qv, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dist_sql('e.qv', 'c.cv')} ASC, c.cid) AS r
    FROM qold e CROSS JOIN c{i - 1} c
  ) WHERE r = 1)"""
        )
        means = ", ".join(
            f"CAST(FLOOR(SUM(qv[{d}])::DOUBLE / COUNT(*)) AS BIGINT)"
            for d in range(1, EMBED_DIM + 1)
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT cid, [{means}] AS cv FROM a{i} GROUP BY cid)"
        )
    ctes.append(
        f"""af AS MATERIALIZED (
  SELECT vec_id, is_new, qv, cid FROM (
    SELECT e.vec_id, e.is_new, e.qv, c.cid, c.cv,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dist_sql('e.qv', 'c.cv')} ASC, c.cid) AS r
    FROM qall e CROSS JOIN c{iters} c
  ) WHERE r = 1)"""
    )
    nm = ", ".join(
        f"""CASE WHEN SUM(CASE WHEN is_new THEN 1 ELSE 0 END) > 0
 THEN CAST(FLOOR(SUM(CASE WHEN is_new THEN qv[{d}] ELSE 0 END)::DOUBLE
      / SUM(CASE WHEN is_new THEN 1 ELSE 0 END)) AS BIGINT)
 ELSE NULL END AS nm{d}"""
        for d in range(1, EMBED_DIM + 1)
    )
    disp = " + ".join(
        f"(COALESCE(nm{d}, cv[{d}]) - cv[{d}]) * (COALESCE(nm{d}, cv[{d}]) - cv[{d}])"
        for d in range(1, EMBED_DIM + 1)
    )
    ctes.append(
        f"""sums AS (
  SELECT cid,
         SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS n_old,
         SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS n_new,
         {nm}
  FROM af GROUP BY cid)"""
    )
    ctes.append(
        "tot AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM sums)"
    )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT s.cid AS cluster_id,
       CAST(s.n_old AS BIGINT) AS n_old,
       CAST(s.n_new AS BIGINT) AS n_new,
       CAST((s.n_old * 1000) // GREATEST(1, t.t_old) AS BIGINT) AS share_old_milli,
       CAST((s.n_new * 1000) // GREATEST(1, t.t_new) AS BIGINT) AS share_new_milli,
       CAST((s.n_new * 1000) // GREATEST(1, t.t_new)
          - (s.n_old * 1000) // GREATEST(1, t.t_old) AS BIGINT) AS share_shift_milli,
       CAST(({disp}) // {KM_SCALE} AS BIGINT) AS displacement_k
FROM sums s
JOIN c{iters} c ON c.cid = s.cid
CROSS JOIN tot t
"""


EMBEDDING_DRIFT_SQL = _drift_sql()
QUERY_SQL["embedding_centroid_drift"] = EMBEDDING_DRIFT_SQL


# --- embedding_norm_health: the vector-table data-quality gate ---------------


def embedding_norm_health(emb: DataFrame) -> DataFrame:
    """Norm-distribution health check over the embedding table — the
    data-quality gate BEFORE any similarity math: zero-norm vectors make
    cosine undefined, and a norm distribution with a stray band usually
    means an encoder version mixed in (scaled outputs) or a truncated
    batch. Per vector the exact integer micro² squared norm; vectors
    bucket by floor(log2(norm²)) (one transcendental, floor-quantized —
    the zipf discipline; zero-norm vectors get band −1). Output is the
    band histogram with per-band min/max — a new band appearing between
    snapshots is the alert.

    Scale shape: one map pass (quantize + fold) into a ≤64-row hash-agg.
    """
    q = emb.select(quantize_udf(F.col("embedding")).alias("qv"))
    n2 = q.select(
        F.expr(
            "aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        ).alias("n2")
    )
    banded = n2.select(
        F.when(F.col("n2") == 0, F.lit(-1).cast("long"))
        .otherwise(F.expr("CAST(FLOOR(LOG2(n2)) AS BIGINT)"))
        .alias("band"),
        "n2",
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("n2").alias("min_norm2"),
        F.max("n2").alias("max_norm2"),
    )


_NORM_QV = ", ".join(
    f"CAST(FLOOR(embedding[{i}]::DOUBLE * {KM_SCALE}) AS BIGINT)"
    for i in range(1, EMBED_DIM + 1)
)
_NORM_SUM = " + ".join(f"qv[{i}] * qv[{i}]" for i in range(1, EMBED_DIM + 1))

EMBEDDING_NORM_HEALTH_SQL = f"""
WITH q AS (SELECT [{_NORM_QV}] AS qv FROM embeddings),
n2t AS (SELECT CAST({_NORM_SUM} AS BIGINT) AS n2 FROM q),
banded AS (
  SELECT CASE WHEN n2 = 0 THEN -1
              ELSE CAST(FLOOR(LOG2(n2)) AS BIGINT) END AS band, n2
  FROM n2t
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(n2) AS BIGINT) AS min_norm2,
       CAST(MAX(n2) AS BIGINT) AS max_norm2
FROM banded GROUP BY band
"""
QUERY_SQL["embedding_norm_health"] = EMBEDDING_NORM_HEALTH_SQL
