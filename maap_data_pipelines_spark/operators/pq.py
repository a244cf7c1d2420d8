"""Product quantization (PQ): the memory-bounded ANN rung above IVF.

At 100 TB of vectors the index itself is the problem: float32 x 64 dims
= 256 B/vector. PQ compresses each vector to S codes of 4 bits each
(S = 8, K = 16 codewords -> 4 bytes nibble-packed; the stored codes
column is 8 small ints for SQL-oracle clarity) by splitting dims into S
subspaces and learning a tiny k-means codebook per subspace; search
scores candidates with the ADC trick — the query
precomputes its distance to every codeword (S x K entries), and each
candidate costs S table lookups instead of 64 multiplies. This is the
Jegou et al. (2011) design every billion-scale vector store ships.

Everything stays in the engine's integer-exact discipline: subvector
k-means runs on int64 micro-units (order-free distances, floor(sum/
count) updates — see operators/kmeans.py), codes are argmin with ties
to the lowest code, and ADC distances are exact int64 sums of the
codebook table — so the ENTIRE train/encode/search pipeline carries a
full value-hash oracle (unrolled MATERIALIZED CTEs), as does the exact
integer-L2 brute truth (`ann_l2_topk`) its recall is measured against.

Scale shape: training = Lloyd rounds fused across subspaces (one job
per round: assignment UDF emits all S codes, the update groups by
(subspace, code) — S x K x 16 cells regardless of corpus size); encode
is a map pass; ADC scoring joins the S-exploded code column against a
broadcast (query, subspace, code) distance table — per candidate work
is S lookups, the point of PQ.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from .ann import EMBED_DIM, IVF_TOPK, N_QUERIES, _ivf_cells_sql, _recall, _recall_sql
from .kmeans import _dist_sql, _qv_sql, quantize_udf

PQ_S = 8  # subspaces
PQ_DIM = EMBED_DIM // PQ_S  # 8 dims each
PQ_K = 16  # codewords per subspace
PQ_ITERS = 2


def _codes_udf(cb: dict[int, list[tuple[int, list[int]]]]):
    """Assignment UDF: all S subspace codes in one pass (fused Lloyd).

    cb[s] is the sorted (code, centroid[16]) list; np.argmin's
    first-minimum rule + sorted codes = ties to the lowest code,
    matching the oracle's ORDER BY dist, code.
    """
    mats = [np.array([v for _, v in cb[s]], dtype=np.int64) for s in range(PQ_S)]
    code_ids = [np.array([c for c, _ in cb[s]], dtype=np.int64) for s in range(PQ_S)]

    @pandas_udf("array<long>")
    def _c(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype=object)
        A = np.vstack(qv.to_numpy()).astype(np.int64)
        out = np.empty((len(A), PQ_S), dtype=np.int64)
        for s in range(PQ_S):
            sub = A[:, s * PQ_DIM : (s + 1) * PQ_DIM]
            d = sub[:, None, :] - mats[s][None, :, :]
            out[:, s] = code_ids[s][(d * d).sum(axis=2).argmin(axis=1)]
        return pd.Series(list(out))

    return _c.asNondeterministic()


@pandas_udf(LongType())
def _l2_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact int64 squared-L2 between micro-unit vectors (order-free)."""
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    A = np.vstack(a.to_numpy()).astype(np.int64)
    B = np.vstack(b.to_numpy()).astype(np.int64)
    d = A - B
    return pd.Series((d * d).sum(axis=1))


_l2_udf = _l2_udf.asNondeterministic()


def _micro(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", quantize_udf(F.col("embedding")).alias("qv"))


def _train_codebooks(q: DataFrame) -> dict[int, list[tuple[int, list[int]]]]:
    """Fused per-subspace Lloyd: one distributed job per round.

    Init: subvector slices of the first PQ_K vectors. Each round:
    assignment UDF emits all S codes, explode(s) + groupBy(s, code)
    with 16 dynamic-index sums -> S x K x 16 cells to the driver.
    """
    init = sorted(
        (r.vec_id, list(r.qv))
        for r in q.filter(F.col("vec_id") < PQ_K).collect()
    )
    cb = {
        s: [(vid, qv[s * PQ_DIM : (s + 1) * PQ_DIM]) for vid, qv in init]
        for s in range(PQ_S)
    }
    for _ in range(PQ_ITERS):
        coded = q.select(
            "qv", _codes_udf(cb)(F.col("qv")).alias("codes")
        ).select(
            "qv",
            "codes",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_S - 1))).alias("s"),
        ).withColumn("code", F.expr("codes[s]"))
        sums = coded.groupBy("s", "code").agg(
            F.count(F.lit(1)).alias("c"),
            *[
                F.sum(
                    F.element_at(
                        F.col("qv"), (F.col("s") * PQ_DIM + d + 1).cast("int")
                    )
                ).alias(f"m{d}")
                for d in range(PQ_DIM)
            ],
        )
        rows = sums.collect()
        cb = {s: [] for s in range(PQ_S)}
        for r in rows:
            cv = [int(np.floor(getattr(r, f"m{d}") / r.c)) for d in range(PQ_DIM)]
            cb[r.s].append((r.code, cv))
        cb = {s: sorted(v) for s, v in cb.items()}
    return cb


def _encoded(emb: DataFrame):
    """(quantized corpus, trained codebooks, encoded frame vec_id+codes)."""
    q = _micro(emb).localCheckpoint(eager=False)
    cb = _train_codebooks(q)
    enc = q.select("vec_id", "qv", _codes_udf(cb)(F.col("qv")).alias("codes"))
    return q, cb, enc


def ann_pq_topk(emb: DataFrame, topk: int = IVF_TOPK) -> DataFrame:
    """PQ/ADC top-5 per query: S table lookups per candidate.

    The query side collects its N_QUERIES quantized subvectors (tiny)
    and precomputes the exact int64 distance to every codeword — the
    (query, s, code, d) ADC table, Q x S x K rows, broadcast. Candidates
    explode their S codes and join the table on (query implicit via
    broadcast fan-out, s, code); the per-candidate distance is the SUM
    of exactly S joined entries. Ranking: (dist asc, vec_id), self
    excluded.
    """
    q, cb, enc = _encoded(emb)
    dt = _adc_table(emb, q, cb)
    cand = enc.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_S - 1))).alias("s"),
        F.col("codes"),
    ).withColumn("code", F.expr("codes[s]")).select("vec_id", "s", "code")
    scored = (
        cand.join(F.broadcast(dt), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "vec_id", "dist", "rnk")
    )


def ann_l2_topk(emb: DataFrame) -> DataFrame:
    """Exact integer-L2 brute top-5 per query: PQ's ground truth.

    The L2-metric sibling of ann_cosine_topk (PQ approximates L2, so
    its recall must be measured against L2 truth, not cosine truth).
    Same documented quadratic-baseline status: query side fixed at
    N_QUERIES, one linear O(Q*N) scan.
    """
    q = _micro(emb)
    qs = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    pairs = q.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id", "vec_id", _l2_udf(F.col("qv"), F.col("qq")).alias("dist")
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= IVF_TOPK)
        .select("query_id", "vec_id", "dist", "rnk")
    )


def ann_pq_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 of PQ/ADC vs exact-L2 truth, per query — the compression
    loss made visible. 8 subspace codes of 4 bits each = 4 packed bytes
    per vector vs 256 float bytes (the stored codes column is 8 small
    ints for SQL-oracle clarity; a production sink nibble-packs them):
    recall is the price of that 64x."""
    return _recall(ann_l2_topk(emb), ann_pq_topk(emb))


RERANK_POOL = 50


def ann_pq_rerank(emb: DataFrame) -> DataFrame:
    """IVFADC-style two-stage search: PQ pool -> exact re-rank.

    How production PQ is actually deployed: the compressed scan only
    GENERATES candidates (top-RERANK_POOL by ADC distance — cheap, S
    lookups each); the final ranking re-scores just that pool with the
    exact vectors (pool-sized work per query, independent of corpus
    size). Compression error then only costs recall when a true
    neighbor falls outside the pool entirely.
    """
    return _l2_rerank(emb, ann_pq_topk(emb, topk=RERANK_POOL))


def _l2_rerank(emb: DataFrame, pool: DataFrame) -> DataFrame:
    """Exact integer-L2 top-IVF_TOPK of a (query_id, vec_id) candidate pool.

    The second stage every compressed scan shares: join the pool to the
    micro-unit vectors, broadcast the N_QUERIES query vectors, score with
    :func:`_l2_udf` and rank (dist asc, vec_id). Output matches the
    ann_*_topk family: (query_id, vec_id, dist, rnk).
    """
    q = _micro(emb).localCheckpoint(eager=False)
    qs = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    scored = (
        pool.select("query_id", "vec_id")
        .join(q, "vec_id")
        .join(F.broadcast(qs), "query_id")
        .select(
            "query_id", "vec_id", _l2_udf(F.col("qv"), F.col("qq")).alias("dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= IVF_TOPK)
        .select("query_id", "vec_id", "dist", "rnk")
    )


def ann_pq_rerank_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 of the two-stage (PQ pool + exact re-rank) search."""
    return _recall(ann_l2_topk(emb), ann_pq_rerank(emb))


# -- DuckDB oracle (fused-subspace Lloyd, unrolled) ------------------------


def _sub_dist_sql(vec: str, s_expr: str, cv: str) -> str:
    """16-term integer distance between a dynamic subvector slice and cv."""
    return " + ".join(
        f"({vec}[{s_expr}*{PQ_DIM}+{d}]-{cv}[{d}])*({vec}[{s_expr}*{PQ_DIM}+{d}]-{cv}[{d}])"
        for d in range(1, PQ_DIM + 1)
    )


def _pq_ctes() -> str:
    slice0 = ", ".join(f"qv[g.s*{PQ_DIM}+{d}]" for d in range(1, PQ_DIM + 1))
    ctes = [
        f"qemb AS MATERIALIZED ({_qv_sql()})",
        f"""cb0 AS (
  SELECT g.s, e.vec_id AS code, [{slice0}] AS cv
  FROM qemb e, UNNEST(generate_series(0, {PQ_S - 1})) AS g(s)
  WHERE e.vec_id < {PQ_K})""",
    ]
    for i in range(1, PQ_ITERS + 1):
        means = ", ".join(
            f"CAST(FLOOR(SUM(e.qv[a.s*{PQ_DIM}+{d}])::DOUBLE / COUNT(*)) AS BIGINT)"
            for d in range(1, PQ_DIM + 1)
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT vec_id, s, code FROM (
    SELECT e.vec_id, g.s, cb.code,
           row_number() OVER (
             PARTITION BY e.vec_id, g.s
             ORDER BY {_sub_dist_sql('e.qv', 'g.s', 'cb.cv')} ASC, cb.code) AS rn
    FROM qemb e, UNNEST(generate_series(0, {PQ_S - 1})) AS g(s)
    JOIN cb{i - 1} cb ON cb.s = g.s
  ) WHERE rn = 1)"""
        )
        ctes.append(
            f"""cb{i} AS MATERIALIZED (
  SELECT a.s, a.code, [{means}] AS cv
  FROM a{i} a JOIN qemb e USING (vec_id)
  GROUP BY a.s, a.code)"""
        )
    ctes.append(
        f"""enc AS MATERIALIZED (
  SELECT vec_id, s, code FROM (
    SELECT e.vec_id, g.s, cb.code,
           row_number() OVER (
             PARTITION BY e.vec_id, g.s
             ORDER BY {_sub_dist_sql('e.qv', 'g.s', 'cb.cv')} ASC, cb.code) AS rn
    FROM qemb e, UNNEST(generate_series(0, {PQ_S - 1})) AS g(s)
    JOIN cb{PQ_ITERS} cb ON cb.s = g.s
  ) WHERE rn = 1)"""
    )
    ctes.append(
        f"""dt AS MATERIALIZED (
  SELECT e.vec_id AS query_id, g.s, cb.code,
         CAST({_sub_dist_sql('e.qv', 'g.s', 'cb.cv')} AS BIGINT) AS d
  FROM qemb e, UNNEST(generate_series(0, {PQ_S - 1})) AS g(s)
  JOIN cb{PQ_ITERS} cb ON cb.s = g.s
  WHERE e.vec_id < {N_QUERIES})"""
    )
    return "WITH " + ",\n".join(ctes)


ANN_PQ_TOPK_SQL = f"""
{_pq_ctes()},
scored AS (
  SELECT dt.query_id, c.vec_id, CAST(SUM(dt.d) AS BIGINT) AS dist
  FROM enc c JOIN dt ON c.s = dt.s AND c.code = dt.code
  WHERE c.vec_id <> dt.query_id
  GROUP BY dt.query_id, c.vec_id
)
SELECT query_id, vec_id, dist,
       row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rnk
FROM scored
QUALIFY rnk <= {IVF_TOPK}
"""

ANN_L2_TOPK_SQL = f"""
WITH qemb AS MATERIALIZED ({_qv_sql()}),
qs AS (SELECT vec_id AS query_id, qv AS qq FROM qemb WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         CAST({_dist_sql('e.qv', 'q.qq')} AS BIGINT) AS dist
  FROM qemb e CROSS JOIN qs q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, dist,
       row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rnk
FROM scored
QUALIFY rnk <= {IVF_TOPK}
"""

ANN_PQ_RECALL_SQL = _recall_sql(ANN_PQ_TOPK_SQL, ANN_L2_TOPK_SQL)

QUERY_SQL = {
    "ann_pq_topk": ANN_PQ_TOPK_SQL,
    "ann_l2_topk": ANN_L2_TOPK_SQL,
    "ann_pq_recall": ANN_PQ_RECALL_SQL,
}


RERANK_POOL_SQL_TOPK = RERANK_POOL

def _l2_rerank_sql(ctes: str) -> str:
    """Oracle of :func:`_l2_rerank`: ``ctes`` define ``qemb`` and end with ``pool``."""
    return f"""
{ctes},
rescored AS (
  SELECT p.query_id, p.vec_id,
         CAST({_dist_sql('e.qv', 'q.qv')} AS BIGINT) AS dist
  FROM pool p
  JOIN qemb e ON e.vec_id = p.vec_id
  JOIN qemb q ON q.vec_id = p.query_id
)
SELECT query_id, vec_id, dist,
       row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rnk
FROM rescored
QUALIFY rnk <= {IVF_TOPK}
"""


ANN_PQ_RERANK_SQL = _l2_rerank_sql(f"""{_pq_ctes()},
adcscored AS (
  SELECT dt.query_id, c.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adist
  FROM enc c JOIN dt ON c.s = dt.s AND c.code = dt.code
  WHERE c.vec_id <> dt.query_id
  GROUP BY dt.query_id, c.vec_id
),
pool AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS prn
    FROM adcscored
  ) WHERE prn <= {RERANK_POOL}
)""")

ANN_PQ_RERANK_RECALL_SQL = _recall_sql(ANN_PQ_RERANK_SQL, ANN_L2_TOPK_SQL)

QUERY_SQL.update(
    {
        "ann_pq_rerank": ANN_PQ_RERANK_SQL,
        "ann_pq_rerank_recall": ANN_PQ_RERANK_RECALL_SQL,
    }
)


# -- IVFADC: IVF cell restriction composed with PQ/ADC scoring -------------

IVFPQ_NPROBE = 2


def _adc_table(emb: DataFrame, q: DataFrame, cb):
    """The broadcastable (query, s, code, d) ADC distance table.

    Queries are a fixed tiny sample, so their quantized subvectors
    collect to the driver and the exact int64 codeword distances are
    computed there — Q x S x K rows, a few KB, the table every ADC
    variant broadcasts.
    """
    spark = emb.sparkSession
    queries = sorted(
        (r.vec_id, list(r.qv))
        for r in q.filter(F.col("vec_id") < N_QUERIES).collect()
    )
    dt_rows = []
    for qid, qv in queries:
        for s in range(PQ_S):
            sub = qv[s * PQ_DIM : (s + 1) * PQ_DIM]
            for code, cv in cb[s]:
                d = sum((a - b) * (a - b) for a, b in zip(sub, cv))
                dt_rows.append((qid, s, code, d))
    return spark.createDataFrame(
        dt_rows, "query_id long, s long, code long, d long"
    )


def ann_ivfpq_topk(
    emb: DataFrame, topk: int = IVF_TOPK, nprobe: int = IVFPQ_NPROBE
) -> DataFrame:
    """IVFADC — the production billion-scale ANN shape (Jegou et al.):
    IVF cell restriction THEN PQ/ADC scoring of only the probed cells.

    The two dials compose: the coarse quantizer prunes the candidate set
    ~K/nprobe-fold BEFORE any scoring, and each surviving candidate
    costs S table lookups instead of 64 multiplies — memory AND compute
    bounded, which is why real vector stores ship exactly this stack.
    Here both stages reuse their existing oracled operators (ivf_assign's
    argmax-cosine cells; the PQ codebooks/encode/ADC pipeline), so the
    COMPOSITION stays integer/rounding-exact end-to-end and carries a
    full value-hash oracle.

    Scale shape: cells and codes are corpus-sized map passes; the probed
    candidate list is an equi-join on cell; ADC scoring joins the tiny
    broadcast (query, s, code, d) table — the shuffle carries only
    probed (query, candidate) pairs.
    """
    from .ann import ivf_assign, ivf_centroids

    q, cb, enc = _encoded(emb)
    dt = _adc_table(emb, q, cb)
    cents = ivf_centroids(emb)
    cells = ivf_assign(emb, cents).select("vec_id", "cell")
    qcells = ivf_assign(
        emb.filter(F.col("vec_id") < N_QUERIES), cents, k_cells=nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")
    allowed = (
        cells.join(F.broadcast(qcells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    cand = (
        allowed.join(enc, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_S - 1))).alias("s"),
            F.col("codes"),
        )
        .withColumn("code", F.expr("codes[s]"))
        .select("query_id", "vec_id", "s", "code")
    )
    scored = (
        cand.join(F.broadcast(dt), ["query_id", "s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "vec_id", "dist", "rnk")
    )


def ann_ivfpq_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 of the full IVFADC stack vs exact-L2 truth.

    The compounded approximation (cell pruning x code quantization) gets
    ONE meter: misses now come from either stage, and comparing this
    against ann_pq_recall (ADC alone) and ann_ivf_recall (cells alone)
    attributes the loss — the triage a production index tune starts with.
    """
    return _recall(ann_l2_topk(emb), ann_ivfpq_topk(emb))


def _ivfpq_sql(nprobe: int = IVFPQ_NPROBE) -> str:
    return f"""
{_pq_ctes()},
{_ivf_cells_sql(nprobe)},
allowed AS (
  SELECT q.query_id, c.vec_id
  FROM assigned c JOIN probes q USING (cell)
  WHERE c.vec_id <> q.query_id
),
scored AS (
  SELECT a.query_id, a.vec_id, CAST(SUM(dt.d) AS BIGINT) AS dist
  FROM allowed a
  JOIN enc e ON e.vec_id = a.vec_id
  JOIN dt ON dt.query_id = a.query_id AND dt.s = e.s AND dt.code = e.code
  GROUP BY a.query_id, a.vec_id
)
SELECT query_id, vec_id, dist,
       row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rnk
FROM scored
QUALIFY rnk <= {IVF_TOPK}
"""


ANN_IVFPQ_TOPK_SQL = _ivfpq_sql()

ANN_IVFPQ_RECALL_SQL = _recall_sql(ANN_IVFPQ_TOPK_SQL, ANN_L2_TOPK_SQL)

QUERY_SQL["ann_ivfpq_topk"] = ANN_IVFPQ_TOPK_SQL
QUERY_SQL["ann_ivfpq_recall"] = ANN_IVFPQ_RECALL_SQL
