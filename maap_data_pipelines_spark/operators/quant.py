"""Scalar (SQ8) and binary quantization ANN — the memory-bound index tier.

Product quantization (``operators/pq.py``) is the compute-bound extreme of
the compression spectrum; real vector stores also ship its two simpler
siblings because they trade differently:

- **SQ8** — one uint8 code per dimension from a per-dimension min/max
  affine map: 4x smaller than float32, distances stay per-dimension (no
  codebook training, no assignment pass), recall is near-exact. The
  default "compress but don't think" tier.
- **Binary quantization** — one BIT per dimension (threshold at the
  per-dimension mid-range), 32x smaller, distance = XOR + popcount on two
  int64 words. The candidate-generation tier: low recall alone, production
  recall after an exact re-rank of a small pool (the same restrict-then-
  expand shape as ``ann_pq_rerank``).

Everything runs in the engine's exact int64 micro-unit space
(``kmeans.quantize_udf``: floor(x * 1e6) — bit-identical in both engines),
so the per-dimension stats, the affine codes, the packed bit words, the
Hamming counts, and the L2 re-rank are ALL integer-exact and every stage
carries a full value-hash oracle.

Scale shape: stats are a 64-row aggregate; encoding is a map pass; search
is corpus x N_QUERIES rows with pure JVM column expressions (zip_with /
bit ops — no Python in the scoring loop); the re-rank touches only the
pool. Memory per vector: 64 B (SQ8) / 16 B (BQ) vs 256 B float32 — the
number that decides whether a 100 TB corpus index fits in cluster RAM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ann import EMBED_DIM, IVF_TOPK, N_QUERIES, _recall, _recall_sql
from .kmeans import _qv_sql
from .pq import ANN_L2_TOPK_SQL, _l2_rerank, _l2_rerank_sql, _micro, ann_l2_topk

SQ_LEVELS = 255  # top affine code (0..255)
BQ_POOL = 50  # BQ candidate pool size for the exact re-rank


def _dim_codes(q: DataFrame, code_expr: str) -> DataFrame:
    """(vec_id, codes[64]) after a per-dimension stats join.

    posexplode -> 64-row stats -> broadcast join back -> re-assemble the
    code array in dim order. ``code_expr`` sees columns x/mn/mx.
    """
    pos = q.select(
        "vec_id", F.posexplode(F.col("qv")).alias("dim", "x")
    )
    stats = pos.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    coded = pos.join(F.broadcast(stats), "dim").select(
        "vec_id", "dim", F.expr(code_expr).cast("long").alias("code")
    )
    return (
        coded.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "code"))).alias("dc"))
        .select("vec_id", F.expr("transform(dc, s -> s.code)").alias("codes"))
    )


# SQ8 affine code: (x - mn) * 255 div (mx - mn); x - mn >= 0 so truncating
# div == floor on both engines. Constant dimensions collapse to code 0.
_SQ8_CODE = (
    f"CASE WHEN mx = mn THEN 0 ELSE ((x - mn) * {SQ_LEVELS}) div (mx - mn) END"
)
# Dequantization scale per dimension = the quantization step itself,
# range div 255 in micro-units (~1.6e4 for unit-ish embeddings), so the
# largest scored term is (255 * sc)^2 * 64 ~ 10^15 — safe int64 as long
# as embeddings stay within ~10x unit scale (they are micro-quantized at
# a fixed 1e6). Floored at 1 so a tiny-range dimension is never dropped.
_SQ8_SCALE = f"greatest(CAST(1 AS BIGINT), (mx - mn) div {SQ_LEVELS})"


def ann_sq8_topk(emb: DataFrame, topk: int = IVF_TOPK) -> DataFrame:
    """Top-5 per query by DEQUANTIZED squared-L2 over SQ8 codes.

    Raw code-space L2 would silently reweight every dimension by
    255/range (an affine map per dimension) — so, as real SQ8 scorers
    do, each code delta is multiplied back by its dimension's scale
    before squaring, restoring true-L2 geometry up to quantization
    error. The scale rides along as one 64-int literal array (computed
    from the same 64-row stats aggregate, kilo-unit truncated so the
    largest term stays far under int64): dist =
    sum_d ((ca_d - cb_d) * scale_d)^2 — still integer-exact, still one
    aggregate/sequence column expression per candidate, whole-stage
    codegen end-to-end.
    """
    q = _micro(emb).localCheckpoint(eager=False)
    codes = _dim_codes(q, _SQ8_CODE)
    stats = (
        q.select("vec_id", F.posexplode(F.col("qv")).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .select("dim", F.expr(_SQ8_SCALE).alias("sc"))
    )
    scales = [int(r.sc) for r in sorted(stats.collect(), key=lambda r: r.dim)]
    sc_arr = F.array(*[F.lit(s).cast("long") for s in scales])
    qs = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qcodes")
    )
    scored = (
        codes.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sc", sc_arr)
        .select(
            "query_id",
            "vec_id",
            F.expr(
                f"aggregate(sequence(0, {EMBED_DIM - 1}), CAST(0 AS BIGINT),"
                " (acc, d) -> acc + (codes[d]-qcodes[d]) * (codes[d]-qcodes[d])"
                " * sc[d] * sc[d])"
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "vec_id", "dist", "rnk")
    )


def ann_sq8_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 of SQ8 code-space search vs exact-L2 truth."""
    return _recall(ann_l2_topk(emb), ann_sq8_topk(emb))


# BQ bit: x >= integer mid-range of the dimension. (mn + mx) div 2
# truncates identically in Spark `div` and DuckDB `//` (both toward zero),
# so the threshold — and therefore every bit — matches exactly.
_BQ_BIT = "CASE WHEN x >= (mn + mx) div 2 THEN 1 ELSE 0 END"


def _bq_words(emb: DataFrame) -> DataFrame:
    """(vec_id, lo, hi): 64 sign bits packed into two int64 words.

    Two 32-bit halves (not one 64-bit word) so the packed sum never
    touches the sign bit: SUM(1 << dim) with dim <= 31 stays < 2^32.
    """
    bits = _dim_codes(_micro(emb), _BQ_BIT)
    pack = (
        "CAST(aggregate(sequence(0, 31), CAST(0 AS BIGINT),"
        " (acc, d) -> acc + codes[{off} + d] * shiftleft(CAST(1 AS BIGINT), d))"
        " AS BIGINT)"
    )
    return bits.select(
        "vec_id",
        F.expr(pack.format(off=0)).alias("lo"),
        F.expr(pack.format(off=32)).alias("hi"),
    )


def ann_bq_topk(emb: DataFrame, topk: int = IVF_TOPK) -> DataFrame:
    """Top-5 per query by Hamming distance over 64 sign bits.

    16 bytes per vector, distance = two XOR+popcount ops — the cheapest
    possible scan. Alone it is a blunt instrument (the recall meter says
    how blunt); its production role is the pool generator for
    ``ann_bq_rerank``.
    """
    words = _bq_words(emb)
    qs = words.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = (
        words.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)")
            .cast("long")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "vec_id", "hamming", "rnk")
    )


def ann_bq_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 of raw binary-quantized search vs exact-L2 truth."""
    return _recall(ann_l2_topk(emb), ann_bq_topk(emb))


def ann_bq_rerank(emb: DataFrame, pool: int = BQ_POOL) -> DataFrame:
    """BQ pool (top-``pool`` by Hamming) -> exact integer-L2 re-rank.

    The production BQ deployment: the bit scan prunes the corpus to a
    pool whose cost is corpus-independent per query, and only the pool
    pays the full-precision distance. Output matches the ann_*_topk
    family: (query_id, vec_id, dist, rnk).
    """
    return _l2_rerank(emb, ann_bq_topk(emb, topk=pool))


def ann_bq_rerank_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 after the exact re-rank — the recovery the pool buys.

    Read against ``ann_bq_recall``: the gap is exactly the candidates
    the 64-bit sketch ranked into the pool but not into its own top-5;
    the residual miss is truth the sketch never admitted to the pool
    (the pool-size dial's remit).
    """
    return _recall(ann_l2_topk(emb), ann_bq_rerank(emb))


# -- DuckDB oracles --------------------------------------------------------


def _pos_ctes() -> str:
    """qemb + per-dimension explode + min/max stats (shared by SQ8/BQ)."""
    return f"""qemb AS MATERIALIZED ({_qv_sql()}),
pos AS MATERIALIZED (
  SELECT vec_id, g.i - 1 AS dim, qv[g.i] AS x
  FROM qemb, UNNEST(generate_series(1, {EMBED_DIM})) AS g(i)
),
stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM pos GROUP BY dim)"""


_SQ8_CODES_CTE = f"""codes AS MATERIALIZED (
  SELECT vec_id, dim,
         CASE WHEN mx = mn THEN 0
              ELSE ((x - mn) * {SQ_LEVELS}) // (mx - mn) END AS code,
         GREATEST(CAST(1 AS BIGINT), (mx - mn) // {SQ_LEVELS}) AS sc
  FROM pos JOIN stats USING (dim)
)"""

ANN_SQ8_TOPK_SQL = f"""
WITH {_pos_ctes()},
{_SQ8_CODES_CTE},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         CAST(SUM((c.code - q.code) * (c.code - q.code) * c.sc * c.sc)
              AS BIGINT) AS dist
  FROM codes c
  JOIN codes q ON c.dim = q.dim
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, vec_id, dist,
       row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rnk
FROM scored
QUALIFY rnk <= {IVF_TOPK}
"""

ANN_SQ8_RECALL_SQL = _recall_sql(ANN_SQ8_TOPK_SQL, ANN_L2_TOPK_SQL)


_BQ_WORDS_CTES = f"""bits AS (
  SELECT vec_id, dim,
         CASE WHEN x >= (mn + mx) // 2 THEN 1 ELSE 0 END AS b
  FROM pos JOIN stats USING (dim)
),
words AS MATERIALIZED (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dim < 32 AND b = 1
                       THEN (CAST(1 AS BIGINT) << CAST(dim AS INT))
                       ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN dim >= 32 AND b = 1
                       THEN (CAST(1 AS BIGINT) << CAST(dim - 32 AS INT))
                       ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY vec_id
)"""


def _bq_scored_sql() -> str:
    return f"""scored AS (
  SELECT q.vec_id AS query_id, w.vec_id,
         CAST(bit_count(xor(w.lo, q.lo)) + bit_count(xor(w.hi, q.hi))
              AS BIGINT) AS hamming
  FROM words w
  JOIN words q ON q.vec_id < {N_QUERIES} AND w.vec_id <> q.vec_id
)"""


ANN_BQ_TOPK_SQL = f"""
WITH {_pos_ctes()},
{_BQ_WORDS_CTES},
{_bq_scored_sql()}
SELECT query_id, vec_id, hamming,
       row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rnk
FROM scored
QUALIFY rnk <= {IVF_TOPK}
"""

ANN_BQ_RECALL_SQL = _recall_sql(ANN_BQ_TOPK_SQL, ANN_L2_TOPK_SQL)

ANN_BQ_RERANK_SQL = _l2_rerank_sql(f"""WITH {_pos_ctes()},
{_BQ_WORDS_CTES},
{_bq_scored_sql()},
pool AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS prnk
    FROM scored
  ) WHERE prnk <= {BQ_POOL}
)""")

ANN_BQ_RERANK_RECALL_SQL = _recall_sql(ANN_BQ_RERANK_SQL, ANN_L2_TOPK_SQL)


QUERY_SQL = {
    "ann_sq8_topk": ANN_SQ8_TOPK_SQL,
    "ann_sq8_recall": ANN_SQ8_RECALL_SQL,
    "ann_bq_topk": ANN_BQ_TOPK_SQL,
    "ann_bq_recall": ANN_BQ_RECALL_SQL,
    "ann_bq_rerank": ANN_BQ_RERANK_SQL,
    "ann_bq_rerank_recall": ANN_BQ_RERANK_RECALL_SQL,
}
