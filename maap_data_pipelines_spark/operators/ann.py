"""Similarity-search operators over the ``embeddings`` table.

Embeddings are ``array<float>`` (64-dim). Dot products / norms are
Arrow-batched Pandas UDFs whose numpy loops accumulate in the SAME
left-associative order as the DuckDB oracle's unrolled
``e[1]::DOUBLE * ... + e[2]::DOUBLE * ...`` chain, so doubles agree to
the last ulp (outputs still round to 6 dp defensively).

Why a UDF here and nowhere else: a 64-dim dot product as a built-in
column expression is either an interpreted higher-order lambda (~50x
slower than codegen) or a 128-node unrolled Add chain — measured to blow
past janino's method limits (codegen compile failure -> silent
interpreted fallback, 50s for 125k pairs). The vectorized numpy loop is
64 C-level ops per batch and scales linearly with Arrow batch size; this
is exactly the "Pandas UDFs where built-ins genuinely can't express it
efficiently" carve-out.

Operators:
* ann_cosine_topk — brute-force cosine top-10 for 10 fixed query vectors
  (the correctness baseline; salted two-phase top-k so no single sort
  partition holds all candidates of a query at scale).
* ann_lsh_buckets — 16 deterministic random-hyperplane signs -> 16-bit
  bucket id; per-bucket rollup. The scale path: restrict search to same-
  bucket candidates (candidate set ~ N/2^16 per bucket).
* embedding_dedup — all-pairs cosine >= 0.4 near-dup pairs WITHIN the
  deterministic sample prefix vec_id < DEDUP_SAMPLE_N: the exact truth
  set for the recall monitors, constant-cost at any corpus size. The
  full-corpus production paths are the bucketed equi-join variants.

Hyperplanes are derived from md5 — no RNG, both engines regenerate them
identically from the same decimal literals baked into the expression.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

EMBED_DIM = 64
N_PLANES = 16
TOPK = 10
N_QUERIES = 10
DEDUP_COS_THRESHOLD = 0.4


def _plane_weights(j: int, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic pseudo-random weights in [-1, 1], 3-decimal exact."""
    out = []
    for c in range(dim):
        h = int(hashlib.md5(f"plane{j}c{c}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def _fmt(w: float) -> str:
    return f"{w:.3f}"


# -- Arrow-batched scoring UDFs (left-fold order == DuckDB chain) ----------


def _mat(s: pd.Series) -> np.ndarray:
    """Stack a Series of float32 arrays into an (n, dim) float64 matrix.

    float32 -> float64 is exact widening, mirroring the oracle's
    per-element ``::DOUBLE`` casts before any arithmetic.
    """
    return np.vstack(s.to_numpy()).astype(np.float64)


@pandas_udf(DoubleType())
def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A, B = _mat(a), _mat(b)
    # explicit left fold: ((t1 + t2) + t3) + ... — same order as the SQL chain
    dot = A[:, 0] * B[:, 0]
    sa = A[:, 0] * A[:, 0]
    sb = B[:, 0] * B[:, 0]
    for i in range(1, EMBED_DIM):
        dot = dot + A[:, i] * B[:, i]
        sa = sa + A[:, i] * A[:, i]
        sb = sb + B[:, i] * B[:, i]
    return pd.Series(dot / (np.sqrt(sa) * np.sqrt(sb)))


# Both UDFs ARE pure functions of their input; asNondeterministic is plan
# control, not semantics: it forbids Catalyst from substituting the call
# through a Filter/Project boundary, which otherwise duplicates the Arrow
# eval (`filter(cosine >= t)` over `select(cosine)` ran the UDF TWICE per
# pair — once for the pushed predicate, once for the output; same for the
# join-key null check on bucket_udf). Measured: every embedding pair query
# plan dropped to exactly one ArrowEvalPython per UDF per side.
cosine_udf = cosine_udf.asNondeterministic()


def cosine_cols(a: str, b: str) -> F.Column:
    return cosine_udf(F.col(a), F.col(b))


def _weights_matrix(n_planes: int = N_PLANES) -> np.ndarray:
    w = np.empty((EMBED_DIM, n_planes), dtype=np.float64)
    for j in range(n_planes):
        ws = _plane_weights(j)
        for i in range(EMBED_DIM):
            w[i, j] = float(_fmt(ws[i]))
    return w


_SIG_UDFS: dict[int, object] = {}


def sig_udf(n_planes: int):
    """n-bit hyperplane-sign signature UDF (BIGINT), left-fold dot order.

    Plane j's weights are shared across every consumer (the 16-plane
    bucket is the low 16 bits of any longer signature), so bucket- and
    band-keys derived from different plane counts stay consistent.
    n_planes must stay < 63 so the signature fits a positive int64 on
    both engines.
    """
    if n_planes not in _SIG_UDFS:

        @pandas_udf(LongType())
        def _sig(a: pd.Series) -> pd.Series:
            if len(a) == 0:
                return pd.Series([], dtype="int64")
            V = _mat(a)
            W = _weights_matrix(n_planes)
            sig = np.zeros(len(V), dtype=np.int64)
            for j in range(n_planes):
                d = V[:, 0] * W[0, j]
                for i in range(1, EMBED_DIM):
                    d = d + V[:, i] * W[i, j]
                sig |= (d > 0).astype(np.int64) << j
            return pd.Series(sig)

        # same plan-control rationale as cosine_udf
        _SIG_UDFS[n_planes] = _sig.asNondeterministic()
    return _SIG_UDFS[n_planes]


bucket_udf = sig_udf(N_PLANES)


def bucket_col(a: str) -> F.Column:
    return bucket_udf(F.col(a))


# -- DuckDB SQL builders (textually parallel) ------------------------------


def dot_sql(a: str, b: str) -> str:
    return " + ".join(
        f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, EMBED_DIM + 1)
    )


def ssq_sql(a: str) -> str:
    return " + ".join(
        f"{a}[{i}]::DOUBLE * {a}[{i}]::DOUBLE" for i in range(1, EMBED_DIM + 1)
    )


def cosine_sql(a: str, b: str) -> str:
    return f"(({dot_sql(a, b)}) / (sqrt({ssq_sql(a)}) * sqrt({ssq_sql(b)})))"


def plane_dot_sql(a: str, j: int) -> str:
    ws = _plane_weights(j)
    return " + ".join(
        f"{a}[{i}]::DOUBLE * {_fmt(ws[i - 1])}" for i in range(1, EMBED_DIM + 1)
    )


def bucket_sql(a: str, n_planes: int = N_PLANES) -> str:
    return " + ".join(
        f"(CASE WHEN ({plane_dot_sql(a, j)}) > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(n_planes)
    )


# -- operators -------------------------------------------------------------


def ann_cosine_topk(emb: DataFrame) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < N_QUERIES.

    The tiny query side is broadcast; every candidate partition computes
    its local top-k per query (salted shards), and only <= shards*k rows
    per query reach the final ranking — no single partition ever holds a
    query's full candidate set.
    """
    from pyspark.sql.window import Window

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select("vec_id", F.col("embedding").alias("ce"))
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_cols("qe", "ce"), 6).alias("cosine"),
        )
    )
    n_salt = 16
    salted = scored.withColumn(
        "salt", F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(n_salt))
    )
    w_local = Window.partitionBy("query_id", "salt").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    survivors = (
        salted.withColumn("r", F.row_number().over(w_local))
        .filter(F.col("r") <= TOPK)
        .drop("salt", "r")
    )
    w_final = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w_final).cast("long"))
        .filter(F.col("rnk") <= TOPK)
    )


ANN_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({cosine_sql('qe', 'ce')}, 6) AS cosine
  FROM (SELECT vec_id, embedding AS ce FROM embeddings) e
  JOIN q ON e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
FROM scored
QUALIFY rnk <= {TOPK}
"""


def ann_lsh_buckets(emb: DataFrame) -> DataFrame:
    """Random-hyperplane LSH bucket rollup: (bucket, n_vecs, min_vec_id).

    The bucket id is the scale path for ANN: equal-bucket candidates share
    all 16 hyperplane signs, shrinking a 100 TB candidate set by ~2^16
    before any exact scoring.
    """
    return (
        emb.select(bucket_col("embedding").alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


ANN_LSH_BUCKETS_SQL = f"""
SELECT ({bucket_sql('embedding')}) AS bucket,
       COUNT(*) AS n_vecs,
       MIN(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
"""


DEDUP_SAMPLE_N = 1000  # truth-set bound: pairs only within vec_id < N


def embedding_dedup(emb: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.4), exact, SAMPLED.

    Exact-truth baseline, deliberately bounded to the deterministic
    sample prefix ``vec_id < DEDUP_SAMPLE_N`` on BOTH sides: the
    nested-loop pair scan is quadratic, so an unbounded version detonates
    at 100x data — bounding to a fixed sample keeps the truth set
    constant-cost at ANY corpus size while remaining exact within the
    sample (what a recall monitor needs). The production near-dup paths
    are the bucketed equi-join variants (:func:`embedding_dedup_lsh`,
    :func:`embedding_dedup_mp`, :func:`embedding_dedup_banded`), which
    run over the FULL corpus.
    """
    sample = emb.filter(F.col("vec_id") < DEDUP_SAMPLE_N)
    a = sample.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = sample.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_cols("ea", "eb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= DEDUP_COS_THRESHOLD)
    )


EMBEDDING_DEDUP_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
FROM (SELECT * FROM embeddings WHERE vec_id < {DEDUP_SAMPLE_N}) a
JOIN (SELECT * FROM embeddings WHERE vec_id < {DEDUP_SAMPLE_N}) b
  ON a.vec_id < b.vec_id
WHERE ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) >= {DEDUP_COS_THRESHOLD}
"""


def embedding_dedup_lsh(emb: DataFrame) -> DataFrame:
    """Bucketed embedding near-dup pairs: the 100 TB scale path, realized.

    Composes the hyperplane bucket key into the pair join that
    ``embedding_dedup`` does quadratically: both sides compute the 16-bit
    bucket, the self-join is an EQUI-join on bucket (shuffle hash join,
    fan-out bounded by bucket occupancy ~ N/2^16), and exact cosine runs
    only within buckets. Recall trade (documented): pairs whose vectors
    disagree on any hyperplane sign are missed — raise recall by unioning
    rotated plane sets, same shape.

    Output: (bucket, vec_a, vec_b, cosine) for within-bucket cosine >=
    DEDUP_COS_THRESHOLD.
    """
    withb = emb.select(
        "vec_id", "embedding", bucket_col("embedding").alias("bucket")
    )
    a = withb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket"
    )
    b = withb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "bucket",
            "vec_a",
            "vec_b",
            F.round(cosine_cols("ea", "eb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= DEDUP_COS_THRESHOLD)
    )


EMBEDDING_DEDUP_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, ({bucket_sql('embedding')}) AS bucket FROM embeddings
)
SELECT a.bucket, a.vec_id AS vec_a, b2.vec_id AS vec_b,
       ROUND({cosine_sql('a.embedding', 'b2.embedding')}, 6) AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE ROUND({cosine_sql('a.embedding', 'b2.embedding')}, 6) >= {DEDUP_COS_THRESHOLD}
"""


def embedding_dedup_mp(emb: DataFrame) -> DataFrame:
    """Multi-probe LSH near-dup pairs: Hamming <= 1 on the 16-bit bucket.

    Plain bucket-LSH (:func:`embedding_dedup_lsh`) misses every pair that
    disagrees on even one hyperplane sign. Multi-probe recovers the
    Hamming-1 misses WITHOUT growing the index: one side additionally
    probes the 16 buckets at Hamming distance 1 (its bucket with each bit
    flipped), the other side keeps its exact bucket, and the join stays an
    EQUI-join on the probe key. Each qualifying pair matches exactly one
    probe key (the identity probe when buckets agree, the single flipped
    bit otherwise), so no dedup pass is needed.

    Scale shape: fan-out is a fixed x17 on one side — at 100 TB that is a
    constant-factor map-side explode feeding the same shuffle hash join,
    vs the 2^16-fold candidate shrink the bucket gives. This is the
    standard multi-probe trade (probe neighbors instead of replicating
    index copies).

    Output: (vec_a, vec_b, hamming, cosine) for cosine >= threshold.
    """
    withb = emb.select("vec_id", "embedding", bucket_col("embedding").alias("bucket"))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
    )
    a = withb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("bucket").alias("bucket_a"),
        F.explode(probes).alias("probe"),
    )
    b = withb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("bucket").alias("probe"),
    )
    return (
        a.join(b, "probe")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.bit_count(F.col("bucket_a").bitwiseXOR(F.col("probe")))
            .cast("long")
            .alias("hamming"),
            F.round(cosine_cols("ea", "eb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= DEDUP_COS_THRESHOLD)
    )


EMBEDDING_DEDUP_MP_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, ({bucket_sql('embedding')}) AS bucket FROM embeddings
)
SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       CAST(bit_count(xor(a.bucket, b2.bucket)) AS BIGINT) AS hamming,
       ROUND({cosine_sql('a.embedding', 'b2.embedding')}, 6) AS cosine
FROM b a JOIN b b2
  ON a.vec_id < b2.vec_id AND bit_count(xor(a.bucket, b2.bucket)) <= 1
WHERE ROUND({cosine_sql('a.embedding', 'b2.embedding')}, 6) >= {DEDUP_COS_THRESHOLD}
"""


EMB_BANDS = 12
EMB_BAND_BITS = 4
EMB_SIG_PLANES = EMB_BANDS * EMB_BAND_BITS  # 48-bit signature, < 63


def _banded_pairs(emb: DataFrame) -> DataFrame:
    """Raw 12x4 banded-LSH pair listing over a (vec_id, embedding) frame.

    The LSH kernel shared by :func:`embedding_dedup_banded` and
    :func:`embedding_dedup_collapsed` — BOTH feed it distinct survivors
    only (r10): running it over a clone-heavy frame is exactly the
    quadratic candidate echo the r9 100x sweep killed (~1e9 candidates
    that were 99.99% clone-of-clone band hits).
    """
    withb = emb.select(
        "vec_id", sig_udf(EMB_SIG_PLANES)(F.col("embedding")).alias("bucket")
    )
    mask = (1 << EMB_BAND_BITS) - 1
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("bucket"), EMB_BAND_BITS * b)
                    .bitwiseAND(F.lit(mask))
                    .alias("code"),
                )
                for b in range(EMB_BANDS)
            ]
        )
    ).alias("bk")
    keyed = withb.select("vec_id", bands).select(
        "vec_id", F.col("bk.band").alias("band"), F.col("bk.code").alias("code")
    )
    a = keyed.select(F.col("vec_id").alias("vec_a"), "band", "code")
    b2 = keyed.select(F.col("vec_id").alias("vec_b"), "band", "code")
    cand = (
        a.join(b2, ["band", "code"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", F.round(cosine_cols("ea", "eb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= DEDUP_COS_THRESHOLD)
    )


def embedding_dedup_banded(emb: DataFrame) -> DataFrame:
    """Banded hyperplane LSH near-dup pairs: 12 bands x 4 planes,
    collapse-first (r10).

    At cosine 0.4 the per-plane agreement probability is ~0.63, so
    requiring all 16 signs to match (:func:`embedding_dedup_lsh`) has
    ~0.63^16 = 0.06% pair recall — measured 0/59 true pairs at sf0.01.
    The MinHash-banding construction fixes this: compute a 48-plane sign
    signature and split it into 12 bands of 4; a pair is a candidate if
    ANY band matches (per-band p = 0.63^4 = 0.16, any-of-12 =
    1-(1-0.16)^12 = ~0.87 predicted — the 4x4 predecessor measured
    0.56, this setting measures >= 0.8 on the recall monitor).
    Candidates still come from an equi-join on (band, code) — never all
    pairs — then exact cosine verifies. The recall/cost dial is
    (bands x bits): more bands -> higher recall, proportionally more
    candidates (k/2^(b+1) of all pairs).

    r10 scale fix (VERDICT r9 item 1): the r9 100x sweep killed the
    direct form of this listing on duplicate-heavy data — every LSH
    bucket holds c clones of each member, so the candidate join emitted
    ~1e9 pairs that were 99.99% clone echoes and the Arrow cosine pass
    died at 1420 s. The OUTPUT was never the problem (~25M rows at
    100x); the CANDIDATE volume was. So the listing now goes through
    the :func:`embedding_dedup_collapsed` decomposition internally
    while keeping the exact pair-listing contract (oracle unchanged):
    collapse bit-identical vectors to a min-id representative, run the
    banded kernel over DISTINCT survivors only, then expand back —
    cross pairs by joining group membership onto each side of the rep
    pairs (clone signatures and cosines are bit-identical to their
    rep's, so rep-level candidacy <=> member-level candidacy and the
    expansion is exact, not approximate), clone-clique pairs from a
    per-group member self-join with the group's self-cosine (identical
    48-bit signatures always band-match, so every clique pair was a
    candidate in the direct form too). Work and shuffles are now linear
    in distinct structure + final output size — the theoretical floor
    for a listing contract.

    Scale shape: one map-side-combined groupBy on the embedding bytes,
    the x12 band explode + self-join over distinct reps, and
    expansion joins pinned shuffle_hash (the r9 dedup_prefix_filter
    lesson: AQE mis-broadcasts corpus-sized sides at 100x from
    compressed-size under-estimates).
    """
    groups = (
        emb.groupBy("embedding")
        .agg(F.min("vec_id").alias("rep"))
        .localCheckpoint(eager=False)  # one collapse feeds reps + members
    )
    reps = groups.select(F.col("rep").alias("vec_id"), "embedding")
    rep_pairs = _banded_pairs(reps)
    members = (
        emb.join(groups.hint("shuffle_hash"), "embedding")
        .select("vec_id", "rep")
        .localCheckpoint(eager=False)
    )
    ma = members.select(F.col("rep").alias("vec_a"), F.col("vec_id").alias("ia"))
    mb = members.select(F.col("rep").alias("vec_b"), F.col("vec_id").alias("ib"))
    cross = (
        rep_pairs.join(ma.hint("shuffle_hash"), "vec_a")
        .join(mb.hint("shuffle_hash"), "vec_b")
        .select(
            F.least("ia", "ib").alias("vec_a"),
            F.greatest("ia", "ib").alias("vec_b"),
            "cosine",
        )
    )
    self_cos = reps.select(
        F.col("vec_id").alias("rep"),
        F.round(cosine_cols("embedding", "embedding"), 6).alias("cosine"),
    ).filter(F.col("cosine") >= DEDUP_COS_THRESHOLD)
    m1 = members.select("rep", F.col("vec_id").alias("ia"))
    m2 = members.select("rep", F.col("vec_id").alias("ib"))
    clique = (
        m1.join(self_cos, "rep")
        .join(m2.hint("shuffle_hash"), "rep")
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("vec_a"), F.col("ib").alias("vec_b"), "cosine")
    )
    return cross.unionByName(clique)


EMBEDDING_DEDUP_BANDED_SQL = f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, ({bucket_sql('embedding', EMB_SIG_PLANES)}) AS bucket FROM embeddings
),
k AS (
  SELECT vec_id, band, (bucket >> ({EMB_BAND_BITS} * band)) & {(1 << EMB_BAND_BITS) - 1} AS code
  FROM b, UNNEST(range(0, {EMB_BANDS})) AS t(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
  FROM k a JOIN k b2 ON a.band = b2.band AND a.code = b2.code AND a.vec_id < b2.vec_id
)
SELECT vec_a, vec_b,
       ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS cosine
FROM cand
JOIN embeddings ea ON ea.vec_id = vec_a
JOIN embeddings eb ON eb.vec_id = vec_b
WHERE ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6) >= {DEDUP_COS_THRESHOLD}
"""


def embedding_dedup_collapsed(emb: DataFrame) -> DataFrame:
    """Exact-collapse -> banded LSH over DISTINCT vectors -> multiplicity
    report: the duplicate-heavy-corpus scale path for near-dup pairs.

    The r9 100x sweep proved why this rung must exist: on a corpus where
    vectors repeat verbatim (boilerplate embeddings, mirrored shards,
    re-crawls — and the 100x replica tier by construction), every LSH
    bucket holds c clones of each member, so PAIR-LISTING output grows
    quadratically in clone count (c^2 per true pair plus C(c,2) per
    clique) — the direct banded listing's Arrow cosine pass died under
    ~1e9 candidate pairs that were 99.99% clone echoes. The production
    composition collapses bit-identical vectors to one canonical
    representative FIRST (min vec_id — the corpus_curation exact->near
    cascade order applied to embeddings), runs the banded LSH over the
    distinct survivors, and reports clone multiplicities instead of
    materializing the quadratic expansion: n_expanded_pairs =
    clones_a * clones_b is the exact count of underlying vector pairs
    each rep pair stands for. (r10: embedding_dedup_banded now uses this
    same collapse internally and expands the listing back — 13.8 s /
    18M rows at 100x vs the r9 crash — but THIS op stays the production
    report: when clones are deep, nobody wants the expanded rows, only
    the multiplicities.)

    Scale shape: one groupBy on the embedding bytes (map-side combined;
    clone cliques collapse before any join), the banded candidate join
    over distinct reps only, cosine verification on rep pairs, two
    broadcast-able joins to ride the clone counts back on. Output is
    linear in DISTINCT near-dup structure, independent of clone depth.
    """
    groups = emb.groupBy("embedding").agg(
        F.min("vec_id").alias("vec_id"),
        F.count(F.lit(1)).cast("long").alias("clones"),
    ).localCheckpoint(eager=False)  # one collapse feeds reps + both count joins
    reps = groups.select("vec_id", "embedding")
    counts = groups.select("vec_id", "clones")
    pairs = _banded_pairs(reps)
    ca = counts.select(
        F.col("vec_id").alias("vec_a"), F.col("clones").alias("clones_a")
    )
    cb = counts.select(
        F.col("vec_id").alias("vec_b"), F.col("clones").alias("clones_b")
    )
    return (
        pairs.join(F.broadcast(ca), "vec_a")
        .join(F.broadcast(cb), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "cosine",
            "clones_a",
            "clones_b",
            (F.col("clones_a") * F.col("clones_b")).alias("n_expanded_pairs"),
        )
    )


EMBEDDING_DEDUP_COLLAPSED_SQL = f"""
WITH g AS MATERIALIZED (
  SELECT MIN(vec_id) AS vec_id, CAST(COUNT(*) AS BIGINT) AS clones, embedding
  FROM embeddings GROUP BY embedding
),
b AS MATERIALIZED (
  SELECT vec_id, ({bucket_sql('embedding', EMB_SIG_PLANES)}) AS bucket FROM g
),
k AS (
  SELECT vec_id, band, (bucket >> ({EMB_BAND_BITS} * band)) & {(1 << EMB_BAND_BITS) - 1} AS code
  FROM b, UNNEST(range(0, {EMB_BANDS})) AS t(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
  FROM k a JOIN k b2 ON a.band = b2.band AND a.code = b2.code AND a.vec_id < b2.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
         ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS cosine
  FROM cand
  JOIN g ea ON ea.vec_id = vec_a
  JOIN g eb ON eb.vec_id = vec_b
  WHERE ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6) >= {DEDUP_COS_THRESHOLD}
)
SELECT s.vec_a, s.vec_b, s.cosine,
       ga.clones AS clones_a, gb.clones AS clones_b,
       ga.clones * gb.clones AS n_expanded_pairs
FROM scored s
JOIN g ga ON ga.vec_id = s.vec_a
JOIN g gb ON gb.vec_id = s.vec_b
"""


def embedding_dedup_recall(emb: DataFrame) -> DataFrame:
    """Pair recall of every approximate near-dup variant vs exact truth.

    One row: how many true near-dup pairs (cosine >= threshold, from the
    SAMPLE-BOUNDED exact baseline — truth pairs live within
    ``vec_id < DEDUP_SAMPLE_N``, so the monitor's own cost stays constant
    at any corpus size) each variant recovers — full-bucket LSH,
    multi-probe (Hamming <= 1), and banded. Recall measured on a
    deterministic sample of the truth set is the standard unbiased
    estimate; the variants themselves still run over the full corpus.
    """
    truth = embedding_dedup(emb).select("vec_a", "vec_b")
    variants = {
        "lsh": embedding_dedup_lsh(emb),
        "mp": embedding_dedup_mp(emb),
        "banded": embedding_dedup_banded(emb),
    }
    joined = truth
    for tag, df in variants.items():
        hits = df.select("vec_a", "vec_b").withColumn(f"hit_{tag}", F.lit(1))
        joined = joined.join(hits, ["vec_a", "vec_b"], "left")
    aggs = [F.count(F.lit(1)).alias("n_true_pairs")] + [
        F.sum(F.coalesce(F.col(f"hit_{tag}"), F.lit(0)))
        .cast("long")
        .alias(f"n_{tag}_pairs")
        for tag in variants
    ]
    out = joined.agg(*aggs)
    for tag in variants:
        out = out.withColumn(
            f"recall_{tag}",
            F.round(F.col(f"n_{tag}_pairs") / F.col("n_true_pairs"), 6),
        )
    return out


EMBEDDING_DEDUP_RECALL_SQL = f"""
WITH truth AS (SELECT vec_a, vec_b FROM ({EMBEDDING_DEDUP_SQL})),
lsh AS (SELECT vec_a, vec_b, 1 AS hit_lsh FROM ({EMBEDDING_DEDUP_LSH_SQL})),
mp AS (SELECT vec_a, vec_b, 1 AS hit_mp FROM ({EMBEDDING_DEDUP_MP_SQL})),
banded AS (SELECT vec_a, vec_b, 1 AS hit_banded FROM ({EMBEDDING_DEDUP_BANDED_SQL}))
SELECT COUNT(*) AS n_true_pairs,
       CAST(SUM(COALESCE(l.hit_lsh, 0)) AS BIGINT) AS n_lsh_pairs,
       CAST(SUM(COALESCE(m.hit_mp, 0)) AS BIGINT) AS n_mp_pairs,
       CAST(SUM(COALESCE(bd.hit_banded, 0)) AS BIGINT) AS n_banded_pairs,
       ROUND(CAST(SUM(COALESCE(l.hit_lsh, 0)) AS BIGINT) / COUNT(*), 6) AS recall_lsh,
       ROUND(CAST(SUM(COALESCE(m.hit_mp, 0)) AS BIGINT) / COUNT(*), 6) AS recall_mp,
       ROUND(CAST(SUM(COALESCE(bd.hit_banded, 0)) AS BIGINT) / COUNT(*), 6) AS recall_banded
FROM truth t
LEFT JOIN lsh l ON t.vec_a = l.vec_a AND t.vec_b = l.vec_b
LEFT JOIN mp m ON t.vec_a = m.vec_a AND t.vec_b = m.vec_b
LEFT JOIN banded bd ON t.vec_a = bd.vec_a AND t.vec_b = bd.vec_b
"""


IVF_K = 16
IVF_TOPK = 5


def ivf_centroids(emb: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer: the first IVF_K vectors."""
    return emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cemb")
    )


def ivf_assign(vecs: DataFrame, cents: DataFrame, k_cells: int = 1) -> DataFrame:
    """Assign each vector its k_cells argmax-cosine centroid cells.

    K tiny -> the centroid table broadcasts; the per-vector window
    partition is exactly K rows. Ties break to the lowest centroid id.
    """
    from pyspark.sql.window import Window

    scored = vecs.select("vec_id", "embedding").crossJoin(
        F.broadcast(cents)
    ).select(
        "vec_id",
        "embedding",
        "centroid_id",
        F.round(cosine_udf(F.col("embedding"), F.col("cemb")), 6).alias("ccos"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.col("centroid_id")
    )
    return (
        scored.withColumn("r", F.row_number().over(w_assign))
        .filter(F.col("r") <= k_cells)
        .select("vec_id", "embedding", F.col("centroid_id").alias("cell"))
    )


def write_ivf_index(emb: DataFrame, base_path: str) -> None:
    """Persist the IVF index AS LAYOUT: parquet partitioned by cell.

    The inverted lists are not a special structure — they are parquet
    partitions. ``cells/cell=N/`` holds cell N's vectors; ``centroids/``
    holds the K-row quantizer. A search that probes nprobe cells then
    reads exactly those directories via partition pruning: the scan cost
    is ~nprobe/K of the corpus with zero index machinery beyond the
    layout, and the index compacts/replicates like any other table.
    """
    cents = ivf_centroids(emb)
    assigned = ivf_assign(emb, cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        base_path + "/cells"
    )
    cents.write.mode("overwrite").parquet(base_path + "/centroids")


def search_ivf_index(
    spark, base_path: str, queries: DataFrame, nprobe: int = 1
) -> DataFrame:
    """Top-k search against a persisted IVF index, reading only probed cells.

    The query set is small by definition (that is what makes IVF pay),
    so its cell assignments collect to the driver and become a partition
    filter — Spark's ordinary partition pruning then skips every
    unprobed cell's files. Scoring and ranking are identical expressions
    to :func:`ann_ivf_topk`, so a fresh index reproduces its results
    exactly.
    """
    cents = spark.read.parquet(base_path + "/centroids")
    q = ivf_assign(queries, cents, k_cells=nprobe).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell"
    )
    probed = [r.cell for r in q.select("cell").distinct().collect()]
    idx = (
        spark.read.parquet(base_path + "/cells")
        .withColumn("cell", F.col("cell").cast("long"))
        .filter(F.col("cell").isin(probed))
        .select("vec_id", F.col("embedding").alias("ce"), "cell")
    )
    from pyspark.sql.window import Window

    pairs = idx.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    ranked = pairs.select(
        "query_id",
        "vec_id",
        F.round(cosine_udf(F.col("qe"), F.col("ce")), 6).alias("cosine"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        ranked.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= IVF_TOPK)
    )


def ann_ivf_topk(emb: DataFrame, nprobe: int = 1, cents: DataFrame | None = None) -> DataFrame:
    """IVF-style ANN: coarse quantize into cells, search the query's cell.

    Deterministic coarse quantizer: the first IVF_K vectors (vec_id <
    IVF_K) are the centroids; every vector is assigned to its argmax-
    cosine centroid (ties -> lowest centroid id). Queries (vec_id <
    N_QUERIES) then search ONLY their own cell — at 100 TB the candidate
    set shrinks by ~K before any exact scoring while the assignment pass
    stays an embarrassingly parallel broadcast join (K tiny). nprobe=1 by
    design; recall/latency trades by raising nprobe (union more cells).

    Output: (query_id, vec_id, cosine, rnk) — top-IVF_TOPK within-cell
    neighbors, self excluded.
    """
    from pyspark.sql.window import Window

    # The query branch recomputes assignment over ONLY the query vectors
    # (pushed filter, N_QUERIES rows) instead of sharing/caching the full
    # assignment — recompute-on-the-pruned-subset beats materializing the
    # corpus-wide assignment twice, and the candidate branch stays a
    # single full pass.
    if cents is None:
        cents = ivf_centroids(emb)
    c = ivf_assign(emb, cents).select(
        "vec_id", F.col("embedding").alias("ce"), "cell"
    )
    q = ivf_assign(
        emb.filter(F.col("vec_id") < N_QUERIES), cents, k_cells=nprobe
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell"
    )
    pairs = c.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    ranked = pairs.select(
        "query_id",
        "vec_id",
        F.round(cosine_udf(F.col("qe"), F.col("ce")), 6).alias("cosine"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        ranked.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= IVF_TOPK)
    )


_FIRST_K_CENTS_SQL = f"""cents AS (
  SELECT vec_id AS centroid_id, embedding AS cemb FROM embeddings WHERE vec_id < {IVF_K}
)"""


def _ivf_cells_sql(
    nprobe: int = 0,
    queries: str = f"vec_id < {N_QUERIES}",
    cents: str = _FIRST_K_CENTS_SQL,
) -> str:
    """The IVF assignment CTEs every IVF oracle shares: the ``cents``
    quantizer, each vector's centroid cosines ``cscored``, its argmax
    cell ``assigned`` (vec_id, embedding, cell) and, when ``nprobe`` is
    set, ``probes`` (query_id, qe, cell): the ``nprobe`` best cells of
    every vector matching ``queries``. ``cscored`` is MATERIALIZED
    because the corpus assignment and the probes both read it.
    """
    probes = "" if not nprobe else f""",
probes AS (
  SELECT vec_id AS query_id, embedding AS qe, centroid_id AS cell
  FROM cscored WHERE {queries}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) <= {nprobe}
)"""
    return f"""{cents},
cscored AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         ROUND({cosine_sql('e.embedding', 'c.cemb')}, 6) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell
  FROM cscored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) = 1
){probes}"""


def _ivf_sql(nprobe: int, prelude: str = "WITH", cents: str = _FIRST_K_CENTS_SQL) -> str:
    """Oracle of :func:`ann_ivf_topk` over the ``cents`` CTE's quantizer.

    ``prelude`` is the text before ``cents``: a bare ``WITH``, or the
    CTEs the centroid CTE reads ending in a comma (the learned quantizer
    passes its Lloyd rounds).
    """
    return f"""
{prelude}
{_ivf_cells_sql(nprobe, cents=cents)},
pairs AS (
  SELECT q.query_id, c.vec_id,
         ROUND({cosine_sql('q.qe', 'c.embedding')}, 6) AS cosine
  FROM assigned c JOIN probes q USING (cell)
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
FROM pairs
QUALIFY rnk <= {IVF_TOPK}
"""


ANN_IVF_TOPK_SQL = _ivf_sql(1)
ANN_IVF_TOPK2_SQL = _ivf_sql(2)


def ann_ivf_topk2(emb: DataFrame) -> DataFrame:
    """IVF with nprobe=2: union the query's two nearest cells.

    The recall/latency dial: measured recall@5 (sf0.01) rises from 0.90
    (nprobe=1) to 0.92 while the candidate set doubles — still ~2N/K of
    the corpus, far from brute force. (A modest gain: these uniform
    synthetic embeddings have weak cluster structure, so misses sit
    near cell boundaries in many directions.)
    """
    return ann_ivf_topk(emb, nprobe=2)


def ann_ivf_recall(emb: DataFrame, nprobe: int = 1) -> DataFrame:
    """Recall@5 of the IVF index vs brute-force ground truth, per query.

    The approximation-quality metric every ANN deployment must monitor:
    the brute-force top-5 (exact truth) left-joined against the IVF
    candidate list; recall = hits/5. Composes the two existing operators
    unchanged — measuring the index costs one extra small join, no new
    scoring code. Scale note: truth is capped to the fixed N_QUERIES
    query sample, so the brute pass is one linear O(Q*N) scan (same
    order as the IVF assignment pass itself), never quadratic — the
    query-set cap IS the sampling a 100 TB monitor needs.
    """
    return _recall(
        ann_cosine_topk(emb).filter(F.col("rnk") <= IVF_TOPK),
        ann_ivf_topk(emb, nprobe=nprobe),
    )


def _recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@IVF_TOPK: (query_id, n_hits, recall).

    ``truth`` is an exact top-IVF_TOPK list, already cut to IVF_TOPK
    rows per query; a truth row is a hit when ``approx`` holds the same
    (query_id, vec_id). The one recall meter every approximate search
    here reports through.
    """
    hits = approx.select("query_id", "vec_id", F.lit(1).alias("hit"))
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
    return (
        truth.select("query_id", "vec_id")
        .join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(n_hits.alias("n_hits"))
        .withColumn("recall", F.round(F.col("n_hits") / IVF_TOPK, 6))
    )


def _recall_sql(approx_sql: str, truth_sql: str = ANN_COSINE_TOPK_SQL) -> str:
    """Oracle of :func:`_recall`: ``truth_sql`` cut to IVF_TOPK vs ``approx_sql``."""
    return f"""
WITH brute AS (
  SELECT query_id, vec_id FROM ({truth_sql}) WHERE rnk <= {IVF_TOPK}
),
appr AS (
  SELECT query_id, vec_id, 1 AS hit FROM ({approx_sql})
)
SELECT b.query_id,
       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) / {IVF_TOPK}, 6) AS recall
FROM brute b LEFT JOIN appr a ON b.query_id = a.query_id AND b.vec_id = a.vec_id
GROUP BY b.query_id
"""


ANN_IVF_RECALL_SQL = _recall_sql(ANN_IVF_TOPK_SQL)
ANN_IVF_RECALL2_SQL = _recall_sql(ANN_IVF_TOPK2_SQL)


def ann_ivf_recall2(emb: DataFrame) -> DataFrame:
    """Recall@5 at nprobe=2 — the other end of the recall/latency dial."""
    return ann_ivf_recall(emb, nprobe=2)


RECALL_QPL = 3  # stratified recall probe: queries per label


def ann_recall_by_label(emb: DataFrame) -> DataFrame:
    """Recall@5 of the IVF index STRATIFIED by label — index fairness.

    An aggregate recall number hides the failure mode that matters in a
    training-data pipeline: the index quietly under-serving one slice of
    the corpus (a language, a domain, a modality bucket) because its
    vectors straddle cell boundaries. This probe takes the first
    RECALL_QPL vec_ids PER LABEL (deterministic stratified sample — every
    stratum is measured no matter how rare), computes brute-force truth
    and IVF candidates for exactly that query set, and reports per-label
    hits and recall_ppm (integer micro-rate, no float division).

    Scale shape: the query set is |labels|*QPL rows — broadcast
    everywhere it appears; brute truth is one linear O(Q*N) scan (the
    per-label cap bounds Q); the IVF side reuses the same broadcast-join
    assignment as ann_ivf_topk. One corpus-sized shuffle (the stratify
    window) — at 100 TB replace with a per-label reservoir sample; the
    contract (QPL queries per label) is unchanged.
    """
    from pyspark.sql.window import Window

    w_strat = Window.partitionBy("label").orderBy("vec_id")
    q = (
        emb.withColumn("rn", F.row_number().over(w_strat))
        .filter(F.col("rn") <= RECALL_QPL)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            "label",
        )
    )
    # brute-force truth over the stratified query set (ann_cosine_topk's
    # scoring, custom query frame)
    c = emb.select("vec_id", F.col("embedding").alias("ce"))
    scored = c.join(
        F.broadcast(q.drop("label")), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", "vec_id", F.round(cosine_cols("qe", "ce"), 6).alias("cosine")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    truth = scored.withColumn("rnk", F.row_number().over(w_rank)).filter(
        F.col("rnk") <= IVF_TOPK
    )
    # IVF candidates for the same query set (ann_ivf_topk's machinery)
    cents = ivf_centroids(emb)
    cvec = ivf_assign(emb, cents).select(
        "vec_id", F.col("embedding").alias("ce"), "cell"
    )
    qv = ivf_assign(
        q.select(F.col("query_id").alias("vec_id"), F.col("qe").alias("embedding")),
        cents,
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell"
    )
    pairs = cvec.join(F.broadcast(qv), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    approx = (
        pairs.select(
            "query_id",
            "vec_id",
            F.round(cosine_udf(F.col("qe"), F.col("ce")), 6).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= IVF_TOPK)
    )
    return (
        _recall(truth, approx)
        .join(q.select("query_id", "label"), "query_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_hits").cast("long").alias("n_hits"),
        )
        .select(
            "label",
            "n_queries",
            "n_hits",
            F.expr(f"(n_hits * 1000000) div (n_queries * {IVF_TOPK})").alias(
                "recall_ppm"
            ),
        )
        .orderBy("label")
    )


ANN_RECALL_BY_LABEL_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe, label
  FROM embeddings
  QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) <= {RECALL_QPL}
),
brute AS (
  SELECT q.query_id, e.vec_id,
         ROUND({cosine_sql('q.qe', 'e.embedding')}, 6) AS cosine
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
),
truth AS (
  SELECT query_id, vec_id FROM brute
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
          <= {IVF_TOPK}
),
{_ivf_cells_sql(1, "vec_id IN (SELECT query_id FROM q)")},
appr AS (
  SELECT query_id, vec_id, 1 AS hit FROM (
    SELECT qc.query_id, c.vec_id,
           ROUND({cosine_sql('qc.qe', 'c.embedding')}, 6) AS cosine
    FROM assigned c JOIN probes qc USING (cell)
    WHERE c.vec_id <> qc.query_id
  )
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
          <= {IVF_TOPK}
),
per_q AS (
  SELECT t.query_id, CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits
  FROM truth t LEFT JOIN appr a
    ON t.query_id = a.query_id AND t.vec_id = a.vec_id
  GROUP BY t.query_id
)
SELECT q.label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(p.n_hits) AS BIGINT) AS n_hits,
       (CAST(SUM(p.n_hits) AS BIGINT) * 1000000)
         // (CAST(COUNT(*) AS BIGINT) * {IVF_TOPK}) AS recall_ppm
FROM per_q p JOIN q ON q.query_id = p.query_id
GROUP BY q.label
ORDER BY q.label
"""


def ann_centroid_balance(emb: DataFrame) -> DataFrame:
    """IVF cell-occupancy balance — the index-health row ops watches.

    A skewed coarse quantizer is the IVF failure mode that never shows
    up in recall: one hot cell holds half the corpus, every probe of it
    scans half the corpus, and at 100 TB that cell IS the hot partition.
    Per cell: vector count, share in ppm, and a hot flag (occupancy
    more than 2x the uniform K-share — the standard imbalance alarm).
    The uniform comparison is pure integer cross-multiplication
    (n_vecs * K > 2 * N), no division.

    Scale shape: one broadcast-assign pass (the ivf_assign kernel) +
    one K-row aggregate + a 1-row corpus-count broadcast.
    """
    cents = ivf_centroids(emb)
    assigned = ivf_assign(emb, cents)
    per_cell = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        per_cell.crossJoin(F.broadcast(total))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vecs",
            F.expr("(n_vecs * 1000000) div n_total").alias("share_ppm"),
            F.expr(
                f"CAST(CASE WHEN n_vecs * {IVF_K} > 2 * n_total"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("hot"),
        )
        .orderBy("cell")
    )


ANN_CENTROID_BALANCE_SQL = f"""
WITH {_ivf_cells_sql()},
per_cell AS (
  SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM assigned GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM embeddings)
SELECT cell, n_vecs,
       (n_vecs * 1000000) // n_total AS share_ppm,
       CAST(CASE WHEN n_vecs * {IVF_K} > 2 * n_total THEN 1 ELSE 0 END AS INT)
         AS hot
FROM per_cell CROSS JOIN total
ORDER BY cell
"""


QUERY_SQL = {
    "ann_cosine_topk": ANN_COSINE_TOPK_SQL,
    "ann_lsh_buckets": ANN_LSH_BUCKETS_SQL,
    "embedding_dedup": EMBEDDING_DEDUP_SQL,
    "embedding_dedup_lsh": EMBEDDING_DEDUP_LSH_SQL,
    "embedding_dedup_mp": EMBEDDING_DEDUP_MP_SQL,
    "embedding_dedup_banded": EMBEDDING_DEDUP_BANDED_SQL,
    "embedding_dedup_collapsed": EMBEDDING_DEDUP_COLLAPSED_SQL,
    "embedding_dedup_recall": EMBEDDING_DEDUP_RECALL_SQL,
    "ann_ivf_topk": ANN_IVF_TOPK_SQL,
    "ann_ivf_topk2": ANN_IVF_TOPK2_SQL,
    "ann_ivf_recall": ANN_IVF_RECALL_SQL,
    "ann_ivf_recall2": ANN_IVF_RECALL2_SQL,
    "ann_recall_by_label": ANN_RECALL_BY_LABEL_SQL,
    "ann_centroid_balance": ANN_CENTROID_BALANCE_SQL,
}


# -- semantic decontamination (eval-vs-corpus, bucket-blocked) -------------

DECON_EVAL_N = 50
DECON_COS = 0.3  # review bar, calibrated to the synthetic corpus (see docstring)
DECON_PLANES = 8


def semantic_decontaminate(emb: DataFrame) -> DataFrame:
    """Semantic eval-set contamination audit over embeddings.

    The embedding-space twin of the 5-gram ``decontaminate`` operator:
    n-gram overlap misses PARAPHRASED benchmark leakage, which lives in
    embedding space. The held-out slice (vec_id < DECON_EVAL_N — the
    same fixed-slice convention as the n-gram op) broadcasts against
    the corpus through an 8-plane hyperplane-bucket equi-join (2^8
    buckets; candidates ~ |corpus| x |eval| / 256, never the full cross
    product), then exact cosine >= DECON_COS verifies. Output: one row
    per CONTAMINATED corpus vector — (vec_id, n_eval_matches,
    max_cosine) — the removal/review list. The cosine bar is a
    per-corpus calibration (0.3 here: these synthetic embeddings top
    out ~0.35 across the eval boundary; production sets it from a
    labeled paraphrase sample).

    Scale: the eval side is small by definition (broadcast); the corpus
    side's bucket signature is one Arrow map pass; plane count is the
    candidate-volume dial (more planes = fewer, tighter buckets).
    """
    sig = sig_udf(DECON_PLANES)
    ev = emb.filter(F.col("vec_id") < DECON_EVAL_N).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("ee"),
        sig(F.col("embedding")).alias("b"),
    )
    corpus = emb.filter(F.col("vec_id") >= DECON_EVAL_N).select(
        "vec_id", F.col("embedding").alias("ce"), sig(F.col("embedding")).alias("b")
    )
    pairs = corpus.join(F.broadcast(ev), "b").select(
        "vec_id",
        "eval_id",
        F.round(cosine_udf(F.col("ce"), F.col("ee")), 6).alias("cos"),
    ).filter(F.col("cos") >= DECON_COS)
    return pairs.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("cos").alias("max_cosine"),
    )


SEMANTIC_DECONTAMINATE_SQL = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS ee,
         {bucket_sql('embedding', DECON_PLANES)} AS b
  FROM embeddings WHERE vec_id < {DECON_EVAL_N}
),
corpus AS (
  SELECT vec_id, embedding AS ce,
         {bucket_sql('embedding', DECON_PLANES)} AS b
  FROM embeddings WHERE vec_id >= {DECON_EVAL_N}
),
pairs AS (
  SELECT c.vec_id, e.eval_id,
         ROUND({cosine_sql('c.ce', 'e.ee')}, 6) AS cos
  FROM corpus c JOIN ev e USING (b)
)
SELECT vec_id, COUNT(*) AS n_eval_matches, MAX(cos) AS max_cosine
FROM pairs WHERE cos >= {DECON_COS}
GROUP BY vec_id
"""

QUERY_SQL["semantic_decontaminate"] = SEMANTIC_DECONTAMINATE_SQL


# -- Matryoshka truncation (dimension-reduction dial) ----------------------

MRL_DIM = 32  # truncated prefix dimension (half the embedding)

_COS_DIM_UDFS: dict[int, object] = {}


def cosine_dim_udf(dim: int):
    """Cosine over only the FIRST ``dim`` components (left-fold parity).

    Matryoshka-representation-learning embeddings are trained so that any
    prefix of the vector is itself a usable embedding; truncation is the
    zero-infrastructure dimension-reduction dial (half the dims = half
    the memory/FLOPs of every downstream scan). The engine's job is to
    measure what that dial costs — see :func:`ann_matryoshka_recall`.
    """
    if dim not in _COS_DIM_UDFS:

        @pandas_udf(DoubleType())
        def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
            if len(a) == 0:
                return pd.Series([], dtype="float64")
            A, B = _mat(a), _mat(b)
            dot = A[:, 0] * B[:, 0]
            sa = A[:, 0] * A[:, 0]
            sb = B[:, 0] * B[:, 0]
            for i in range(1, dim):
                dot = dot + A[:, i] * B[:, i]
                sa = sa + A[:, i] * A[:, i]
                sb = sb + B[:, i] * B[:, i]
            return pd.Series(dot / (np.sqrt(sa) * np.sqrt(sb)))

        _COS_DIM_UDFS[dim] = _cos.asNondeterministic()
    return _COS_DIM_UDFS[dim]


def dot_dim_sql(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, dim + 1)
    )


def ssq_dim_sql(a: str, dim: int) -> str:
    return " + ".join(
        f"{a}[{i}]::DOUBLE * {a}[{i}]::DOUBLE" for i in range(1, dim + 1)
    )


def ann_matryoshka_topk(emb: DataFrame) -> DataFrame:
    """Top-5 per query by cosine over the truncated MRL_DIM-dim prefix.

    Same scoring shape as the brute truth (broadcast query side, exact
    arithmetic) — the only change is which components participate. Exact
    end-to-end, so the WHOLE truncated search is value-hash-oracled
    (contrast the sketch-based ANN variants, whose outputs are oracled
    through integer determinism).
    """
    from pyspark.sql.window import Window

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select("vec_id", F.col("embedding").alias("ce"))
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        F.round(cosine_dim_udf(MRL_DIM)(F.col("qe"), F.col("ce")), 6).alias(
            "cosine32"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine32"), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= IVF_TOPK)
    )


ANN_MRL_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND((({dot_dim_sql('qe', 'ce', MRL_DIM)}) / (sqrt({ssq_dim_sql('qe', MRL_DIM)}) * sqrt({ssq_dim_sql('ce', MRL_DIM)}))), 6) AS cosine32
  FROM (SELECT vec_id, embedding AS ce FROM embeddings) e
  JOIN q ON e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine32,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine32 DESC, vec_id) AS rnk
FROM scored
QUALIFY rnk <= {IVF_TOPK}
"""


def ann_matryoshka_recall(emb: DataFrame) -> DataFrame:
    """Recall@5 of truncated-32-dim search vs the full-64-dim exact truth.

    The dial's price tag: how much neighbor fidelity does dropping half
    the dimensions cost on THIS corpus? Composes the existing truth and
    the truncated search with the standard recall join — measured, not
    assumed, exactly like the IVF/PQ/LSH monitors (every approximation in
    this engine ships with its recall meter).
    """
    return _recall(
        ann_cosine_topk(emb).filter(F.col("rnk") <= IVF_TOPK),
        ann_matryoshka_topk(emb),
    )


QUERY_SQL["ann_matryoshka_topk"] = ANN_MRL_TOPK_SQL
QUERY_SQL["ann_matryoshka_recall"] = _recall_sql(ANN_MRL_TOPK_SQL)


NPROBE_CURVE = (1, 2, 4)


def ann_ivf_nprobe_curve(emb: DataFrame) -> DataFrame:
    """The IVF tuning curve: recall@5 AND candidate volume per nprobe.

    The single-point recall monitors (ann_ivf_recall / _recall2) answer
    "is the index healthy"; THIS answers "where should the dial sit" —
    one row per nprobe in {1, 2, 4} with the mean recall (exact
    rational: total hits * 1e6 div (queries * 5)) and the exact number
    of candidates scored (sum of probed-cell sizes minus the Q
    self-pairs) — the price axis the recall axis trades against.
    Composes the oracled recall operator unchanged per point; candidate
    volume is one probed-cells-to-cell-sizes equi-join per point, so
    the curve costs ~|curve| recall queries, never a new scoring path.
    """
    cents = ivf_centroids(emb)
    assign = ivf_assign(emb, cents).select("vec_id", "cell")
    sizes = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    out = None
    for np_ in NPROBE_CURVE:
        rec = ann_ivf_recall(emb, nprobe=np_)
        agg = rec.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_hits").alias("n_hits_total"),
        )
        probes = ivf_assign(
            emb.filter(F.col("vec_id") < N_QUERIES), cents, k_cells=np_
        ).select("vec_id", "cell")
        cand = probes.join(sizes, "cell").agg(
            (F.sum("n") - F.count_distinct("vec_id")).alias("n_candidates")
        )
        row = (
            agg.crossJoin(F.broadcast(cand))
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "n_queries",
                "n_hits_total",
                F.expr(
                    f"(n_hits_total * 1000000) div (n_queries * {IVF_TOPK})"
                ).alias("recall_mean_micro"),
                "n_candidates",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _nprobe_curve_block(np_: int) -> str:
    return f"""
SELECT CAST({np_} AS BIGINT) AS nprobe,
       CAST(r.n_queries AS BIGINT) AS n_queries,
       CAST(r.n_hits_total AS BIGINT) AS n_hits_total,
       CAST((r.n_hits_total * 1000000) // (r.n_queries * {IVF_TOPK}) AS BIGINT)
         AS recall_mean_micro,
       CAST(c.n_candidates AS BIGINT) AS n_candidates
FROM (
  SELECT COUNT(*) AS n_queries, SUM(n_hits) AS n_hits_total
  FROM ({_recall_sql(_ivf_sql(np_))})
) r
CROSS JOIN (
  WITH {_ivf_cells_sql(np_)},
  cellsizes AS (SELECT cell, COUNT(*) AS n FROM assigned GROUP BY 1)
  SELECT SUM(cs.n) - COUNT(DISTINCT p.query_id) AS n_candidates
  FROM probes p JOIN cellsizes cs USING (cell)
) c
"""


ANN_IVF_NPROBE_CURVE_SQL = "\nUNION ALL\n".join(
    _nprobe_curve_block(np_) for np_ in NPROBE_CURVE
)

QUERY_SQL["ann_ivf_nprobe_curve"] = ANN_IVF_NPROBE_CURVE_SQL


FILTERED_TOPK = 5


def ann_filtered_topk(emb: DataFrame) -> DataFrame:
    """Filtered vector search: same-label top-5 + the post-filter deficit.

    The vector-DB capability the plain top-k ops don't cover: search
    restricted by a metadata predicate (here "same label as the query"
    — search-within-category). PRE-filtering applies the predicate
    before ranking, so the top-5 is always full; POST-filtering (rank
    globally, then filter) silently under-fills — n_post_hits counts
    how many of the UNfiltered top-10 carry the query's label, the
    deficit that makes post-filtering wrong when the filter is
    selective. Same eval-bounded brute shape as ann_cosine_topk (10
    broadcast queries; the predicate prunes the candidate side BEFORE
    ranking — at scale it composes with the IVF/LSH candidate
    structure exactly like the recall monitors do).
    """
    from pyspark.sql.window import Window

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select("vec_id", F.col("embedding").alias("ce"), "label")
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        F.round(cosine_cols("qe", "ce"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    pre = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= FILTERED_TOPK)
        .select("query_id", "rnk", "vec_id", "cosine")
    )
    post = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOPK)
        .groupBy("query_id")
        .agg(
            F.sum(
                (F.col("label") == F.col("qlabel")).cast("long")
            ).alias("n_post_hits")
        )
    )
    return pre.join(post, "query_id")


ANN_FILTERED_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, q.qlabel, e.vec_id, e.label,
         ROUND({cosine_sql('qe', 'ce')}, 6) AS cosine
  FROM (SELECT vec_id, embedding AS ce, label FROM embeddings) e
  JOIN q ON e.vec_id <> q.query_id
),
pre AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored WHERE label = qlabel
  QUALIFY rnk <= {FILTERED_TOPK}
),
post AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_post_hits
  FROM (
    SELECT query_id, qlabel, label,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r
    FROM scored
  ) WHERE r <= {TOPK}
  GROUP BY query_id
)
SELECT p.query_id, p.rnk, p.vec_id, p.cosine, n.n_post_hits
FROM pre p JOIN post n USING (query_id)
"""

QUERY_SQL["ann_filtered_topk"] = ANN_FILTERED_TOPK_SQL


def embedding_hubness(emb: DataFrame) -> DataFrame:
    """Hubness diagnostic of the LSH-bucketed kNN graph: the
    k-occurrence (in-degree) histogram plus its skewness — the
    intrinsic-dimensionality pathology monitor for the ANN tier
    (Radovanovic et al., JMLR'10: in high intrinsic dimension a few
    "hub" vectors appear in MOST top-k lists while antihubs appear in
    none; retrieval quality collapses while recall metrics still look
    fine, and the k-occurrence skew is the canonical early signal).

    Graph: within each hyperplane bucket (the embedding_dedup_lsh scale
    path — equi-join on the 16-bit code, fan-out bounded by bucket
    occupancy), each vector's top-10 bucket-mates by (cosine desc,
    vec_id); in-degree = how many such lists a vector appears in,
    including the ZERO row for never-retrieved vectors (a left
    anti-ish join back to the full corpus — the antihub mass IS the
    signal). Skewness comes from exact int64 moments (S1, S2, S3 of the
    in-degree distribution; d <= n so S3 <= n^4 — headroom to ~1e4
    buckets x 1e5 occupancy) through one identical double tree,
    repeated per histogram row via a 1-row broadcast cross.

    Output: (k_occurrences, n_vecs) histogram rows + n_total /
    mean_milli / skew_milli scalars.
    """
    from pyspark.sql.window import Window

    withb = emb.select(
        "vec_id", "embedding", bucket_col("embedding").alias("bucket")
    )
    a = withb.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("ea"), "bucket"
    )
    b = withb.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("eb"), "bucket"
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    edges = (
        a.join(b, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src", "dst", F.round(cosine_cols("ea", "eb"), 6).alias("cosine")
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
    )
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    deg = (
        emb.select("vec_id")
        .join(indeg, emb.vec_id == indeg.dst, "left")
        .select(F.coalesce("d", F.lit(0).cast("long")).alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_vecs"))
    mom = hist.agg(
        F.sum("n_vecs").alias("n_total"),
        F.sum(F.expr("d * n_vecs")).alias("s1"),
        F.sum(F.expr("d * d * n_vecs")).alias("s2"),
        F.sum(F.expr("d * d * d * n_vecs")).alias("s3"),
    )
    m = "(CAST(s1 AS DOUBLE) / n_total)"
    var = f"(CAST(s2 AS DOUBLE) / n_total - {m} * {m})"
    skew = (
        f"((CAST(s3 AS DOUBLE) / n_total - 3.0 * {m} * CAST(s2 AS DOUBLE)"
        f" / n_total + 2.0 * {m} * {m} * {m})"
        f" / NULLIF(sqrt({var}) * {var}, 0.0))"
    )
    return (
        hist.select(F.col("d").alias("k_occurrences"), "n_vecs")
        .crossJoin(F.broadcast(mom))
        .select(
            "k_occurrences",
            "n_vecs",
            "n_total",
            F.expr(f"CAST(FLOOR({m} * 1000) AS BIGINT)").alias("mean_milli"),
            F.expr(f"CAST(FLOOR({skew} * 1000) AS BIGINT)").alias(
                "skew_milli"
            ),
        )
    )


EMBEDDING_HUBNESS_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, ({bucket_sql('embedding')}) AS bucket FROM embeddings
),
edges AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b2.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
               ORDER BY ROUND({cosine_sql('a.embedding', 'b2.embedding')}, 6)
                 DESC, b2.vec_id) AS rnk
    FROM b a JOIN b b2
      ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
  ) WHERE rnk <= {TOPK}
),
indeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
deg AS (
  SELECT COALESCE(i.d, 0) AS d
  FROM embeddings e LEFT JOIN indeg i ON e.vec_id = i.dst
),
hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM deg GROUP BY 1),
mom AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
         CAST(SUM(d * n_vecs) AS BIGINT) AS s1,
         CAST(SUM(d * d * n_vecs) AS BIGINT) AS s2,
         CAST(SUM(d * d * d * n_vecs) AS BIGINT) AS s3
  FROM hist
)
SELECT d AS k_occurrences, n_vecs, n_total,
       CAST(FLOOR((CAST(s1 AS DOUBLE) / n_total) * 1000) AS BIGINT)
         AS mean_milli,
       CAST(FLOOR(((CAST(s3 AS DOUBLE) / n_total
              - 3.0 * (CAST(s1 AS DOUBLE) / n_total) * CAST(s2 AS DOUBLE)
                / n_total
              + 2.0 * (CAST(s1 AS DOUBLE) / n_total)
                * (CAST(s1 AS DOUBLE) / n_total)
                * (CAST(s1 AS DOUBLE) / n_total))
             / NULLIF(sqrt(CAST(s2 AS DOUBLE) / n_total
                   - (CAST(s1 AS DOUBLE) / n_total)
                     * (CAST(s1 AS DOUBLE) / n_total))
                 * (CAST(s2 AS DOUBLE) / n_total
                    - (CAST(s1 AS DOUBLE) / n_total)
                      * (CAST(s1 AS DOUBLE) / n_total)), 0.0))
            * 1000) AS BIGINT) AS skew_milli
FROM hist CROSS JOIN mom
"""

QUERY_SQL["embedding_hubness"] = EMBEDDING_HUBNESS_SQL
