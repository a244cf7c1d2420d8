"""Deduplication operators for LLM training-data pipelines.

Four families over the ``documents`` table, each with a structurally
identical DuckDB SQL rendering so the driver's type-sensitive value hash
is exact:

* exact         — md5(text) hash-groupBy (survivor = min doc_id)
* MinHash+LSH   — 3-word shingles -> 64 universal-hash permutations ->
                  16x4 banding -> candidate pairs via band-bucket self-join
* SimHash       — 60-bit shingle simhash, 4x15-bit piece blocking,
                  pairs within Hamming radius (pigeonhole-complete)
* n-gram Jaccard— distinct-shingle inverted index -> common counts ->
                  exact Jaccard >= threshold (df-bounded)

Scale design (the whole point):
* Everything is explode + codegen hash + partial aggregation — map-side
  combine collapses each doc to one signature row before any shuffle.
* Candidate pairs come from equi-joins on (band_id, band_key) /
  (piece_id, piece) / shingle — bounded fan-out, never an all-pairs
  cross join. Identical-signature clusters are the only hot keys and AQE
  skew-join splitting handles them.
* The shingle inverted index drops shingles with document frequency >
  NGRAM_MAX_DF (stopword-shingles): at 100 TB a single hot shingle would
  otherwise create a quadratic join blowup. Jaccard is therefore over the
  df-bounded shingle sets — applied identically in both engines.

Hash family: see functions/hashing.py (md5-based, exact in int64 on both
engines, no RNG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_31, md5_long_sql, minhash_coeffs
from ..functions.joins import checkpoint_small as _checkpoint_small
from ..functions.joins import corpus_join_hint as _corpus_join_hint
from ..functions.joins import corpus_rows as _corpus_rows
from ..functions.joins import materialize as _materialize
from ..functions.joins import run_chains as _run_chains
from ..functions.joins import scale_pin as _scale_pin
from .text import ngram_lists_sql

NUM_PERM = 64
BANDS = 16
ROWS_PER_BAND = 4
SIMHASH_BITS = 60
SIMHASH_PIECES = 4
SIMHASH_PIECE_BITS = 15
SIMHASH_MAX_HAMMING = 3
NGRAM_N = 3
NGRAM_MAX_DF = 100
NGRAM_MIN_JACCARD = 0.5

_COEFFS = minhash_coeffs(NUM_PERM)

# --- shared shingle expressions -------------------------------------------
# Spark SQL and DuckDB renderings of: 3-word shingles of split(text, ' ').
# The Spark side keeps its transform() lambda instead of text.ngram_windows:
# on dedup_token_savings (sf0.1, local[4], 10 interleaved rounds) it took
# 3.19 s median (2.94-4.36 s) against 3.62 s (3.09-4.38 s) for the window
# kernel. Spark `sequence(1, n)` DESCENDS when n < 1, so the empty case
# needs an explicit guard.

_SPARK_SHINGLES = (
    "CASE WHEN size(w) < 3 THEN array() "
    "ELSE transform(sequence(1, size(w) - 2), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))) END"
)
_DUCK_SHINGLES = (
    f"list_transform({ngram_lists_sql('w', 3)}, g -> array_to_string(g, ' '))"
)

_DUCK_WORDS = "SELECT doc_id, string_split(text, ' ') AS w FROM documents"
_DUCK_SHING = (
    f"SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM ({_DUCK_WORDS})"
)


def _shingles_df(docs: DataFrame) -> DataFrame:
    """(doc_id, s) — one row per 3-word shingle (docs with <3 words drop)."""
    return (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))
    )


# --- exact dedup ----------------------------------------------------------


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: group identical texts; survivor = min doc_id.

    One scan + hash aggregate with map-side combine; at 100 TB the shuffle
    carries one row per distinct text, not per document.
    """
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_md5,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
"""


INCREMENTAL_BATCH_SOURCE = "src19"


def dedup_incremental(docs: DataFrame) -> DataFrame:
    """Incremental dedup: admit only batch docs new to the corpus.

    The steady-state ingest shape: an incoming batch (here: source =
    INCREMENTAL_BATCH_SOURCE) is first deduped WITHIN the batch (min
    doc_id per content hash), then anti-joined against the existing
    corpus's hash set. Both joins shuffle on the content hash — at
    100 TB the anti-join probe side is one row per distinct incoming
    text, and the corpus side one row per distinct existing text, both
    far smaller than their doc counts.
    """
    is_batch = F.col("source") == INCREMENTAL_BATCH_SOURCE
    incoming = (
        docs.filter(is_batch)
        .groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    existing = docs.filter(~is_batch).select(F.md5(F.col("text")).alias("text_md5"))
    return incoming.join(existing, "text_md5", "left_anti").select(
        "doc_id", "text_md5"
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH inc AS (
  SELECT md5(text) AS text_md5, MIN(doc_id) AS doc_id
  FROM documents WHERE source = '{INCREMENTAL_BATCH_SOURCE}'
  GROUP BY 1
)
SELECT doc_id, text_md5
FROM inc
WHERE NOT EXISTS (
  SELECT 1 FROM documents d
  WHERE d.source <> '{INCREMENTAL_BATCH_SOURCE}' AND md5(d.text) = inc.text_md5
)
"""


# --- MinHash + LSH --------------------------------------------------------


def _shingle_h12(sh: DataFrame) -> DataFrame:
    """(doc_id, h1, h2) — the fixed-width 120-bit shingle key (two int64
    halves of md5(s)): the dedup_prefix_filter key discipline, reused by
    the inverted-index ops so no shuffle carries the ~60-byte string."""
    return sh.select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h1"),
        F.expr(
            "CAST(conv(substring(md5(s), 16, 15), 16, 10) AS BIGINT)"
        ).alias("h2"),
    )


def _shingle_index_h12(shd: DataFrame) -> DataFrame:
    """A caller-supplied shingle index in its hashed ``(doc_id, h1, h2)``
    form: taken as is, or hashed from the ``(doc_id, s)`` string form.

    Exact-schema check (ADVICE r11): a frame carrying an unrelated
    ``h1`` must be rejected, never silently joined on wrong keys — and a
    raised ValueError, unlike an assert, survives ``python -O``.
    """
    cols = set(shd.columns)
    if cols == {"doc_id", "h1", "h2"}:
        return shd
    if cols == {"doc_id", "s"}:
        return _shingle_h12(shd)
    raise ValueError(f"unexpected shingle-index schema: {shd.columns}")


def _shingle_hashes(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, h) — one md5-int64 row per shingle OCCURRENCE.

    The shared sub-pass of MinHash (h % MERSENNE_31 feeds the 64
    permutation minima) and SimHash (bit j of h feeds sum_j): hashing
    ~1M+ shingle strings is the expensive common prefix, and the hashed
    frame is two int64 columns — cheap to localCheckpoint and share
    (dedup_strategy_comparison), unlike the raw string shingles whose
    materialization costs more than their codegen recompute.
    """
    base = _shingles_df(docs) if sh is None else sh
    return base.select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("h"),
    )


def _minhash_sig(
    docs: DataFrame, hashed: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig array<long>) MinHash signature, explode + 64 partial mins.

    ``hashed`` — optional precomputed :func:`_shingle_hashes` frame.

    NOT persisted here: a registered lazy query can never unpersist, and
    Spark's cacheManager pins every cached run forever — measured as
    session-wide GC degradation after repeated executions. The band
    self-join therefore recomputes this pipeline once per side (two
    corpus passes — down from four before the signature array rode the
    band rows). A production job that OWNS its action should wrap the
    call: persist -> action -> unpersist, or checkpoint the signature
    table to parquet and self-join that.
    """
    hashed = (_shingle_hashes(docs) if hashed is None else hashed).select(
        "doc_id", (F.col("h") % MERSENNE_31).alias("hm")
    )
    return hashed.groupBy("doc_id").agg(F.expr(_SIG_SQL).alias("sig"))


# Wide column lists are written as ONE parsed SQL expression each, not
# built a Column at a time: every PySpark Column call is a py4j round
# trip, and the 64 minima + 16 band structs cost ~6,000 of them per
# MinHash plan. Literal types match the Column forms (every a, b <
# 2^31 is an INT literal in both), so the values are bit-identical.
_SIG_SQL = "array({})".format(
    ", ".join(f"min((hm * {a} + {b}) % {MERSENNE_31})" for a, b in _COEFFS)
)


def _band_key_sql(band: int) -> str:
    parts = ", ".join(
        f"element_at(sig, {band * ROWS_PER_BAND + r + 1})" for r in range(ROWS_PER_BAND)
    )
    return f"CAST(conv(substring(md5(concat_ws('_', {parts})), 1, 15), 16, 10) AS BIGINT)"


_BAND_STRUCTS_SQL = "array({})".format(
    ", ".join(
        f"named_struct('band_id', {b}, 'band_key', {_band_key_sql(b)})"
        for b in range(BANDS)
    )
)


def _explode_bands(sig: DataFrame, keep: tuple = ("sig",)) -> DataFrame:
    """(doc_id, *keep, band_id, band_key): one row per LSH band of the
    ``sig`` column — the one band-key definition every LSH consumer and
    the streaming admission index share."""
    return sig.select(
        "doc_id", *keep, F.explode(F.expr(_BAND_STRUCTS_SQL)).alias("bk")
    ).select("doc_id", *keep, "bk.band_id", "bk.band_key")


def _banded_pairs_from_sig(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs from a signature frame via
    the 16x4 band self-join over SLIM (doc_id, band_id, band_key) rows
    (the r10 scale shape — signatures never ride the band rows)."""
    bands = _explode_bands(sig, keep=())
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _minhash_pairs(docs: DataFrame, hashed: DataFrame | None = None) -> DataFrame:
    """The MinHash candidate PAIR SET alone — for graph consumers that
    never read ``est_jaccard`` (CC labels, pagerank, triangles, k-core,
    label propagation, modularity).

    r12 (VERDICT #3, guide §2.3): these ops consumed
    ``dedup_minhash_lsh(...).select("doc_a", "doc_b")``, paying the two
    signature re-fetch joins — pair rows shuffled twice against the
    64-long signature arrays — only so a column they immediately drop
    could be computed (Catalyst cannot prune the 1:1 inner joins away).
    The pair set is identical by construction: every pair endpoint HAS
    exactly one signature row (pairs derive from the signature table),
    so the re-fetch joins never filtered or duplicated anything. Its
    DuckDB twin is ``_MINHASH_PAIRS_SQL``.
    """
    sig = _minhash_sig(docs, hashed).localCheckpoint(eager=False)
    return _banded_pairs_from_sig(sig)


def dedup_minhash_lsh(
    docs: DataFrame, hashed: DataFrame | None = None
) -> DataFrame:
    """MinHash (64 perms) + LSH banding (16x4) candidate pairs.

    Output: (doc_a, doc_b, est_jaccard) — distinct pairs sharing >= 1 band,
    est_jaccard = fraction of the 64 permutation minima that agree.

    r10 300x fix (the dedup_prefix_filter class, found by the new
    .scale300 tier): the signature array used to RIDE the band rows so
    the pair join yielded both signatures directly — but that shuffles
    the 64-long array 16x (once per band row), and at 300x AQE's
    compressed-size estimate first mis-broadcast a >1 GiB side (driver
    maxResultSize abort) and then, shuffle_hash-pinned, the wide rows
    blew the per-partition hash map. The scale-correct shape is the
    _banded_pairs one: the band self-join runs over SLIM
    (doc_id, band_id, band_key) rows pinned shuffle_hash, distinct
    collapses multi-band hits at (doc_a, doc_b) grain, and the two
    signatures are re-fetched from the checkpointed signature table by
    doc_id hash joins (also shuffle_hash — corpus-sized sides must
    never broadcast). 16x less shuffle volume, bounded hash maps.

    The signature table is localCheckpoint-ed: it feeds the band
    explode AND both re-fetch sides, so the 64-min pipeline runs once.
    Unlike cacheManager persist (which leaks — see _minhash_sig),
    checkpoint blocks are freed when the DataFrame is garbage-collected.
    """
    # eager=False (r11): lineage truncation + shared-consumer cache only;
    # no blocking pre-job — the one consuming action materializes it
    sig = _minhash_sig(docs, hashed).localCheckpoint(eager=False)
    pairs = _banded_pairs_from_sig(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"))
    paired = pairs.join(sa.hint("shuffle_hash"), "doc_a").join(
        sb.hint("shuffle_hash"), "doc_b"
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y), lambda m: m
        )
    )
    return paired.select(
        "doc_a",
        "doc_b",
        F.round(matches / F.lit(float(NUM_PERM)), 6).alias("est_jaccard"),
    )


def _sig_bands_ctes() -> str:
    """The shing/hashed/sig/bands CTE block shared by the LSH oracles."""
    hm = f"({md5_long_sql('s')}) % {MERSENNE_31}"
    mins = ",\n         ".join(
        f"MIN((hm * {a} + {b}) % {MERSENNE_31}) AS m{j}"
        for j, (a, b) in enumerate(_COEFFS)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band_id, ({key}) AS band_key FROM sig".format(
            b=b,
            key=md5_long_sql(
                " || '_' || ".join(
                    f"m{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
                )
            ),
        )
        for b in range(BANDS)
    )
    return f"""shing AS ({_DUCK_SHING}),
hashed AS (SELECT doc_id, {hm} AS hm FROM shing),
sig AS (SELECT doc_id,
         {mins}
        FROM hashed GROUP BY doc_id),
bands AS (
  {band_rows}
)"""


def _match_sum_sql() -> str:
    return " + ".join(
        f"(CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END)" for j in range(NUM_PERM)
    )


_BAND_PAIRS_SQL = """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id"""

# The candidate pair set alone: the oracle twin of _minhash_pairs, read by
# every graph oracle that never looks at est_jaccard.
_MINHASH_PAIRS_SQL = f"""
WITH {_sig_bands_ctes()}
{_BAND_PAIRS_SQL}
"""

DEDUP_MINHASH_SQL = f"""
WITH {_sig_bands_ctes()},
pairs AS (
  {_BAND_PAIRS_SQL}
)
SELECT doc_a, doc_b,
       ROUND(({_match_sum_sql()}) / CAST({NUM_PERM} AS DOUBLE), 6) AS est_jaccard
FROM pairs
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""


# --- SimHash --------------------------------------------------------------


def _simhash_fp(docs: DataFrame, hashed: DataFrame | None = None) -> DataFrame:
    """(doc_id, fp) — 60-bit shingle SimHash as BIGINT.

    ``hashed`` — optional precomputed :func:`_shingle_hashes` frame;
    must NOT be distinct-ed (the bit sums weigh each OCCURRENCE)."""
    hashed = _shingle_hashes(docs) if hashed is None else hashed
    grouped = hashed.groupBy("doc_id").agg(F.expr(_SIMHASH_SUMS_SQL).alias("s"))
    # NOT persisted: the piece self-join recomputes this once per branch —
    # two passes for a self-join is the standard Spark trade; caching was
    # measured 2x slower locally (cache build + InMemoryTableScan beat the
    # cheap codegen recompute) and only wins when the corpus scan dominates.
    return grouped.select("doc_id", F.expr(_SIMHASH_FP_SQL).alias("fp"))


# One parsed expression each (see _SIG_SQL): s[j] is the signed bit-j
# vote over the doc's shingle occurrences, fp sets bit j where it wins.
_SIMHASH_SUMS_SQL = "array({})".format(
    ", ".join(f"sum((shiftright(h, {j}) & 1) * 2 - 1)" for j in range(SIMHASH_BITS))
)
_SIMHASH_FP_SQL = " + ".join(
    f"IF(s[{j}] > 0, {1 << j}L, 0L)" for j in range(SIMHASH_BITS)
)


def dedup_simhash(
    docs: DataFrame, hashed: DataFrame | None = None
) -> DataFrame:
    """SimHash near-dup pairs within Hamming radius 3 of the 60-bit fp.

    Blocking: the fingerprint splits into 4 pieces of 15 bits; any pair at
    Hamming distance <= 3 shares at least one intact piece (pigeonhole), so
    the piece-key equi-join finds EVERY such pair — completeness is
    structural, not probabilistic. Output: (doc_a, doc_b, hamming).
    """
    fps = _simhash_fp(docs, hashed)
    piece_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("piece_id"),
                F.shiftright(F.col("fp"), k * SIMHASH_PIECE_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH_PIECE_BITS) - 1))
                .alias("piece"),
            )
            for k in range(SIMHASH_PIECES)
        ]
    )
    pieces = fps.select(
        "doc_id", "fp", F.explode(piece_structs).alias("pc")
    ).select("doc_id", "fp", F.col("pc.piece_id").alias("piece_id"), F.col("pc.piece").alias("piece"))
    a, b = pieces.alias("a"), pieces.alias("b")
    return (
        a.join(
            b,
            (F.col("a.piece_id") == F.col("b.piece_id"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def _simhash_sql() -> str:
    h = md5_long_sql("s")
    sums = ",\n         ".join(
        f"SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    piece_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, fp, {k} AS piece_id, (fp >> {k * SIMHASH_PIECE_BITS}) & {(1 << SIMHASH_PIECE_BITS) - 1} AS piece FROM fps"
        for k in range(SIMHASH_PIECES)
    )
    return f"""
WITH shing AS ({_DUCK_SHING}),
hashed AS (SELECT doc_id, {h} AS h FROM shing),
grouped AS (SELECT doc_id,
         {sums}
        FROM hashed GROUP BY doc_id),
fps AS (SELECT doc_id, ({fp}) AS fp FROM grouped),
pieces AS (
  {piece_rows}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
  FROM pieces a JOIN pieces b
    ON a.piece_id = b.piece_id AND a.piece = b.piece AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


# --- n-gram Jaccard -------------------------------------------------------


def ngram_jaccard(docs: DataFrame, shd: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over df-bounded distinct 3-gram shingle sets.

    Inverted-index join on shingle (never all-pairs); shingles appearing in
    more than NGRAM_MAX_DF docs are dropped in BOTH engines (hot-key guard:
    one viral shingle at 100 TB is a quadratic blowup). Each index row
    carries its document's filtered set size via a doc_id window, so the
    self-join yields |A| and |B| directly — no third pass over the index
    and no post-join size lookups. Output pairs with jaccard >= 0.5:
    (doc_a, doc_b, n_common, jaccard).
    """
    from pyspark.sql.window import Window

    # No checkpoint here (measured neutral): the pair self-join shuffles
    # both sides on the key, so ReusedExchange already shares the index
    # subtree; a checkpoint would only trade that for materialization.
    # r11 (guide §2.3 "shuffle fewer bytes"): every downstream exchange
    # (distinct, df agg, semi join, doc_id window, pair self-join) used
    # to carry the ~60-byte shingle STRING; hashing to the fixed-width
    # 120-bit (h1, h2) key right after the explode ships two int64s
    # instead — the dedup_prefix_filter key discipline, same
    # collision-free-by-construction width.
    if shd is None:
        shh = _shingle_h12(_shingles_df(docs)).distinct()
    else:
        shh = _shingle_index_h12(shd)  # caller-materialized (strategy_comparison)
    df_ok = (
        shh.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= NGRAM_MAX_DF)
        .select("h1", "h2")
    )
    # df_ok and the self-join sides are SHINGLE-grain (corpus-scaled)
    n_corpus = _corpus_rows(docs)
    shf = shh.join(
        _scale_pin(df_ok, n_corpus), ["h1", "h2"], "left_semi"
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    a, b = shf.alias("a"), shf.alias("b")
    common = (
        a.join(
            _scale_pin(b, n_corpus),
            (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return common.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.round(
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= NGRAM_MIN_JACCARD)


NGRAM_JACCARD_SQL = f"""
WITH shing AS ({_DUCK_SHING}),
shd AS (SELECT DISTINCT doc_id, s FROM shing),
df_ok AS (SELECT s FROM shd GROUP BY s HAVING COUNT(*) <= {NGRAM_MAX_DF}),
shf AS (SELECT shd.doc_id, shd.s FROM shd JOIN df_ok USING (s)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= {NGRAM_MIN_JACCARD}
"""


# --- MinHash estimation-quality monitor -----------------------------------

_CAL_SCALE = 1_000_000


def minhash_calibration(docs: DataFrame) -> DataFrame:
    """MinHash estimator quality vs exact Jaccard, one auditable row.

    Joins the MinHash candidate pairs (est_jaccard from 64 permutations)
    against the exact inverted-index Jaccard on the pairs both emit, and
    reports mean absolute error and mean signed error (bias). Both
    metrics are accumulated as exact micro-unit int64 sums — a float AVG
    would be partition-order-dependent and engine-divergent — with one
    final division. The monitor that sizes the permutation count: MAE
    shrinks ~1/sqrt(num_perm).
    """
    est = dedup_minhash_lsh(docs).select("doc_a", "doc_b", "est_jaccard")
    exact = ngram_jaccard(docs).select("doc_a", "doc_b", "jaccard")
    j = est.join(exact, ["doc_a", "doc_b"])
    err_e6 = (F.col("est_jaccard") * _CAL_SCALE).cast("long") - (
        F.col("jaccard") * _CAL_SCALE
    ).cast("long")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.abs(err_e6)).alias("sum_abs_e6"),
        F.sum(err_e6).alias("sum_err_e6"),
    )
    return agg.select(
        "n_pairs",
        F.round(F.col("sum_abs_e6") / (F.col("n_pairs") * _CAL_SCALE), 6).alias(
            "mae"
        ),
        F.round(F.col("sum_err_e6") / (F.col("n_pairs") * _CAL_SCALE), 6).alias(
            "bias"
        ),
    )


MINHASH_CALIBRATION_SQL = f"""
WITH est AS (SELECT doc_a, doc_b, est_jaccard FROM ({DEDUP_MINHASH_SQL})),
ex AS (SELECT doc_a, doc_b, jaccard FROM ({NGRAM_JACCARD_SQL})),
j AS (
  SELECT CAST(est_jaccard * {_CAL_SCALE} AS BIGINT)
         - CAST(jaccard * {_CAL_SCALE} AS BIGINT) AS err_e6
  FROM est JOIN ex USING (doc_a, doc_b)
)
SELECT COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(ABS(err_e6)) AS BIGINT) / (COUNT(*) * {_CAL_SCALE}), 6) AS mae,
       ROUND(CAST(SUM(err_e6) AS BIGINT) / (COUNT(*) * {_CAL_SCALE}), 6) AS bias
FROM j
"""


# --- candidate-graph toolbox ------------------------------------------------
# One symmetric edge list and one components chain per engine, shared by
# every graph key (dedup, media pHash, entity resolution, trade PageRank).
# The DuckDB builders are written apart from the Spark ones so each oracle
# stays an independent reference.

_SWAP = {"doc_a": "doc_b", "doc_b": "doc_a"}


def _undirected(e: DataFrame) -> DataFrame:
    """``e`` plus ``e`` with doc_a/doc_b swapped: the symmetric edge list
    of a pair frame. Any other column rides along unchanged. No
    checkpoint here: each caller decides whether its consumers share it.
    """
    return e.union(
        e.select(*(F.col(_SWAP[c]).alias(c) if c in _SWAP else c for c in e.columns))
    )


def _components(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """(doc_id, cluster_id) min-label components of the (doc_a, doc_b)
    pair graph. The symmetric edge list is checkpointed lazily: every CC
    round reads it, and the first convergence count materializes it.
    """
    und = _undirected(edges).localCheckpoint(eager=False)
    labels, _ = connected_components(und, max_iter=max_iter)
    return labels


def _und_sql(pairs_sql: str, carry: str = "") -> str:
    """Oracle twin of :func:`_undirected`: the rows of ``pairs_sql`` in
    both directions. ``carry`` lists further columns to keep, each with a
    leading comma (``", w"``)."""
    return f"""
  WITH p AS MATERIALIZED ({pairs_sql})
  SELECT doc_a, doc_b{carry} FROM p
  UNION ALL
  SELECT doc_b, doc_a{carry} FROM p
"""


def _cc_sql(pairs_sql: str) -> str:
    """Oracle of :func:`_components`: each node of the pair graph labelled
    with the least node it reaches (recursive reachability)."""
    return f"""
WITH und AS MATERIALIZED ({_und_sql(pairs_sql)}),
reach AS (
  WITH RECURSIVE r(node, lab) AS (
    SELECT doc_a, doc_a FROM und
    UNION
    SELECT u.doc_a, r.lab FROM und u JOIN r ON r.node = u.doc_b
  )
  SELECT node, lab FROM r
)
SELECT node AS doc_id, MIN(lab) AS cluster_id
FROM reach GROUP BY node
"""


def connected_components(
    und: DataFrame, max_iter: int = 15
) -> tuple[DataFrame, int]:
    """Min-label connected components with pointer jumping.

    ``und`` is a symmetric edge list ``(doc_a, doc_b)``. Every node starts
    labeled with its own id; each round does

      1. *propagate*: take the min label among self and neighbors
         (one equi-join + map-side-combined min agg), then
      2. *pointer-jump* (path compression): replace each label by its
         label's label (a self-join on ``cluster_id = doc_id``).

    Propagation alone converges in O(diameter) rounds; the jump halves
    label-tree depth each round, so convergence is O(log diameter) — on a
    length-1000 duplicate chain that is ~10 distributed rounds instead of
    ~1000, and each round is bounded-size joins on the node set. Lineage
    is truncated per round with localCheckpoint so plans stay bounded;
    the driver only checks the convergence counter — no data crosses it.

    Returns (labels, rounds-used). Fixpoint labels = min doc_id of each
    component.
    """
    labels = (
        und.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )

    def _step(lbls: DataFrame) -> DataFrame:
        """One propagate + pointer-jump step.

        ``lbls`` is (doc_id, cluster_id[, chg]); the output carries
        chg = (this step changed anything) OR'd with any incoming chg,
        so steps chain without a re-join.
        """
        carry = "chg" in lbls.columns
        nbr_min = (
            und.join(lbls, und.doc_b == lbls.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        propagated = lbls.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            *([F.col("chg").alias("chg_in")] if carry else []),
            F.col("cluster_id").alias("old_label"),
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_label"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer jump: cluster_id <- label(cluster_id). Labels only ever
        # point at other nodes (mins over the node set), so the self-join
        # always matches; left+coalesce guards the invariant anyway. The
        # convergence flag rides the same row (vs a separate old-vs-new
        # join: one fewer shuffle + one fewer job per round).
        parent = propagated.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        stepped = (
            F.coalesce(F.col("p_label"), F.col("cluster_id")) != F.col("old_label")
        )
        return propagated.join(
            parent, propagated.cluster_id == parent.p_id, "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("p_label"), F.col("cluster_id")).alias("cluster_id"),
            ((stepped | F.col("chg_in")) if carry else stepped).alias("chg"),
        )

    # r11: eager=False — the convergence count materializes the round
    # barrier in the SAME job (was: blocking checkpoint + count = 2 jobs
    # per step). A 2-steps-per-count unroll was ALSO measured (extra
    # post-fixpoint steps are no-ops, labels provably identical) and ran
    # SLOWER at sf0.1 (5.7 vs 4.8 s: the doubled per-job plan outweighs
    # the saved driver sync) — documented negative result, not kept.
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        new_labels = _step(labels).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("chg")).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    return labels, rounds


SIMILAR_TOPK = 3


def similar_docs_topk(docs: DataFrame) -> DataFrame:
    """Top-3 most similar documents per document ("more like this").

    The retrieval product built on the exact-Jaccard pair table:
    symmetrize the (doc_a < doc_b) pairs, rank per document by
    (jaccard desc, neighbor id asc — deterministic on the rounded score)
    and keep the top 3. The window partition is one document's candidate
    neighbors — bounded by the df-capped inverted index, never corpus
    size — and WindowGroupLimit prunes to k per map partition before the
    shuffle.
    """
    from pyspark.sql.window import Window

    sym = _undirected(ngram_jaccard(docs).select("doc_a", "doc_b", "jaccard"))
    w = Window.partitionBy("doc_a").orderBy(F.desc("jaccard"), "doc_b")
    return (
        sym.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= SIMILAR_TOPK)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("similar_doc_id"),
            "jaccard",
            "rnk",
        )
    )


SIMILAR_DOCS_SQL = f"""
WITH sym AS ({_und_sql(NGRAM_JACCARD_SQL, ", jaccard")})
SELECT doc_a AS doc_id, doc_b AS similar_doc_id, jaccard,
       row_number() OVER (PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rnk
FROM sym
QUALIFY rnk <= {SIMILAR_TOPK}
"""


PR_SCALE = 1_000_000  # rank unit = micro-rank; all arithmetic stays int64
PR_ITERS = 5


def pagerank_int_weighted(wedges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer-exact weighted PageRank (damping 0.85) over a symmetric
    weighted edge list (doc_a, doc_b, w); unit weights give plain PageRank.

    Floating PageRank is NOT reproducible across engines: float sums
    depend on reduction order. Working in integer micro-rank units with
    truncating division makes every iteration a pure integer function of
    the graph — bit-identical on any engine and any partitioning, so an
    ITERATIVE graph algorithm gets a full value-hash oracle (unrolled
    CTEs in SQL), not a rows-only waiver.

    Per round each node's rank flows along its edges in proportion to
    weight — contribution = (rank div total_out_weight) * w, one
    equi-join + map-side-combined sum — then
    ``rank' = 0.15*S + (85 * sum) div 100``. Symmetric edges mean no
    dangling nodes by construction. The edge+weighted-degree table is
    consumed every round, so it is localCheckpoint-ed once; plan depth
    grows linearly in iterations (5 here — fixed-round PageRank is the
    score, pointer-jumping CC covers unbounded convergence).
    """
    deg = wedges.groupBy("doc_a").agg(F.sum("w").alias("deg"))
    edges = wedges.join(deg, "doc_a").select(
        "doc_a", "doc_b", "w", "deg"
    ).localCheckpoint(eager=False)
    nodes = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    ranks = nodes.withColumn("rank", F.lit(PR_SCALE).cast("long"))
    base = 15 * PR_SCALE // 100
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges.doc_a == ranks.doc_id)
            .select(
                F.col("doc_b").alias("doc_id"),
                F.expr("(rank div deg) * w").alias("c"),
            )
            .groupBy("doc_id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(base).cast("long")
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            ).alias("rank"),
        )
    return ranks.select("doc_id", F.col("rank").alias("rank_u6"))


def pagerank_weighted_sql(wedges_sql: str, iters: int = PR_ITERS) -> str:
    """Oracle builder for :func:`pagerank_int_weighted` — wedges_sql must
    yield (doc_a, doc_b, w), symmetric."""
    base = 15 * PR_SCALE // 100
    # MATERIALIZED: DuckDB inlines plain CTEs per reference — the edges
    # are read once per iteration, so an inlined MinHash pipeline would
    # run 6x (measured 59 s -> ~1 s at sf0.01)
    ctes = [
        f"wund AS MATERIALIZED ({wedges_sql})",
        "nodes AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id FROM wund)",
        "deg AS MATERIALIZED (SELECT doc_a, SUM(w) AS deg FROM wund GROUP BY 1)",
        f"r0 AS (SELECT doc_id, CAST({PR_SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT n.doc_id,
         CAST({base} + (85 * COALESCE(CAST(s.s AS BIGINT), 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT u.doc_b AS doc_id, SUM((r.rank // d.deg) * u.w) AS s
    FROM wund u JOIN deg d ON u.doc_a = d.doc_a JOIN r{i - 1} r ON r.doc_id = u.doc_a
    GROUP BY 1
  ) s ON n.doc_id = s.doc_id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, rank AS rank_u6 FROM r{iters}"
    )


def dedup_pagerank(docs: DataFrame) -> DataFrame:
    """PageRank centrality over the MinHash candidate-pair graph.

    Ranks which documents sit at the center of duplicate neighborhoods —
    the triage signal for which near-dup cluster representative to keep
    (high rank = most-connected copy). Same edge construction as
    :func:`dedup_clusters`; every edge weighs 1 in
    :func:`pagerank_int_weighted`.
    """
    # pair set only (r12) — no sig re-fetch; checkpoint before the
    # degree self-join so the MinHash pipeline runs once, not once per
    # join side
    und = _undirected(_minhash_pairs(docs)).localCheckpoint(eager=False)
    return pagerank_int_weighted(und.withColumn("w", F.lit(1)))


DEDUP_PAGERANK_SQL = pagerank_weighted_sql(
    f"SELECT doc_a, doc_b, 1 AS w FROM ({_und_sql(_MINHASH_PAIRS_SQL)})"
)


def dedup_clusters(
    docs: DataFrame, max_iter: int = 15, hashed: DataFrame | None = None
) -> DataFrame:
    """Connected components over the MinHash candidate-pair graph.

    Edges come from :func:`dedup_minhash_lsh`; components are labeled by
    their minimum doc_id via :func:`connected_components` (pointer-jumping
    min-label propagation, O(log diameter) distributed rounds).
    ``hashed`` — optional precomputed :func:`_shingle_hashes` frame (the
    shared-pass lever for compositions).

    Output: (doc_id, cluster_id) for every doc in at least one candidate
    pair (singletons are their own implicit cluster and omitted, like a
    dedup survivor map).
    """
    # pair set only (r12)
    return _components(_minhash_pairs(docs, hashed=hashed), max_iter=max_iter)


DEDUP_CLUSTERS_SQL = _cc_sql(_MINHASH_PAIRS_SQL)




def dedup_cluster_sizes(docs: DataFrame, max_iter: int = 15) -> DataFrame:
    """Duplicate-cluster size distribution: the dedup health dashboard row.

    How much of the corpus sits in 2-doc near-dup pairs vs giant
    templated clusters decides both the dedup savings and the blast
    radius of a bad survivor choice. Two tiny aggregations over the CC
    labels (cluster count per size, docs per size) — cardinality bounded
    by the largest cluster, not the corpus.
    """
    labels = dedup_clusters(docs, max_iter=max_iter)
    per_cluster = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return per_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
    )


DEDUP_CLUSTER_SIZES_SQL = f"""
WITH labels AS ({DEDUP_CLUSTERS_SQL}),
per_cluster AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM per_cluster GROUP BY 1
"""


def dedup_rand_index(docs: DataFrame, max_iter: int = 15) -> DataFrame:
    """Clustering agreement between MinHash-CC and SimHash-CC: (A)RI.

    dedup_strategy_comparison audits candidate generators at PAIR grain;
    this audits them at CLUSTERING grain — after connected components,
    do the two independent strategies partition the corpus the same
    way? Pair-counting Rand and Adjusted Rand indices, computed WITHOUT
    enumerating pairs: the (lab1, lab2) contingency table (docs in
    neither candidate graph are singletons in both and contribute zero
    to every C(n,2) sum, so only docs appearing in either graph are
    materialized; the corpus count enters only through C(n_docs,2)).

    One summary row: raw integer sufficient statistics (the contract)
    plus rand_ppm / ari_ppm — the ppms are FLOOR'd doubles derived from
    exact int64 stats through one identical expression tree on both
    engines (int64 products like C(n,2)*sum_a overflow at ~100x, the
    doubles don't; documented float discipline).

    Scale shape: two candidate pipelines + two CCs (each bounded by
    near-dup mass), a full-outer join of two label frames, three
    aggregate-sized groupBys, then 1-row broadcast crosses to combine
    scalars. Nothing corpus-quadratic. r10: the two pipelines share ONE
    md5 shingle-hash pass, and the two CC fixpoints (job-synced
    iterative rounds — the scheduling floor that dominates at local
    scale) run as concurrent chains; measured ~8.3 s -> ~5.3 s at sf0.1,
    values unchanged. Both follow the functions/joins scale policy
    (:func:`checkpoint_small`, :func:`run_chains`).
    """
    n_corpus = _corpus_rows(docs)
    hashed = _checkpoint_small(_shingle_hashes(docs), n_corpus)

    def _chain_minhash():
        return dedup_clusters(docs, max_iter=max_iter, hashed=hashed).select(
            "doc_id", F.col("cluster_id").alias("c1")
        )

    def _chain_simhash():
        sp = dedup_simhash(docs, hashed=hashed).select("doc_a", "doc_b")
        return _components(sp, max_iter=max_iter).select(
            "doc_id", F.col("cluster_id").alias("c2")
        )

    m, s = _run_chains(n_corpus, _chain_minhash, _chain_simhash)
    u = (
        m.join(s, "doc_id", "full_outer")
        .select(
            F.coalesce(F.col("c1"), F.col("doc_id")).alias("lab1"),
            F.coalesce(F.col("c2"), F.col("doc_id")).alias("lab2"),
        )
    )
    cells = u.groupBy("lab1", "lab2").agg(F.count(F.lit(1)).alias("nij"))
    sum_both = cells.agg(
        F.sum(F.expr("(nij * (nij - 1)) div 2")).cast("long").alias("sum_both")
    )
    sum_a = (
        cells.groupBy("lab1")
        .agg(F.sum("nij").alias("ai"))
        .agg(F.sum(F.expr("(ai * (ai - 1)) div 2")).cast("long").alias("sum_minhash"))
    )
    sum_b = (
        cells.groupBy("lab2")
        .agg(F.sum("nij").alias("bj"))
        .agg(F.sum(F.expr("(bj * (bj - 1)) div 2")).cast("long").alias("sum_simhash"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    combined = (
        n_docs.crossJoin(F.broadcast(sum_both))
        .crossJoin(F.broadcast(sum_a))
        .crossJoin(F.broadcast(sum_b))
    )
    return combined.select(
        "n_docs",
        F.expr("(n_docs * (n_docs - 1)) div 2").alias("n_pairs"),
        "sum_both",
        "sum_minhash",
        "sum_simhash",
        F.expr(
            "CAST(FLOOR(CAST((n_docs * (n_docs - 1)) div 2"
            " - sum_minhash - sum_simhash + 2 * sum_both AS DOUBLE)"
            " * 1000000.0"
            " / CAST((n_docs * (n_docs - 1)) div 2 AS DOUBLE)) AS BIGINT)"
        ).alias("rand_ppm"),
        F.expr(
            "CAST(FLOOR(1000000.0 * (2.0 * ("
            "CAST((n_docs * (n_docs - 1)) div 2 AS DOUBLE) * CAST(sum_both AS DOUBLE)"
            " - CAST(sum_minhash AS DOUBLE) * CAST(sum_simhash AS DOUBLE)))"
            " / NULLIF("
            "CAST((n_docs * (n_docs - 1)) div 2 AS DOUBLE)"
            " * (CAST(sum_minhash AS DOUBLE) + CAST(sum_simhash AS DOUBLE))"
            " - 2.0 * CAST(sum_minhash AS DOUBLE) * CAST(sum_simhash AS DOUBLE),"
            " 0.0)) AS BIGINT)"
        ).alias("ari_ppm"),
    )


DEDUP_RAND_INDEX_SQL = f"""
WITH lab1 AS ({DEDUP_CLUSTERS_SQL}),
lab2 AS ({_cc_sql(DEDUP_SIMHASH_SQL)}),
u AS (
  SELECT COALESCE(l1.cluster_id, COALESCE(l1.doc_id, l2.doc_id)) AS g1,
         COALESCE(l2.cluster_id, COALESCE(l1.doc_id, l2.doc_id)) AS g2
  FROM lab1 l1 FULL OUTER JOIN lab2 l2 ON l1.doc_id = l2.doc_id
),
cells AS (
  SELECT g1, g2, CAST(COUNT(*) AS BIGINT) AS nij FROM u GROUP BY 1, 2
),
sb AS (
  SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sum_both FROM cells
),
sa AS (
  SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS sum_minhash FROM (
    SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY g1
  )
),
sbj AS (
  SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS sum_simhash FROM (
    SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY g2
  )
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT n_docs,
       CAST((n_docs * (n_docs - 1)) // 2 AS BIGINT) AS n_pairs,
       sum_both, sum_minhash, sum_simhash,
       CAST(FLOOR(CAST((n_docs * (n_docs - 1)) // 2
            - sum_minhash - sum_simhash + 2 * sum_both AS DOUBLE)
            * 1000000.0
            / CAST((n_docs * (n_docs - 1)) // 2 AS DOUBLE)) AS BIGINT)
         AS rand_ppm,
       CAST(FLOOR(1000000.0 * (2.0 * (
            CAST((n_docs * (n_docs - 1)) // 2 AS DOUBLE) * CAST(sum_both AS DOUBLE)
            - CAST(sum_minhash AS DOUBLE) * CAST(sum_simhash AS DOUBLE)))
            / NULLIF(
            CAST((n_docs * (n_docs - 1)) // 2 AS DOUBLE)
            * (CAST(sum_minhash AS DOUBLE) + CAST(sum_simhash AS DOUBLE))
            - 2.0 * CAST(sum_minhash AS DOUBLE) * CAST(sum_simhash AS DOUBLE),
            0.0)) AS BIGINT) AS ari_ppm
FROM nd CROSS JOIN sb CROSS JOIN sa CROSS JOIN sbj
"""


def dedup_token_savings(docs: DataFrame, max_iter: int = 15) -> DataFrame:
    """Training-token yield of dedup, by duplicate-cluster size.

    The number a pretraining-data owner actually budgets with: if we
    keep one canonical survivor (min doc_id — the engine's documented
    election default) per near-dup cluster, how many DOCUMENTS, TOKENS
    and CHARS drop out of the training mix, broken down by cluster size
    (2-doc pairs vs giant templated families have very different blast
    radii). Complements dedup_cluster_sizes (doc counts only) with the
    token economics.

    Scale shape: CC labels (bounded by near-dup mass) join the docs once
    for per-doc token/char counts (one scan, map-side combine), then two
    aggregate-sized groupBys (cluster, then cluster_size). Survivor
    token counts ride the same aggregate via min_by(doc_id) — no second
    join, no window. All integer-exact.
    """
    labels = dedup_clusters(docs, max_iter=max_iter)
    sized = labels.join(
        docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
            F.length("text").cast("long").alias("n_chars"),
        ),
        "doc_id",
    )
    per_cluster = sized.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_tokens").alias("tok_total"),
        F.sum("n_chars").alias("chr_total"),
        F.min_by("n_tokens", "doc_id").alias("tok_keep"),
        F.min_by("n_chars", "doc_id").alias("chr_keep"),
    )
    return (
        per_cluster.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).alias("docs_removed"),
            F.sum(F.col("tok_total") - F.col("tok_keep")).alias("tokens_removed"),
            F.sum(F.col("chr_total") - F.col("chr_keep")).alias("chars_removed"),
        )
        .orderBy("cluster_size")
    )


DEDUP_TOKEN_SAVINGS_SQL = f"""
WITH labels AS ({DEDUP_CLUSTERS_SQL}),
sized AS (
  SELECT l.cluster_id, l.doc_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(d.text) AS BIGINT) AS n_chars
  FROM labels l JOIN documents d USING (doc_id)
),
per_cluster AS (
  SELECT cluster_id,
         CAST(COUNT(*) AS BIGINT) AS cluster_size,
         CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
         CAST(SUM(n_chars) AS BIGINT) AS chr_total,
         arg_min(n_tokens, doc_id) AS tok_keep,
         arg_min(n_chars, doc_id) AS chr_keep
  FROM sized GROUP BY 1
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_removed,
       CAST(SUM(tok_total - tok_keep) AS BIGINT) AS tokens_removed,
       CAST(SUM(chr_total - chr_keep) AS BIGINT) AS chars_removed
FROM per_cluster GROUP BY 1 ORDER BY 1
"""


CONTAIN_MIN = 0.8
CONTAIN_EXCERPT_MOD = 37
CONTAIN_EXCERPT_OFFSET = 1_000_000


def dedup_containment(
    docs: DataFrame, shd_docs: DataFrame | None = None
) -> DataFrame:
    """Containment detection: the duplicate class Jaccard misses.

    ``shd_docs`` — optional caller-materialized DISTINCT hashed shingle
    index of ``docs`` alone (the :func:`_shingle_index_h12` schema
    contract). The excerpt twins' shingles are
    always derived here and unioned in; the final ``distinct`` runs
    over (already-distinct docs rows ∪ raw excerpt rows), which is
    set-identical to the unshared ``distinct`` over the full corpus
    explode at ANY scale — including doc_id collisions between real
    docs and excerpt ids past 10⁶ docs, because the distinct still
    sees both sides' rows together.

    An excerpt (a quote, a syndicated fragment, a doc embedded in a
    larger one) has containment |A∩B|/min(|A|,|B|) ≈ 1 while its Jaccard
    |A∩B|/|A∪B| can be arbitrarily low — resemblance-threshold dedup
    (MinHash/ngram_jaccard at 0.5) never fires on it. This op reuses the
    df-bounded shingle inverted index (equi-join on shingle, never
    all-pairs; the NGRAM_MAX_DF hot-key guard bounds posting-list
    fan-out) and reports every pair with containment >= 0.8, alongside
    its Jaccard so the "containment-only" pairs are visible.

    To make the blind spot demonstrable on the synthetic corpus, a
    deterministic excerpt twin (first half of the text, id + 10⁶) is
    unioned in for every 37th document — those pairs surface with
    containment ≈ 1 and Jaccard ≈ 0.5, exactly the regime the
    resemblance threshold misses (cf. Broder's resemblance-vs-
    containment distinction, and suffix-array substring dedup in Lee et
    al. 2022 — this is the shingle-level approximation of the latter).
    """
    from pyspark.sql.window import Window

    excerpts = docs.filter(F.col("doc_id") % CONTAIN_EXCERPT_MOD == 0).select(
        (F.col("doc_id") + CONTAIN_EXCERPT_OFFSET).alias("doc_id"),
        F.expr("substring(text, 1, CAST(n_chars div 2 AS INT))").alias("text"),
    )
    # r11: 120-bit (h1, h2) keys from the explode onward — no exchange
    # carries the shingle string (guide §2.3; the ngram_jaccard /
    # dedup_prefix_filter key discipline). r12 (guide §2.4, VERDICT #1):
    # when the caller already materialized the docs-side distinct index
    # (the curation cascade shares it across minhash/containment/
    # novelty), only the small excerpt side (1/37 of docs at half
    # length) is exploded+hashed here.
    if shd_docs is not None:
        shh = _shingle_index_h12(shd_docs).unionByName(
            _shingle_h12(_shingles_df(excerpts))
        ).distinct()
    else:
        corpus = docs.select("doc_id", "text").unionByName(excerpts)
        shh = _shingle_h12(_shingles_df(corpus)).distinct()
    df_ok = (
        shh.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= NGRAM_MAX_DF)
        .select("h1", "h2")
    )
    # shingle-grain sides are scale-pinned (r11 100x OOM caught on this
    # op). r12 (ADVICE r11 / VERDICT #8): the joined relation is docs UNION
    # excerpt twins (one extra doc per CONTAIN_EXCERPT_MOD), so the gate
    # reads the unioned doc count, not docs alone — the pin engages at
    # the scale the corpus-grain side actually crosses the build ceiling.
    n_corpus = _corpus_rows(docs)
    n_corpus = n_corpus + n_corpus // CONTAIN_EXCERPT_MOD
    shf = shh.join(
        _scale_pin(df_ok, n_corpus), ["h1", "h2"], "left_semi"
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    a, b = shf.alias("a"), shf.alias("b")
    common = (
        a.join(
            _scale_pin(b, n_corpus),
            (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common") / F.least("na", "nb"), 6).alias("containment"),
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAIN_MIN)
    )


CONTAINMENT_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CONTAIN_EXCERPT_OFFSET},
         substr(text, 1, CAST(n_chars // 2 AS INT))
  FROM documents WHERE doc_id % {CONTAIN_EXCERPT_MOD} = 0
),
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
shing AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM words),
shd AS (SELECT DISTINCT doc_id, s FROM shing),
df_ok AS (SELECT s FROM shd GROUP BY s HAVING COUNT(*) <= {NGRAM_MAX_DF}),
shf AS (SELECT shd.doc_id, shd.s FROM shd JOIN df_ok USING (s)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       ROUND(n_common / LEAST(sa.n, sb.n), 6) AS containment,
       ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(n_common / LEAST(sa.n, sb.n), 6) >= {CONTAIN_MIN}
"""


def _triangles(e: DataFrame) -> DataFrame:
    """Columns a, b, c: every triangle {a<b<c} of the ordered pair list
    ``e`` (doc_a < doc_b), once — edges (a,b)+(b,c) joined on the middle
    vertex, closed by a semi-join probe of (a,c)."""
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"], "left_semi")


def _degrees(e: DataFrame) -> DataFrame:
    """(n, d): the degree of every node of the pair list ``e``."""
    und = e.select(F.col("doc_a").alias("n")).unionAll(
        e.select(F.col("doc_b").alias("n"))
    )
    return und.groupBy("n").agg(F.count(F.lit(1)).alias("d"))


def dedup_triangles(docs: DataFrame) -> DataFrame:
    """Graph census of the MinHash candidate graph: one exact-integer row.

    (n_nodes, n_edges, n_wedges, n_triangles) over the near-dup
    candidate pairs — the structural health check for the dedup graph:
    triangles/wedges says whether candidates form tight clique-like
    duplicate groups (transitive copies) or sprawling hub-and-spoke
    chains (a too-loose banding threshold). Triangle counting is the
    canonical multi-join graph workload; here it is two equi-joins over
    the ordered edge list (doc_a < doc_b invariant), so each triangle
    {a<b<c} is counted exactly once: edges (a,b)+(b,c) joined on the
    middle vertex, closed by probing (a,c). Wedges = sum over nodes of
    deg*(deg-1)/2 on the symmetrized degree table. All counts int64,
    full value-hash oracle. Cost is bounded by the candidate graph
    (already df-bounded), never the corpus.
    """
    e = _minhash_pairs(docs).localCheckpoint(eager=False)  # pair set only (r12)
    tri = _triangles(e).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = _degrees(e).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / F.lit(2)).cast("long").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles"
    )


# The candidate pair list ``e``, its triangles {a<b<c} (each once) and
# its node degrees: the oracle twin of _triangles / _degrees, shared by
# the two graph-census oracles.
_TRIANGLE_CTES = f"""e AS MATERIALIZED ({_MINHASH_PAIRS_SQL}),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
  WHERE EXISTS (
    SELECT 1 FROM e e3 WHERE e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
  )
),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT doc_a AS n FROM e UNION ALL SELECT doc_b AS n FROM e
  ) GROUP BY n
)"""

DEDUP_TRIANGLES_SQL = f"""
WITH {_TRIANGLE_CTES},
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_wedges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles
FROM stats
"""


def dedup_clustering_coefficient(docs: DataFrame) -> DataFrame:
    """Local clustering-coefficient histogram of the MinHash candidate
    graph — the per-node refinement of dedup_triangles' global census:
    c_v = 2·t_v/(d_v·(d_v−1)) says whether node v's candidates form a
    closed clique (c → 1: transitive copy families, safe to collapse)
    or an open hub (c → 0: a boilerplate shingle chaining unrelated
    docs — the false-positive signature a banding threshold audit
    needs at node grain, where the global transitivity ratio averages
    it away).

    Per-node triangle counts credit each ordered triangle {a<b<c} to
    all three vertices (dedup_triangles' triangle join, whose semi-join
    probe keeps the vertex list, exploded); degrees come from the
    same degree table. Every
    number is EXACT INTEGER end-to-end — c_v in ppm via
    (2·t·1e6) div (d(d−1)) — so no float ever crosses a partition
    boundary. Output: one row per coefficient decile (bucket
    0-9, 10 = exactly 1.0, −1 = degree-<2 nodes where c is
    undefined) with node count, mean coefficient ppm, mean degree
    milli.

    Scale shape: two equi-joins over the ordered candidate edge list
    (df-bounded by construction — never corpus²), two node-grain
    aggregates, one ≤12-row histogram aggregate.
    """
    e = _minhash_pairs(docs).localCheckpoint(eager=False)  # pair set only (r12)
    tri = _triangles(e)
    tnodes = (
        tri.select(F.col("a").alias("n"))
        .unionAll(tri.select(F.col("b").alias("n")))
        .unionAll(tri.select(F.col("c").alias("n")))
    )
    tcnt = tnodes.groupBy("n").agg(F.count(F.lit(1)).alias("t"))
    per = _degrees(e).join(tcnt, "n", "left").select(
        "d", F.coalesce("t", F.lit(0)).alias("t")
    )
    coeff = per.select(
        "d",
        F.expr(
            "CASE WHEN d >= 2 THEN (2 * t * 1000000) div (d * (d - 1)) END"
        ).alias("coeff_ppm"),
    )
    return (
        coeff.groupBy(
            F.expr(
                "CASE WHEN coeff_ppm IS NULL THEN -1"
                " ELSE coeff_ppm div 100000 END"
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.expr(
                "SUM(coeff_ppm) div NULLIF(COUNT(coeff_ppm), 0)"
            ).alias("mean_coeff_ppm"),
            F.expr("(SUM(d) * 1000) div COUNT(*)").alias("mean_degree_milli"),
        )
        .select("bucket", "n_nodes", "mean_coeff_ppm", "mean_degree_milli")
    )


DEDUP_CLUSTERING_COEFF_SQL = f"""
WITH {_TRIANGLE_CTES},
tcnt AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
),
per AS (
  SELECT d, COALESCE(t, 0) AS t FROM deg LEFT JOIN tcnt USING (n)
),
coeff AS (
  SELECT d, CASE WHEN d >= 2 THEN (2 * t * 1000000) // (d * (d - 1)) END
           AS coeff_ppm
  FROM per
)
SELECT CASE WHEN coeff_ppm IS NULL THEN -1 ELSE coeff_ppm // 100000 END
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(coeff_ppm) // NULLIF(COUNT(coeff_ppm), 0) AS BIGINT)
         AS mean_coeff_ppm,
       CAST((SUM(d) * 1000) // COUNT(*) AS BIGINT) AS mean_degree_milli
FROM coeff GROUP BY 1
"""


QUERY_SQL = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_pagerank": DEDUP_PAGERANK_SQL,
    "similar_docs_topk": SIMILAR_DOCS_SQL,
    "dedup_cluster_sizes": DEDUP_CLUSTER_SIZES_SQL,
    "dedup_token_savings": DEDUP_TOKEN_SAVINGS_SQL,
    "dedup_rand_index": DEDUP_RAND_INDEX_SQL,
    "minhash_calibration": MINHASH_CALIBRATION_SQL,
    "dedup_triangles": DEDUP_TRIANGLES_SQL,
    "dedup_clustering_coefficient": DEDUP_CLUSTERING_COEFF_SQL,
}


# --- incremental MinHash-LSH: probe a batch against the corpus index ------

INC_NEAR_DUP_EST = 0.5  # admit batch docs whose best estimator stays below


def dedup_minhash_incremental(docs: DataFrame) -> DataFrame:
    """Near-dup admission for an incoming batch via LSH index probing.

    The NEAR-duplicate sibling of :func:`dedup_incremental` (which only
    catches byte-identical text): the incoming batch (source =
    INCREMENTAL_BATCH_SOURCE) is banded and probed against the existing
    corpus's band index — a batch doc is rejected when any existing doc
    shares a band AND the signature estimator says est_jaccard >=
    INC_NEAR_DUP_EST. This is the steady-state production dedup shape:
    the corpus side is the persisted LSH index (here rebuilt per run for
    the oracle; a deployment checkpoints the band table and appends to
    it), and each ingest batch costs one equi-join of batch-bands
    against index-bands — NEVER a corpus self-join. Per batch doc the
    verdict is auditable: candidate count, best estimator, admit flag.

    Output: (doc_id, n_candidates, max_est_jaccard, admitted) for every
    distinct batch doc; docs with zero band collisions admit with
    n_candidates = 0 and max_est_jaccard = 0.0.
    """
    is_batch = F.col("source") == INCREMENTAL_BATCH_SOURCE
    sig = _minhash_sig(docs).localCheckpoint(eager=False)
    srcs = docs.select("doc_id", "source")
    bands = _explode_bands(sig.join(srcs, "doc_id"), keep=("sig", "source"))
    probe = bands.filter(is_batch).select(
        F.col("doc_id").alias("batch_doc"),
        F.col("sig").alias("sa"),
        "band_id",
        "band_key",
    )
    index = bands.filter(~is_batch).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("sig").alias("sb"),
        "band_id",
        "band_key",
    )
    batch_docs = docs.filter(is_batch).select("doc_id").distinct()
    return lsh_admission_verdict(probe, index, batch_docs)


def probe_bands(docs: DataFrame) -> DataFrame:
    """Signature + band rows for a standalone doc frame (doc_id, text).

    The reusable half of :func:`dedup_minhash_incremental`: signatures
    are doc-local (hash-only), so a batch's bands computed in isolation
    are bit-identical to the same docs banded inside the full corpus —
    which is what lets a STREAM micro-batch probe a pre-built index.
    """
    return _explode_bands(_minhash_sig(docs))


def lsh_admission_verdict(
    probe: DataFrame, index: DataFrame, batch_docs: DataFrame
) -> DataFrame:
    """Admission verdict for probe bands vs an index: the shared kernel
    of the batch operator and its streaming foreachBatch twin.

    probe: (batch_doc, sa, band_id, band_key); index: (corpus_doc, sb,
    band_id, band_key); batch_docs: (doc_id) — every batch doc gets a
    row even with zero collisions.
    """
    cand = (
        probe.join(index, ["band_id", "band_key"])
        .select("batch_doc", "corpus_doc", "sa", "sb")
        .distinct()
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y), lambda m: m
        )
    )
    per_doc = (
        cand.select(
            "batch_doc",
            F.round(matches / F.lit(float(NUM_PERM)), 6).alias("est"),
        )
        .groupBy("batch_doc")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max("est").alias("max_est_jaccard"),
        )
    )
    return (
        batch_docs.join(
            per_doc, batch_docs.doc_id == per_doc.batch_doc, "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            F.coalesce(F.col("max_est_jaccard"), F.lit(0.0)).alias(
                "max_est_jaccard"
            ),
            F.when(
                F.coalesce(F.col("max_est_jaccard"), F.lit(0.0))
                < INC_NEAR_DUP_EST,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("admitted"),
        )
    )


DEDUP_MINHASH_INCREMENTAL_SQL = f"""
WITH {_sig_bands_ctes()},
src AS (SELECT doc_id, source FROM documents),
sbands AS (SELECT b.doc_id, b.band_id, b.band_key, s.source
           FROM bands b JOIN src s USING (doc_id)),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
  FROM sbands a JOIN sbands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.source = '{INCREMENTAL_BATCH_SOURCE}'
    AND b.source <> '{INCREMENTAL_BATCH_SOURCE}'
),
per_doc AS (
  SELECT c.batch_doc,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         MAX(ROUND(({_match_sum_sql()}) / CAST({NUM_PERM} AS DOUBLE), 6))
           AS max_est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.batch_doc
  JOIN sig sb ON sb.doc_id = c.corpus_doc
  GROUP BY c.batch_doc
)
SELECT d.doc_id,
       COALESCE(p.n_candidates, 0) AS n_candidates,
       COALESCE(p.max_est_jaccard, 0.0) AS max_est_jaccard,
       CAST(CASE WHEN COALESCE(p.max_est_jaccard, 0.0) < {INC_NEAR_DUP_EST}
                 THEN 1 ELSE 0 END AS BIGINT) AS admitted
FROM (SELECT DISTINCT doc_id FROM documents
      WHERE source = '{INCREMENTAL_BATCH_SOURCE}') d
LEFT JOIN per_doc p ON p.batch_doc = d.doc_id
"""

QUERY_SQL["dedup_minhash_incremental"] = DEDUP_MINHASH_INCREMENTAL_SQL


# --- k-core decomposition of the candidate graph (bounded peel) -----------

KCORE_K = 3  # the core order extracted
KCORE_ROUNDS = 6  # fixed peel rounds — both engines run exactly this many


def dedup_kcore(docs: DataFrame) -> DataFrame:
    """Nodes of the MinHash candidate graph's k-core (k=3), bounded peel.

    The DENSITY rung of the dedup-graph toolbox: components
    (dedup_clusters) say "connected", triangles (dedup_triangles) count
    local closure, and the k-core answers "which docs sit inside a
    mutually-duplicating cluster" — a node survives only while it keeps
    >= k surviving neighbors, so chains and stars peel away and tightly
    cross-linked near-dup blobs remain (template/boilerplate families,
    the ones worth human review before mass deletion).

    Peeling runs a FIXED KCORE_ROUNDS rounds in BOTH engines (each
    round: degree count -> drop nodes with deg < k -> drop their
    edges), so the output is deterministic parity regardless of
    convergence; each round peels one layer of sub-k nodes, so 6 rounds
    suffice for any graph whose peel depth is <= 6 — in practice the
    test-SF graphs converge in <= 3 (the invariant test asserts a 7th
    round changes nothing; raise KCORE_ROUNDS for deeper chain
    topologies). Each round is one map-side-
    combined degree agg + two semi-joins — the same per-round shape as
    connected_components, cost bounded by surviving edges.

    Output: (doc_id, degree, converged) — surviving core members with
    their final within-core degree. ``converged`` is the truncation
    verdict: true iff a further peel round would change nothing (every
    surviving node already has >= k surviving neighbors). At 100x scale
    a graph with peel depth > KCORE_ROUNDS returns a SUPERSET of the
    true core — converged=false makes that visible to the consumer
    instead of silently trusted. The flag is a broadcast 1-row
    aggregate, not a shuffle.
    """
    # pair set only (r12)
    und = _undirected(_minhash_pairs(docs)).localCheckpoint(eager=False)
    for _ in range(KCORE_ROUNDS):
        deg = und.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select("doc_a")
        und = (
            und.join(keep, "doc_a")
            .join(keep.select(F.col("doc_a").alias("doc_b")), "doc_b")
            .localCheckpoint(eager=False)
        )
    core = und.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    verdict = core.agg(
        F.coalesce(F.min("degree") >= KCORE_K, F.lit(True)).alias("converged")
    )
    return core.join(F.broadcast(verdict))


def _kcore_sql() -> str:
    ctes = [f"und0 AS ({_und_sql(_MINHASH_PAIRS_SQL)})"]
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f"""k{i} AS (
  SELECT doc_a FROM und{i - 1} GROUP BY doc_a HAVING COUNT(*) >= {KCORE_K})"""
        )
        ctes.append(
            f"""und{i} AS MATERIALIZED (
  SELECT u.doc_a, u.doc_b FROM und{i - 1} u
  JOIN k{i} ka ON ka.doc_a = u.doc_a
  JOIN k{i} kb ON kb.doc_a = u.doc_b)"""
        )
    ctes.append(
        f"""core AS (
  SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM und{KCORE_ROUNDS}
  GROUP BY doc_a)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT doc_id, degree,
       (SELECT COALESCE(MIN(degree) >= {KCORE_K}, TRUE) FROM core)
           AS converged
FROM core
"""
    )


DEDUP_KCORE_SQL = _kcore_sql()

QUERY_SQL["dedup_kcore"] = DEDUP_KCORE_SQL


def dedup_pair_diffstats(docs: DataFrame) -> DataFrame:
    """Review artifact for MinHash near-dup pairs: what ACTUALLY differs.

    The human-in-the-loop read behind any dedup threshold decision:
    for every candidate pair the exact character-level evidence —
    levenshtein distance (JVM built-in, candidate pairs only — never
    corpus-quadratic; per-pair cost bounded by document length squared),
    length delta, and the edit share of the longer doc in integer
    micro-units. A pair with high est_jaccard but a large edit share is
    a shingle-collision false positive; low edit share at modest jaccard
    is a near-copy the threshold missed — the two failure modes a
    threshold audit looks for, now one table.
    """
    pairs = dedup_minhash_lsh(docs)
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.length("text_a").cast("long").alias("len_a"),
            F.length("text_b").cast("long").alias("len_b"),
            F.levenshtein("text_a", "text_b").cast("long").alias("lev_dist"),
        )
        .withColumn(
            "edit_share_micro",
            F.expr("(lev_dist * 1000000) div greatest(len_a, len_b)"),
        )
    )


DEDUP_PAIR_DIFFSTATS_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_SQL})
SELECT p.doc_a, p.doc_b, p.est_jaccard,
       CAST(length(a.text) AS BIGINT) AS len_a,
       CAST(length(b.text) AS BIGINT) AS len_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev_dist,
       CAST((levenshtein(a.text, b.text) * 1000000)
            // GREATEST(length(a.text), length(b.text)) AS BIGINT) AS edit_share_micro
FROM pairs p
JOIN documents a ON a.doc_id = p.doc_a
JOIN documents b ON b.doc_id = p.doc_b
"""


def dedup_source_modularity(docs: DataFrame) -> DataFrame:
    """Modularity of the SOURCE partition over the near-dup pair graph.

    The syndication/mirror detector: if near-duplicates concentrate
    WITHIN sources, dedup can shard by source; if edge mass crosses
    source boundaries (low or negative q_term for big-degree sources),
    the corpus has mirrored/syndicated content and per-source dedup
    would miss it. Per source s over the MinHash candidate graph:
    e_intra (both endpoints in s), d_sum (degree mass), and the Newman
    modularity term e_s/m - (d_s/2m)^2 in integer micro-units — the
    degree share is quantized to milli FIRST and squared (milli^2 =
    micro), keeping every product inside int64 at any edge count.
    Same df-bounded edge construction as dedup_clusters; the edge
    pipeline is checkpointed so it runs once, and m is a 1-row
    broadcast cross.
    """
    edges = _minhash_pairs(docs).localCheckpoint(eager=False)  # pair set only (r12)
    src = docs.select("doc_id", "source")
    lab = (
        edges.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
            ),
            "doc_b",
        )
    )
    m = lab.agg(F.count(F.lit(1)).alias("m"))
    intra = (
        lab.filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count(F.lit(1)).alias("e_intra"))
    )
    ends = lab.select(
        F.col("src_a").alias("source"), F.col("doc_a").alias("doc_id")
    ).unionAll(
        lab.select(F.col("src_b").alias("source"), F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("source").agg(
        F.count(F.lit(1)).alias("d_sum"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        deg.join(intra, "source", "left")
        .withColumn("e_intra", F.coalesce(F.col("e_intra"), F.lit(0).cast("long")))
        .crossJoin(F.broadcast(m))
        .withColumn("intra_micro", F.expr("(e_intra * 1000000) div m"))
        .withColumn("share_milli", F.expr("(d_sum * 1000) div (2 * m)"))
        .select(
            "source",
            "n_docs",
            "e_intra",
            "d_sum",
            "intra_micro",
            (F.col("share_milli") * F.col("share_milli")).alias("expected_micro"),
            (
                F.col("intra_micro")
                - F.col("share_milli") * F.col("share_milli")
            ).alias("q_term_micro"),
        )
    )


DEDUP_SOURCE_MODULARITY_SQL = f"""
WITH pairs AS MATERIALIZED ({_MINHASH_PAIRS_SQL}),
lab AS MATERIALIZED (
  SELECT p.doc_a, p.doc_b, sa.source AS src_a, sb.source AS src_b
  FROM pairs p
  JOIN documents sa ON sa.doc_id = p.doc_a
  JOIN documents sb ON sb.doc_id = p.doc_b
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
intra AS (
  SELECT src_a AS source, CAST(COUNT(*) AS BIGINT) AS e_intra
  FROM lab WHERE src_a = src_b GROUP BY 1
),
ends AS (
  SELECT src_a AS source, doc_a AS doc_id FROM lab
  UNION ALL
  SELECT src_b, doc_b FROM lab
),
deg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS d_sum,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM ends GROUP BY 1
)
SELECT d.source, d.n_docs,
       COALESCE(i.e_intra, CAST(0 AS BIGINT)) AS e_intra, d.d_sum,
       (COALESCE(i.e_intra, CAST(0 AS BIGINT)) * 1000000) // m AS intra_micro,
       ((d.d_sum * 1000) // (2 * m)) * ((d.d_sum * 1000) // (2 * m)) AS expected_micro,
       (COALESCE(i.e_intra, CAST(0 AS BIGINT)) * 1000000) // m
         - ((d.d_sum * 1000) // (2 * m)) * ((d.d_sum * 1000) // (2 * m)) AS q_term_micro
FROM deg d LEFT JOIN intra i USING (source) CROSS JOIN m
"""

QUERY_SQL["dedup_source_modularity"] = DEDUP_SOURCE_MODULARITY_SQL


# --- Threshold tuning curve -------------------------------------------------

# Candidate cutoffs as MATCH COUNTS out of NUM_PERM (exact integers;
# 1e6/64 = 15625 exactly, so t_micro = cut*15625 is lossless).
THRESHOLD_CURVE_CUTS = (32, 39, 45, 52, 58)  # ≈ 0.50/0.61/0.70/0.81/0.91


def dedup_threshold_curve(docs: DataFrame) -> DataFrame:
    """Dedup threshold tuning curve: pairs and docs surviving each cutoff.

    THE table behind any near-dup threshold decision (the dedup
    counterpart of ann_ivf_nprobe_curve's recall-vs-price dial): for
    each candidate Jaccard cutoff, how many LSH candidate pairs clear
    it and how many distinct docs those pairs touch — too low and the
    curve explodes (over-merging kills recall of KEPT data), too high
    and it collapses to exact dups only. Thresholds live as exact MATCH
    COUNTS out of the 64 permutations (t_micro = cut·15625, lossless),
    the pair match count is the same integer zip_with sum the LSH
    operator rounds — recomputed here unrounded. The 5-row threshold
    dim broadcasts over the candidate pairs (bounded by near-dup mass,
    never corpus²); distinct-doc counting explodes each pair to its two
    endpoints first (2×pairs rows, still candidate-bounded).
    """
    bands = _explode_bands(_minhash_sig(docs).localCheckpoint(eager=False))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.size(
                F.filter(
                    F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
                    lambda m: m,
                )
            )
            .cast("long")
            .alias("matches"),
        )
    )
    spark = docs.sparkSession
    cuts = spark.createDataFrame(
        [(c,) for c in THRESHOLD_CURVE_CUTS], "cut long"
    )
    surv = pairs.crossJoin(F.broadcast(cuts)).filter(
        F.col("matches") >= F.col("cut")
    )
    ends = surv.select("cut", F.col("doc_a").alias("doc_id")).unionAll(
        surv.select("cut", F.col("doc_b").alias("doc_id"))
    )
    per_cut = surv.groupBy("cut").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs_per_cut = ends.groupBy("cut").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        cuts.join(per_cut, "cut", "left")
        .join(docs_per_cut, "cut", "left")
        .select(
            "cut",
            (F.col("cut") * 15625).alias("t_micro"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
        )
    )


def _threshold_curve_sql() -> str:
    return f"""
WITH {_sig_bands_ctes()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, CAST({_match_sum_sql()} AS BIGINT) AS matches
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
),
cuts(cut) AS (VALUES {', '.join(f'({c})' for c in THRESHOLD_CURVE_CUTS)}),
surv AS (
  SELECT CAST(c.cut AS BIGINT) AS cut, doc_a, doc_b
  FROM pairs p CROSS JOIN cuts c WHERE p.matches >= c.cut
),
per_cut AS (SELECT cut, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM surv GROUP BY 1),
docs_per_cut AS (
  SELECT cut, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (SELECT cut, doc_a AS doc_id FROM surv
        UNION ALL SELECT cut, doc_b FROM surv)
  GROUP BY 1
)
SELECT CAST(c.cut AS BIGINT) AS cut,
       CAST(c.cut * 15625 AS BIGINT) AS t_micro,
       COALESCE(p.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
       COALESCE(d.n_docs, CAST(0 AS BIGINT)) AS n_docs
FROM cuts c
LEFT JOIN per_cut p ON p.cut = c.cut
LEFT JOIN docs_per_cut d ON d.cut = c.cut
"""


DEDUP_THRESHOLD_CURVE_SQL = _threshold_curve_sql()
QUERY_SQL["dedup_threshold_curve"] = DEDUP_THRESHOLD_CURVE_SQL


# --- prefix-filtered exact similarity self-join (AllPairs/PPJoin) ----------

PREFIX_FILTER_T = 0.5  # Jaccard threshold (exact integer predicate below)


def dedup_prefix_filter(docs: DataFrame, shd: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard similarity self-join via PREFIX FILTERING (AllPairs).

    The third candidate-generation strategy in the dedup family, next to
    MinHash-LSH (probabilistic) and the df-bounded inverted index
    (``ngram_jaccard``): order every document's distinct 3-gram shingle
    set by GLOBAL RARITY (document frequency ascending, the shingle's
    120-bit md5 as the deterministic tie-break) and index only each
    document's PREFIX — the first ``n - ceil(t*n) + 1`` shingles. The
    AllPairs theorem (Bayardo et al., WWW'07): two sets with Jaccard
    >= t must share at least one shingle inside both prefixes under ANY
    consistent global order, so the prefix index loses no true pair
    regardless of the tie-break; rare-first ordering makes the indexed
    shingles precisely the LOW-df ones, so the candidate equi-join has
    bounded fan-out without dropping any shingle (the df <=
    NGRAM_MAX_DF cut ngram_jaccard needs).

    Every internal join/sort key is the shingle's md5 SPLIT INTO TWO
    int64 columns (120 bits), never the ~60-byte string: the r11 300x
    re-run showed the string-keyed sort-merge joins spilling the disk
    dry (78M occurrence rows x string keys, sorted four times); the
    fixed-width int pair sorts ~4x denser and shuffles ~4x less. 120
    bits over ~1e8 distinct shingles has a birthday collision
    probability ~1e-21 per corpus — quantified here, and verified exact
    against the brute-force STRING oracle at every test scale. A length filter
    (t*|a| <= |b| <= |a|/t, exact in int64 for t=1/2) prunes candidates
    before verification; verification counts true intersections by
    joining each candidate pair to the two docs' COMPACT hash-set
    arrays (doc-grain rows, one per doc) and intersecting JVM-side —
    work proportional to candidates * doc size inside the intersect
    kernel, but the SHUFFLED intermediate is candidate-grain, never
    posting-grain (the r11 300x runs showed the posting-grain
    alternative — pairs x postings, ~5e9 rows — writing ~190 GB of
    shuffle and filling the disk; the array form shuffles ~93M rows).

    Scale shape: df is a map-side-combined shingle count; per-doc rank is
    a doc_id-partitioned window (doc-sized partitions); candidates come
    from an equi-join on shingle over the prefix index only; verification
    is two equi-joins keyed (doc_a) then (doc_b, s). Zero nested loops.
    Every join in this operator has CORPUS-SIZED sides (postings, prefix
    index, candidate pairs), so each is pinned to the size-aware
    non-broadcast strategy of :func:`_corpus_join_hint`.

    Output: (doc_a, doc_b, n_common, size_a, size_b, jaccard) for exact
    Jaccard >= 0.5, decided by the integer predicate
    ``2*common >= union`` in BOTH engines (no float threshold edge).
    """
    from pyspark.sql.window import Window

    # Four consumers (df counts, ranked prefix, two verification posting
    # sides) of the distinct-shingle index, which contains a shuffle: it
    # is materialized once (functions/joins.materialize). Fixed-width
    # 120-bit keys: the materialized index carries two int64s per
    # shingle, never the ~60-byte string.
    n_corpus = _corpus_rows(docs)
    if shd is not None:
        shh = _shingle_index_h12(shd)
    else:
        shh = _materialize(_shingle_h12(_shingles_df(docs)).distinct(), n_corpus)
    jh = _corpus_join_hint(n_corpus)
    dfreq = shh.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        shh.join(dfreq.hint(jh), ["h1", "h2"])
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "h1", "h2")
            ),
        )
    )
    # prefix length for t=1/2: n - ceil(n/2) + 1, all-int64 in both engines
    prefix = ranked.filter(F.expr("pos <= n - ((n + 1) div 2) + 1")).select(
        "doc_id", "h1", "h2", "n"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b.hint(jh),
            (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            (F.col("a.n") <= 2 * F.col("b.n")) & (F.col("b.n") <= 2 * F.col("a.n"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("size_a"),
            F.col("b.n").alias("size_b"),
        )
        .distinct()
    )
    # verification sets: one sorted h1 array per doc (~52 int64s; h1
    # alone is 60 bits — a within-pair collision needs two distinct
    # shingles of the SAME pair to share h1, ~5e3/2^61 per pair, ~2e-7
    # across 1e8 candidates — negligible and verified exact against the
    # string-keyed brute oracle at every test scale)
    sets = shh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h1")).alias("hs")
    )
    sa = sets.select(F.col("doc_id").alias("da2"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("doc_id").alias("db2"), F.col("hs").alias("hs_b"))
    # the sets joins stay shuffle_hash at EVERY scale: the build side is
    # the doc-grain sets frame (per-partition build ~n_docs/partitions
    # rows — 20 MB/task at 1.5M docs/32 partitions), while sort-merge
    # would external-sort the array-carrying candidate stream (~40 GB at
    # 300x — the r11 SPILL_OOM); a doc-grain build side is exactly what
    # shuffle_hash is for, unlike the posting-grain relation that
    # motivated the size gate
    common = (
        cand.join(sa.hint("shuffle_hash"), F.col("da2") == F.col("doc_a"))
        .join(sb.hint("shuffle_hash"), F.col("db2") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("hs_a", "hs_b"))
            .cast("long")
            .alias("n_common"),
        )
    )
    return (
        common.filter(F.expr("2 * n_common >= size_a + size_b - n_common"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# Oracle: BRUTE-FORCE exact Jaccard over the full inverted index (no df
# bound, no prefix) — value-hash equality against it PROVES the prefix
# pruning is lossless, which is the AllPairs theorem's whole claim.
DEDUP_PREFIX_FILTER_SQL = f"""
WITH shing AS ({_DUCK_SHING}),
shd AS (SELECT DISTINCT doc_id, s FROM shing),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, sa.n AS size_a, sb.n AS size_b,
       ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 2 * n_common >= sa.n + sb.n - n_common
"""
QUERY_SQL["dedup_prefix_filter"] = DEDUP_PREFIX_FILTER_SQL


# --- label-propagation communities -----------------------------------------

LP_ROUNDS = 4


def dedup_label_propagation(docs: DataFrame) -> DataFrame:
    """Community detection over the MinHash candidate graph via SYNCHRONOUS
    label propagation (Raghavan et al. 2007), made fully deterministic.

    Connected components answer "which docs are transitively linked";
    communities answer the finer question "which docs form a densely
    linked near-dup NEIGHBORHOOD" — a giant weak component (one low-
    similarity bridge chaining two template families) splits into its
    dense cores, which is the right granularity for choosing canonical
    survivors. Update rule, applied simultaneously to every node for a
    fixed LP_ROUNDS: adopt the label that is most frequent among your
    neighbors, breaking count ties by SMALLEST label (determinism — the
    usual random tie-break would be irreproducible across engines and
    runs). Fixed synchronous rounds + deterministic tie-break make the
    result an exact function of the edge set, so the DuckDB oracle
    replicates it round-for-round with unrolled CTEs.

    Scale shape: each round is one equi-join of the O(V)-row label frame
    onto the edge list followed by two bounded aggregations — the
    pointer-jumping CC discipline, work O(R * E) with map-side combine on
    (node, label). The membership count is a community-sized window.

    Output: (doc_id, community, n_members) for every node in at least
    one candidate pair.
    """
    # pair set only (r12)
    und = _undirected(_minhash_pairs(docs)).localCheckpoint(eager=False)
    return label_propagation(und)


def label_propagation(und: DataFrame, rounds: int = LP_ROUNDS) -> DataFrame:
    """LP core over an undirected edge frame (doc_a, doc_b), both directions
    present. Separated from the MinHash edge construction so crafted-graph
    tests can pin the community semantics directly."""
    from pyspark.sql.window import Window

    lab = und.select(F.col("doc_a").alias("v")).distinct().withColumn(
        "lab", F.col("v")
    )
    for _ in range(rounds):
        nb = und.join(lab, und.doc_b == lab.v).select(
            F.col("doc_a").alias("node"), "lab"
        )
        cnt = nb.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
        # argmax over (count desc, label asc): max_by on (c, -lab) struct
        lab = cnt.groupBy("node").agg(
            F.expr("max_by(lab, struct(c, -lab))").alias("lab")
        ).select(F.col("node").alias("v"), "lab")
    return lab.select(
        F.col("v").alias("doc_id"),
        F.col("lab").alias("community"),
        F.count(F.lit(1)).over(Window.partitionBy("lab")).alias("n_members"),
    )


def _label_propagation_sql(rounds: int = LP_ROUNDS) -> str:
    ctes = [
        f"und AS ({_und_sql(_MINHASH_PAIRS_SQL)})",
        "lab0 AS (SELECT DISTINCT doc_a AS v, doc_a AS lab FROM und)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"cnt{r} AS (SELECT u.doc_a AS v, l.lab, COUNT(*) AS c "
            f"FROM und u JOIN lab{r - 1} l ON l.v = u.doc_b GROUP BY 1, 2)"
        )
        ctes.append(
            f"lab{r} AS (SELECT v, lab FROM cnt{r} "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab ASC) = 1)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT v AS doc_id, lab AS community,
       CAST(COUNT(*) OVER (PARTITION BY lab) AS BIGINT) AS n_members
FROM lab{rounds}
"""
    )


DEDUP_LABEL_PROPAGATION_SQL = _label_propagation_sql()
QUERY_SQL["dedup_label_propagation"] = DEDUP_LABEL_PROPAGATION_SQL


# --- canonical election: survivorship policy over near-dup clusters --------


def dedup_canonical_election(docs: DataFrame) -> DataFrame:
    """Elect the CANONICAL survivor of each near-dup cluster by POLICY,
    not by accident: every dedup path so far keeps the minimum doc_id —
    fine for determinism, wrong for data quality, because the lowest id
    can be the truncated or boilerplate-ridden copy. The election joins
    the cluster map (connected components over the MinHash candidate
    graph) with the quality verdict and ranks each cluster's members by
    (passes-quality DESC, n_chars DESC, doc_id ASC): keep the highest-
    quality, longest representative; ids only break true ties.

    Output per clustered doc: its cluster, the elected survivor, and the
    evidence columns the rank used — the reviewable survivorship table a
    dedup pipeline publishes next to its drop list.

    Scale shape: the cluster map is the pointer-jumping CC output; the
    election adds one doc_id equi-join against the quality projection
    and a cluster-partitioned window (cluster-sized partitions, the
    dedup_cluster_sizes discipline).
    """
    from pyspark.sql.window import Window

    from .text import quality_filter

    labels = dedup_clusters(docs)
    qual = quality_filter(docs).select("doc_id", "keep")
    sized = docs.select("doc_id", "n_chars")
    j = labels.join(qual, "doc_id").join(sized, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("keep").desc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    # r11 (guide §2.4): the survivor used to be extracted with a
    # row_number window, filtered to rnk=1, and JOINED back onto a second
    # evaluation of the same window — first_value over the identical
    # ordered window with a full-partition frame attaches the rank-1
    # doc_id to every member row in ONE window pass (one sort, no
    # self-join, one fewer exchange). Same rows, same values: every
    # cluster has exactly one rank-1 row and the join was 1:N on it.
    survivor = F.first("doc_id").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return j.select(
        "doc_id",
        "cluster_id",
        survivor.alias("survivor_id"),
        (F.col("doc_id") == survivor).alias("is_survivor"),
        F.col("keep").alias("passes_quality"),
        "n_chars",
    )


DEDUP_CANONICAL_SQL: str  # assigned below (needs text's SQL, late import)


def _canonical_sql() -> str:
    from .text import QUALITY_FILTER_SQL

    return f"""
WITH clusters AS ({DEDUP_CLUSTERS_SQL}),
qual AS (SELECT doc_id, keep FROM ({QUALITY_FILTER_SQL})),
j AS (
  SELECT c.doc_id, c.cluster_id, q.keep, d.n_chars
  FROM clusters c
  JOIN qual q USING (doc_id)
  JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
            ORDER BY keep DESC, n_chars DESC, doc_id ASC) AS rnk
  FROM j
),
survivors AS (
  SELECT cluster_id, doc_id AS survivor_id FROM ranked WHERE rnk = 1
)
SELECT r.doc_id, r.cluster_id, s.survivor_id,
       r.doc_id = s.survivor_id AS is_survivor,
       r.keep AS passes_quality,
       r.n_chars
FROM ranked r JOIN survivors s USING (cluster_id)
"""


DEDUP_CANONICAL_SQL = _canonical_sql()
QUERY_SQL["dedup_canonical_election"] = DEDUP_CANONICAL_SQL


# --- winnowing fingerprints (MOSS) ------------------------------------------

WINNOW_W = 4  # guarantee window: any match of >= W+2 words shares a print
WINNOW_MAX_DF = 100  # same hot-shingle guard class as NGRAM_MAX_DF


def doc_winnowing_matches(docs: DataFrame) -> DataFrame:
    """Cross-document matches via WINNOWING fingerprints (Schleimer et
    al., SIGMOD'03 — the MOSS plagiarism detector's selection rule).

    The positional member of the fingerprint family: where
    ngram_jaccard indexes EVERY distinct shingle and MinHash a fixed
    random sample, winnowing slides a W-window over each document's
    shingle-hash SEQUENCE and keeps each window's minimum — ~2/(W+1) of
    the positions, with the guarantee that any verbatim match of at
    least W+2 words contributes at least one shared fingerprint (every
    length-W window of a common substring selects the same minimum in
    both docs). Selection is positional, so reordering paragraphs still
    matches while the index stays a fraction of the full posting list.

    Output: (doc_a, doc_b, n_shared) — pairs sharing >= 2 winnowed
    fingerprints, the plagiarism-candidate queue.

    Scale shape: per-doc windows are a doc_id-partitioned ROWS frame
    (doc-sized partitions); the fingerprint set is DISTINCT window
    minima (a fraction of the shingle stream); candidate pairs come
    from the same df-bounded equi-join as ngram_jaccard — a fingerprint
    in more than WINNOW_MAX_DF docs is a template artifact and capped
    identically in both engines.
    """
    from pyspark.sql.window import Window

    from ..functions.hashing import md5_long

    seqd = (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .select(
            "doc_id",
            F.posexplode(F.expr(_SPARK_SHINGLES)).alias("pos", "s"),
        )
        .select("doc_id", "pos", md5_long(F.col("s")).alias("h"))
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    nw = Window.partitionBy("doc_id")
    fps = (
        seqd.withColumn("n", F.count(F.lit(1)).over(nw))
        .withColumn("wmin", F.min("h").over(wf))
        .filter(F.col("pos") <= F.col("n") - WINNOW_W)  # full windows only
        .select("doc_id", F.col("wmin").alias("h"))
        .distinct()
    )
    df_ok = (
        fps.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("h")
    )
    fpf = fps.join(df_ok, "h", "left_semi")
    a, b = fpf.alias("a"), fpf.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


DOC_WINNOWING_SQL = f"""
WITH shing AS (
  SELECT doc_id,
         unnest({_DUCK_SHINGLES}) AS s,
         generate_subscripts({_DUCK_SHINGLES}, 1) - 1 AS pos
  FROM ({_DUCK_WORDS})
),
hashed AS (
  SELECT doc_id, pos, {md5_long_sql('s')} AS h FROM shing
),
wins AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM hashed
),
fps AS (
  SELECT DISTINCT doc_id, wmin AS h FROM wins WHERE pos <= n - {WINNOW_W}
),
df_ok AS (SELECT h FROM fps GROUP BY h HAVING COUNT(*) <= {WINNOW_MAX_DF}),
fpf AS (SELECT f.doc_id, f.h FROM fps f JOIN df_ok USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fpf a JOIN fpf b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""
QUERY_SQL["doc_winnowing_matches"] = DOC_WINNOWING_SQL


# --- strategy comparison: measure the candidate-generation tier -------------


def dedup_strategy_comparison(docs: DataFrame) -> DataFrame:
    """Head-to-head audit of the three candidate-generation strategies
    against EXACT truth — the table that justifies a dedup config.

    Truth = the prefix-filtered exact Jaccard >= 0.5 join (proven
    lossless against brute force by its own oracle). Each strategy's
    emitted pairs are scored against it:

      minhash  — LSH candidates with est_jaccard >= 0.5,
      simhash  — Hamming <= 3 pairs of the 60-bit fingerprint,
      ngram    — the df-bounded inverted-index join (drops hot shingles,
                 so its recall deficit is exactly the df cap's cost).

    Output per strategy: pairs emitted, true pairs found, recall and
    precision in ppm — measured, not asserted (the LSH banding was tuned
    on numbers from exactly this kind of table). Every input is an
    already-oracled operator; the comparison is their composition.

    Scale shape: three bounded pair frames + the truth frame, joined
    pairwise on (doc_a, doc_b) — near-dup-mass-bounded, never corpus².
    r10 (VERDICT r9 item 4): the four pipelines used to re-tokenize the
    corpus independently; now the md5 shingle-hash pass (two int64
    columns — cheap to materialize, expensive to recompute) is
    checkpointed once for minhash + simhash, and the distinct shingle
    index once for ngram + the prefix-filter truth — the
    cascade_verdicts lever applied here. The two chains — (hashed ->
    minhash signature) and (distinct index -> prefix-filter truth) —
    are independent and run concurrently (sf0.1 medians ~13.4 s (r9)
    -> ~11 s (shared) -> ~8.9 s (shared + overlapped)); all three
    decisions follow the functions/joins scale policy. Oracle
    unchanged: sharing a frame changes no value.
    """
    n_corpus = _corpus_rows(docs)

    def _chain_hash():
        hashed = _checkpoint_small(_shingle_hashes(docs), n_corpus)
        # building the LSH frame eagerly checkpoints the signature table
        return dedup_minhash_lsh(docs, hashed=hashed), hashed

    def _chain_truth():
        # r11: the shared index materializes in its HASHED (doc_id, h1,
        # h2) form — both consumers (ngram_jaccard + dedup_prefix_filter)
        # now take the 120-bit keys directly, and two int64 columns are
        # the cheap-to-pin representation (the r10 finding that STRING
        # shingle materialization costs more than codegen recompute is
        # what deferred this sharing until the consumers went hashed)
        shd = _materialize(_shingle_h12(_shingles_df(docs)).distinct(), n_corpus)
        truth = (
            dedup_prefix_filter(docs, shd=shd)
            .select("doc_a", "doc_b")
            .withColumn("t", F.lit(1).cast("long"))
            .localCheckpoint()
        )
        return truth, shd

    (minhash_pairs, hashed), (truth, shd) = _run_chains(
        n_corpus, _chain_hash, _chain_truth
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))

    def score(name: str, pairs: DataFrame) -> DataFrame:
        j = pairs.join(truth, ["doc_a", "doc_b"], "left")
        return j.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).alias("n_emitted"),
            F.sum(F.coalesce(F.col("t"), F.lit(0))).alias("n_true_found"),
        )

    res = (
        score(
            "minhash",
            minhash_pairs
            .filter(F.col("est_jaccard") >= NGRAM_MIN_JACCARD)
            .select("doc_a", "doc_b"),
        )
        .union(
            score(
                "simhash", dedup_simhash(docs, hashed=hashed).select("doc_a", "doc_b")
            )
        )
        .union(score("ngram", ngram_jaccard(docs, shd=shd).select("doc_a", "doc_b")))
    )
    # fully lazy: ONE job computes all three strategy rows + the 1-row
    # truth total (broadcast cross — the single-row-stats class); no
    # driver-side counts, no createDataFrame
    return res.crossJoin(F.broadcast(nt)).select(
        "strategy",
        "n_emitted",
        "n_true_pairs",
        "n_true_found",
        F.expr("(n_true_found * 1000000) div greatest(1, n_true_pairs)").alias(
            "recall_ppm"
        ),
        F.expr("(n_true_found * 1000000) div greatest(1, n_emitted)").alias(
            "precision_ppm"
        ),
    )


def _strategy_comparison_sql() -> str:
    return f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({DEDUP_PREFIX_FILTER_SQL})
),
mh AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL})
  WHERE est_jaccard >= {NGRAM_MIN_JACCARD}
),
sh AS (
  SELECT doc_a, doc_b FROM ({DEDUP_SIMHASH_SQL})
),
ng AS (
  SELECT doc_a, doc_b FROM ({NGRAM_JACCARD_SQL})
),
nt AS (SELECT COUNT(*) AS n_true FROM truth),
s AS (
  SELECT 'minhash' AS strategy,
         (SELECT COUNT(*) FROM mh) AS n_emitted,
         (SELECT COUNT(*) FROM mh JOIN truth USING (doc_a, doc_b)) AS n_true_found
  UNION ALL
  SELECT 'simhash',
         (SELECT COUNT(*) FROM sh),
         (SELECT COUNT(*) FROM sh JOIN truth USING (doc_a, doc_b))
  UNION ALL
  SELECT 'ngram',
         (SELECT COUNT(*) FROM ng),
         (SELECT COUNT(*) FROM ng JOIN truth USING (doc_a, doc_b))
)
SELECT strategy,
       CAST(n_emitted AS BIGINT) AS n_emitted,
       CAST(n_true AS BIGINT) AS n_true_pairs,
       CAST(n_true_found AS BIGINT) AS n_true_found,
       CAST((n_true_found * 1000000) // GREATEST(1, n_true) AS BIGINT) AS recall_ppm,
       CAST((n_true_found * 1000000) // GREATEST(1, n_emitted) AS BIGINT) AS precision_ppm
FROM s CROSS JOIN nt
"""


DEDUP_STRATEGY_COMPARISON_SQL = _strategy_comparison_sql()
QUERY_SQL["dedup_strategy_comparison"] = DEDUP_STRATEGY_COMPARISON_SQL


# --- local bridges: the chain links that glue clusters together -------------


def dedup_local_bridges(docs: DataFrame) -> DataFrame:
    """LOCAL BRIDGES of the MinHash candidate graph — edges embedded in
    no triangle (zero common neighbors). These are the chain links that
    glue otherwise-separate near-dup neighborhoods into one giant
    connected component: delete a local bridge and its endpoints' groups
    typically fall apart. The audit names the exact pair (with its
    estimated similarity) behind every suspicious cluster merge — the
    actionable follow-up to label propagation's "this component is
    really two communities".

    Mechanics: an edge (a,b) is triangle-embedded iff some n is adjacent
    to both ends; common neighbors come from one equi-join of the
    undirected edge list with itself on the shared endpoint, and local
    bridges are the anti-join of edges against that set. Everything is
    edge-list-bounded (near-dup mass), never corpus².

    Output: (doc_a, doc_b, est_jaccard) for every zero-embeddedness
    candidate edge.
    """
    pairs = dedup_minhash_lsh(docs)
    und = _undirected(pairs.select("doc_a", "doc_b")).localCheckpoint(eager=False)
    # common-neighbor pairs: a -> n and b -> n with a < b
    x, y = und.alias("x"), und.alias("y")
    embedded = (
        x.join(
            y,
            (F.col("x.doc_b") == F.col("y.doc_b"))
            & (F.col("x.doc_a") < F.col("y.doc_a")),
        )
        .select(
            F.col("x.doc_a").alias("doc_a"), F.col("y.doc_a").alias("doc_b")
        )
        .distinct()
    )
    return pairs.join(embedded, ["doc_a", "doc_b"], "left_anti")


DEDUP_LOCAL_BRIDGES_SQL = f"""
WITH pairs AS MATERIALIZED ({DEDUP_MINHASH_SQL}),
und AS ({_und_sql("SELECT doc_a, doc_b FROM pairs")}),
embedded AS (
  SELECT DISTINCT x.doc_a AS doc_a, y.doc_a AS doc_b
  FROM und x JOIN und y
    ON x.doc_b = y.doc_b AND x.doc_a < y.doc_a
)
SELECT p.doc_a, p.doc_b, p.est_jaccard
FROM pairs p
LEFT JOIN embedded e ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
WHERE e.doc_a IS NULL
"""
QUERY_SQL["dedup_local_bridges"] = DEDUP_LOCAL_BRIDGES_SQL
