"""Streaming five-stage curation cascade: corpus_curation_extended on a
stream, with per-batch state probing instead of corpus recompute.

The batch cascade (plans/llm.py corpus_curation_extended) decides
quality -> exact_dup -> near_dup -> contained -> stale per document,
first-fail-wins. Every non-local stage has ARRIVAL-ORDER semantics
(doc_id as ingestion order): exact-dup's canonical is the MIN doc_id per
content hash, near-dup/containment reject the HIGHER id of each pair,
and novelty's pioneer is the MIN doc_id per 3-gram. "Min over the whole
corpus" is prefix-decidable — a doc is the min iff no EARLIER doc
collides — so a stream that sees the same docs in doc_id order can emit
the IDENTICAL verdicts micro-batch by micro-batch, each doc judged
against (persisted state) + (earlier docs in its own batch). tests/test_streaming.py::test_streaming_curation_cascade_matches_batch
pins stream-out == batch corpus_curation_extended row-for-row over 3
micro-batches; ..._replay_idempotent pins the checkpoint-deleted replay.

State = five append-only evidence tables, each written partitioned by
batch_id with dynamic partition overwrite (a replayed micro-batch
rewrites identical partitions — same idempotency contract as
streaming_lsh_admission's sink), plus one additively-maintained
aggregate (``dfcounts``, a VersionedTable — see below):

* hashes   (text_md5)            — exact-dup probe (anti-join);
* bands    (corpus_doc, sb, band_id, band_key) — near-dup LSH probe,
  the same index shape streaming_lsh_admission probes;
* postings (doc_id, sh)          — containment shingle inverted index
  (md5-hashed 3-word shingles);
* grams    (g)                   — novelty pioneer set (distinct 3-gram
  hashes ever seen);
* doc_sizes (doc_id, n_sh)       — per-doc distinct shingle counts (the
  containment denominator for state docs);
* dfcounts (sh, df)              — per-shingle document frequency, the
  NGRAM_MAX_DF guard, maintained additively.

Per micro-batch every probe is an equi-join of the (small) batch side
against one state table — never a corpus self-join, and never a
state-side shuffle: every join against a state table broadcasts the
batch side, so the state scans stream through BroadcastHashJoins
(tests/test_streaming.py pins the containment probe's plan; bucketing
the state tables by key becomes the fallback only when batches outgrow
the broadcast threshold). The containment document-frequency guard
(NGRAM_MAX_DF) is maintained ADDITIVELY: per-shingle df lives in a
``VersionedTable`` under ``state_dir/dfcounts``, merge_aggregate-d once
per batch (work proportional to the batch's keys, not the postings
history) behind a recorded-batch-id guard, and each batch READS the df
snapshot recorded strictly before it (time travel) so a replay sees the
identical guard. State-doc set sizes for the containment denominator
come from an append-only ``doc_sizes`` table (df-UNFILTERED — identical
to the filtered size while no shingle has crossed the cap, the regime
the pinned test confirms at test SF where max df ~ tens vs cap 100).
The guard uses PREFIX df while the batch operator uses final global df —
verdicts can differ only for shingles that cross the cap between a
doc's arrival and end-of-corpus; at scale that means the stream is
strictly more conservative about hot shingles later, never earlier.

Precondition for bit-equality with the batch cascade: arrival order ==
doc_id order (the cascade's tie-break key). Out-of-order arrival still
yields a valid ARRIVAL-order curation — which is what a live admission
pipeline means by first-copy-wins — it just no longer replays the
batch decision for the same ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..operators.dedup import (
    CONTAIN_MIN,
    NGRAM_MAX_DF,
    _shingles_df,
    dedup_minhash_lsh,
    lsh_admission_verdict,
    probe_bands,
)
from ..operators.text import quality_filter
from ..sinks import start_available_now
from ..table import VersionedTable
from .admission import DOC_SCHEMA
from .rollup import _empty_state, _file_stream

#: meta key guarding the additive df merge (namespaced — table.py meta
#: merges across commits, so unrelated writers cannot reset it)
DF_BATCH_KEY = "cascade_df_batch_id"

# Thresholds mirror plans/llm.py's cascade constants; imported lazily in
# _cascade_verdicts to avoid a plans<->streaming import cycle.


def _state_exists(spark: SparkSession, path: str) -> bool:
    """Explicit existence probe via the Hadoop FS API (works for any
    supported filesystem). Only a genuinely-missing table reads as empty;
    every other failure (corrupt footer, transient FS error) propagates
    and fails the micro-batch instead of silently admitting duplicates."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _read_state(
    spark: SparkSession, path: str, schema: str, batch_id: int
) -> DataFrame:
    """Read one state table as seen by ``batch_id``.

    Filters to partitions with batch_id STRICTLY EARLIER than the current
    batch: a micro-batch replayed after a crash mid-_one_batch (verdicts
    written, some state appends done) must not see its OWN evidence as
    prior state — self-collision would rewrite every verdict as a dup.
    With the filter, a replay sees exactly the pre-crash state and
    rewrites identical rows (the idempotency contract)."""
    if not _state_exists(spark, path):
        return _empty_state(spark, schema)
    return (
        spark.read.parquet(path)
        .filter(F.col("batch_id") < batch_id)
        .drop("batch_id")
    )


def _append_state(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent state append: the batch owns its batch_id partition."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _df_version_before(dft: VersionedTable, batch_id: int) -> int | None:
    """Latest dfcounts version whose recorded batch id is < ``batch_id``.

    The replay-exactness companion to the state tables' partition filter:
    a replayed batch must read the df snapshot it originally saw, not one
    that already includes its own (or later) contributions."""
    for v in reversed(dft.versions()):
        b = dft.meta_of(v).get(DF_BATCH_KEY)
        if b is not None and b < batch_id:
            return v
    return None


def _containment_stage(
    postings: DataFrame,
    doc_sizes: DataFrame,
    batch_sh: DataFrame,
    df_prior: DataFrame,
) -> DataFrame:
    """Containment rejects for one micro-batch; state side never shuffles.

    df guard: prefix df(sh) = prior table value + in-batch count — no
    re-aggregation of the postings history. Every join that touches a
    state table (``df_prior``, ``postings``, ``doc_sizes``) broadcasts
    the batch-bounded side, so the state scans stream through
    BroadcastHashJoins with zero state-side exchange (the plan test pins
    this). Denominator sizes: batch docs use their df-filtered in-batch
    counts; state docs use ``doc_sizes`` (unfiltered — equal until a
    shingle crosses the cap, see module docstring).
    """
    batch_counts = batch_sh.groupBy("sh").agg(F.count(F.lit(1)).alias("dfb"))
    prior_hits = df_prior.join(F.broadcast(batch_counts.select("sh")), "sh")
    totals = (
        batch_counts.join(F.broadcast(prior_hits), "sh", "left")
        .select(
            "sh",
            (F.col("dfb") + F.coalesce(F.col("df"), F.lit(0))).alias("df"),
        )
    )
    df_ok = totals.filter(F.col("df") <= NGRAM_MAX_DF).select("sh")
    batch_f = batch_sh.join(F.broadcast(df_ok), "sh", "left_semi")
    sizes_b = batch_f.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    earlier = postings.select(F.col("doc_id").alias("doc_a"), "sh").unionByName(
        batch_f.select(F.col("doc_id").alias("doc_a"), "sh")
    )
    common = (
        earlier.join(
            F.broadcast(batch_f.select(F.col("doc_id").alias("doc_b"), "sh")),
            "sh",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes_a = (
        doc_sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
        .unionByName(
            sizes_b.select(F.col("doc_id").alias("doc_a"), F.col("nb").alias("na"))
        )
        .join(F.broadcast(common.select("doc_a").distinct()), "doc_a", "left_semi")
        .groupBy("doc_a")
        .agg(F.max("na").alias("na"))
    )
    return (
        common.join(F.broadcast(sizes_a), "doc_a")
        .join(F.broadcast(sizes_b.select(F.col("doc_id").alias("doc_b"), "nb")), "doc_b")
        .filter(
            F.round(F.col("n_common") / F.least("na", "nb"), 6) >= CONTAIN_MIN
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_contained", F.lit(True))
    )


def _cascade_verdicts(
    batch_df: DataFrame,
    hashes: DataFrame,
    bands: DataFrame,
    postings: DataFrame,
    grams: DataFrame,
    doc_sizes: DataFrame,
    df_prior: DataFrame,
) -> DataFrame:
    """(doc_id, reason, keep) for one micro-batch vs the state tables.

    Each stage = state probe OR intra-batch check, matching the batch
    cascade's a<b / min-id semantics given in-order arrival.
    """
    from ..plans.llm import CURATION_MIN_NOVELTY, CURATION_NEAR_DUP_JACCARD

    docs = batch_df.select("doc_id", "text").localCheckpoint()

    # 1. quality — doc-local
    q = quality_filter(docs).select("doc_id", F.col("keep").alias("q_ok"))

    # 2. exact dup — hash in state, or an earlier batch doc shares it
    hashed = docs.select("doc_id", F.md5("text").alias("text_md5"))
    in_state = hashed.join(hashes, "text_md5", "left_semi")
    batch_min = hashed.groupBy("text_md5").agg(F.min("doc_id").alias("first"))
    in_batch = (
        hashed.join(batch_min, "text_md5")
        .filter(F.col("doc_id") > F.col("first"))
        .select("doc_id")
    )
    exact_dup = (
        in_state.select("doc_id")
        .union(in_batch)
        .distinct()
        .withColumn("is_exact_dup", F.lit(True))
    )

    # 3. near dup — LSH probe vs state index + intra-batch pairs
    batch_bands = probe_bands(docs)
    probe = batch_bands.select(
        F.col("doc_id").alias("batch_doc"),
        F.col("sig").alias("sa"),
        "band_id",
        "band_key",
    )
    vs_state = (
        lsh_admission_verdict(probe, bands, docs.select("doc_id"))
        .filter(F.col("max_est_jaccard") >= CURATION_NEAR_DUP_JACCARD)
        .select("doc_id")
    )
    vs_batch = (
        dedup_minhash_lsh(docs)
        .filter(F.col("est_jaccard") >= CURATION_NEAR_DUP_JACCARD)
        .select(F.col("doc_b").alias("doc_id"))
    )
    near = (
        vs_state.union(vs_batch).distinct().withColumn("near_dup", F.lit(True))
    )

    # 4. containment — additive prefix-df guard + broadcast-batch probes
    batch_sh = (
        _shingles_df(docs)
        .select("doc_id", md5_long(F.col("s")).alias("sh"))
        .distinct()
    )
    contained = _containment_stage(postings, doc_sizes, batch_sh, df_prior)

    # 5. stale — novelty vs state pioneer set + intra-batch pioneers;
    # novelty's 3-gram hashes are the containment shingle hashes
    doc_g = batch_sh.withColumnRenamed("sh", "g")
    # a gram pioneered in batch i re-appears in batch j's append: dedup
    # across partitions or the left join multiplies doc_g rows, inflating
    # n_shingles and deflating novelty for later docs
    seen = grams.select("g").distinct().withColumn("in_state", F.lit(True))
    batch_pioneer = doc_g.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    nov = (
        doc_g.join(seen, "g", "left")
        .join(batch_pioneer, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (
                    F.col("in_state").isNull()
                    & (F.col("doc_id") == F.col("first_doc"))
                ).cast("long")
            ).alias("n_pioneered"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_pioneered") / F.col("n_shingles"), 6)
        )
    )
    stale = (
        nov.filter(F.col("novelty") < CURATION_MIN_NOVELTY)
        .select("doc_id")
        .withColumn("is_stale", F.lit(True))
    )

    reason = (
        F.when(~F.col("q_ok"), "quality")
        .when(F.col("is_exact_dup").isNotNull(), "exact_dup")
        .when(F.col("near_dup").isNotNull(), "near_dup")
        .when(F.col("is_contained").isNotNull(), "contained")
        .when(F.col("is_stale").isNotNull(), "stale")
        .otherwise("ok")
    )
    return (
        docs.select("doc_id")
        .join(q, "doc_id")
        .join(exact_dup, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(contained, "doc_id", "left")
        .join(stale, "doc_id", "left")
        .select("doc_id", reason.alias("reason"))
        .withColumn("keep", F.col("reason") == "ok")
    )


def streaming_curation_cascade(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Stream JSON docs; emit per-doc five-stage curation verdicts.

    foreachBatch (like streaming_lsh_admission, and for the same reason:
    the verdicts need per-doc maxima over collisions plus rows for
    collision-free docs). Each batch probes the four state tables under
    ``state_dir``, writes its verdict rows to ``out_dir`` and appends
    its own evidence to the state — all five writes are per-batch_id
    dynamic partition overwrites, so a replayed micro-batch rewrites
    identical rows instead of double-counting state.
    """

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hashes = _read_state(
            spark, f"{state_dir}/hashes", "text_md5 string", batch_id
        )
        bands = _read_state(
            spark,
            f"{state_dir}/bands",
            "corpus_doc long, sb array<long>, band_id int, band_key long",
            batch_id,
        )
        postings = _read_state(
            spark, f"{state_dir}/postings", "doc_id long, sh long", batch_id
        )
        grams = _read_state(spark, f"{state_dir}/grams", "g long", batch_id)
        doc_sizes = _read_state(
            spark, f"{state_dir}/doc_sizes", "doc_id long, n_sh long", batch_id
        )
        dft = VersionedTable(f"{state_dir}/dfcounts")
        dfv = _df_version_before(dft, batch_id)
        df_prior = (
            dft.read(spark, dfv)
            if dfv is not None
            else _empty_state(spark, "sh long, df long")
        )

        verdicts = _cascade_verdicts(
            batch_df, hashes, bands, postings, grams, doc_sizes, df_prior
        )
        (
            verdicts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

        docs = batch_df.select("doc_id", "text")
        _append_state(
            docs.select(F.md5("text").alias("text_md5")).distinct(),
            f"{state_dir}/hashes",
            batch_id,
        )
        _append_state(
            probe_bands(docs).select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("sig").alias("sb"),
                "band_id",
                "band_key",
            ),
            f"{state_dir}/bands",
            batch_id,
        )
        batch_sh = (
            _shingles_df(docs)
            .select("doc_id", md5_long(F.col("s")).alias("sh"))
            .distinct()
            .localCheckpoint()  # feeds postings, doc_sizes, grams AND the df merge
        )
        _append_state(batch_sh, f"{state_dir}/postings", batch_id)
        _append_state(
            batch_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")),
            f"{state_dir}/doc_sizes",
            batch_id,
        )
        _append_state(
            batch_sh.select(F.col("sh").alias("g")).distinct(),
            f"{state_dir}/grams",
            batch_id,
        )
        # additive df maintenance, LAST and guarded: merge_aggregate is
        # NOT idempotent (re-adding double-counts), so a replay whose id
        # does not exceed the recorded high-water mark skips the merge —
        # its verdicts above already read the versioned pre-batch snapshot.
        if not dft.batch_applied(DF_BATCH_KEY, batch_id):
            dft.merge_aggregate(
                batch_sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")),
                keys=["sh"],
                sum_cols=["df"],
                meta={DF_BATCH_KEY: batch_id},
            )

    return start_available_now(
        _file_stream(spark, source_dir, DOC_SCHEMA), _one_batch, checkpoint_dir
    )
