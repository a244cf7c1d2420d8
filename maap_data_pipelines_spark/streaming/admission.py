"""Streaming near-duplicate admission: LSH index probing per micro-batch.

The production ingest topology for training-data pipelines: documents
arrive on a stream, and each micro-batch must be admitted against the
ALREADY-INGESTED corpus before it lands — exact replays are cheap to
catch (``rollup.streaming_dedup``), but near-duplicates need the MinHash
band index. Signatures are doc-local (hash-only, no corpus statistics),
so a micro-batch banded in isolation is bit-identical to the same docs
banded inside the full corpus — which is what makes the stream twin
EXACTLY equivalent to the batch operator
(:func:`...operators.dedup.dedup_minhash_incremental`); the test pins
stream-out == batch-out row-for-row.

Shape per micro-batch: one equi-join of batch-bands against the static
index (never a corpus self-join), one per-doc aggregate, one append.
State lives in the INDEX (a table a deployment appends admitted docs
to), not in Spark streaming state — so nothing here grows with stream
lifetime, and a replayed micro-batch is idempotent at the sink level
(same doc_id rows; pair with the ``VersionedTable.batch_applied``
batch-id guard for exactly-once sinks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.dedup import lsh_admission_verdict, probe_bands
from ..sinks import start_available_now
from .rollup import _file_stream

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)


def build_band_index(corpus_docs: DataFrame) -> DataFrame:
    """The persisted corpus band index: (corpus_doc, sb, band_id, band_key).

    Built once (or appended to as batches admit); every micro-batch
    probes it. localCheckpoint so the signature pipeline is not replayed
    per micro-batch.
    """
    return (
        probe_bands(corpus_docs)
        .select(
            F.col("doc_id").alias("corpus_doc"),
            F.col("sig").alias("sb"),
            "band_id",
            "band_key",
        )
        .localCheckpoint()
    )


def streaming_lsh_admission(
    spark: SparkSession,
    source_dir: str,
    index: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Stream JSON docs from ``source_dir``; append per-doc admission
    verdicts (doc_id, n_candidates, max_est_jaccard, admitted) to
    ``out_dir`` as parquet.

    foreachBatch rather than a stream-static join + stateful aggregate:
    the verdict needs a per-doc MAX over collisions and a row for
    zero-collision docs, which in pure streaming would be a stateful
    outer aggregation with watermark latency — while the batch kernel
    already expresses it exactly, runs bounded per micro-batch, and
    keeps the stream and batch paths one implementation.
    """

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        probe = probe_bands(batch_df).select(
            F.col("doc_id").alias("batch_doc"),
            F.col("sig").alias("sa"),
            "band_id",
            "band_key",
        )
        batch_docs = batch_df.select("doc_id").distinct()
        verdict = lsh_admission_verdict(probe, index, batch_docs)
        # replay-idempotent sink: each micro-batch owns its batch_id
        # partition and OVERWRITES it (dynamic partition overwrite), so a
        # replayed batch — checkpoint recovery, at-least-once delivery —
        # rewrites identical rows instead of appending duplicates
        (
            verdict.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return start_available_now(
        _file_stream(spark, source_dir, DOC_SCHEMA), _admit, checkpoint_dir
    )
