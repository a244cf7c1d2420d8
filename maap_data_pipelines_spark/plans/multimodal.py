"""Registered multimodal plans.

All keys are fully oracle-checked. ``media_features`` exercises the real
mapInPandas binary-decode plumbing with the stubbed codec; under the
ASCII byte==char stub identity the byte histogram IS SQL-expressible, so
it registers the exploded exact-integer rendering (doc_id, media_type,
bucket, n_bucket_bytes, weight_micro) — flat integers the driver can
value-hash (array<double> outputs crash its pandas canonicalizer). The
array-valued feature API (extract_features) remains for callers and is
pinned by tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    MEDIA_DEDUP_EXACT_SQL,
    MEDIA_SCENE_CUTS_SQL,
    MEDIA_PHASH_CLUSTERS_SQL,
    MEDIA_PHASH_DEDUP_SQL,
    media_phash_clusters as op_media_phash_clusters,
    media_scene_cuts as op_media_scene_cuts,
    media_dedup_exact as op_media_dedup_exact,
    media_phash_dedup,
    AUDIO_HOP_BYTES,
    AUDIO_WINDOW_BYTES,
    FEATURE_DIM,
    FEATURE_WEIGHT_MICRO,
    FRAME_BYTES,
    FRAME_SAMPLE_EVERY,
    RESIZE_FACTOR,
    audio_windows,
    extract_feature_histogram,
    frame_sample,
    make_media_df,
    media_metadata_summary,
    resize_media,
)
from ..sources.catalog import read_table


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return media_metadata_summary(make_media_df(docs))


MEDIA_METADATA_SQL = """
WITH media AS (
  SELECT doc_id,
         CASE (doc_id % 3) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST((doc_id % 16 + 1) * 64 AS INT) AS width,
         CAST((doc_id % 9 + 1) * 64 AS INT) AS height,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
)
SELECT media_type,
       COUNT(*) AS n_media,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MAX(width) AS max_width,
       MAX(height) AS max_height
FROM media
GROUP BY media_type
"""


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return extract_feature_histogram(make_media_df(docs), allow_stub=True)


# Payloads are the documents' UTF-8 bytes and the corpus is ASCII, so the
# byte histogram is the codepoint%16 histogram over chars; weight_micro
# uses truncating integer division on non-negative operands (portable).
MEDIA_FEATURES_SQL = f"""
WITH m AS (
  SELECT doc_id,
         CASE (doc_id % 3) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         text, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 1
),
b AS (
  SELECT doc_id, media_type, n,
         ascii(substring(text, CAST(p AS INT), 1)) % {FEATURE_DIM} AS bucket
  FROM m, UNNEST(generate_series(1, CAST(n AS INT))) AS g(p)
)
SELECT doc_id, media_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_bucket_bytes,
       CAST(COUNT(*) * {FEATURE_WEIGHT_MICRO} // MAX(n) AS BIGINT) AS weight_micro
FROM b
GROUP BY doc_id, media_type, bucket
"""


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return frame_sample(make_media_df(docs))


# Payloads are the UTF-8 text bytes and the corpus is ASCII, so a byte
# frame is a char substring and the byte checksum is the codepoint sum.
MEDIA_FRAME_SAMPLE_SQL = f"""
WITH m AS (SELECT doc_id, text, length(text) AS n FROM documents),
f AS (
  SELECT doc_id, k AS frame_idx,
         substring(text, CAST(k * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES}) AS frame
  FROM m, UNNEST(range(0, CAST(ceil(n / {FRAME_BYTES}.0) AS BIGINT))) AS t(k)
  WHERE k % {FRAME_SAMPLE_EVERY} = 0
)
SELECT doc_id, frame_idx,
       CAST(length(frame) AS BIGINT) AS n_frame_bytes,
       CAST(list_sum(list_transform(range(1, length(frame) + 1),
                                    i -> ord(substring(frame, CAST(i AS INT), 1))))
            AS BIGINT) AS checksum
FROM f
"""


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return resize_media(make_media_df(docs))


# Stub resample keeps chars at positions 1, 1+F, 1+2F, ... (ASCII byte ==
# char, so checksum is the codepoint sum over the kept positions).
MEDIA_RESIZE_SQL = f"""
SELECT doc_id,
       CAST((doc_id % 16 + 1) * 64 AS INT) // {RESIZE_FACTOR} AS new_width,
       CAST((doc_id % 9 + 1) * 64 AS INT) // {RESIZE_FACTOR} AS new_height,
       CAST(ceil(length(text) / {RESIZE_FACTOR}.0) AS BIGINT) AS n_resized_bytes,
       CAST(list_sum(list_transform(range(1, length(text) + 1, {RESIZE_FACTOR}),
                                    i -> ord(substring(text, CAST(i AS INT), 1))))
            AS BIGINT) AS resized_checksum
FROM documents
"""


def media_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return audio_windows(make_media_df(docs))


# Overlapping windows: window k = chars [k*hop+1, k*hop+window]; only
# complete windows emitted ((len-window)//hop + 1 of them).
MEDIA_AUDIO_WINDOWS_SQL = f"""
WITH m AS (SELECT doc_id, text, length(text) AS n FROM documents),
w AS (
  SELECT doc_id, k AS window_idx,
         substring(text, CAST(k * {AUDIO_HOP_BYTES} + 1 AS INT), {AUDIO_WINDOW_BYTES}) AS win
  FROM m, UNNEST(range(0,
      CASE WHEN n >= {AUDIO_WINDOW_BYTES}
           THEN (n - {AUDIO_WINDOW_BYTES}) // {AUDIO_HOP_BYTES} + 1
           ELSE 0 END)) AS t(k)
)
SELECT doc_id, window_idx,
       CAST(list_sum(list_transform(range(1, {AUDIO_WINDOW_BYTES} + 1),
                                    i -> ord(substring(win, CAST(i AS INT), 1))))
            AS BIGINT) AS window_sum,
       CAST(list_max(list_transform(range(1, {AUDIO_WINDOW_BYTES} + 1),
                                    i -> ord(substring(win, CAST(i AS INT), 1))))
            AS BIGINT) AS window_peak
FROM w
"""


def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return media_phash_dedup(make_media_df(docs))


def media_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return op_media_phash_clusters(make_media_df(docs))


def media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return op_media_dedup_exact(make_media_df(docs))


QUIET_MAX_SUM = 11_900  # ~p10 of window sums on the stub signal


def silence_runs_from_windows(
    windows: DataFrame, quiet_max_sum: int = QUIET_MAX_SUM
) -> DataFrame:
    """The silence-run RLE over ANY audio-window frame.

    Factored from :func:`media_silence_runs` so the same gaps-and-islands
    machinery runs on the stub byte stream (the registered/oracled
    contract) AND on real decoded PCM windows
    (``audio_windows(..., decode=True)`` — the quiet threshold then reads
    L1 sample magnitude; see tests/test_multimodal.py's real-WAV fixture).
    """
    from pyspark.sql.window import Window

    w = windows.filter(F.col("window_sum") < quiet_max_sum)
    grp = w.withColumn(
        "grp",
        F.col("window_idx")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("window_idx")
        ),
    )
    return (
        grp.groupBy("doc_id", "grp")
        .agg(
            F.min("window_idx").alias("run_start"),
            F.count(F.lit(1)).alias("run_len"),
            F.min("window_sum").alias("run_min_sum"),
        )
        .filter(F.col("run_len") >= 2)
        .select("doc_id", "run_start", "run_len", "run_min_sum")
    )


def media_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-run detection over the audio window stream — the
    GAPS-AND-ISLANDS sequence primitive (run-length encoding via the
    index-minus-rank trick) the multimodal tier was missing: consecutive
    quiet windows (window_sum below the fixed threshold) group into runs
    by ``window_idx − row_number()`` within (doc, quiet); runs of >= 2
    windows surface as (doc_id, run_start, run_len, run_min_sum) — the
    segments an audio pipeline would trim before feature extraction.
    On the stub signal "quiet" is a low byte-sum window (space-heavy);
    on real audio the same RLE runs over decoded PCM magnitude
    (:func:`silence_runs_from_windows`). Windows are doc-partitioned;
    the run grouping adds one window function and one hash-agg —
    fan-out-bounded throughout.
    """
    from ..operators.multimodal import audio_windows
    from ..sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    return silence_runs_from_windows(audio_windows(make_media_df(docs)))


MEDIA_SILENCE_RUNS_SQL = f"""
WITH aw AS ({MEDIA_AUDIO_WINDOWS_SQL}),
quiet AS (
  SELECT doc_id, window_idx, window_sum FROM aw
  WHERE window_sum < {QUIET_MAX_SUM}
),
grp AS (
  SELECT doc_id, window_idx, window_sum,
         window_idx - ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY window_idx) AS g
  FROM quiet
)
SELECT doc_id,
       CAST(MIN(window_idx) AS BIGINT) AS run_start,
       CAST(COUNT(*) AS BIGINT) AS run_len,
       CAST(MIN(window_sum) AS BIGINT) AS run_min_sum
FROM grp GROUP BY doc_id, g
HAVING COUNT(*) >= 2
"""


def media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return op_media_scene_cuts(make_media_df(docs))


QUERIES = {
    "media_metadata": media_metadata,
    "media_phash_dedup": media_phash,
    "media_features": media_features,
    "media_frame_sample": media_frame_sample,
    "media_resize": media_resize,
    "media_audio_windows": media_audio_windows,
    "media_silence_runs": media_silence_runs,
    "media_scene_cuts": media_scene_cuts,
    "media_dedup_exact": media_dedup_exact,
    "media_phash_clusters": media_phash_clusters,
}

ORACLES = {
    "media_metadata": MEDIA_METADATA_SQL,
    "media_features": MEDIA_FEATURES_SQL,
    "media_frame_sample": MEDIA_FRAME_SAMPLE_SQL,
    "media_resize": MEDIA_RESIZE_SQL,
    "media_audio_windows": MEDIA_AUDIO_WINDOWS_SQL,
    "media_silence_runs": MEDIA_SILENCE_RUNS_SQL,
    "media_scene_cuts": MEDIA_SCENE_CUTS_SQL,
    "media_phash_dedup": MEDIA_PHASH_DEDUP_SQL,
    "media_dedup_exact": MEDIA_DEDUP_EXACT_SQL,
    "media_phash_clusters": MEDIA_PHASH_CLUSTERS_SQL,
}
