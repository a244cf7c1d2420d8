"""Corpus-curation operators: decontamination, repetition, PII, mixture.

The four signals every LLM training-data pipeline computes before a corpus
ships, complementing operators/text.py (quality) and operators/dedup.py
(duplicates):

- :func:`decontaminate` — benchmark-overlap detection (the n-gram membership
  join used to keep eval sets out of training data);
- :func:`repetition_stats` — Gopher-style within-document repetition
  signals (duplicate-word mass, dominant-bigram share);
- :func:`pii_scan` — regex PII detection + redaction with an auditable
  count per category;
- :func:`domain_mixture` — per-source token accounting vs a target mixture,
  yielding the sampling factor each domain needs.

All pure column expressions (JVM codegen, zero UDFs), each with a
structurally identical DuckDB rendering. Floats only ever come from one
division over exact integer counts, rounded to 6dp on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..functions.joins import corpus_rows, scale_pin
from .dedup import _shingle_index_h12
from .text import ngram_lists_sql, ngram_windows

# ---------------------------------------------------------------------------
# Decontamination: n-gram overlap against a held-out benchmark slice.
# ---------------------------------------------------------------------------

DECON_NGRAM = 5
# Deterministic eval slice: every 11th doc plays the "benchmark" role so the
# check is self-contained on the test tables (no external eval file in env).
DECON_EVAL_MOD = 11


def _shingle_rows(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) rows: :func:`ngram_windows` exploded, then
    concat — concat runs codegen'd AFTER the explode. Against a
    ``transform`` lambda building the same rows (sf0.1, 5,000 docs,
    local[4], medians of 10 interleaved rounds): 0.41 vs 0.53 s at
    n = 5, 0.66 vs 0.61 s at n = 10."""
    windows = ngram_windows(F.split(F.col("text"), " "), n)
    s = docs.select("doc_id", F.explode(windows).alias("s"))
    return s.select("doc_id", F.concat_ws(" ", "s.*").alias("shingle"))


def _shingles_sql(n: int) -> str:
    """DuckDB twin of ``_shingle_rows(docs, n)`` with the shingle hashed:
    (doc_id, start, g), ``start`` the 1-based word position."""
    return f"""
  SELECT doc_id, generate_subscripts(gs, 1) AS start,
         {md5_long_sql("array_to_string(unnest(gs), ' ')")} AS g
  FROM (SELECT doc_id, {ngram_lists_sql("ws", n)} AS gs
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
"""


def decontaminate(docs: DataFrame) -> DataFrame:
    """Training docs contaminated by benchmark n-grams (membership join).

    Eval slice = ``doc_id % DECON_EVAL_MOD == 0``; a training doc is
    contaminated when any of its 5-word shingles appears in any eval doc.
    Output per contaminated doc: how many of its shingle occurrences hit
    (``n_overlap``) and how many distinct eval docs it collides with
    (``n_eval_docs``).

    Scale shape: this is the canonical inverted-index equi-join — the eval
    side collapses to DISTINCT (shingle-hash, eval-doc) pairs first, and
    the join key is a 60-bit md5 of the shingle, so the shuffle carries
    8-byte keys instead of repeated 5-word strings. The eval set is
    typically tiny vs the corpus (benchmarks are MBs, corpora are TBs) —
    at scale Spark's AQE broadcasts it; the training side streams through
    map-side without a shuffle at all.

    Reference analogue: none (the reference pipeline has no text ops);
    this is the standard eval-decontamination pass (GPT-3 appendix C
    style) re-expressed as a DataFrame join.
    """
    shingled = _shingle_rows(docs, DECON_NGRAM).select(
        "doc_id", md5_long(F.col("shingle")).alias("g")
    )
    ev = (
        shingled.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), "g")
        .distinct()
    )
    tr = shingled.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return (
        tr.join(ev, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


DECONTAMINATE_SQL = f"""
WITH sh AS ({_shingles_sql(DECON_NGRAM)}),
ev AS (
  SELECT DISTINCT doc_id AS eval_doc_id, g FROM sh
  WHERE doc_id % {DECON_EVAL_MOD} = 0
),
tr AS (SELECT doc_id, g FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0)
SELECT tr.doc_id,
       COUNT(*) AS n_overlap,
       COUNT(DISTINCT ev.eval_doc_id) AS n_eval_docs
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
"""

# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style signals).
# ---------------------------------------------------------------------------

REP_DUP_WORD_MAX = 0.9  # fraction of word mass in repeated words
REP_TOP_BIGRAM_MAX = 0.08  # share of bigram slots taken by the top bigram


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals + keep flag per document.

    - ``dup_word_frac``: fraction of the document's word occurrences whose
      word appears more than once (mass of repeated words);
    - ``top_bigram_frac``: share of adjacent-bigram slots occupied by the
      single most frequent bigram;
    - ``keep`` fails when either exceeds its threshold. The bigram rule
      only applies when the top bigram actually repeats (cnt > 1) — in a
      short all-distinct doc the top bigram occupies 1/(n-1) of the slots
      without being repetition.

    Scale shape: two hash-aggregations keyed by (doc_id, token) — map-side
    combine collapses each partition's counts before the shuffle, and the
    second-stage groupBy(doc_id) rides the same hash partitioning. The
    per-doc state is bounded by distinct tokens per document, never corpus
    size. The word side and bigram side join on doc_id (both already
    shuffled by a doc_id-prefixed key, so AQE coalesces them cheaply).
    """
    words = F.split(F.col("text"), " ")
    wc = (
        docs.select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    word_side = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("n_dup_mass"),
    )
    bc = (
        _shingle_rows(docs, 2)
        .groupBy("doc_id", F.col("shingle").alias("bg"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bigram_side = bc.groupBy("doc_id").agg(
        F.max("cnt").alias("top_bigram_cnt"), F.sum("cnt").alias("n_bigrams")
    )
    dup_frac = F.round(F.col("n_dup_mass") / F.col("n_words"), 6)
    top_frac = F.round(F.col("top_bigram_cnt") / F.col("n_bigrams"), 6)
    return (
        word_side.join(bigram_side, "doc_id")
        .select(
            "doc_id",
            "n_words",
            dup_frac.alias("dup_word_frac"),
            "top_bigram_cnt",
            top_frac.alias("top_bigram_frac"),
        )
        .withColumn(
            "keep",
            (F.col("dup_word_frac") <= REP_DUP_WORD_MAX)
            & (
                (F.col("top_bigram_cnt") == 1)
                | (F.col("top_bigram_frac") <= REP_TOP_BIGRAM_MAX)
            ),
        )
    )


REPETITION_STATS_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
wc AS (
  SELECT doc_id, wd, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(ws) AS wd FROM w) GROUP BY 1, 2
),
word_side AS (
  SELECT doc_id, SUM(cnt) AS n_words,
         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS n_dup_mass
  FROM wc GROUP BY 1
),
bc AS (
  SELECT doc_id, bg, COUNT(*) AS cnt
  FROM (SELECT doc_id,
               array_to_string(unnest({ngram_lists_sql("ws", 2)}), ' ') AS bg
        FROM w)
  GROUP BY 1, 2
),
bigram_side AS (
  SELECT doc_id, MAX(cnt) AS top_bigram_cnt, SUM(cnt) AS n_bigrams
  FROM bc GROUP BY 1
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(n_dup_mass / n_words, 6) AS dup_word_frac,
       CAST(top_bigram_cnt AS BIGINT) AS top_bigram_cnt,
       ROUND(top_bigram_cnt / n_bigrams, 6) AS top_bigram_frac,
       (ROUND(n_dup_mass / n_words, 6) <= {REP_DUP_WORD_MAX}
         AND (top_bigram_cnt = 1
              OR ROUND(top_bigram_cnt / n_bigrams, 6) <= {REP_TOP_BIGRAM_MAX})) AS keep
FROM word_side JOIN bigram_side USING (doc_id)
"""

# ---------------------------------------------------------------------------
# PII scan + redaction over a deterministically derived contact column.
# ---------------------------------------------------------------------------

# The synthetic corpus has no real PII, so — same pattern as the derived STAC
# asset catalog (plans/stac.py) — both engines append identical synthetic
# contact strings first, then the operator under test detects/redacts them.
# Spark regexp_* is Java regex, DuckDB is RE2: patterns below stay inside the
# common subset (char classes, +, literal escapes).
PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
PII_PHONE_RE = "\\+1-555-[0-9]+"


def _with_contacts(docs: DataFrame) -> DataFrame:
    email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(" reach u"), F.col("doc_id").cast("string"), F.lit("@example.com")
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, phone).alias("raw_text")
    )


def pii_scan(docs: DataFrame) -> DataFrame:
    """Detect + redact email/phone PII; emit auditable per-doc counts.

    Output: per-doc email/phone hit counts, a ``has_pii`` flag, and the
    md5 of the redacted text (emails → ``<EMAIL>``, phones → ``<PHONE>``)
    so the redaction itself is value-checked without shipping wide text
    through the comparator.

    Scale shape: one narrow projection — regex count + regexp_replace are
    whole-stage-codegen'd per row, no shuffle at all until the driver's
    display. At 100 TB this runs at scan speed; the md5 keeps the output
    row fixed-width.
    """
    t = _with_contacts(docs)
    n_emails = F.size(
        F.regexp_extract_all(F.col("raw_text"), F.lit(PII_EMAIL_RE), 0)
    ).cast("long")
    n_phones = F.size(
        F.regexp_extract_all(F.col("raw_text"), F.lit(PII_PHONE_RE), 0)
    ).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("raw_text"), PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        ((n_emails > 0) | (n_phones > 0)).alias("has_pii"),
        F.md5(redacted).alias("redacted_md5"),
    )


_PII_RAW = (
    "text || (CASE WHEN doc_id % 3 = 0 "
    "THEN ' reach u' || doc_id || '@example.com' ELSE '' END)"
    " || (CASE WHEN doc_id % 5 = 0 "
    "THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "ELSE '' END)"
)

PII_SCAN_SQL = f"""
WITH t AS (SELECT doc_id, {_PII_RAW} AS raw_text FROM documents)
SELECT doc_id,
       len(regexp_extract_all(raw_text, '{PII_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(raw_text, '{PII_PHONE_RE}')) AS n_phones,
       (len(regexp_extract_all(raw_text, '{PII_EMAIL_RE}')) > 0
         OR len(regexp_extract_all(raw_text, '{PII_PHONE_RE}')) > 0) AS has_pii,
       md5(regexp_replace(regexp_replace(raw_text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM t
"""

# ---------------------------------------------------------------------------
# Domain mixture: per-source token accounting vs a target mixture.
# ---------------------------------------------------------------------------


def domain_mixture(docs: DataFrame) -> DataFrame:
    """Per-source token share vs a uniform target mixture → sampling factor.

    For each source: document count, token count, observed token share,
    and the sampling factor (``target_share / observed_share``) a sampler
    must apply to hit the target mixture (>1 = upsample/epochs, <1 =
    downsample). Target here is uniform across sources; a weights table
    would broadcast-join in the same plan shape.

    Scale shape: one hash-agg keyed by source (map-side combine → ~#sources
    rows), then the corpus total joins back as a single-row broadcast.
    Exactness: shares are one division over exact int64 token counts; the
    sampling factor multiplies integers before its single division so both
    engines round the same quotient.
    """
    words = F.split(F.col("text"), " ")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words).cast("long")).alias("n_tokens"),
    )
    totals = per_src.select(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.round(F.col("n_tokens") / F.col("total_tokens"), 6)
    # target/observed = (total/n_sources)/n_tokens — integer numerator first
    factor = F.round(F.col("total_tokens") / (F.col("n_sources") * F.col("n_tokens")), 6)
    return (
        per_src.join(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            share.alias("token_share"),
            factor.alias("sampling_factor"),
        )
    )


DOMAIN_MIXTURE_SQL = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_sources
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       ROUND(n_tokens / total_tokens, 6) AS token_share,
       ROUND(total_tokens / (n_sources * n_tokens), 6) AS sampling_factor
FROM per_src, tot
"""

REBALANCE_SCALE = 1_000_000


def domain_rebalance(docs: DataFrame) -> DataFrame:
    """Materialize the target mixture: per-doc copy count + exploded copies.

    Applies :func:`domain_mixture`'s sampling factor deterministically:
    every doc gets ``floor(factor)`` guaranteed copies (epochs) plus one
    more iff its stable hash falls under the fractional part — so the
    materialized corpus hits the target mixture in expectation with ZERO
    RNG: reruns, retries, and backfills produce byte-identical output
    (the property ``df.sample`` does not have). Output is one row per
    materialized copy (doc_id, source, copy_idx, n_copies); docs hashed
    out of a downsampled source emit no rows.

    Scale shape: the per-source factor table is tiny (broadcast); the
    explode is ``sequence(1, n_copies)`` — fan-out bounded by
    ceil(factor), and the decision is a pure column hash at scan speed.
    """
    factors = domain_mixture(docs).select("source", "sampling_factor")
    base = F.floor(F.col("sampling_factor")).cast("long")
    frac = F.col("sampling_factor") - base
    extra = (
        md5_long(F.concat(F.lit("rebal"), F.col("doc_id").cast("string")))
        % REBALANCE_SCALE
        < frac * REBALANCE_SCALE
    ).cast("long")
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(factors), "source")
        .withColumn("n_copies", base + extra)
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "n_copies",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias(
                "copy_idx"
            ),
        )
    )


DOMAIN_REBALANCE_SQL = f"""
WITH mix AS ({DOMAIN_MIXTURE_SQL}),
d AS (
  SELECT doc_id, documents.source, sampling_factor,
         CAST(FLOOR(sampling_factor) AS BIGINT)
         + CASE WHEN ({md5_long_sql("'rebal' || CAST(doc_id AS VARCHAR)")}
                      % {REBALANCE_SCALE})
                < (sampling_factor - FLOOR(sampling_factor)) * {REBALANCE_SCALE}
           THEN 1 ELSE 0 END AS n_copies
  FROM documents JOIN mix ON documents.source = mix.source
)
SELECT doc_id, source, n_copies, copy_idx
FROM d, UNNEST(range(1, n_copies + 1)) AS t(copy_idx)
WHERE n_copies >= 1
"""

# ---------------------------------------------------------------------------
# Cross-document duplicated-span mass (suffix-dedup signal).
# ---------------------------------------------------------------------------

DUP_SPAN_NGRAM = 10


def dup_ngram_mass(docs: DataFrame) -> DataFrame:
    """Per-doc mass of 10-gram spans that also appear in OTHER documents.

    The practical distributed stand-in for suffix-array substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): a long shingle shared across documents marks boilerplate /
    copied spans. Within-doc repetition is deliberately excluded (that is
    :func:`repetition_stats`) by counting document-frequency over
    DISTINCT (shingle, doc) pairs.

    Output per doc with >= 1 shingle: total shingle occurrences, how many
    of them lie on a cross-doc-duplicated shingle, and the mass fraction.

    Scale shape: shingle -> 8-byte md5 key immediately (narrow shuffles);
    df is a two-stage agg (distinct doc set collapses map-side); the join
    back to occurrences is an equi-join on the hash. The df side is
    vocabulary-sized, not corpus-sized. Boilerplate shingles are the skew
    hazard at web scale — AQE skew-join splits those keys.
    """
    occ = _shingle_rows(docs, DUP_SPAN_NGRAM).select(
        "doc_id", md5_long(F.col("shingle")).alias("g")
    )
    df_ = (
        occ.distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("ddf"))
    )
    # df_ is shingle-grain — same mis-broadcast hazard as
    # doc_ngram_novelty's pioneer join (r11): merge-pin past the gate
    return (
        occ.join(scale_pin(df_, corpus_rows(docs)), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("ddf") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_mass", F.round(F.col("n_dup_spans") / F.col("n_spans"), 6)
        )
    )


DUP_NGRAM_MASS_SQL = f"""
WITH occ AS ({_shingles_sql(DUP_SPAN_NGRAM)}),
df AS (
  SELECT g, COUNT(*) AS ddf FROM (SELECT DISTINCT doc_id, g FROM occ) GROUP BY g
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       ROUND(CAST(SUM(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             / COUNT(*), 6) AS dup_mass
FROM occ JOIN df USING (g)
GROUP BY doc_id
"""

def dup_span_removal(docs: DataFrame) -> DataFrame:
    """The removal PLAN for cross-doc duplicated spans: merged intervals.

    :func:`dup_ngram_mass` measures how much of each document sits on
    cross-doc-duplicated 10-gram spans; this emits the actionable
    artifact — per document, the MERGED word-position intervals to cut,
    under keep-one-copy semantics (the occurrence in the lowest doc_id
    holding a duplicated shingle survives; every other document's
    occurrences are scheduled for removal — deterministic, no RNG).
    Overlapping/adjacent shingle hits coalesce into maximal spans via the
    classic running-max interval merge, so a long copied paragraph comes
    out as ONE span, not 90 sliding 10-grams.

    Scale shape: shingle -> 8-byte hash immediately; (ddf, keeper) is ONE
    two-stage agg over distinct (g, doc) pairs (min-doc and count ride
    the same reduce); the join back is an equi-join on the hash; the
    interval merge is a per-doc window whose partition is bounded by doc
    length, never corpus size.

    Output: (doc_id, span_start, span_end, span_words), 1-based inclusive
    word positions.
    """
    from pyspark.sql.window import Window

    n = DUP_SPAN_NGRAM
    windows = ngram_windows(F.split(F.col("text"), " "), n)
    occ = docs.select("doc_id", F.posexplode(windows).alias("pos", "s")).select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("start"),
        md5_long(F.concat_ws(" ", "s.*")).alias("g"),
    )
    keep = (
        occ.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("ddf"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("ddf") >= 2)
    )
    rem = (
        # keep is dup-shingle-grain (corpus-scaled): merge-pin past the
        # gate, same rationale as doc_ngram_novelty (r11)
        occ.join(scale_pin(keep, corpus_rows(docs)), "g")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", "start", (F.col("start") + n - 1).alias("end"))
    )
    w = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = rem.withColumn(
        "new_grp",
        F.when(
            prev_max.isNull() | (F.col("start") > prev_max + 1), 1
        ).otherwise(0),
    ).withColumn("grp", F.sum("new_grp").over(w))
    return (
        grouped.groupBy("doc_id", "grp")
        .agg(F.min("start").alias("span_start"), F.max("end").alias("span_end"))
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
        )
    )


DUP_SPAN_REMOVAL_SQL = f"""
WITH occ AS ({_shingles_sql(DUP_SPAN_NGRAM)}),
keep AS (
  SELECT g, COUNT(*) AS ddf, MIN(doc_id) AS keeper
  FROM (SELECT DISTINCT doc_id, g FROM occ)
  GROUP BY g HAVING COUNT(*) >= 2
),
rem AS (
  SELECT doc_id, start, start + {DUP_SPAN_NGRAM - 1} AS "end"
  FROM occ JOIN keep USING (g)
  WHERE doc_id <> keeper
),
m AS (
  SELECT doc_id, start, "end",
         MAX("end") OVER (PARTITION BY doc_id ORDER BY start, "end"
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM rem
),
g2 AS (
  SELECT doc_id, start, "end",
         SUM(CASE WHEN pmax IS NULL OR start > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start, "end") AS grp
  FROM m
)
SELECT doc_id,
       MIN(start) AS span_start,
       MAX("end") AS span_end,
       MAX("end") - MIN(start) + 1 AS span_words
FROM g2
GROUP BY doc_id, grp
"""


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-and-split context-window assignment.
# ---------------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per context window


def doc_pack_assign(docs: DataFrame) -> DataFrame:
    """Assign each doc its context window under concatenate-and-split packing.

    The GPT-style pretraining layout: within a source, documents are
    concatenated in deterministic (doc_id) order and the token stream is
    cut every PACK_BUDGET tokens; a doc's pack is where its first token
    lands, and ``straddles`` marks docs crossing a cut (the ones needing
    cross-boundary attention masking). Pure window arithmetic — exact,
    reshuffle-stable, no RNG — unlike greedy bin packing, which needs
    sequential state and would serialize the corpus.

    Scale shape: one running-sum window per source partition (the same
    shape as compaction_plan's bin packing); partition size = docs per
    source. At 100 TB, sources are themselves sharded (source, shard-id)
    to bound window partitions — packing is per-shard by construction
    since shards train independently.
    """
    from pyspark.sql.window import Window

    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return (
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("cum_before", cum_before)
        .withColumn(
            "pack_id", F.floor(F.col("cum_before") / PACK_BUDGET).cast("long")
        )
        .withColumn(
            "straddles",
            F.col("cum_before") + F.col("n_tokens")
            > (F.col("pack_id") + 1) * PACK_BUDGET,
        )
    )


DOC_PACK_ASSIGN_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM t
)
SELECT doc_id, source, n_tokens, cum_before,
       cum_before // {PACK_BUDGET} AS pack_id,
       (cum_before + n_tokens) > ((cum_before // {PACK_BUDGET}) + 1) * {PACK_BUDGET}
         AS straddles
FROM c
"""

# ---------------------------------------------------------------------------
# Overlapping chunking (context-window preparation for RAG/training).
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def doc_chunks(docs: DataFrame) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks.

    Chunks start every STRIDE (=48) tokens and span up to CHUNK_TOKENS
    (=64), so consecutive chunks share CHUNK_OVERLAP (=16) tokens — the
    standard long-document windowing for retrieval/training. Start
    positions stop at ``max(n - OVERLAP, 1)`` so a tail that is entirely
    contained in the previous chunk's overlap is never emitted as its
    own chunk. The chunk text crosses the comparator as an md5 so rows
    stay fixed-width.

    Scale shape: sequence + explode (fan-out = n_tokens/STRIDE, linear
    in document size) and per-row slicing — no shuffle at all; runs at
    scan speed like pii_scan.
    """
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("long")
    starts = F.sequence(
        F.lit(1).cast("long"),
        F.greatest(n - CHUNK_OVERLAP, F.lit(1).cast("long")),
        F.lit(CHUNK_STRIDE).cast("long"),
    )
    exploded = docs.select(
        "doc_id", words.alias("ws"), F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.slice(F.col("ws"), F.col("start"), CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "start",
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


DOC_CHUNKS_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
st AS (
  SELECT doc_id, ws,
         generate_subscripts(starts, 1) - 1 AS chunk_idx,
         unnest(starts) AS start
  FROM (SELECT doc_id, ws,
               range(1, GREATEST(len(ws) - {CHUNK_OVERLAP}, 1) + 1,
                     {CHUNK_STRIDE}) AS starts
        FROM w)
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start,
       CAST(len(ws[start:start + {CHUNK_TOKENS - 1}]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(ws[start:start + {CHUNK_TOKENS - 1}], ' ')) AS chunk_md5
FROM st
"""

# ---------------------------------------------------------------------------
# Token-length histogram (power-of-two buckets, integer-exact).
# ---------------------------------------------------------------------------


def doc_length_histogram(docs: DataFrame) -> DataFrame:
    """Doc-length distribution in power-of-two buckets.

    Bucket = bit length of the word count (computed as the LENGTH of the
    binary string — pure integer/string ops, no float log2 whose
    last-ulp behavior could differ between engines). One hash-agg over
    ~60 tiny groups; the monitoring table behind batch-size and packing
    decisions.
    """
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    bucket = F.length(F.bin(n_words)).cast("long")
    return (
        docs.select(n_words.alias("n_words"), bucket.alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_words").alias("min_words"),
            F.max("n_words").alias("max_words"),
            F.sum("n_words").alias("total_words"),
        )
    )


DOC_LENGTH_HISTOGRAM_SQL = """
WITH t AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents
)
SELECT CAST(length(bin(n_words)) AS BIGINT) AS len_bucket,
       COUNT(*) AS n_docs,
       MIN(n_words) AS min_words,
       MAX(n_words) AS max_words,
       CAST(SUM(n_words) AS BIGINT) AS total_words
FROM t
GROUP BY 1
"""

def source_lang_drift(docs: DataFrame) -> DataFrame:
    """Chi-square contingency: is language distribution independent of source?

    The drift/contamination monitor for a multi-source corpus — a source
    whose language mix diverges from the corpus-wide mix (large chi2
    contribution) changed collection behavior or picked up contamination.
    Per (source, lang) cell: observed count, expected count in micro-units
    (r*c*1e6 div n — exact integer), and the cell's chi2 contribution
    ``(o*n - r*c)^2 / (n*r*c)`` whose numerator and denominator are exact
    int64 products (one float division + round(6) at the end, identical
    in both engines).

    Shape: one contingency aggregation (cell count = |sources| x |langs|,
    independent of corpus size) + broadcast row/col/grand totals.
    """
    cells = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    row = docs.groupBy("source").agg(F.count(F.lit(1)).alias("r"))
    col = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    n = docs.groupBy().agg(F.count(F.lit(1)).alias("n"))
    num = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    return (
        cells.join(F.broadcast(row), "source")
        .join(F.broadcast(col), "lang")
        .join(F.broadcast(n))
        .select(
            "source",
            "lang",
            F.col("o").alias("observed"),
            F.expr("r * c * 1000000 div n").alias("expected_e6"),
            F.round(
                (num * num) / (F.col("n") * F.col("r") * F.col("c")), 6
            ).alias("chi2_term"),
        )
    )


SOURCE_LANG_DRIFT_SQL = """
WITH cells AS (SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2),
row_t AS (SELECT source, COUNT(*) AS r FROM documents GROUP BY 1),
col_t AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM documents)
SELECT source, lang, o AS observed,
       (r * c * 1000000) // n AS expected_e6,
       ROUND(((o * n - r * c) * (o * n - r * c)) / (n * r * c), 6) AS chi2_term
FROM cells JOIN row_t USING (source) JOIN col_t USING (lang) CROSS JOIN tot
"""


# Deterministic 80/10/10 train/val/test split: the bucket is a pure hash
# of the document id, so re-running, resharding or appending other docs
# never moves an existing doc between splits. plans/etl.doc_split_assign
# and doc_split_js_divergence assign with these; split_leakage audits them.
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test gets the remainder


def split_bucket() -> Column:
    """The doc's split bucket in [0, 100): md5 of ``'split:' || doc_id``."""
    return F.pmod(md5_long(F.concat(F.lit("split:"), F.col("doc_id"))), F.lit(100))


def split_name(bucket: Column) -> Column:
    """'train' / 'val' / 'test' for a :func:`split_bucket` value."""
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


_split_hash = md5_long_sql("'split:' || doc_id")
SPLIT_BUCKET_SQL = f"(({_split_hash}) % 100 + 100) % 100"
SPLIT_NAME_SQL = f"""CASE WHEN {SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END"""


def split_leakage(docs: DataFrame) -> DataFrame:
    """Train→eval n-gram leakage audit over the deterministic splits.

    Composes the split assignment (:func:`split_bucket`, the one
    ``doc_split_assign`` uses) with the decontamination shingle machinery:
    for every val/test document, how many of its 5-gram occurrences also
    appear in ANY train document. A sound split pipeline must measure
    this — hash-assigning documents prevents doc-level contamination but
    near-duplicate documents still leak content ACROSS splits, which
    inflates eval scores; this query quantifies that residual leakage
    (feed high-leak_ratio docs back to the near-dup dedup pass).

    Scale shape: identical to :func:`decontaminate` — the train side
    collapses to DISTINCT 60-bit shingle hashes (vocabulary-bounded),
    eval occurrences stream through a LEFT equi-join on the hash, one
    aggregation per eval doc. No all-pairs anything.

    Output per val/test doc: (doc_id, split, n_ngrams, n_leaked,
    leak_ratio).
    """
    sh = _shingle_rows(docs, DECON_NGRAM).select(
        "doc_id",
        md5_long(F.col("shingle")).alias("g"),
        split_name(split_bucket()).alias("split"),
    )
    train_g = (
        sh.filter(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = sh.filter(F.col("split") != "train").select("doc_id", "g", "split")
    return (
        ev.join(train_g, "g", "left")
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_leaked"),
        )
        .withColumn(
            "leak_ratio", F.round(F.col("n_leaked") / F.col("n_ngrams"), 6)
        )
    )


SPLIT_LEAKAGE_SQL = f"""
WITH sh AS ({_shingles_sql(DECON_NGRAM)}),
lab AS (SELECT doc_id, g, {SPLIT_NAME_SQL} AS split FROM sh),
tr AS (SELECT DISTINCT g, 1 AS hit FROM lab WHERE split = 'train'),
ev AS (SELECT doc_id, g, split FROM lab WHERE split <> 'train')
SELECT doc_id, split, COUNT(*) AS n_ngrams,
       CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_leaked,
       ROUND(CAST(SUM(COALESCE(hit, 0)) AS BIGINT) / COUNT(*), 6) AS leak_ratio
FROM ev LEFT JOIN tr USING (g)
GROUP BY doc_id, split
"""


QUERY_SQL = {
    "split_leakage": SPLIT_LEAKAGE_SQL,
    "dup_span_removal": DUP_SPAN_REMOVAL_SQL,
    "decontaminate": DECONTAMINATE_SQL,
    "source_lang_drift": SOURCE_LANG_DRIFT_SQL,
    "repetition_stats": REPETITION_STATS_SQL,
    "pii_scan": PII_SCAN_SQL,
    "domain_mixture": DOMAIN_MIXTURE_SQL,
    "dup_ngram_mass": DUP_NGRAM_MASS_SQL,
    "doc_pack_assign": DOC_PACK_ASSIGN_SQL,
    "doc_length_histogram": DOC_LENGTH_HISTOGRAM_SQL,
    "domain_rebalance": DOMAIN_REBALANCE_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
}


# ---------------------------------------------------------------------------
# DSIR-style importance-weighted data selection (hashed n-gram features).
# ---------------------------------------------------------------------------

DSIR_TARGET_SRC = "src0"  # the "looks like this" target distribution
DSIR_BUCKETS = 1024  # hashed feature space (unigrams + bigrams)
DSIR_SELECT_K = 50  # raw docs promoted into the target-like subset


def _dsir_feats_scores(docs: DataFrame):
    """(feats, scores): hashed feature rows + the B-row micro-unit score
    table — the shared front half of dsir_importance / dsir_auc."""
    words = F.split(F.lower(F.col("text")), " ")
    uni = docs.select(
        "doc_id",
        "source",
        F.explode(words).alias("tok"),
    ).select("doc_id", "source", (md5_long(F.col("tok")) % DSIR_BUCKETS).alias("g"))
    bi = (
        docs.select("doc_id", "source", F.explode(ngram_windows(words, 2)).alias("b"))
        .select("doc_id", "source", F.concat_ws(" ", "b.*").alias("tok"))
        .select(
            "doc_id", "source", (md5_long(F.col("tok")) % DSIR_BUCKETS).alias("g")
        )
    )
    feats = uni.unionAll(bi).localCheckpoint(eager=False)
    is_t = F.col("source") == DSIR_TARGET_SRC
    tc = feats.filter(is_t).groupBy("g").agg(F.count(F.lit(1)).alias("ct"))
    rc = feats.filter(~is_t).groupBy("g").agg(F.count(F.lit(1)).alias("cr"))
    totals = feats.agg(
        F.sum(is_t.cast("long")).alias("nt"),
        F.sum((~is_t).cast("long")).alias("nr"),
    )
    grid = docs.sparkSession.range(DSIR_BUCKETS).select(F.col("id").alias("g"))
    scores = (
        grid.join(tc, "g", "left")
        .join(rc, "g", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "g",
            F.expr(
                f"(1000000 * (coalesce(ct, 0) + 1) * (nr + {DSIR_BUCKETS}))"
                f" div ((coalesce(cr, 0) + 1) * (nt + {DSIR_BUCKETS}))"
            ).alias("score"),
        )
    )
    return feats, scores


def dsir_importance(docs: DataFrame) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023), the
    hashed-n-gram variant, with a log-free rational scoring surrogate.

    DSIR ranks raw documents by how target-like their hashed n-gram
    features are: features = md5-hashed unigrams AND bigrams folded into
    DSIR_BUCKETS buckets (the portable engine hash — both engines
    regenerate it bit-identically), target = docs from DSIR_TARGET_SRC,
    raw = everything else. The paper scores log p_target(f)/p_raw(f);
    transcendental logs have no cross-engine float parity, so this
    implementation keeps the per-feature evidence as the add-one-
    smoothed RATE RATIO in exact micro-units —
    score(f) = 1e6 * (ct_f+1) * (Nr+B) div ((cr_f+1) * (Nt+B)) —
    and aggregates a document by the MEAN ratio over its feature
    occurrences (arithmetic-mean surrogate for the geometric mean;
    monotone in the same per-feature evidence, integer-exact
    end-to-end). Deterministic selection replaces Gumbel sampling: the
    top-DSIR_SELECT_K raw docs by (weight desc, doc_id). int64
    headroom: 1e6 * ct * Nr needs ct * Nr < 9.2e12 — rescale the 1e6
    before targets beyond ~10^6 tokens.

    Scale shape: two feature-count aggregates (bucket-sized, B rows
    each — broadcastable regardless of corpus size), one broadcast join
    of raw-doc features against the B-row score table, one per-doc
    aggregate. No UDFs, no Python, no floats.

    Output: (doc_id, n_feats, weight_micro, selected) — selected marks
    the top-DSIR_SELECT_K by (weight desc, doc_id), computed as a
    TakeOrderedAndProject top-K broadcast back onto the weights (a
    per-doc global rank window would serialize the corpus through one
    partition; K ids broadcast instead).
    """
    feats, scores = _dsir_feats_scores(docs)
    is_t = F.col("source") == DSIR_TARGET_SRC
    per_doc = (
        feats.filter(~is_t)
        .join(F.broadcast(scores), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("score").alias("wsum"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.expr("wsum div n_feats").alias("weight_micro"),
        )
    )
    topk = (
        per_doc.orderBy(F.desc("weight_micro"), "doc_id")
        .limit(DSIR_SELECT_K)
        .select("doc_id", F.lit(1).alias("sel"))
    )
    return per_doc.join(F.broadcast(topk), "doc_id", "left").select(
        "doc_id",
        "n_feats",
        "weight_micro",
        F.coalesce(F.col("sel"), F.lit(0)).cast("long").alias("selected"),
    )


# The DuckDB twin of _dsir_feats_scores: hashed unigram + bigram
# features per doc (feats) and the per-bucket importance score (scores).
_DSIR_SCORES_SQL = f"""
uni AS (
  SELECT doc_id, source,
         ({md5_long_sql("unnest(string_split(lower(text), ' '))")})
           % {DSIR_BUCKETS} AS g
  FROM documents
),
bw AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents
),
bi AS (
  SELECT doc_id, source,
         ({md5_long_sql(f"array_to_string(unnest({ngram_lists_sql('ws', 2)}), ' ')")})
           % {DSIR_BUCKETS} AS g
  FROM bw
),
feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
tc AS (SELECT g, COUNT(*) AS ct FROM feats WHERE source = '{DSIR_TARGET_SRC}' GROUP BY g),
rc AS (SELECT g, COUNT(*) AS cr FROM feats WHERE source <> '{DSIR_TARGET_SRC}' GROUP BY g),
nt AS (SELECT COUNT(*) AS nt FROM feats WHERE source = '{DSIR_TARGET_SRC}'),
nr AS (SELECT COUNT(*) AS nr FROM feats WHERE source <> '{DSIR_TARGET_SRC}'),
grid AS (SELECT unnest(generate_series(0, {DSIR_BUCKETS - 1})) AS g),
scores AS (
  SELECT grid.g,
         (1000000 * (COALESCE(tc.ct, 0) + 1) * (nr.nr + {DSIR_BUCKETS}))
           // ((COALESCE(rc.cr, 0) + 1) * (nt.nt + {DSIR_BUCKETS})) AS score
  FROM grid
  LEFT JOIN tc ON tc.g = grid.g
  LEFT JOIN rc ON rc.g = grid.g
  CROSS JOIN nt CROSS JOIN nr
)
"""

DSIR_IMPORTANCE_SQL = f"""
WITH {_DSIR_SCORES_SQL},
per_doc AS (
  SELECT f.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(s.score) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS weight_micro
  FROM feats f JOIN scores s USING (g)
  WHERE f.source <> '{DSIR_TARGET_SRC}'
  GROUP BY f.doc_id
)
SELECT doc_id, n_feats, weight_micro,
       CAST(CASE WHEN row_number() OVER (ORDER BY weight_micro DESC, doc_id)
                 <= {DSIR_SELECT_K} THEN 1 ELSE 0 END AS BIGINT) AS selected
FROM per_doc
"""

QUERY_SQL["dsir_importance"] = DSIR_IMPORTANCE_SQL


def dsir_auc(docs: DataFrame) -> DataFrame:
    """Mann-Whitney AUC of the DSIR weights: does selection separate?

    The selection-quality meter dsir_importance needs next to it: score
    EVERY document (target AND raw) with the same B-row score table and
    compute the exact tie-corrected rank-sum AUC of "weight separates
    target from raw" — the probability a random target doc outranks a
    random raw doc. Ranks are kept integer by working in DOUBLED rank
    units: a tie group's average rank is rank_min + (cnt-1)/2, so
    2*avg = 2*rank_min + cnt - 1 (exact int64), giving
    AUC = (R2_t - n_t*(n_t+1)) / (2*n_t*n_r) with one final division,
    round 6 — no float ever enters the ranking. An AUC near 0.5 means
    the hashed-feature signal is not separating and selection is noise;
    the meter exists to catch exactly that silent failure.

    Scale shape: the per-doc weight pass is the same broadcast join as
    dsir_importance; the rank-sum is computed per DISTINCT weight (one
    map-side-combined groupBy, then a running window over the grouped
    frame — sized by the score-value range, never the corpus), emitting
    a single row.
    """
    feats, scores = _dsir_feats_scores(docs)
    weights = (
        feats.join(F.broadcast(scores), "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("score").alias("wsum"),
        )
        .select(
            "doc_id",
            (F.col("source") == DSIR_TARGET_SRC).cast("long").alias("is_target"),
            F.expr("wsum div n_feats").alias("weight_micro"),
        )
    )
    from pyspark.sql.window import Window

    # Rank-sum WITHOUT a per-doc global rank window (that would serialize
    # every document through one partition): aggregate per DISTINCT weight
    # first, then run the running-count window over the grouped frame —
    # its size is bounded by the score-value range, not the corpus. A tie
    # group at cumulative offset B with c members and t targets
    # contributes t * (2*B + c + 1) doubled-rank units (each target's
    # 2*rank_min + c - 1 with rank_min = B + 1).
    groups = weights.groupBy("weight_micro").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("is_target").alias("t"),
    )
    w_cum = Window.orderBy("weight_micro").rowsBetween(
        Window.unboundedPreceding, -1
    )
    contrib = groups.select(
        "c",
        "t",
        (
            F.col("t")
            * (
                2 * F.coalesce(F.sum("c").over(w_cum), F.lit(0))
                + F.col("c")
                + 1
            )
        ).alias("r2t_g"),
    )
    agg = contrib.agg(
        F.sum("t").alias("n_target"),
        F.sum(F.col("c") - F.col("t")).alias("n_raw"),
        F.sum("r2t_g").alias("r2t"),
    )
    return agg.select(
        "n_target",
        "n_raw",
        F.round(
            (F.col("r2t") - F.col("n_target") * (F.col("n_target") + 1))
            / (2 * F.col("n_target") * F.col("n_raw")),
            6,
        ).alias("auc"),
    )


DSIR_AUC_SQL = f"""
WITH {_DSIR_SCORES_SQL},
weights AS (
  SELECT f.doc_id,
         CAST(CASE WHEN f.source = '{DSIR_TARGET_SRC}' THEN 1 ELSE 0 END AS BIGINT)
           AS is_target,
         CAST(SUM(s.score) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS weight_micro
  FROM feats f JOIN scores s USING (g)
  GROUP BY f.doc_id, f.source
),
ranked AS (
  SELECT is_target,
         2 * rank() OVER (ORDER BY weight_micro)
           + COUNT(*) OVER (PARTITION BY weight_micro) - 1 AS r2
  FROM weights
)
SELECT CAST(SUM(is_target) AS BIGINT) AS n_target,
       CAST(SUM(1 - is_target) AS BIGINT) AS n_raw,
       ROUND((CAST(SUM(r2 * is_target) AS BIGINT)
              - CAST(SUM(is_target) AS BIGINT) * (CAST(SUM(is_target) AS BIGINT) + 1))
             / (2 * CAST(SUM(is_target) AS BIGINT) * CAST(SUM(1 - is_target) AS BIGINT)),
             6) AS auc
FROM ranked
"""

QUERY_SQL["dsir_auc"] = DSIR_AUC_SQL


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each doc is first-occurrence content?
# ---------------------------------------------------------------------------

NOVELTY_NGRAM = 3


def doc_ngram_novelty(
    docs: DataFrame, shd_docs: DataFrame | None = None
) -> DataFrame:
    """Per-doc novelty: fraction of its distinct 3-grams it PIONEERED.

    ``shd_docs`` — optional caller-materialized DISTINCT hashed shingle
    index of ``docs`` (the dedup._shingle_index_h12 schema contract;
    shared by the curation cascade). Its
    ``h1`` is definitionally :func:`md5_long` of the same 3-word
    shingle string, so ``distinct (doc_id, h1)`` is set-identical to
    this op's own ``distinct (doc_id, g)`` — the re-distinct collapses
    (h1, h2) rows that collide on h1.

    Ingestion-order novelty (doc_id as arrival order): a 3-gram's
    pioneer is the minimum doc_id containing it, and a document's
    novelty is the share of its distinct 3-grams whose pioneer it is —
    near-1 means fresh content, near-0 means the doc is assembled from
    n-grams the corpus already had (boilerplate, templates, quotation
    mass). The monotone complement of dup_ngram_mass: that measures
    how much of a doc is duplicated ANYWHERE; novelty credits the FIRST
    copy and charges the rest, which is what an arrival-ordered ingest
    filter actually wants.

    Scale shape: distinct (shingle-hash, doc) pairs -> min-doc per
    shingle (map-side-combined) -> one equi-join back on the 8-byte
    hash -> per-doc counts; every shuffle carries hashes, never text.
    """
    if shd_docs is not None:
        sh = _shingle_index_h12(shd_docs).select(
            "doc_id", F.col("h1").alias("g")
        ).distinct()
    else:
        sh = (
            _shingle_rows(docs, NOVELTY_NGRAM)
            .select("doc_id", md5_long(F.col("shingle")).alias("g"))
            .distinct()
        )
    pioneer = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    # pioneer is SHINGLE-grain (scales with the corpus, not a dim): the
    # r11 300x curation_yield_report OOM traced to exactly this join
    return (
        sh.join(scale_pin(pioneer, corpus_rows(docs)), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long")).alias(
                "n_pioneered"
            ),
        )
        .withColumn(
            "novelty", F.round(F.col("n_pioneered") / F.col("n_shingles"), 6)
        )
    )


DOC_NGRAM_NOVELTY_SQL = f"""
WITH sh AS (SELECT DISTINCT doc_id, g FROM ({_shingles_sql(NOVELTY_NGRAM)})),
pioneer AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN sh.doc_id = p.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pioneered,
       ROUND(CAST(SUM(CASE WHEN sh.doc_id = p.first_doc THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(COUNT(*) AS BIGINT), 6) AS novelty
FROM sh JOIN pioneer p USING (g)
GROUP BY sh.doc_id
"""

QUERY_SQL["doc_ngram_novelty"] = DOC_NGRAM_NOVELTY_SQL


# -- sequence-length bucketing / packing efficiency -------------------------

PACK_BUCKETS = (64, 128, 256, 512)


def packing_efficiency(docs: DataFrame) -> DataFrame:
    """Padding/truncation waste per sequence-length bucket — the report
    you read before choosing a batching strategy for pretraining.

    Fixed-length batching pads every sequence to the batch max;
    length-BUCKETED batching (this report's subject) pads only to the
    bucket boundary and truncates at the top bucket. Per bucket:
    exact document count, raw/kept token totals, padded slots
    (bucket - kept per doc) and truncated overflow, plus the padding
    share of the bucket's slot budget in integer micro-units —
    ``padding_micro = padded*1e6 div (n_docs*bucket)``. Token count is
    the exact whitespace word count (the corpus tokenizer's unit
    upstream of BPE; swap in bpe_token_stats's counts for model-true
    budgets). One scan, one 4-row aggregate — corpus-size independent
    output, map-side combined.
    """
    from .text import words_col

    n = F.size(words_col(F.lower(F.col("text")))).cast("long")
    bucket = F.lit(PACK_BUCKETS[-1]).cast("long")
    for b in reversed(PACK_BUCKETS[:-1]):
        bucket = F.when(n <= b, F.lit(b).cast("long")).otherwise(bucket)
    kept = F.least(F.col("n"), F.col("bucket"))
    return (
        docs.select(n.alias("n"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.sum(kept).alias("kept_tokens"),
            F.sum(F.col("bucket") - kept).alias("padded_tokens"),
            F.sum(F.greatest(F.col("n") - F.col("bucket"), F.lit(0).cast("long"))).alias(
                "truncated_tokens"
            ),
        )
        .withColumn(
            "padding_micro",
            F.expr("(padded_tokens * 1000000) div (n_docs * bucket)"),
        )
    )


_PACK_CASE = "CASE " + " ".join(
    f"WHEN n <= {b} THEN {b}" for b in PACK_BUCKETS[:-1]
) + f" ELSE {PACK_BUCKETS[-1]} END"

PACKING_EFFICIENCY_SQL = f"""
WITH d AS (
  SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n FROM documents
),
b AS (SELECT n, CAST({_PACK_CASE} AS BIGINT) AS bucket FROM d)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(LEAST(n, bucket)) AS BIGINT) AS kept_tokens,
       CAST(SUM(bucket - LEAST(n, bucket)) AS BIGINT) AS padded_tokens,
       CAST(SUM(GREATEST(n - bucket, 0)) AS BIGINT) AS truncated_tokens,
       CAST((SUM(bucket - LEAST(n, bucket)) * 1000000) // (COUNT(*) * bucket) AS BIGINT) AS padding_micro
FROM b GROUP BY bucket
"""

QUERY_SQL["packing_efficiency"] = PACKING_EFFICIENCY_SQL


# ---------------------------------------------------------------------------
# Neyman allocation: optimal stratified-sampling budget split.
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 10_000


def doc_neyman_allocation(docs: DataFrame) -> DataFrame:
    """Neyman-optimal stratified sample allocation over sources.

    The design step BEFORE doc_stratified_sample: proportional
    allocation wastes budget on strata that are internally homogeneous.
    Neyman allocation sizes each stratum's draw by n_h ∝ N_h·S_h
    (population × length standard deviation), the variance-minimizing
    split of a fixed budget. Per source the length SD comes from the
    exact int64 count/sum/sum-of-squares (the cross products are formed
    in DOUBLE — at corpus scale n·Σx² overflows int64 past ~10⁹ docs
    per stratum; identical expression both engines), rounded ONCE to
    milli; the weight N_h·s_milli is then exact integer arithmetic and
    the final allocation uses the 1-row total broadcast (div — exact,
    conservative: allocations sum to ≤ budget, floor dust stays
    unspent). Shape: one stratum-grain hash-agg + a 1-row cross —
    output |sources| rows at any corpus size.
    """
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    weighted = s.select(
        "source",
        "n_docs",
        F.expr(
            "CAST(FLOOR(SQRT((CAST(n_docs AS DOUBLE) * sxx"
            " - CAST(sx AS DOUBLE) * sx)"
            " / (CAST(n_docs AS DOUBLE) * (n_docs - 1))) * 1000) AS BIGINT)"
        ).alias("sd_milli"),
    ).select(
        "source",
        "n_docs",
        "sd_milli",
        (F.col("n_docs") * F.col("sd_milli")).alias("weight"),
    )
    tot = weighted.agg(F.sum("weight").alias("t_weight"))
    return weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sd_milli",
        F.expr("(weight * 1000000) div t_weight").alias("weight_share_micro"),
        F.expr(f"({NEYMAN_BUDGET} * weight) div t_weight").alias("n_alloc"),
    )


NEYMAN_SQL = f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sx,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY 1
),
weighted AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT((CAST(n_docs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              / (CAST(n_docs AS DOUBLE) * (n_docs - 1))) * 1000) AS BIGINT) AS sd_milli
  FROM s
),
w2 AS (
  SELECT source, n_docs, sd_milli, n_docs * sd_milli AS weight FROM weighted
),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS t_weight FROM w2)
SELECT source, n_docs, sd_milli,
       (weight * 1000000) // t_weight AS weight_share_micro,
       ({NEYMAN_BUDGET} * weight) // t_weight AS n_alloc
FROM w2 CROSS JOIN tot
"""

QUERY_SQL["doc_neyman_allocation"] = NEYMAN_SQL


# --- trained quality classifier (Naive Bayes, closed form, all-integer) -----

NB_B_STOP = 4  # stopword-density buckets 0..3
NB_B_WORDS = 5  # word-count buckets 0..4
NB_B_WLEN = 13  # mean-word-length buckets 0..12


def quality_nb_classifier(docs: DataFrame) -> DataFrame:
    """TRAIN a quality classifier on the corpus — Naive Bayes, closed form.

    The distillation step real pipelines run: the hand-written rule
    (quality_filter) labels the corpus, and a statistical model is fit to
    those labels so scoring new data needs only cheap features, not the
    full rule cascade. Naive Bayes is the closed-form choice: training
    is nothing but per-class/per-bucket COUNTS (three tiny hash-aggs —
    no iterations, no learning rate, no convergence question), which is
    what makes an exactly-reproducible trained model possible at all.

    Everything stays INTEGER. Features are bucketized counts; Laplace
    (+1) likelihoods are kept as exact rationals, and the posterior
    argmax is decided by CROSS-MULTIPLICATION:

      n_pos * prod_f (c_pos_f+1) * prod_f (n_neg+B_f)
        >  n_neg * prod_f (c_neg_f+1) * prod_f (n_pos+B_f)

    — seven factors per side, up to ~10^26 at sf0.1, so the products are
    formed in decimal(38,0) (Spark) / HUGEINT (DuckDB) and ONLY the
    boolean comparison leaves the wide type. No ln, no float, no
    association-order hazard: bit-identical verdicts on both engines.

    Scale shape: the label pass is quality_filter's single projection;
    training tables are bucket-sized (<= 13 rows, broadcast); scoring is
    three broadcast joins + one expression. The class-prior frame is a
    1-row broadcast (the allowlisted single-row-stats shape).

    Output per doc: buckets, rule label, NB prediction, correctness —
    the training-set confusion is one GROUP BY away.
    """
    scored, lhs, rhs = _nb_scored(docs)
    return scored.select(
        "doc_id",
        "b_stop",
        "b_words",
        "b_wlen",
        (F.col("y") == 1).alias("label_keep"),
        F.expr(f"({lhs}) > ({rhs})").alias("pred_keep"),
        (F.expr(f"({lhs}) > ({rhs})") == (F.col("y") == 1)).alias("correct"),
    )


def _nb_scored(docs: DataFrame):
    """Shared NB scoring frame: features joined to the trained tables.

    Returns (scored_df, lhs_sql, rhs_sql) where lhs/rhs are the exact
    decimal(38,0) cross-multiplication products whose comparison IS the
    posterior argmax — quality_nb_classifier takes the boolean,
    quality_nb_calibration buckets the implied posterior into deciles
    by pure product comparisons (never a wide division).
    """
    from .text import quality_filter

    m = quality_filter(docs).select(
        "doc_id",
        "n_words",
        "n_stopwords",
        "mean_wlen",
        F.col("keep").cast("int").alias("y"),
    )
    feats = m.select(
        "doc_id",
        "y",
        # FLOOR, not a bare cast: DuckDB CAST(double AS BIGINT) ROUNDS
        # while Spark's cast truncates — the documented cross-engine hazard.
        # Bucket 0 is reserved for EXACTLY zero stopwords (a structural
        # zero, not just low density) — bucketing must not blur the
        # boundary the label actually lives on.
        F.when(F.col("n_stopwords") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(F.col("n_stopwords") * 10 / F.col("n_words")),
                F.lit(NB_B_STOP - 2).cast("long"),
            )
            + 1
        )
        .alias("b_stop"),
        F.least(
            F.floor(F.col("n_words") / 50), F.lit(NB_B_WORDS - 1).cast("long")
        ).alias("b_words"),
        F.least(
            F.floor(F.col("mean_wlen")).cast("long"),
            F.lit(NB_B_WLEN - 1).cast("long"),
        ).alias("b_wlen"),
    ).localCheckpoint(eager=False)  # one label pass feeds priors + 3 tables + scoring

    priors = feats.agg(
        F.sum("y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
    )

    def table(col: str):
        return feats.groupBy(col).agg(
            F.sum("y").alias(f"c_pos_{col}"),
            F.sum(F.lit(1) - F.col("y")).alias(f"c_neg_{col}"),
        )

    scored = (
        feats.join(F.broadcast(table("b_stop")), "b_stop")
        .join(F.broadcast(table("b_words")), "b_words")
        .join(F.broadcast(table("b_wlen")), "b_wlen")
        .join(F.broadcast(priors))
    )
    d = "cast({} as decimal(38,0))"
    lhs = " * ".join(
        d.format(x)
        for x in (
            "n_pos",
            "c_pos_b_stop + 1",
            "c_pos_b_words + 1",
            "c_pos_b_wlen + 1",
            f"n_neg + {NB_B_STOP}",
            f"n_neg + {NB_B_WORDS}",
            f"n_neg + {NB_B_WLEN}",
        )
    )
    rhs = " * ".join(
        d.format(x)
        for x in (
            "n_neg",
            "c_neg_b_stop + 1",
            "c_neg_b_words + 1",
            "c_neg_b_wlen + 1",
            f"n_pos + {NB_B_STOP}",
            f"n_pos + {NB_B_WORDS}",
            f"n_pos + {NB_B_WLEN}",
        )
    )
    return scored, lhs, rhs


def quality_nb_calibration(docs: DataFrame) -> DataFrame:
    """Reliability diagram of the trained NB quality classifier.

    A classifier that is ACCURATE can still be mis-CALIBRATED — its
    confidence scores unusable as sampling weights or review-queue
    priorities. This is the table that decides: per posterior-confidence
    decile, how many docs land there and what fraction is ACTUALLY
    keep-labeled (observed_keep_ppm vs the decile's nominal band).

    The posterior p = lhs/(lhs+rhs) over the exact decimal(38,0) NB
    products never gets divided (wide-decimal division loses digits on
    both engines): the decile is decided by NINE PRODUCT COMPARISONS —
    decile = |{k in 1..9 : k*(lhs+rhs) <= 10*lhs}| — so the bucketing
    is exact integer arithmetic end-to-end (~1e27 peak, inside
    decimal(38,0)/HUGEINT). Output: one row per non-empty decile with
    doc count, label-keep count, predicted-keep count and observed ppm.

    Headroom bound (tighter than the classifier's): the k*(lhs+rhs)
    comparison spends ONE extra decimal digit on top of the 7-factor NB
    products, so where the classifier's products must stay under 1e38,
    the calibration needs them under 1e37 — a 10^(1/7) ~ 1.4x tighter
    corpus-size ceiling. Inside it by >9 digits at every tested SF
    (1e27 peak at the 30x tier); past it Spark (non-ANSI) silently
    NULLs the CASE while DuckDB raises — if corpora ever approach the
    bound, rescale the bucket counts before the products, do NOT widen
    to floats (the exactness is the contract).

    Scale shape: inherits the classifier's (bucket-sized broadcast
    tables + one scoring pass); the diagram is one 10-row groupBy.
    """
    scored, lhs, rhs = _nb_scored(docs)
    decile = " + ".join(
        f"(CASE WHEN CAST({k} AS DECIMAL(38,0)) * (({lhs}) + ({rhs}))"
        f" <= CAST(10 AS DECIMAL(38,0)) * ({lhs}) THEN 1 ELSE 0 END)"
        for k in range(1, 10)
    )
    return (
        scored.select(
            F.expr(f"CAST({decile} AS BIGINT)").alias("conf_decile"),
            "y",
            F.expr(f"CASE WHEN ({lhs}) > ({rhs}) THEN 1 ELSE 0 END").alias(
                "pred"
            ),
        )
        .groupBy("conf_decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("long").alias("n_label_keep"),
            F.sum("pred").cast("long").alias("n_pred_keep"),
        )
        .withColumn(
            "observed_keep_ppm",
            F.expr("(n_label_keep * 1000000) div n_docs"),
        )
        .orderBy("conf_decile")
    )


def isotonic_from_deciles(deciles: DataFrame) -> DataFrame:
    """PAV isotonic regression over a (conf_decile, n_docs, n_label_keep)
    reliability frame — via the exact MINIMAX identity, not the
    sequential pooling loop.

    Pool-adjacent-violators is inherently sequential (merge while the
    rate decreases), which SQL cannot loop; but PAV's fitted value has
    the closed form iso(i) = max_{j<=i} min_{l>=j} rate(j..l) (the
    minimax theorem for isotonic L2 regression), and at decile grain
    the interval lattice is <= 10x10 rows — so the whole fit is: prefix
    sums (one tiny window), the (j<=l) interval grid (a <=100-row
    nested-loop join over a localCheckpointed 10-row frame — the
    aggregate-sized BNLJ class), per-j MIN, one running-MAX window.
    Rates are floor-quantized ppm; floor is monotone, so it commutes
    with min/max and the output is EXACTLY floor(1e6 * exact-PAV) —
    deterministic, identical on both engines.

    Output per decile: observed_ppm, calibrated_ppm (monotone
    non-decreasing by construction), pooled flag (fit != observed).
    """
    from pyspark.sql.window import Window

    wcum = Window.orderBy("conf_decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pref = deciles.select(
        "conf_decile",
        "n_docs",
        "n_label_keep",
        F.sum("n_docs").over(wcum).alias("cum_n"),
        F.sum("n_label_keep").over(wcum).alias("cum_k"),
    ).localCheckpoint(eager=False)  # lazy: building the plan costs nothing;
    # the checkpoint materializes with the first consuming action
    j = pref.select(
        F.col("conf_decile").alias("j"),
        "n_docs",
        "n_label_keep",
        (F.col("cum_n") - F.col("n_docs")).alias("n_before"),
        (F.col("cum_k") - F.col("n_label_keep")).alias("k_before"),
    )
    lside = pref.select(
        F.col("conf_decile").alias("l"),
        F.col("cum_n").alias("cum_n_l"),
        F.col("cum_k").alias("cum_k_l"),
    )
    iv = j.join(F.broadcast(lside), F.col("j") <= F.col("l"))
    mins = iv.groupBy("j", "n_docs", "n_label_keep").agg(
        F.min(
            F.expr("((cum_k_l - k_before) * 1000000) div (cum_n_l - n_before)")
        ).alias("m")
    )
    wrun = Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    return (
        mins.select(
            F.col("j").alias("conf_decile"),
            "n_docs",
            "n_label_keep",
            F.expr("(n_label_keep * 1000000) div n_docs").alias(
                "observed_ppm"
            ),
            F.max("m").over(wrun).alias("calibrated_ppm"),
        )
        .withColumn(
            "pooled",
            (F.col("calibrated_ppm") != F.col("observed_ppm")).cast("int"),
        )
        .orderBy("conf_decile")
    )


def quality_isotonic_calibration(docs: DataFrame) -> DataFrame:
    """CALIBRATED quality classifier: isotonic (PAV) fit over the NB
    reliability deciles.

    quality_nb_calibration (r7) MEASURES miscalibration; this op FIXES
    it — the per-decile isotonic fit is the monotone map that turns the
    NB confidence decile into an unbiased keep-probability usable as a
    sampling weight or review-queue priority (the standard
    calibrate-then-sample step of a curation pipeline). Composes the
    oracled reliability diagram with :func:`isotonic_from_deciles`.

    Scale shape: inherits the classifier's one scoring pass; everything
    after the <=10-row decile aggregate is decile-grain (window + 100-row
    lattice join) — plan constant in corpus size.

    Honesty note: the synthetic corpus' NB is near-perfectly separated
    (observed rates already monotone at every test SF), so here the fit
    is the identity; the POOLING path is pinned by the planted-violator
    frames in tests/test_curation.py (isotonic_from_deciles is
    input-generic by design).
    """
    return isotonic_from_deciles(
        quality_nb_calibration(docs).select(
            "conf_decile", "n_docs", "n_label_keep"
        )
    )


def _nb_sql() -> str:
    from .text import QUALITY_FILTER_SQL

    d = "CAST({} AS HUGEINT)"
    lhs = " * ".join(
        d.format(x)
        for x in (
            "n_pos",
            "c_pos_b_stop + 1",
            "c_pos_b_words + 1",
            "c_pos_b_wlen + 1",
            f"n_neg + {NB_B_STOP}",
            f"n_neg + {NB_B_WORDS}",
            f"n_neg + {NB_B_WLEN}",
        )
    )
    rhs = " * ".join(
        d.format(x)
        for x in (
            "n_neg",
            "c_neg_b_stop + 1",
            "c_neg_b_words + 1",
            "c_neg_b_wlen + 1",
            f"n_pos + {NB_B_STOP}",
            f"n_pos + {NB_B_WORDS}",
            f"n_pos + {NB_B_WLEN}",
        )
    )
    return f"""
WITH qf AS ({QUALITY_FILTER_SQL}),
feats AS (
  SELECT doc_id,
         CASE WHEN keep THEN 1 ELSE 0 END AS y,
         CASE WHEN n_stopwords = 0 THEN 0 ELSE LEAST(CAST(FLOOR(n_stopwords * 10 / n_words) AS BIGINT), {NB_B_STOP - 2}) + 1 END AS b_stop,
         LEAST(CAST(FLOOR(n_words / 50) AS BIGINT), {NB_B_WORDS - 1}) AS b_words,
         LEAST(CAST(FLOOR(mean_wlen) AS BIGINT), {NB_B_WLEN - 1}) AS b_wlen
  FROM qf
),
priors AS (SELECT SUM(y) AS n_pos, SUM(1 - y) AS n_neg FROM feats),
t_stop AS (SELECT b_stop, SUM(y) AS c_pos_b_stop, SUM(1 - y) AS c_neg_b_stop
           FROM feats GROUP BY b_stop),
t_words AS (SELECT b_words, SUM(y) AS c_pos_b_words, SUM(1 - y) AS c_neg_b_words
            FROM feats GROUP BY b_words),
t_wlen AS (SELECT b_wlen, SUM(y) AS c_pos_b_wlen, SUM(1 - y) AS c_neg_b_wlen
           FROM feats GROUP BY b_wlen)
SELECT doc_id, b_stop, b_words, b_wlen,
       y = 1 AS label_keep,
       ({lhs}) > ({rhs}) AS pred_keep,
       (({lhs}) > ({rhs})) = (y = 1) AS correct
FROM feats
JOIN t_stop USING (b_stop)
JOIN t_words USING (b_words)
JOIN t_wlen USING (b_wlen)
CROSS JOIN priors
"""


QUALITY_NB_SQL = _nb_sql()
QUERY_SQL["quality_nb_classifier"] = QUALITY_NB_SQL


def quality_cohen_kappa(docs: DataFrame) -> DataFrame:
    """Cohen's kappa between the rule-based quality gate and the NB
    classifier's prediction — the chance-corrected agreement rung of
    the quality tier: raw accuracy (quality_nb_classifier's `correct`)
    flatters any classifier on an imbalanced corpus; kappa subtracts
    the agreement two INDEPENDENT raters with these marginals would
    reach by luck, the number a labeling-pipeline audit actually wants
    (dedup_rand_index plays the same role for clusterings).

    Exact integer end-to-end from the 2x2 confusion counts:
    pe_num = (n11+n10)(n11+n01) + (n01+n00)(n10+n00), and
    kappa = (n·(n11+n00) − pe_num)/(n² − pe_num) quantized ppm with
    the documents_ks_drift hybrid — exact (num·1e6) div den while
    n ≤ 3e6 (n²·1e6 inside int64), switching to the quantized
    denominator above (error ≤ 1 ppm); a degenerate pe = 1 corpus
    reads NULL via NULLIF, never an error. Negative kappa (worse than
    chance) truncates toward zero identically in both engines.

    Scale shape: inherits the classifier's one scoring pass
    (bucket-sized broadcast tables + 1-row prior cross, allowlisted),
    then ONE map-side-combined 1-row aggregate. Plan constant after
    the scoring projection.
    """
    nb = quality_nb_classifier(docs).select(
        F.col("label_keep").cast("long").alias("y"),
        F.col("pred_keep").cast("long").alias("p"),
    )
    s = nb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("y * p")).alias("n11"),
        F.sum(F.expr("y * (1 - p)")).alias("n10"),
        F.sum(F.expr("(1 - y) * p")).alias("n01"),
        F.sum(F.expr("(1 - y) * (1 - p)")).alias("n00"),
    )
    pe_num = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
    num = f"(n * (n11 + n00) - {pe_num})"
    den = f"(n * n - {pe_num})"
    return s.select(
        F.col("n").alias("n_docs"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("((n11 + n00) * 1000000) div n").alias("agree_ppm"),
        F.expr(
            f"CASE WHEN n > 3000000"
            f" THEN {pe_num} div NULLIF((n * n) div 1000000, 0)"
            f" ELSE ({pe_num} * 1000000) div NULLIF(n * n, 0) END"
        ).alias("pe_ppm"),
        F.expr(
            f"CASE WHEN n > 3000000"
            f" THEN {num} div NULLIF({den} div 1000000, 0)"
            f" ELSE ({num} * 1000000) div NULLIF({den}, 0) END"
        ).alias("kappa_ppm"),
    )


_KAPPA_PE = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
_KAPPA_NUM = f"(n * (n11 + n00) - {_KAPPA_PE})"
_KAPPA_DEN = f"(n * n - {_KAPPA_PE})"

QUALITY_KAPPA_SQL = f"""
WITH nb AS ({QUALITY_NB_SQL}),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN label_keep AND pred_keep THEN 1 ELSE 0 END)
              AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN label_keep AND NOT pred_keep THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN NOT label_keep AND pred_keep THEN 1 ELSE 0 END)
              AS BIGINT) AS n01,
         CAST(SUM(CASE WHEN NOT label_keep AND NOT pred_keep THEN 1 ELSE 0 END)
              AS BIGINT) AS n00
  FROM nb
)
SELECT n AS n_docs, n11, n10, n01, n00,
       ((n11 + n00) * 1000000) // n AS agree_ppm,
       CASE WHEN n > 3000000
            THEN {_KAPPA_PE} // NULLIF((n * n) // 1000000, 0)
            ELSE ({_KAPPA_PE} * 1000000) // NULLIF(n * n, 0) END AS pe_ppm,
       CASE WHEN n > 3000000
            THEN {_KAPPA_NUM} // NULLIF({_KAPPA_DEN} // 1000000, 0)
            ELSE ({_KAPPA_NUM} * 1000000) // NULLIF({_KAPPA_DEN}, 0) END
         AS kappa_ppm
FROM s
"""

QUERY_SQL["quality_cohen_kappa"] = QUALITY_KAPPA_SQL


def _nb_calibration_sql() -> str:
    from .text import QUALITY_FILTER_SQL

    d = "CAST({} AS HUGEINT)"
    lhs = " * ".join(
        d.format(x)
        for x in (
            "n_pos",
            "c_pos_b_stop + 1",
            "c_pos_b_words + 1",
            "c_pos_b_wlen + 1",
            f"n_neg + {NB_B_STOP}",
            f"n_neg + {NB_B_WORDS}",
            f"n_neg + {NB_B_WLEN}",
        )
    )
    rhs = " * ".join(
        d.format(x)
        for x in (
            "n_neg",
            "c_neg_b_stop + 1",
            "c_neg_b_words + 1",
            "c_neg_b_wlen + 1",
            f"n_pos + {NB_B_STOP}",
            f"n_pos + {NB_B_WORDS}",
            f"n_pos + {NB_B_WLEN}",
        )
    )
    decile = " + ".join(
        f"(CASE WHEN CAST({k} AS HUGEINT) * (({lhs}) + ({rhs}))"
        f" <= CAST(10 AS HUGEINT) * ({lhs}) THEN 1 ELSE 0 END)"
        for k in range(1, 10)
    )
    return f"""
WITH qf AS ({QUALITY_FILTER_SQL}),
feats AS (
  SELECT doc_id,
         CASE WHEN keep THEN 1 ELSE 0 END AS y,
         CASE WHEN n_stopwords = 0 THEN 0 ELSE LEAST(CAST(FLOOR(n_stopwords * 10 / n_words) AS BIGINT), {NB_B_STOP - 2}) + 1 END AS b_stop,
         LEAST(CAST(FLOOR(n_words / 50) AS BIGINT), {NB_B_WORDS - 1}) AS b_words,
         LEAST(CAST(FLOOR(mean_wlen) AS BIGINT), {NB_B_WLEN - 1}) AS b_wlen
  FROM qf
),
priors AS (SELECT SUM(y) AS n_pos, SUM(1 - y) AS n_neg FROM feats),
t_stop AS (SELECT b_stop, SUM(y) AS c_pos_b_stop, SUM(1 - y) AS c_neg_b_stop
           FROM feats GROUP BY b_stop),
t_words AS (SELECT b_words, SUM(y) AS c_pos_b_words, SUM(1 - y) AS c_neg_b_words
            FROM feats GROUP BY b_words),
t_wlen AS (SELECT b_wlen, SUM(y) AS c_pos_b_wlen, SUM(1 - y) AS c_neg_b_wlen
           FROM feats GROUP BY b_wlen),
scored AS (
  SELECT CAST({decile} AS BIGINT) AS conf_decile,
         y,
         CASE WHEN ({lhs}) > ({rhs}) THEN 1 ELSE 0 END AS pred
  FROM feats
  JOIN t_stop USING (b_stop)
  JOIN t_words USING (b_words)
  JOIN t_wlen USING (b_wlen)
  CROSS JOIN priors
)
SELECT conf_decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_label_keep,
       CAST(SUM(pred) AS BIGINT) AS n_pred_keep,
       (CAST(SUM(y) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
         AS observed_keep_ppm
FROM scored GROUP BY 1 ORDER BY 1
"""


QUERY_SQL["quality_nb_calibration"] = _nb_calibration_sql()


def _isotonic_sql() -> str:
    # the reliability-diagram CTE re-renders without its trailing ORDER BY
    # (window CTEs + ORDER BY inside a WITH member is fine in DuckDB, but
    # the fit must consume the bare aggregate)
    cal = _nb_calibration_sql().rstrip().rstrip('"').rstrip()
    assert cal.endswith("ORDER BY 1")
    cal = cal[: -len("ORDER BY 1")]
    return f"""
WITH cal AS ({cal}),
pref AS (
  SELECT conf_decile, n_docs, n_label_keep,
         CAST(SUM(n_docs) OVER (ORDER BY conf_decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_n,
         CAST(SUM(n_label_keep) OVER (ORDER BY conf_decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_k
  FROM cal
),
iv AS (
  SELECT a.conf_decile AS j, a.n_docs, a.n_label_keep,
         a.cum_n - a.n_docs AS n_before, a.cum_k - a.n_label_keep AS k_before,
         b.cum_n AS cum_n_l, b.cum_k AS cum_k_l
  FROM pref a JOIN pref b ON a.conf_decile <= b.conf_decile
),
mins AS (
  SELECT j, n_docs, n_label_keep,
         MIN(((cum_k_l - k_before) * 1000000) // (cum_n_l - n_before)) AS m
  FROM iv GROUP BY j, n_docs, n_label_keep
),
iso AS (
  SELECT j AS conf_decile, n_docs, n_label_keep,
         (n_label_keep * 1000000) // n_docs AS observed_ppm,
         CAST(MAX(m) OVER (ORDER BY j
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS calibrated_ppm
  FROM mins
)
SELECT conf_decile, n_docs, n_label_keep, observed_ppm, calibrated_ppm,
       CAST(CASE WHEN calibrated_ppm <> observed_ppm THEN 1 ELSE 0 END
            AS INT) AS pooled
FROM iso ORDER BY conf_decile
"""


QUERY_SQL["quality_isotonic_calibration"] = _isotonic_sql()


def platt_from_deciles(deciles: DataFrame) -> DataFrame:
    """Platt-style parametric calibration over a (conf_decile, n_docs,
    n_label_keep) reliability frame — closed-form, no iteration.

    Platt scaling fits p = sigmoid(a*s + b) by logistic MLE; the MLE is
    iterative (IRLS) and its float trajectory is not reproducible across
    engines. At decile grain the classical closed-form surrogate is
    Berkson's minimum logit chi-squared estimator (Berkson, JASA 1944):
    weighted least squares of the EMPIRICAL logits z_i on the decile
    index, with the IRLS weights n_i*t_i*(1-t_i) evaluated at the
    observed (Laplace-smoothed) rates t_i = (k_i+1)/(n_i+2) — exactly
    the first IRLS step initialized at the observed rates, and the
    asymptotically efficient estimator in its own right. Smoothing
    doubles as Platt's out-of-sample correction for separated deciles
    (t never reaches 0/1, so every logit is finite).

    Determinism discipline (the cuped pattern): z is quantized to
    milli-logits of an integer RATIO ln((k+1)/(n-k+1)) and w to exact
    integer micro-weights via decimal(38,0)/HUGEINT division, so the
    five OLS sufficient statistics (S0,S1,S2,Sz,Sxz) are EXACT integer
    sums — association-order-free — and (a, b) fall out of one identical
    double expression tree on both engines. Only the final sigmoid's
    exp() is float-transcendental, applied once per output row to
    bit-identical inputs.

    Output per decile: observed_ppm, platt_ppm = floor(1e6*sigmoid),
    and the fitted slope/intercept (micro-logits, floor-quantized).

    Scale shape: the input frame is decile-grain (<=10 rows) — one tiny
    agg + a broadcast cross-join back; plan constant in corpus size.
    Headroom: w_micro <= n/4 * 1e6 and |z_milli| <= ~1000*ln(n), so
    Sxz stays under int64 to ~1e11 docs/decile; the decimal(38,0)
    intermediates clear 1e38 by >4 digits at any conceivable corpus.
    """
    base = deciles.select(
        "conf_decile", "n_docs", "n_label_keep"
    ).localCheckpoint(eager=False)
    q = base.select(
        "conf_decile",
        F.expr(
            "CAST(ROUND(1000 * ln((n_label_keep + 1.0)"
            " / (n_docs - n_label_keep + 1.0))) AS BIGINT)"
        ).alias("z_milli"),
        F.expr(
            "CAST((CAST(n_docs AS DECIMAL(38,0)) * (n_label_keep + 1)"
            " * (n_docs - n_label_keep + 1) * 1000000)"
            " div (CAST(n_docs + 2 AS DECIMAL(38,0)) * (n_docs + 2))"
            " AS BIGINT)"
        ).alias("w_micro"),
    )
    s = q.agg(
        F.sum(F.expr("CAST(w_micro AS DECIMAL(38,0))")).alias("s0"),
        F.sum(F.expr("CAST(w_micro AS DECIMAL(38,0)) * conf_decile")).alias("s1"),
        F.sum(
            F.expr("CAST(w_micro AS DECIMAL(38,0)) * conf_decile * conf_decile")
        ).alias("s2"),
        F.sum(F.expr("CAST(w_micro AS DECIMAL(38,0)) * z_milli")).alias("sz"),
        F.sum(
            F.expr("CAST(w_micro AS DECIMAL(38,0)) * conf_decile * z_milli")
        ).alias("sxz"),
    )
    a = (
        "((CAST(s0 AS DOUBLE) * CAST(sxz AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(sz AS DOUBLE))"
        " / NULLIF(CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0))"
    )
    b = (
        f"((CAST(sz AS DOUBLE) - {a} * CAST(s1 AS DOUBLE))"
        " / NULLIF(CAST(s0 AS DOUBLE), 0.0))"
    )
    return (
        base.crossJoin(F.broadcast(s))
        .select(
            "conf_decile",
            "n_docs",
            "n_label_keep",
            F.expr("(n_label_keep * 1000000) div n_docs").alias(
                "observed_ppm"
            ),
            F.expr(
                "CAST(FLOOR(1000000.0 / (1.0 + exp(-"
                f"(({a}) * conf_decile + ({b})) / 1000.0))) AS BIGINT)"
            ).alias("platt_ppm"),
            F.expr(f"CAST(FLOOR({a} * 1000) AS BIGINT)").alias("slope_micro"),
            F.expr(f"CAST(FLOOR({b} * 1000) AS BIGINT)").alias(
                "intercept_micro"
            ),
        )
        .orderBy("conf_decile")
    )


def quality_platt_scaling(docs: DataFrame) -> DataFrame:
    """Platt vs isotonic calibration, side by side on the same decile
    lattice.

    The parametric companion to quality_isotonic_calibration: both fit
    the NB reliability deciles, but Platt imposes a 2-parameter sigmoid
    (smooth, extrapolates, never overfits a decile) where isotonic only
    imposes monotonicity (exact where data is dense, staircase where
    sparse) — the standard production choice is Platt for small
    calibration sets and isotonic past ~1k points (Niculescu-Mizil &
    Caruana, ICML'05). Emitting both per decile makes the trade-off a
    query result instead of a doc claim.

    Scale shape: ONE corpus scoring scan (the decile frame is lazily
    checkpointed and shared by both fits); everything downstream is
    decile-grain. Composes three already-oracled parts: the reliability
    diagram, :func:`isotonic_from_deciles`, :func:`platt_from_deciles`.
    """
    deciles = quality_nb_calibration(docs).select(
        "conf_decile", "n_docs", "n_label_keep"
    ).localCheckpoint(eager=False)
    platt = platt_from_deciles(deciles)
    iso = isotonic_from_deciles(deciles).select(
        "conf_decile", F.col("calibrated_ppm").alias("isotonic_ppm")
    )
    return platt.join(F.broadcast(iso), "conf_decile").orderBy("conf_decile")


def _platt_sql() -> str:
    cal = _nb_calibration_sql().rstrip().rstrip('"').rstrip()
    assert cal.endswith("ORDER BY 1")
    cal = cal[: -len("ORDER BY 1")]
    a = (
        "((CAST(s0 AS DOUBLE) * CAST(sxz AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(sz AS DOUBLE))"
        " / NULLIF(CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0))"
    )
    b = (
        f"((CAST(sz AS DOUBLE) - {a} * CAST(s1 AS DOUBLE))"
        " / NULLIF(CAST(s0 AS DOUBLE), 0.0))"
    )
    return f"""
WITH cal AS ({cal}),
q AS (
  SELECT conf_decile,
         CAST(ROUND(1000 * ln((n_label_keep + 1.0)
              / (n_docs - n_label_keep + 1.0))) AS BIGINT) AS z_milli,
         CAST((CAST(n_docs AS HUGEINT) * (n_label_keep + 1)
               * (n_docs - n_label_keep + 1) * 1000000)
              // (CAST(n_docs + 2 AS HUGEINT) * (n_docs + 2)) AS BIGINT)
           AS w_micro
  FROM cal
),
s AS (
  SELECT SUM(CAST(w_micro AS HUGEINT)) AS s0,
         SUM(CAST(w_micro AS HUGEINT) * conf_decile) AS s1,
         SUM(CAST(w_micro AS HUGEINT) * conf_decile * conf_decile) AS s2,
         SUM(CAST(w_micro AS HUGEINT) * z_milli) AS sz,
         SUM(CAST(w_micro AS HUGEINT) * conf_decile * z_milli) AS sxz
  FROM q
),
pref AS (
  SELECT conf_decile, n_docs, n_label_keep,
         CAST(SUM(n_docs) OVER (ORDER BY conf_decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_n,
         CAST(SUM(n_label_keep) OVER (ORDER BY conf_decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_k
  FROM cal
),
iv AS (
  SELECT a.conf_decile AS j, a.n_docs, a.n_label_keep,
         a.cum_n - a.n_docs AS n_before, a.cum_k - a.n_label_keep AS k_before,
         b.cum_n AS cum_n_l, b.cum_k AS cum_k_l
  FROM pref a JOIN pref b ON a.conf_decile <= b.conf_decile
),
mins AS (
  SELECT j, n_docs, n_label_keep,
         MIN(((cum_k_l - k_before) * 1000000) // (cum_n_l - n_before)) AS m
  FROM iv GROUP BY j, n_docs, n_label_keep
),
iso AS (
  SELECT j AS conf_decile, n_docs, n_label_keep,
         (n_label_keep * 1000000) // n_docs AS observed_ppm,
         CAST(MAX(m) OVER (ORDER BY j
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS calibrated_ppm
  FROM mins
)
SELECT i.conf_decile, i.n_docs, i.n_label_keep, i.observed_ppm,
       CAST(FLOOR(1000000.0 / (1.0 + exp(-(({a}) * i.conf_decile + ({b}))
            / 1000.0))) AS BIGINT) AS platt_ppm,
       CAST(FLOOR({a} * 1000) AS BIGINT) AS slope_micro,
       CAST(FLOOR({b} * 1000) AS BIGINT) AS intercept_micro,
       i.calibrated_ppm AS isotonic_ppm
FROM iso i CROSS JOIN s
ORDER BY i.conf_decile
"""


QUERY_SQL["quality_platt_scaling"] = _platt_sql()
