"""BPE tokenization at corpus scale: tokenize the vocabulary, not the corpus.

A byte-pair-encoding tokenizer applies an ordered merge table to each
word. The naive shape — a Python UDF over every word OCCURRENCE — does
~total-token work in Python. The scale shape used here tokenizes each
DISTINCT word exactly once (the vocabulary is orders of magnitude
smaller than the corpus: ~100M types vs ~100T tokens at 100 TB) and
joins the per-word token count back to the occurrence stream by word —
an equi-join AQE turns into a broadcast when the vocab side is small,
and a well-partitioned shuffle join when it is not. Python cost is
O(|vocab|), not O(|corpus|).

The merge table is a fixed model artifact (constants below, tuned to the
lowercase-ascii corpus); ``bpe_encode`` is the reference implementation
the Arrow UDF vectorizes. Iterative merge application is not directly
SQL-expressible, so the REGISTERED queries use the sketch-monitor trick
(see events_quantile_sketch): exact SQL-replicable columns plus verdict
booleans asserting mathematical invariants of a correct BPE, which the
DuckDB oracle emits as literal TRUE — the driver's value hash thereby
ENFORCES the tokenizer's contract every run. Exact tokenizations and
merge sequences are additionally pinned by tests/test_bpe.py.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from .text import ngram_windows

# Ordered merge table (highest priority first) — a frozen model artifact.
MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("a", "n"),
    ("i", "n"),
    ("o", "n"),
    ("e", "r"),
    ("a", "r"),
    ("o", "r"),
    ("s", "t"),
    ("l", "e"),
    ("c", "k"),
    ("r", "o"),
    ("ro", "w"),
    ("q", "u"),
    ("qu", "e"),
    ("s", "c"),
    ("sc", "an"),
    ("t", "ab"),
    ("a", "b"),
    ("v", "a"),
    ("va", "l"),
    ("u", "e"),
    ("f", "a"),
    ("fa", "st"),
    ("s", "l"),
    ("sl", "o"),
    ("slo", "w"),
    ("d", "at"),
    ("a", "t"),
    ("dat", "a"),
)

_RANK = {pair: i for i, pair in enumerate(MERGES)}


def bpe_encode(word: str) -> list[str]:
    """Reference BPE: repeatedly merge the best-ranked adjacent pair."""
    toks = list(word)
    while len(toks) > 1:
        best_i, best_rank = -1, len(_RANK)
        for i in range(len(toks) - 1):
            r = _RANK.get((toks[i], toks[i + 1]), len(_RANK))
            if r < best_rank:
                best_i, best_rank = i, r
        if best_i < 0 or best_rank == len(_RANK):
            break
        toks[best_i : best_i + 2] = [toks[best_i] + toks[best_i + 1]]
    return toks


@lru_cache(maxsize=1 << 20)
def _count(word: str) -> int:
    return len(bpe_encode(word))


@pandas_udf(LongType())
def bpe_token_count_udf(words: pd.Series) -> pd.Series:
    # lru_cache across batches: each distinct word is encoded once per
    # executor even if the upstream distinct is imperfect.
    return words.map(_count).astype("int64")


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """Per-document BPE token counts via the vocabulary-join pattern.

    Output: (doc_id, n_words, n_bpe_tokens, n_chars) — n_bpe_tokens is
    the sum over the document's words of the word's BPE token count.
    """
    occurrences = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    vocab = occurrences.select("word").distinct()
    counted = vocab.select(
        "word", bpe_token_count_udf(F.col("word")).alias("word_tokens")
    )
    # Equi-join on word: AQE broadcasts the (small) vocab side; at web
    # scale it degrades gracefully to a partitioned shuffle join.
    return (
        occurrences.join(counted, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_chars"),
        )
    )


# -- BPE TRAINING (learning the merge table from corpus statistics) --------

TRAIN_MERGES = 8


def _merge_pair_udf(a: str, b: str):
    """Per-round UDF: merge adjacent (a, b) left-to-right in symbol lists.

    Closed over the round's winning pair (the kmeans-centroid pattern:
    one tiny driver-synced artifact per round rides the closure). Python
    cost is O(|vocab|) symbols per round — the trainer never touches the
    occurrence stream.
    """

    @pandas_udf("array<string>")
    def _m(syms: pd.Series) -> pd.Series:
        def merge(toks):
            out, i, n = [], 0, len(toks)
            while i < n:
                if i < n - 1 and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            return out

        return syms.map(lambda t: merge(list(t)))

    return _m.asNondeterministic()


def train_bpe(docs: DataFrame, n_merges: int = TRAIN_MERGES) -> DataFrame:
    """Learn a BPE merge table from the corpus: the tokenizer TRAINER.

    The scale shape mirrors inference (tokenize-the-vocabulary): training
    runs entirely on the word HISTOGRAM (word, n_occurrences) — corpus
    size only enters through one groupBy. Each round is one distributed
    job over the vocab table:

      1. adjacent symbol pairs explode (fan-out = symbols per word) and
         sum occurrence-weighted counts (map-side combine);
      2. the argmax pair (count desc, then lexical — deterministic ties)
         returns to the driver (ONE row per round — ``n_merges`` bounds
         the total driver round-trips, an inherent property of BPE's
         sequential merge dependency; the per-round pair counting is
         fully distributed);
      3. a closure UDF merges that pair inside every word's symbol list.

    The vocab frame is localCheckpoint-ed per round: each round's plan
    reads the previous round's materialized result, keeping lineage flat
    across the sequential dependency (same reasoning as Lloyd's k-means).
    Returns the ordered merge table (rank, left, right, pair_count) —
    the model artifact ``MERGES``-style inference consumes. No SQL
    oracle: iterative merge application is not SQL-expressible; exact
    merge sequences are pinned by tests/test_bpe.py.
    """
    vocab = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        # split keeps the trailing empty match (Pattern.split limit -1):
        # drop it or it becomes a phantom symbol in every word
        .withColumn("syms", F.array_remove(F.split(F.col("w"), "(?!^)"), ""))
        .select("n", "syms")
        .localCheckpoint(eager=False)
    )
    learned = []
    for rank in range(n_merges):
        pairs = (
            vocab.select("n", F.explode(ngram_windows(F.col("syms"), 2)).alias("p"))
            .groupBy(F.col("p.w0").alias("a"), F.col("p.w1").alias("b"))
            .agg(F.sum("n").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not top or top[0].c < 2:
            break
        a, b, c = top[0].a, top[0].b, top[0].c
        learned.append((rank, a, b, c))
        vocab = vocab.select(
            "n", _merge_pair_udf(a, b)(F.col("syms")).alias("syms")
        ).localCheckpoint(eager=False)
    spark = docs.sparkSession
    return spark.createDataFrame(
        learned, "merge_rank long, left string, right string, pair_count long"
    )


# -- driver-checkable gate renderings (the sketch-monitor trick) ------------


def bpe_token_stats_gate(docs: DataFrame) -> DataFrame:
    """Oracle-checkable rendering of :func:`bpe_token_stats`.

    Exact columns (n_words, n_chars) are SQL-replicable; the token count
    itself is gated by two invariants of a correct BPE over non-empty
    words — every word encodes to >= 1 and <= len(word) tokens, so
    summed per document: n_words <= n_bpe_tokens <= n_chars. The DuckDB
    oracle emits literal TRUE for the verdicts: a broken tokenizer
    (dropped words, phantom splits, zero counts) flips a verdict and
    fails the value hash. Exact per-word tokenizations are pinned by
    tests/test_bpe.py.
    """
    stats = bpe_token_stats(docs)
    return stats.select(
        "doc_id",
        "n_words",
        "n_chars",
        (F.col("n_bpe_tokens") >= F.col("n_words")).alias("tokens_ge_words"),
        (F.col("n_bpe_tokens") <= F.col("n_chars")).alias("tokens_le_chars"),
    )


# No double/leading/trailing spaces in the corpus (asserted by
# tests/test_bpe.py), so words = spaces + 1 and chars = length - spaces.
BPE_TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
       CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
       TRUE AS tokens_ge_words,
       TRUE AS tokens_le_chars
FROM documents
"""


def bpe_train_gate(docs: DataFrame, n_merges: int = TRAIN_MERGES) -> DataFrame:
    """Oracle-checkable rendering of :func:`train_bpe`.

    One verdict row: the ROUND-0 argmax pair and count are SQL-exact
    (one weighted bigram count over the char-split vocab — no iteration
    yet), so DuckDB replicates them value-for-value; rounds 1..n are
    gated by invariants of a correct trainer — the winning pair count is
    non-increasing in rank (any pair a later round can pick existed, at
    no higher count, when an earlier round picked its argmax), every
    count clears the >= 2 stop threshold, and no pair is learned twice
    (its occurrences were consumed by its own merge). ``n_merges_learned``
    pins that training runs the full budget on this corpus. Exact merge
    sequences are pinned by tests/test_bpe.py.
    """
    from pyspark.sql import Window

    merges = train_bpe(docs, n_merges)
    # <= n_merges rows of driver-built data: the single-partition window
    # is a deliberate driver-side summary, not a scale path.
    w = Window.orderBy("merge_rank")
    flags = merges.select(
        "merge_rank",
        "left",
        "right",
        "pair_count",
        F.coalesce(
            F.lag("pair_count").over(w) >= F.col("pair_count"), F.lit(True)
        ).alias("noninc"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_merges_learned"),
        F.min_by("left", "merge_rank").alias("first_left"),
        F.min_by("right", "merge_rank").alias("first_right"),
        F.min_by("pair_count", "merge_rank").alias("first_pair_count"),
        F.min("noninc").alias("counts_nonincreasing"),
        F.min(F.col("pair_count") >= 2).alias("counts_ge_2"),
        (
            F.count_distinct(F.concat_ws(" ", "left", "right"))
            == F.count(F.lit(1))
        ).alias("pairs_distinct"),
    )


BPE_TRAIN_SQL = f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
pairs AS (
  SELECT substring(w, CAST(i AS INT), 1) AS a,
         substring(w, CAST(i + 1 AS INT), 1) AS b,
         CAST(SUM(n) AS BIGINT) AS c
  FROM words, UNNEST(generate_series(1, CAST(length(w) - 1 AS INT))) AS g(i)
  WHERE length(w) >= 2
  GROUP BY 1, 2
),
top AS (SELECT a, b, c FROM pairs ORDER BY c DESC, a, b LIMIT 1)
SELECT CAST({TRAIN_MERGES} AS BIGINT) AS n_merges_learned,
       a AS first_left, b AS first_right, c AS first_pair_count,
       TRUE AS counts_nonincreasing,
       TRUE AS counts_ge_2,
       TRUE AS pairs_distinct
FROM top
"""
