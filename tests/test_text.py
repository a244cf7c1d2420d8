"""Behavioral pins for the text-analysis operators."""

from __future__ import annotations

from maap_data_pipelines_spark.operators import text


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_token_stats_counts(spark):
    df = _docs(spark, [(1, "Hello world 42 times!", "en")])
    r = text.token_stats(df).collect()[0]
    assert r.n_ws_tokens == 4
    assert r.n_alpha_tokens == 3  # hello, world, times
    assert r.n_num_tokens == 1
    assert r.n_other_tokens == 1  # '!'
    assert r.n_chars_actual == len("Hello world 42 times!")


def test_text_quality_ratios(spark):
    df = _docs(spark, [(1, "the cat sat on the mat.", "en")])
    r = text.text_quality(df).collect()[0]
    assert r.n_words == 6
    assert r.n_stopwords == 3  # the, on, the ('mat.' has punctuation)
    assert r.n_punct == 1
    assert abs(r.stopword_ratio - round(3 / 6, 6)) < 1e-9


def test_lang_id_confusion(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog of the house", "en"),
            (2, "der hund und die katze nicht", "de"),
            (3, "xyzzy plugh qwerty", "en"),
        ],
    )
    rows = {(r.declared_lang, r.predicted_lang): r.n_docs for r in text.lang_id(df).collect()}
    assert rows[("en", "en")] == 1
    assert rows[("de", "de")] == 1
    assert rows[("en", "und")] == 1


def test_doc_fingerprint_order_sensitive(spark):
    df = _docs(spark, [(1, "alpha beta", "en"), (2, "beta alpha", "en")])
    rows = {r.doc_id: r.fingerprint for r in text.doc_fingerprint(df).collect()}
    assert rows[1] != rows[2]  # positional hash: order matters
    df2 = _docs(spark, [(3, "alpha beta", "en")])
    again = text.doc_fingerprint(df2).collect()[0].fingerprint
    assert again == rows[1]  # deterministic


def _docs_src(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_vocab_diff_set_semantics(spark):
    df = _docs_src(
        spark,
        [
            (1, "apple banana cherry", "src0"),
            (2, "banana date", "src0"),
            (3, "banana cherry elder", "src1"),
        ],
    )
    terms = {r.term for r in text.vocab_diff(df).collect()}
    assert terms == {"apple", "date"}  # in src0, absent from src1


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_word_pairs_blocking_complete(spark):
    words = ["cat", "cot", "coat", "cart", "act", "dog", "dot", "spark"]
    df = _docs_src(spark, [(0, " ".join(words), "src0")])
    got = {(r.word_a, r.word_b) for r in text.fuzzy_word_pairs(df).collect()}
    expected = {
        (a, b)
        for i, a in enumerate(sorted(words))
        for b in sorted(words)[i + 1 :]
        if _lev(a, b) <= 1
    }
    assert got == expected
    assert ("cat", "cot") in got  # substitution
    assert ("cat", "coat") in got  # insertion
    assert ("coat", "cot") in got  # deletion


def test_doc_perplexity_hand_computed(spark):
    """Tiny corpus with hand-derivable add-one bigram probabilities."""
    import math

    from maap_data_pipelines_spark.operators.text import doc_perplexity

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "z q"), (3, "solo")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in doc_perplexity(docs).collect()}
    # corpus LM: c(a,b)=2 c(b,a)=1 c(z,q)=1; c(a)=2 c(b)=1 c(z)=1; V=5
    assert set(rows) == {1, 2}  # single-token doc 3 has no bigrams
    assert rows[2].n_bigrams == 1
    # doc 2: ln((1+5)/(1+1)) = ln 3 -> ppl = 3 exactly
    assert rows[2].ppl == 3.0
    d1 = rows[1]
    assert d1.n_bigrams == 3
    expect = (math.log(7 / 3) + math.log(6 / 2) + math.log(7 / 3)) / 3
    assert abs(d1.avg_nll - round(expect, 6)) < 1e-9
    assert abs(d1.ppl - round(math.exp(expect), 6)) < 1e-9


def test_sentence_windows_udtf_sql_lateral(spark):
    """UDTF surface: SQL-callable table function with lateral correlation."""
    from maap_data_pipelines_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "a one. b two. c three. d four. e five"), (2, "solo")],
        ["doc_id", "text"],
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        """
        SELECT s.doc_id, s.win_id, s.start_sent, s.text
        FROM udtf_docs, LATERAL sentence_windows(doc_id, text) s
        ORDER BY s.doc_id, s.win_id
        """
    ).collect()
    got = [(r.doc_id, r.win_id, r.start_sent, r.text) for r in rows]
    assert got == [
        (1, 0, 0, "a one. b two. c three"),
        (1, 1, 2, "c three. d four. e five"),
        (2, 0, 0, "solo"),
    ]
    # every sentence of doc 1 is covered by at least one window
    covered = set()
    for _, _, start, text in got:
        covered.update(range(start, start + len(text.split(". "))))
    assert covered >= {0, 1, 2, 3, 4}


def test_bm25_topk_ranks_and_relevance(spark, sf_dir):
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.operators.text import BM25_QUERIES, bm25_topk
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = bm25_topk(docs).collect()
    assert out
    terms = {qid: set(ts) for qid, ts in BM25_QUERIES}
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    docs_text = {r.doc_id: r.text.lower().split(" ") for r in docs.collect()}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rnk)
        # contiguous ranks from 1, scores non-increasing in rank order
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        assert all(a.score >= b.score for a, b in zip(rows, rows[1:]))
        # every returned doc contains at least one query term
        for r in rows:
            assert terms[qid] & set(docs_text[r.doc_id])


def test_bm25_plan_has_partial_topk(spark, sf_dir):
    from maap_data_pipelines_spark.operators.text import bm25_topk
    from maap_data_pipelines_spark.sources.catalog import read_table

    plan = (
        bm25_topk(read_table(spark, sf_dir, "documents"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_bm25_rerank_prefers_proximate_terms(spark, sf_dir):
    from maap_data_pipelines_spark.operators.text import (
        _PROX_FAR,
        bm25_proximity_rerank,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    out = bm25_proximity_rerank(read_table(spark, sf_dir, "documents")).collect()
    assert out
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rerank)
        assert [r.rerank for r in rows] == list(range(1, len(rows) + 1))
        # rerank order is exactly (min_dist asc, score desc, doc_id asc)
        keys = [(r.min_dist, -r.score, r.doc_id) for r in rows]
        assert keys == sorted(keys)
        # sentinel only for candidates lacking two distinct query terms
        for r in rows:
            assert r.min_dist >= 1
            assert r.min_dist < 10000 or r.min_dist == _PROX_FAR


def test_term_cooccurrence_matches_brute_force(spark, sf_dir):
    """Bucketed position self-join == brute |Δpos|<=3 join (completeness),
    and each qualifying pair is counted exactly once (no probe dedup
    needed: the right side keeps its single home bucket)."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.operators.text import (
        COOC_WIN,
        term_cooccurrence,
        words_col,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(words_col(F.lower(F.col("text")))).alias("pos", "term")
    )
    a = pos.select("doc_id", F.col("term").alias("ta"), F.col("pos").alias("pa"))
    b = pos.select("doc_id", F.col("term").alias("tb"), F.col("pos").alias("pb"))
    brute = (
        a.join(b, "doc_id")
        .filter((F.col("pa") < F.col("pb")) & (F.col("pb") - F.col("pa") <= COOC_WIN))
        .groupBy(
            F.least("ta", "tb").alias("term_a"), F.greatest("ta", "tb").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n_cooc"))
    )
    want = {
        (r.term_a, r.term_b): r.n_cooc
        for r in brute.orderBy(F.desc("n_cooc"), "term_a", "term_b").limit(50).collect()
    }
    got = {(r.term_a, r.term_b): r.n_cooc for r in term_cooccurrence(docs).collect()}
    assert got == want and got


def test_doc_curriculum_buckets_partition_corpus(spark, sf_dir):
    """Quintile difficulty buckets: every scored doc lands in exactly one
    bucket, buckets are ordered by difficulty, sizes near-balanced."""
    from maap_data_pipelines_spark import registry

    rows = {r.bucket: r for r in registry.queries()["doc_curriculum"](spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    n_scored = registry.queries()["doc_perplexity"](spark, sf_dir).count()
    assert sum(r.n_docs for r in rows.values()) == n_scored
    # quantile thresholds => sizes within one doc of n/5 on continuous data
    sizes = [rows[b].n_docs for b in range(5)]
    assert max(sizes) - min(sizes) <= max(2, n_scored // 20)
    # easy->hard ordering: each bucket's hardest doc <= next bucket's
    for b in range(4):
        assert rows[b].max_ppl <= rows[b + 1].min_ppl


def test_mmr_diversifies_near_duplicate_pool(spark):
    """Crafted corpus: three near-identical top docs + two distinct ones.
    Plain BM25 top-5 is dominated by the copies; MMR must pick the best
    copy FIRST (pure relevance), then prefer the distinct docs over the
    remaining copies (their sim to the selected copy is ~1e6 micro)."""
    from maap_data_pipelines_spark.operators.text import retrieval_mmr_topk

    base = "hash join hash join hash join probe build"
    docs = spark.createDataFrame(
        [
            (0, base + " alpha"),
            (1, base + " beta"),
            (2, base + " gamma"),
            (3, "hash join over sorted runs with spill control and merge"),
            (4, "join order search hash table sizing and partition tuning"),
            (5, "completely unrelated text about gardening and soup"),
        ],
        "doc_id long, text string",
    )
    out = [
        (r.mmr_rank, r.doc_id)
        for r in retrieval_mmr_topk(docs)
        .filter("query_id = 0")  # query 0 = ('hash', 'join')
        .orderBy("mmr_rank")
        .collect()
    ]
    assert out[0][0] == 1 and out[0][1] in (0, 1, 2)  # best copy first
    picked = [d for _, d in out]
    # both distinct relevant docs beat the two remaining near-copies
    assert picked.index(3) < 3 or picked.index(4) < 3
    copies_in_top3 = sum(1 for d in picked[:3] if d in (0, 1, 2))
    assert copies_in_top3 == 1  # diversification actually happened


def test_mmr_rel_monotone_and_schema(spark, sf_dir):
    """On the real corpus: 5 picks per query, rank-1 is the BM25 argmax,
    mmr = rel - max_sim holds exactly, and all values are int64 micro."""
    from maap_data_pipelines_spark import registry

    rows = registry.queries()["retrieval_mmr_topk"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for q, picks in by_q.items():
        picks.sort(key=lambda r: r.mmr_rank)
        assert [p.mmr_rank for p in picks] == list(range(1, len(picks) + 1))
        assert picks[0].max_sim == 0 and picks[0].mmr == picks[0].rel
        assert picks[0].rel == 1_000_000  # pool max normalizes to 1.0
        for p in picks:
            assert p.mmr == p.rel - p.max_sim
            assert 0 <= p.max_sim <= 1_000_000


def test_anova_flat_on_uniform_sources_high_on_planted(spark, sf_dir):
    """Real corpus (uniform source lengths): F near 1. Planted corpus
    with one long-doc source: F must explode."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.operators.text import doc_length_anova

    rows = [(i, "t", "en", f"src{i % 4}", 100 + (i % 7)) for i in range(200)]
    rows += [(1000 + i, "t", "en", "srcLONG", 5000 + i) for i in range(50)]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    planted = doc_length_anova(df).collect()[0]
    assert planted.f_milli > 100_000  # wildly significant
    from maap_data_pipelines_spark import registry

    real = registry.queries()["doc_length_anova"](spark, sf_dir).collect()[0]
    assert real.k >= 2 and real.n > 0
    assert real.ssb >= 0 and real.ssw > 0
    assert real.f_milli < 5_000  # uniform synthetic sources: flat


def test_text_toolbox_lives_in_one_helper_each():
    """The n-gram window kernel, the BM25 query-term frame and the split
    hash are each written once per engine in the package (Spark-free
    source scan): ``arrays_zip`` only in ``text.ngram_windows``;
    ``BM25_QUERIES`` read by one function, ``text._bm25``, besides the
    module-level DuckDB ``VALUES`` list; the ``split:`` salt once as a
    Spark literal (``curation.split_bucket``) and once in SQL
    (``curation``'s module-level ``SPLIT_BUCKET_SQL``)."""
    import ast

    from conftest import package_scopes

    found = {"arrays_zip": set(), "BM25_QUERIES": set(), "split:": set()}
    for rel, scope, nodes in package_scopes():
        where = (rel, scope)
        for n in nodes:
            if (isinstance(n, ast.Attribute) and n.attr == "arrays_zip") or (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "arrays_zip(" in n.value
            ):
                found["arrays_zip"].add(where)
            if (
                isinstance(n, ast.Name)
                and n.id == "BM25_QUERIES"
                and isinstance(n.ctx, ast.Load)
            ):
                found["BM25_QUERIES"].add(where)
            if isinstance(n, ast.Constant) and (
                n.value == "split:" or "'split:'" in str(n.value)
            ):
                found["split:"].add(where)
    assert found == {
        "arrays_zip": {("operators/text.py", "ngram_windows")},
        "BM25_QUERIES": {
            ("operators/text.py", "_bm25"),
            ("operators/text.py", "<module>"),
        },
        "split:": {
            ("operators/curation.py", "split_bucket"),
            ("operators/curation.py", "<module>"),
        },
    }, found
