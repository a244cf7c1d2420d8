"""Behavioral pins for the dedup family on crafted documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from maap_data_pipelines_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_groups_identical_texts(spark):
    df = _docs(
        spark,
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "different text here")],
    )
    out = {r.text_md5: r for r in dedup.dedup_exact(df).collect()}
    assert len(out) == 2
    dup = [r for r in out.values() if r.n_copies == 2][0]
    assert dup.canonical_doc_id == 1


def test_minhash_identical_docs_full_signature_match(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, [(1, text), (2, text), (3, "completely unrelated words " * 3)])
    pairs = dedup.dedup_minhash_lsh(df).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.doc_a, p.doc_b) == (1, 2)
    assert p.est_jaccard == 1.0


def test_minhash_near_dup_scores_high(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19"
    edited = base.replace("w9", "x9")  # 3 of 18 shingles change
    df = _docs(spark, [(1, base), (2, edited)])
    pairs = dedup.dedup_minhash_lsh(df).collect()
    assert pairs and pairs[0].est_jaccard > 0.5


def test_simhash_identical_docs_zero_hamming(spark):
    text = "one two three four five six seven eight nine ten"
    df = _docs(spark, [(1, text), (2, text)])
    pairs = dedup.dedup_simhash(df).collect()
    assert len(pairs) == 1
    assert pairs[0].hamming == 0


def test_simhash_unrelated_docs_not_paired(spark):
    df = _docs(
        spark,
        [(1, "aa bb cc dd ee ff gg hh ii jj"), (2, "zz yy xx ww vv uu tt ss rr qq")],
    )
    assert dedup.dedup_simhash(df).collect() == []


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d} ; doc2: shingles {a b c}
    df = _docs(spark, [(1, "a b c d"), (2, "a b c")])
    rows = dedup.ngram_jaccard(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_common == 1
    assert r.jaccard == 0.5  # 1 / (2 + 1 - 1)


def test_ngram_short_docs_have_no_shingles(spark):
    df = _docs(spark, [(1, "a b"), (2, "a b")])
    assert dedup.ngram_jaccard(df).collect() == []


def test_dedup_clusters_transitive_closure(spark):
    # 1=2 and 2=3 (identical texts in overlapping pairs) must land in ONE
    # cluster labeled by the minimum doc_id, even though (1,3) may only be
    # connected transitively.
    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "alpha beta gamma delta epsilon zeta eta iota"
    df = _docs(spark, [(1, t1), (2, t1), (3, t1), (7, t2), (9, "x y z w v u t s")])
    labels = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(df).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    # doc 9 shares nothing: never a candidate, absent from the cluster map
    assert 9 not in labels


def test_quality_filter_reasons(spark):
    from maap_data_pipelines_spark.operators.text import quality_filter

    rows = [
        (1, "the quick brown fox jumps over the lazy dog here now ok", "en"),
        (2, "too short", "en"),
        (3, "qqqqqqqqqqqqqqqqq " * 12, "en"),  # no stopwords, huge words
        (4, "the !!! ??? ... ;;; ::: !!! ??? ... ;;; ::: !!!", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in quality_filter(df).collect()}
    assert out[1].keep and out[1].reason == "ok"
    assert not out[2].keep and out[2].reason == "word_count"
    assert not out[3].keep and out[3].reason == "mean_wlen"
    assert not out[4].keep and out[4].reason in ("no_stopword", "symbol_ratio", "mean_wlen")


def test_connected_components_pointer_jumping_on_chain(spark):
    # 33-node path graph: plain min-label propagation needs ~32 rounds;
    # pointer jumping must converge in O(log n) (incl. the stable-check
    # round). Labels must all collapse to the chain minimum.
    edges = [(i, i + 1) for i in range(32)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    und = df.union(df.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
    labels, rounds = dedup.connected_components(und, max_iter=40)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {i: 0 for i in range(33)}
    assert rounds <= 8, rounds


def test_connected_components_two_components(spark):
    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    und = df.union(df.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
    labels, _ = dedup.connected_components(und, max_iter=10)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_pagerank_int_path_graph_centrality(spark):
    """On the path a-b-c the middle node must outrank the ends; ranks are
    exact integers so equality of symmetric positions is exact. Unit
    weights: the plain PageRank dedup_pagerank runs."""
    from maap_data_pipelines_spark.operators.dedup import (
        PR_SCALE,
        pagerank_int_weighted,
    )

    edges = [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1)]
    und = spark.createDataFrame(edges, "doc_a long, doc_b long, w long")
    ranks = {r.doc_id: r.rank_u6 for r in pagerank_int_weighted(und).collect()}
    assert set(ranks) == {1, 2, 3}
    assert ranks[1] == ranks[3]  # symmetry, bit-exact
    assert ranks[2] > ranks[1]  # centrality
    base = 15 * PR_SCALE // 100
    assert all(v >= base for v in ranks.values())
    # truncating division only loses mass: total <= N * SCALE
    assert sum(ranks.values()) <= 3 * PR_SCALE


def test_dedup_pagerank_registry_nondegenerate(spark, sf_dir):
    from maap_data_pipelines_spark import registry

    rows = registry.queries()["dedup_pagerank"](spark, sf_dir).collect()
    assert rows  # candidate graph is non-empty on the synthetic corpus
    assert len({r.rank_u6 for r in rows}) > 1  # not all nodes equal


def test_similar_docs_topk_ranked_and_symmetric(spark, sf_dir):
    from maap_data_pipelines_spark import registry

    rows = registry.queries()["similar_docs_topk"](spark, sf_dir).collect()
    assert rows
    by_doc = {}
    for r in rows:
        assert r.doc_id != r.similar_doc_id
        by_doc.setdefault(r.doc_id, []).append(r)
    pairs = {(r.doc_id, r.similar_doc_id) for r in rows}
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        js = [r.jaccard for r in rs]
        assert js == sorted(js, reverse=True)
    # rank-1 neighbors at equal jaccard need not be mutual, but the pair
    # set itself is symmetric whenever both ends keep <3 neighbors
    ends = {d for d, _ in pairs} | {s for _, s in pairs}
    assert ends  # non-degenerate on the synthetic corpus


def test_cluster_sizes_conserve_docs(spark, sf_dir):
    from maap_data_pipelines_spark import registry

    hist = registry.queries()["dedup_cluster_sizes"](spark, sf_dir).collect()
    labels = registry.queries()["dedup_clusters"](spark, sf_dir).collect()
    assert hist
    assert all(r.cluster_size >= 2 or r.cluster_size == 1 for r in hist)
    assert all(r.n_docs == r.n_clusters * r.cluster_size for r in hist)
    assert sum(r.n_docs for r in hist) == len(labels)


def test_containment_catches_what_jaccard_misses(spark, sf_dir):
    """Excerpt twins must surface with high containment but sub-threshold
    Jaccard — the pair class resemblance dedup (>= 0.5 Jaccard on full
    shingle sets, MinHash bands) exists to find yet structurally cannot."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.operators.dedup import (
        CONTAIN_EXCERPT_MOD,
        CONTAIN_EXCERPT_OFFSET,
        dedup_containment,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = dedup_containment(docs).collect()
    assert out
    excerpt_pairs = [
        r
        for r in out
        if r.doc_b >= CONTAIN_EXCERPT_OFFSET
        and r.doc_b - CONTAIN_EXCERPT_OFFSET == r.doc_a
    ]
    n_excerpts = docs.filter(
        (F.col("doc_id") % CONTAIN_EXCERPT_MOD == 0) & (F.col("n_chars") >= 40)
    ).count()
    # every sufficiently long excerpt twin is found...
    assert len(excerpt_pairs) >= n_excerpts * 0.9 and excerpt_pairs
    for r in excerpt_pairs:
        # the word cut at the excerpt boundary can cost up to 2 shingles,
        # so only size the bound for excerpts with enough shingles
        assert r.containment >= (0.9 if r.n_common >= 10 else 0.8)
    # ...and at least some of them sit BELOW the resemblance threshold
    assert any(r.jaccard < 0.5 for r in excerpt_pairs)


def test_kcore_peel_converged_and_valid(spark, sf_dir):
    """Every surviving k-core node keeps degree >= k, and a SEVENTH peel
    round changes nothing — the fixed 6-round bound converges at test SF
    (parity would hold regardless; this pins that the bound is honest)."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.operators import dedup
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    core = dedup.dedup_kcore(docs)
    rows = core.collect()
    if rows:  # degree floor: every member keeps >= k within-core neighbors
        assert min(r.degree for r in rows) >= dedup.KCORE_K
        # the truncation verdict agrees: a min-degree >= k core means a
        # further peel round would change nothing
        assert all(r.converged for r in rows)
    # a 7th round is a no-op: no surviving node drops below k
    survivors = {r.doc_id for r in rows}
    edges = dedup.dedup_minhash_lsh(docs).select("doc_a", "doc_b")
    und = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    surviving_edges = [
        (r.doc_a, r.doc_b)
        for r in und.collect()
        if r.doc_a in survivors and r.doc_b in survivors
    ]
    from collections import Counter

    deg = Counter(a for a, _ in surviving_edges)
    assert all(deg[n] >= dedup.KCORE_K for n in survivors)


def test_streaming_admission_verdict_consistency(spark, sf_dir):
    """dedup_minhash_incremental's admitted flag is exactly
    (max_est_jaccard < INC_NEAR_DUP_EST), and candidates imply a
    band collision recorded in n_candidates."""
    from maap_data_pipelines_spark.operators import dedup
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    for r in dedup.dedup_minhash_incremental(docs).collect():
        assert r.admitted == (1 if r.max_est_jaccard < dedup.INC_NEAR_DUP_EST else 0)
        assert (r.n_candidates == 0) == (r.max_est_jaccard == 0.0)


def test_prefix_filter_matches_brute_force(spark, sf_dir):
    """AllPairs prefix pruning must be LOSSLESS: the prefix-filtered join
    equals the full brute inverted-index join (no df bound, no prefix)
    pair-for-pair on real data — the theorem, re-proved executably."""
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.size_a, r.size_b)
        for r in dedup.dedup_prefix_filter(docs).collect()
    }
    shd = (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) < 3 THEN array() ELSE transform("
                    "sequence(1, size(w) - 2), i -> concat_ws(' ', "
                    "element_at(w, i), element_at(w, i+1), element_at(w, i+2))) END"
                )
            ).alias("s"),
        )
        .distinct()
    )
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shd.alias("a"), shd.alias("b")
    brute = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .filter(F.expr("2 * n_common >= na + nb - n_common"))
    )
    want = {
        (r.doc_a, r.doc_b): (r.n_common, r.na, r.nb) for r in brute.collect()
    }
    assert got == want and got  # non-empty at sf0.01


def test_prefix_filter_prunes_candidates(spark, sf_dir):
    """The point of the prefix index: it must be a strict subset of the
    postings (indexing only ~half of each doc's rarest shingles), so the
    candidate join fans out on LOW-df shingles only."""
    from pyspark.sql.window import Window

    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    shd = (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) < 3 THEN array() ELSE transform("
                    "sequence(1, size(w) - 2), i -> concat_ws(' ', "
                    "element_at(w, i), element_at(w, i+1), element_at(w, i+2))) END"
                )
            ).alias("s"),
        )
        .distinct()
    )
    full = shd.count()
    dfreq = shd.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        shd.join(dfreq, "s")
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
        )
    )
    prefix = ranked.filter(F.expr("pos <= n - ((n + 1) div 2) + 1")).count()
    # prefix length is n - ceil(n/2) + 1 ~= n/2 + 1 per doc
    assert prefix < 0.7 * full


def _und(spark, pairs):
    e = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    return e.union(e.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))


def test_label_propagation_splits_barbell(spark):
    """Two 4-cliques joined by ONE bridge edge: CC merges them into a
    single component; LP must keep them as two dense communities — the
    finer granularity that motivates the operator."""
    clique1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    clique2 = [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    bridge = [(4, 11)]
    out = {
        r.doc_id: r.community
        for r in dedup.label_propagation(
            _und(spark, clique1 + clique2 + bridge)
        ).collect()
    }
    left = {out[v] for v in (1, 2, 3)}
    right = {out[v] for v in (12, 13, 14)}
    assert len(left) == 1 and len(right) == 1 and left != right
    # CC on the same graph gives ONE component (min label everywhere)
    labels, _ = dedup.connected_components(_und(spark, clique1 + clique2 + bridge))
    assert {r.cluster_id for r in labels.collect()} == {1}


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    """A single edge: each node's only neighbor label wins; after round 1
    both carry label of the other... the deterministic min tie-break at
    the count aggregation must make the outcome reproducible."""
    out = {
        r.doc_id: r.community
        for r in dedup.label_propagation(_und(spark, [(7, 9)])).collect()
    }
    # synchronous swap: after an even number of rounds each node is back
    # to its own label? No — round 1: 7 adopts 9's label(9), 9 adopts 7.
    # Round 2: 7's neighbor 9 now has label 7 -> 7 adopts 7; 9 adopts 9.
    # Rounds=4 (even) lands on the same fixed alternation, so the pin:
    assert out == {7: 7, 9: 9}
    # membership counts reflect final labels
    sizes = {
        r.doc_id: r.n_members
        for r in dedup.label_propagation(_und(spark, [(7, 9)])).collect()
    }
    assert sizes == {7: 1, 9: 1}


def test_canonical_election_prefers_quality_then_length(spark, sf_dir):
    """The elected survivor of every cluster must dominate its members
    under (passes_quality desc, n_chars desc, doc_id asc) — the policy,
    re-proved row-by-row; exactly one survivor per cluster."""
    from maap_data_pipelines_spark import registry

    rows = registry.queries()["dedup_canonical_election"](spark, sf_dir).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        best = sorted(
            members,
            key=lambda r: (not r.passes_quality, -r.n_chars, r.doc_id),
        )[0]
        survivors = [r for r in members if r.is_survivor]
        assert len(survivors) == 1, cid
        assert survivors[0].doc_id == best.doc_id == survivors[0].survivor_id


def test_winnowing_guarantee_on_verbatim_copy(spark):
    """Winnowing's contract: a verbatim shared substring of >= W+2 words
    must produce a shared fingerprint. A doc and its partial copy must
    match; two disjoint-vocabulary docs must not."""
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    copy = "intro words then " + " ".join(base.split()[2:12]) + " outro bits"
    other = "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14 x15"
    df = _docs(spark, [(1, base), (2, copy), (3, other)])
    pairs = {(r.doc_a, r.doc_b) for r in dedup.doc_winnowing_matches(df).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnowing_index_smaller_than_postings(spark, sf_dir):
    """The point of the selection: the winnowed fingerprint set must be
    well under the full distinct-shingle posting count (~2/(W+1))."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from maap_data_pipelines_spark.functions.hashing import md5_long
    from maap_data_pipelines_spark.operators.dedup import (
        WINNOW_W,
        _SPARK_SHINGLES,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    seqd = (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .select("doc_id", F.posexplode(F.expr(_SPARK_SHINGLES)).alias("pos", "s"))
        .select("doc_id", "pos", md5_long(F.col("s")).alias("h"))
    )
    full = seqd.select("doc_id", "h").distinct().count()
    wf = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    nw = Window.partitionBy("doc_id")
    fps = (
        seqd.withColumn("n", F.count(F.lit(1)).over(nw))
        .withColumn("wmin", F.min("h").over(wf))
        .filter(F.col("pos") <= F.col("n") - WINNOW_W)
        .select("doc_id", "wmin")
        .distinct()
        .count()
    )
    assert fps < 0.7 * full


def test_strategy_comparison_bounds_and_tuned_recall(spark, sf_dir):
    """Structural bounds hold for every strategy, and the tuned 12x4
    MinHash banding must keep recall >= 0.9 at the 0.5 threshold (the
    retune's documented contract)."""
    from maap_data_pipelines_spark import registry

    rows = {
        r.strategy: r
        for r in registry.queries()["dedup_strategy_comparison"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"minhash", "simhash", "ngram"}
    for r in rows.values():
        assert 0 <= r.n_true_found <= min(r.n_emitted, r.n_true_pairs)
        assert r.recall_ppm <= 1_000_000 and r.precision_ppm <= 1_000_000
    assert rows["minhash"].recall_ppm >= 900_000


def test_local_bridges_on_crafted_barbell_edge(spark):
    """In a barbell (two triangles + one bridge edge), only the bridge
    has zero common neighbors. Verified through the LP-style edge seam
    by recomputing on the operator's own candidate pairs at sf level via
    a crafted frame for the core logic."""
    import pyspark.sql.functions as F

    # core logic check on a crafted pair frame (bypasses MinHash):
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0),
         (4, 5, 1.0), (5, 6, 1.0), (4, 6, 1.0),
         (3, 4, 0.6)],
        ["doc_a", "doc_b", "est_jaccard"],
    )
    und = pairs.select("doc_a", "doc_b").union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    x, y = und.alias("x"), und.alias("y")
    embedded = (
        x.join(
            y,
            (F.col("x.doc_b") == F.col("y.doc_b"))
            & (F.col("x.doc_a") < F.col("y.doc_a")),
        )
        .select(F.col("x.doc_a").alias("doc_a"), F.col("y.doc_a").alias("doc_b"))
        .distinct()
    )
    bridges = pairs.join(embedded, ["doc_a", "doc_b"], "left_anti").collect()
    assert [(r.doc_a, r.doc_b) for r in bridges] == [(3, 4)]


def test_containment_shared_index_matches_standalone(spark, sf_dir):
    """r12: dedup_containment fed the caller-materialized DISTINCT hashed
    docs index (the curation-cascade shared frame) emits byte-identical
    rows to the standalone path — the union-then-distinct over
    (distinct docs rows ∪ raw excerpt rows) is set-identical to the
    distinct over the full corpus explode."""
    from maap_data_pipelines_spark.operators.dedup import (
        _shingle_h12,
        _shingles_df,
        dedup_containment,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    shd = _shingle_h12(_shingles_df(docs)).distinct().localCheckpoint()
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(
        dedup_containment(docs, shd_docs=shd).collect(),
        key=key,
    ) == sorted(dedup_containment(docs).collect(), key=key)


def test_minhash_distinct_hashed_matches_occurrence(spark, sf_dir):
    """r12: MinHash minima are invariant under per-doc DISTINCT of the
    shingle hashes (min over a set == min over the multiset), so the
    cascade's shared distinct index is a valid `hashed` feed."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.operators.dedup import (
        _shingle_h12,
        _shingles_df,
        dedup_minhash_lsh,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    hashed = (
        _shingle_h12(_shingles_df(docs))
        .distinct()
        .select("doc_id", F.col("h1").alias("h"))
    )
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(dedup_minhash_lsh(docs, hashed=hashed).collect(), key=key) == sorted(
        dedup_minhash_lsh(docs).collect(), key=key
    )


def test_shingle_index_schema_is_checked(spark):
    """ADVICE r11: a frame with an unrelated h1 column must be rejected,
    not silently joined on wrong keys — by every shingle-index consumer,
    with a ValueError that ``python -O`` does not strip."""
    import pytest

    from maap_data_pipelines_spark.operators.curation import doc_ngram_novelty
    from maap_data_pipelines_spark.operators.dedup import (
        dedup_containment,
        dedup_prefix_filter,
        ngram_jaccard,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e", 9)], ["doc_id", "text", "n_chars"]
    )
    bad = spark.createDataFrame([(1, 2, "x")], ["doc_id", "h1", "junk"])
    with pytest.raises(ValueError, match="shingle-index schema"):
        ngram_jaccard(docs, shd=bad)
    with pytest.raises(ValueError, match="shingle-index schema"):
        dedup_prefix_filter(docs, shd=bad)
    with pytest.raises(ValueError, match="shingle-index schema"):
        dedup_containment(docs, shd_docs=bad)
    with pytest.raises(ValueError, match="shingle-index schema"):
        doc_ngram_novelty(docs, shd_docs=bad)
