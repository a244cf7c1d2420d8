"""Behavioral pins for the corpus-curation operators (curation.py)."""

from __future__ import annotations

from maap_data_pipelines_spark.operators import curation


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_decontaminate_flags_copied_eval_text(spark):
    # doc 0 is in the eval slice (0 % 11 == 0); doc 1 copies a 5-gram from it
    eval_text = "alpha beta gamma delta epsilon zeta"
    df = _docs(
        spark,
        [
            (0, eval_text, "en", "s"),
            (1, "x y alpha beta gamma delta epsilon w", "en", "s"),
            (2, "totally unrelated words here nothing shared", "en", "s"),
        ],
    )
    rows = {r.doc_id: r for r in curation.decontaminate(df).collect()}
    assert 1 in rows and rows[1].n_overlap == 1 and rows[1].n_eval_docs == 1
    assert 2 not in rows  # clean doc produces no row


def test_decontaminate_eval_slice_excluded_from_output(spark):
    # an eval doc overlapping another eval doc must not appear as "train"
    t = "one two three four five six"
    df = _docs(spark, [(0, t, "en", "s"), (11, t, "en", "s")])
    assert curation.decontaminate(df).count() == 0


def test_repetition_stats_flags_repeated_doc(spark):
    df = _docs(
        spark,
        [
            (1, "spam ham " * 50 + "spam ham", "en", "s"),  # one dominant bigram
            (2, "a b c d e f g h i j", "en", "s"),  # all distinct
        ],
    )
    rows = {r.doc_id: r for r in curation.repetition_stats(df).collect()}
    assert not rows[1].keep
    assert rows[1].dup_word_frac == 1.0  # every word repeats
    assert rows[2].keep
    assert rows[2].dup_word_frac == 0.0
    assert rows[2].top_bigram_cnt == 1


def test_pii_scan_detects_and_redacts(spark):
    # doc 15: 15%3==0 -> email, 15%5==0 -> phone; doc 1: neither
    df = _docs(spark, [(15, "hello world", "en", "s"), (1, "plain", "en", "s")])
    rows = {r.doc_id: r for r in curation.pii_scan(df).collect()}
    assert rows[15].n_emails == 1 and rows[15].n_phones == 1 and rows[15].has_pii
    assert rows[1].n_emails == 0 and not rows[1].has_pii
    import hashlib

    expected = "hello world reach u15@example.com call +1-555-0015"
    expected_red = expected.replace("u15@example.com", "<EMAIL>").replace(
        "+1-555-0015", "<PHONE>"
    )
    assert rows[15].redacted_md5 == hashlib.md5(expected_red.encode()).hexdigest()


def test_domain_mixture_uniform_target(spark):
    # src0 has 3x the tokens of src1 -> downsample src0, upsample src1
    df = _docs(
        spark,
        [
            (1, "a b c d e f", "en", "src0"),
            (2, "a b c d e f", "en", "src0"),
            (3, "a b c d e f", "en", "src0"),
            (4, "a b c d e f", "en", "src1"),
        ],
    )
    rows = {r.source: r for r in curation.domain_mixture(df).collect()}
    assert rows["src0"].n_docs == 3 and rows["src0"].n_tokens == 18
    assert abs(rows["src0"].token_share - 0.75) < 1e-9
    assert abs(rows["src0"].sampling_factor - round(24 / (2 * 18), 6)) < 1e-9
    assert abs(rows["src1"].sampling_factor - round(24 / (2 * 6), 6)) < 1e-9


def test_dup_ngram_mass_cross_doc_only(spark):
    shared = " ".join(f"w{i}" for i in range(10))  # one shared 10-gram
    df = _docs(
        spark,
        [
            (1, shared + " tail one", "en", "s"),
            (2, "head two " + shared, "en", "s"),
            (3, "self self self self self self self self self self self", "en", "s"),
        ],
    )
    rows = {r.doc_id: r for r in curation.dup_ngram_mass(df).collect()}
    assert rows[1].n_dup_spans == 1 and rows[1].n_spans == 3
    assert rows[2].n_dup_spans == 1
    # doc 3 repeats WITHIN itself only: ddf counts distinct docs -> no dup
    assert rows[3].n_dup_spans == 0


def test_doc_pack_assign_concat_and_split(spark):
    # 3 docs of 100 tokens in one source: budget 256 -> doc 3 starts at
    # offset 200 in pack 0 and straddles into pack 1
    text = " ".join(["w"] * 100)
    df = _docs(spark, [(i, text, "en", "s") for i in (1, 2, 3)])
    rows = {r.doc_id: r for r in curation.doc_pack_assign(df).collect()}
    assert [rows[i].cum_before for i in (1, 2, 3)] == [0, 100, 200]
    assert [rows[i].pack_id for i in (1, 2, 3)] == [0, 0, 0]
    assert [rows[i].straddles for i in (1, 2, 3)] == [False, False, True]


def test_doc_length_histogram_buckets(spark):
    df = _docs(
        spark,
        [
            (1, "a", "en", "s"),          # 1 word  -> bucket 1
            (2, "a b c", "en", "s"),      # 3 words -> bucket 2
            (3, "a b c d", "en", "s"),    # 4 words -> bucket 3
        ],
    )
    rows = {r.len_bucket: r for r in curation.doc_length_histogram(df).collect()}
    assert rows[1].n_docs == 1 and rows[2].n_docs == 1 and rows[3].n_docs == 1
    assert rows[2].min_words == 3 and rows[2].max_words == 3


def test_domain_rebalance_deterministic_epochs(spark):
    # src0: 3 docs x 6 tokens = 18; src1: 1 doc x 6 = 6; total 24, 2 sources
    # factor(src0) = 24/(2*18) = 0.667 -> 0 or 1 copies per doc
    # factor(src1) = 24/(2*6)  = 2.0   -> exactly 2 copies, no hash draw
    df = _docs(
        spark,
        [
            (1, "a b c d e f", "en", "src0"),
            (2, "a b c d e f", "en", "src0"),
            (3, "a b c d e f", "en", "src0"),
            (4, "a b c d e f", "en", "src1"),
        ],
    )
    r1 = sorted((r.doc_id, r.copy_idx) for r in curation.domain_rebalance(df).collect())
    r2 = sorted((r.doc_id, r.copy_idx) for r in curation.domain_rebalance(df).collect())
    assert r1 == r2  # byte-identical across reruns (no RNG)
    assert [c for d, c in r1 if d == 4] == [1, 2]  # integer factor -> 2 epochs
    src0_copies = [d for d, _ in r1 if d != 4]
    assert all(c == 1 for d, c in r1 if d != 4)  # frac factor -> 0/1 copies
    assert len(src0_copies) <= 3


def test_doc_chunks_overlap_and_tail(spark):
    # 100 tokens, chunk 64, stride 48: starts 1 and 49; chunk 2 is 52 long
    words = [f"w{i}" for i in range(100)]
    df = _docs(spark, [(1, " ".join(words), "en", "s")])
    rows = sorted(curation.doc_chunks(df).collect(), key=lambda r: r.chunk_idx)
    assert [(r.chunk_idx, r.start, r.n_chunk_tokens) for r in rows] == [
        (0, 1, 64),
        (1, 49, 52),
    ]
    import hashlib

    assert rows[1].chunk_md5 == hashlib.md5(" ".join(words[48:]).encode()).hexdigest()
    # short doc: single chunk, no tail chunk inside the overlap
    short = _docs(spark, [(2, " ".join(words[:70]), "en", "s")])
    srows = curation.doc_chunks(short).collect()
    assert [(r.chunk_idx, r.n_chunk_tokens) for r in sorted(srows, key=lambda r: r.chunk_idx)] == [
        (0, 64),
        (1, 22),
    ]


def test_weighted_sample_rate_tracks_length(spark, sf_dir):
    """Longer docs must be sampled at higher rates; membership is a pure
    function of doc_id (deterministic across layouts)."""
    from maap_data_pipelines_spark import registry

    q = registry.queries()["doc_weighted_sample"]
    rows = q(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the integer gate condition that admitted the row
        assert r.gate * r.max_chars < r.n_chars * 1_000_000
    # rerun: byte-identical membership (no RNG)
    again = {r.doc_id for r in q(spark, sf_dir).collect()}
    assert again == {r.doc_id for r in rows}


def test_source_lang_drift_contingency_math(spark, sf_dir):
    from collections import Counter

    from maap_data_pipelines_spark import registry
    from maap_data_pipelines_spark.sources.catalog import read_table

    rows = registry.queries()["source_lang_drift"](spark, sf_dir).collect()
    assert rows
    docs = read_table(spark, sf_dir, "documents").select("source", "lang").collect()
    n = len(docs)
    row_t = Counter(d.source for d in docs)
    col_t = Counter(d.lang for d in docs)
    cell_t = Counter((d.source, d.lang) for d in docs)
    assert sum(r.observed for r in rows) == n
    for r in rows:
        o, rr, cc = cell_t[(r.source, r.lang)], row_t[r.source], col_t[r.lang]
        assert r.observed == o
        assert r.expected_e6 == rr * cc * 1_000_000 // n
        num = o * n - rr * cc
        assert abs(r.chi2_term - round(num * num / (n * rr * cc), 6)) < 1e-9


def _split_buckets(spark, ids):
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.functions.hashing import md5_long

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    b = F.pmod(md5_long(F.concat(F.lit("split:"), F.col("doc_id"))), F.lit(100))
    return {r.doc_id: r.b for r in df.select("doc_id", b.alias("b")).collect()}


def test_split_leakage_duplicate_across_splits(spark):
    """A doc duplicated verbatim train->eval leaks 100%; unrelated leaks 0."""
    from maap_data_pipelines_spark.operators.curation import split_leakage

    buckets = _split_buckets(spark, range(40))
    train_id = next(i for i, b in buckets.items() if b < 80)
    eval_ids = [i for i, b in buckets.items() if b >= 80]
    assert len(eval_ids) >= 2, "hash split produced no eval docs in range"
    dup_id, clean_id = eval_ids[0], eval_ids[1]

    shared = "the quick brown fox jumps over the lazy dog"
    other = "completely different words that never appear elsewhere at all"
    docs = spark.createDataFrame(
        [(train_id, shared), (dup_id, shared), (clean_id, other)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in split_leakage(docs).collect()}
    assert set(rows) == {dup_id, clean_id}  # train docs emit no row
    assert rows[dup_id].leak_ratio == 1.0  # verbatim dup: total leakage
    assert rows[clean_id].n_leaked == 0 and rows[clean_id].leak_ratio == 0.0
    assert rows[dup_id].split in ("val", "test")


def test_dup_span_removal_merges_sliding_hits(spark):
    """A copied 12-word paragraph -> ONE merged span in the copier, none in
    the keeper (lowest doc_id); an unrelated doc emits nothing."""
    from maap_data_pipelines_spark.operators.curation import dup_span_removal

    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + para),          # keeper (min doc_id)
            (2, para + " trailing unique suffix two"),  # copier: spans cut
            (3, "totally unrelated text with many plain words in it"),
        ],
        "doc_id long, text string",
    )
    rows = dup_span_removal(docs).collect()
    assert {r.doc_id for r in rows} == {2}
    # 12 shared words at positions 1..12: three sliding 10-grams merge to one
    [span] = rows
    assert (span.span_start, span.span_end, span.span_words) == (1, 12, 12)


def test_dup_span_removal_separate_spans_stay_separate(spark):
    """Two duplicated regions separated by unique words -> two spans."""
    from maap_data_pipelines_spark.operators.curation import dup_span_removal

    a = "one two three four five six seven eight nine ten"          # 10 words
    b = "red orange yellow green blue indigo violet pink brown black"
    docs = spark.createDataFrame(
        [
            (1, a + " " + b),
            (2, a + " unique1 unique2 unique3 unique4 unique5 " + b),
        ],
        "doc_id long, text string",
    )
    rows = sorted(dup_span_removal(docs).collect(), key=lambda r: r.span_start)
    assert [r.doc_id for r in rows] == [2, 2]
    assert (rows[0].span_start, rows[0].span_end) == (1, 10)
    assert (rows[1].span_start, rows[1].span_end) == (16, 25)


def test_novelty_pioneer_conservation(spark, sf_dir):
    """Every distinct 3-gram has exactly ONE pioneer, so the sum of
    pioneered counts over docs equals the corpus's distinct-shingle
    count — the conservation law the novelty metric rests on. Also:
    novelty is in (0, 1] and doc 0 (nothing earlier) scores exactly 1."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.operators import curation
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    nov = curation.doc_ngram_novelty(docs)
    total_pioneered = nov.agg(F.sum("n_pioneered")).collect()[0][0]
    distinct_shingles = (
        curation._shingle_rows(docs, curation.NOVELTY_NGRAM)
        .select("shingle")
        .distinct()
        .count()
    )
    assert total_pioneered == distinct_shingles
    rows = {r.doc_id: r for r in nov.collect()}
    # novelty = 0 is legitimate (a doc that pioneered nothing)
    assert all(0 <= r.novelty <= 1.0 for r in rows.values())
    first_doc = min(rows)
    assert rows[first_doc].novelty == 1.0


def test_packing_efficiency_crafted(spark):
    """Known word counts → exact bucket assignment, padding and
    truncation accounting."""
    from maap_data_pipelines_spark.operators.curation import (
        PACK_BUCKETS,
        packing_efficiency,
    )

    def doc(i, n):
        return (i, " ".join(["w"] * n))

    docs = spark.createDataFrame(
        [doc(0, 10), doc(1, 64), doc(2, 65), doc(3, 600)],
        "doc_id long, text string",
    )
    got = {r.bucket: r for r in packing_efficiency(docs).collect()}
    assert set(got) == {64, 128, 512}
    b64 = got[64]
    assert b64.n_docs == 2 and b64.total_tokens == 74
    assert b64.padded_tokens == (64 - 10) + (64 - 64)
    assert b64.truncated_tokens == 0
    assert b64.padding_micro == (54 * 1_000_000) // (2 * 64)
    b128 = got[128]
    assert b128.n_docs == 1 and b128.padded_tokens == 63
    b512 = got[512]  # 600-word doc: clipped at the top bucket
    assert b512.kept_tokens == 512 and b512.truncated_tokens == 88
    assert b512.padded_tokens == 0


def test_quality_nb_learns_the_rule(spark, sf_dir):
    """The trained NB must beat the majority-class baseline on its own
    training set — i.e. actually learn the rule, not memorize the prior
    (the structural-zero stopword bucket carries the signal)."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark import registry

    df = registry.queries()["quality_nb_classifier"](spark, sf_dir)
    s = df.agg(
        F.avg(F.col("correct").cast("int")).alias("acc"),
        F.avg(F.col("label_keep").cast("int")).alias("pos"),
    ).collect()[0]
    majority = max(s.pos, 1 - s.pos)
    assert s.acc > majority + 0.03
    assert s.acc > 0.95


def test_quality_nb_posterior_argmax_crafted(spark):
    """Hand-checkable corpus: 4 keepable docs (with stopwords) + 2
    no-stopword rejects. Laplace-smoothed NB must classify all 6
    correctly, and the bucket columns must expose the structural zero."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog here now"),
        (2, "a little text for the test of it all right now yes"),
        (3, "it is a good day to write some spark code in tests"),
        (4, "on and on the story goes with many simple words in it"),
        (5, "zebra xylophone quartz jumble vortex knight plasma glyph wombat crystal"),
        (6, "granite meteor falcon prism nebula copper lattice summit ridge canyon"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in curation.quality_nb_classifier(docs).collect()}
    assert all(out[i].label_keep and out[i].pred_keep for i in (1, 2, 3, 4))
    assert all(
        (not out[i].label_keep) and (not out[i].pred_keep) for i in (5, 6)
    )
    assert out[5].b_stop == 0 and out[1].b_stop > 0


def test_js_divergence_zero_for_healthy_split_high_for_disjoint(spark, sf_dir, tmp_path):
    """A hash split of one corpus reads ~0 milli-nats; a corpus whose
    train and val vocabularies are DISJOINT must read near ln2=693."""
    from maap_data_pipelines_spark import registry
    from maap_data_pipelines_spark.plans.etl import doc_split_js_divergence

    healthy = registry.queries()["doc_split_js_divergence"](
        spark, sf_dir
    ).collect()[0]
    assert healthy.js_milli <= 20

    # craft: find ids hashing to train vs val, give them disjoint vocab
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.functions.hashing import md5_long

    ids = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.pmod(
            md5_long(F.concat(F.lit("split:"), F.col("id"))), F.lit(100)
        ).alias("bucket"),
    )
    rows = ids.collect()
    crafted = []
    for r in rows:
        if r.bucket < 80:
            crafted.append((r.doc_id, "aaa bbb ccc ddd eee", "en", "s", 19))
        elif r.bucket < 90:
            crafted.append((r.doc_id, "vvv www xxx yyy zzz", "en", "s", 19))
    df = spark.createDataFrame(
        crafted, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = str(tmp_path / "js")
    df.write.parquet(out + "/documents.parquet")
    disjoint = doc_split_js_divergence(spark, out).collect()[0]
    assert disjoint.js_milli >= 650


def test_cascade_verdicts_matches_standalone(spark, sf_dir):
    """cascade_verdicts() is the SAME verdict frame the registered query
    emits — materialization must not change a single row — and the
    factored yield body over it reproduces curation_yield_report."""
    from maap_data_pipelines_spark.plans import llm
    from maap_data_pipelines_spark.sources.catalog import read_table

    verdicts = llm.cascade_verdicts(spark, sf_dir)
    standalone = llm.corpus_curation_extended(spark, sf_dir)
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(verdicts.collect(), key=key) == sorted(
        standalone.collect(), key=key
    )
    docs = read_table(spark, sf_dir, "documents")
    via_helper = llm.yield_report_from_verdicts(verdicts, docs)
    registered = llm.curation_yield_report(spark, sf_dir)
    key2 = lambda r: r.reason  # noqa: E731
    assert sorted(via_helper.collect(), key=key2) == sorted(
        registered.collect(), key=key2
    )
    # the checkpoint actually took: the helper's plan is a materialized
    # scan, not a re-derivation of the five-stage cascade
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "parquet" not in plan.lower()


def _deciles(spark, rows):
    return spark.createDataFrame(
        rows, "conf_decile bigint, n_docs bigint, n_label_keep bigint"
    )


def test_isotonic_pools_planted_violator(spark):
    """rates [250k, 750k, 500k] ppm: PAV pools deciles 2+3 into
    (3+2)/(4+4) = 625k; decile 1 untouched."""
    from maap_data_pipelines_spark.operators.curation import (
        isotonic_from_deciles,
    )

    out = {
        r.conf_decile: r
        for r in isotonic_from_deciles(
            _deciles(spark, [(1, 4, 1), (2, 4, 3), (3, 4, 2)])
        ).collect()
    }
    assert [out[d].calibrated_ppm for d in (1, 2, 3)] == [
        250_000, 625_000, 625_000,
    ]
    assert [out[d].pooled for d in (1, 2, 3)] == [0, 1, 1]
    assert [out[d].observed_ppm for d in (1, 2, 3)] == [
        250_000, 750_000, 500_000,
    ]


def test_isotonic_identity_on_monotone_input(spark):
    """Already-monotone observed rates come back untouched."""
    from maap_data_pipelines_spark.operators.curation import (
        isotonic_from_deciles,
    )

    rows = [(0, 10, 1), (1, 10, 4), (2, 10, 9)]
    out = isotonic_from_deciles(_deciles(spark, rows)).collect()
    for r in out:
        assert r.calibrated_ppm == r.observed_ppm and r.pooled == 0


def test_isotonic_global_violation_pools_everything(spark):
    """Strictly DECREASING rates pool into one block = the global rate,
    and the fit is constant (the PAV worst case)."""
    from maap_data_pipelines_spark.operators.curation import (
        isotonic_from_deciles,
    )

    rows = [(1, 5, 5), (2, 5, 3), (3, 5, 1)]
    out = {
        r.conf_decile: r
        for r in isotonic_from_deciles(_deciles(spark, rows)).collect()
    }
    assert {r.calibrated_ppm for r in out.values()} == {600_000}  # 9/15
    # decile 2's observed rate (3/5) coincides with the pooled rate, so
    # its fit-differs-from-observed flag is legitimately 0
    assert [out[d].pooled for d in (1, 2, 3)] == [1, 0, 1]


def test_isotonic_registered_query_monotone(spark, sf_dir):
    """The registered composition: calibrated_ppm must be monotone
    non-decreasing in conf_decile and agree with the reliability
    diagram's counts."""
    from maap_data_pipelines_spark.plans.documents import QUERIES

    rows = sorted(
        QUERIES["quality_isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r.conf_decile,
    )
    assert rows
    cal = [r.calibrated_ppm for r in rows]
    assert cal == sorted(cal)
    for r in rows:
        assert 0 <= r.calibrated_ppm <= 1_000_000
        assert r.observed_ppm == (r.n_label_keep * 1_000_000) // r.n_docs


def _platt_numpy(rows):
    """Independent replica of the Berkson minimum-logit-chi2 fit with the
    operator's exact quantization discipline (integer z_milli / w_micro)."""
    import math

    stats = [0, 0, 0, 0, 0]  # s0, s1, s2, sz, sxz
    per = []
    for x, n, k in rows:
        z = round(1000 * math.log((k + 1.0) / (n - k + 1.0)))
        w = (n * (k + 1) * (n - k + 1) * 1_000_000) // ((n + 2) * (n + 2))
        per.append((x, n, k, z, w))
        stats[0] += w
        stats[1] += w * x
        stats[2] += w * x * x
        stats[3] += w * z
        stats[4] += w * x * z
    s0, s1, s2, sz, sxz = (float(v) for v in stats)
    den = s0 * s2 - s1 * s1
    a = (s0 * sxz - s1 * sz) / den
    b = (sz - a * s1) / s0
    out = {}
    for x, n, k, _z, _w in per:
        p = 1_000_000.0 / (1.0 + math.exp(-(a * x + b) / 1000.0))
        out[x] = (math.floor(p), math.floor(a * 1000), math.floor(b * 1000))
    return out


def test_platt_fit_matches_independent_replica(spark):
    """platt_from_deciles == a from-scratch Python replica of the
    closed-form weighted-logit fit on a planted noisy-sigmoid frame
    (ppm tolerance 1 for the exp() ulp boundary)."""
    from maap_data_pipelines_spark.operators.curation import platt_from_deciles

    rows = [
        (0, 40, 2), (1, 35, 4), (2, 50, 9), (3, 45, 15), (4, 60, 28),
        (5, 55, 33), (6, 48, 36), (7, 52, 45), (8, 38, 35), (9, 44, 43),
    ]
    want = _platt_numpy(rows)
    got = {
        r.conf_decile: (r.platt_ppm, r.slope_micro, r.intercept_micro)
        for r in platt_from_deciles(_deciles(spark, rows)).collect()
    }
    assert set(got) == set(want)
    for x in want:
        assert abs(got[x][0] - want[x][0]) <= 1, (x, got[x], want[x])
        assert abs(got[x][1] - want[x][1]) <= 1
        assert abs(got[x][2] - want[x][2]) <= 1
    # a noisy-but-increasing reliability curve fits a positive slope and
    # a smooth fit: platt_ppm strictly increasing in the decile
    ppms = [got[x][0] for x in sorted(got)]
    assert got[0][1] > 0
    assert all(p1 < p2 for p1, p2 in zip(ppms, ppms[1:]))


def test_platt_separated_deciles_stay_finite(spark):
    """Perfect separation (all-0 then all-1 deciles) diverges under raw
    logistic MLE; the Laplace-smoothed closed form must stay finite and
    monotone — the exact failure mode Platt's smoothing exists for."""
    from maap_data_pipelines_spark.operators.curation import platt_from_deciles

    rows = [(0, 30, 0), (1, 30, 0), (2, 30, 0), (7, 30, 30), (8, 30, 30), (9, 30, 30)]
    out = {r.conf_decile: r for r in platt_from_deciles(_deciles(spark, rows)).collect()}
    assert set(out) == {0, 1, 2, 7, 8, 9}
    for r in out.values():
        assert r.platt_ppm is not None and 0 <= r.platt_ppm <= 1_000_000
    assert out[0].platt_ppm < 100_000 and out[9].platt_ppm > 900_000
    assert out[0].slope_micro > 0


def test_platt_registered_query_composition(spark, sf_dir):
    """quality_platt_scaling emits BOTH fits on the same lattice: the
    isotonic column equals the standalone isotonic query's fit, the platt
    column is a valid probability, and the shared deciles agree with the
    reliability diagram."""
    from maap_data_pipelines_spark.operators.curation import (
        quality_isotonic_calibration,
        quality_nb_calibration,
        quality_platt_scaling,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = {r.conf_decile: r for r in quality_platt_scaling(docs).collect()}
    iso = {r.conf_decile: r for r in quality_isotonic_calibration(docs).collect()}
    cal = {r.conf_decile: r for r in quality_nb_calibration(docs).collect()}
    assert set(out) == set(iso) == set(cal)
    for d, r in out.items():
        assert r.isotonic_ppm == iso[d].calibrated_ppm
        assert (r.n_docs, r.n_label_keep) == (cal[d].n_docs, cal[d].n_label_keep)
        assert 0 <= r.platt_ppm <= 1_000_000


def test_novelty_shared_index_matches_standalone(spark, sf_dir):
    """r12: doc_ngram_novelty over the shared DISTINCT hashed index
    (h1 IS md5_long of the same 3-word shingle) reproduces the
    standalone rows exactly."""
    from maap_data_pipelines_spark.operators.curation import doc_ngram_novelty
    from maap_data_pipelines_spark.operators.dedup import (
        _shingle_h12,
        _shingles_df,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    shd = _shingle_h12(_shingles_df(docs)).distinct().localCheckpoint()
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(
        doc_ngram_novelty(docs, shd_docs=shd).collect(),
        key=key,
    ) == sorted(doc_ngram_novelty(docs).collect(), key=key)


def test_short_documents_yield_no_ngrams(spark, sf_dir, tmp_path):
    """Documents shorter than n words have no n-gram windows: the empty,
    1-, 2- and 3-word docs run through every n-gram operator (n = 2, 3,
    5, 10) without a ``slice`` length error, each operator matches its
    oracle, and a doc appears only where it has at least one window.
    The crafted corpus is written as ``documents.parquet`` beside the
    other tables of ``sf_dir``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.oracle import compare
    from maap_data_pipelines_spark.sources.catalog import TABLES, read_table

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    short = {11: "", 22: "solo", 5: "two words", 6: "three word doc"}
    texts = {}
    for k in range(1, 34):
        body = f"t{k} u{k} v{k} w{k} x{k} y{k}"
        if k % 4 == 1 or k == 33:
            body += " " + shared
        texts[k] = short.get(k, f"{body} end{k} stop{k}")
    texts[7] = "a b a b a b a b a b c"
    ids = sorted(texts)
    n_words = {k: len(texts[k].split(" ")) for k in ids}
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [texts[k] for k in ids],
                "lang": ["en"] * len(ids),
                "source": ["src0"] * len(ids),
                "n_chars": pa.array([len(texts[k]) for k in ids], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    docs = read_table(spark, sf, "documents")

    for n in (2, 3, 5, 10):
        got = dict(
            curation._shingle_rows(docs, n).groupBy("doc_id").count().collect()
        )
        assert got == {k: n_words[k] - n + 1 for k in ids if n_words[k] >= n}, n

    cases = [
        (curation.decontaminate, curation.DECONTAMINATE_SQL, curation.DECON_NGRAM),
        (curation.dup_ngram_mass, curation.DUP_NGRAM_MASS_SQL, curation.DUP_SPAN_NGRAM),
        (curation.dup_span_removal, curation.DUP_SPAN_REMOVAL_SQL, curation.DUP_SPAN_NGRAM),
        (curation.split_leakage, curation.SPLIT_LEAKAGE_SQL, curation.DECON_NGRAM),
        (curation.doc_ngram_novelty, curation.DOC_NGRAM_NOVELTY_SQL, curation.NOVELTY_NGRAM),
        (curation.repetition_stats, curation.REPETITION_STATS_SQL, 2),
    ]
    for op, sql, n in cases:
        out = op(docs)
        assert compare(out, sql, sf) == [], op.__name__
        seen = {r.doc_id for r in out.select("doc_id").distinct().collect()}
        assert seen, op.__name__  # the oracle comparison is not over nothing
        assert not {k for k in seen if n_words[k] < n}, op.__name__
    nov = curation.doc_ngram_novelty(docs).filter(F.col("doc_id") == 6).collect()
    assert [r.n_shingles for r in nov] == [1]  # the 3-word doc's one 3-gram
