"""End-to-end runs of the two pipeline products (tmp-dir sinks)."""

from __future__ import annotations

from conftest import last_job_id
from maap_data_pipelines_spark.pipelines import (
    run_curation_pipeline,
    run_stac_pipeline,
)


# Spark jobs one warm run may start at the test sf (local[4], 4 shuffle
# partitions). Every returned count comes from the write that produced
# it, so no output is read back to be counted, and the STAC pipeline
# plans its asset catalog once. Table reads take their schema and scan
# counts from the parquet footers, so no read starts a job.
STAC_JOB_BUDGET = 11
CURATION_JOB_BUDGET = 41


def test_stac_pipeline_end_to_end(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "stac_out")
    m = run_stac_pipeline(spark, sf_dir, out)
    assert m["n_items"] > 0
    assert m["n_submitted"] == m["n_items"]  # every item gets a receipt
    assert m["n_failed"] == 0
    assert m["n_transfers"] > 0
    assert m["n_copied"] == m["n_transfers"]  # dry-run copier: all land
    # idempotent: rerun overwrites to the identical state, in budget
    before = last_job_id(spark)
    m2 = run_stac_pipeline(spark, sf_dir, out)
    jobs = last_job_id(spark) - before
    assert m2 == m
    assert jobs <= STAC_JOB_BUDGET, jobs
    # every count the writes observed is what landed on disk
    back = lambda d: spark.read.parquet(f"{out}/{d}")
    status = F.col("status")
    assert m["n_items"] == back("catalog").count()
    assert m["n_transfers"] == back("transfer_plan").count()
    assert m["n_copied"] == back("transfer_receipts").filter(status == 200).count()
    assert m["n_submitted"] == back("receipts").count()
    assert m["n_failed"] == back("receipts").filter(status != 200).count()


def test_curation_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "cur_out")
    m = run_curation_pipeline(spark, sf_dir, out)
    assert m["n_in"] == m["n_kept"] + m["n_rejected"]
    assert 0 < m["n_kept"] < m["n_in"]  # cascade rejects some, not all
    # histogram reasons partition the corpus
    hist = {
        r.reason: r.n_docs
        for r in spark.read.parquet(out + "/rejections").collect()
    }
    assert sum(hist.values()) == m["n_in"]
    assert hist.get("ok", 0) == m["n_kept"]
    before = last_job_id(spark)
    m2 = run_curation_pipeline(spark, sf_dir, out)
    jobs = last_job_id(spark) - before
    assert m2 == m
    assert jobs <= CURATION_JOB_BUDGET, jobs
    assert m["n_kept"] == spark.read.parquet(out + "/corpus").count()


def test_discover_from_event_reference_payload(spark, tmp_path):
    """The reference's own sample event drives the Spark discovery."""
    from maap_data_pipelines_spark.pipelines import discover_from_event

    root = tmp_path / "bucket"
    (root / "dps_output" / "2022").mkdir(parents=True)
    (root / "dps_output" / "2022" / "a.tif").write_bytes(b"1" * 4)
    (root / "dps_output" / "2022" / "b.tif.aux").write_bytes(b"2" * 4)
    (root / "other" / "c").mkdir(parents=True)
    (root / "other" / "c" / "c.tif").write_bytes(b"3" * 4)

    # shape of lambdas/s3-discovery/handler.py __main__ sample_event
    event = {
        "prefix": "dps_output/",
        "bucket": "maap-ops-workspace",
        "filename_regex": r"^(.*)\.tif$",
        "upload": True,
        "user_shared": True,
        "start_datetime": "2022-01-01T00:00:00Z",
        "end_datetime": "2022-12-31T23:59:59Z",
        "properties": {"version": 2},
    }
    rows = discover_from_event(spark, event, str(root)).collect()
    assert len(rows) == 1  # prefix excludes other/, regex excludes .aux
    r = rows[0]
    assert r.remote_fileurl == "s3://maap-ops-workspace/dps_output/2022/a.tif"
    assert r.collection == "dps_output"  # default: prefix.rstrip('/')
    assert r.upload and r.user_shared and r.ingest  # ingest defaults True
    assert r.start_datetime == "2022-01-01T00:00:00Z"
    assert r.end_datetime == "2022-12-31T23:59:59Z"
    assert '"version": 2' in r.properties

    # explicit collection + no regex: every object under the prefix
    rows2 = discover_from_event(
        spark, {"prefix": "other/", "collection": "custom"}, str(root)
    ).collect()
    assert len(rows2) == 1 and rows2[0].collection == "custom"
    assert not rows2[0].upload and rows2[0].ingest


def test_discover_from_event_runs_python_regex_at_source(spark, tmp_path):
    """``filename_regex`` is matched by the dir_discovery source with
    Python's ``re.match``: a ``(?P<name>...)`` group, which Java's regex
    dialect rejects, filters the listing."""
    from maap_data_pipelines_spark.pipelines import discover_from_event

    root = tmp_path / "bucket"
    (root / "pre").mkdir(parents=True)
    (root / "pre" / "a.tif").write_bytes(b"x")
    (root / "pre" / "a.tif.aux").write_bytes(b"x")
    (root / "pre" / "b.nc").write_bytes(b"x")
    event = {"prefix": "pre/", "filename_regex": r"pre/(?P<stem>\w+)\.tif$"}
    rows = discover_from_event(spark, event, str(root)).collect()
    assert [r.remote_fileurl for r in rows] == ["s3://local/pre/a.tif"]


def test_discover_from_inventory_event(spark, tmp_path):
    from maap_data_pipelines_spark.pipelines import discover_from_inventory_event

    csv = tmp_path / "inv.csv"
    csv.write_text(
        "s3_path,meta_url,region\n"
        "s3://b/CCI_2020_tile1.tif,s3://b/CCI_2020_tile1.xml,na\n"
        "s3://b/sub/CCI_2020_tile2.tif,s3://b/CCI_2020_tile2.xml,eu\n"
        "s3://b/other.dat,,na\n"
    )
    event = {
        "collection": "ESACCI_Biomass",
        "inventory_url": "s3://b/inv.csv",
        "filename_regex": r"s3://b/CCI(.*)\.tif$",  # re.match: anchored
        "metadata_file_url_key": "meta_url",
        "metadata_type": "xml",
        "sample_asset_name": "cog_default",
        "upload": True,
    }
    rows = discover_from_inventory_event(spark, event, str(csv)).collect()
    # start-anchored match: the sub/ row does NOT match (re.match parity)
    assert len(rows) == 1
    r = rows[0]
    assert r.product_id == "CCI_2020_tile1"
    assert r.collection == "ESACCI_Biomass" and r.upload and r.ingest
    assert not r.cogify
    # canonical 'key=url' assets rendering (same encoding as the cmr
    # adapter and multi_asset_group -> union-compatible across modes)
    assert r.assets == "xml=s3://b/CCI_2020_tile1.xml"
    assert r.sample_asset_name == "cog_default"  # 'asset' key passthrough

    # an alternation filter keeps both extensions; product_id drops only
    # the last extension; an empty metadata cell gives NULL assets
    csv2 = tmp_path / "inv2.csv"
    csv2.write_text(
        "s3_path,metadata_path\n"
        "s3://b/x/granule_2020-01-01.tif,s3://b/x/granule_2020-01-01.xml\n"
        "s3://b/y/other_20210203.nc,\n"
        "s3://b/z/skipme.txt,\n"
    )
    event2 = {
        "collection": "c1",
        "filename_regex": r".*\.(tif|nc)$",
        "metadata_file_url_key": "metadata_path",
        "metadata_type": "xml",
    }
    rows2 = discover_from_inventory_event(spark, event2, str(csv2)).collect()
    by_url = {r.remote_fileurl: r for r in rows2}
    tif, nc = "s3://b/x/granule_2020-01-01.tif", "s3://b/y/other_20210203.nc"
    assert set(by_url) == {tif, nc}  # .txt filtered out
    assert by_url[tif].product_id == "granule_2020-01-01"
    assert by_url[tif].assets == "xml=s3://b/x/granule_2020-01-01.xml"
    assert by_url[nc].assets is None


def test_discover_from_inventory_event_runs_python_regex(spark, tmp_path):
    """The inventory mode matches ``filename_regex`` with Python's
    ``re.match``, as the s3 mode does: a ``(?P<name>...)`` group, which
    Java's regex dialect rejects, filters the rows, and a pattern Python
    cannot compile raises while the frame is built."""
    import re

    import pytest

    from maap_data_pipelines_spark.pipelines import discover_from_inventory_event

    csv = tmp_path / "inv.csv"
    csv.write_text(
        "s3_path\n"
        "s3://b/a.tif\n"
        "s3://b/a.tif.aux\n"
        "s3://b/sub/c.tif\n"
        "s3://b/d.nc\n"
    )
    event = {"collection": "c", "filename_regex": r"s3://b/(?P<stem>\w+)\.tif$"}
    rows = discover_from_inventory_event(spark, event, str(csv)).collect()
    assert [(r.remote_fileurl, r.product_id) for r in rows] == [
        ("s3://b/a.tif", "a")
    ]
    with pytest.raises(re.error):
        discover_from_inventory_event(
            spark, {**event, "filename_regex": "("}, str(csv)
        )


def test_discover_from_cmr_event_multi_asset(spark, tmp_path):
    import json as _json

    from maap_data_pipelines_spark.pipelines import discover_from_cmr_event

    s3rel = "http://esipfed.org/ns/fedsearch/1.1/s3#"
    base = "s3://store/AfriSAR___1/uavsar_v1-cov_a41_r9"
    granules = [
        {"id": "G1", "links": [
            {"rel": s3rel, "href": f"{base}_cov_1-1.bin"},
            {"rel": "http://other", "href": "https://x"},
        ]},
        {"id": "G2", "links": [{"rel": s3rel, "href": f"{base}_cov_1-1.hdr"}]},
        {"id": "G3", "links": [{"rel": "http://other", "href": "https://y"}]},
        {"id": "G4", "links": [
            {"rel": "http://esipfed.org/ns/fedsearch/1.1/metadata#", "href": "s3://b/g4.xml"},
            {"rel": s3rel, "href": "s3://b/g4.tif"},
        ]},
    ]
    dump = tmp_path / "granules.json"
    dump.write_text("\n".join(_json.dumps(g) for g in granules))
    gdf = spark.read.json(str(dump))

    event = {
        "collection": "AfriSAR_UAVSAR_Ungeocoded_Covariance",
        "version": "1",
        "data_file": ".bin",
        "data_file_regex": r"uavsar_v1-cov_a\d+_r\d+",
        "asset_roles": ["data"],
    }
    rows = discover_from_cmr_event(spark, event, gdf).collect()
    # one item per data_file (.bin) match; linkless G3 dropped
    assert len(rows) == 1
    r = rows[0]
    assert r.granule_id == "G1" and r.id == "G1"
    assert r.remote_fileurl.endswith("_cov_1-1.bin")
    assert r.product_id == "uavsar_v1-cov_a41_r9"
    # sorted suffix=url map over BOTH product files
    assert r.assets == (
        f"cov_1-1.bin={base}_cov_1-1.bin;cov_1-1.hdr={base}_cov_1-1.hdr"
    )
    assert r.asset_roles == "['data']"  # 'asset' key passthrough
    assert r.collection == "AfriSAR_UAVSAR_Ungeocoded_Covariance"

    # without data_file_regex: one file_obj per granule with an s3 link,
    # wherever that link sits in the granule's list (G4: second)
    plain = discover_from_cmr_event(
        spark, {"collection": "C"}, gdf
    ).collect()
    urls = {p.granule_id: p.remote_fileurl for p in plain}
    assert set(urls) == {"G1", "G2", "G4"}
    assert urls["G4"] == "s3://b/g4.tif"


def test_job_name_parity():
    """filter_sfname / execution-name rules from trigger + proxy lambdas."""
    from maap_data_pipelines_spark.pipelines import execution_name, filter_job_name

    assert filter_job_name(None) == ""
    assert filter_job_name("AfriSAR UAVSAR (v1)!") == "AfriSARUAVSARv1"
    long = "C" * 60
    assert execution_name({"collection": long}) == "C" * 38 + "-0001"
    assert execution_name({"collection": "X", "start_after": 7}) == "X-0007"
    # page capped at 9999 like the trigger
    assert execution_name({"collection": "X", "start_after": 123456}) == "X-9999"


def test_dispatch_discovery_routes_all_three_modes(spark, tmp_path):
    import json as _json

    from maap_data_pipelines_spark.pipelines import dispatch_discovery

    # s3 mode: reference sample-event shape over a local root
    root = tmp_path / "bucket"
    (root / "pre").mkdir(parents=True)
    (root / "pre" / "a.tif").write_bytes(b"x")
    s3_rows = dispatch_discovery(
        spark,
        {"discovery": "s3", "prefix": "pre/", "filename_regex": r"^(.*)\.tif$"},
        root=str(root),
    ).collect()
    assert [r.remote_fileurl for r in s3_rows] == ["s3://local/pre/a.tif"]

    # inventory mode
    csv = tmp_path / "inv.csv"
    csv.write_text("s3_path\ns3://b/t1.tif\n")
    inv_rows = dispatch_discovery(
        spark,
        {"discovery": "inventory", "collection": "Inv"},
        csv_path=str(csv),
    ).collect()
    assert inv_rows[0].product_id == "t1"

    # cmr mode via the HTTP client's stub transport
    s3rel = "http://esipfed.org/ns/fedsearch/1.1/s3#"
    body = _json.dumps(
        {"feed": {"entry": [
            {"id": "G1", "links": [{"rel": s3rel, "href": "s3://b/g1.nc"}]}
        ]}}
    )
    cmr_rows = dispatch_discovery(
        spark,
        {"discovery": "cmr", "collection": "C", "version": "1"},
        transport=lambda url: (200, {"CMR-Hits": "1"}, body),
    ).collect()
    assert cmr_rows[0].remote_fileurl == "s3://b/g1.nc"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown discovery"):
        dispatch_discovery(spark, {"discovery": "ftp"})


def test_run_discovery_spec_three_collections(spark, tmp_path):
    """Config-driven onboarding: a 3-collection run-spec (s3 + inventory
    + cmr) routes each event and unions receipts into one lineage-stamped
    frame — deploy/config.py's per-collection config loop as data."""
    import json as _json

    from maap_data_pipelines_spark.pipelines import run_discovery_spec

    root = tmp_path / "bucket"
    (root / "pre").mkdir(parents=True)
    (root / "pre" / "a.tif").write_bytes(b"x")
    csv = tmp_path / "inv.csv"
    csv.write_text("s3_path\ns3://b/t1.tif\n")
    s3rel = "http://esipfed.org/ns/fedsearch/1.1/s3#"
    body = _json.dumps(
        {"feed": {"entry": [
            {"id": "G1", "links": [{"rel": s3rel, "href": "s3://b/g1.nc"}]}
        ]}}
    )
    spec = [
        {"discovery": "s3", "collection": "CollS3", "prefix": "pre/"},
        {
            "discovery": "inventory",
            "collection": "CollInv",
            "ctx": {"csv_path": str(csv)},
        },
        {
            "discovery": "cmr",
            "collection": "CollCmr",
            "version": "1",
            "ctx": {"transport": lambda url: (200, {"CMR-Hits": "1"}, body)},
        },
    ]
    got = run_discovery_spec(spark, spec, root=str(root))
    rows = got.collect()
    by_coll = {r.collection: r for r in rows}
    assert set(by_coll) == {"CollS3", "CollInv", "CollCmr"}
    assert by_coll["CollS3"].remote_fileurl == "s3://local/pre/a.tif"
    assert by_coll["CollCmr"].remote_fileurl == "s3://b/g1.nc"
    # execution lineage is the trigger's deterministic job name
    assert by_coll["CollS3"].execution == "CollS3-0001"
    # one frame, filterable per collection like any other table
    assert got.filter("collection = 'CollInv'").count() == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        run_discovery_spec(spark, [])


def test_route_queue_records_groups_by_collection(spark, tmp_path):
    """Proxy twin: 3 queued events, 2 collections -> 2 unioned frames."""
    from maap_data_pipelines_spark.pipelines import route_queue_records

    root = tmp_path / "bucket"
    (root / "a").mkdir(parents=True)
    (root / "b").mkdir(parents=True)
    (root / "a" / "x.tif").write_bytes(b"x")
    (root / "a" / "y.tif").write_bytes(b"y")
    (root / "b" / "z.tif").write_bytes(b"z")
    records = [
        {"discovery": "s3", "collection": "CollA", "prefix": "a/"},
        {"discovery": "s3", "collection": "CollB", "prefix": "b/"},
        {"discovery": "s3", "collection": "CollA", "prefix": "a/"},
    ]
    routed = route_queue_records(spark, records, root=str(root))
    assert set(routed) == {"CollA-0001", "CollB-0001"}
    # CollA got both of its events unioned (2 files x 2 events)
    assert routed["CollA-0001"].count() == 4
    assert routed["CollB-0001"].count() == 1


def test_dataset_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """Split -> leakage -> removal plan -> packing -> partitioned corpus."""
    from maap_data_pipelines_spark.pipelines import run_dataset_pipeline

    out = str(tmp_path / "ds_out")
    m = run_dataset_pipeline(spark, sf_dir, out)
    assert m["n_docs"] > 0
    assert set(m["by_split"]) <= {"train", "val", "test"}
    assert m["by_split"]["train"] > m["by_split"].get("val", 0)  # 80/10/10
    assert m["n_packs"] > 0
    # artifacts exist and carry the right columns
    leak = spark.read.parquet(out + "/leakage")
    assert {"doc_id", "split", "n_ngrams", "n_leaked", "leak_ratio"} <= set(
        leak.columns
    )
    plan = spark.read.parquet(out + "/removal_plan")
    assert {"doc_id", "span_start", "span_end", "span_words"} <= set(plan.columns)
    # idempotent rerun
    assert run_dataset_pipeline(spark, sf_dir, out) == m


def test_incremental_ingest_admits_only_new_content(spark, tmp_path):
    """Batch 1 seeds state; replay admits 0; batch 2 admits only novelty."""
    from maap_data_pipelines_spark.pipelines import run_incremental_ingest

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    m1 = run_incremental_ingest(spark, b1, state)
    assert m1 == {"n_batch": 3, "n_admitted": 2, "n_corpus": 2}

    # at-least-once replay of the same batch: content-level idempotent
    m1b = run_incremental_ingest(spark, b1, state)
    assert m1b["n_admitted"] == 0 and m1b["n_corpus"] == 2

    b2 = spark.createDataFrame(
        [(10, "beta text"), (11, "gamma text"), (12, "gamma text")],
        "doc_id long, text string",
    )
    m2 = run_incremental_ingest(spark, b2, state)
    assert m2["n_admitted"] == 1  # only gamma is new content
    assert m2["n_corpus"] == 3
    ids = {
        r.doc_id for r in spark.read.parquet(state + "/corpus").collect()
    }
    assert ids == {1, 2, 11}  # min-doc_id survivors only


def test_embedding_health_report(spark, sf_dir, tmp_path):
    """The composed embedding-health product: all five sections persist,
    and the summary metrics are consistent with the section tables."""
    from maap_data_pipelines_spark.pipelines import run_embedding_health_report

    out = str(tmp_path / "health")
    rep = run_embedding_health_report(spark, sf_dir, out)
    assert set(rep) == {
        "knn_accuracy", "centroid_accuracy", "top_fisher_dim",
        "top_fisher", "n_outliers",
    }
    assert 0.0 <= rep["knn_accuracy"] <= 1.0
    assert 0.0 <= rep["centroid_accuracy"] <= 1.0
    assert 1 <= rep["top_fisher_dim"] <= 64
    assert rep["n_outliers"] > 0
    import os
    for section in ("knn_accuracy", "label_confusion", "fisher_ratio", "pca_top", "outliers"):
        assert spark.read.parquet(os.path.join(out, section)).count() > 0


def test_retrieval_report(spark, sf_dir, tmp_path):
    """The composed retrieval-stack product: all three ranking sections
    persist and the summary metrics are consistent and in range."""
    from maap_data_pipelines_spark.pipelines import run_retrieval_report

    out = str(tmp_path / "retrieval")
    rep = run_retrieval_report(spark, sf_dir, out)
    assert set(rep) == {
        "n_queries", "fused_moved_share",
        "mmr_relevance_paid_micro", "mmr_mean_max_sim_micro",
    }
    assert rep["n_queries"] >= 1
    assert 0.0 <= rep["fused_moved_share"] <= 1.0
    assert rep["mmr_relevance_paid_micro"] >= 0
    assert 0 <= rep["mmr_mean_max_sim_micro"] <= 1_000_000
    import os
    for section in ("bm25", "rrf", "mmr"):
        assert spark.read.parquet(os.path.join(out, section)).count() > 0
    # MMR output is exactly the diversified heads of the BM25 pools
    mmr = spark.read.parquet(os.path.join(out, "mmr"))
    bm25 = spark.read.parquet(os.path.join(out, "bm25"))
    pool = {(r.query_id, r.doc_id) for r in bm25.collect()}
    assert all((r.query_id, r.doc_id) in pool for r in mmr.collect())


def test_privacy_release_report_gates_consistently(spark, sf_dir, tmp_path):
    """The summary must agree with its own persisted evidence sections,
    and release_ok must be the conjunction of the three rungs."""
    from maap_data_pipelines_spark.pipelines import run_privacy_release_report

    out = str(tmp_path / "privacy")
    rep = run_privacy_release_report(spark, sf_dir, out)
    k = spark.read.parquet(out + "/k_anonymity")
    ld = spark.read.parquet(out + "/l_diversity")
    tc = spark.read.parquet(out + "/t_closeness")
    assert k.count() and ld.count() and tc.count()
    assert rep["release_ok"] == (
        rep["n_rows_k_at_risk"] == 0
        and rep["n_classes_low_diversity"] == 0
        and rep["n_classes_t_fail"] == 0
    )
    assert rep["worst_t_micro"] >= 0


def test_experiment_report_end_to_end(spark, sf_dir, tmp_path):
    from maap_data_pipelines_spark.pipelines import run_experiment_report

    out = str(tmp_path / "exp_out")
    m = run_experiment_report(spark, sf_dir, out)
    # the gate + readout identities
    assert m["srm_suspected"] in (0, 1)
    assert m["n_a"] > 0 and m["n_b"] > 0
    assert 0 <= m["variance_reduction_ppm"] <= 1_000_000
    # every persisted section is the registered operator's exact frame
    from maap_data_pipelines_spark.plans import events as ev

    for name, fn in (
        ("srm", ev.events_ab_srm_check),
        ("z_readout", ev.events_ab_test),
        ("cuped", ev.events_cuped),
        ("cuped_strata", ev.events_cuped_stratified),
        ("power", ev.events_ab_power),
        ("mde_curve", ev.events_mde_curve),
        ("sequential", ev.events_ab_sequential),
    ):
        back = spark.read.parquet(out + "/" + name)
        want = fn(spark, sf_dir)
        assert sorted(back.columns) == sorted(want.columns)
        key = lambda r: tuple(  # noqa: E731
            (v is None, v) for v in (r[c] for c in sorted(back.columns))
        )
        assert sorted(back.collect(), key=key) == sorted(
            want.collect(), key=key
        )
    # the summary's feasible MDE is consistent with the persisted curve
    mde = spark.read.parquet(out + "/mde_curve").collect()
    feas = [r.delta_micro for r in mde if r.feasible_now == 1]
    if feas:
        assert m["min_feasible_mde_micro"] == min(feas)
    else:
        assert m["min_feasible_mde_micro"] is None
    # the combined post-stratified lift is the exact n-weighted integer
    # fold of the persisted per-stratum section
    srows = [
        r
        for r in spark.read.parquet(out + "/cuped_strata").collect()
        if r.diff_cuped_milli is not None
    ]
    assert m["n_strata_defined"] == len(srows)
    if srows:
        num = sum((r.n_a + r.n_b) * r.diff_cuped_milli for r in srows)
        den = sum(r.n_a + r.n_b for r in srows)
        # Spark's `div` truncates toward zero (unlike Python's floor //)
        trunc = -(abs(num) // den) if num < 0 else num // den
        assert m["diff_stratified_milli"] == trunc
    # idempotent: rerun == same summary
    assert run_experiment_report(spark, sf_dir, out) == m


def test_curation_pipeline_yield_section_matches_registered(spark, sf_dir, tmp_path):
    """The pipeline's persisted yield report must equal the registered
    curation_yield_report row-for-row (the cascade_verdicts sharing must
    not change a single number)."""
    from maap_data_pipelines_spark.pipelines import run_curation_pipeline
    from maap_data_pipelines_spark.plans.llm import curation_yield_report

    out = str(tmp_path / "cur_yield")
    run_curation_pipeline(spark, sf_dir, out)
    back = spark.read.parquet(out + "/yield")
    want = curation_yield_report(spark, sf_dir)
    key = lambda r: r.reason  # noqa: E731
    assert sorted(back.collect(), key=key) == sorted(want.collect(), key=key)
