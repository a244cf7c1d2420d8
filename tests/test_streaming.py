"""Structured Streaming rollup: file source -> watermark -> windowed agg.

Writes event JSON files into a temp landing dir (one file per
micro-batch via maxFilesPerTrigger), drains with availableNow into a
memory sink, and checks the windowed aggregates against a hand-computed
batch result — including a late-arriving event admitted by the
watermark.
"""

from __future__ import annotations

import ast
import json
import os
import time


_WRITE_SEQ = [0]


def _write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    # Spark's FileStreamSource orders files by modification time and its
    # tie-break on equal-ms stamps is listing order (nondeterministic) —
    # under low load successive writes land in the same millisecond, and
    # the ORDER-DEPENDENT state tests (markov carries, cascade prefix
    # decisions) flake when batches permute. Stamp each written file with
    # a strictly increasing mtime so delivery order is the write order,
    # which is the precondition those operators document.
    import os
    import time

    _WRITE_SEQ[0] += 1
    t = time.time() + _WRITE_SEQ[0]
    os.utime(path, (t, t))


def test_streaming_hourly_rollup(spark, tmp_path):
    from maap_data_pipelines_spark.streaming.rollup import run_available_now

    src = tmp_path / "landing"
    src.mkdir()
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "view", "value": 1.25, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:45:00", "user_id": 2, "event_type": "view", "value": 2.50, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:10:00", "user_id": 1, "event_type": "click", "value": 0.75, "props": "{}"},
    ]
    # batch 2 includes a LATE event for hour 00 (within the 2h watermark)
    batch2 = [
        {"event_id": 4, "ts": "2024-01-01T02:00:30", "user_id": 3, "event_type": "view", "value": 4.00, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T00:59:59", "user_id": 3, "event_type": "view", "value": 1.00, "props": "{}"},
    ]
    _write_events(src / "batch1.json", batch1)
    _write_events(src / "batch2.json", batch2)

    q = run_available_now(spark, str(src), query_name="rollup_test")
    q.awaitTermination(120)
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)

    out = {
        (r.hour.isoformat(), r.event_type): r
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    h0_view = out[("2024-01-01T00:00:00", "view")]
    assert h0_view.n_events == 3  # late event admitted by watermark
    assert h0_view.value_cents == 125 + 250 + 100
    h1_click = out[("2024-01-01T01:00:00", "click")]
    assert h1_click.n_events == 1 and h1_click.value_cents == 75
    h2_view = out[("2024-01-01T02:00:00", "view")]
    assert h2_view.n_events == 1 and h2_view.value_cents == 400


def test_streaming_sessionize_merges_gap_windows(spark, tmp_path):
    from maap_data_pipelines_spark.streaming.rollup import streaming_sessionize

    src = tmp_path / "sessions"
    src.mkdir()
    # user 1: two events 10 min apart (one session), then one 2h later
    # within the SAME file; user 2: single event.
    _write_events(
        src / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T02:10:00", "user_id": 1, "event_type": "view", "value": 4.0, "props": "{}"},
            {"event_id": 4, "ts": "2024-01-01T00:30:00", "user_id": 2, "event_type": "view", "value": 8.0, "props": "{}"},
        ],
    )
    df = streaming_sessionize(spark, str(src))
    assert df.isStreaming
    q = (
        df.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)
    rows = spark.sql("SELECT * FROM sessions_test").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2  # gap merge: 2 sessions, not 3
    s1 = sorted(by_user[1], key=lambda r: r.session_start)
    assert s1[0].n_events == 2 and s1[0].value_cents == 300
    assert s1[1].n_events == 1 and s1[1].value_cents == 400
    assert len(by_user[2]) == 1 and by_user[2][0].n_events == 1


def test_stateful_sessionize_gap_and_timeout(spark, tmp_path):
    """applyInPandasWithState: gap-close within data, timeout via watermark.

    user 1: events at 00:00/00:10 then 02:10 — the 02:10 event closes the
    first session ('gap'); the second session must then be closed by
    TIMEOUT once the watermark (max_ts - 2h) passes 02:10 + 30min, which
    the user-99 sentinel at 10:00 provides. A final empty-ish batch (user
    99 at 10:01) runs the timeout sweep. user 99's own session stays open
    (watermark never reaches 10:31) and must NOT be emitted.
    """
    import os

    from maap_data_pipelines_spark.streaming.stateful import (
        streaming_sessionize_stateful,
    )

    src = tmp_path / "stateful"
    src.mkdir()
    _write_events(
        src / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T02:10:00", "user_id": 1, "event_type": "view", "value": 4.0, "props": "{}"},
        ],
    )
    _write_events(
        src / "b2.json",
        [{"event_id": 4, "ts": "2024-01-01T10:00:00", "user_id": 99, "event_type": "view", "value": 8.0, "props": "{}"}],
    )
    _write_events(
        src / "b3.json",
        [{"event_id": 5, "ts": "2024-01-01T10:01:00", "user_id": 99, "event_type": "view", "value": 1.0, "props": "{}"}],
    )
    # file source orders micro-batches by mtime: force b1 < b2 < b3
    base = time.time() - 100
    for i, name in enumerate(["b1.json", "b2.json", "b3.json"]):
        os.utime(src / name, (base + i, base + i))

    df = streaming_sessionize_stateful(spark, str(src))
    assert df.isStreaming
    q = (
        df.writeStream.format("memory")
        .queryName("stateful_sessions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)
    rows = spark.sql(
        "SELECT * FROM stateful_sessions_test ORDER BY user_id, session_start"
    ).collect()
    assert [r.user_id for r in rows] == [1, 1]  # user 99 still open
    gap_sess, timeout_sess = rows
    assert gap_sess.closed_by == "gap"
    assert gap_sess.n_events == 2 and gap_sess.value_cents == 300
    assert gap_sess.session_start.isoformat() == "2024-01-01T00:00:00"
    assert gap_sess.session_end.isoformat() == "2024-01-01T00:10:00"
    assert timeout_sess.closed_by == "timeout"
    assert timeout_sess.n_events == 1 and timeout_sess.value_cents == 400


def test_streaming_dedup_drops_replays(spark, tmp_path):
    """A replayed event (same content, later file) is emitted only once."""
    from maap_data_pipelines_spark.streaming.rollup import streaming_dedup

    src = tmp_path / "dedup"
    src.mkdir()
    e1 = {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"}
    e2 = {"event_id": 2, "ts": "2024-01-01T00:05:00", "user_id": 2, "event_type": "click", "value": 2.0, "props": "{}"}
    replay = dict(e1, event_id=3, ts="2024-01-01T00:30:00")  # same content
    _write_events(src / "b1.json", [e1, e2])
    _write_events(src / "b2.json", [replay])

    q = (
        streaming_dedup(spark, str(src))
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)
    rows = spark.sql("SELECT * FROM dedup_stream_test").collect()
    assert len(rows) == 2  # replay suppressed
    assert {r.user_id for r in rows} == {1, 2}


def test_streaming_plan_is_stateful_windowed(spark, tmp_path):
    from maap_data_pipelines_spark.streaming.rollup import streaming_hourly_rollup

    src = tmp_path / "landing2"
    src.mkdir()
    _write_events(
        src / "b.json",
        [{"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"}],
    )
    df = streaming_hourly_rollup(spark, str(src))
    assert df.isStreaming
    cols = set(df.columns)
    assert {"hour", "event_type", "n_events", "value_cents", "n_users_approx"} <= cols


def test_batch_and_streaming_sessionize_agree(spark, tmp_path):
    """The lag/cumsum batch formulation and session_window agree on
    session starts, event counts, and cents for identical input.

    (Ends differ by definition: session_window extends end by the gap;
    the batch rollup uses last event time — both are pinned elsewhere.)
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from maap_data_pipelines_spark.streaming.rollup import (
        EVENT_SCHEMA,
        streaming_sessionize,
    )

    src = tmp_path / "agree"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:20:00", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:30:00", "user_id": 1, "event_type": "view", "value": 4.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T00:10:00", "user_id": 2, "event_type": "view", "value": 8.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T00:39:00", "user_id": 2, "event_type": "view", "value": 16.0, "props": "{}"},
    ]
    _write_events(src / "all.json", rows)

    # streaming: session_window gap merge
    q = (
        streaming_sessionize(spark, str(src))
        .writeStream.format("memory")
        .queryName("agree_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)
    stream_sessions = {
        (r.user_id, r.session_start.isoformat(), r.n_events, r.value_cents)
        for r in spark.sql("SELECT * FROM agree_stream").collect()
    }

    # batch: lag + running-sum over the same files
    ev = spark.read.schema(EVENT_SCHEMA).json(str(src))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > gap_us, 1
        ).otherwise(0),
    ).withColumn("session_seq", F.sum("new_session").over(w))
    batch_sessions = {
        (r.user_id, r.session_start.isoformat(), r.n_events, r.value_cents)
        for r in flagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .collect()
    }
    assert stream_sessions == batch_sessions
    assert len(stream_sessions) == 3  # user1 x2, user2 x1 (39min gap splits? no: 29min)


def test_streaming_click_attribution_interval_join(spark, tmp_path):
    from maap_data_pipelines_spark.streaming.rollup import (
        streaming_click_attribution,
    )

    src = tmp_path / "attr_landing"
    src.mkdir()
    _write_events(
        src / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:06:00", "user_id": 2, "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T00:20:00", "user_id": 1, "event_type": "purchase", "value": 9.99, "props": "{}"},
        ],
    )
    _write_events(
        src / "b2.json",
        [
            # purchase >30min after user 2's click: out of the interval
            {"event_id": 4, "ts": "2024-01-01T01:00:00", "user_id": 2, "event_type": "purchase", "value": 5.00, "props": "{}"},
            # purchase with no prior click at all
            {"event_id": 5, "ts": "2024-01-01T01:10:00", "user_id": 3, "event_type": "purchase", "value": 1.00, "props": "{}"},
        ],
    )
    df = streaming_click_attribution(spark, str(src))
    q = (
        df.writeStream.format("memory")
        .queryName("attr_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)
    rows = spark.sql("SELECT * FROM attr_test").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.purchase_id == 3 and r.click_id == 1 and r.purchase_cents == 999
    # both sides must carry watermarks (what bounds the join state)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("EventTimeWatermark") == 2


def test_streaming_click_attribution_outer_emits_nulls_at_expiry(spark, tmp_path):
    from maap_data_pipelines_spark.streaming.rollup import (
        streaming_click_attribution_outer,
    )

    src = tmp_path / "attr_outer_landing"
    src.mkdir()
    _write_events(
        src / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:06:00", "user_id": 2, "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T00:20:00", "user_id": 1, "event_type": "purchase", "value": 9.99, "props": "{}"},
            # u2's click is 54 min before: outside the 30-min window
            {"event_id": 4, "ts": "2024-01-01T01:00:00", "user_id": 2, "event_type": "purchase", "value": 5.00, "props": "{}"},
            # no click at all for u3
            {"event_id": 5, "ts": "2024-01-01T01:10:00", "user_id": 3, "event_type": "purchase", "value": 1.00, "props": "{}"},
        ],
    )
    # Two pitfalls this test pins: (a) the global watermark is the MIN across
    # both withWatermark nodes, so the advancing batches must carry events on
    # BOTH sides or the purchase watermark parks forever; (b) the watermark
    # computed from batch N's data only takes effect in batch N+1, so a third
    # batch is required for the expiry scan that flushes the null rows.
    _write_events(
        src / "b2.json",
        [
            {"event_id": 6, "ts": "2024-01-01T12:00:00", "user_id": 99, "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 7, "ts": "2024-01-01T12:00:00", "user_id": 50, "event_type": "purchase", "value": 2.00, "props": "{}"},
        ],
    )
    _write_events(
        src / "b3.json",
        [
            {"event_id": 8, "ts": "2024-01-01T13:00:00", "user_id": 98, "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 9, "ts": "2024-01-01T13:00:00", "user_id": 51, "event_type": "purchase", "value": 2.00, "props": "{}"},
        ],
    )
    # distinct mtimes => the file source's batch order matches arrival order
    base_mt = 1_700_000_000
    for i, name in enumerate(["b1.json", "b2.json", "b3.json"]):
        os.utime(src / name, (base_mt + 10 * i, base_mt + 10 * i))
    df = streaming_click_attribution_outer(spark, str(src))
    q = (
        df.writeStream.format("memory")
        .queryName("attr_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)
    rows = spark.sql("SELECT * FROM attr_outer_test").collect()
    matched = {r.purchase_id: r for r in rows if r.click_id is not None}
    nulls = {r.purchase_id for r in rows if r.click_id is None}
    assert set(matched) == {3} and matched[3].click_id == 1
    assert {4, 5} <= nulls  # out-of-window and click-less purchases survive


def test_dir_discovery_streaming_source(spark, tmp_path):
    """Python DataSource streaming: new files arrive in later micro-batches."""
    from maap_data_pipelines_spark.sources.pyds import register

    root = tmp_path / "landing_bucket"
    (root / "collA").mkdir(parents=True)
    f1 = root / "collA" / "scene_1.tif"
    f1.write_bytes(b"a" * 7)
    os.utime(f1, (1_700_000_000, 1_700_000_000))
    (root / "collA" / "skip.txt").write_bytes(b"no")

    register(spark)
    df = (
        spark.readStream.format("dir_discovery")
        .option("path", str(root))
        .option("filename_regex", r".*\.tif$")
        .load()
    )
    assert df.isStreaming
    q = (
        df.writeStream.format("memory")
        .queryName("disc_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r.key for r in spark.sql("SELECT * FROM disc_stream").collect()}
        assert first == {"collA/scene_1.tif"}

        f2 = root / "collA" / "scene_2.tif"
        f2.write_bytes(b"b" * 9)
        os.utime(f2, (1_700_000_100, 1_700_000_100))
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM disc_stream").collect()
        keys = [r.key for r in rows]
        assert sorted(keys) == ["collA/scene_1.tif", "collA/scene_2.tif"]
        assert len(keys) == len(set(keys))  # watermark offset: no replays
    finally:
        q.stop()


def test_batch_curation_operators_run_unchanged_on_streams(spark, sf_dir, tmp_path):
    """Unified batch/stream: the stateless curation gates (quality_filter,
    text_normalize) are plain column-expression plans, so the SAME
    operator functions run on a readStream frame with zero changes — the
    Spark claim that batch curation logic promotes to incremental ingest
    without a rewrite. Results must equal the batch run bit-for-bit.
    (Aggregating operators like lang_id need the watermark treatment the
    streaming/ module provides — that path is pinned separately.)
    """
    from maap_data_pipelines_spark.operators.text import (
        quality_filter,
        text_normalize,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table

    batch_docs = read_table(spark, sf_dir, "documents")
    # the file stream source wants a directory (a landing area), not a file
    import shutil

    land = tmp_path / "docs_landing"
    land.mkdir()
    shutil.copy(sf_dir + "/documents.parquet", land / "part-0.parquet")
    stream_docs = (
        spark.readStream.schema(batch_docs.schema).parquet(str(land))
    )
    assert stream_docs.isStreaming

    for tag, op in (("qf", quality_filter), ("tn", text_normalize)):
        q = (
            op(stream_docs)
            .writeStream.format("memory")
            .queryName(f"stream_cur_{tag}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            tuple(r) for r in spark.table(f"stream_cur_{tag}").collect()
        }
        want = {tuple(r) for r in op(batch_docs).collect()}
        assert got == want, f"{tag}: stream result != batch result"


def test_streaming_sliding_trend_matches_batch_keys(spark, tmp_path):
    """The sliding-window stream produces the same (window, type) keys and
    counts the batch events_sliding_trend arithmetic derives — backfill
    and live cut over seamlessly."""
    import json as _json

    from maap_data_pipelines_spark.streaming.rollup import streaming_sliding_trend

    src = tmp_path / "landing"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:20:00", "user_id": 2,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:10:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
    ]
    with open(src / "a.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    q = (
        streaming_sliding_trend(spark, str(src))
        .writeStream.format("memory")
        .queryName("slide_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.isoformat(), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM slide_test").collect()
    }
    # event 1 (00:05) belongs to windows starting 23:15..00:00; events 1+2
    # share the 00:00 window but only event 2 reaches 00:15
    assert got[("2024-01-01T00:00:00", "view")] == 2
    assert got[("2024-01-01T00:15:00", "view")] == 1
    assert got[("2023-12-31T23:15:00", "view")] == 1
    assert got[("2024-01-01T01:00:00", "click")] == 1
    # every event lands in exactly 4 windows
    assert sum(v for (_, t), v in got.items() if t == "view") == 8
    assert sum(v for (_, t), v in got.items() if t == "click") == 4


def test_live_rollup_pipeline_incremental_and_exactly_once(spark, tmp_path):
    """The streaming materialized view: merge-per-batch, replay-guarded."""
    from maap_data_pipelines_spark.pipelines import (
        apply_rollup_batch,
        run_live_rollup_pipeline,
    )
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "mv_landing"
    src.mkdir()
    _write_events(
        src / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "view", "value": 1.25, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:45:00", "user_id": 2, "event_type": "view", "value": 2.50, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T01:10:00", "user_id": 1, "event_type": "click", "value": 0.75, "props": "{}"},
        ],
    )
    tdir, cp = str(tmp_path / "mv_table"), str(tmp_path / "mv_cp")
    q = run_live_rollup_pipeline(spark, str(src), tdir, cp)
    q.awaitTermination(120)
    t = VersionedTable(tdir)
    got = {
        (r.hour.isoformat(), r.event_type): (r.n_events, r.value_cents)
        for r in t.read(spark).collect()
    }
    assert got == {
        ("2024-01-01T00:00:00", "view"): (2, 375),
        ("2024-01-01T01:00:00", "click"): (1, 75),
    }

    # a LATE event for hour 00 lands in a later batch: merges into its
    # hour anyway (no watermark eviction — the table is the state)
    _write_events(
        src / "b2.json",
        [
            {"event_id": 4, "ts": "2024-01-01T00:59:59", "user_id": 3, "event_type": "view", "value": 1.00, "props": "{}"},
            {"event_id": 5, "ts": "2024-01-01T02:00:30", "user_id": 3, "event_type": "view", "value": 4.00, "props": "{}"},
        ],
    )
    q2 = run_live_rollup_pipeline(spark, str(src), tdir, cp)
    q2.awaitTermination(120)
    got2 = {
        (r.hour.isoformat(), r.event_type): (r.n_events, r.value_cents)
        for r in t.read(spark).collect()
    }
    assert got2[("2024-01-01T00:00:00", "view")] == (3, 475)
    assert got2[("2024-01-01T02:00:00", "view")] == (1, 400)
    # the pre-merge snapshot is still pinned (dashboard holding v0)
    assert t.read(spark, version=0).count() == 2

    # replay guard: re-delivering an applied batch id is a no-op
    from pyspark.sql import functions as F

    batch = spark.createDataFrame(
        [(9, "2024-01-01T03:00:00", 9, "view", 9.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    last_applied = t.latest_meta()["rollup_batch_id"]
    assert apply_rollup_batch(t, batch, last_applied) is False
    # a regressed batch id (checkpoint recreated) skips AND warns loudly
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        assert apply_rollup_batch(t, batch, last_applied - 1) is False
    assert any("checkpoint" in str(c.message) for c in caught)
    assert apply_rollup_batch(t, batch, last_applied + 1) is True
    got3 = {(r.hour.isoformat(), r.event_type): r.n_events for r in t.read(spark).collect()}
    assert got3[("2024-01-01T03:00:00", "view")] == 1
    # an unrelated commit on the same table must NOT reset the guard:
    # meta merges across commits (a replayed batch would double-count)
    t.commit(t.read(spark), mode="overwrite")
    assert t.latest_meta()["rollup_batch_id"] == last_applied + 1
    assert apply_rollup_batch(t, batch, last_applied + 1) is False
    # operator recovery path: a None meta value clears the guard, after
    # which a restarted stream's batch 0 is applied again
    t.commit(t.read(spark), mode="overwrite", meta={"rollup_batch_id": None})
    assert "rollup_batch_id" not in t.latest_meta()
    assert apply_rollup_batch(t, batch, 0) is True


def test_apply_rollup_batch_legacy_batch_id_guard(spark, tmp_path):
    """Tables committed before the guard key was namespaced recorded it
    as 'batch_id'; the guard must fall back to it or the first replayed
    batch after upgrade double-counts."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.pipelines import apply_rollup_batch
    from maap_data_pipelines_spark.table import VersionedTable

    t = VersionedTable(str(tmp_path / "legacy"))
    batch = spark.createDataFrame(
        [(1, "2024-01-01T00:00:00", 1, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    seed = batch.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    t.commit(seed, meta={"batch_id": 3})  # pre-upgrade layout
    assert apply_rollup_batch(t, batch, 3) is False  # replay: skipped
    assert apply_rollup_batch(t, batch, 4) is True
    assert t.latest_meta()["rollup_batch_id"] == 4
    # one-time migration: the un-namespaced legacy key is retired with
    # the first applied batch, so a foreign writer's generic 'batch_id'
    # can never suppress rollups again
    assert "batch_id" not in t.latest_meta()


def test_transform_with_state_lifetime_totals(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: typed state across micro-batches."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's control channel is proto-encoded; "
        "protobuf is not installed in this container",
    )
    from maap_data_pipelines_spark.streaming.stateful import user_lifetime_totals

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "tws_landing"
        src.mkdir()
        out = tmp_path / "tws_out"
        cp = str(tmp_path / "tws_cp")
        _write_events(
            src / "b1.json",
            [
                {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view", "value": 1.25, "props": "{}"},
                {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 1, "event_type": "view", "value": 2.00, "props": "{}"},
                {"event_id": 3, "ts": "2024-01-01T00:02:00", "user_id": 2, "event_type": "view", "value": 0.50, "props": "{}"},
            ],
        )
        q = (
            user_lifetime_totals(spark, str(src))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # second batch: user 1 buys again — state must carry the old total
        _write_events(
            src / "b2.json",
            [
                {"event_id": 4, "ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "purchase", "value": 10.00, "props": "{}"},
            ],
        )
        q2 = (
            user_lifetime_totals(spark, str(src))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)

        rows = spark.read.parquet(str(out)).collect()
        # latest emission per user reflects lifetime totals
        latest = {}
        for r in rows:
            latest.setdefault(r.user_id, []).append((r.n_events, r.total_cents))
        assert (3, 1325) in latest[1]  # 125 + 200 + 1000 after batch 2
        assert (2, 325) in latest[1]  # after batch 1
        assert latest[2] == [(1, 50)]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_lsh_admission_matches_batch(spark, sf_dir, tmp_path):
    """The streaming near-dup admission (foreachBatch probing the static
    band index) must equal the BATCH dedup_minhash_incremental verdicts
    row-for-row on the same documents — signatures are doc-local, so
    micro-batching cannot change any verdict."""
    from maap_data_pipelines_spark.operators.dedup import (
        INCREMENTAL_BATCH_SOURCE,
        dedup_minhash_incremental,
    )
    from maap_data_pipelines_spark.sources.catalog import read_table
    from maap_data_pipelines_spark.streaming.admission import (
        build_band_index,
        streaming_lsh_admission,
    )

    docs = read_table(spark, sf_dir, "documents")
    batch_expected = {
        r.doc_id: (r.n_candidates, r.max_est_jaccard, r.admitted)
        for r in dedup_minhash_incremental(docs).collect()
    }
    assert batch_expected, "sf dir must contain batch-source docs"

    corpus = docs.filter(docs.source != INCREMENTAL_BATCH_SOURCE)
    incoming = docs.filter(docs.source == INCREMENTAL_BATCH_SOURCE).select(
        "doc_id", "text", "source"
    )
    src = tmp_path / "incoming"
    src.mkdir()
    # two micro-batches: split the incoming docs across two files
    rows = [r.asDict() for r in incoming.collect()]
    half = max(1, len(rows) // 2)
    _write_events(src / "a.json", rows[:half])
    _write_events(src / "b.json", rows[half:])

    index = build_band_index(corpus.select("doc_id", "text"))
    out = str(tmp_path / "verdicts")
    q = streaming_lsh_admission(
        spark, str(src), index, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.n_candidates, r.max_est_jaccard, r.admitted)
        for r in spark.read.parquet(out).collect()
    }
    assert got == batch_expected


def test_streaming_enriched_rollup_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment + windowed rollup equals the
    batch groupBy on identical input (the dimension is joined per
    micro-batch, join keeps no state)."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.streaming.rollup import (
        EVENT_SCHEMA,
        streaming_enriched_rollup,
    )

    src = tmp_path / "enrich"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:15:00", "user_id": 2, "event_type": "view", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:05:00", "user_id": 1, "event_type": "click", "value": 4.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T00:25:00", "user_id": 3, "event_type": "view", "value": 8.0, "props": "{}"},
    ]
    _write_events(src / "a.json", rows[:2])
    _write_events(src / "b.json", rows[2:])
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "gold")], ["user_id", "segment"]
    )

    q = (
        streaming_enriched_rollup(spark, str(src), dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.segment, r.window.start.isoformat()): (r.n_events, r.value_cents)
        for r in spark.sql("select * from enriched").collect()
    }
    batch = (
        spark.read.schema(EVENT_SCHEMA).json(str(src))
        .join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    want = {
        (r.segment, r.window.start.isoformat()): (r.n_events, r.value_cents)
        for r in batch.collect()
    }
    assert got == want and len(want) == 3


def test_streaming_lsh_admission_replay_idempotent(spark, sf_dir, tmp_path):
    """A full replay (checkpoint deleted, every file re-delivered) must
    leave the verdict table byte-identical — the dynamic per-batch
    partition overwrite rewrites rather than appends."""
    import shutil

    from maap_data_pipelines_spark.operators.dedup import INCREMENTAL_BATCH_SOURCE
    from maap_data_pipelines_spark.sources.catalog import read_table
    from maap_data_pipelines_spark.streaming.admission import (
        build_band_index,
        streaming_lsh_admission,
    )

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(docs.source != INCREMENTAL_BATCH_SOURCE)
    incoming = docs.filter(docs.source == INCREMENTAL_BATCH_SOURCE).select(
        "doc_id", "text", "source"
    )
    src = tmp_path / "replay_in"
    src.mkdir()
    _write_events(src / "a.json", [r.asDict() for r in incoming.collect()])
    index = build_band_index(corpus.select("doc_id", "text"))
    out = str(tmp_path / "replay_out")
    ckpt = str(tmp_path / "replay_ckpt")

    streaming_lsh_admission(spark, str(src), index, out, ckpt).awaitTermination(120)
    first = sorted(
        (r.doc_id, r.n_candidates, r.max_est_jaccard, r.admitted)
        for r in spark.read.parquet(out).collect()
    )
    assert first

    # replay everything: nuke the checkpoint so batch 0 re-fires
    shutil.rmtree(ckpt)
    streaming_lsh_admission(spark, str(src), index, out, ckpt).awaitTermination(120)
    second = sorted(
        (r.doc_id, r.n_candidates, r.max_est_jaccard, r.admitted)
        for r in spark.read.parquet(out).collect()
    )
    assert second == first  # no duplicates, no drift


def _write_cascade_batches(spark, sf_dir, src):
    """Split the documents table into 3 doc_id-ordered micro-batch files.

    In-order arrival is the cascade's precondition for bit-equality with
    the batch operator (doc_id is its tie-break key); increasing mtimes
    pin the file source's delivery order.
    """
    import os

    from maap_data_pipelines_spark.sources.catalog import read_table

    rows = [
        r.asDict()
        for r in read_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .orderBy("doc_id")
        .collect()
    ]
    third = max(1, len(rows) // 3)
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    t = time.time() - 600
    for i, chunk in enumerate(c for c in chunks if c):
        p = src / f"{i:02d}.json"
        _write_events(p, chunk)
        os.utime(p, (t + i * 10, t + i * 10))
    return rows


def test_streaming_curation_cascade_matches_batch(spark, sf_dir, tmp_path):
    """The streaming five-stage cascade (per-batch state probes) must
    equal the BATCH corpus_curation_extended verdicts row-for-row when
    docs arrive in doc_id order — every 'min over the corpus' decision is
    prefix-decidable, so state + earlier-in-batch evidence reproduces the
    global decision (the equivalence cascade.py's docstring pins)."""
    from maap_data_pipelines_spark.registry import queries
    from maap_data_pipelines_spark.streaming.cascade import (
        streaming_curation_cascade,
    )

    src = tmp_path / "cascade_in"
    src.mkdir()
    rows = _write_cascade_batches(spark, sf_dir, src)
    assert rows

    out = str(tmp_path / "cascade_out")
    q = streaming_curation_cascade(
        spark,
        str(src),
        str(tmp_path / "cascade_state"),
        out,
        str(tmp_path / "cascade_ckpt"),
    )
    q.awaitTermination(300)

    got = {
        r.doc_id: (r.reason, r.keep) for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.reason, r.keep)
        for r in queries()["corpus_curation_extended"](spark, sf_dir).collect()
    }
    assert len(got) == len(rows)
    assert got == want
    # the cascade must actually exercise multiple verdict classes here
    reasons = {reason for reason, _ in got.values()}
    assert "ok" in reasons and len(reasons - {"ok"}) >= 2, reasons


def test_streaming_curation_cascade_replay_idempotent(spark, sf_dir, tmp_path):
    """A full replay (checkpoint deleted, every file re-delivered) must
    leave verdicts byte-identical. This also pins the replay-contamination
    fix: on replay the state tables already hold every batch's evidence,
    so batch N must see only partitions with batch_id < N — reading its
    own (or later) evidence would turn every doc into its own duplicate."""
    import shutil

    from maap_data_pipelines_spark.streaming.cascade import (
        streaming_curation_cascade,
    )

    src = tmp_path / "cascade_replay_in"
    src.mkdir()
    _write_cascade_batches(spark, sf_dir, src)
    state = str(tmp_path / "cascade_replay_state")
    out = str(tmp_path / "cascade_replay_out")
    ckpt = str(tmp_path / "cascade_replay_ckpt")

    streaming_curation_cascade(spark, str(src), state, out, ckpt).awaitTermination(300)
    first = sorted(
        (r.doc_id, r.reason, r.keep) for r in spark.read.parquet(out).collect()
    )
    assert first

    shutil.rmtree(ckpt)
    streaming_curation_cascade(spark, str(src), state, out, ckpt).awaitTermination(300)
    second = sorted(
        (r.doc_id, r.reason, r.keep) for r in spark.read.parquet(out).collect()
    )
    assert second == first  # no self-collision, no duplicates, no drift


def test_cascade_containment_probe_state_side_never_shuffles(spark, tmp_path):
    """The steady-state scale contract of the streaming cascade: per
    micro-batch, the containment stage joins three STATE tables
    (df_prior, postings, doc_sizes) by broadcasting the batch-bounded
    side — the state scans must stream through BroadcastHashJoins with
    no state-side exchange (no sort-merge / shuffled-hash join anywhere
    in the stage; the only exchanges are over batch-derived aggregates)."""
    from maap_data_pipelines_spark.streaming.cascade import _containment_stage

    def _tbl(name, df):
        p = str(tmp_path / name)
        df.write.parquet(p)
        return spark.read.parquet(p)  # a real file scan, as _one_batch sees

    postings = _tbl(
        "postings",
        spark.createDataFrame(
            [(1, 100), (1, 101), (2, 100), (2, 102)], "doc_id long, sh long"
        ),
    )
    doc_sizes = _tbl(
        "doc_sizes", spark.createDataFrame([(1, 2), (2, 2)], "doc_id long, n_sh long")
    )
    df_prior = _tbl(
        "dfcounts",
        spark.createDataFrame([(100, 2), (101, 1), (102, 1)], "sh long, df long"),
    )
    batch_sh = spark.createDataFrame(
        [(10, 100), (10, 101), (11, 103)], "doc_id long, sh long"
    )
    out = _containment_stage(postings, doc_sizes, batch_sh, df_prior)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # and it still computes: doc 10 shares both shingles of docs 1 and 2
    got = {r.doc_id for r in out.collect()}
    assert got == {10}


def test_streaming_cms_merge_matches_batch(spark, tmp_path):
    """CMS mergeability end-to-end: per-micro-batch cell tables folded
    through merge_aggregate equal the one-shot batch sketch bit-for-bit
    (cell-wise addition IS the CMS merge), and a replayed batch id is
    skipped by the meta guard (additive state must not double-count)."""
    from maap_data_pipelines_spark.operators.sketch import (
        CMS_D,
        _cms_bucket_spark,
    )
    from maap_data_pipelines_spark.streaming.rollup import streaming_cms_merge
    from maap_data_pipelines_spark.table import VersionedTable
    from pyspark.sql import functions as F

    src = tmp_path / "cms_in"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": "2024-01-01T00:05:00", "user_id": i % 7,
         "event_type": "view", "value": 1.0, "props": "{}"}
        for i in range(60)
    ]
    _write_events(src / "a.json", rows[:20])
    _write_events(src / "b.json", rows[20:45])
    _write_events(src / "c.json", rows[45:])

    t = VersionedTable(str(tmp_path / "cms_table"))
    q = streaming_cms_merge(spark, str(src), t, str(tmp_path / "cms_ckpt"))
    q.awaitTermination(120)

    got = {(r.d, r.bucket): r.c for r in t.read(spark).collect()}
    batch = (
        spark.read.schema(
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string"
        ).json(str(src))
        .select(F.col("user_id").alias("k"))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            _cms_bucket_spark("k", d).alias("bucket"),
                        )
                        for d in range(CMS_D)
                    ]
                )
            ).alias("p")
        )
        .select("p.d", "p.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    want = {(r.d, r.bucket): r.c for r in batch.collect()}
    assert got == want and sum(got.values()) == 60 * CMS_D

    # replay guard: re-applying an already-recorded batch id is a no-op
    import shutil
    import warnings

    v_before = t.latest_version()
    shutil.rmtree(str(tmp_path / "cms_ckpt"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        streaming_cms_merge(
            spark, str(src), t, str(tmp_path / "cms_ckpt")
        ).awaitTermination(120)
    got2 = {(r.d, r.bucket): r.c for r in t.read(spark).collect()}
    assert got2 == want  # replayed ids skipped, no double counting
    # the deleted checkpoint restarted the ids below the recorded mark:
    # the guard says so instead of skipping in silence
    assert any(
        "cms_batch_id" in str(c.message) and "checkpoint" in str(c.message)
        for c in caught
    ), [str(c.message) for c in caught]


def test_streaming_gap_stats_matches_batch(spark, tmp_path):
    """Per-user gap sufficient statistics maintained across micro-batches
    (boundary gaps bridged via persisted last_ts) must equal the one-shot
    batch lag computation exactly; a replayed batch id is skipped by the
    guard riding the same commit as the data."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from maap_data_pipelines_spark.streaming.rollup import streaming_gap_stats
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "gaps_in"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00",
         "user_id": i % 3, "event_type": "view", "value": 1.0, "props": "{}"}
        for i in range(90)
    ]
    # ts-ordered micro-batches (the equivalence precondition), pinned mtimes
    import os, time as _t
    base = _t.time() - 600
    for i, chunk in enumerate((rows[:30], rows[30:60], rows[60:])):
        p = src / f"{i:02d}.json"
        _write_events(p, chunk)
        os.utime(p, (base + i * 10, base + i * 10))

    t = VersionedTable(str(tmp_path / "gap_state"))
    ckpt = str(tmp_path / "gap_ckpt")
    streaming_gap_stats(spark, str(src), t, ckpt).awaitTermination(120)
    got = {
        r.user_id: (r.n_gaps, r.sg, r.sg2) for r in t.read(spark).collect()
    }

    ev = spark.read.schema(
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).json(str(src)).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    g = ev.withColumn(
        "g",
        F.expr("(ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) div 1000000"),
    ).filter(F.col("g").isNotNull())
    want = {
        r.user_id: (r.n, r.sg, r.sg2)
        for r in g.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sg2"),
        ).collect()
    }
    assert got == want and len(got) == 3

    # full replay: guard skips every already-applied batch id
    shutil.rmtree(ckpt)
    streaming_gap_stats(spark, str(src), t, ckpt).awaitTermination(120)
    got2 = {
        r.user_id: (r.n_gaps, r.sg, r.sg2) for r in t.read(spark).collect()
    }
    assert got2 == want  # no double counting


def test_streaming_ab_state_matches_batch(spark, tmp_path):
    """A/B conversion state folded with GREATEST across micro-batches must
    yield a readout byte-identical to the batch events_ab_test computation
    over the same events — in ANY delivery order (max is order-free) — and
    a replayed batch id is skipped by the guard."""
    import os
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.plans.events import (
        AB_CONV_CENTS,
        ab_test_from_users,
        ab_user_conversions,
    )
    from maap_data_pipelines_spark.streaming.rollup import (
        ab_state_readout,
        streaming_ab_state,
    )
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "ab_in"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00",
         "user_id": i % 7,
         "event_type": "purchase" if i % 3 == 0 else "view",
         # every 6th event is a high-value purchase for SOME users only
         "value": 450.0 if i % 6 == 0 and i % 7 < 4 else 20.0,
         "props": "{}"}
        for i in range(90)
    ]
    # deliberately NOT ts-ordered across batches: max-fold is order-free
    base = _t.time() - 600
    for i, chunk in enumerate((rows[60:], rows[:30], rows[30:60])):
        p = src / f"{i:02d}.json"
        _write_events(p, chunk)
        os.utime(p, (base + i * 10, base + i * 10))

    t = VersionedTable(str(tmp_path / "ab_state"))
    ckpt = str(tmp_path / "ab_ckpt")
    streaming_ab_state(spark, str(src), t, ckpt).awaitTermination(120)

    got = ab_state_readout(spark, t).collect()[0].asDict()

    ev = spark.read.schema(
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).json(str(src))
    want = ab_test_from_users(ab_user_conversions(ev)).collect()[0].asDict()
    assert got == want
    # the synthetic split is non-degenerate: both arms, mixed conversions
    assert want["n_a"] > 0 and want["n_b"] > 0
    assert 0 < want["conv_a"] + want["conv_b"] < want["n_a"] + want["n_b"]

    # full replay: guard skips every already-applied batch id
    v_before = t.latest_version()
    shutil.rmtree(ckpt)
    streaming_ab_state(spark, str(src), t, ckpt).awaitTermination(120)
    assert ab_state_readout(spark, t).collect()[0].asDict() == want


def test_streaming_ab_sequential_readout_matches_batch(spark, tmp_path):
    """ST6 extension (VERDICT r9 item 5): the mSPRT always-valid readout
    over the STREAMED per-user conversion state must equal the batch
    events_ab_sequential readout byte-for-byte on the same events — the
    events_cuped_stratified/ST19 pattern: one state frame, every
    experimentation rung (z, CUPED, sequential) served from it."""
    import os
    import time as _t

    from maap_data_pipelines_spark.plans.events import (
        ab_sequential_from_users,
        ab_user_conversions,
    )
    from maap_data_pipelines_spark.streaming.rollup import (
        ab_state_sequential_readout,
        streaming_ab_state,
    )
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "abseq_in"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-02-01T{i // 60:02d}:{i % 60:02d}:00",
         "user_id": i % 11,
         "event_type": "purchase" if i % 4 == 0 else "view",
         "value": 450.0 if i % 8 == 0 and i % 11 < 6 else 15.0,
         "props": "{}"}
        for i in range(120)
    ]
    base = _t.time() - 600
    for i, chunk in enumerate((rows[80:], rows[:40], rows[40:80])):
        p = src / f"{i:02d}.json"
        _write_events(p, chunk)
        os.utime(p, (base + i * 10, base + i * 10))

    t = VersionedTable(str(tmp_path / "abseq_state"))
    streaming_ab_state(spark, str(src), t, str(tmp_path / "abseq_ckpt")).awaitTermination(120)

    got = ab_state_sequential_readout(spark, t).collect()[0].asDict()
    ev = spark.read.schema(
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).json(str(src))
    want = ab_sequential_from_users(ab_user_conversions(ev)).collect()[0].asDict()
    assert got == want
    # non-degenerate: both arms populated and the statistic is defined
    assert want["n_a"] > 0 and want["n_b"] > 0
    assert want["ln_lambda_milli"] is not None
    assert want["always_valid_p_ppm"] is not None


def test_streaming_theta_merge_matches_batch_and_replays_idempotent(spark, tmp_path):
    """KMV sketches must MERGE across micro-batches to the exact sketch a
    one-shot batch build produces (K smallest of the union is
    batching-invariant), and — because the merge is idempotent — a
    checkpoint-deleted replay must rewrite an identical snapshot."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.operators.sketch import THETA_K
    from maap_data_pipelines_spark.streaming.rollup import streaming_theta_merge
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "theta_src"
    src.mkdir()
    rows = []
    eid = 0
    for b in range(3):
        batch = []
        for u in range(b * 40, b * 40 + 120):  # overlapping user ranges
            eid += 1
            batch.append(
                {
                    "event_id": eid,
                    "ts": "2024-01-01T00:00:00",
                    "user_id": u,
                    "event_type": ["view", "click"][u % 2],
                    "value": 1.0,
                    "props": "{}",
                }
            )
        _write_events(src / f"b{b}.json", batch)
        rows += batch

    t = VersionedTable(str(tmp_path / "theta_state"))
    q = streaming_theta_merge(spark, str(src), t, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    got = {
        (r.event_type, r.h) for r in t.read(spark).collect()
    }

    batch_df = spark.createDataFrame(
        [(r["user_id"], r["event_type"]) for r in rows], ["user_id", "event_type"]
    )
    from pyspark.sql.window import Window

    want_df = (
        batch_df.select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
            )
            .cast("long")
            .alias("h"),
        )
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("event_type").orderBy("h")),
        )
        .filter(F.col("rn") <= THETA_K)
        .select("event_type", "h")
    )
    want = {(r.event_type, r.h) for r in want_df.collect()}
    assert got == want and got

    # replay from scratch (checkpoint deleted, state kept): idempotent
    v_before = t.latest_version()
    q2 = streaming_theta_merge(spark, str(src), t, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    got2 = {(r.event_type, r.h) for r in t.read(spark).collect()}
    assert got2 == got
    assert t.latest_version() > v_before  # new commits, same content


def test_streaming_markov_state_matches_batch_lag(spark, tmp_path):
    """Drained across 3 micro-batches — with boundary transitions that NO
    single batch contains — the transition counts must equal one batch
    lag pass over all events; replays must skip (additive guard)."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from maap_data_pipelines_spark.streaming.rollup import streaming_markov_state
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "mk_src"
    src.mkdir()
    types = ["view", "click", "purchase"]
    all_rows = []
    eid = 0
    for b in range(3):
        batch = []
        for u in range(6):
            for i in range(4):
                eid += 1
                batch.append(
                    {
                        "event_id": eid,
                        "ts": f"2024-01-0{b + 1}T0{i}:00:00",
                        "user_id": u,
                        "event_type": types[(u + i + b) % 3],
                        "value": 1.0,
                        "props": "{}",
                    }
                )
        _write_events(src / f"b{b}.json", batch)
        all_rows += batch

    t = VersionedTable(str(tmp_path / "mk_state"))
    q = streaming_markov_state(spark, str(src), t, str(tmp_path / "mk_ckpt"))
    q.awaitTermination(120)
    got = {
        (r.src, r.dst): r.c
        for r in t.read(spark).filter(F.col("dst").isNotNull()).collect()
    }

    df = spark.createDataFrame(
        [
            (r["user_id"], r["event_type"], r["ts"], r["event_id"])
            for r in all_rows
        ],
        ["user_id", "event_type", "ts", "event_id"],
    ).withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    want = {
        (r.src, r.dst): r.c
        for r in df.withColumn("src", F.lag("event_type").over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want and got
    # every user carries exactly one last-type row
    carries = t.read(spark).filter(F.col("dst").isNull()).collect()
    assert sorted(r.c for r in carries) == list(range(6))
    # replayed batch (fresh checkpoint, stale guard): counts unchanged
    q2 = streaming_markov_state(spark, str(src), t, str(tmp_path / "mk_ckpt2"))
    q2.awaitTermination(120)
    got2 = {
        (r.src, r.dst): r.c
        for r in t.read(spark).filter(F.col("dst").isNotNull()).collect()
    }
    assert got2 == got


def test_streaming_cusum_state_matches_batch_detector(spark, tmp_path):
    """Hourly counts merged across 3 micro-batches (hours split ACROSS
    batches so no single batch holds a full hour), then the shared
    cusum_detect kernel over the state == events_changepoint's detector
    over all events in one batch pass; replays must skip (additive)."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.plans.events import cusum_detect
    from maap_data_pipelines_spark.streaming.rollup import (
        cusum_changepoint_from_state,
        streaming_cusum_state,
    )
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "cu_src"
    src.mkdir()
    all_rows = []
    eid = 0
    # 12 hours of 'view' at base rate 2/hour, jumping to 6/hour at hour 6
    # (a real mean shift); each hour's events are SPLIT across batches
    for b in range(3):
        batch = []
        for h in range(12):
            rate = 2 if h < 6 else 6
            for i in range(rate):
                if (i + h) % 3 != b:
                    continue
                eid += 1
                batch.append(
                    {
                        "event_id": eid,
                        "ts": f"2024-01-01T{h:02d}:{10 + i:02d}:00",
                        "user_id": i,
                        "event_type": "view",
                        "value": 1.0,
                        "props": "{}",
                    }
                )
        _write_events(src / f"b{b}.json", batch)
        all_rows += batch

    t = VersionedTable(str(tmp_path / "cu_state"))
    q = streaming_cusum_state(spark, str(src), t, str(tmp_path / "cu_ckpt"))
    q.awaitTermination(120)

    got = cusum_changepoint_from_state(spark, t).collect()

    ev = spark.createDataFrame(
        [(r["event_type"], r["ts"]) for r in all_rows], ["event_type", "ts"]
    ).withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    hourly = ev.groupBy(
        "event_type",
        (F.col("ts_us") - F.col("ts_us") % (3600 * 1_000_000)).alias("hour_us"),
    ).agg(F.count(F.lit(1)).alias("c"))
    want = cusum_detect(hourly).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # the detected change hour is the true shift boundary: CUSUM
    # troughs at the LAST pre-shift hour (05:00) for an upward step
    assert got[0].change_hour_us == int(
        spark.sql("SELECT unix_micros(TIMESTAMP '2024-01-01 05:00:00')").collect()[0][0]
    )
    assert got[0].direction == -1
    # replay with a fresh checkpoint: additive guard must skip all batches
    q2 = streaming_cusum_state(spark, str(src), t, str(tmp_path / "cu_ckpt2"))
    q2.awaitTermination(120)
    total = t.read(spark).agg(F.sum("c")).collect()[0][0]
    assert total == len(all_rows)


def test_streaming_cuped_state_matches_batch_readout(spark, tmp_path):
    """ST19: per-user pre/post revenue sums merged across 3 micro-batches
    (each user's purchases SPLIT across batches, straddling the CUPED
    calendar boundary), then the shared cuped_readout kernel over the
    state == the kernel over one batch pass; replays must skip."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.plans.events import (
        cuped_readout,
        cuped_user_stats,
    )
    from maap_data_pipelines_spark.streaming.rollup import (
        cuped_readout_from_state,
        streaming_cuped_state,
    )
    from maap_data_pipelines_spark.table import VersionedTable

    src = tmp_path / "cuped_src"
    src.mkdir()
    all_rows = []
    eid = 0
    for b in range(3):
        batch = []
        for u in range(12):
            # pre-period purchase (Jan 5) and post-period purchase
            # (Jan 20) per user per batch, value varying by (u, b);
            # non-purchase noise events must not count
            for day, etype in ((5, "purchase"), (20, "purchase"), (20, "view")):
                eid += 1
                batch.append(
                    {
                        "event_id": eid,
                        "ts": f"2024-01-{day:02d}T0{b}:00:00",
                        "user_id": u,
                        "event_type": etype,
                        "value": float(10 + 7 * u + 3 * b + day),
                        "props": "{}",
                    }
                )
        _write_events(src / f"b{b}.json", batch)
        all_rows += batch

    t = VersionedTable(str(tmp_path / "cuped_state"))
    q = streaming_cuped_state(spark, str(src), t, str(tmp_path / "cp_ckpt"))
    q.awaitTermination(120)

    ev = spark.createDataFrame(
        [
            (r["user_id"], r["event_type"], r["ts"], r["value"])
            for r in all_rows
        ],
        ["user_id", "event_type", "ts", "value"],
    ).withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    want_users = {
        r.user_id: (r.pre_cents, r.post_cents)
        for r in cuped_user_stats(ev).collect()
    }
    got_users = {
        r.user_id: (r.pre_cents, r.post_cents)
        for r in t.read(spark).collect()
    }
    assert got_users == want_users
    # a user's pre and post are both non-zero (the split engaged)
    assert all(p > 0 and q_ > 0 for p, q_ in got_users.values())

    got = cuped_readout_from_state(spark, t).collect()
    want = cuped_readout(cuped_user_stats(ev)).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # replay with a fresh checkpoint: the source-file guard must skip all
    # batches (no double-counted revenue)
    q2 = streaming_cuped_state(spark, str(src), t, str(tmp_path / "cp_ckpt2"))
    q2.awaitTermination(120)
    again = {
        r.user_id: (r.pre_cents, r.post_cents)
        for r in t.read(spark).collect()
    }
    assert again == want_users

    # fresh checkpoint over an EXTENDED source dir: batch ids restart
    # from 0, but the file guard must admit exactly the NEW file's rows
    # (a raw batch-id compare would silently drop them) while still
    # skipping every replayed file
    extra = [
        {
            "event_id": 10_000,
            "ts": "2024-01-20T05:00:00",
            "user_id": 0,
            "event_type": "purchase",
            "value": 123.0,
            "props": "{}",
        }
    ]
    _write_events(src / "b3.json", extra)
    all_rows += extra
    q3 = streaming_cuped_state(spark, str(src), t, str(tmp_path / "cp_ckpt3"))
    q3.awaitTermination(120)
    ev2 = spark.createDataFrame(
        [
            (r["user_id"], r["event_type"], r["ts"], r["value"])
            for r in all_rows
        ],
        ["user_id", "event_type", "ts", "value"],
    ).withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    want2 = {
        r.user_id: (r.pre_cents, r.post_cents)
        for r in cuped_user_stats(ev2).collect()
    }
    got2 = {
        r.user_id: (r.pre_cents, r.post_cents)
        for r in t.read(spark).collect()
    }
    assert got2 == want2
    assert got2[0][1] == want_users[0][1] + 12300  # only user 0 moved, post-period
    # the guard meta records every applied file exactly once
    assert len(t.latest_meta()["cuped_files"]) == 4

    # the stratified readout is the same shared-kernel property: state
    # frame in, batch frame in, identical per-stratum rows out
    from maap_data_pipelines_spark.plans.events import cuped_stratified_readout

    got_s = [
        tuple(r)
        for r in cuped_stratified_readout(
            t.read(spark).select("user_id", "pre_cents", "post_cents")
        ).collect()
    ]
    want_s = [
        tuple(r) for r in cuped_stratified_readout(cuped_user_stats(ev2)).collect()
    ]
    assert got_s == want_s and len(got_s) >= 2

    # DiD (r10) is the same shared-kernel property once more: the state
    # frame serves the difference-in-differences readout unchanged
    from maap_data_pipelines_spark.plans.events import did_readout

    got_d = did_readout(
        t.read(spark).select("user_id", "pre_cents", "post_cents")
    ).collect()
    want_d = did_readout(cuped_user_stats(ev2)).collect()
    assert [tuple(r) for r in got_d] == [tuple(r) for r in want_d] and len(got_d) == 1


def test_streaming_gap_histogram_matches_batch_readout(spark, tmp_path):
    """ST20: the minute-grain gap histogram folded across micro-batches
    (boundary gaps bridged via per-user cursors, all state kinds in ONE
    transactional table) must yield an exponentiality readout
    byte-identical to the registered batch query over the same events
    written as parquet; a replayed batch id is a no-op."""
    import os
    import shutil
    import time as _t

    import pandas as pd

    from maap_data_pipelines_spark.plans.events import (
        events_interarrival_exponentiality,
    )
    from maap_data_pipelines_spark.streaming.rollup import (
        gap_histogram_readout,
        streaming_gap_histogram,
    )
    from maap_data_pipelines_spark.table import VersionedTable

    rows = [
        {"event_id": i,
         "ts": f"2024-01-01T{(i * 7) // 60 % 24:02d}:{(i * 7) % 60:02d}:00",
         "user_id": i % 4, "event_type": "view", "value": 1.0, "props": "{}"}
        for i in range(120)
    ]
    rows.sort(key=lambda r: r["ts"])  # in-ts-order delivery precondition
    src = tmp_path / "gh_in"
    src.mkdir()
    base = _t.time() - 600
    for i, chunk in enumerate((rows[:40], rows[40:80], rows[80:])):
        p = src / f"{i:02d}.json"
        _write_events(p, chunk)
        os.utime(p, (base + i * 10, base + i * 10))

    t = VersionedTable(str(tmp_path / "gh_state"))
    ckpt = str(tmp_path / "gh_ckpt")
    streaming_gap_histogram(spark, str(src), t, ckpt).awaitTermination(120)
    got = gap_histogram_readout(spark, t).collect()

    # the identical events as the batch parquet table
    d = tmp_path / "gh_batch"
    d.mkdir()
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")
    want = events_interarrival_exponentiality(spark, str(d)).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0].n_gaps == 120 - 4  # one gap lost per user's first event

    # full replay: every already-applied batch id skipped, state unchanged
    shutil.rmtree(ckpt)
    streaming_gap_histogram(spark, str(src), t, ckpt).awaitTermination(120)
    got2 = gap_histogram_readout(spark, t).collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in want]


def test_streaming_gap_histogram_late_batch_quarantine(spark, tmp_path):
    """ST20 late-delivery guard (ADVICE r10): a batch older than a
    user's persisted cursor must NOT bucket a negative boundary gap
    into the histogram nor regress the cursor — the negative gap is
    counted under the quarantine kind 'late' (invisible to the
    readout) and the cursor folds with GREATEST."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.streaming.rollup import (
        streaming_gap_histogram,
    )
    from maap_data_pipelines_spark.table import VersionedTable

    def ev(i, hh, mm):
        return {"event_id": i, "ts": f"2024-01-01T{hh:02d}:{mm:02d}:00",
                "user_id": 1, "event_type": "view", "value": 1.0,
                "props": "{}"}

    src = tmp_path / "late_in"
    src.mkdir()
    base = _t.time() - 600
    # batch 0: 10:00, 10:07 -> one 7-minute gap, cursor at 10:07
    _write_events(src / "00.json", [ev(1, 10, 0), ev(2, 10, 7)])
    os.utime(src / "00.json", (base, base))
    # batch 1 (LATE): 09:00, 09:03 -> internal 3-minute gap enters;
    # boundary gap 09:00 - 10:07 is negative -> quarantined
    _write_events(src / "01.json", [ev(3, 9, 0), ev(4, 9, 3)])
    os.utime(src / "01.json", (base + 10, base + 10))

    t = VersionedTable(str(tmp_path / "late_state"))
    ckpt = str(tmp_path / "late_ckpt")
    streaming_gap_histogram(spark, str(src), t, ckpt).awaitTermination(120)

    state = t.read(spark)
    hist = {r.g: r.cnt for r in state.filter(F.col("kind") == "hist").collect()}
    assert hist == {7: 1, 3: 1}  # no negative bucket
    late = state.filter(F.col("kind") == "late").collect()
    assert len(late) == 1 and late[0].cnt == 1 and late[0].key == "late:count"
    cur = state.filter(F.col("kind") == "last").collect()
    assert len(cur) == 1
    # cursor did NOT regress to the late batch's 09:03
    import datetime as _dt

    want_us = int(
        _dt.datetime(2024, 1, 1, 10, 7, tzinfo=_dt.timezone.utc).timestamp()
        * 1_000_000
    )
    assert cur[0].last_ts_us == want_us


def test_stream_machinery_lives_in_one_helper_each():
    """The file-stream reader, the availableNow starter and the replay
    guard are each written once in the package (Spark-free source scan):
    the ``maxFilesPerTrigger`` option only in ``rollup._file_stream``,
    ``foreachBatch`` only in ``sinks.start_available_now``, and a
    ``batch_id`` comparison in a function that reads ``latest_meta()``
    only in ``VersionedTable.batch_applied``."""
    from conftest import package_scopes

    found = {"maxFilesPerTrigger": set(), "foreachBatch": set(), "guard": set()}
    for rel, scope, nodes in package_scopes():
        where = (rel, scope)
        if any(
            isinstance(n, ast.Constant) and n.value == "maxFilesPerTrigger"
            for n in nodes
        ):
            found["maxFilesPerTrigger"].add(where)
        if any(isinstance(n, ast.Attribute) and n.attr == "foreachBatch" for n in nodes):
            found["foreachBatch"].add(where)
        reads_meta = any(
            isinstance(n, ast.Attribute) and n.attr == "latest_meta" for n in nodes
        )
        compares_id = any(
            isinstance(n, ast.Compare)
            and any(isinstance(x, ast.Name) and x.id == "batch_id" for x in ast.walk(n))
            for n in nodes
        )
        if reads_meta and compares_id:
            found["guard"].add(where)
    assert found == {
        "maxFilesPerTrigger": {("streaming/rollup.py", "_file_stream")},
        "foreachBatch": {("sinks.py", "start_available_now")},
        "guard": {("table.py", "batch_applied")},
    }, found
