"""Source readers: the dir_discovery DataSource, the non-parquet formats
and the parquet footer path of ``read_table``."""

from __future__ import annotations

from conftest import last_job_id


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """A lake ingests files whose schema grew a column; mergeSchema unifies.

    Old files surface the new column as NULL; at 100 TB the footer merge
    is the only extra cost (and can be pinned off once the catalog owns
    the canonical schema).
    """
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    spark.range(3).select(
        F.col("id").alias("asset_id"), F.lit("c0").alias("collection")
    ).write.parquet(base + "/day=1")
    spark.range(3, 5).select(
        F.col("id").alias("asset_id"),
        F.lit("c1").alias("collection"),
        F.lit("tif").alias("ext"),  # new column added later
    ).write.parquet(base + "/day=2")

    df = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(df.columns) >= {"asset_id", "collection", "ext"}
    rows = {r.asset_id: r.ext for r in df.collect()}
    assert rows[0] is None and rows[4] == "tif"
    assert df.count() == 5


def test_dir_discovery_datasource(spark, tmp_path):
    """Spark 4 Python DataSource: per-prefix partitions + filter-at-source."""
    from maap_data_pipelines_spark.sources.pyds import register

    root = tmp_path / "bucket"
    (root / "collA").mkdir(parents=True)
    (root / "collB" / "nested").mkdir(parents=True)
    (root / "collA" / "scene_20200101.tif").write_bytes(b"x" * 10)
    (root / "collA" / "scene_20200102.tif").write_bytes(b"y" * 20)
    (root / "collA" / "readme.txt").write_bytes(b"no")
    (root / "collB" / "nested" / "scene_20210301.tif").write_bytes(b"z" * 30)
    (root / "top_20220101.tif").write_bytes(b"t" * 5)

    register(spark)
    df = (
        spark.read.format("dir_discovery")
        .option("path", str(root))
        .option("filename_regex", r".*\.tif$")
        .load()
    )
    rows = {r.key: r for r in df.collect()}
    assert set(rows) == {
        "collA/scene_20200101.tif",
        "collA/scene_20200102.tif",
        "collB/nested/scene_20210301.tif",
        "top_20220101.tif",
    }  # regex filtered readme.txt at the source
    assert rows["collA/scene_20200102.tif"].size_bytes == 20
    assert all(r.mtime_us > 0 for r in rows.values())
    # one partition per top-level prefix + one for root files
    assert df.rdd.getNumPartitions() == 3


def test_read_binary_assets_glob_and_content(spark, tmp_path):
    from maap_data_pipelines_spark.sources.formats import read_binary_assets

    d = tmp_path / "assets"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x00\x01payload")
    (d / "b.bin").write_bytes(b"\xff" * 32)
    (d / "skip.txt").write_bytes(b"no")
    rows = {r.key.rsplit("/", 1)[-1]: r for r in read_binary_assets(
        spark, str(d), glob="*.bin"
    ).collect()}
    assert set(rows) == {"a.bin", "b.bin"}  # glob pruned at listing time
    assert bytes(rows["a.bin"].content) == b"\x00\x01payload"
    assert rows["b.bin"].size_bytes == 32
    assert all(r.mtime_us > 0 for r in rows.values())


def test_orc_round_trip_preserves_schema(spark, tmp_path):
    """Format breadth: ORC write/read round-trips types and values."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("k"), F.col("id")).alias("name"),
    )
    out = str(tmp_path / "orc_rt")
    df.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    # names+types round-trip (nullability legitimately widens on read)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(r.v for r in back.collect()) == [2 * i for i in range(100)]


def test_read_json_quarantined_splits_good_and_bad(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from maap_data_pipelines_spark.sources.formats import read_json_quarantined

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": "g1", "size": 10}\n'
        '{"id": "g2", "size": 20}\n'
        "{not json at all\n"
        '{"id": "g3", "size": }\n'
    )
    schema = StructType(
        [StructField("id", StringType()), StructField("size", LongType())]
    )
    # default return is the original 2-tuple API
    good2, bad2 = read_json_quarantined(spark, str(p), schema)
    assert {r.id: r.size for r in good2.collect()} == {"g1": 10, "g2": 20}
    good, bad, source = read_json_quarantined(
        spark, str(p), schema, return_source=True
    )
    got = {r.id: r.size for r in good.collect()}
    assert got == {"g1": 10, "g2": 20}
    raws = [r.raw for r in bad.collect()]
    assert len(raws) == 2
    # quarantine preserves the raw line for replay after a parser fix
    assert any("not json" in r for r in raws)
    # schema of good side is exactly the declared schema (no corrupt col)
    assert [f.name for f in good.schema.fields] == ["id", "size"]
    # caller owns the cache lifetime: the returned parent is the cached
    # handle, and unpersisting it releases the only storage this reader
    # created (no session-lifetime leak across repeated calls)
    assert source.storageLevel.useMemory
    source.unpersist()
    assert not source.storageLevel.useMemory


def test_read_xml_metadata(spark, tmp_path):
    """Spark 4 native XML: one row per rowTag element, explicit schema
    single-pass read, attributes under the `_` prefix."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from maap_data_pipelines_spark.sources.formats import read_xml_metadata

    p = tmp_path / "meta"
    p.mkdir()
    (p / "granules.xml").write_text(
        "<granules>"
        "<granule status=\"ok\"><id>7</id><name>n7</name><cloud>12.5</cloud></granule>"
        "<granule status=\"bad\"><id>8</id><name>n8</name><cloud>93.0</cloud></granule>"
        "</granules>"
    )
    schema = StructType(
        [
            StructField("_status", StringType()),
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("cloud", DoubleType()),
        ]
    )
    df = read_xml_metadata(spark, str(p), "granule", schema)
    rows = {r.id: (r.name, r.cloud, r._status) for r in df.collect()}
    assert rows == {7: ("n7", 12.5, "ok"), 8: ("n8", 93.0, "bad")}
    # projection/filter push into the scan like any other source
    assert df.filter("cloud < 50").count() == 1


def test_read_tar_corpus_roundtrip_and_quarantine(spark, tmp_path):
    """Archive ingestion: plain tar AND tar.gz members round-trip with
    exact names/sizes/text; directories skipped; an oversized member is
    size-gated (ok=false, text NULL) without failing its archive; a
    corrupt blob yields one quarantine row instead of a task failure;
    non-UTF8 decodes lossily with the err flag."""
    import io
    import tarfile

    from maap_data_pipelines_spark.sources.formats import read_tar_corpus

    def make_tar(path, members, gz=False):
        mode = "w:gz" if gz else "w"
        with tarfile.open(path, mode) as tf:
            dirinfo = tarfile.TarInfo("docs/")  # dir entry: skipped
            dirinfo.type = tarfile.DIRTYPE
            tf.addfile(dirinfo)
            for name, payload in members:
                info = tarfile.TarInfo(name)
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))

    d = tmp_path / "archives"
    d.mkdir()
    make_tar(d / "a.tar", [
        ("docs/one.txt", b"hello world"),
        ("docs/two.txt", b"second file"),
        ("docs/big.bin", b"x" * 4096),
        ("docs/latin.txt", b"caf\xe9"),  # invalid utf-8
    ])
    make_tar(d / "b.tar.gz", [("z.txt", b"gzipped member")], gz=True)
    (d / "corrupt.tar").write_bytes(b"definitely not a tar archive")
    # corrupt DEFLATE body under a valid gzip header: tarfile's gzip
    # reader raises zlib.error (not TarError/OSError) mid-read — must
    # quarantine, not fail the task (ADVICE r10)
    good_gz = io.BytesIO()
    with tarfile.open(fileobj=good_gz, mode="w:gz") as tf:
        info = tarfile.TarInfo("deep.txt")
        payload = b"y" * 2048
        info.size = len(payload)
        tf.addfile(info, io.BytesIO(payload))
    gz_bytes = bytearray(good_gz.getvalue())
    for i in range(20, len(gz_bytes) - 8):
        gz_bytes[i] ^= 0xFF  # scramble the deflate stream, keep the header
    (d / "baddeflate.tar.gz").write_bytes(bytes(gz_bytes))

    rows = read_tar_corpus(
        spark, str(d), max_member_bytes=1024
    ).collect()
    by = {(r.archive.rsplit("/", 1)[-1], r.member): r for r in rows}

    one = by[("a.tar", "docs/one.txt")]
    assert one.ok and one.text == "hello world" and one.n_bytes == 11
    assert by[("a.tar", "docs/two.txt")].text == "second file"
    big = by[("a.tar", "docs/big.bin")]
    assert not big.ok and big.text is None and "max_member_bytes" in big.err
    latin = by[("a.tar", "docs/latin.txt")]
    assert latin.ok and latin.err == "lossy utf-8 decode" and "caf" in latin.text
    gz = by[("b.tar.gz", "z.txt")]
    assert gz.ok and gz.text == "gzipped member"
    quar = by[("corrupt.tar", None)]
    assert not quar.ok and quar.err
    bad_deflate = by[("baddeflate.tar.gz", None)]
    assert not bad_deflate.ok and bad_deflate.err
    # the dir entry produced no row
    assert ("a.tar", "docs/") not in by
    assert len(rows) == 7


def test_read_zip_corpus_roundtrip_and_quarantine(spark, tmp_path):
    """Zip ingestion under the tar reader's contract: members round-trip
    with exact names/sizes/text; directories skipped; oversized members
    size-gated from the HEADER (no inflation); corrupt archive AND
    corrupt-deflate member quarantine as single ok=false rows; non-UTF8
    decodes lossily with the err flag."""
    import zipfile

    from maap_data_pipelines_spark.sources.formats import read_zip_corpus

    d = tmp_path / "zips"
    d.mkdir()
    with zipfile.ZipFile(d / "a.zip", "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("docs/", "")  # dir entry: skipped
        zf.writestr("docs/one.txt", "hello world")
        zf.writestr("docs/big.bin", "x" * 4096)
        zf.writestr("docs/latin.txt", b"caf\xe9")
    with zipfile.ZipFile(d / "b.zip", "w", zipfile.ZIP_STORED) as zf:
        zf.writestr("z.txt", "stored member")
    (d / "corrupt.zip").write_bytes(b"definitely not a zip archive")
    # valid central directory, scrambled deflate body: zipfile raises
    # BadZipFile (CRC) or zlib.error mid-read -> must quarantine
    good = bytearray((d / "a.zip").read_bytes())
    for i in range(60, 90):
        good[i] ^= 0xFF
    (d / "baddeflate.zip").write_bytes(bytes(good))

    rows = read_zip_corpus(spark, str(d), max_member_bytes=1024).collect()
    by = {(r.archive.rsplit("/", 1)[-1], r.member): r for r in rows}

    one = by[("a.zip", "docs/one.txt")]
    assert one.ok and one.text == "hello world" and one.n_bytes == 11
    big = by[("a.zip", "docs/big.bin")]
    assert not big.ok and big.text is None and "max_member_bytes" in big.err
    latin = by[("a.zip", "docs/latin.txt")]
    assert latin.ok and latin.err == "lossy utf-8 decode" and "caf" in latin.text
    assert by[("b.zip", "z.txt")].text == "stored member"
    quar = by[("corrupt.zip", None)]
    assert not quar.ok and quar.err
    bad = by[("baddeflate.zip", None)]
    assert not bad.ok and bad.err
    assert ("a.zip", "docs/") not in by


def test_fanout_base_count_invariant(spark, sf_dir):
    """ADVICE r11: corpus_rows over a fan_out frame must equal the plain
    count (COUNT is repartition-invariant; the gate reads the
    pre-repartition scan via _fanout_base), and the attribute is only a
    COUNT shortcut — transformations that drop it degrade to counting
    the transformed frame, never to a wrong value. The count is stored
    on the frame it counted, so asking again starts no Spark job."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.functions.joins import corpus_rows
    from maap_data_pipelines_spark.sources.catalog import fan_out, read_table

    docs = read_table(spark, sf_dir, "documents")
    fanned = fan_out(docs)
    n = docs.count()
    assert corpus_rows(fanned) == n
    before = last_job_id(spark)
    # the fanned frame and the scan it wraps share the one stored count
    assert corpus_rows(fanned) == corpus_rows(docs) == n
    assert last_job_id(spark) == before
    # a transformation silently drops the attribute — value still right
    projected = fanned.select("doc_id")
    assert not hasattr(projected, "_fanout_base")
    assert corpus_rows(projected) == docs.count()
    # no-op path (already enough partitions): no attribute, same count
    wide = fanned.repartition(64)
    assert corpus_rows(fan_out(wide)) == docs.count()


def _spark_written_table(spark, root) -> str:
    """A 3-part-file directory written by Spark with an INT96 timestamp
    and the nested / exact types a footer mapping can get wrong."""
    root.mkdir()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.range(0, 30, 1, 3).selectExpr(
            "id",
            "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
            "TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id) AS ts_ntz",
            "date_add(DATE '2024-01-01', CAST(id AS INT)) AS d",
            "CAST(id * 1.25 AS DECIMAL(12,2)) AS amt",
            "array(CAST(id AS INT), NULL) AS arr",
            "named_struct('a', CAST(id AS INT), 'b', CAST(id AS STRING)) AS st",
            "map(CAST(id AS STRING), CAST(id AS INT)) AS m",
            "CAST(CAST(id AS STRING) AS BINARY) AS bin",
        ).write.parquet(str(root / "events.parquet"))
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    parts = list((root / "events.parquet").glob("part-*.parquet"))
    assert len(parts) == 3
    return str(root)


def _assert_footer_path_matches_inference(spark, sf_dir, name):
    from maap_data_pipelines_spark.functions.joins import corpus_rows
    from maap_data_pipelines_spark.sources.catalog import read_table

    before = last_job_id(spark)
    df = read_table(spark, sf_dir, name)
    n = corpus_rows(df)
    assert last_job_id(spark) == before, f"{name}: footer path started a job"
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    assert df.schema == inferred.schema, name
    assert df.toArrow().equals(inferred.toArrow()), name
    assert n == inferred.count(), name


def test_read_table_footer_schema_and_count(spark, sf_dir, tmp_path):
    """read_table's schema comes from the parquet footer and its gate count
    from footer num_rows: both equal what Spark's inference and count()
    give, for every test table and for a Spark-written multi-file
    directory, and neither starts a Spark job."""
    from maap_data_pipelines_spark.sources.catalog import TABLES

    for name in TABLES:
        _assert_footer_path_matches_inference(spark, sf_dir, name)
    spark_dir = _spark_written_table(spark, tmp_path / "spark_written")
    _assert_footer_path_matches_inference(spark, spark_dir, "events")
    # nested types keep their inferred shape end to end
    from maap_data_pipelines_spark.sources.catalog import read_table

    types = dict(read_table(spark, spark_dir, "events").dtypes)
    assert types["ts"] == "timestamp" and types["ts_ntz"] == "timestamp_ntz"
    assert types["amt"] == "decimal(12,2)" and types["m"] == "map<string,int>"


def test_arrow_schema_alone_misreads_int96(spark, tmp_path):
    """Negative control for the row-metadata path: mapping the Arrow
    schema of a Spark-written footer reads the INT96 ``timestamp`` as
    ``timestamp_ntz``, so the stored Spark row schema is what makes the
    footer path exact."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    spark_dir = _spark_written_table(spark, tmp_path / "spark_written")
    path = f"{spark_dir}/events.parquet"
    first = sorted((tmp_path / "spark_written" / "events.parquet").glob("part-*"))[0]
    arrow_only = from_arrow_schema(pq.read_schema(first), prefer_timestamp_ntz=True)
    inferred = spark.read.parquet(path).schema
    wrong = {  # types compared without nullability, which inference drops
        f.name
        for f in arrow_only.fields
        if f.dataType.simpleString() != inferred[f.name].dataType.simpleString()
    }
    assert wrong == {"ts"}, wrong
    assert spark.read.schema(arrow_only).parquet(path).schema != inferred


def test_read_table_unmappable_column_names_table_and_column(spark, tmp_path):
    """Types the footer mapping does not cover raise, naming the table and
    column. Spark's own inference reads some of them (uint32 as bigint,
    a non-Spark INT96 as timestamp); the footer path does not, by
    design, and keeps no inference fallback. The INT96 column is checked
    under ``nanosAsLong`` too, where pyarrow's timestamp[ns] would
    otherwise map to bigint."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from maap_data_pipelines_spark.sources.catalog import read_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        for col, arr, nanos_as_long in (
            ("n_unsigned", pa.array([1], pa.uint32()), "false"),
            ("elapsed", pa.array([1], pa.duration("us")), "false"),
            ("ts96", pa.array([1_000], pa.timestamp("us")), "false"),
            ("ts96", pa.array([1_000], pa.timestamp("us")), "true"),
        ):
            spark.conf.set(key, nanos_as_long)
            d = tmp_path / f"{col}_{nanos_as_long}"
            d.mkdir()
            pq.write_table(
                pa.table({"id": [1], col: arr}),
                d / "orders.parquet",
                use_deprecated_int96_timestamps=col == "ts96",
            )
            with pytest.raises(TypeError, match=f"'orders'.*'{col}'.*not supported"):
                read_table(spark, str(d), "orders")
    finally:
        spark.conf.set(key, before)


def test_read_table_nanosecond_timestamps_follow_nanos_as_long(spark, tmp_path):
    """A nanosecond parquet timestamp (the pandas default) maps as Spark
    maps it: raw int64 under ``spark.sql.legacy.parquet.nanosAsLong``,
    and an error naming the table and column without it, where Spark's
    own reader rejects the type too."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from maap_data_pipelines_spark.sources.catalog import read_table

    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([1_000], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        _assert_footer_path_matches_inference(spark, str(tmp_path), "events")
        spark.conf.set(key, "false")
        with pytest.raises(TypeError, match="'events'.*'ts'"):
            read_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(key, before)
