"""Non-parquet sources: binary assets, quarantined JSON, XML metadata and
tar/zip corpora.

Each is read distributed, with an explicit schema where the format takes
one (inference double-scans), and filtered/projected before any shuffle.
The discovery inputs of the reference (CSV inventories, CMR granule JSON)
are read by the ``pipelines`` discovery adapters that
``dispatch_discovery`` routes to.
"""

from __future__ import annotations

import io
import tarfile
import zipfile
import zlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def read_binary_assets(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Opaque binary ingest via Spark's ``binaryFile`` source.

    The multimodal ingestion path: each file becomes one row of
    (key, size_bytes, mtime_us, content) with the payload as a binary
    column — the shape every ``operators/multimodal.py`` transform
    consumes. ``pathGlobFilter`` prunes at LISTING time (the binary
    analogue of predicate pushdown: filtered files are never opened), and
    Spark parallelizes over files, so a million-asset bucket is a normal
    scan. Driver-side note for 100 TB: binaryFile caps per-row content at
    spark memory limits — oversized payloads belong in chunked reads, not
    single rows.
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path).select(
        F.col("path").alias("key"),
        F.col("length").alias("size_bytes"),
        F.unix_micros(F.col("modificationTime")).alias("mtime_us"),
        F.col("content"),
    )


def read_json_quarantined(
    spark: SparkSession,
    path: str,
    schema: StructType,
    return_source: bool = False,
):
    """PERMISSIVE JSON read that quarantines bad rows instead of failing.

    Returns ``(good, bad)``: good rows parsed against the explicit
    schema, bad rows as their raw text (the ``_corrupt_record`` channel)
    for a quarantine sink. With ``return_source=True`` returns
    ``(good, bad, source)`` where ``source`` is the CACHED shared parent
    scan — the default stays a 2-tuple for callers of the original API.
    This is the dataflow answer to the reference's per-record try/except
    (one malformed granule must not kill a 100 TB ingest, and silently
    dropping it is worse): the same scan feeds both outputs, and the
    quarantine table is replayable after a parser fix.

    Caching contract: the parent is cached before splitting — Spark
    disallows queries that reference ONLY the corrupt-record column on a
    lazy scan (SPARK-21610), and one materialization feeds both sides.
    With ``return_source=True`` the CALLER owns the cache's lifetime:
    after materializing both outputs (writes/actions), call
    ``source.unpersist()`` — otherwise repeated calls accumulate
    executor storage for the session lifetime.
    """
    full = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return (good, bad, df) if return_source else (good, bad)


def read_xml_metadata(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Distributed XML metadata ingest via Spark 4's NATIVE xml source.

    Geospatial catalogs ship sidecar metadata as XML (ISO 19115 / FGDC /
    CMR's echo10) — the reference's discovery path ignores them; at
    scale they are just another dataset: one row per ``row_tag`` element,
    read distributed. An explicit ``schema`` keeps the read single-pass
    (schema inference double-scans AND, for XML, parses every document
    twice — the CSV inferSchema lesson applies doubly); pass None only
    in exploration. Attributes surface with the ``_`` prefix, nested
    elements as structs — standard spark-xml semantics, now built in.
    """
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


ARCHIVE_MEMBER_SCHEMA = (
    "archive string, member string, n_bytes long, ok boolean, err string, "
    "text string"
)


def _archive_members(
    spark: SparkSession,
    path: str,
    glob: str | None,
    max_member_bytes: int,
    members: Callable[[bytes], Iterator[tuple[str, int, Callable[[], bytes]]]],
    errors: tuple[type[BaseException], ...],
) -> DataFrame:
    """One row per archive member, the body of both corpus readers.

    ``members(blob)`` yields ``(name, n_bytes, read)`` for each regular
    member of one archive's bytes, ``read()`` returning its payload; an
    exception in ``errors`` raised while opening or reading the archive
    quarantines it as one ok=false row after the members already read.
    """
    import pandas as pd

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    blobs = reader.load(path).select("path", "content")
    columns = ["archive", "member", "n_bytes", "ok", "err", "text"]

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for arch, content in zip(pdf["path"], pdf["content"]):
                try:
                    for name, n_bytes, read in members(bytes(content)):
                        if n_bytes > max_member_bytes:
                            err = "member exceeds max_member_bytes"
                            rows.append((arch, name, n_bytes, False, err, None))
                            continue
                        raw = read()
                        try:
                            text, err = raw.decode("utf-8"), None
                        except UnicodeDecodeError:
                            text = raw.decode("utf-8", errors="replace")
                            err = "lossy utf-8 decode"
                        rows.append((arch, name, n_bytes, True, err, text))
                except errors as e:
                    err = f"{type(e).__name__}: {e}"[:200]
                    rows.append((arch, None, None, False, err, None))
            yield pd.DataFrame(rows, columns=columns)

    return blobs.mapInPandas(_extract, ARCHIVE_MEMBER_SCHEMA)


def _tar_members(blob: bytes):
    with tarfile.open(fileobj=io.BytesIO(blob), mode="r:*") as tf:
        for m in tf:
            if m.isreg():
                yield m.name, int(m.size), lambda m=m: tf.extractfile(m).read()


def _zip_members(blob: bytes):
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        for info in zf.infolist():
            if not info.is_dir():
                yield info.filename, int(info.file_size), lambda i=info: zf.read(i)


def read_tar_corpus(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_member_bytes: int = 16 * 1024 * 1024,
) -> DataFrame:
    """Distributed tar/tar.gz corpus ingestion — the academic-corpus and
    crawl-dump shape (thousands of small text files shipped as archive
    blobs) that object stores hand a training-data pipeline.

    Each archive is ONE binaryFile row, so Spark's split planning
    parallelizes at archive grain (the natural unit — tar has no
    internal split points; a 100 TB corpus is many archives, not one);
    member extraction runs in an Arrow-batched ``mapInPandas`` with the
    stdlib ``tarfile`` module (gzip handled transparently via mode
    ``r:*``). Per member: (archive, member, n_bytes, ok, err, text) —
    oversized members are SKIPPED with ok=false and a reason (a single
    pathological member must not OOM an executor), non-UTF8 payloads
    decode with replacement (lossy flagged in err), and a CORRUPT
    archive yields one ok=false row carrying the exception instead of
    failing the task — the quarantine contract of
    read_json_quarantined applied to archives.

    Directory entries and non-regular members are skipped silently
    (they carry no corpus text). Deterministic: member order is the
    archive's own, and every field is a pure function of the bytes.
    """
    # zlib.error: gzip members with a corrupt (non-truncated) DEFLATE
    # stream raise it directly from the decompressor, not wrapped in
    # TarError/OSError — without it here one bad .tar.gz fails the whole
    # executor task instead of quarantining.
    return _archive_members(
        spark, path, glob, max_member_bytes, _tar_members,
        (tarfile.TarError, EOFError, OSError, zlib.error),
    )


def read_zip_corpus(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_member_bytes: int = 16 * 1024 * 1024,
) -> DataFrame:
    """Distributed zip corpus ingestion — read_tar_corpus's contract for
    the OTHER archive container crawl dumps and dataset mirrors ship.

    Same schema, same quarantine semantics: one binaryFile row per
    archive (zip's central directory makes members seekable, but the
    parallel unit at corpus scale is still the ARCHIVE — a 100 TB
    corpus is many zips), Arrow-batched ``mapInPandas`` extraction with
    the stdlib ``zipfile`` module. Per member: oversized members skip
    with ok=false (size gate reads the header's UNCOMPRESSED size, so a
    zip bomb is refused before inflation), non-UTF8 decodes lossily
    with the err flag, directories skip silently, and a corrupt archive
    OR a member whose deflate stream is corrupt (zipfile raises
    BadZipFile / zlib.error / OSError) yields one ok=false row instead
    of failing the task. CRC mismatches surface as BadZipFile from
    zipfile's read path and quarantine the same way.
    """
    return _archive_members(
        spark, path, glob, max_member_bytes, _zip_members,
        (zipfile.BadZipFile, zipfile.LargeZipFile, EOFError, OSError, zlib.error),
    )
