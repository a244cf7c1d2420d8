"""Custom Python DataSource: parallel directory discovery as a real source.

The reference's s3-discovery Lambda lists a bucket/prefix, regex-filters
filenames, and emits file objects (`lambdas/s3-discovery/handler.py:18-81`).
The engine's batch twin (`plans/stac.py: s3_discovery`) derives the listing
from the asset catalog; THIS module is the missing source-side piece — a
Spark 4 Python DataSource (`pyspark.sql.datasource`) that makes discovery a
first-class `spark.read.format("dir_discovery")` scan:

- one `InputPartition` per immediate subdirectory (plus one for root
  files): on an object store these are the prefixes, so listing
  parallelizes across executors and no single task lists the world —
  exactly how a 100 TB bucket must be walked;
- `filename_regex` is applied inside each partition's reader with
  ``re.match`` against the RELATIVE KEY — the reference Lambda's
  start-anchored full-key semantics — so filtered names never leave the
  source (filter-at-source, the listing analogue of predicate pushdown);
  ``pipelines.discover_from_event`` passes its event's regex here;
- emits (key, size_bytes, mtime_us) — the same fields the reference's
  file_obj carries — ready for the stac item pipeline.

Local filesystem stands in for the object store (no cloud SDKs in this
environment); the partitioning/streamed-listing shape is the design.
"""

from __future__ import annotations

import os
import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class DirPartition(InputPartition):
    def __init__(self, root: str, rel: str):
        self.root = root
        self.rel = rel  # "" = root files only, else a subdirectory name


class DirDiscoveryReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dir_discovery requires .option('path', ...)")
        self.pattern = options.get("filename_regex")

    def partitions(self):
        subdirs = [
            e.name
            for e in os.scandir(self.path)
            if e.is_dir(follow_symlinks=False)
        ]
        return [DirPartition(self.path, d) for d in sorted(subdirs)] + [
            DirPartition(self.path, "")
        ]

    def read(self, partition):
        rx = re.compile(self.pattern) if self.pattern else None
        base = (
            os.path.join(partition.root, partition.rel)
            if partition.rel
            else partition.root
        )
        if partition.rel:  # recurse fully inside the assigned subdir
            walker = (
                (os.path.join(dirpath, f))
                for dirpath, _, files in os.walk(base)
                for f in sorted(files)
            )
        else:  # root partition: top-level files only (subdirs are owned
            # by their own partitions)
            walker = (
                e.path
                for e in sorted(os.scandir(base), key=lambda e: e.name)
                if e.is_file(follow_symlinks=False)
            )
        for p in walker:
            rel_key = os.path.relpath(p, partition.root)
            # re.match on the relative key: the reference Lambda re.match-es
            # the full object key.
            if rx is not None and not rx.match(rel_key):
                continue
            st = os.stat(p)
            yield (rel_key, st.st_size, int(st.st_mtime * 1_000_000))


class DirDiscoveryStreamReader(SimpleDataSourceStreamReader):
    """Streaming discovery: each micro-batch picks up newly landed files.

    The reference reacts to object-store event notifications; the polling
    twin tracks a (mtime_us, key) watermark as the stream offset — small,
    JSON-serializable, and totally ordered. ``read`` returns everything
    past the watermark plus the new watermark; ``readBetweenOffsets``
    replays an exact (start, end] slice for recovery, so restarts are
    exactly-once as long as the landing area is append-only with
    non-decreasing mtimes (the same contract Spark's own file source
    assumes).
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dir_discovery requires .option('path', ...)")
        self.pattern = options.get("filename_regex")

    def _listing(self):
        rx = re.compile(self.pattern) if self.pattern else None
        out = []
        for dirpath, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(dirpath, f)
                rel_key = os.path.relpath(p, self.path)
                # start-anchored full-key match, same as the batch reader
                if rx is not None and not rx.match(rel_key):
                    continue
                st = os.stat(p)
                out.append((int(st.st_mtime * 1_000_000), rel_key, st.st_size))
        out.sort()
        return out

    def initialOffset(self) -> dict:
        return {"mtime_us": -1, "key": ""}

    def read(self, start: dict):
        mark = (start["mtime_us"], start["key"])
        new = [e for e in self._listing() if (e[0], e[1]) > mark]
        end = (
            {"mtime_us": new[-1][0], "key": new[-1][1]} if new else dict(start)
        )
        return iter([(k, s, m) for m, k, s in new]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        lo = (start["mtime_us"], start["key"])
        hi = (end["mtime_us"], end["key"])
        return iter(
            [(k, s, m) for m, k, s in self._listing() if lo < (m, k) <= hi]
        )


class DirDiscoveryDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dir_discovery"

    def schema(self) -> str:
        return "key string, size_bytes long, mtime_us long"

    def reader(self, schema) -> DataSourceReader:
        return DirDiscoveryReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return DirDiscoveryStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the dir_discovery format."""
    spark.dataSource.register(DirDiscoveryDataSource)
