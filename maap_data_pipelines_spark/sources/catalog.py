"""Parquet table catalog.

Tables are read lazily as DataFrames; at cluster scale the same call reads a
multi-TB directory tree — Spark handles split planning via
``spark.sql.files.maxPartitionBytes``. Column pruning / predicate pushdown
reach the parquet scan because callers compose projections and filters on the
returned lazy DataFrame before any action.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5 rows, nation=25 rows always; supplier/part grow slowly with SF).
BROADCAST_DIMS = frozenset({"region", "nation"})


# Footer key under which Spark's parquet writer stores the row schema.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _parquet_leaves(path: str):
    """``(filesystem, data_files, schema_file)`` for a parquet file or a
    flat directory of part files, listed the way Spark's file index and
    its non-merging schema inference list them: hidden (``_``/``.``)
    names and in-flight ``._COPYING_`` copies dropped, sorted by path;
    the schema comes from ``_common_metadata``, else ``_metadata``, else
    the first data file."""
    from pyarrow import fs as pafs

    filesystem, root = pafs.FileSystem.from_uri(
        path if "://" in path else os.path.abspath(path)
    )
    info = filesystem.get_file_info(root)
    if info.type == pafs.FileType.File:
        return filesystem, [root], root
    if info.type != pafs.FileType.Directory:
        raise FileNotFoundError(path)
    leaves = {}
    for f in filesystem.get_file_info(pafs.FileSelector(root)):
        base = f.base_name
        if base.startswith(_SUMMARY_FILES) or not (
            base.startswith((".", "_")) or base.endswith("._COPYING_")
        ):
            if f.type == pafs.FileType.Directory:
                raise ValueError(
                    f"{path}: subdirectory {base!r}; the catalog reads flat "
                    "parquet directories only"
                )
            leaves[base] = f.path
    data = [leaves[b] for b in sorted(leaves) if b not in _SUMMARY_FILES]
    if not data:
        raise FileNotFoundError(f"{path}: no parquet data files")
    schema_file = next((leaves[s] for s in _SUMMARY_FILES if s in leaves), data[0])
    return filesystem, data, schema_file


def _arrow_only(t) -> bool:
    """True for an Arrow type that Arrow restores from its own footer
    schema but Spark reads from the parquet storage differently:
    duration as a plain integer, time and null, and nanosecond
    timestamps, which Spark rejects or, under
    ``spark.sql.legacy.parquet.nanosAsLong``, reads as raw int64."""
    import pyarrow as pa

    if pa.types.is_duration(t) or pa.types.is_time(t) or pa.types.is_null(t):
        return True
    if pa.types.is_timestamp(t):
        return t.unit == "ns"
    return any(_arrow_only(t.field(i).type) for i in range(t.num_fields))


def _footer_schema(spark: SparkSession, name: str, metadata) -> StructType:
    """The Spark schema of a parquet footer, as Spark's inference maps it:
    the row schema Spark's writer stored in the footer when present, else
    the Arrow schema mapped with the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` (a tz-naive parquet
    timestamp is ``timestamp_ntz`` only when it is on) and
    ``spark.sql.legacy.parquet.nanosAsLong`` (a top-level nanosecond
    timestamp is ``bigint`` only when it is on).

    The Arrow mapping covers the types the catalog's tables use. It does
    not cover some that Spark's own inference reads: unsigned integers,
    INT96 timestamps in a file Spark did not write (pyarrow reads them
    as nanosecond timestamps), and any other type ``from_arrow_type``
    rejects. Such a column raises ``TypeError`` naming the table and
    column."""
    stored = (metadata.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        return StructType.fromJson(json.loads(stored))
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    conf = spark.conf.get
    ntz = conf("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    nanos_as_long = conf("spark.sql.legacy.parquet.nanosAsLong") == "true"
    parquet = metadata.schema
    int96 = {
        parquet.column(i).path.split(".")[0]
        for i in range(len(parquet))
        if parquet.column(i).physical_type == "INT96"
    }
    fields = []
    for field in parquet.to_arrow_schema():
        t = field.type
        try:
            if field.name in int96:
                raise TypeError("INT96 outside a Spark-written file")
            if nanos_as_long and pa.types.is_timestamp(t) and t.unit == "ns":
                t = pa.int64()
            if _arrow_only(t):
                raise TypeError(f"Spark reads {t} from parquet differently")
            fields.append(StructField(field.name, from_arrow_type(t, ntz)))
        except Exception as e:
            raise TypeError(
                f"table {name!r}: parquet column {field.name!r} ({field.type}) "
                "is not supported by read_table's footer schema mapping"
            ) from e
    return StructType(fields)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of ``{sf_dir}/{name}.parquet``, a file or a flat directory
    of part files, that starts no Spark job.

    The schema comes from the parquet footer, read on the driver: the
    footer of the file Spark's non-merging inference would open
    (:func:`_parquet_leaves`), mapped by :func:`_footer_schema`. It is
    handed to ``spark.read.schema``, so no inference job runs, and every
    field is nullable, as inference makes it. A column type the footer
    mapping does not cover raises, naming the table and column, even
    where Spark's inference would read it (see :func:`_footer_schema`).

    The row count comes from the footers too: a gate that asks
    (``functions.joins.corpus_rows``) gets the sum of ``num_rows`` over
    the data files listed here, not a ``count()`` job. It is computed
    only when asked, since at scale a table is many part files.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    filesystem, data, schema_file = _parquet_leaves(path)
    schema = _footer_schema(
        spark, name, pq.read_metadata(schema_file, filesystem=filesystem)
    )
    df = spark.read.schema(schema).parquet(path)
    df._footer_rows = lambda: sum(
        pq.read_metadata(f, filesystem=filesystem).num_rows for f in data
    )
    return df


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names or TABLES}


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a low-parallelism scan so CPU-heavy per-row
    work (regex cascades, shingle hashing, vector math) uses every core.

    Scale-adaptive by construction (guide §2/§6): the gate reads the
    partition count the scan planner actually produced. At production
    scale a table is thousands of splits >= defaultParallelism and this
    is a NO-OP — no Exchange is added, nothing extra ships. Only when the
    planner yields fewer partitions than cores (small files, single
    row-group parquet — exactly the local bench layout, but also any
    small dimension feed on a real cluster) does the one cheap shuffle of
    a tiny input buy a cluster-wide map stage. Round-robin repartition is
    deterministic under retry (sortBeforeRepartition, SPARK-23207) and
    every consumer of this helper is partition-count-invariant (grouped
    aggregations / equi-joins; no rand()/partition-id dependence).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    out = df.repartition(target)
    # Row-count shortcut for scale gates (functions/joins.corpus_rows):
    # COUNT is repartition-invariant, so the gate asks the raw scan; for
    # a read_table scan that is the parquet footers' num_rows, no job.
    out._fanout_base = df
    return out
