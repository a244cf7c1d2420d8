"""STAC reference-parity plans (the reference pipeline's core product).

The reference (MAAP-data-pipelines) discovers remote assets, extracts
metadata with regexes, assembles STAC items, computes an idempotent
transfer plan and submits items. Here every stage is a declarative
DataFrame plan over a deterministic **derived asset catalog** synthesized
from the ``orders`` table, so the DuckDB oracle can rebuild the identical
input and the driver's value hash checks every operator end-to-end.

Reference parity map (file:line cited per operator below):
  s3-discovery/handler.py:18-81     -> s3_discovery
  inventory/handler.py:20-88        -> inventory_discovery
  build-stac/utils/events.py:26-36  -> item_id
  build-stac/utils/regex.py:30-83   -> extract_dates
  build-stac/utils/regex.py:13-27   -> datetime_range
  build-stac/utils/stac.py:207-222  -> media_type_map
  cmr-query/handler.py:11-105       -> multi_asset_group
  build-stac/utils/stac.py:173-184  -> bbox
  build-stac/utils/stac.py:126-161  -> build_stac_items (+ stac_item_json)
  data-transfer/handler.py:30-74    -> transfer_plan
  scripts/collection.py             -> catalog_summary
  cogify/handler.py                 -> cogify (stubbed decode, real
                                       mapInPandas plumbing)

Scale notes: discovery listings ARE datasets (billions of keys at 100 TB);
everything here is a column expression over them — no driver loops, no
pagination (the reference pages at 230 KB because of Lambda payload
limits, irrelevant on Spark). The transfer plan is an anti-join against
the target listing instead of a per-object HEAD request. Known semantic
deviation: filenames with no extractable date yield NULLs here, where the
reference raises (regex.py:60-64) — a deliberate dataflow-friendly choice,
documented.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dates import (
    expand_range,
    extracted_dates,
    extracted_dates_sql,
    start_end_single,
    start_end_single_sql,
)
from ..sources.catalog import fan_out, read_table

SOURCE_BUCKET = "source-store"
TARGET_BUCKET = "target-store"
USER_SHARED_BUCKET = "user-shared-store"
STAGING_DIR = "file-staging"

# extension -> media type; mirrors the per-extension dict lookups of
# build-stac/utils/stac.py:207-222 (_content_type / _roles).
MEDIA_TYPES = {
    "tif": "image/tiff; application=geotiff; profile=cloud-optimized",
    "nc": "application/netcdf",
    "json": "application/json",
    "bin": "application/octet-stream",
    "csv": "text/csv",
    "hdr": "binary/octet-stream",
}
ASSET_ROLES = {"hdr": "metadata", "json": "metadata"}  # default: "data"
_EXTS = ("tif", "nc", "json", "bin", "csv")


# --- derived asset catalog (identical in both engines) --------------------


def _datepart(d: Column, key: Column) -> Column:
    """Filename date token exercising all four reference regex strategies."""
    grp = key % 4
    two = F.concat(
        F.date_format(d, "yyyyMMdd"),
        F.lit("_"),
        F.date_format(F.date_add(d, 45), "yyyyMMdd"),
    )
    return (
        F.when(grp == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(grp == 1, F.when(key % 11 == 0, two).otherwise(F.date_format(d, "yyyyMMdd")))
        .when(grp == 2, F.date_format(d, "yyyyMM"))
        .otherwise(F.date_format(d, "yyyy"))
    )


def asset_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic discovery listing derived from ``orders``.

    One row per remote object; ``bin`` objects get an ``hdr`` companion
    (same stem) so multi-asset grouping has real groups. The id token is
    ``a<orderkey>`` (letter prefix so the digit run is never preceded by
    ``_``/``-`` and cannot shadow the date regex strategies).
    """
    # fan_out: the whole catalog (url assembly + downstream regex date
    # extraction) is CPU-bound map work; a single-file scan would pin it
    # to one core (r11; no-op when the scan already has >= cores splits).
    o = fan_out(read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"))
    key = F.col("o_orderkey")
    d = F.to_date("o_orderdate")
    ext = (
        F.when(key % 5 == 0, "tif")
        .when(key % 5 == 1, "nc")
        .when(key % 5 == 2, "json")
        .when(key % 5 == 3, "bin")
        .otherwise("csv")
    )
    pre = o.select(
        key.alias("asset_id"),
        F.concat(F.lit("coll-"), (key % 7).cast("string")).alias("collection"),
        F.concat(F.lit("a"), key.cast("string"), F.lit("_"), _datepart(d, key)).alias(
            "stem"
        ),
        ext.alias("ext"),
        (key % 3 != 0).alias("upload"),
        (key % 13 == 0).alias("user_shared"),
        F.lit(True).alias("ingest"),
        F.when(key % 2 == 0, F.concat(F.lit("prod-"), key.cast("string"))).alias(
            "product_id"
        ),
    )
    companion = pre.filter(F.col("ext") == "bin").withColumn("ext", F.lit("hdr"))
    both = pre.unionByName(companion)
    return both.select(
        "*",
        F.concat(F.col("stem"), F.lit("."), F.col("ext")).alias("filename"),
    ).select(
        "*",
        F.concat(F.col("collection"), F.lit("/"), F.col("filename")).alias("key"),
        F.concat(
            F.lit(f"s3://{SOURCE_BUCKET}/"),
            F.col("collection"),
            F.lit("/"),
            F.col("filename"),
        ).alias("remote_fileurl"),
        (F.col("ext") == "tif").alias("cogify"),
    )


_DUCK_DATEPART = """
CASE (o_orderkey % 4)
  WHEN 0 THEN strftime(odate, '%Y-%m-%d')
  WHEN 1 THEN CASE WHEN o_orderkey % 11 = 0
                   THEN strftime(odate, '%Y%m%d') || '_' || strftime(odate + 45, '%Y%m%d')
                   ELSE strftime(odate, '%Y%m%d') END
  WHEN 2 THEN strftime(odate, '%Y%m')
  ELSE strftime(odate, '%Y')
END
""".strip()

CATALOG_SQL = f"""
pre AS (
  SELECT o_orderkey AS asset_id,
         'coll-' || CAST(o_orderkey % 7 AS VARCHAR) AS collection,
         'a' || CAST(o_orderkey AS VARCHAR) || '_' || {_DUCK_DATEPART} AS stem,
         CASE (o_orderkey % 5) WHEN 0 THEN 'tif' WHEN 1 THEN 'nc'
              WHEN 2 THEN 'json' WHEN 3 THEN 'bin' ELSE 'csv' END AS ext,
         (o_orderkey % 3 != 0) AS upload,
         (o_orderkey % 13 = 0) AS user_shared,
         TRUE AS ingest,
         CASE WHEN o_orderkey % 2 = 0 THEN 'prod-' || CAST(o_orderkey AS VARCHAR) END AS product_id
  FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate FROM orders)
),
both_rows AS (
  SELECT * FROM pre
  UNION ALL
  SELECT asset_id, collection, stem, 'hdr' AS ext, upload, user_shared, ingest, product_id
  FROM pre WHERE ext = 'bin'
),
catalog AS (
  SELECT *,
         stem || '.' || ext AS filename,
         collection || '/' || stem || '.' || ext AS key,
         's3://{SOURCE_BUCKET}/' || collection || '/' || stem || '.' || ext AS remote_fileurl,
         (ext = 'tif') AS cogify
  FROM both_rows
)
"""


# --- 1. s3_discovery ------------------------------------------------------

DISCOVERY_REGEX = r"^coll-[0-3]/.*\.(tif|nc)$"


def s3_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 listing -> file_obj records with filename_regex filter.

    Parity: s3-discovery/handler.py:18-81 — ``re.match(filename_regex,
    key)`` filter (pattern is start-anchored), file_obj carries collection,
    remote_fileurl and the upload/user_shared/ingest flags. The listing is
    a DataFrame: filter + projection reach the scan (predicate pushdown),
    no pagination loop.
    """
    cat = asset_catalog(spark, sf_dir)
    return cat.filter(F.col("key").rlike(DISCOVERY_REGEX)).select(
        "asset_id", "collection", "remote_fileurl", "upload", "user_shared", "ingest"
    )


S3_DISCOVERY_SQL = f"""
WITH {CATALOG_SQL}
SELECT asset_id, collection, remote_fileurl, upload, user_shared, ingest
FROM catalog
WHERE regexp_matches(key, '{DISCOVERY_REGEX}')
"""


# --- 2. inventory_discovery ----------------------------------------------


def inventory_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-inventory rows -> file_obj with product_id = filename stem.

    Parity: inventory/handler.py:20-88 — ``product_id =
    os.path.splitext(filename)[0].split('/')[-1]`` (stem of the LAST
    extension), optional metadata asset for rows that have a companion
    (here: bin files get their hdr sibling as the metadata asset).
    """
    cat = asset_catalog(spark, sf_dir)
    meta_url = F.when(
        F.col("ext") == "bin",
        F.concat(
            F.lit(f"s3://{SOURCE_BUCKET}/"),
            F.col("collection"),
            F.lit("/"),
            F.col("stem"),
            F.lit(".hdr"),
        ),
    )
    return cat.filter(F.col("ext") != "hdr").select(
        "asset_id",
        "collection",
        "remote_fileurl",
        F.col("stem").alias("inv_product_id"),
        "upload",
        "user_shared",
        "ingest",
        meta_url.alias("metadata_fileurl"),
    )


INVENTORY_DISCOVERY_SQL = f"""
WITH {CATALOG_SQL}
SELECT asset_id, collection, remote_fileurl,
       stem AS inv_product_id,
       upload, user_shared, ingest,
       CASE WHEN ext = 'bin'
            THEN 's3://{SOURCE_BUCKET}/' || collection || '/' || stem || '.hdr' END
         AS metadata_fileurl
FROM catalog
WHERE ext != 'hdr'
"""


# --- 3. item_id -----------------------------------------------------------

ID_REGEX = r"coll-(\d+)/a(\d+)_"


def item_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """item id precedence: id_regex -> product_id -> stem.

    Parity: build-stac/utils/events.py:26-36 — ``re.findall(id_regex,
    remote_fileurl)`` groups joined with '-'; else product_id; else
    ``Path(url).stem``. Rows with asset_id % 3 == 0 carry an id_regex
    (two capture groups), even asset_ids carry a product_id — all three
    branches are exercised.
    """
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    return cat.select("asset_id", _item_id().alias("item_id"))


def _item_id() -> Column:
    """The item id over catalog columns: the ``ID_REGEX`` groups joined
    with '-' when asset_id % 3 == 0, else product_id, else the stem."""
    g1 = F.regexp_extract(F.col("remote_fileurl"), ID_REGEX, 1)
    g2 = F.regexp_extract(F.col("remote_fileurl"), ID_REGEX, 2)
    return (
        F.when(F.col("asset_id") % 3 == 0, F.concat_ws("-", g1, g2))
        .when(F.col("product_id").isNotNull(), F.col("product_id"))
        .otherwise(F.col("stem"))
    )


# _item_id() in SQL
_ITEM_ID_SQL = f"""CASE WHEN asset_id % 3 = 0
            THEN regexp_extract(remote_fileurl, '{ID_REGEX}', 1)
                 || '-' ||
                 regexp_extract(remote_fileurl, '{ID_REGEX}', 2)
            WHEN product_id IS NOT NULL THEN product_id
            ELSE stem END"""

ITEM_ID_SQL = f"""
WITH {CATALOG_SQL}
SELECT asset_id, {_ITEM_ID_SQL} AS item_id
FROM catalog
WHERE ext != 'hdr'
"""


# --- 4. extract_dates -----------------------------------------------------


def extract_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename date extraction: 4 regex strategies, multi-date -> min/max.

    Parity: build-stac/utils/regex.py:30-83 — first strategy with any
    match contributes ALL its matches; >1 match -> (min, max, NULL),
    exactly 1 -> (NULL, NULL, single). Deviation: undateable filenames
    yield NULLs instead of raising (documented in module docstring).
    """
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    # Alias the (expensive, interpreted) date extraction in its OWN
    # projection: CollapseProject keeps a non-cheap alias referenced more
    # than once un-inlined, so the regex cascade runs once per row instead
    # of once per consuming column (r11; see functions/dates.py).
    d = cat.select("asset_id", extracted_dates(F.col("remote_fileurl")).alias("dates"))
    start, end, single = start_end_single(F.col("dates"))
    return d.select(
        "asset_id",
        start.alias("start_date"),
        end.alias("end_date"),
        single.alias("single_date"),
    )


# (start, end, single) over a CTE's ``dates`` list column
_START_SQL, _END_SQL, _SINGLE_SQL = start_end_single_sql("dates")

EXTRACT_DATES_SQL = f"""
WITH {CATALOG_SQL},
d AS (SELECT asset_id, {extracted_dates_sql('remote_fileurl')} AS dates
      FROM catalog WHERE ext != 'hdr')
SELECT asset_id,
       {_START_SQL} AS start_date,
       {_END_SQL} AS end_date,
       {_SINGLE_SQL} AS single_date
FROM d
"""


# --- 5. datetime_range ----------------------------------------------------


def datetime_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single date -> month/year range expansion per collection config.

    Parity: build-stac/utils/regex.py:13-27 — month: day 1 ..
    relativedelta(day=31) (= last_day); year: Jan 1 .. Dec 31. Collections
    coll-0/coll-1 are configured 'month', coll-2/coll-3 'year', the rest
    pass the single date through.
    """
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    # dates aliased in its own projection — single evaluation per row (r11)
    cat = cat.withColumn("dates", extracted_dates(F.col("remote_fileurl")))
    _, _, single = start_end_single(F.col("dates"))
    interval = F.when(
        F.col("collection").isin("coll-0", "coll-1"), F.lit("month")
    ).when(F.col("collection").isin("coll-2", "coll-3"), F.lit("year"))
    month_start, month_end = expand_range(single, "month")
    year_start, year_end = expand_range(single, "year")
    start = F.when(interval == "month", month_start).when(interval == "year", year_start)
    end = F.when(interval == "month", month_end).when(interval == "year", year_end)
    return cat.select(
        "asset_id",
        interval.alias("datetime_range"),
        single.alias("single_date"),
        start.alias("range_start"),
        end.alias("range_end"),
    )


DATETIME_RANGE_SQL = f"""
WITH {CATALOG_SQL},
d AS (SELECT asset_id, collection, {extracted_dates_sql('remote_fileurl')} AS dates
      FROM catalog WHERE ext != 'hdr'),
s AS (SELECT asset_id,
             CASE WHEN collection IN ('coll-0', 'coll-1') THEN 'month'
                  WHEN collection IN ('coll-2', 'coll-3') THEN 'year' END AS datetime_range,
             {_SINGLE_SQL} AS single_date
      FROM d)
SELECT asset_id, datetime_range, single_date,
       CASE WHEN datetime_range = 'month' THEN CAST(date_trunc('month', single_date) AS DATE)
            WHEN datetime_range = 'year'  THEN CAST(date_trunc('year', single_date) AS DATE) END AS range_start,
       CASE WHEN datetime_range = 'month' THEN last_day(single_date)
            WHEN datetime_range = 'year'  THEN make_date(CAST(year(single_date) AS INT), 12, 31) END AS range_end
FROM s
"""


# --- 6. media_type_map ----------------------------------------------------


def media_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension -> media type + role per-extension dict lookup.

    Parity: build-stac/utils/stac.py:207-222 (_content_type/_roles):
    suffix-keyed dict with a default role of 'data'.
    """
    cat = asset_catalog(spark, sf_dir)
    role = F.lit("data")
    for ext, r in ASSET_ROLES.items():
        role = F.when(F.col("ext") == ext, r).otherwise(role)
    return cat.select("asset_id", "ext", _media_type().alias("media_type"), role.alias("role"))


def _media_type() -> Column:
    """``MEDIA_TYPES`` looked up by ``ext`` (NULL for an unlisted ext)."""
    mt = F.lit(None).cast("string")
    for ext, typ in reversed(MEDIA_TYPES.items()):
        mt = F.when(F.col("ext") == ext, typ).otherwise(mt)
    return mt


def _media_case() -> str:
    whens = " ".join(
        f"WHEN '{e}' THEN '{t}'" for e, t in MEDIA_TYPES.items()
    )
    return f"CASE ext {whens} END"


def _role_case() -> str:
    whens = " ".join(f"WHEN '{e}' THEN '{r}'" for e, r in ASSET_ROLES.items())
    return f"CASE ext {whens} ELSE 'data' END"


MEDIA_TYPE_MAP_SQL = f"""
WITH {CATALOG_SQL}
SELECT asset_id, ext, {_media_case()} AS media_type, {_role_case()} AS role
FROM catalog
"""


# --- 7. multi_asset_group -------------------------------------------------


def multi_asset_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-id grouping -> sorted assets map, one item per data_file.

    Parity: cmr-query/handler.py:11-105 (multi_asset_items) — group
    related fileurls by the product-id regex match, build a sorted
    {asset_suffix: url} map, emit one item per file matching the
    data_file pattern (here: '.bin'). The assets map is rendered as a
    deterministic 'suffix=url' join so the value hash is stable.
    """
    cat = asset_catalog(spark, sf_dir)
    with_pid = cat.withColumn(
        "pid", F.regexp_extract(F.col("remote_fileurl"), r"a\d+_", 0)
    ).filter(F.col("ext").isin("bin", "hdr"))
    assets = (
        with_pid.groupBy("pid")
        .agg(sorted_asset_list(F.col("ext")).alias("asset_list"))
        .select(
            "pid",
            F.size(F.col("asset_list")).cast("long").alias("n_assets"),
            F.concat_ws(";", F.col("asset_list")).alias("assets"),
        )
    )
    data_files = with_pid.filter(F.col("ext") == "bin").select(
        "asset_id", "pid", F.col("remote_fileurl").alias("data_fileurl")
    )
    return data_files.join(assets, "pid").select(
        "asset_id", F.col("pid").alias("product_key"), "n_assets", "assets", "data_fileurl"
    )


def sorted_asset_list(key: Column) -> Column:
    """Aggregate: the group's sorted ``key=remote_fileurl`` entries.
    ``concat_ws(';', ...)`` over it is the one assets string every
    discovery mode emits."""
    return F.array_sort(
        F.collect_list(F.concat(key, F.lit("="), F.col("remote_fileurl")))
    )


MULTI_ASSET_GROUP_SQL = f"""
WITH {CATALOG_SQL},
wp AS (
  SELECT asset_id, ext, remote_fileurl,
         regexp_extract(remote_fileurl, 'a\\d+_', 0) AS pid
  FROM catalog WHERE ext IN ('bin', 'hdr')
),
assets AS (
  SELECT pid,
         CAST(COUNT(*) AS BIGINT) AS n_assets,
         list_aggregate(list_sort(list(ext || '=' || remote_fileurl)), 'string_agg', ';') AS assets
  FROM wp GROUP BY pid
)
SELECT d.asset_id, d.pid AS product_key, a.n_assets, a.assets, d.remote_fileurl AS data_fileurl
FROM (SELECT asset_id, pid, remote_fileurl FROM wp WHERE ext = 'bin') d
JOIN assets a USING (pid)
"""


# --- 8. bbox --------------------------------------------------------------


def bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding box from a coordinate list (min/max corners).

    Parity: build-stac/utils/stac.py:173-184 (get_bbox) — [min x, min y,
    max x, max y] over the polygon's coordinates. The polygon is four
    deterministic pseudo-random corners derived from asset_id.
    """
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    k = F.col("asset_id")

    def lon(mult: int) -> Column:
        return ((k * mult % 3600) - 1800).cast("double") / F.lit(10).cast("double")

    def lat(mult: int) -> Column:
        return ((k * mult % 1700) - 850).cast("double") / F.lit(10).cast("double")

    xs = [lon(7), lon(11), lon(13), lon(17)]
    ys = [lat(7), lat(11), lat(13), lat(17)]
    return cat.select(
        "asset_id",
        F.least(*xs).alias("min_x"),
        F.least(*ys).alias("min_y"),
        F.greatest(*xs).alias("max_x"),
        F.greatest(*ys).alias("max_y"),
    )


def _duck_lon(mult: int) -> str:
    return f"CAST((asset_id * {mult} % 3600) - 1800 AS DOUBLE) / CAST(10 AS DOUBLE)"


def _duck_lat(mult: int) -> str:
    return f"CAST((asset_id * {mult} % 1700) - 850 AS DOUBLE) / CAST(10 AS DOUBLE)"


# bbox() over the ``catalog`` CTE, without its WITH clause
_BBOX_SELECT_SQL = f"""
SELECT asset_id,
       least({_duck_lon(7)}, {_duck_lon(11)}, {_duck_lon(13)}, {_duck_lon(17)}) AS min_x,
       least({_duck_lat(7)}, {_duck_lat(11)}, {_duck_lat(13)}, {_duck_lat(17)}) AS min_y,
       greatest({_duck_lon(7)}, {_duck_lon(11)}, {_duck_lon(13)}, {_duck_lon(17)}) AS max_x,
       greatest({_duck_lat(7)}, {_duck_lat(11)}, {_duck_lat(13)}, {_duck_lat(17)}) AS max_y
FROM catalog WHERE ext != 'hdr'
"""

BBOX_SQL = f"WITH {CATALOG_SQL}{_BBOX_SELECT_SQL}"


# --- 9. build_stac_items --------------------------------------------------


def build_stac_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full STAC item assembly: id, datetime properties, asset, collection.

    Parity: build-stac/utils/stac.py:126-161 (generate_stac_regexevent) —
    multi-date -> start/end_datetime properties ('%Y-%m-%dT%H:%M:%SZ'),
    single date (+ optional range expansion) -> item datetime; id per the
    events.py precedence; media type per extension.
    """
    return stac_items_from_catalog(asset_catalog(spark, sf_dir))


def stac_items_from_catalog(cat: DataFrame) -> DataFrame:
    """build_stac_items' assembly body over a CALLER-SUPPLIED catalog frame
    (pipelines plan ``asset_catalog`` once and derive the items and the
    transfer plan from it)."""
    cat = cat.filter(F.col("ext") != "hdr")
    # dates aliased in its own projection — single evaluation per row (r11)
    cat = cat.withColumn("dates", extracted_dates(F.col("remote_fileurl")))
    start, end, single = start_end_single(F.col("dates"))
    fmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    return cat.select(
        "asset_id",
        _item_id().alias("item_id"),
        "collection",
        F.date_format(start, fmt).alias("start_datetime"),
        F.date_format(end, fmt).alias("end_datetime"),
        F.date_format(single, fmt).alias("datetime"),
        F.col("remote_fileurl").alias("asset_href"),
        _media_type().alias("asset_media_type"),
        "ingest",
    )


def stac_items_materialized(cat: DataFrame) -> DataFrame:
    """The STAC items frame over ``cat``, MATERIALIZED for multi-consumer
    sessions.

    ``stac_item_json``, ``catalog_summary``, ``stac_coverage_gaps`` and
    the partitioned catalog write each re-derive ``build_stac_items``
    when run standalone (the registered-query contract); a pipeline or
    API session that needs several of those products would otherwise pay
    the catalog scan + regex/date assembly once PER consumer. Same
    pattern as ``plans.llm.cascade_verdicts``: run the assembly once,
    ``localCheckpoint`` the item rows, branch every product from
    materialized rows via the ``*_from_items`` bodies. The checkpoint is
    lazy but not free: with AQE on, ``localCheckpoint(eager=False)``
    plans the frame and runs every shuffle stage of it (over a
    single-file ``orders`` scan, the catalog's ``fan_out`` exchange)
    when it is called; only the final stage waits for the first
    consuming action. Byte-equality with the standalone build is pinned
    by tests/test_stac_ops.py::test_stac_items_materialized_shares.
    """
    return stac_items_from_catalog(cat).localCheckpoint(eager=False)


BUILD_STAC_ITEMS_SQL = f"""
WITH {CATALOG_SQL},
d AS (SELECT *, {extracted_dates_sql('remote_fileurl')} AS dates
      FROM catalog WHERE ext != 'hdr')
SELECT asset_id,
       {_ITEM_ID_SQL} AS item_id,
       collection,
       strftime({_START_SQL}, '%Y-%m-%dT%H:%M:%SZ') AS start_datetime,
       strftime({_END_SQL}, '%Y-%m-%dT%H:%M:%SZ') AS end_datetime,
       strftime({_SINGLE_SQL}, '%Y-%m-%dT%H:%M:%SZ') AS datetime,
       remote_fileurl AS asset_href,
       {_media_case()} AS asset_media_type,
       ingest
FROM d
"""


# --- 10. transfer_plan ----------------------------------------------------


def transfer_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent transfer plan: target key + anti-join vs existing objects.

    Parity: data-transfer/handler.py:30-74 — skip (upload and cogify) or
    not upload; user_shared routes to the shared bucket; target_key =
    '{STAGING_DIR}/{collection}/{filename}'; skip objects already in the
    target (reference: per-object head_object — here ONE distributed
    anti-join against the target listing, the scale-correct formulation).
    The simulated target listing already contains every asset_id % 4 == 1.
    """
    return transfer_plan_from_catalog(asset_catalog(spark, sf_dir))


def transfer_plan_from_catalog(cat: DataFrame) -> DataFrame:
    """transfer_plan's body over a caller-supplied catalog frame."""
    eligible = cat.filter(F.col("upload") & ~F.col("cogify"))
    bucket = F.when(F.col("user_shared"), USER_SHARED_BUCKET).otherwise(TARGET_BUCKET)
    target_key = F.concat(
        F.lit(f"{STAGING_DIR}/"), F.col("collection"), F.lit("/"), F.col("filename")
    ).alias("target_key")
    planned = eligible.select(
        "asset_id",
        F.col("remote_fileurl").alias("source_url"),
        target_key,
        bucket.alias("target_bucket"),
        "ext",
    )
    existing = cat.filter(F.col("asset_id") % 4 == 1).select(target_key)
    return (
        planned.join(existing, "target_key", "left_anti")
        .select(
            "asset_id",
            "ext",
            "source_url",
            F.concat(
                F.lit("s3://"), F.col("target_bucket"), F.lit("/"), F.col("target_key")
            ).alias("target_url"),
        )
    )


_TARGET_KEY_SQL = f"'{STAGING_DIR}/' || collection || '/' || filename"

TRANSFER_PLAN_SQL = f"""
WITH {CATALOG_SQL},
planned AS (
  SELECT asset_id, ext, remote_fileurl AS source_url,
         {_TARGET_KEY_SQL} AS target_key,
         CASE WHEN user_shared THEN '{USER_SHARED_BUCKET}' ELSE '{TARGET_BUCKET}' END AS target_bucket
  FROM catalog WHERE upload AND NOT cogify
),
existing AS (
  SELECT {_TARGET_KEY_SQL} AS target_key
  FROM catalog WHERE asset_id % 4 = 1
)
SELECT asset_id, ext, source_url,
       's3://' || target_bucket || '/' || target_key AS target_url
FROM planned
WHERE target_key NOT IN (SELECT target_key FROM existing)
"""


# --- 11. stac_item_json ---------------------------------------------------


def stac_item_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC item -> JSON document (manual rendering, hash-exact).

    Parity: build-stac/handler.py:44 (item.to_dict() -> JSON). Rendered by
    string concatenation with a fixed key order so both engines emit
    byte-identical documents (synthesized values contain no characters
    needing JSON escaping).
    """
    return stac_item_json_from_items(build_stac_items(spark, sf_dir))


def stac_item_json_from_items(items: DataFrame) -> DataFrame:
    """stac_item_json's rendering body over a CALLER-SUPPLIED items frame
    (the cascade_verdicts split: pipelines feed one materialized items
    frame to every consumer; the registered query composes a fresh
    standalone build, same oracle)."""

    def _jstr(col: Column) -> Column:
        return F.when(col.isNull(), F.lit("null")).otherwise(
            F.concat(F.lit('"'), col, F.lit('"'))
        )

    doc = F.concat(
        F.lit('{"type": "Feature", "stac_version": "1.0.0", "id": '),
        _jstr(F.col("item_id")),
        F.lit(', "collection": '),
        _jstr(F.col("collection")),
        F.lit(', "properties": {"start_datetime": '),
        _jstr(F.col("start_datetime")),
        F.lit(', "end_datetime": '),
        _jstr(F.col("end_datetime")),
        F.lit(', "datetime": '),
        _jstr(F.col("datetime")),
        F.lit('}, "assets": {"data": {"href": '),
        _jstr(F.col("asset_href")),
        F.lit(', "type": '),
        _jstr(F.col("asset_media_type")),
        F.lit(', "roles": ["data"]}}}'),
    )
    return items.select("asset_id", doc.alias("item_json"))


_J = "CASE WHEN {c} IS NULL THEN 'null' ELSE '\"' || {c} || '\"' END"

STAC_ITEM_JSON_SQL = f"""
WITH items AS ({BUILD_STAC_ITEMS_SQL})
SELECT asset_id,
       '{{"type": "Feature", "stac_version": "1.0.0", "id": '
       || {_J.format(c='item_id')}
       || ', "collection": ' || {_J.format(c='collection')}
       || ', "properties": {{"start_datetime": ' || {_J.format(c='start_datetime')}
       || ', "end_datetime": ' || {_J.format(c='end_datetime')}
       || ', "datetime": ' || {_J.format(c='datetime')}
       || '}}, "assets": {{"data": {{"href": ' || {_J.format(c='asset_href')}
       || ', "type": ' || {_J.format(c='asset_media_type')}
       || ', "roles": ["data"]}}}}}}' AS item_json
FROM items
"""


# --- 12. catalog_summary --------------------------------------------------


def catalog_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-level rollup: counts, flags, date coverage.

    Parity: scripts/collection.py (collection summaries over its items).
    """
    return catalog_summary_from_items(build_stac_items(spark, sf_dir))


def catalog_summary_from_items(items: DataFrame) -> DataFrame:
    """catalog_summary's rollup body over a caller-supplied items frame."""
    return items.groupBy("collection").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min(F.coalesce(F.col("datetime"), F.col("start_datetime"))).alias(
            "first_datetime"
        ),
        F.max(F.coalesce(F.col("datetime"), F.col("end_datetime"))).alias(
            "last_datetime"
        ),
        F.countDistinct("asset_media_type").alias("n_media_types"),
    )


CATALOG_SUMMARY_SQL = f"""
WITH items AS ({BUILD_STAC_ITEMS_SQL})
SELECT collection,
       COUNT(*) AS n_items,
       MIN(COALESCE(datetime, start_datetime)) AS first_datetime,
       MAX(COALESCE(datetime, end_datetime)) AS last_datetime,
       COUNT(DISTINCT asset_media_type) AS n_media_types
FROM items
GROUP BY collection
"""


# --- 13. cogify (stubbed decode, real mapInPandas plumbing) ---------------


def cogify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> COG binary transform plumbing.

    Parity: cogify/handler.py — per-file GDAL translate to a COG staging
    key. GDAL is not in this environment, so the decode is a deterministic
    stub (md5-derived fake output size); the Spark-side plumbing is REAL:
    Arrow-batched mapInPandas over the tif partition, one output row per
    input raster. The oracle reproduces the stub arithmetic in SQL, so
    even the stubbed path is value-hash-checked. The REAL codec lives in
    ``functions.cog`` (rio_cogeo behind an optional import —
    ``cogify_binary`` uses it automatically when importable); this
    registered query stays on the stub so its oracle matches on any host.
    """
    import pandas as _pd

    from ..functions.cog import stub_cog_size

    cat = asset_catalog(spark, sf_dir).filter(F.col("cogify"))
    src = cat.select("asset_id", "key", "collection", "filename")
    schema = "asset_id bigint, target_url string, out_bytes bigint, status string"

    def _cogify_batches(batches):
        for pdf in batches:
            out = _pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "target_url": (
                        f"s3://{TARGET_BUCKET}/cog/"
                        + pdf["collection"]
                        + "/"
                        + pdf["filename"]
                    ),
                    "out_bytes": pdf["key"].map(stub_cog_size).astype("int64"),
                    "status": "stubbed-cog",
                }
            )
            yield out

    return src.mapInPandas(_cogify_batches, schema=schema)


COGIFY_SQL = f"""
WITH {CATALOG_SQL}
SELECT asset_id,
       's3://{TARGET_BUCKET}/cog/' || collection || '/' || filename AS target_url,
       (('0x' || substr(md5(key), 1, 15))::BIGINT) % 1000000000 AS out_bytes,
       'stubbed-cog' AS status
FROM catalog
WHERE cogify
"""


# --- 14. cmr_discovery ----------------------------------------------------


def cmr_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMR granule JSON -> file_obj records (offline fixtures).

    Parity: cmr-query/handler.py:108-188 — query granules, pick the s3#
    link as the data url, count links, propagate collection. The granule
    JSON documents are synthesized deterministically from the catalog
    (both engines build byte-identical fixtures), then parsed with the
    engine's JSON functions — the parse path is the operator under test.
    """
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    granule_json = F.concat(
        F.lit('{"id": "G'),
        F.col("asset_id").cast("string"),
        F.lit('-MAAP", "collection_concept_id": "C-'),
        F.col("collection"),
        F.lit('", "links": [{"rel": "http://esipfed.org/ns/fedsearch/1.1/s3#", "href": "'),
        F.col("remote_fileurl"),
        F.lit('"}, {"rel": "http://esipfed.org/ns/fedsearch/1.1/metadata#", "href": "'),
        F.col("remote_fileurl"),
        F.lit('.cmr.xml"}]}'),
    )
    g = cat.select("asset_id", granule_json.alias("granule_json"))
    return g.select(
        "asset_id",
        F.get_json_object(F.col("granule_json"), "$.id").alias("granule_id"),
        F.get_json_object(F.col("granule_json"), "$.collection_concept_id").alias(
            "concept_id"
        ),
        F.get_json_object(F.col("granule_json"), "$.links[0].href").alias("data_url"),
        F.json_array_length(
            F.get_json_object(F.col("granule_json"), "$.links")
        ).cast("long").alias("n_links"),
    )


CMR_DISCOVERY_SQL = f"""
WITH {CATALOG_SQL},
g AS (
  SELECT asset_id,
         '{{"id": "G' || CAST(asset_id AS VARCHAR)
         || '-MAAP", "collection_concept_id": "C-' || collection
         || '", "links": [{{"rel": "http://esipfed.org/ns/fedsearch/1.1/s3#", "href": "'
         || remote_fileurl
         || '"}}, {{"rel": "http://esipfed.org/ns/fedsearch/1.1/metadata#", "href": "'
         || remote_fileurl || '.cmr.xml"}}]}}' AS granule_json
  FROM catalog WHERE ext != 'hdr'
)
SELECT asset_id,
       json_extract_string(granule_json, '$.id') AS granule_id,
       json_extract_string(granule_json, '$.collection_concept_id') AS concept_id,
       json_extract_string(granule_json, '$.links[0].href') AS data_url,
       CAST(json_array_length(granule_json, '$.links') AS BIGINT) AS n_links
FROM g
"""


# --- 15. spatial neighbor join (grid-cell blocking) -----------------------

NEIGHBOR_DIST = 0.5  # degrees; grid cell edge == dist so Hamming-1 cells cover
_CELL_TENTHS = int(NEIGHBOR_DIST * 10)  # coords are integer tenth-degrees


def assets_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All asset pairs within 0.5 deg (euclidean), via grid-cell blocking.

    The geospatial twin of the banded joins: each asset gets a
    deterministic point (same tenth-degree arithmetic as :func:`bbox`),
    the plane is cut into dist-sized grid cells computed in INTEGER
    tenth-degrees (no float-boundary ambiguity), and one side probes its
    3x3 cell neighborhood while the other keeps its own cell — so the
    candidate join is an EQUI-join on (cell_x, cell_y) with fan-out
    bounded by cell occupancy, never all pairs. Any pair within dist is
    at most one cell apart in each dim (cell edge == dist), so blocking
    is COMPLETE — and the oracle is the brute-force cross join, which
    re-proves completeness on every driver run. Exact distance then
    filters candidates; each qualifying pair matches exactly one probe
    offset, so no dedup pass is needed.

    Scale shape: x9 map-side explode on one side into a shuffle hash
    join on the cell key — the same constant-fan-out trade as
    events_purchase_context (1D banded) and embedding_dedup_mp (bit
    probes). Skewed cells (dense regions) split under AQE skew-join.
    """
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    k = F.col("asset_id")
    pts = cat.select(
        "asset_id",
        (k * 7 % 3600).alias("xi"),
        (k * 7 % 1700).alias("yi"),
    ).select(
        "asset_id",
        ((F.col("xi") - 1800).cast("double") / 10).alias("x"),
        ((F.col("yi") - 850).cast("double") / 10).alias("y"),
        F.floor(F.col("xi") / _CELL_TENTHS).alias("cx"),
        F.floor(F.col("yi") / _CELL_TENTHS).alias("cy"),
    )
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    (F.col("cx") + dx).alias("cx"), (F.col("cy") + dy).alias("cy")
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("p")
    a = pts.select(
        F.col("asset_id").alias("asset_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        probes,
    ).select("asset_a", "xa", "ya", F.col("p.cx").alias("cx"), F.col("p.cy").alias("cy"))
    b = pts.select(
        F.col("asset_id").alias("asset_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["cx", "cy"])
        .filter(F.col("asset_a") < F.col("asset_b"))
        .select("asset_a", "asset_b", F.round(d2, 6).alias("dist_sq"))
        .filter(F.col("dist_sq") <= NEIGHBOR_DIST * NEIGHBOR_DIST)
    )


NEIGHBOR_JOIN_SQL = f"""
WITH {CATALOG_SQL},
pts AS (
  SELECT asset_id,
         CAST((asset_id * 7 % 3600) - 1800 AS DOUBLE) / 10 AS x,
         CAST((asset_id * 7 % 1700) - 850 AS DOUBLE) / 10 AS y
  FROM catalog WHERE ext != 'hdr'
)
SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       ROUND((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 6) AS dist_sq
FROM pts a JOIN pts b ON a.asset_id < b.asset_id
WHERE ROUND((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 6)
      <= {NEIGHBOR_DIST * NEIGHBOR_DIST}
"""


_TILE_ZOOM = 4  # 16 x 16 grid


def assets_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slippy-map tile rollup: assets per (quadkey, collection) at zoom 4.

    The map-dashboard aggregation every geospatial catalog needs (the
    reference renders per-collection maps from item geometry; a
    catalog-scale engine pre-aggregates them): each asset's bbox centroid
    lands in an integer tile, tiles get Bing-style quadkeys (one base-4
    digit per zoom level, MSB first — a tile's quadkey is a PREFIX of all
    its children's, so coarser zooms are a ``LIKE 'prefix%'`` or a
    truncation rollup away), plus the Morton key (functions/zorder.py)
    that makes tile ranges byte-sortable for layout.

    Tiles are EQUIRECTANGULAR (uniform lat bands), not Web-Mercator: the
    Mercator y-formula needs ln/tan, whose cross-engine float parity is
    not guaranteed — tile assignment must be hash-exact, and a monitoring
    rollup does not care about map projection aesthetics. At 100 TB this
    is one map-side-combined groupBy over (2^2z x collections) keys —
    cell count independent of asset count.
    """
    from ..functions.zorder import zorder_key

    n = 1 << _TILE_ZOOM
    b = bbox(spark, sf_dir)
    cx = (F.col("min_x") + F.col("max_x")) / F.lit(2.0)
    cy = (F.col("min_y") + F.col("max_y")) / F.lit(2.0)
    tx = F.floor((cx + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    ty = F.floor((F.lit(90.0) - cy) / F.lit(180.0) * F.lit(float(n))).cast("long")
    digits = [
        (
            F.shiftleft(
                F.shiftright(F.col("tile_y"), _TILE_ZOOM - 1 - i).bitwiseAND(F.lit(1)), 1
            )
            + F.shiftright(F.col("tile_x"), _TILE_ZOOM - 1 - i).bitwiseAND(F.lit(1))
        ).cast("string")
        for i in range(_TILE_ZOOM)
    ]
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr").select(
        "asset_id", "collection"
    )
    tiles = (
        b.select("asset_id", tx.alias("tile_x"), ty.alias("tile_y"))
        .withColumn("quadkey", F.concat(*digits))
        .withColumn("morton", zorder_key(F.col("tile_x"), F.col("tile_y")))
        .join(cat, "asset_id")
    )
    return tiles.groupBy("quadkey", "morton", "tile_x", "tile_y", "collection").agg(
        F.count(F.lit(1)).alias("n_assets")
    )


def _tile_rollup_sql() -> str:
    from ..functions.zorder import zorder_key_sql

    n = 1 << _TILE_ZOOM
    digits = " || ".join(
        f"CAST((((tile_y >> {_TILE_ZOOM - 1 - i}) & 1) << 1)"
        f" + ((tile_x >> {_TILE_ZOOM - 1 - i}) & 1) AS VARCHAR)"
        for i in range(_TILE_ZOOM)
    )
    return f"""
WITH {CATALOG_SQL},
boxes AS ({_BBOX_SELECT_SQL}),
tiles AS (
  SELECT asset_id,
         CAST(FLOOR(((min_x + max_x) / 2.0 + 180.0) / 360.0 * {float(n)}) AS BIGINT) AS tile_x,
         CAST(FLOOR((90.0 - (min_y + max_y) / 2.0) / 180.0 * {float(n)}) AS BIGINT) AS tile_y
  FROM boxes
)
SELECT {digits} AS quadkey,
       {zorder_key_sql('tile_x', 'tile_y')} AS morton,
       tile_x, tile_y, c.collection,
       CAST(COUNT(*) AS BIGINT) AS n_assets
FROM tiles t JOIN catalog c USING (asset_id)
WHERE c.ext != 'hdr'
GROUP BY 1, 2, 3, 4, 5
"""


# --- 17. bbox intersection join (grid partition + duplicate avoidance) ----

_OV_CELL = 100  # grid cell edge, tenth-degrees (10 deg)
_OV_SHIFT = 2000  # shifts tenth-degree coords non-negative before div


def _footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact per-asset footprint boxes in INTEGER tenth-degrees.

    Centroid reuses :func:`assets_neighbor_join`'s point arithmetic; the
    half-extents (0.2-1.0 deg per axis) are derived from asset_id so both
    engines regenerate them. Integer coords = no float-boundary
    ambiguity anywhere in the join predicate.
    """
    cat = asset_catalog(spark, sf_dir).filter(F.col("ext") != "hdr")
    k = F.col("asset_id")
    return cat.select(
        "asset_id",
        ((k * 7 % 3600) - 1800).alias("cx"),
        ((k * 7 % 1700) - 850).alias("cy"),
        (k * 19 % 9 + 2).alias("w"),
        (k * 23 % 9 + 2).alias("h"),
    ).select(
        "asset_id",
        (F.col("cx") - F.col("w")).alias("xlo"),
        (F.col("cx") + F.col("w")).alias("xhi"),
        (F.col("cy") - F.col("h")).alias("ylo"),
        (F.col("cy") + F.col("h")).alias("yhi"),
    )


def _footprint_cells(fp: DataFrame, side: str) -> DataFrame:
    """One row per (footprint, grid cell it touches), columns suffixed
    ``_{side}`` except the cell key (gx, gy)."""

    def cells(lo: str, hi: str) -> Column:
        return F.expr(
            f"sequence(({lo} + {_OV_SHIFT}) div {_OV_CELL},"
            f" ({hi} + {_OV_SHIFT}) div {_OV_CELL})"
        )

    edges = ("xlo", "xhi", "ylo", "yhi")
    box = [f"{c}_{side}" for c in edges]
    return fp.select(
        F.col("asset_id").alias(f"asset_{side}"),
        *[F.col(c).alias(f"{c}_{side}") for c in edges],
        cells("xlo", "xhi").alias("gxs"),
        cells("ylo", "yhi").alias("gys"),
    ).select(
        f"asset_{side}", *box, F.explode("gxs").alias("gx"), F.col("gys")
    ).select(f"asset_{side}", *box, "gx", F.explode("gys").alias("gy"))


def assets_bbox_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All intersecting footprint pairs + overlap area, via grid partition.

    The RECTANGLE sibling of :func:`assets_neighbor_join` (range join,
    not distance join): each box is exploded to every grid cell it
    touches (box edge <= 2 tenth-deg cells per axis, so fan-out <= 4),
    candidates meet in an EQUI-join on (cell_x, cell_y), and the exact
    closed-interval test filters them. Two boxes can share SEVERAL
    cells, so instead of a global ``distinct`` (a second full shuffle of
    the result) each qualifying pair is emitted by exactly ONE cell —
    the cell containing the intersection's lower-left corner (the PBSM
    duplicate-avoidance rule). The oracle is the brute inequality join,
    so every driver run re-proves both binning completeness AND the
    single-reporter rule. All coordinates are integer tenths: the
    predicate, the reporter test, and the area are int64-exact.

    Scale shape: <=4x map-side explode into a shuffle hash join on the
    cell key; dense regions split under AQE skew-join; output work is
    proportional to true intersections, never all pairs.
    """
    fp = _footprints(spark, sf_dir)
    a, b = _footprint_cells(fp, "a"), _footprint_cells(fp, "b")
    ixlo = F.greatest(F.col("xlo_a"), F.col("xlo_b"))
    iylo = F.greatest(F.col("ylo_a"), F.col("ylo_b"))
    return (
        a.join(b, ["gx", "gy"])
        .filter(F.col("asset_a") < F.col("asset_b"))
        .filter(
            (F.col("xlo_a") <= F.col("xhi_b")) & (F.col("xlo_b") <= F.col("xhi_a"))
            & (F.col("ylo_a") <= F.col("yhi_b")) & (F.col("ylo_b") <= F.col("yhi_a"))
        )
        .filter(
            (F.col("gx") == F.expr(f"(greatest(xlo_a, xlo_b) + {_OV_SHIFT}) div {_OV_CELL}"))
            & (F.col("gy") == F.expr(f"(greatest(ylo_a, ylo_b) + {_OV_SHIFT}) div {_OV_CELL}"))
        )
        .select(
            "asset_a",
            "asset_b",
            (
                (F.least(F.col("xhi_a"), F.col("xhi_b")) - ixlo)
                * (F.least(F.col("yhi_a"), F.col("yhi_b")) - iylo)
            ).cast("long").alias("overlap_area_t2"),
        )
    )


BBOX_OVERLAP_SQL = f"""
WITH {CATALOG_SQL},
fp AS (
  SELECT asset_id,
         (asset_id * 7 % 3600) - 1800 - (asset_id * 19 % 9 + 2) AS xlo,
         (asset_id * 7 % 3600) - 1800 + (asset_id * 19 % 9 + 2) AS xhi,
         (asset_id * 7 % 1700) - 850 - (asset_id * 23 % 9 + 2) AS ylo,
         (asset_id * 7 % 1700) - 850 + (asset_id * 23 % 9 + 2) AS yhi
  FROM catalog WHERE ext != 'hdr'
)
SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       CAST((LEAST(a.xhi, b.xhi) - GREATEST(a.xlo, b.xlo))
          * (LEAST(a.yhi, b.yhi) - GREATEST(a.ylo, b.ylo)) AS BIGINT)
         AS overlap_area_t2
FROM fp a JOIN fp b ON a.asset_id < b.asset_id
WHERE a.xlo <= b.xhi AND b.xlo <= a.xhi
  AND a.ylo <= b.yhi AND b.ylo <= a.yhi
"""


GAP_MIN_DAYS = 30


def stac_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal COVERAGE GAPS per collection — the catalog-QA read a
    data-portal operator runs after every backfill: order each
    collection's distinct item dates and surface every hole longer than
    GAP_MIN_DAYS (a missed delivery window, a failed discovery run, or
    a real instrument outage — all invisible in catalog_summary's
    min/max). One lead() per collection-ordered date stream; gaps are
    exact day differences, so the report is integer-deterministic.

    Scale shape: distinct (collection, date) is a map-side-combined
    projection of the item frame; the lead window partitions by
    collection (collection-sized partitions — the catalog dimension,
    not the asset count).
    """
    return coverage_gaps_from_items(build_stac_items(spark, sf_dir))


def coverage_gaps_from_items(items: DataFrame) -> DataFrame:
    """stac_coverage_gaps' gap scan over a caller-supplied items frame."""
    from pyspark.sql.window import Window

    # No pre-distinct null filter (r11): `isnotnull(d)` was pushed below
    # the projection and inlined the whole interpreted date-regex cascade
    # into a per-row Filter (16 regexp_extract_all instances in the plan).
    # Dropping it is output-identical: a NULL d sorts FIRST within its
    # collection, so no non-null d ever has a NULL successor, and every
    # row with d IS NULL dies at `gap_days > GAP_MIN_DAYS` (NULL datediff
    # compares to NULL -> dropped). Only ~one (collection, NULL) row per
    # collection transits the distinct/window — noise.
    days = (
        items.select(
            "collection",
            F.to_date(
                F.coalesce(F.col("datetime"), F.col("start_datetime")).substr(1, 10)
            ).alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("collection").orderBy("d")
    gaps = (
        days.withColumn("nxt", F.lead("d").over(w))
        .filter(F.col("nxt").isNotNull())
        .withColumn("gap_days", F.datediff(F.col("nxt"), F.col("d")))
        .filter(F.col("gap_days") > GAP_MIN_DAYS)
    )
    return gaps.select(
        "collection",
        F.col("d").cast("string").alias("gap_start"),
        F.col("nxt").cast("string").alias("gap_end"),
        F.col("gap_days").cast("long").alias("gap_days"),
    )


STAC_COVERAGE_GAPS_SQL = f"""
WITH items AS ({BUILD_STAC_ITEMS_SQL}),
days AS (
  SELECT DISTINCT collection,
         CAST(substring(COALESCE(datetime, start_datetime), 1, 10) AS DATE) AS d
  FROM items
  WHERE COALESCE(datetime, start_datetime) IS NOT NULL
),
gaps AS (
  SELECT collection, d,
         LEAD(d) OVER (PARTITION BY collection ORDER BY d) AS nxt
  FROM days
)
SELECT collection,
       CAST(d AS VARCHAR) AS gap_start,
       CAST(nxt AS VARCHAR) AS gap_end,
       CAST(datediff('day', d, nxt) AS BIGINT) AS gap_days
FROM gaps
WHERE nxt IS NOT NULL AND datediff('day', d, nxt) > {GAP_MIN_DAYS}
"""


QUERIES = {
    "assets_neighbor_join": assets_neighbor_join,
    "s3_discovery": s3_discovery,
    "inventory_discovery": inventory_discovery,
    "item_id": item_id,
    "extract_dates": extract_dates,
    "datetime_range": datetime_range,
    "media_type_map": media_type_map,
    "multi_asset_group": multi_asset_group,
    "bbox": bbox,
    "build_stac_items": build_stac_items,
    "stac_coverage_gaps": stac_coverage_gaps,
    "transfer_plan": transfer_plan,
    "stac_item_json": stac_item_json,
    "catalog_summary": catalog_summary,
    "cogify": cogify,
    "cmr_discovery": cmr_discovery,
    "assets_tile_rollup": assets_tile_rollup,
    "assets_bbox_overlap": assets_bbox_overlap,
}

ORACLES = {
    "assets_neighbor_join": NEIGHBOR_JOIN_SQL,
    "s3_discovery": S3_DISCOVERY_SQL,
    "inventory_discovery": INVENTORY_DISCOVERY_SQL,
    "item_id": ITEM_ID_SQL,
    "extract_dates": EXTRACT_DATES_SQL,
    "datetime_range": DATETIME_RANGE_SQL,
    "media_type_map": MEDIA_TYPE_MAP_SQL,
    "multi_asset_group": MULTI_ASSET_GROUP_SQL,
    "bbox": BBOX_SQL,
    "build_stac_items": BUILD_STAC_ITEMS_SQL,
    "stac_coverage_gaps": STAC_COVERAGE_GAPS_SQL,
    "transfer_plan": TRANSFER_PLAN_SQL,
    "stac_item_json": STAC_ITEM_JSON_SQL,
    "catalog_summary": CATALOG_SUMMARY_SQL,
    "cogify": COGIFY_SQL,
    "cmr_discovery": CMR_DISCOVERY_SQL,
    "assets_tile_rollup": _tile_rollup_sql(),
    "assets_bbox_overlap": BBOX_OVERLAP_SQL,
}
