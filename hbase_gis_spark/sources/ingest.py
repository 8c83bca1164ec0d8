"""Ingest operators: TSV/CSV geo point loading, synthetic bulk generation,
geohash-keyed parquet sink.

Reference parity (SURVEY.md §2 S1-S4, X1):
- S1 Ingest.java:40-99  — TSV with header X Y ID NAME ADDRESS CITY URL
  PHONE TYPE ZIP; geohash-12 rowkey from (lat=Y, lon=X); later writes
  win on key collision (HBase upsert; the test loader instead drops
  later duplicates — AbstractTestUtil.java:50-81 — which is what
  ``dedup="first"`` reproduces).
- S2 BulkIngest.java:27-105 — n uniform-random points in a bbox with
  random 10-char alpha attribute columns.
- S3 TestTopX.java:74-126 — taxi CSV; pickup/dropoff wall-clock strings
  → epoch millis; rowkey = "<pu_ts>|<do_ts>"; dedup on rowkey.
- S4 write path: parquet, partitioned by a geohash prefix so the
  within/KNN prefix predicates become real partition pruning at scale.

All values are ingested as strings then cast (the reference stores
strings and types on read — SURVEY.md §1.2); failed casts yield null
via try_cast, mirroring the reference's NaN-on-parse-failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_gis_spark.functions.geo import geohash_col
from hbase_gis_spark.geo.planner import LAYOUT_ROLES, layout_metadata
from hbase_gis_spark.operators.topx import top_x

WIFI_COLUMNS = [
    "lon", "lat", "id", "name", "address", "city", "url", "phone", "type", "zip"
]

TAXI_COLUMNS = [
    "vendor_id", "pu_dt", "do_dt", "p_count", "trip", "ratecode_id", "flag",
    "pu_id", "do_id", "payment_type", "fare_amount", "extra", "mta_tax",
    "tip_amount", "tolls_amount", "imp_surcharge", "total_amount",
    "cong_surcharge",
]


def _dedup_keyed(
    df: DataFrame, key: str, order: str, keep: str = "first"
) -> DataFrame:
    """Keyed dedup on ``key`` keeping one row per key by arrival order.

    ``keep="first"`` = test-loader semantics (drop later duplicates,
    AbstractTestUtil.java:70-81); ``keep="last"`` = HBase native upsert
    semantics (a later ``Put`` on the same rowkey overwrites,
    Ingest.java:78-83) — users replaying HBase ingest order need this
    mode for parity."""
    return top_x(df, key, order if keep == "first" else F.col(order).desc(), 1)


def ingest_points_tsv(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    precision: int = 12,
    dedup: str | None = "first",
) -> DataFrame:
    """S1: TSV point file -> typed DataFrame with geohash key column.

    Column order follows the reference's hardcoded mapping
    (Ingest.java:31-34): first column is X (lon), second Y (lat).

    ``dedup``: ``"first"`` keeps the earliest row per geohash key (the
    reference test loader drops later duplicates), ``"last"`` keeps the
    latest (HBase's native last-write-wins ``Put`` upsert,
    Ingest.java:78-83), ``None`` keeps all rows.
    """
    if dedup not in (None, "first", "last"):
        raise ValueError(f"dedup must be None, 'first' or 'last', got {dedup!r}")
    raw = (
        spark.read.option("sep", sep)
        .option("header", True)
        .csv(path)
        .toDF(*WIFI_COLUMNS)
        .withColumn("__arrival", F.monotonically_increasing_id())
    )
    typed = raw.withColumn("lon", F.expr("try_cast(lon AS DOUBLE)")).withColumn(
        "lat", F.expr("try_cast(lat AS DOUBLE)")
    )
    out = typed.withColumn(
        "geohash", geohash_col(F.col("lat"), F.col("lon"), precision)
    )
    if dedup is not None:
        out = _dedup_keyed(out, "geohash", "__arrival", keep=dedup)
    return out.drop("__arrival")


def ingest_taxi_csv(
    spark: SparkSession, path: str, dedup: bool = True
) -> DataFrame:
    """S3: taxi trip CSV -> typed DataFrame with "<pu_ts>|<do_ts>" rowkey.

    Wall-clock strings parse as UTC epoch millis (the test loader uses
    SimpleDateFormat in the JVM default zone; absolute zone does not
    affect ordering or golden counts)."""
    raw = (
        spark.read.option("header", True)
        .csv(path)
        .toDF(*TAXI_COLUMNS)
        .withColumn("__arrival", F.monotonically_increasing_id())
    )
    typed = (
        raw.withColumn(
            "pu_ts", F.unix_millis(F.to_timestamp("pu_dt", "yyyy-MM-dd HH:mm:ss"))
        )
        .withColumn(
            "do_ts", F.unix_millis(F.to_timestamp("do_dt", "yyyy-MM-dd HH:mm:ss"))
        )
        .withColumn("rowkey", F.concat_ws("|", "pu_ts", "do_ts"))
    )
    if dedup:
        typed = _dedup_keyed(typed, "rowkey", "__arrival", keep="first")
    return typed.drop("__arrival")


def bulk_points(
    spark: SparkSession,
    count: int,
    lon_min: float,
    lon_max: float,
    lat_min: float,
    lat_max: float,
    seed: int = 7,
    precision: int = 12,
) -> DataFrame:
    """S2: n uniform points in a bbox + random alpha attributes.

    spark.range is parallel and deterministic per (id, seed); the random
    string columns use sha2 of the id — same spirit as the reference's
    random alphas (BulkIngest.java:94-101), but reproducible."""
    base = spark.range(count).select(
        F.col("id").cast("string").alias("id"),
        (F.lit(lon_min) + F.rand(seed) * (lon_max - lon_min)).alias("lon"),
        (F.lit(lat_min) + F.rand(seed + 1) * (lat_max - lat_min)).alias("lat"),
    )
    for i, c in enumerate(
        ["name", "address", "city", "url", "phone", "type", "zip"]
    ):
        base = base.withColumn(
            c, F.substring(F.sha2(F.concat_ws(":", F.lit(i), "id"), 256), 1, 10)
        )
    return base.withColumn(
        "geohash", geohash_col(F.col("lat"), F.col("lon"), precision)
    )


def write_geo_table(
    df: DataFrame,
    path: str,
    prefix_len: int = 4,
    mode: str = "overwrite",
) -> None:
    """S4: persist a point table partitioned by a geohash prefix.

    The partition column makes every ``substring(geohash,1,p) IN (...)``
    predicate (within-query pruning, KNN candidate cells) a *directory*
    prune — at 100 TB the scan touches only matching partitions. Choose
    prefix_len so partitions are O(100MB-1GB): 4 chars ≈ 39 km cells.

    The layout (partition column ``gh_prefix`` and ``prefix_len``) is
    recorded as field metadata on the ``geohash``, ``lon`` and ``lat``
    columns (``geo.planner.layout_metadata``); it travels in the Parquet
    footers, and ``within``, ``knn(pruned=True)``, ``knn_multi``,
    ``within_radius`` and ``spatial_join`` prune from it. The record
    assumes ``geohash`` is the geohash of (lat, lon) with at least
    ``prefix_len`` characters (``geohash_col``, ``bulk_points``,
    ``ingest_points_tsv``); a table without ``lon``/``lat`` columns gets
    no record. Appending with another ``prefix_len`` breaks the layout.
    """
    out = df.withColumn("gh_prefix", F.substring("geohash", 1, prefix_len))
    fields = {f.name: f.metadata for f in df.schema.fields}
    if "lon" in fields and "lat" in fields:
        for c in LAYOUT_ROLES:
            out = out.withMetadata(
                c, {**fields[c], **layout_metadata("gh_prefix", prefix_len, c)})
    (
        out.repartition("gh_prefix")
        .write.mode(mode)
        .partitionBy("gh_prefix")
        .parquet(path)
    )


def read_geo_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
