"""Driver-testdata table access + the derived geo point table.

The synthetic tables (TESTDATA.md) carry parquet timestamp columns.
Historically these were TIMESTAMP(NANOS) (Spark reads them as long
nanoseconds under ``spark.sql.legacy.parquet.nanosAsLong=true``);
current testdata is timestamp[us] (Spark reads TIMESTAMP_NTZ). DuckDB
reads either as µs timestamps, so every oracle-visible timestamp is
exposed as epoch MICROseconds via :func:`ts_us` (Spark) ==
``epoch_us(ts)`` (DuckDB); the session timezone is pinned UTC
(session.py) so the NTZ wall-clock IS the instant.

``derived_points`` deterministically fabricates a geo point table from
``events`` (the driver testdata has no native lon/lat table). The
arithmetic is pure integer-mod + double ops, written identically in the
DataFrame code and the oracle SQL (POINTS_SQL) so both engines produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Expected parquet schemas for the driver testdata (TESTDATA.md as of
# round 3).  The driver REGENERATES /root/testdata between rounds and
# has drifted before (rounds 1->2 moved events.ts from
# TIMESTAMP(NANOS)-as-long to timestamp[us]); a silent drift corrupts
# every timestamp oracle without erroring, so the contract is asserted
# loudly instead (conftest session start + first events load).
EXPECTED_SCHEMAS = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64", "c_name": "string", "c_nationkey": "int32",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64", "s_name": "string", "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int32", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64", "o_custkey": "int64", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderdate": "timestamp[us]",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64", "l_partkey": "int64", "l_suppkey": "int64",
        "l_linenumber": "int32", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
        "l_returnflag": "string", "l_linestatus": "string",
        "l_shipdate": "timestamp[us]",
    },
    "events": {
        "event_id": "int64", "ts": "timestamp[us]", "user_id": "int64",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "int64", "text": "string", "lang": "string",
        "source": "string", "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64", "embedding": "list<element: float>",
        "label": "int32",
    },
}


def assert_testdata_schemas(sf_dir: str, tables=None) -> None:
    """Fail fast (with a per-column diff) if the driver-regenerated
    parquet drifts from EXPECTED_SCHEMAS.  Local-FS paths only (the
    testdata always is); non-local paths skip silently."""
    import pyarrow.parquet as pq

    diffs = []
    for name in tables or TABLES:
        try:
            got = {
                f.name: str(f.type)
                for f in pq.read_schema(f"{sf_dir}/{name}.parquet")
            }
        except OSError:
            continue  # not a local path / table absent — nothing to pin
        want = EXPECTED_SCHEMAS[name]
        if got != want:
            for col in sorted(set(got) | set(want)):
                g, w = got.get(col, "<absent>"), want.get(col, "<absent>")
                if g != w:
                    diffs.append(f"  {name}.{col}: expected {w}, got {g}")
    if diffs:
        raise AssertionError(
            "testdata parquet schema drift (driver regenerated "
            f"{sf_dir}?) — update EXPECTED_SCHEMAS + every consumer "
            "of the drifted columns:\n" + "\n".join(diffs)
        )


_TS_CHECKED: set[str] = set()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if name == "events" and sf_dir not in _TS_CHECKED:
        # ts_us() assumes a real parquet timestamp column; on the legacy
        # long-nanos layout cast-to-timestamp would silently misread
        # nanos as SECONDS — so the first events load per directory
        # asserts the layout instead of trusting it (ADVICE r2).
        assert_testdata_schemas(sf_dir, tables=["events"])
        _TS_CHECKED.add(sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_us(col="ts"):
    """Event timestamp (TIMESTAMP_NTZ/TIMESTAMP) -> epoch microseconds
    (bigint). Session tz is pinned UTC (session.py), so an NTZ
    wall-clock converts to the same instant DuckDB's ``epoch_us``
    yields on the naive parquet timestamp."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# --- derived geo points (lon/lat grid fabricated from event ids) -------------

LON0, LON_SPAN, LON_MOD = -74.05, 0.2, 997
LAT0, LAT_SPAN, LAT_MOD, LAT_MUL = 40.60, 0.3, 991, 31

# DuckDB twin of derived_points() — keep the operation ORDER identical.
POINTS_SQL = f"""
SELECT
  event_id AS id,
  {LON0} + CAST(event_id % {LON_MOD} AS DOUBLE) / {LON_MOD}.0 * {LON_SPAN} AS lon,
  {LAT0} + CAST((event_id * {LAT_MUL}) % {LAT_MOD} AS DOUBLE) / {LAT_MOD}.0 * {LAT_SPAN} AS lat
FROM events
"""


def points_from_events(
    ev: DataFrame,
    with_geohash: bool = False,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """The derived-point projection itself — works on any events-shaped
    DataFrame, batch or streaming (it is a stateless select).

    ``keep_cols`` carries event columns (user_id, ts, ...) through the
    projection so movement queries can derive (entity, point) rows in
    ONE scan — joining events back onto derived_points on event_id is
    an identity self-join (the points ARE a projection of events) and
    would cost a full shuffle for nothing."""
    pts = ev.select(
        *[F.col(c) for c in (keep_cols or [])],
        F.col("event_id").alias("id"),
        (
            F.lit(LON0)
            + (F.col("event_id") % LON_MOD).cast("double") / float(LON_MOD) * LON_SPAN
        ).alias("lon"),
        (
            F.lit(LAT0)
            + ((F.col("event_id") * LAT_MUL) % LAT_MOD).cast("double")
            / float(LAT_MOD)
            * LAT_SPAN
        ).alias("lat"),
    )
    if with_geohash:
        # deliberately the pandas-UDF encoder, NOT the native column
        # expression: this geohash is consumed by downstream FILTERS
        # (prefix pruning), and Spark pushes filters through projections
        # by substituting the producing expression — an inlined native
        # encode would then re-evaluate per row inside FilterExec, which
        # falls out of whole-stage codegen for this expression shape
        # (measured ~7x slower). The UDF stage is a pushdown barrier, so
        # the hash is computed once. Stored tables (write_geo_table) use
        # the native encoder and read back as plain string columns.
        from hbase_gis_spark.functions.geo import geohash_col_py

        pts = pts.withColumn(
            "geohash", geohash_col_py(F.col("lat"), F.col("lon"), 12)
        )
    return pts


def derived_points(
    spark: SparkSession, sf_dir: str, with_geohash: bool = False
) -> DataFrame:
    return points_from_events(
        load_table(spark, sf_dir, "events"), with_geohash=with_geohash
    )
