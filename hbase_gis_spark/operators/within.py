"""Within-polygon query — the reference's flagship capability.

Reference semantics (SURVEY.md §2 F1-F5, §3.1):
- predicate is JTS ``covers`` — boundary-INCLUSIVE (WithinFilter.java:99,
  pinned by TestWithinFilter.java:107-135);
- NaN coordinates are dropped (WithinFilter.java:93-95);
- "remote" mode pushes the filter to region servers, "local" mode
  post-filters client-side — both return the same rows, so here a single
  operator serves both (driver/executor replaces client/server);
- optional geohash-prefix pruning narrows the scan to the cells that can
  contain matches (WithinQuery.java:79-116).

Spark-first execution renders the whole predicate as ONE SQL expression
(``geo.sqlrender``) applied with one ``F.expr``, cheapest conjuncts first
so Catalyst can push what's pushable:
1. a bbox range predicate on (lon, lat) — plain comparisons, pushed into
   the Parquet scan (row-group stats pruning); visible as PushedFilters;
2. optionally, a geohash-prefix IN-list — partition pruning when the
   table is stored partitioned by a geohash prefix. A polygon too large
   for any prefix cover simply scans unpruned;
3. the exact covers() test, inside whole-stage codegen: the CCW
   half-plane conjunction for convex rings, the unrolled even-odd
   ray-cast for other shapes up to ``sqlrender.RAYCAST_MAX_EDGES``
   edges (concave, holed, multipolygon). Only larger non-convex shapes
   run the Arrow-batched numpy ray-cast (:func:`covers_udf`), and only
   rows surviving 1-2 reach Python.

At 100 TB the bbox filter eliminates almost all row groups before any
exact test runs; small shapes never leave the JVM at all.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_gis_spark.geo import sqlrender as R
from hbase_gis_spark.geo.geometry import parse_wkt
from hbase_gis_spark.geo.planner import prefix_cover


def covers_udf(wkt: str, lon: Column, lat: Column) -> Column:
    """Boundary-inclusive point-in-polygon predicate column: the
    Arrow-batched numpy ray-cast, for the non-convex shapes too large
    to render as SQL (``sqlrender.covers_sql`` returns None).

    The WKT travels in the UDF closure (the Spark analog of the
    reference serializing the filter's WKT to region servers via
    protobuf, WithinFilter.java:140-153).
    """

    @F.pandas_udf(T.BooleanType())
    def _covers(lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        from hbase_gis_spark.geo.geometry import parse_wkt as _parse

        poly = _parse(wkt)
        out = poly.covers(
            lon_s.to_numpy(dtype="float64", na_value=float("nan")),
            lat_s.to_numpy(dtype="float64", na_value=float("nan")),
        )
        return pd.Series(out)

    return _covers(lon, lat)


def within(
    df: DataFrame,
    wkt: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    geohash_col: str | None = None,
    partition_prefix_col: str | None = None,
    partition_prefix_len: int = 4,
    exact: bool = True,
) -> DataFrame:
    """All rows of ``df`` whose (lon, lat) point is covered by the WKT
    polygon (boundary inclusive).

    ``geohash_col``: if given, adds the row-level prefix predicate.
    ``partition_prefix_col``: if the table is stored partitioned by a
    geohash prefix (write_geo_table), adds the directory-pruning
    predicate as well. Both are dropped (bbox and exact test stay) for
    a polygon no prefix cover contains.
    ``exact=False`` skips the final covers() test (candidates only —
    useful for plan inspection; reference "no filter" scans).
    """
    poly = parse_wkt(wkt)
    lon, lat = R.col(lon_col), R.col(lat_col)
    conds = [R.bbox_sql(poly, lon, lat)]
    prefixes = None
    if geohash_col is not None or partition_prefix_col is not None:
        prefixes = prefix_cover(poly)
    if prefixes is not None and geohash_col is not None:
        conds.insert(0, R.prefix_in_sql(prefixes, R.col(geohash_col)))
    if prefixes is not None and partition_prefix_col is not None:
        conds.insert(0, R.partition_in_sql(
            prefixes, R.col(partition_prefix_col), partition_prefix_len))
    exact_sql = R.covers_sql(poly, lon, lat) if exact else None
    if exact_sql is not None:
        conds.append(exact_sql)
    out = df.filter(F.expr(" AND ".join(conds)))
    if exact and exact_sql is None:
        out = out.filter(covers_udf(
            wkt, F.col(lon_col).cast("double"), F.col(lat_col).cast("double")))
    return out
