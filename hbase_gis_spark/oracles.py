"""Helpers for building DuckDB oracle SQL that matches the Spark operators
bit-for-bit.

The driver (see __spark_entry__.py docstring) hash-compares Spark results
against DuckDB results, so oracle SQL must reproduce not just the
semantics but the exact double arithmetic. These helpers hand DuckDB the
same text the Spark operators apply (``geo.sqlrender``): DOUBLE
literals, same operand order.
"""

from __future__ import annotations

from hbase_gis_spark.geo import sqlrender as R
from hbase_gis_spark.geo.geometry import convex_ccw_edges, parse_wkt


def halfplane_predicate_sql(wkt: str, lon_expr: str = "lon", lat_expr: str = "lat") -> str:
    """Boundary-inclusive point-in-CONVEX-polygon as pure SQL comparisons.

    For a convex CCW ring, covers(P) == every edge cross product
    (B-A)x(P-A) >= 0 (>= keeps the boundary, matching JTS ``covers``,
    WithinFilter.java:99), NaN coordinates excluded. Raises if the
    polygon isn't a single convex ring — concave query polygons have no
    half-plane oracle and should be checked against ``Polygon.covers``.
    """
    poly = parse_wkt(wkt)
    if convex_ccw_edges(poly) is None:
        raise ValueError("half-plane oracle requires a convex single ring")
    return R.covers_sql(poly, lon_expr, lat_expr)


def distance_sql(origin_lon: float, origin_lat: float, lon_expr: str = "lon",
                 lat_expr: str = "lat") -> str:
    """Planar degree distance, the text ``operators.knn`` applies."""
    return R.planar_distance_sql(origin_lon, origin_lat, lon_expr, lat_expr)
