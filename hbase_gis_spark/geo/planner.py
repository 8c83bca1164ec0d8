"""Driver-side spatial pruning planner.

Re-implements the reference's ``minimumBoundingPrefixes`` planning step
(WithinQuery.java:79-102): starting at geohash precision 7 and coarsening
toward 1, find the smallest cell set — the query centroid's cell alone,
or that cell plus its 8 neighbors — whose footprint covers the query
geometry. The returned prefixes drive partition/file pruning: any point
matching the query must live in a cell carrying one of these prefixes.

In Spark this is query *construction*, not a Catalyst rule: the caller
adds ``substring(geohash, 1, p) IN prefixes`` (or ``startswith``) next to
the exact predicate, which prunes partitions when the table is written
partitioned by a geohash prefix (SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np

from hbase_gis_spark.geo import geohash as gh
from hbase_gis_spark.geo.geometry import Polygon, convex_hull, polygon_from_points


class NoCoveringPrefixError(ValueError):
    """No prefix set at any precision 7..1 covers the query geometry."""


def cell_polygon(hash_str: str) -> Polygon:
    return polygon_from_points(gh.cell_corners(hash_str))


def minimum_bounding_prefixes(query: Polygon, max_precision: int = 7) -> list[str]:
    """Smallest geohash prefix set whose cells cover ``query``.

    Returns ``[center]`` if the centroid's cell at some precision covers
    the geometry, else the 9-cell neighborhood if its convex hull does,
    else coarsens; raises :class:`NoCoveringPrefixError` below precision 1
    (the reference throws — WithinQuery.java:101).
    """
    cx, cy = query.centroid()
    for precision in range(max_precision, 0, -1):
        center = gh.encode(cy, cx, precision)
        if cell_polygon(center).covers_polygon(query):
            return [center]
        cells = [center] + gh.neighbors(center)
        corners = np.array(
            [c for cell in cells for c in gh.cell_corners(cell)], dtype=np.float64
        )
        if convex_hull(corners).covers_polygon(query):
            return cells
    raise NoCoveringPrefixError(
        "query geometry exceeds the coverage of a 9-cell precision-1 neighborhood"
    )


def prefix_cover(poly: Polygon, max_precision: int = 7) -> list[str] | None:
    """The planner's prefix cover, or None when no precision-1..7 cover
    exists — pruning is only an optimisation, so the caller then scans
    unpruned (``minimum_bounding_prefixes`` itself keeps raising, as
    the reference does)."""
    try:
        return minimum_bounding_prefixes(poly, max_precision)
    except NoCoveringPrefixError:
        return None


def knn_prefixes(lat: float, lon: float, precision: int = 7) -> list[str]:
    """The 9-cell candidate neighborhood for reference-faithful KNN
    (KNNQuery.java:84-88): origin cell at ``precision`` + 8 adjacent."""
    center = gh.encode(lat, lon, precision)
    return [center] + gh.neighbors(center)
