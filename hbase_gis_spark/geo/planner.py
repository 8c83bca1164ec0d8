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

The partition half of that story is :func:`partition_layout` plus
:func:`partition_cover`: ``write_geo_table`` records its layout (the
partition column and the prefix length) as field metadata on the
``lon``, ``lat`` and ``geohash`` columns; every operator reads it back
and conjoins the partition ``IN``-list of the cells its query can
touch, so Spark opens only those directories.
"""

from __future__ import annotations

import math

import numpy as np

from hbase_gis_spark.geo import geohash as gh
from hbase_gis_spark.geo import sqlrender as R
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


# --- partition layout --------------------------------------------------------

# Field-metadata key of the layout record ``write_geo_table`` writes on
# its lon, lat and geohash columns (``{"partition": "gh_prefix",
# "prefix_len": 4, "role": "lon"}``). Spark stores field metadata in the
# Parquet footers and carries it through filters, projections and
# aliases; any recomputed expression (``lon + 0.5``, a re-derived
# geohash, a cast) drops it.
LAYOUT_KEY = "hbase_gis_spark.layout"
LAYOUT_ROLES = ("lon", "lat", "geohash")

# Largest partition IN-list a cover renders; past it the cover coarsens
# to shorter prefixes. Precision 1 has 32 cells, so every valid box has
# a cover.
MAX_PARTITION_CELLS = 64


def layout_metadata(partition: str, prefix_len: int, role: str) -> dict:
    """The layout record for one column (``role`` in :data:`LAYOUT_ROLES`)."""
    return {LAYOUT_KEY: {
        "partition": partition, "prefix_len": int(prefix_len), "role": role}}


def _has_union(df) -> bool:
    # a Union's output keeps its first input's field metadata, while the
    # other inputs' rows need not follow that layout
    union = getattr(
        df.sparkSession._jvm, "org.apache.spark.sql.catalyst.trees.TreePattern"
    ).UNION()
    return df._jdf.queryExecution().analyzed().containsPattern(union)


def partition_layout(df, lon_col: str = "lon", lat_col: str = "lat"):
    """``(partition column, prefix length)`` recorded by
    ``write_geo_table``, or None when the record cannot be trusted.

    It is trusted only while ``lon_col`` and ``lat_col`` carry the
    record in their own roles, some column carries it as the geohash,
    all three agree, the partition column is present, and the plan
    holds no union. Then every row's partition value is the first
    ``prefix length`` characters of the geohash of its (lat, lon), which
    is what makes a partition cover lossless."""
    meta = {f.name: f.metadata.get(LAYOUT_KEY) for f in df.schema.fields}
    lon, lat = meta.get(lon_col), meta.get(lat_col)
    if not lon or not lat or lon.get("role") != "lon" or lat.get("role") != "lat":
        return None
    layout = (lon.get("partition"), lon.get("prefix_len"))
    if (lat.get("partition"), lat.get("prefix_len")) != layout:
        return None
    if not any(m and m.get("role") == "geohash"
               and (m.get("partition"), m.get("prefix_len")) == layout
               for m in meta.values()):
        return None
    if layout[0] not in meta or not hasattr(df, "_jdf") or _has_union(df):
        return None
    return layout


def _axis_bits(precision: int) -> tuple[int, int]:
    """(lon bits, lat bits) of a geohash prefix: lon takes the odd bit."""
    return (5 * precision + 1) // 2, (5 * precision) // 2


def _cell(lon_bin: int, lat_bin: int, precision: int) -> str:
    """The geohash prefix of the (lon_bin, lat_bin) cell, encoded from
    its center (a dyadic rational: exact in floating point)."""
    lon_bits, lat_bits = _axis_bits(precision)
    return gh.encode(-90.0 + (lat_bin + 0.5) * 180.0 / (1 << lat_bits),
                     -180.0 + (lon_bin + 0.5) * 360.0 / (1 << lon_bits), precision)


def _bins(h: str) -> tuple[int, int]:
    """(lon_bin, lat_bin) of a geohash prefix."""
    lat_lo, lat_hi, lon_lo, lon_hi = gh.decode_bbox(h)
    return (round((lon_lo + 180.0) / (lon_hi - lon_lo)),
            round((lat_lo + 90.0) / (lat_hi - lat_lo)))


def _native_bin(v: float, offset: float, span: float, bits: int) -> int:
    # functions.geo.geohash_col_native's 30-bit bin, truncated
    b30 = min(max(math.floor((v + offset) / span * float(1 << 30)), 0), (1 << 30) - 1)
    return b30 >> (30 - bits)


def _box_ranges(box, precision: int):
    """Inclusive (lon_bin, lat_bin) ranges of the cells a closed box
    touches, or None for a box outside the lon/lat domain. Both
    encoders are monotone in each coordinate, so the corners' bins bound
    every point's bin; the range takes the wider of the native and the
    bisection encoder at each end."""
    min_lon, min_lat, max_lon, max_lat = (float(v) for v in box)
    if not (-180.0 <= min_lon <= max_lon <= 180.0 and -90.0 <= min_lat <= max_lat <= 90.0):
        return None  # NaN, inverted, across the antimeridian or a pole
    lon_bits, lat_bits = _axis_bits(precision)
    lo = _bins(gh.encode(min_lat, min_lon, precision))
    hi = _bins(gh.encode(max_lat, max_lon, precision))
    return (
        (min(lo[0], _native_bin(min_lon, 180.0, 360.0, lon_bits)),
         max(hi[0], _native_bin(max_lon, 180.0, 360.0, lon_bits))),
        (min(lo[1], _native_bin(min_lat, 90.0, 180.0, lat_bits)),
         max(hi[1], _native_bin(max_lat, 90.0, 180.0, lat_bits))),
    )


def partition_cover(layout, boxes=(), prefixes=()) -> str | None:
    """The partition ``IN``-list of a table with ``layout`` (the pair
    :func:`partition_layout` returns) for a query that can only match
    points inside the closed lon/lat ``boxes`` ``(min_lon, min_lat,
    max_lon, max_lat)`` or inside the geohash cells ``prefixes``.

    The cells are taken at the partition length; past
    :data:`MAX_PARTITION_CELLS` the cover coarsens to shorter prefixes
    (``substring(partition, 1, p) IN ...``). Returns None — scan
    unpruned — without a layout, without a box or prefix, or for a box
    across the antimeridian or a pole, so a cover never drops a row."""
    if layout is None or not (boxes or prefixes):
        return None
    column, length = layout
    for precision in range(min([length] + [len(x) for x in prefixes]), 0, -1):
        ranges = [_box_ranges(b, precision) for b in boxes]
        if None in ranges:
            return None
        cells = {x[:precision] for x in prefixes}
        if len(cells) + sum((x1 - x0 + 1) * (y1 - y0 + 1)
                            for (x0, x1), (y0, y1) in ranges) > MAX_PARTITION_CELLS:
            continue
        cells.update(_cell(x, y, precision)
                     for (x0, x1), (y0, y1) in ranges
                     for x in range(x0, x1 + 1) for y in range(y0, y1 + 1))
        return R.partition_in_sql(sorted(cells), R.col(column), length)
    return None
