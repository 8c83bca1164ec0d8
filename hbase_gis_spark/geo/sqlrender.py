"""Geometry → SQL text: the one predicate path of the spatial operators.

Every spatial predicate the engine runs is rendered here as SQL text
from a parsed :class:`~hbase_gis_spark.geo.geometry.Polygon` or a
KNN/radius origin:

- the DataFrame operators (``within``, ``knn``, ``within_radius``,
  ``spatial_join``) apply it with one ``F.expr`` per DataFrame step —
  no per-query chain of py4j ``Column`` calls;
- the ``sqlapi`` generators hand it to ``spark.sql`` callers;
- the ``oracles`` helpers hand it to DuckDB.

Doubles are written as ``'%.17e' % x``. Spark SQL and DuckDB both read
an exponent literal as DOUBLE and both round-trip 17 significant
digits exactly, so all three consumers compute in the same IEEE
doubles. (A plain ``repr`` literal such as ``-73.7`` is DECIMAL in both
dialects: ``(bx - ax)`` then runs in exact decimal and disagrees with
the double arithmetic on points that sit on an edge.)

The exact covers() test has three cases (:func:`covers_sql`):

- convex single ring: the CCW half-plane conjunction, at any size;
- any other shape with at most :data:`RAYCAST_MAX_EDGES` edges: the
  even-odd ray-cast of ``Polygon.covers`` unrolled into SQL, term for
  term, so the JVM returns exactly the numpy kernel's rows;
- larger non-convex shapes: no text (``None``) — the caller runs the
  Arrow-batched numpy kernel (``operators.within.covers_udf``).

Pure text, no Spark imports: the module is usable without a JVM.
"""

from __future__ import annotations

import math

from hbase_gis_spark.geo.geometry import Polygon, convex_ccw_edges

# Largest non-convex edge count (all rings together) rendered as an
# unrolled ray-cast; past it the text grows with every edge while the
# Arrow kernel's cost barely moves. Star rings on 20 k cached rows (83 %
# inside the bbox), 4 cores, local[4], min (median) of 5 runs, SQL vs
# kernel: 16 edges 0.18 (0.21) vs 0.33 (0.42) s, 32 edges 0.22 (0.28)
# vs 0.32 (0.37) s, 40 edges 0.27 (0.37) vs 0.27 (0.39) s, 48 edges
# 0.31 (0.36) vs 0.29 (0.39) s.
RAYCAST_MAX_EDGES = 32


def lit(x: float) -> str:
    """A DOUBLE literal that Spark SQL and DuckDB read back bit-exactly."""
    x = float(x)
    if math.isfinite(x):
        return "%.17e" % x
    return "CAST('%s' AS DOUBLE)" % ("NaN" if math.isnan(x) else
                                     "Infinity" if x > 0 else "-Infinity")


def col(name: str) -> str:
    """A column name as a SQL identifier, resolved like ``F.col(name)``
    (dots address nested fields; each part is back-quoted)."""
    return ".".join(f"`{part}`" for part in name.split("."))


def value(v) -> str:
    """A Spark SQL literal for a Python value (VALUES rows, CASE arms).
    Python ints become BIGINT, like ``createDataFrame``'s inference."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int):
        return f"{v}L"
    return lit(v)


def values_sql(rows, columns: list[str]) -> str:
    """A ``SELECT`` over an inline ``VALUES`` relation — a local table
    the planner sees as a LocalRelation (no RDD, no extra job)."""
    body = ", ".join("(" + ", ".join(value(v) for v in r) + ")" for r in rows)
    names = ", ".join(col(c) for c in columns)
    return f"SELECT * FROM VALUES {body} AS t({names})"


def bbox_sql(poly: Polygon, lon: str, lat: str) -> str:
    """The polygon's bounding box as range comparisons (pushable into
    the Parquet scan as PushedFilters)."""
    min_lon, min_lat, max_lon, max_lat = poly.bounds()
    return (
        f"({lon} >= {lit(min_lon)} AND {lon} <= {lit(max_lon)} AND "
        f"{lat} >= {lit(min_lat)} AND {lat} <= {lit(max_lat)})"
    )


def _cross(ax, ay, bx, by, lon: str, lat: str) -> str:
    # (B−A)×(P−A), operands in Polygon.covers order; (bx − ax) and
    # (by − ay) are folded here exactly as Spark/DuckDB fold them
    return (
        f"{lit(bx - ax)} * ({lat} - {lit(ay)}) - "
        f"{lit(by - ay)} * ({lon} - {lit(ax)})"
    )


def halfplane_sql(edges, lon: str, lat: str) -> str:
    """covers() of a convex CCW ring: every edge cross product >= 0
    (>= keeps the boundary). No NaN guard — see :func:`covers_sql`."""
    return "(" + " AND ".join(
        f"({_cross(ax, ay, bx, by, lon, lat)}) >= 0"
        for ax, ay, bx, by in edges
    ) + ")"


def raycast_sql(poly: Polygon, lon: str, lat: str) -> str:
    """``Polygon.covers`` unrolled: the even-odd crossing parity over
    all rings (holes included) OR an exact on-edge test per edge.

    Each term repeats the kernel's arithmetic with the same operands in
    the same order, so the result is bit-identical. Horizontal edges
    never straddle and are left out of the crossing sum (their
    ``/ (by - ay)`` would divide by zero, which raises under ANSI
    mode). ``(ay > y) != (by > y)`` is written as the equivalent
    half-open range ``min(ay, by) <= y < max(ay, by)``."""
    crossings, on_edge = [], []
    for ring in poly.rings:
        n = ring.shape[0]
        for j in range(n):
            ax, ay = float(ring[j, 0]), float(ring[j, 1])
            bx, by = float(ring[(j + 1) % n, 0]), float(ring[(j + 1) % n, 1])
            on_edge.append(
                f"({lon} >= {lit(min(ax, bx))} AND {lon} <= {lit(max(ax, bx))}"
                f" AND {lat} >= {lit(min(ay, by))} AND {lat} <= {lit(max(ay, by))}"
                f" AND {_cross(ax, ay, bx, by, lon, lat)} = 0)"
            )
            if ay != by:
                x_at = f"{lit(ax)} + ({lat} - {lit(ay)}) * {lit(bx - ax)} / {lit(by - ay)}"
                crossings.append(
                    f"IF({lat} >= {lit(min(ay, by))} AND {lat} < {lit(max(ay, by))}"
                    f" AND {lon} < {x_at}, 1, 0)"
                )
    parity = f"({' + '.join(crossings) or '0'}) % 2 = 1"
    return "(" + " OR ".join([parity] + on_edge) + ")"


def covers_sql(poly: Polygon, lon: str, lat: str) -> str | None:
    """Boundary-inclusive covers() as SQL, or None when the shape must
    run on the Arrow kernel (non-convex, over :data:`RAYCAST_MAX_EDGES`
    edges). NaN coordinates are excluded explicitly: SQL orders NaN
    above every number, so NaN would otherwise pass ``>= 0`` terms
    (the reference drops NaN rows, WithinFilter.java:93-95)."""
    edges = convex_ccw_edges(poly)
    if edges is not None:
        body = halfplane_sql(edges, lon, lat)
    elif sum(r.shape[0] for r in poly.rings) <= RAYCAST_MAX_EDGES:
        body = raycast_sql(poly, lon, lat)
    else:
        return None
    return f"(NOT isnan({lon}) AND NOT isnan({lat}) AND {body})"


def _in_list(prefixes) -> str:
    return ", ".join(f"'{x}'" for x in prefixes)


def prefix_in_sql(prefixes: list[str], geohash: str) -> str:
    """``substring(geohash, 1, p) IN (...)`` over equal-length prefixes
    — pushes into scans and prunes prefix-partitioned tables."""
    return f"substring({geohash}, 1, {len(prefixes[0])}) IN ({_in_list(prefixes)})"


def partition_in_sql(prefixes: list[str], partition: str, partition_len: int) -> str:
    """Equal-length geohash prefixes against a partition column holding
    fixed-length geohash prefixes: ``IN`` on the value itself for
    prefixes at least as long as the partition value (longer ones
    truncated to it), else on its leading characters. Spark evaluates
    it on partition values, before any file I/O."""
    if len(prefixes[0]) >= partition_len:
        truncated = sorted({x[:partition_len] for x in prefixes})
        return f"{partition} IN ({_in_list(truncated)})"
    return prefix_in_sql(prefixes, partition)


def planar_distance_sql(
    origin_lon: float | str, origin_lat: float | str, lon: str, lat: str
) -> str:
    """Degree-space Euclidean distance (the reference's KNN metric),
    sqrt(dx*dx + dy*dy) with dx = lon - origin_lon. The origin is a
    number (written as a DOUBLE literal) or SQL text, such as the
    other side's columns in a join."""
    def operand(v):
        return v if isinstance(v, str) else lit(v)

    dx = f"({lon} - {operand(origin_lon)})"
    dy = f"({lat} - {operand(origin_lat)})"
    return f"sqrt({dx} * {dx} + {dy} * {dy})"


EARTH_RADIUS_M = 6371008.8  # IUGG mean radius


def haversine_distance_sql(origin_lon: float, origin_lat: float, lon: str, lat: str) -> str:
    """Great-circle meters:
    2R·asin(sqrt(sin²(Δφ/2) + cos φ1 · cos φ2 · sin²(Δλ/2)))."""
    olat = lit(origin_lat)
    dphi = f"radians({lat} - {olat})"
    dlmb = f"radians({lon} - {lit(origin_lon)})"
    a = (
        f"sin({dphi} / 2) * sin({dphi} / 2) + "
        f"cos(radians({olat})) * cos(radians({lat})) * "
        f"sin({dlmb} / 2) * sin({dlmb} / 2)"
    )
    return f"({lit(2.0 * EARTH_RADIUS_M)} * asin(sqrt({a})))"


def radius_box(
    origin_lon: float, origin_lat: float, radius_m: float
) -> tuple[float, float, float, float]:
    """``(min_lon, min_lat, max_lon, max_lat)`` of every point within
    ``radius_m`` great-circle meters of the origin: the bounding box of
    the spherical cap (latitude ± the angular radius; longitude ±
    asin(sin(angle) / cos(lat))). The angle is padded by a millimetre
    and a relative 1e-9, so float rounding in the haversine test can
    never place a match outside the box.

    A cap holding a pole spans every longitude, its latitude clipped to
    ±90. Across the antimeridian the longitudes pass ±180; the caller
    wraps them."""
    angle = (max(radius_m, 0.0) * (1.0 + 1e-9) + 1e-3) / EARTH_RADIUS_M
    dlat = math.degrees(angle)
    min_lat, max_lat = origin_lat - dlat, origin_lat + dlat
    if min_lat <= -90.0 or max_lat >= 90.0:
        return -180.0, max(min_lat, -90.0), 180.0, min(max_lat, 90.0)
    s = math.sin(angle) / math.cos(math.radians(origin_lat))
    dlon = 180.0 if s >= 1.0 else math.degrees(math.asin(s)) * (1.0 + 1e-9) + 1e-9
    if dlon >= 180.0:
        return -180.0, min_lat, 180.0, max_lat
    return origin_lon - dlon, min_lat, origin_lon + dlon, max_lat


def radius_box_sql(
    origin_lon: float, origin_lat: float, radius_m: float, lon: str, lat: str
) -> str:
    """The :func:`radius_box` as range comparisons: it only admits
    extras (removed by the exact haversine test), never drops a match.
    A box across the antimeridian keeps both sides of it; one spanning
    every longitude tests latitude only."""
    min_lon, min_lat, max_lon, max_lat = radius_box(origin_lon, origin_lat, radius_m)
    conds = [f"{lat} >= {lit(min_lat)}", f"{lat} <= {lit(max_lat)}"]
    if min_lon < -180.0:
        conds.append(f"({lon} >= {lit(min_lon + 360.0)} OR {lon} <= {lit(max_lon)})")
    elif max_lon > 180.0:
        conds.append(f"({lon} >= {lit(min_lon)} OR {lon} <= {lit(max_lon - 360.0)})")
    elif min_lon > -180.0 or max_lon < 180.0:
        conds += [f"{lon} >= {lit(min_lon)}", f"{lon} <= {lit(max_lon)}"]
    return "(" + " AND ".join(conds) + ")"
