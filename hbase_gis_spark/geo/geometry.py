"""Planar geometry kernel: WKT polygons, boundary-inclusive covers, hulls.

The reference delegates to JTS (``query.covers(point)`` at
WithinFilter.java:99 — *covers*, not *contains*: boundary points are
inside, pinned by TestWithinFilter.java:107-135). Shapely is not
available in this environment, so this module implements the needed
subset in pure Python + numpy:

- WKT parsing for POINT / POLYGON (with holes) / MULTIPOLYGON
- ``covers(xs, ys)`` — vectorized even-odd point-in-polygon with an
  explicit on-boundary test (boundary => covered, matching JTS covers)
- convex hull (Andrew's monotone chain) and area centroid, used by the
  prefix planner (WithinQuery.java:70-102 equivalents)

All coordinates are planar (lon, lat) degree space — the reference never
does spherical math (DistanceComparator.java:18-27 is Euclidean).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
_PAIR_RE = re.compile(rf"({_NUM})\s+({_NUM})")


def _parse_ring(text: str) -> np.ndarray:
    pts = [(float(a), float(b)) for a, b in _PAIR_RE.findall(text)]
    if len(pts) < 3:
        raise ValueError(f"ring needs >= 3 points, got {len(pts)}: {text!r}")
    ring = np.asarray(pts, dtype=np.float64)
    # normalize: drop the closing point if explicitly closed
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    return ring


def _split_groups(body: str) -> list[str]:
    """Split a WKT body into top-level parenthesized groups."""
    groups, depth, start = [], 0, None
    for i, c in enumerate(body):
        if c == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                groups.append(body[start:i])
    return groups


@dataclass
class Polygon:
    """One or more (shell, holes...) ring groups in (lon, lat) order."""

    # each element: list of rings; rings[0] = shell, rest = holes
    parts: list[list[np.ndarray]] = field(default_factory=list)

    @property
    def rings(self) -> list[np.ndarray]:
        return [r for part in self.parts for r in part]

    def exterior_points(self) -> np.ndarray:
        return np.vstack([part[0] for part in self.parts])

    def bounds(self) -> tuple[float, float, float, float]:
        """(min_lon, min_lat, max_lon, max_lat)."""
        pts = np.vstack(self.rings)
        return (
            float(pts[:, 0].min()),
            float(pts[:, 1].min()),
            float(pts[:, 0].max()),
            float(pts[:, 1].max()),
        )

    def centroid(self) -> tuple[float, float]:
        """Area-weighted centroid (JTS Geometry.getCentroid semantics) of
        the shells; falls back to vertex mean for degenerate area."""
        ax = ay = aa = 0.0
        for part in self.parts:
            ring = part[0]
            x, y = ring[:, 0], ring[:, 1]
            x2, y2 = np.roll(x, -1), np.roll(y, -1)
            cross = x * y2 - x2 * y
            a = cross.sum() / 2.0
            if a != 0.0:
                ax += float(((x + x2) * cross).sum() / 6.0)
                ay += float(((y + y2) * cross).sum() / 6.0)
                aa += a
        if aa == 0.0:
            pts = self.exterior_points()
            return float(pts[:, 0].mean()), float(pts[:, 1].mean())
        return ax / aa, ay / aa

    def covers(self, xs, ys) -> np.ndarray:
        """Vectorized boundary-inclusive containment over point arrays.

        Even-odd ray casting across *all* rings (shells and holes
        together — a point inside a hole crosses an even number of
        edges and lands outside), OR-ed with an exact on-segment test so
        boundary points count as covered (JTS ``covers`` semantics,
        WithinFilter.java:99). NaN coordinates yield False (the
        reference drops NaN rows, WithinFilter.java:93-95).
        """
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        inside = np.zeros(xs.shape, dtype=bool)
        on_edge = np.zeros(xs.shape, dtype=bool)
        for ring in self.rings:
            x1, y1 = ring[:, 0], ring[:, 1]
            x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
            for j in range(ring.shape[0]):
                ax, ay, bx, by = x1[j], y1[j], x2[j], y2[j]
                # exact on-segment: zero cross product within the bbox
                cross = (bx - ax) * (ys - ay) - (by - ay) * (xs - ax)
                on_edge |= (
                    (cross == 0.0)
                    & (xs >= min(ax, bx))
                    & (xs <= max(ax, bx))
                    & (ys >= min(ay, by))
                    & (ys <= max(ay, by))
                )
                # even-odd crossing of the rightward ray
                straddles = (ay > ys) != (by > ys)
                with np.errstate(divide="ignore", invalid="ignore"):
                    x_at = ax + (ys - ay) * (bx - ax) / (by - ay)
                inside ^= straddles & (xs < x_at)
        result = inside | on_edge
        result &= ~(np.isnan(xs) | np.isnan(ys))
        return result

    def covers_point(self, x: float, y: float) -> bool:
        return bool(self.covers(np.array([x]), np.array([y]))[0])

    def covers_polygon(self, other: "Polygon") -> bool:
        """True if this polygon covers every vertex of ``other``.

        Exact only when *this* polygon is convex (then vertex coverage
        implies full coverage). The planner only calls it on cell bboxes
        and convex hulls — both convex — mirroring the reference's
        ``convexHull(...).covers(query)`` planning test
        (WithinQuery.java:89-94).
        """
        pts = np.vstack(other.rings)
        return bool(self.covers(pts[:, 0], pts[:, 1]).all())


def convex_ccw_edges(poly: Polygon) -> list[tuple[float, float, float, float]] | None:
    """If ``poly`` is a single-ring convex polygon, its edges
    (ax, ay, bx, by) oriented counter-clockwise; else None.

    For a convex CCW ring, boundary-inclusive covers(P) is exactly the
    conjunction of edge cross products (B−A)×(P−A) >= 0 — a pure
    comparison form rendered as SQL by ``sqlrender.halfplane_sql`` for
    Spark and the DuckDB oracle alike."""
    if len(poly.parts) != 1 or len(poly.parts[0]) != 1:
        return None
    ring = poly.parts[0][0]
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    if (x * y2 - x2 * y).sum() < 0:  # orient CCW
        ring = ring[::-1]
        x, y = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x, -1), np.roll(y, -1)
    cross = (x2 - x) * (np.roll(y, -2) - y) - (y2 - y) * (np.roll(x, -2) - x)
    if (cross < 0).any():
        return None
    return [
        (float(x[j]), float(y[j]), float(x2[j]), float(y2[j]))
        for j in range(ring.shape[0])
    ]


def parse_wkt(wkt: str) -> Polygon:
    """Parse POLYGON / MULTIPOLYGON WKT into a :class:`Polygon`."""
    s = wkt.strip()
    upper = s.upper()
    if upper.startswith("POLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        rings = [_parse_ring(g) for g in _split_groups(body)]
        if not rings:  # single unparenthesized ring is invalid WKT but be lenient
            rings = [_parse_ring(body)]
        return Polygon(parts=[rings])
    if upper.startswith("MULTIPOLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        parts = []
        for g in _split_groups(body):
            rings = [_parse_ring(r) for r in _split_groups(g)]
            parts.append(rings)
        return Polygon(parts=parts)
    raise ValueError(f"unsupported WKT geometry: {wkt[:40]!r}")


def polygon_from_points(points: list[tuple[float, float]]) -> Polygon:
    ring = np.asarray(points, dtype=np.float64)
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    return Polygon(parts=[[ring]])


def bbox_polygon(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float
) -> Polygon:
    return polygon_from_points(
        [
            (min_lon, min_lat),
            (min_lon, max_lat),
            (max_lon, max_lat),
            (max_lon, min_lat),
        ]
    )


def convex_hull(points: np.ndarray) -> Polygon:
    """Andrew's monotone chain convex hull of an (n, 2) point array.

    Mirrors the JTS ``MultiPoint(...).convexHull()`` used for planner
    cover tests (WithinQuery.java:70-77).
    """
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if pts.shape[0] < 3:
        raise ValueError("convex hull needs >= 3 distinct points")
    # lexicographic sort by (x, y)
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def half(iterable):
        chain: list[np.ndarray] = []
        for p in iterable:
            while len(chain) >= 2:
                o, a = chain[-2], chain[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    chain.pop()
                else:
                    break
            chain.append(p)
        return chain

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return Polygon(parts=[[hull]])
