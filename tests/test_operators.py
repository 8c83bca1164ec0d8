"""Spark operator tests: within, KNN, TopX, binned limit.

Golden counts mirror the reference's test strategy (SURVEY.md §5):
the boundary-inclusive rectangle counts, prefix-pruned == unpruned
equivalence, KNN ordering, grouped top-N cardinalities.
"""

import math

import pytest
from pyspark.sql import functions as F

import hbase_gis_spark as hgs
from hbase_gis_spark.operators.topx import binned_limit
from hbase_gis_spark.sources.tables import derived_points, load_table
from tests.conftest import SF0001


@pytest.fixture(scope="module")
def line_points(spark):
    # the reference's y=x fixture (TestWithinFilter.java:43-55)
    return spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(1, 11)], "i int, lon double, lat double"
    )


def rect(x1, y1, x2, y2):
    return f"POLYGON (({x1} {y1}, {x1} {y2}, {x2} {y2}, {x2} {y1}, {x1} {y1}))"


def test_within_boundary_golden_counts(line_points):
    # TestWithinFilter.java:107-135 golden counts: 2 then 3
    assert hgs.within(line_points, rect(0, 0, 2.999, 2.999)).count() == 2
    assert hgs.within(line_points, rect(0, 0, 3.0, 3.0)).count() == 3


def test_within_nan_rows_dropped(spark):
    df = spark.createDataFrame(
        [(1, float("nan"), 1.0), (2, 1.0, 1.0), (3, 1.0, float("nan"))],
        "id int, lon double, lat double",
    )
    out = hgs.within(df, rect(0, 0, 5, 5))
    assert [r.id for r in out.collect()] == [2]


def test_within_pruned_equals_unpruned(spark):
    pts = derived_points(spark, SF0001, with_geohash=True).cache()
    wkt = (
        "POLYGON ((-74.01 40.68, -73.96 40.86, -73.89 40.77, "
        "-73.93 40.63, -74.01 40.68))"
    )
    plain = {r.id for r in hgs.within(pts, wkt).collect()}
    pruned = {r.id for r in hgs.within(pts, wkt, geohash_col="geohash").collect()}
    assert plain == pruned and len(plain) > 0


def test_knn_exact_matches_bruteforce(spark):
    pts = derived_points(spark, SF0001).cache()
    ox, oy, k = -73.95, 40.75, 15
    got = hgs.knn(pts, ox, oy, k, tiebreak_col="id").collect()
    assert len(got) == k
    rows = pts.collect()
    expect = sorted(
        rows, key=lambda r: (math.sqrt((r.lon - ox) ** 2 + (r.lat - oy) ** 2), r.id)
    )[:k]
    assert [r.id for r in got] == [r.id for r in expect]
    # result arrives distance-ordered
    dists = [r.distance for r in got]
    assert dists == sorted(dists)


def test_knn_pruned_is_subset_of_candidates(spark):
    """Pruned KNN reproduces the reference's 9-cell approximation:
    every result falls in the origin's precision-7 neighborhood
    (KNNQuery.java:84-88) — and may return < k rows."""
    from hbase_gis_spark.geo.planner import knn_prefixes

    pts = derived_points(spark, SF0001, with_geohash=True).cache()
    ox, oy = -73.95, 40.75
    # precision 5 (the derived grid is too sparse for 7-char cells —
    # the reference's approximation would likewise return 0 rows there)
    p = 5
    got = hgs.knn(
        pts, ox, oy, 10, geohash_col="geohash", pruned=True,
        prefix_precision=p, tiebreak_col="id",
    ).collect()
    prefixes = set(knn_prefixes(oy, ox, p))
    assert 0 < len(got) <= 10
    for r in got:
        assert r.geohash[:p] in prefixes


def test_knn_per_region_unmerged_shape(spark):
    """Reference-faithful unmerged coprocessor output (KNNClient
    prints one list per region, no merge): ≤k per region, ranks
    contiguous from 1, per-region rows distance-ordered, and the TRUE
    global top-k is always contained in the union (each global winner
    is in its own region's top-k)."""
    from hbase_gis_spark.operators.knn import knn_per_region

    pts = (
        derived_points(spark, SF0001, with_geohash=True)
        .withColumn("region", F.substring("geohash", 1, 4))
        .cache()
    )
    ox, oy, k = -73.95, 40.75, 5
    out = knn_per_region(pts, ox, oy, k, "region", tiebreak_col="id").collect()
    by_region = {}
    for r in out:
        by_region.setdefault(r.region, []).append(r)
    for rows in by_region.values():
        rows.sort(key=lambda r: r.region_rank)
        assert [r.region_rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= k
        d = [r.distance for r in rows]
        assert d == sorted(d)
    global_ids = {
        r.id for r in hgs.knn(pts, ox, oy, k, tiebreak_col="id").collect()
    }
    assert global_ids <= {r.id for r in out}


def test_topx_group_sizes(spark):
    ev = load_table(spark, SF0001, "events")
    x = 4
    out = hgs.top_x(ev, "user_id", "ts", x, tiebreak_col="event_id")
    sizes = out.groupBy("user_id").count().collect()
    full = dict(ev.groupBy("user_id").count().collect())
    for row in sizes:
        assert row["count"] == min(x, full[row.user_id])
    # every kept row's ts is <= the group's x-th smallest
    ev_rows = ev.select("user_id", "ts", "event_id").collect()
    import collections

    by_group = collections.defaultdict(list)
    for r in ev_rows:
        by_group[r.user_id].append((r.ts, r.event_id))
    kept = {(r.user_id, r.event_id) for r in out.collect()}
    for uid, rows in by_group.items():
        expect = set(uid for _ in range(1))  # placeholder to keep flake quiet
        top = sorted(rows)[:x]
        assert {(uid, eid) for _, eid in top} == {
            (u, e) for (u, e) in kept if u == uid
        }


def test_binned_limit_respects_caps(spark):
    ev = load_table(spark, SF0001, "events")
    out = binned_limit(ev, F.col("event_id") % 5, "event_id", 3, total_limit=12)
    rows = out.collect()
    assert len(rows) == 12
    import collections

    per_bin = collections.Counter(r.bin for r in rows)
    assert all(c <= 3 for c in per_bin.values())
    # global limit is deterministic: lowest (bin, event_id) first
    assert {r.bin for r in rows} == {0, 1, 2, 3}


def test_sketch_stats_error_bounds(spark):
    """The UN-REGISTERED sketch path (HLL++ distinct +
    percentile_approx) keeps its accuracy contract: distinct estimate
    within 5% of exact, approximate quantiles within the rank
    tolerance implied by accuracy=10000. The registered sketch_stats
    query is exact as of r5 (VERDICT r4 #3); this pins the O(1)-state
    alternative a 100 TB caller may still prefer."""
    ev = load_table(spark, SF0001, "events")
    exact_users = ev.select("user_id").distinct().count()
    row = ev.agg(
        F.approx_count_distinct("user_id").alias("u"),
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10000
        ).alias("q"),
    ).head()
    assert abs(row.u - exact_users) / exact_users < 0.05
    vals = sorted(r.value for r in ev.select("value").collect())
    n = len(vals)
    for frac, got in zip((0.5, 0.95, 0.99), row.q):
        lo = vals[max(0, int(frac * n) - max(2, n // 1000))]
        hi = vals[min(n - 1, int(frac * n) + max(2, n // 1000))]
        assert lo <= got <= hi


def test_sketch_stats_exact_rank_selection(spark):
    """The REGISTERED sketch_stats query is EXACT as of r5: distinct
    users equals the exact twin exact_event_stats, and each
    percentile is the plain-Python sorted value at rank ceil(p*N)
    (1-based) — the rank-selection contract the DuckDB oracle
    expresses with (num*N + den-1) // den."""
    import __spark_entry__ as entry

    sf = str(SF0001).replace("sf0.001", "sf0.01")
    sk = entry._q_sketch_stats(spark, sf).head()
    ex = entry._q_exact_event_stats(spark, sf).head()
    assert sk.distinct_users == ex.n_users
    ev = load_table(spark, sf, "events")
    vals = sorted(
        r.value
        for r in ev.select("value").collect()
        if r.value is not None and r.value == r.value
    )
    n = len(vals)
    for (num, den), got in zip(
        ((1, 2), (19, 20), (99, 100)), (sk.p50, sk.p95, sk.p99)
    ):
        rank = (num * n + den - 1) // den  # ceil(num*n/den), 1-based
        assert got == vals[rank - 1], (num, den, got, vals[rank - 1])


def test_knn_haversine_matches_python_math(spark):
    """Haversine KNN agrees with plain Python math (same formula) and
    orders differently from planar where longitude compression matters."""
    import hbase_gis_spark as hgs

    pts = derived_points(spark, SF0001)
    ox, oy = -73.95, 40.75
    got = hgs.knn(pts, ox, oy, 10, tiebreak_col="id", metric="haversine").collect()
    assert len(got) == 10
    R = 6371008.8
    rows = pts.collect()

    def hav(lon, lat):
        p1, p2 = math.radians(oy), math.radians(lat)
        dp, dl = math.radians(lat - oy), math.radians(lon - ox)
        a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        return 2 * R * math.asin(math.sqrt(a))

    expect = sorted(((hav(r.lon, r.lat), r.id) for r in rows))[:10]
    assert [(round(d, 6), i) for d, i in expect] == [
        (round(r.distance, 6), r.id) for r in got
    ]


def test_repetition_stats_counts(spark):
    """Hand-computable repetition concentrations, incl. the one-token
    bigram guard."""
    from hbase_gis_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a b"),      # top token a:3/4; bigrams [a a, a a, a b] -> 2/3
            (2, "x y x y x"),    # top token x:3/5; bigrams alternate -> 2/4
            (3, "solo"),         # 1 token: bigram frac 0.0
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_tokens, round(r.top_token_frac, 9), round(r.top_bigram_frac, 9))
        for r in repetition_stats(df).collect()
    }
    assert got == {
        1: (4, round(3 / 4, 9), round(2 / 3, 9)),
        2: (5, round(3 / 5, 9), round(2 / 4, 9)),
        3: (1, 1.0, 0.0),
    }


def test_clean_text_scrubs_urls_emails(spark):
    from hbase_gis_spark.operators.textstats import clean_text

    df = spark.createDataFrame(
        [(1, "  Visit https://ex.com/a?b=1 or mail Bob.Smith+x@ex.co.uk  NOW  ")],
        ["doc_id", "text"],
    )
    got = df.select(clean_text("text").alias("c")).collect()[0].c
    assert got == "visit or mail now"


def test_spatial_join_overlap_and_modes_agree(spark, monkeypatch):
    """Overlapping polygons tag a point once per polygon; broadcast and
    cell-join modes return identical rows; uncovered points drop. A set
    below ``CELL_JOIN_MIN_POLYGONS`` runs its guards without a join."""
    import hbase_gis_spark.operators.spatial_join as sj_mod
    from hbase_gis_spark.functions.geo import geohash_col
    from hbase_gis_spark.operators.spatial_join import spatial_join

    polys = [
        ("a", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        ("b", "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"),
    ]
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 3.0, 3.0), (3, 5.0, 5.0), (4, 9.0, 9.0),
         (5, 4.0, 4.0)],  # on both boundaries -> covers includes it in both
        ["id", "lon", "lat"],
    ).withColumn("geohash", geohash_col(F.col("lat"), F.col("lon"), 12))
    expect = {(1, "a"), (2, "a"), (2, "b"), (3, "b"), (5, "a"), (5, "b")}
    got_bc = {(r.id, r.poly_id) for r in spatial_join(pts, polys).collect()}
    small = spatial_join(pts, polys, geohash_col="geohash")
    assert "Join" not in small._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(sj_mod, "CELL_JOIN_MIN_POLYGONS", 1)
    joined = spatial_join(pts, polys, geohash_col="geohash")
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()
    assert got_bc == expect
    assert {(r.id, r.poly_id) for r in small.collect()} == expect
    assert {(r.id, r.poly_id) for r in joined.collect()} == expect


def _star_wkt(n, cx, cy, r_out, r_in):
    """A non-convex star ring of ``n`` vertices (alternating radii)."""
    pts = []
    for i in range(n):
        r = r_out if i % 2 == 0 else r_in
        a = 2 * math.pi * i / n
        pts.append(f"{cx + r * math.cos(a)!r} {cy + r * math.sin(a)!r}")
    return "POLYGON ((" + ", ".join(pts + pts[:1]) + "))"


def _regular_wkt(n, cx, cy, r):
    """A convex regular ring of ``n`` vertices."""
    pts = [
        f"{cx + r * math.cos(2 * math.pi * i / n)!r} "
        f"{cy + r * math.sin(2 * math.pi * i / n)!r}"
        for i in range(n)
    ]
    return "POLYGON ((" + ", ".join(pts + pts[:1]) + "))"


_RENDERED_SHAPES = {
    "concave": "POLYGON ((0 0, 3 1.3, 6 0, 4.7 3.1, 6 6, 3 4.4, 0 6, 1.3 2.9, 0 0))",
    "holed": "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
    "multipolygon": (
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "((5 5, 6.5 5.2, 6 6, 5 6, 5 5)))"
    ),
}


@pytest.mark.parametrize("shape", sorted(_RENDERED_SHAPES))
def test_within_rendered_covers_matches_kernel(spark, shape):
    """The SQL ray-cast returns exactly ``Polygon.covers``' rows on
    vertices, points a + t·(b − a) on every edge, NaN and null
    coordinates and random points in and around the bbox."""
    import numpy as np

    from hbase_gis_spark.geo import sqlrender
    from hbase_gis_spark.geo.geometry import parse_wkt

    wkt = _RENDERED_SHAPES[shape]
    poly = parse_wkt(wkt)
    assert sqlrender.covers_sql(poly, "lon", "lat") is not None
    rng = np.random.default_rng(7)
    pts = []
    for ring in poly.rings:
        for j in range(len(ring)):
            a, b = ring[j], ring[(j + 1) % len(ring)]
            pts.append(a)
            pts += [a + t * (b - a) for t in (0.5, *rng.random(6))]
    x0, y0, x1, y1 = poly.bounds()
    pts += list(zip(rng.uniform(x0 - 1, x1 + 1, 300),
                    rng.uniform(y0 - 1, y1 + 1, 300)))
    pts += [(np.nan, 1.0), (1.0, np.nan)]
    xs = np.array([float(p[0]) for p in pts])
    ys = np.array([float(p[1]) for p in pts])
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    rows += [(len(pts), 0.5, None), (len(pts) + 1, None, 0.5)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    want = set(np.nonzero(poly.covers(xs, ys))[0].tolist())
    assert len(want) > 20
    got = {r.id for r in hgs.within(df, wkt).collect()}
    assert got == want


def test_within_thousand_vertex_rings(spark):
    """A 1,000-vertex non-convex ring (Arrow kernel) and a 1,000-vertex
    convex ring (half-plane text) run, returning the kernel's rows."""
    import numpy as np

    from hbase_gis_spark.geo.geometry import parse_wkt

    rng = np.random.default_rng(3)
    xs, ys = rng.uniform(-1, 1, 400), rng.uniform(-1, 1, 400)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "id long, lon double, lat double",
    )
    for wkt in (_star_wkt(1000, 0.0, 0.0, 0.9, 0.5),
                _regular_wkt(1000, 0.0, 0.0, 0.8)):
        want = set(np.nonzero(parse_wkt(wkt).covers(xs, ys))[0].tolist())
        got = {r.id for r in hgs.within(df, wkt).collect()}
        assert got == want and len(want) > 50


def test_huge_polygon_drops_only_pruning(spark):
    """A polygon larger than any precision-1 9-cell neighbourhood has
    no prefix cover: the pruned forms scan unpruned instead of raising
    and return the unpruned rows."""
    from hbase_gis_spark.geo.geometry import parse_wkt
    from hbase_gis_spark.geo.planner import (
        NoCoveringPrefixError,
        minimum_bounding_prefixes,
    )
    from hbase_gis_spark.operators.spatial_join import spatial_join

    wkt = "POLYGON ((-170 -80, 170 -80, 170 80, -170 80, -170 -80))"
    with pytest.raises(NoCoveringPrefixError):
        minimum_bounding_prefixes(parse_wkt(wkt))
    pts = derived_points(spark, SF0001, with_geohash=True).withColumn(
        "gh_prefix", F.substring("geohash", 1, 4)
    )
    plain = {r.id for r in hgs.within(pts, wkt).collect()}
    pruned = {
        r.id
        for r in hgs.within(pts, wkt, geohash_col="geohash",
                            partition_prefix_col="gh_prefix").collect()
    }
    assert plain == pruned and len(plain) > 0
    polys = [("world", wkt), ("box", "POLYGON ((-74 40.7, -73.9 40.7, "
                                     "-73.9 40.8, -74 40.8, -74 40.7))")]
    bc = {(r.id, r.poly_id) for r in spatial_join(pts, polys).collect()}
    cells = {
        (r.id, r.poly_id)
        for r in spatial_join(pts, polys, geohash_col="geohash").collect()
    }
    assert bc == cells and {i for i, p in bc if p == "world"} == plain


def test_spatial_join_concave_falls_back_to_udf(spark, monkeypatch):
    """Non-convex polygons: a small one runs as the rendered SQL
    ray-cast, one over ``RAYCAST_MAX_EDGES`` edges falls back to the
    Arrow ray-cast kernel — in both join modes."""
    import hbase_gis_spark.operators.spatial_join as sj_mod
    from hbase_gis_spark.functions.geo import geohash_col
    from hbase_gis_spark.operators.spatial_join import spatial_join

    # L-shape: covers (1,1) and (1,3) but not (3,3)
    polys = [("l", "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))")]
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 1.0, 3.0), (3, 3.0, 3.0)], ["id", "lon", "lat"]
    )
    got = {(r.id, r.poly_id) for r in spatial_join(pts, polys).collect()}
    assert got == {(1, "l"), (2, "l")}

    # a 1,000-vertex star around (1, 1): kernel path, next to the L
    star = ("star", _star_wkt(1000, 1.0, 1.0, 0.5, 0.3))
    pts = pts.withColumn("geohash", geohash_col(F.col("lat"), F.col("lon"), 12))
    want = {(1, "l"), (2, "l"), (1, "star")}
    # cell-join the two polygons instead of guarding them
    monkeypatch.setattr(sj_mod, "CELL_JOIN_MIN_POLYGONS", 1)
    for kw in ({}, {"geohash_col": "geohash"}):
        got = {(r.id, r.poly_id)
               for r in spatial_join(pts, polys + [star], **kw).collect()}
        assert got == want, kw


def test_asof_join_semantics(spark):
    """Latest at-or-before match per key; equal timestamps match; left
    rows with no preceding right row null-fill; inner mode drops them."""
    from hbase_gis_spark.operators.asof import asof_join

    l = spark.createDataFrame(
        [(1, 101, 10), (1, 102, 20), (1, 103, 5), (2, 201, 50)],
        ["user_id", "purchase_id", "ts_us"],
    )
    r = spark.createDataFrame(
        [(1, 901, 10), (1, 902, 15), (2, 903, 60)],
        ["user_id", "view_id", "view_ts_us"],
    )
    out = asof_join(l, r, ["user_id"], "ts_us", "view_ts_us")
    got = {row.purchase_id: row.view_id for row in out.collect()}
    assert got == {101: 901, 102: 902, 103: None, 201: None}
    inner = asof_join(l, r, ["user_id"], "ts_us", "view_ts_us", how="inner")
    assert {row.purchase_id for row in inner.collect()} == {101, 102}


def test_interval_join_containment(spark):
    """Events land in their containing (non-overlapping) interval;
    out-of-interval rows drop; half-open vs closed end bound."""
    from hbase_gis_spark.operators.asof import interval_join

    l = spark.createDataFrame(
        [(1, "a", 5), (1, "b", 10), (1, "c", 20), (1, "d", 25), (2, "e", 5)],
        ["k", "name", "t"],
    )
    iv = spark.createDataFrame(
        [(1, 0, 10), (1, 15, 22)], ["k", "lo", "hi"]
    )
    half = {(r.name, r.lo) for r in
            interval_join(l, iv, ["k"], "t", "lo", "hi").collect()}
    # b at t=10 excluded ([0,10)); d at 25 past both; e has no intervals
    assert half == {("a", 0), ("c", 15)}
    closed = {(r.name, r.lo) for r in
              interval_join(l, iv, ["k"], "t", "lo", "hi", closed="both").collect()}
    assert closed == {("a", 0), ("b", 0), ("c", 15)}


def test_funnel_strict_order_semantics(spark):
    from pyspark.sql import functions as F
    from hbase_gis_spark.operators.funnel import (
        funnel_conversion,
        funnel_counts,
        funnel_times,
    )

    rows = [
        # u1 completes a->b->c in order
        (1, "a", 10), (1, "b", 20), (1, "c", 30),
        # u2 has b BEFORE a (must not count), then no b after a
        (2, "b", 5), (2, "a", 10), (2, "c", 40),
        # u3 completes a->b, c missing
        (3, "a", 1), (3, "b", 2),
        # u4: b at SAME ts as a (strict > excludes), later b ok
        (4, "a", 10), (4, "b", 10), (4, "b", 11), (4, "c", 12),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts_us"])
    t = {r.user_id: r for r in funnel_times(df, ["a", "b", "c"]).collect()}
    assert (t[1].t1, t[1].t2, t[1].t3) == (10, 20, 30)
    assert t[2].t2 is None and t[2].t3 is None
    assert t[3].t3 is None
    assert (t[4].t2, t[4].t3) == (11, 12)
    c = {r.step: r.n_users for r in funnel_counts(df, ["a", "b", "c"]).collect()}
    assert c == {"a": 4, "b": 3, "c": 2}
    conv = {
        r.step: r.conversion
        for r in funnel_conversion(funnel_counts(df, ["a", "b", "c"])).collect()
    }
    assert conv["a"] is None and conv["b"] == 0.75


def test_retention_cohorts_semantics(spark):
    from hbase_gis_spark.operators.funnel import US_PER_DAY, retention_cohorts

    D = US_PER_DAY
    rows = [
        (1, 0), (1, D + 5), (1, 2 * D),      # u1: days 0,1,2
        (2, D), (2, D + 10), (2, 3 * D),     # u2: cohort day1, offsets 0,2
        (3, 2 * D - 1),                      # u3: day 1 (edge: 1 us before day2)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_us"])
    out = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in retention_cohorts(df).collect()
    }
    assert out[(0, 0)] == 1 and out[(0, 1)] == 1 and out[(0, 2)] == 1
    assert out[(1, 0)] == 2 and out[(1, 2)] == 1
    assert (1, 1) not in out


def test_within_radius_bbox_is_lossless(spark):
    """The conservative bbox prefilter never drops a true match:
    within_radius == bare exact haversine filter."""
    from pyspark.sql import functions as F
    from hbase_gis_spark.functions.geo import haversine_distance
    from hbase_gis_spark.operators.knn import within_radius
    from hbase_gis_spark.sources.tables import derived_points
    from tests.conftest import SF0001

    pts = derived_points(spark, SF0001)
    got = {r.id for r in within_radius(pts, -73.95, 40.75, 5000.0).collect()}
    exact = {
        r.id
        for r in pts.withColumn(
            "d", haversine_distance(F.col("lon"), F.col("lat"), -73.95, 40.75)
        )
        .filter("d <= 5000.0")
        .collect()
    }
    assert got == exact and len(exact) > 0


def test_merge_upsert_semantics(spark):
    from hbase_gis_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 1, False), (3, "c", 5, False)],
        ["k", "v", "version", "deleted"],
    )
    upd = spark.createDataFrame(
        [
            (1, "a2", 2, False),   # newer version wins
            (2, None, 2, True),    # tombstone deletes
            (3, "c2", 5, False),   # TIE version: updates side wins
            (4, "d", 1, False),    # brand-new key inserts
        ],
        ["k", "v", "version", "deleted"],
    )
    out = {r.k: r for r in merge_upsert(base, upd, "k", "version", "deleted").collect()}
    assert out[1].v == "a2" and out[1].version == 2
    assert 2 not in out
    assert out[3].v == "c2"
    assert out[4].v == "d"


def test_scd2_intervals_collapse_runs(spark):
    from hbase_gis_spark.operators.merge import scd2_intervals

    rows = [
        (1, "A", 10, 100), (1, "A", 20, 101), (1, "B", 30, 102),
        (1, "A", 40, 103),
        (2, "X", 5, 104),
    ]
    df = spark.createDataFrame(rows, ["k", "attr", "ts", "eid"])
    out = sorted(
        scd2_intervals(df, "k", "ts", "attr", "eid").collect(),
        key=lambda r: (r.k, r.valid_from),
    )
    u1 = [(r.attr, r.valid_from, r.valid_to) for r in out if r.k == 1]
    # run A[10,30) collapses the 10 and 20 records; reopened A at 40
    assert u1 == [("A", 10, 30), ("B", 30, 40), ("A", 40, None)]
    u2 = [(r.attr, r.valid_from, r.valid_to) for r in out if r.k == 2]
    assert u2 == [("X", 5, None)]


def test_knn_multi_matches_single_origin_knn(spark):
    """Batched multi-origin KNN == the single-origin operator run per
    origin, in both exact and 9-cell-pruned modes."""
    from hbase_gis_spark.operators.knn import knn_multi

    pts = derived_points(spark, SF0001, with_geohash=True).cache()
    origins = [(1, -73.97, 40.72), (2, -73.92, 40.78)]
    k = 8

    multi = knn_multi(pts, origins, k, tiebreak_col="id").collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r.query_id, []).append((r.rnk, r.id))
    for qid, lo, la in origins:
        single = hgs.knn(pts, lo, la, k, tiebreak_col="id").collect()
        assert [i for _, i in sorted(by_q[qid])] == [r.id for r in single]

    p = 5
    multi_p = knn_multi(
        pts, origins, k, geohash_col="geohash", pruned=True,
        prefix_precision=p, tiebreak_col="id",
    ).collect()
    by_qp = {}
    for r in multi_p:
        by_qp.setdefault(r.query_id, []).append((r.rnk, r.id))
    for qid, lo, la in origins:
        single = hgs.knn(
            pts, lo, la, k, geohash_col="geohash", pruned=True,
            prefix_precision=p, tiebreak_col="id",
        ).collect()
        assert [i for _, i in sorted(by_qp.get(qid, []))] == [
            r.id for r in single
        ]


def test_distance_join_matches_bruteforce(spark):
    """Grid-bucketed distance self-join == brute force (each pair
    found exactly once, exact planar distance)."""
    import itertools
    import math as m

    from hbase_gis_spark.operators.spatial_join import distance_join

    rows = [
        (1, 0.0, 0.0), (2, 0.0005, 0.0), (3, 0.003, 0.0),
        (4, -0.0009, -0.0009), (5, 10.0, 10.0), (6, 0.001, 0.001),
    ]
    df = spark.createDataFrame(rows, ["id", "lon", "lat"])
    r = 0.002
    got = {
        (x.id_a, x.id_b): x.distance
        for x in distance_join(df, r).collect()
    }
    expect = {}
    for (i, xi, yi), (j, xj, yj) in itertools.combinations(rows, 2):
        d = m.sqrt((xj - xi) ** 2 + (yj - yi) ** 2)
        if d <= r:
            expect[(min(i, j), max(i, j))] = d
    assert set(got) == set(expect) and len(expect) >= 3
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-15


def test_dbscan_hand_crafted(spark):
    """3 dense points (core) + 1 border + 1 noise with eps=1.5,
    min_pts=3: the dense triangle clusters under its smallest id,
    the border point attaches, the far point is noise."""
    from hbase_gis_spark.operators.spatial_join import dbscan

    pts = spark.createDataFrame(
        [
            (1, 0.0, 0.0),
            (2, 1.0, 0.0),
            (3, 0.0, 1.0),
            (4, 2.2, 0.0),   # within eps of 2 only -> border
            (10, 50.0, 50.0),  # isolated -> noise
        ],
        "id bigint, lon double, lat double",
    )
    got = {r.id: (r.cluster_id, r.role) for r in dbscan(pts, 1.5, 3).collect()}
    assert got[1] == (1, "core")
    assert got[2] == (1, "core")
    assert got[3] == (1, "core")
    assert got[4] == (1, "border")
    assert got[10] == (-1, "noise")


def test_tfidf_cosine_pairs_hand_computed(spark):
    """Two identical docs have cosine exactly 1.0; a disjoint doc
    pairs with neither above threshold."""
    from hbase_gis_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana cherry"),
            (3, "dog elephant fox"),
        ],
        "doc_id bigint, text string",
    )
    got = {(r.id_a, r.id_b): r.cosine for r in tfidf_cosine_pairs(df, 0.5).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0


def test_dbscan_minpts2_equals_spatial_clusters(spark):
    """With min_pts=2 every edge endpoint is core, so DBSCAN must
    reduce exactly to the connected-components clustering: same
    cluster ids for all non-isolated points, noise for isolated ones."""
    from hbase_gis_spark.operators.dedup import near_dup_clusters
    from hbase_gis_spark.operators.spatial_join import dbscan, distance_join

    eps = 0.002
    pts = derived_points(spark, SF0001)
    pairs = distance_join(pts, eps)
    comp = {
        r.id: r.cluster_id
        for r in near_dup_clusters(pts, pairs, id_col="id").collect()
    }
    linked = {r.id_a for r in pairs.collect()} | {
        r.id_b for r in pairs.collect()
    }
    got = {r.id: (r.cluster_id, r.role) for r in dbscan(pts, eps, 2).collect()}
    assert set(got) == set(comp)
    for pid, cl in comp.items():
        if pid in linked:
            assert got[pid] == (cl, "core")
        else:
            assert got[pid] == (-1, "noise")


def test_window_funnel_any_anchor_semantics(spark):
    """windowFunnel credits ANY in-window chain: a user whose first
    signup is stale but whose SECOND signup opens a fast chain still
    reaches the final level (funnel_counts' earliest-traversal denies
    this user); a user whose chain spans past the window stops at
    level 1; order violations never count."""
    from hbase_gis_spark.operators.funnel import window_funnel

    H = 3600 * 1_000_000
    rows = [
        # u1: stale signup at t=0, fresh signup at 100h; chain within 2h
        (1, 1, "signup", 0),
        (1, 2, "signup", 100 * H),
        (1, 3, "view", 101 * H),
        (1, 4, "purchase", 102 * H),
        # u2: complete chain but spanning 50h > window
        (2, 5, "signup", 0),
        (2, 6, "view", 25 * H),
        (2, 7, "purchase", 50 * H),
        # u3: purchase BEFORE view -> order violation, level 2 only
        (3, 8, "signup", 0),
        (3, 9, "purchase", 1 * H),
        (3, 10, "view", 2 * H),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts_us bigint"
    )
    got = {
        r.level: r.n_users
        for r in window_funnel(
            df, ["signup", "view", "purchase"], 24 * H
        ).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}
    # u2's view IS within 24h of signup (level 2); only u1 finishes
