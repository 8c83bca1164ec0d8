"""Partition pruning from the layout ``write_geo_table`` records.

Every pruned operator must return exactly the rows of the same
operator on the same table with the record stripped, and, where the
planner finds a partition cover, read only the partitions it keeps
(one file each: ``write_geo_table`` repartitions by the partition
column). The record must switch itself off when a coordinate or the
geohash is recomputed, or the plan holds a union; a table written
without it behaves as before.
"""

import math
import re

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

import hbase_gis_spark as hgs
from hbase_gis_spark.functions.geo import geohash_col
from hbase_gis_spark.geo import geohash as gh
from hbase_gis_spark.geo import sqlrender as R
from hbase_gis_spark.geo.geometry import parse_wkt
from hbase_gis_spark.geo.planner import (
    knn_prefixes,
    partition_cover,
    partition_layout,
)
import hbase_gis_spark.operators.spatial_join as sj_mod
from hbase_gis_spark.operators.knn import knn, knn_multi, within_radius
from hbase_gis_spark.operators.spatial_join import spatial_join
from hbase_gis_spark.sources.ingest import bulk_points, read_geo_table, write_geo_table

# point clusters: a city spanning several geohash-4 cells, both sides of
# the antimeridian, and both poles
CLUSTERS = [
    ("nyc", 600, -74.3, -73.6, 40.4, 41.0),
    ("am_w", 150, 179.0, 180.0, -1.0, 1.0),
    ("am_e", 150, -180.0, -179.0, -1.0, 1.0),
    ("np", 150, -180.0, 180.0, 88.0, 90.0),
    ("sp", 150, -180.0, 180.0, -90.0, -88.0),
]

NYC_WKT = ("POLYGON ((-73.99 40.72, -73.97 40.76, -73.93 40.74, "
           "-73.95 40.70, -73.99 40.72))")

EXAMPLES = settings(max_examples=4, deadline=None,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])


def _points(spark):
    parts = [
        bulk_points(spark, n, x0, x1, y0, y1, seed=11 + i)
        .withColumn("id", F.concat(F.lit(name + "-"), "id"))
        for i, (name, n, x0, x1, y0, y1) in enumerate(CLUSTERS)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """{prefix_len: (recorded table, same table without the record,
    its partition values)}"""
    src = _points(spark)
    out = {}
    for plen in (3, 4):
        path = str(tmp_path_factory.mktemp(f"geo{plen}") / "points")
        write_geo_table(src, path, prefix_len=plen)
        t = read_geo_table(spark, path)
        assert partition_layout(t) == ("gh_prefix", plen)
        plain = t.withMetadata("lon", {})
        assert partition_layout(plain) is None
        values = sorted(r.gh_prefix for r in t.select("gh_prefix").distinct().collect())
        out[plen] = (t, plain, values)
    return out


def _plan_nodes(plan):
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        out.append(node)
        if "QueryStage" in name:
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def collect_and_count_files(df):
    """(sorted result rows, files the executed scans opened)."""
    rows = sorted(tuple(r) for r in df.collect())
    files = 0
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        m = node.metrics().get("numFiles")
        if m.isDefined():
            files += int(m.get().value())
    return rows, files


def partition_filters(df) -> list[str]:
    """The non-empty PartitionFilters of the plan (first element each:
    the plan string truncates long lists)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [f for f in re.findall(r"PartitionFilters: \[([^\],]*)", plan) if f]


def kept(spark, values, cover) -> int:
    """How many of the table's partition values the cover keeps."""
    if cover is None:
        return len(values)
    rel = R.values_sql([(v,) for v in values], ["gh_prefix"])
    return spark.sql(f"SELECT count(1) FROM ({rel}) WHERE {cover}").first()[0]


def assert_pruned_equal(spark, run, t, plain, values, cover):
    """``run`` on the recorded table returns the record-less rows and
    opens exactly the partitions the cover keeps."""
    got, files = collect_and_count_files(run(t))
    want, all_files = collect_and_count_files(run(plain))
    assert got == want
    assert all_files == len(values)
    n = kept(spark, values, cover)
    assert files == n
    if cover is not None:
        assert n < len(values)
        assert partition_filters(run(t))
    return got


def haversine_m(lon, lat, olon, olat):
    p1, p2 = math.radians(olat), np.radians(lat)
    dphi = np.radians(lat - olat)
    dl = np.radians(lon - olon)
    a = np.sin(dphi / 2) ** 2 + math.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * R.EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


@EXAMPLES
@given(
    plen=st.sampled_from([3, 4]),
    origin=st.one_of(
        st.sampled_from([(179.99, 0.0), (-179.99, 0.5), (0.0, 89.9), (45.0, -89.9),
                         (-73.95, 40.75), (179.99, 89.9)]),
        st.tuples(st.floats(-74.3, -73.6), st.floats(40.4, 41.0)),
    ),
    radius=st.sampled_from([0.0, 300.0, 20_000.0, 500_000.0, 5_000_000.0]),
)
@example(plen=4, origin=(179.99, 0.0), radius=5_000_000.0)
@example(plen=3, origin=(-179.99, 0.5), radius=0.0)
@example(plen=3, origin=(0.0, 89.9), radius=5_000_000.0)
@example(plen=4, origin=(45.0, -89.9), radius=0.0)
def test_within_radius_prunes_losslessly(spark, tables, plen, origin, radius):
    t, plain, values = tables[plen]
    olon, olat = origin
    cover = partition_cover(("gh_prefix", plen), boxes=[R.radius_box(olon, olat, radius)])
    got = assert_pruned_equal(
        spark, lambda d: within_radius(d, olon, olat, radius).select("id"),
        t, plain, values, cover)
    # and the box lost nothing: brute-force haversine over every row
    pdf = t.select("id", "lon", "lat").toPandas()
    d = haversine_m(pdf.lon.to_numpy(), pdf.lat.to_numpy(), olon, olat)
    near = set(pdf.id[d <= radius - 1e-6])
    far = set(pdf.id[d > radius + 1e-6])
    ids = {r[0] for r in got}
    assert near <= ids and not (ids & far)


def test_radius_box_wraps_antimeridian_and_poles(spark, tables):
    """Points across the antimeridian and beyond a pole are inside the
    box (the old degree box dropped them)."""
    t, _, _ = tables[4]
    east = {r.id for r in within_radius(t, 179.99, 0.0, 200_000.0).collect()}
    assert any(i.startswith("am_e-") for i in east)
    assert any(i.startswith("am_w-") for i in east)
    polar = {r.id for r in within_radius(t, 0.0, 88.5, 300_000.0).collect()}
    pdf = t.filter("lat > 85").select("id", "lon", "lat").toPandas()
    d = haversine_m(pdf.lon.to_numpy(), pdf.lat.to_numpy(), 0.0, 88.5)
    assert polar == set(pdf.id[d <= 300_000.0])
    assert any(abs(lon) > 150 for lon in pdf.lon[d <= 300_000.0])


@EXAMPLES
@given(
    plen=st.sampled_from([3, 4]),
    origin=st.one_of(
        st.tuples(st.floats(-74.3, -73.6), st.floats(40.4, 41.0)),
        st.sampled_from([(179.99, 0.2), (-179.99, -0.2), (10.0, 89.5)]),
    ),
    precision=st.sampled_from([2, 3, 4, 5, 6]),
    k=st.sampled_from([1, 7, 50]),
)
@example(plen=4, origin=(-73.95, 40.75), precision=2, k=7)
@example(plen=3, origin=(-179.99, -0.2), precision=6, k=50)
def test_knn_pruned_prunes_partitions(spark, tables, plen, origin, precision, k):
    t, plain, values = tables[plen]
    olon, olat = origin
    cover = partition_cover(
        ("gh_prefix", plen), prefixes=knn_prefixes(olat, olon, precision))

    def run(d):
        return knn(d, olon, olat, k, geohash_col="geohash", pruned=True,
                   prefix_precision=precision, tiebreak_col="id"
                   ).select("id", "distance")

    assert_pruned_equal(spark, run, t, plain, values, cover)
    # ordered row for row, not only as a set
    assert [tuple(r) for r in run(t).collect()] == [tuple(r) for r in run(plain).collect()]


def _rect(x0, y0, w, h):
    return (f"POLYGON (({x0} {y0}, {x0 + w} {y0}, {x0 + w} {y0 + h}, "
            f"{x0} {y0 + h}, {x0} {y0}))")


polygon_sets = st.lists(
    st.one_of(
        # NYC rectangles spanning several geohash-4 partitions
        st.builds(_rect, st.floats(-74.3, -73.8), st.floats(40.4, 40.8),
                  st.floats(0.2, 0.5), st.floats(0.1, 0.3)),
        # a concave shape, rendered as the ray-cast
        st.just("POLYGON ((-74.2 40.5, -73.7 40.5, -73.7 40.9, -73.95 40.6, "
                "-74.2 40.9, -74.2 40.5))"),
        st.just(_rect(-60.0, 88.5, 40.0, 1.0)),
    ),
    min_size=1, max_size=3,
)


@EXAMPLES
@given(plen=st.sampled_from([3, 4]), wkts=polygon_sets,
       cells=st.booleans())
@example(plen=4, wkts=[_rect(-74.2, 40.5, 0.5, 0.3), _rect(-60.0, 88.5, 40.0, 1.0)],
         cells=True)
@example(plen=3, wkts=[_rect(-74.2, 40.5, 0.5, 0.3)], cells=False)
def test_spatial_join_prunes_partitions(spark, tables, monkeypatch, plen, wkts, cells):
    t, plain, values = tables[plen]
    # cell-join even these few polygons
    monkeypatch.setattr(sj_mod, "CELL_JOIN_MIN_POLYGONS", 1)
    polys = [(f"p{i}", w) for i, w in enumerate(wkts)]
    cover = partition_cover(("gh_prefix", plen),
                            boxes=[parse_wkt(w).bounds() for w in wkts])

    def run(d):
        return spatial_join(d, polys, geohash_col="geohash" if cells else None
                            ).select("id", "poly_id")

    assert_pruned_equal(spark, run, t, plain, values, cover)


def test_every_operator_prunes_without_arguments(spark, tables):
    """``within`` without partition arguments and ``knn_multi(pruned)``
    read fewer files and return the unpruned rows."""
    t, plain, _ = tables[4]
    runs = {
        "within": lambda d: hgs.within(d, NYC_WKT).select("id"),
        "knn_multi": lambda d: knn_multi(
            d, [(1, -73.95, 40.75), (2, -74.2, 40.5)], 5, geohash_col="geohash",
            pruned=True, prefix_precision=5, tiebreak_col="id"
        ).select("query_id", "id", "rnk"),
    }
    for name, run in runs.items():
        got, files = collect_and_count_files(run(t))
        want, total = collect_and_count_files(run(plain))
        assert got == want and got, name
        assert 0 < files < total, name
        assert partition_filters(run(t)), name


def test_within_convex_sql_partition_opt_in(spark, tables):
    """``within_convex_sql(partition=...)`` prepends the partition
    IN-list: the same rows, fewer files, and only it shows
    PartitionFilters; without it the text is unchanged."""
    from hbase_gis_spark.sqlapi import within_convex_sql

    t, _, _ = tables[4]
    t.createOrReplaceTempView("pp_pts")
    layout = partition_layout(t)
    base = spark.sql(f"SELECT id FROM pp_pts WHERE {within_convex_sql(NYC_WKT)}")
    pruned = spark.sql(
        f"SELECT id FROM pp_pts WHERE {within_convex_sql(NYC_WKT, partition=layout)}")
    assert within_convex_sql(NYC_WKT, partition=None) == within_convex_sql(NYC_WKT)
    got, files = collect_and_count_files(pruned)
    want, total = collect_and_count_files(base)
    assert got == want and got
    assert files < total
    assert partition_filters(pruned) and not partition_filters(base)


def test_within_respects_recorded_prefix_len(spark, tmp_path):
    """A table written with prefix_len=3 used to return 0 rows from
    ``within(..., partition_prefix_col=...)``: the default length 4
    truncated the cover to 4 characters, matching no partition."""
    wkt = NYC_WKT
    path = str(tmp_path / "p3")
    write_geo_table(bulk_points(spark, 5000, -74.05, -73.85, 40.60, 40.90),
                    path, prefix_len=3)
    t = read_geo_table(spark, path)
    full = {r.id for r in hgs.within(t.withMetadata("lon", {}), wkt).collect()}
    assert len(full) > 0
    assert {r.id for r in hgs.within(t, wkt).collect()} == full
    assert {r.id for r in hgs.within(
        t, wkt, partition_prefix_col="gh_prefix").collect()} == full
    assert {r.id for r in hgs.within(
        t, wkt, partition_prefix_col="gh_prefix", partition_prefix_len=3
    ).collect()} == full
    with pytest.raises(ValueError, match="prefix length 3"):
        hgs.within(t, wkt, partition_prefix_col="gh_prefix", partition_prefix_len=4)


def test_cell_aligned_polygon_keeps_edge_points(spark, tmp_path):
    """A point on a cell's north or east edge is stored in the next
    cell. ``within`` on the cell's own polygon still returns it: the
    partition cover comes from the polygon's bbox, which includes the
    next cells, not from its prefix cover (the cell alone)."""
    from hbase_gis_spark.sqlapi import within_convex_sql

    lat0, lat1, lon0, lon1 = gh.decode_bbox("dr5r")
    wkt = (f"POLYGON (({lon0!r} {lat0!r}, {lon1!r} {lat0!r}, {lon1!r} {lat1!r}, "
           f"{lon0!r} {lat1!r}, {lon0!r} {lat0!r}))")
    edge = [(lon0 + u * (lon1 - lon0), lat1) for u in (0.0, 0.3, 0.7)]
    edge += [(lon1, lat0 + v * (lat1 - lat0)) for v in (0.0, 0.4, 0.9)]
    edge += [(lon1, lat1), ((lon0 + lon1) / 2, (lat0 + lat1) / 2)]
    rows = [(f"e{i}", x, y) for i, (x, y) in enumerate(edge)]
    df = spark.createDataFrame(rows, "id string, lon double, lat double")
    path = str(tmp_path / "edges")
    write_geo_table(df.withColumn("geohash", geohash_col(F.col("lat"), F.col("lon"), 12)),
                    path, prefix_len=4)
    t = read_geo_table(spark, path)
    stored = {r.gh_prefix for r in t.select("gh_prefix").distinct().collect()}
    mid_lon, mid_lat = (lon0 + lon1) / 2, (lat0 + lat1) / 2
    beyond = {gh.encode(lat1, mid_lon, 4), gh.encode(mid_lat, lon1, 4),
              gh.encode(lat1, lon1, 4)}  # north, east, north-east
    assert "dr5r" not in beyond and stored == beyond | {"dr5r"}
    want = sorted(i for i, _, _ in rows)
    assert sorted(r.id for r in hgs.within(t, wkt).collect()) == want
    assert sorted(r.id for r in hgs.within(
        t, wkt, partition_prefix_col="gh_prefix").collect()) == want
    t.createOrReplaceTempView("edge_pts")
    sql = within_convex_sql(wkt, partition=partition_layout(t))
    assert sorted(r.id for r in spark.sql(
        f"SELECT id FROM edge_pts WHERE {sql}").collect()) == want


def test_record_switches_off(spark, tables):
    """A recomputed coordinate or geohash, or a union, drops the record:
    no PartitionFilters, and the answer of the data as it now is."""
    t, _, _ = tables[4]
    poly = parse_wkt(NYC_WKT)
    variants = {
        "shifted_lon": t.withColumn("lon", F.col("lon") + 0.05),
        "rederived_geohash": t.withColumn(
            "geohash", geohash_col(F.col("lat"), F.col("lon"), 12)),
        "cast_lat": t.withColumn("lat", F.col("lat").cast("double")),
        "union": t.unionByName(t.withColumn("lon", F.col("lon") + 0.05)),
    }
    for name, d in variants.items():
        assert partition_layout(d) is None, name
        runs = [
            hgs.within(d, NYC_WKT).select("id", "lon", "lat"),
            within_radius(d, -73.95, 40.75, 3000.0).select("id", "lon", "lat"),
            spatial_join(d, [("a", NYC_WKT)]).select("id", "lon", "lat"),
        ]
        for q in runs:
            assert not partition_filters(q), name
        pdf = d.select("id", "lon", "lat").toPandas()
        inside = poly.covers(pdf.lon.to_numpy(), pdf.lat.to_numpy())
        assert sorted(r.id for r in runs[0].collect()) == sorted(pdf.id[inside]), name
        assert sorted(r.id for r in runs[2].collect()) == sorted(pdf.id[inside]), name
        dist = haversine_m(pdf.lon.to_numpy(), pdf.lat.to_numpy(), -73.95, 40.75)
        assert sorted(r.id for r in runs[1].collect()) == sorted(pdf.id[dist <= 3000.0]), name
    # swapped coordinates keep metadata under the wrong roles
    swapped = t.select(F.col("lat").alias("lon"), F.col("lon").alias("lat"),
                       "geohash", "gh_prefix", "id")
    assert partition_layout(swapped) is None


def test_table_without_record_behaves_as_before(spark, tmp_path):
    """A plain ``partitionBy`` parquet gets no partition filter unless
    the caller names the column (then the old default length 4)."""
    path = str(tmp_path / "plain")
    (bulk_points(spark, 2000, -74.05, -73.85, 40.60, 40.90)
     .withColumn("gh_prefix", F.substring("geohash", 1, 4))
     .write.partitionBy("gh_prefix").parquet(path))
    t = read_geo_table(spark, path)
    assert partition_layout(t) is None
    auto = hgs.within(t, NYC_WKT)
    explicit = hgs.within(t, NYC_WKT, partition_prefix_col="gh_prefix")
    assert not partition_filters(auto)
    assert partition_filters(explicit)
    assert not partition_filters(within_radius(t, -73.95, 40.75, 3000.0))
    assert not partition_filters(
        knn(t, -73.95, 40.75, 5, geohash_col="geohash", pruned=True, prefix_precision=5))
    assert {r.id for r in auto.collect()} == {r.id for r in explicit.collect()}


def test_partition_cover_coarsens_and_declines():
    layout = ("gh_prefix", 4)
    # a city box: cells at the partition length, plain IN on the value
    small = partition_cover(layout, boxes=[(-74.0, 40.7, -73.9, 40.8)])
    assert small.startswith("`gh_prefix` IN (")
    # a continent: coarsened to a shorter prefix
    big = partition_cover(layout, boxes=[(-120.0, 25.0, -70.0, 50.0)])
    assert big.startswith("substring(`gh_prefix`, 1, ")
    assert len(re.findall(r"'(\w+)'", big)) <= 64
    # the whole world still has a precision-1 cover
    assert partition_cover(layout, boxes=[(-180.0, -90.0, 180.0, 90.0)]).count("'") == 64
    # across the antimeridian or a pole, or a NaN box: no cover
    for box in [(170.0, 0.0, 190.0, 1.0), (-190.0, 0.0, -170.0, 1.0),
                (0.0, 80.0, 1.0, 95.0), (float("nan"), 0.0, 1.0, 1.0)]:
        assert partition_cover(layout, boxes=[box]) is None
    assert partition_cover(None, boxes=[(0.0, 0.0, 1.0, 1.0)]) is None
    # prefixes longer than the partition truncate, shorter ones match
    # the partition value's leading characters
    assert partition_cover(layout, prefixes=["dr5ru7", "dr5rv1"]) == \
        "`gh_prefix` IN ('dr5r')"
    assert partition_cover(layout, prefixes=["dr"]) == \
        "substring(`gh_prefix`, 1, 2) IN ('dr')"


@settings(max_examples=150, deadline=None)
@given(
    corner=st.tuples(st.floats(-180.0, 180.0), st.floats(-90.0, 90.0)),
    size=st.tuples(st.floats(0.0, 40.0), st.floats(0.0, 20.0)),
    length=st.integers(1, 6),
    at=st.lists(st.tuples(st.floats(0.0, 1.0), st.floats(0.0, 1.0)), max_size=20),
)
def test_box_cover_holds_every_point(corner, size, length, at):
    """Every point of a box, its corners and edges included, encodes to
    a cell the cover keeps (pure Python: the bisection encoder)."""
    box = (corner[0], corner[1], min(corner[0] + size[0], 180.0),
           min(corner[1] + size[1], 90.0))
    cover = partition_cover(("gh_prefix", length), boxes=[box])
    cells = set(re.findall(r"'(\w+)'", cover))
    n = len(next(iter(cells)))
    assert n <= length and len(cells) <= 64
    pts = [(box[0], box[1]), (box[2], box[3]), (box[0], box[3]), (box[2], box[1])]
    pts += [(box[0] + u * (box[2] - box[0]), box[1] + v * (box[3] - box[1])) for u, v in at]
    for lon, lat in pts:
        assert gh.encode(lat, lon, length)[:n] in cells, (lon, lat)
