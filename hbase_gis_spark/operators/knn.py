"""K-nearest-neighbor query over point tables.

Reference semantics (SURVEY.md §2 K1-K5):
- distance is planar Euclidean in DEGREE space, not haversine
  (DistanceComparator.java:18-27; KNNEndpoint.java:75,94);
- the client variant is *approximate*: candidates come only from the 9
  geohash-precision-7 cells around the origin (KNNQuery.java:84-88);
- the coprocessor variant computes exact per-region top-k but never
  merges across regions (KNNClient.java:55-57).

Spark-first: exact KNN is the default — ``orderBy(distance).limit(k)``
plans as TakeOrderedAndProject, which is exactly the reference's
bounded-heap-per-partition + merge, but correct across the whole table.
``pruned=True`` reproduces the reference's 9-cell candidate semantics
(same approximation) for parity testing; on a table that records its
geohash layout (``write_geo_table``) it also reads only the partitions
holding those cells. ``within_radius`` reads only the partitions its
radius box touches. Exact KNN scans every partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_gis_spark.geo import sqlrender as R
from hbase_gis_spark.geo.planner import knn_prefixes, partition_cover, partition_layout
from hbase_gis_spark.operators.topx import top_x

_METRICS = {
    "planar": R.planar_distance_sql,
    "haversine": R.haversine_distance_sql,
}


def with_distance(
    df: DataFrame,
    origin_lon: float,
    origin_lat: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    dist_col: str = "distance",
    metric: str = "planar",
) -> DataFrame:
    """Append the distance-to-origin column.

    ``metric``: "planar" (degree-space Euclidean — the reference's
    semantics, SURVEY.md §2 K3) or "haversine" (great-circle meters)."""
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {sorted(_METRICS)}")
    dist = _METRICS[metric](
        origin_lon, origin_lat, R.col(lon_col), R.col(lat_col)
    )
    return df.withColumn(dist_col, F.expr(dist))


def knn(
    df: DataFrame,
    origin_lon: float,
    origin_lat: float,
    k: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    geohash_col: str | None = None,
    pruned: bool = False,
    prefix_precision: int = 7,
    tiebreak_col: str | None = None,
    metric: str = "planar",
) -> DataFrame:
    """Top-``k`` rows nearest the origin in planar degree distance.

    ``pruned=True`` (requires ``geohash_col``) restricts candidates to
    the origin's geohash cell + 8 neighbors at ``prefix_precision`` —
    the reference's approximate candidate set (may return < k rows;
    KNNQuery.java:84-88); a table with a recorded layout then reads
    only the partitions holding those cells. Default is exact over the
    full table.

    ``tiebreak_col`` makes result sets deterministic under distance
    ties (the reference's heap order is arbitrary on ties; for oracle
    comparison we pin a total order).

    Plan shape: per-partition bounded heap + single merge
    (TakeOrderedAndProject) — no full sort, no shuffle of non-winners.
    """
    out = with_distance(
        df, origin_lon, origin_lat, lon_col, lat_col, metric=metric
    )
    # drop NaN coordinates like the reference (KNNEndpoint.java:93)
    cond = "NOT isnan(`distance`)"
    if pruned:
        if geohash_col is None:
            raise ValueError("pruned KNN needs a geohash column")
        prefixes = knn_prefixes(origin_lat, origin_lon, prefix_precision)
        cond = f"{R.prefix_in_sql(prefixes, R.col(geohash_col))} AND {cond}"
        cover = partition_cover(
            partition_layout(df, lon_col, lat_col), prefixes=prefixes)
        if cover is not None:
            cond = f"{cover} AND {cond}"
    order = ["distance"] if tiebreak_col is None else ["distance", tiebreak_col]
    return out.filter(F.expr(cond)).orderBy(*order).limit(k)


def knn_per_region(
    df: DataFrame,
    origin_lon: float,
    origin_lat: float,
    k: int,
    region_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiebreak_col: str | None = None,
    metric: str = "planar",
) -> DataFrame:
    """Reference-faithful UNMERGED coprocessor output: exact top-``k``
    per region, never merged across regions (KNNClient.java:55-57
    prints one list per region server). ``region_col`` plays the
    region role — a geohash prefix or partition column.

    The merged :func:`knn` is strictly more useful (its result is the
    true global top-k, a subset of this union) — this variant exists
    for output-shape parity with the reference client. Plan shape:
    WindowGroupLimit partial → shuffle on region → final, i.e. the
    per-region bounded heap runs map-side before the exchange — the
    grouped top-X (:func:`~hbase_gis_spark.operators.topx.top_x`) over
    the distance column."""
    out = with_distance(
        df, origin_lon, origin_lat, lon_col, lat_col, metric=metric
    ).filter(~F.isnan(F.col("distance")))
    return top_x(
        out, region_col, "distance", k, tiebreak_col, rank_col="region_rank"
    )


def knn_multi(
    df: DataFrame,
    origins: list[tuple[int, float, float]],
    k: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    geohash_col: str | None = None,
    pruned: bool = False,
    prefix_precision: int = 7,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Batched KNN: exact top-``k`` for N origins in ONE scan — the
    spatial twin of ``cosine_topk_multi`` (one pass amortized over all
    queries, vs. a scan per origin).

    ``origins`` is a list of ``(query_id, lon, lat)``; it becomes an
    inline ``VALUES`` relation broadcast as a tiny dim, the point table
    streams once through the broadcast join, and the per-origin top-k
    is a rank window partitioned by query_id (map-side WindowGroupLimit
    bounds each partition's contribution to k rows before the
    exchange). Distance is the reference's planar degree metric
    (SURVEY.md §2 K3), rendered by ``sqlrender.planar_distance_sql``
    against the origin columns, so oracles reproduce it bit-for-bit.

    ``pruned=True`` (requires ``geohash_col``) joins on the 9
    per-origin candidate cells at ``prefix_precision`` instead of
    fanning out every row ×N: an equality join on the truncated cell
    key (broadcast hash join, never nested-loop), reproducing the
    reference's approximate candidate semantics per origin
    (KNNQuery.java:84-88). A table with a recorded layout then reads
    only the partitions holding any origin's cells."""
    spark = df.sparkSession
    rows = [(int(q), float(lo), float(la)) for q, lo, la in origins]
    if pruned:
        if geohash_col is None:
            raise ValueError("pruned knn_multi needs a geohash column")
        pref_rows = [
            (q, lo, la, p)
            for q, lo, la in rows
            for p in knn_prefixes(la, lo, prefix_precision)
        ]
        odf = spark.sql(R.values_sql(
            pref_rows, ["query_id", "q_lon", "q_lat", "prefix"]))
        cover = partition_cover(partition_layout(df, lon_col, lat_col),
                                prefixes=[p for *_, p in pref_rows])
        if cover is not None:
            df = df.filter(F.expr(cover))
        joined = df.join(
            F.broadcast(odf),
            F.substring(F.col(geohash_col), 1, prefix_precision)
            == F.col("prefix"),
        ).drop("prefix")
    else:
        odf = spark.sql(R.values_sql(rows, ["query_id", "q_lon", "q_lat"]))
        joined = df.crossJoin(F.broadcast(odf))
    dist = R.planar_distance_sql(
        R.col("q_lon"), R.col("q_lat"),
        f"CAST({R.col(lon_col)} AS DOUBLE)", f"CAST({R.col(lat_col)} AS DOUBLE)",
    )
    scored = joined.withColumn("distance", F.expr(dist)).filter(
        ~F.isnan(F.col("distance"))
    )
    return top_x(
        scored, "query_id", "distance", k, tiebreak_col, rank_col="rnk"
    ).drop("q_lon", "q_lat")


def within_radius(
    df,
    origin_lon: float,
    origin_lat: float,
    radius_m: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
):
    """All points within ``radius_m`` great-circle meters of an origin
    — the circle-query sibling of :func:`knn` (range query instead of
    top-k).

    Plan: a CONSERVATIVE degree bounding box runs first — plain
    comparisons on the raw columns, so Parquet row-group stats prune
    before any trig — then the exact haversine test on survivors. The
    box is the spherical cap's (``sqlrender.radius_box``, wrapped across
    the antimeridian, every longitude around a pole), so it can only
    admit extras (removed by the exact test), never drop a true match;
    the registered oracle is therefore the bare exact filter. On a
    table with a recorded layout the same box also picks the partitions
    to read; a box across the antimeridian reads them all.
    """
    lon, lat = R.col(lon_col), R.col(lat_col)
    dist = R.haversine_distance_sql(origin_lon, origin_lat, lon, lat)
    box = R.radius_box_sql(origin_lon, origin_lat, radius_m, lon, lat)
    cover = partition_cover(
        partition_layout(df, lon_col, lat_col),
        boxes=[R.radius_box(origin_lon, origin_lat, radius_m)])
    return (
        df.filter(F.expr(box if cover is None else f"{cover} AND {box}"))
        .withColumn("distance", F.expr(dist))
        .filter(F.expr(f"`distance` <= {R.lit(radius_m)}"))
    )
