"""Every registered query's physical plan is free of scale-killers:
no CartesianProduct, no unsanctioned BroadcastNestedLoopJoin, no
row-at-a-time Python UDF (BatchEvalPython). Pandas UDFs
(ArrowEvalPython) are the approved Python path. Catches plan
regressions that row-count correctness tests cannot see."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from tests.conftest import SF0001


def test_no_scale_killer_plans(spark):
    from plan_audit import audit

    flags = audit(spark, SF0001)
    assert flags == {}, f"scale-killer plan shapes: {flags}"


def test_no_rdd_access_in_package():
    """No ``.rdd`` attribute access anywhere in the package or entry
    module (VERDICT r3 nit #1): converting a DataFrame plan to an RDD
    forces a full deserialized-RDD plan per call even when only
    metadata is read. AST-based so docstring mentions don't count."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    files = sorted((root / "hbase_gis_spark").rglob("*.py"))
    files.append(root / "__spark_entry__.py")
    files.append(root / "bench.py")
    offenders = []
    for path in files:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "rdd":
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == [], f".rdd access found: {offenders}"


def test_tpch_date_filters_reach_parquet_scans(spark):
    """The sargable timestamp predicates of the TPC-H-shaped queries
    must appear as PushedFilters on their parquet scans — the property
    the 100 TB scan-pruning story depends on."""
    import re

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in ["pricing_summary", "shipping_priority",
                 "local_supplier_volume", "promo_revenue"]:
        plan = (
            qs[name](spark, SF0001)
            ._jdf.queryExecution().executedPlan().toString()
        )
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any(
            ("LessThan" in p) or ("GreaterThan" in p) or ("l_shipdate" in p)
            or ("o_orderdate" in p)
            for p in pushed
        ), f"{name}: no date predicate pushed to any scan: {pushed}"


def test_round3_tpch_predicates_reach_scans(spark):
    """Round-3 TPC-H shapes keep the pushdown discipline: Q6's three
    sargable conjuncts reach the lineitem scan; Q10's returnflag
    equality and order-date window reach their respective scans; Q19's
    disjunction leaves the part scan pruned by nothing weaker than the
    IsNotNull guards (OR across columns is not sargable per-scan, but
    the brand/size conjuncts still broadcast-join a pre-filtered dim)."""
    import re

    import __spark_entry__ as entrymod

    # NOTE plan.toString() TRUNCATES long field lists, so match the
    # pushed predicates as substrings rather than parsing the brackets
    qs = entrymod.queries()
    plan = (
        qs["forecast_revenue_change"](spark, SF0001)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or re.search(
        r"PushedFilters: \[[^\n]*l_shipdate", plan
    ), plan[plan.find("PushedFilters") : plan.find("PushedFilters") + 200]
    assert re.search(r"PushedFilters: \[[^\n]*GreaterThanOrEqual\(l_shipdate", plan)

    plan = (
        qs["returned_items"](spark, SF0001)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"PushedFilters: \[[^\n]*l_returnflag", plan)
    assert re.search(r"PushedFilters: \[[^\n]*o_orderdate", plan)


def test_registry_window_contract():
    """The driver checks exactly the FIRST 50 queries() entries; round
    11's window must hold the 8 round-10 additions + the 9 round-11
    additions (never-driver-checked queries rank first under the
    tools/rotation_plan.py staleness-ledger policy — the round-11
    additions landed BEFORE this round's driver check, so they enter
    now instead of waiting a round) + the 33 longest-unchecked
    queries (21 r5-era + 12 oldest r6-era in registry order), and
    every window query must have an oracle."""
    import __spark_entry__ as entrymod

    qs = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    r10_additions = [
        "split_drift_audit", "dedup_snm_multikey",
        "negative_sample_stratified", "epoch_allocation",
        "retrieval_mrr", "classifier_auc", "heavy_hitters_cms",
        "cell_pyramid",
    ]
    r11_additions = [
        "curriculum_order", "shard_balance", "padding_waste",
        "bloom_filter_audit", "conformal_coverage",
        "calibration_bins", "embedding_diversity",
        "label_knn_agreement", "retrieval_map",
        "lang_confusion", "lang_kappa", "retrieval_ndcg",
    ]
    stale_canaries = [
        # 21 r5-era (last driver row: round 5)
        "association_rules", "value_histogram", "global_value_cuts",
        "spearman_value_time", "chi2_lang_source", "mrl_report",
        "ngram_novelty_first", "within_concave",
        "within_multipolygon", "distance_join", "spatial_join",
        "knn_pruned", "knn_per_region", "topx_per_group",
        "asof_join", "sessionize_events", "binned_limit",
        "dedup_geocell", "dedup_exact", "dedup_minhash_lsh",
        "lang_id",
        # 9 oldest r6-era (last driver row: round 6); the 12
        # youngest r6-era canaries re-enter in round 12
        "orphan_check", "uniqueness_audit", "benford_revenue",
        "split_leakage", "supplier_part_variety",
        "potential_promotion", "lone_returned_supplier",
        "autocorr_daily", "weekday_seasonality",
    ]
    assert qs[:8] == r10_additions
    assert qs[8:20] == r11_additions
    assert qs[20:50] == stale_canaries
    missing = [q for q in qs[:50] if q not in oracles]
    assert missing == [], f"window queries without oracles: {missing}"
    # registry entries stay unique (dict literal would silently drop dups
    # only if keys repeat — guard the invariant the rotation relies on)
    assert len(qs) == len(set(qs))


_GLOBAL_WINDOW_ALLOWED = {
    # file basename -> (max partition-less Window.orderBy calls, reason)
    "funnel.py": (1, "step-index frame is |funnel steps| rows (<= 8)"),
    "retrieval.py": (
        1,
        "rrf_fuse ranks an already-limited top-k arm (<= arm_k rows, "
        "a constant) — the corpus-sized sort happened in the arm's "
        "TakeOrderedAndProject",
    ),
    "timeseries.py": (
        4,
        "cumulative_users running sum, _bounded_rank_select rank "
        "selection, seasonal_decompose_daily's centered moving "
        "average, and rolling_corr's trailing frame — all over "
        "pre-aggregated per-DAY frames (|days| rows, "
        "calendar-bounded — the daily_rolling argument; fact-scale "
        "ranking stays in rank.global_percentiles)",
    ),
    "__spark_entry__.py": (
        1,
        "daily_rolling: rangeBetween window over the per-DAY aggregate "
        "(|days| rows, bounded by the calendar)",
    ),
    "textstats.py": (
        1,
        "ngram_coverage_curve ranks an already-limited top-k gram "
        "frame (<= k rows, a constant) — the corpus-sized ordering "
        "happened in the TakeOrderedAndProject limit",
    ),
}


def test_no_partitionless_global_sort_windows():
    """Partition-less ``Window.orderBy(...)`` is the classic
    scale-killer: one task sorts the entire frame (VERDICT r4 found
    three — spearman_corr, rfm_segments, balance_deciles — all since
    replaced by rank.py's sharded global ranks). AST-based ban, like
    the ``.rdd`` one: any direct ``Window.orderBy`` call outside the
    explicit dim-scoped allowlist fails."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    files = sorted((root / "hbase_gis_spark").rglob("*.py"))
    files.append(root / "__spark_entry__.py")
    counts: dict[str, list[int]] = {}
    for path in files:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "Window"
            ):
                counts.setdefault(path.name, []).append(node.lineno)
    offenders = {
        name: lines
        for name, lines in counts.items()
        if len(lines) > _GLOBAL_WINDOW_ALLOWED.get(name, (0,))[0]
    }
    assert offenders == {}, (
        f"partition-less Window.orderBy (single-task global sort): "
        f"{offenders} — use hbase_gis_spark.operators.rank instead, or "
        f"extend the allowlist with a dim-size reason"
    )


def test_round5_plan_shapes(spark):
    """Physical-plan pins for the round-5 operators: bounded top-k
    stays TakeOrderedAndProject (never a global sort), the orphan
    audit anti-joins, the Q16 shape broadcast-joins its dims, and the
    scalar families never cross the Python boundary."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def plan_of(name):
        return (
            qs[name](spark, SF0001)
            ._jdf.queryExecution().executedPlan().toString()
        )

    for name in ["join_cardinality", "collocations_pmi", "zipf_fit",
                 "embedding_outliers", "lone_returned_supplier",
                 "vocab_drift"]:
        p = plan_of(name)
        assert "TakeOrderedAndProject" in p, name

    p = plan_of("orphan_check")
    assert "LeftAnti" in p, p[:400]

    p = plan_of("supplier_part_variety")
    assert "BroadcastHashJoin" in p, p[:400]

    for name in ["orphan_check", "uniqueness_audit", "benford_revenue",
                 "split_leakage", "autocorr_daily",
                 "weekday_seasonality", "mad_anomalies", "bounce_rate",
                 "node_jaccard", "collocations_pmi", "zipf_fit",
                 "vocab_drift", "join_cardinality"]:
        p = plan_of(name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, (
            f"{name} unexpectedly crosses the Python boundary"
        )

    # late round-5 additions: the Q12 shape joins its two fact tables
    # with a hash join (broadcast at this SF via AQE; SMJ at scale —
    # never nested-loop), the Q11 shape's only BNLJ is the sanctioned
    # 1-row totals broadcast, and the FD audit is pure aggregate
    p = plan_of("late_shipments")
    assert "HashJoin" in p, p[:400]
    for name in ["late_shipments", "important_parts", "fd_audit"]:
        p = plan_of(name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name
        assert "CartesianProduct" not in p, name
    assert "Join" not in plan_of("fd_audit")

    # hybrid RRF: both arms stay bounded top-k heaps (never a global
    # sort of the corpus); the semantic arm's pandas-UDF cosine is the
    # approved Arrow path, so only row-at-a-time Python is banned
    p = plan_of("hybrid_search_rrf")
    assert "TakeOrderedAndProject" in p, p[:400]
    assert "BatchEvalPython" not in p


def test_round4b_plan_shapes(spark):
    """Physical-plan pins for the late round-4 operators: the shapes
    the 100 TB story depends on, so a refactor can't silently degrade
    them."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def plan_of(name):
        return (
            qs[name](spark, SF0001)
            ._jdf.queryExecution().executedPlan().toString()
        )

    # bm25: final ranking is a bounded top-k, not a global sort
    p = plan_of("bm25_search")
    assert "TakeOrderedAndProject" in p, p[:400]

    # group_sample: the rank window is group-limit-pushed so map tasks
    # forward at most k rows per group
    p = plan_of("group_sample")
    assert "WindowGroupLimit" in p, p[:400]

    # hilbert/zorder/psi/segment/novelty: pure JVM — no Python stage
    for name in ["hilbert_layout", "zorder_layout", "value_psi",
                 "segment_dedup", "ngram_novelty_first",
                 "triangle_count", "cusum_days", "snapshot_diff",
                 "lpa_communities", "profile_diff"]:
        p = plan_of(name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, (
            f"{name} unexpectedly crosses the Python boundary"
        )

    # small-shape geo queries: the covers test is rendered SQL and the
    # cell table an inline VALUES relation — no Python stage, no RDD.
    # The one exception: spatial_join_cells derives its point geohash
    # with the pandas-UDF encoder (sources.tables.points_from_events
    # keeps it as a pushdown barrier), so that UDF alone may appear.
    import re

    for name in ["within_concave", "within_multipolygon", "within_hole",
                 "spatial_join", "spatial_join_cells", "knn_multi"]:
        p = plan_of(name)
        assert "BatchEvalPython" not in p, name
        udfs = re.findall(r"ArrowEvalPython \[(\w+)\(", p)
        allowed = {"_geohash"} if name == "spatial_join_cells" else set()
        assert set(udfs) <= allowed, (
            f"{name} unexpectedly crosses the Python boundary: {udfs}"
        )
        assert "Scan ExistingRDD" not in p, name


def test_geo_table_queries_prune_partitions(spark, tmp_path):
    """On a ``write_geo_table`` table every geo query type carries a
    non-empty PartitionFilters on its scan, with no partition argument
    from the caller: within, within_radius, knn(pruned=True),
    knn_multi(pruned=True), spatial_join in both modes and the SQL
    within opt-in."""
    import re

    import hbase_gis_spark as hgs
    from hbase_gis_spark.geo.planner import partition_layout
    from hbase_gis_spark.operators.knn import knn, knn_multi, within_radius
    from hbase_gis_spark.operators.spatial_join import spatial_join
    from hbase_gis_spark.sources.ingest import bulk_points, read_geo_table, write_geo_table
    from hbase_gis_spark.sqlapi import within_convex_sql

    path = str(tmp_path / "geo")
    write_geo_table(bulk_points(spark, 2000, -74.3, -73.6, 40.4, 41.0), path)
    t = read_geo_table(spark, path)
    wkt = ("POLYGON ((-73.99 40.72, -73.97 40.76, -73.93 40.74, "
           "-73.95 40.70, -73.99 40.72))")
    t.createOrReplaceTempView("hygiene_geo")
    queries = {
        "within": hgs.within(t, wkt),
        "within_radius": within_radius(t, -73.95, 40.75, 3000.0),
        "knn_pruned": knn(t, -73.95, 40.75, 5, geohash_col="geohash",
                          pruned=True, prefix_precision=6),
        "knn_multi_pruned": knn_multi(t, [(1, -73.95, 40.75)], 5,
                                      geohash_col="geohash", pruned=True),
        "spatial_join": spatial_join(t, [("a", wkt)]),
        "spatial_join_cells": spatial_join(t, [("a", wkt)], geohash_col="geohash"),
        "sql_within": spark.sql(
            "SELECT id FROM hygiene_geo WHERE "
            + within_convex_sql(wkt, partition=partition_layout(t))),
    }
    for name, q in queries.items():
        plan = q._jdf.queryExecution().executedPlan().toString()
        filters = re.findall(r"PartitionFilters: \[([^\],]*)", plan)
        assert any("gh_prefix" in f for f in filters), (name, filters)
