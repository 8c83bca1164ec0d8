"""Graph analytics over edge lists derived from event streams.

The reference has no graph surface (its store is a point table —
SURVEY.md §2); these extend the engine the way a training-data /
product-analytics pipeline uses event graphs: ranking entities by
weighted transition structure.

Engine-exactness contract (same discipline as the integer milli-IDF in
operators/dedup.py): every rank update is BIGINT arithmetic — scaled
ranks, integer floor division (`div`) — so results are identical under
any shuffle/combine schedule AND identical between Spark and the
DuckDB oracle. The only float op is an optional final down-scale the
caller can do for display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 1_000_000  # ranks carried in micro-units


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    damping_milli: int = 850,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted PageRank, ``iters`` fixed power iterations, all-integer
    arithmetic: ranks in micro-units (sum ~= RANK_SCALE), damping in
    milli-units.

    Update rule per iteration (floor division at every step, so both
    engines agree exactly)::

        contrib(v) = sum over in-edges (u, v, w) of
                       (rank(u) * w) div out_weight(u)
        rank'(v)   = ((1000 - d) * RANK_SCALE) div (1000 * n)
                     + (d * contrib(v)) div 1000

    Dangling mass (nodes with no out-edges) and floor-division residue
    are DROPPED, not redistributed — total rank decays by a bounded
    epsilon per iteration, which is irrelevant for ranking and keeps
    the recurrence one join + one aggregate (redistribution would add
    a global 1-row reduction per round).

    Scale shape: the rank table is (node, bigint) — tiny relative to
    the edge list, and the per-iteration cost is ONE shuffle join of
    edges against ranks on ``src`` plus ONE hash aggregate on ``dst``
    (out_weight joins are pre-merged into the edge table once, before
    the loop).  ``iters`` is a fixed small constant: each iteration is
    a driver-side loop step over DataFrames, data never leaves
    executors, and lineage stays shallow enough at 3 iterations that
    no checkpoint is needed.  Overflow: rank <= RANK_SCALE and
    rank * w needs w * 1e6 < 2**63, i.e. edge weights below ~9e12 —
    any realistic count weight.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("bigint").alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n1 = nodes.agg(F.count(F.lit(1)).alias("__n"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("ow"))
    # pre-merge out-degree into the edge table once; the loop then
    # only ever joins (edges+ow) against the small rank table
    from hbase_gis_spark.operators.checkpointing import truncate_lineage

    ew = truncate_lineage(e.join(out_w, "src"))

    # Loop shape (optimization r12): the old recurrence consumed
    # rank_{k-1} TWICE per iteration (contrib probe + the left join
    # keeping zero-contrib nodes), so the logical plan DOUBLED per
    # iteration — 2^iters copies of the base subtree, 108 Exchange
    # nodes at iters=3 (guide §3.3 planning-time blowup). The
    # zero-contrib keeper side only needs the LOOP-INVARIANT
    # (node, __n) table, so that is materialized once and the
    # recurrence becomes rank_k = nodesN ⟕ agg(ew ⋈ rank_{k-1}) —
    # one use of rank per iteration, linear plan depth, identical
    # arithmetic on the identical node set.
    nodes_n = truncate_lineage(nodes.crossJoin(F.broadcast(n1)))

    # integer floor division throughout — `div` in expr form because
    # the Python / operator on Columns goes through double
    rank = nodes_n.select(
        "node", F.expr(f"{RANK_SCALE} div __n").alias("rank")
    )
    for _ in range(iters):
        contrib = (
            ew.join(
                rank.select(F.col("node").alias("src"), "rank"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank * w) div ow").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        rank = (
            nodes_n.join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"cast(({1000 - damping_milli} * {RANK_SCALE}) "
                    f"div (1000 * __n) as bigint) "
                    f"+ ({damping_milli} * coalesce(contrib, 0)) div 1000"
                ).alias("rank"),
            )
        )
    return rank.select("node", F.col("rank").alias("rank_micro"))


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Support-filtered co-occurrence edges: undirected (a < b) item
    pairs that appear together in at least ``min_support`` distinct
    groups (orders, sessions, baskets). Output: (a, b, support).

    Scale shape: the pair generation is a self-join on the GROUP key,
    so its cost is sum over groups of |group|^2 — bounded by the
    natural group size (an order has a handful of lines), never by
    table size; a pathological mega-group is a data-quality bug the
    skew_report surfaces, and callers can pre-cap with a per-group
    limit. The support filter then collapses the pair stream in ONE
    map-side-combined hash aggregate, and (critically for the graph
    ops downstream) random co-occurrences almost never repeat, so the
    surviving edge list is orders of magnitude smaller than the pair
    stream — measured at sf0.1: ~1.20M pair occurrences
    -> 3,573 edges at min_support=2."""
    base = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).distinct()
    return (
        base.select("g", F.col("i").alias("a"))
        .join(base.select("g", F.col("i").alias("b")), "g")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Market-basket association rules over 2-itemsets: for every
    ordered pair (a -> b) whose unordered pair co-occurs in >=
    ``min_support`` groups, the support / confidence / lift triple —
    the classic co-purchase recommender signal ("customers who bought
    a also bought b"), emitted BOTH directions because confidence is
    asymmetric.

    Integer-exact milli-units (floor division, engine-exact)::

        confidence_milli = (1000 * support_ab) div support_a
        lift_milli       = (1000 * support_ab * n_groups)
                           div (support_a * support_b)

    Scale shape: pair supports come from :func:`cooccurrence_edges`
    (work bounded by basket size, then support-filtered); per-item
    supports are ONE hash aggregate over the distinct (group, item)
    projection; both join back by item key — the item-support dim is
    |items| rows and broadcasts. Overflow: 1000 * s_ab * N needs
    s_ab * N < 9e15 — at 1e9 baskets that allows pair supports to
    ~9e6, beyond any real co-purchase pair; shard the multiplication
    if a corpus ever breaks it."""
    base = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).distinct()
    n1 = base.agg(F.count_distinct("g").alias("__n"))
    item_support = base.groupBy("i").agg(
        F.count(F.lit(1)).alias("s_i")
    )
    pairs = cooccurrence_edges(df, group_col, item_col, min_support)
    both = pairs.select(
        F.col("a").alias("ante"),
        F.col("b").alias("cons"),
        F.col("support").alias("support_ab"),
    ).union(
        pairs.select(
            F.col("b").alias("ante"),
            F.col("a").alias("cons"),
            F.col("support").alias("support_ab"),
        )
    )
    return (
        both.join(
            F.broadcast(item_support.select(F.col("i").alias("ante"),
                                            F.col("s_i").alias("support_a"))),
            "ante",
        )
        .join(
            F.broadcast(item_support.select(F.col("i").alias("cons"),
                                            F.col("s_i").alias("support_b"))),
            "cons",
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "ante",
            "cons",
            "support_ab",
            "support_a",
            "support_b",
            F.expr("(1000 * support_ab) div support_a").alias(
                "confidence_milli"
            ),
            F.expr(
                "(1000 * support_ab * __n) div (support_a * support_b)"
            ).alias("lift_milli"),
        )
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One-row global graph summary over an undirected (a < b) edge
    list: node/edge counts, wedge (open 2-path) count, triangle count,
    and the global clustering coefficient in exact milli-units
    (3 * triangles * 1000 div wedges) — all BIGINT, engine-exact.

    Triangle counting is the id-ordered closed-wedge join: wedges
    anchored at their smallest vertex ((a,b) ⋈ (a,c), b < c) closed by
    the (b,c) edge, so every triangle a < b < c is counted exactly
    once. Work is sum over vertices of (forward-degree)^2 — the same
    O(m^1.5)-bounded shape as the Schank–Wagner / MapReduce
    node-iterator; on a support-filtered co-occurrence graph the
    degree distribution is already flat enough that the plain id
    orientation matches the degree orientation in practice (and the id
    form is what the SQL oracle can replay verbatim). Degrees, node
    count, edge count (sum(deg) div 2) and wedges all come from ONE
    hash aggregate over the degree table; the final assembly joins two
    1-row aggregates (a sanctioned broadcast).

    The edge list is lazily checkpointed: it feeds the degree
    aggregate and all three legs of the triangle join, and its
    producing pipeline (a groupBy-filtered self-join for
    ``cooccurrence_edges``) is too expensive to re-run four times."""
    from hbase_gis_spark.operators.checkpointing import truncate_lineage

    e = truncate_lineage(edges.select("a", "b"))
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(d) div 2").alias("n_edges"),
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges"),
    )
    tri = (
        e.select(F.col("a"), F.col("b"))
        .join(
            e.select(F.col("a"), F.col("b").alias("c")),
            "a",
        )
        .filter(F.col("b") < F.col("c"))
        .join(e.select(F.col("a").alias("b"), F.col("b").alias("c")), ["b", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return base.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges > 0 "
            "THEN (3 * n_triangles * 1000) div n_wedges "
            "ELSE 0 END"
        ).alias("clustering_milli"),
    )


def lpa_communities(
    edges: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation over an undirected (a < b) edge
    list: ``iters`` fixed rounds where every node simultaneously
    adopts the most frequent label among its neighbors (count DESC,
    then MIN label — both tiebreaks deterministic, so the result is
    shuffle-order- and engine-exact, unlike the async randomized LPA
    of the original Raghavan et al. formulation). Communities are
    denser-than-their-surroundings groups — the modularity-style
    complement of ``dedup_clusters``' connected components, which
    merge everything reachable regardless of density.

    Output: (v, community) for every vertex; isolated-from-the-edge-
    list vertices don't appear (they have no neighbors to vote).

    Scale shape per round: ONE join of the symmetrized edge list
    against the |V|-row label table + ONE (node, label) hash aggregate
    + a per-node rank window over that aggregate — the same
    edges-vs-small-table recurrence as ``pagerank_int``, cost linear
    in |E| per round with a fixed small ``iters``. The symmetrized
    edge list is lazily checkpointed once, before the loop."""
    from hbase_gis_spark.operators.checkpointing import truncate_lineage
    from hbase_gis_spark.operators.topx import top_x

    sym = truncate_lineage(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v"))),
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    for _ in range(iters):
        votes = (
            sym.join(
                labels.select(
                    F.col("node").alias("v"), "community"
                ),
                "v",
            )
            .groupBy(F.col("u").alias("node"), "community")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = top_x(
            votes, "node", F.col("n").desc(), 1, tiebreak_col="community"
        ).select("node", "community")
    return labels.select(F.col("node").alias("v"), "community")


def event_type_edges(
    ev: DataFrame,
    ts_col,
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, weight) transition counts over per-user
    timelines — the same lead-window edge derivation as
    ``markov_transitions`` (one window pass, one hash aggregate bounded
    by |event_types|^2).  ``ts_col`` is a Column expression so callers
    pass the engine-portable timestamp projection."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col.asc(), F.col(id_col).asc())
    return (
        ev.select(
            F.col(type_col).alias("src"),
            F.lead(type_col, 1).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def node_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Neighbor-set Jaccard similarity between node pairs of a
    directed edge list (edges are symmetrized first, self-loops
    dropped) — the structural-equivalence scan behind link prediction
    and role discovery ("which event types play the same part in user
    journeys"). Output per unordered pair with at least one shared
    neighbor: (node_a, node_b, n_common, n_a, n_b, jaccard_milli)
    with jaccard_milli = (1000 * |common|) div |union| — integer
    floor, engine-exact.

    Scale shape: the common-neighbor join is the dedup inverted-index
    shape — pairs are generated per SHARED NEIGHBOR (work = sum of
    neighbor-degree squared, the wedge count), never nodes squared;
    degrees come from one aggregate and broadcast-join onto the pair
    counts. Hot hubs inflate wedges exactly as hot shingles inflate
    the dedup index — cap or sample hub neighborhoods at 100 TB (the
    max_df discipline)."""
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("a"), F.col(src_col).alias("b")
            )
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("n"))
    # pairs sharing neighbor n: (x, n) join (y, n) with x < y —
    # inverted index keyed on the shared neighbor
    left = sym.select(F.col("b").alias("__n"), F.col("a").alias("x"))
    right = sym.select(F.col("b").alias("__n"), F.col("a").alias("y"))
    common = (
        left.join(right, "__n")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("a").alias("x"), F.col("n").alias("n_a"))
    db = deg.select(F.col("a").alias("y"), F.col("n").alias("n_b"))
    return (
        common.join(da, "x")
        .join(db, "y")
        .select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            "n_common",
            "n_a",
            "n_b",
            F.expr(
                "(1000 * n_common) div (n_a + n_b - n_common)"
            ).alias("jaccard_milli"),
        )
    )
