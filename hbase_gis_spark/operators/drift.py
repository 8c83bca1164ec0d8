"""Data-drift monitoring between two snapshots / cohorts of a table.

The training-pipeline failure mode these catch is silent: an upstream
schema tweak floods a column with NULLs, a crawler change shifts the
document-length distribution, a feed drops a tenant — and the model
trained on the drifted data regresses with no error anywhere. The
monitoring pair:

- :func:`profile_diff` — per-column STATISTIC drift (null counts,
  distinct counts, min/max movement) between two snapshots, built on
  the same one-pass ``profile_table`` both sides.
- :func:`value_psi` — per-key DISTRIBUTION drift of a numeric column
  (Population Stability Index over reference-decile bins), the
  standard ML-monitoring statistic (PSI < 0.1 stable, 0.1-0.25
  moderate shift, > 0.25 action).

The reference has no monitoring surface (extension scope, like the
OLAP family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hbase_gis_spark.functions import sqlkernels as K
from hbase_gis_spark.operators.rank import (
    apply_range_shards,
    cut_rank,
    global_half_ranks,
    grouped_ranks,
    half_rank2,
    prefix_offsets,
    range_sharded,
    rankable,
    shard_boundaries,
    shard_boundaries_multi,
    shard_case_sql,
    shard_offset_col,
    shard_size_maps_multi,
    sharded_ntile,
)


def ks_two_sample(
    ref: DataFrame,
    cur: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key two-sample Kolmogorov–Smirnov statistic between a
    reference cohort and a current cohort — the UNBINNED exact twin
    of :func:`value_psi` (PSI needs bin choices; KS is the sup-norm
    distance between the raw empirical CDFs, the standard
    distribution-shift test when you don't want binning artifacts).

    Exact integer arithmetic throughout: at each observed value v,
    ``D_scaled(v) = |cum_ref(v)·n_cur − cum_cur(v)·n_ref|`` (the KS
    distance times ``n_ref·n_cur``, DECIMAL(38,0) so 1e12-row cohorts
    cannot overflow); the statistic is ``max_v D_scaled`` reported as
    ``ks_micro = 10^6 · max_D // (n_ref·n_cur)`` plus the LOCATION of
    the sup (smallest value achieving it) — the actionable part:
    WHERE the distributions diverge. NULL values are incomplete
    observations and are dropped from both cohorts (stated contract,
    as in rolling_corr).

    Output: (``key_col``, n_ref, n_cur, ks_micro, ks_at_value), all
    integers; keys present in only one cohort report ks_micro
    1_000_000 (every mass point disagrees) with the degenerate-side
    total 0 — keys absent from BOTH sides cannot appear.

    Scale shape: one union + one (key, value) hash aggregate collapse
    the fact table to per-key distinct-value cells BEFORE any sort;
    the cumulative window is PARTITIONED BY KEY over those cells, so
    the per-key sort is bounded by the key's distinct-VALUE
    cardinality, not its row count. For continuous measures at
    100 TB, quantize upstream (the registered query feeds deci-units)
    — a ~1e4-cell grid bounds every sort at a fixed size and changes
    the statistic by at most one grid step."""
    r = ref.select(
        F.col(key_col).alias("__k"), F.col(value_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    c = cur.select(
        F.col(key_col).alias("__k"), F.col(value_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    tagged = r.select(
        "__k", "__v", F.lit(1).alias("__r"), F.lit(0).alias("__c")
    ).unionByName(
        c.select("__k", "__v", F.lit(0).alias("__r"), F.lit(1).alias("__c"))
    )
    cells = tagged.groupBy("__k", "__v").agg(
        F.sum("__r").cast("decimal(38,0)").alias("cr"),
        F.sum("__c").cast("decimal(38,0)").alias("cc"),
    )
    cumw = (
        Window.partitionBy("__k")
        .orderBy(F.col("__v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totw = Window.partitionBy("__k")
    stepped = cells.select(
        "__k",
        "__v",
        F.sum("cr").over(cumw).alias("cumr"),
        F.sum("cc").over(cumw).alias("cumc"),
        F.sum("cr").over(totw).alias("ntr"),
        F.sum("cc").over(totw).alias("ntc"),
    ).withColumn(
        "__d",
        F.abs(
            F.col("cumr") * F.col("ntc") - F.col("cumc") * F.col("ntr")
        ),
    )
    flagged = stepped.withColumn(
        "__dmax", F.max("__d").over(Window.partitionBy("__k"))
    )
    best = flagged.groupBy("__k").agg(
        F.max("ntr").cast("bigint").alias("n_ref"),
        F.max("ntc").cast("bigint").alias("n_cur"),
        F.max("__dmax").alias("__dm"),
        F.min(
            F.when(F.col("__d") == F.col("__dmax"), F.col("__v"))
        ).alias("ks_at_value"),
    )
    # a one-sided key has n=0 on the other side: its CDF distance is
    # 1 everywhere by convention (every observation is evidence).
    # `div` (IntegralDivide) keeps the quotient exact — a decimal `/`
    # would round at its result scale and could cross the floor
    # boundary the oracle's `//` never crosses
    return (
        best.withColumn(
            "__num", F.lit(1_000_000).cast("decimal(38,0)") * F.col("__dm")
        )
        .withColumn(
            "__den",
            F.col("n_ref").cast("decimal(38,0)")
            * F.col("n_cur").cast("decimal(38,0)"),
        )
        .select(
            F.col("__k").alias(key_col),
            "n_ref",
            "n_cur",
            F.when(
                (F.col("n_ref") == 0) | (F.col("n_cur") == 0),
                F.lit(1_000_000).cast("bigint"),
            )
            .otherwise(F.expr("CAST(__num div __den AS BIGINT)"))
            .alias("ks_micro"),
            "ks_at_value",
        )
    )


def mann_whitney_auc(
    df: DataFrame,
    key_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """EXACT ROC-AUC per key via the Mann-Whitney U statistic — the
    threshold-free summary of "does this score separate the classes"
    (AUC = P(score_pos > score_neg) + ½·P(tie), Mann & Whitney 1947;
    the binned complement is quality_dup_calibration's decile table).
    The classifier-eval primitive a curation pipeline runs on every
    filter model: quality-vs-dup, quality-vs-contamination,
    langid-vs-source.

    Engine-exactness (the ks_two_sample discipline): rows collapse to
    per-(key, score) cells with positive/negative counts as
    DECIMAL(38,0); the cumulative-negatives window is PARTITIONED BY
    KEY over those cells (per-key sort bounded by the key's distinct-
    SCORE cardinality, not its row count — quantize continuous scores
    upstream, e.g. to milli); ties earn half credit exactly via the
    ×2 trick — ``u_x2 = Σ_s n_pos(s)·(2·cum_neg_below(s) + n_neg(s))``
    — so everything through the final division is integer.
    ``auc_micro = 10⁶·u_x2 div (2·n_pos·n_neg)`` (truncating div,
    identical in both engines for the non-negative operands); NULL
    when either class is empty. NULL scores/labels are dropped;
    label semantics: non-zero = positive, zero = negative.

    Output: one row per key — (key, n_pos, n_neg, u_x2, auc_micro).
    ``u_x2`` is exact below ~2e9 positives × 2e9 negatives per key
    (the bigint output cast; internal arithmetic is DECIMAL(38,0)).

    Scale shape: one hash aggregate to cells, per-key bounded
    windows, one per-key aggregate — the KS plan with a different
    final expression."""
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(score_col).alias("__s"),
        F.col(label_col).alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    cells = base.groupBy("__k", "__s").agg(
        F.sum(F.when(F.col("__y") != 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("cp"),
        F.sum(F.when(F.col("__y") != 0, 0).otherwise(1))
        .cast("decimal(38,0)")
        .alias("cn"),
    )
    cumw = (
        Window.partitionBy("__k")
        .orderBy(F.col("__s").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totw = Window.partitionBy("__k")
    stepped = cells.select(
        "__k",
        "cp",
        "cn",
        (F.sum("cn").over(cumw) - F.col("cn")).alias("below"),
        F.sum("cp").over(totw).alias("np"),
        F.sum("cn").over(totw).alias("nn"),
    )
    per = stepped.groupBy("__k").agg(
        F.min("np").alias("np"),
        F.min("nn").alias("nn"),
        F.sum(
            F.col("cp") * (F.lit(2).cast("decimal(38,0)") * F.col("below") + F.col("cn"))
        ).alias("u2"),
    )
    return per.select(
        F.col("__k").alias(key_col),
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.col("u2").cast("bigint").alias("u_x2"),
        F.when(
            (F.col("np") > 0) & (F.col("nn") > 0),
            F.expr("CAST((1000000 * u2) div (2 * np * nn) AS BIGINT)"),
        ).alias("auc_micro"),
    )


def count_min_audit(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
    depth: int = 3,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Count-min-sketch ERROR AUDIT for heavy-hitter tracking (Cormode
    & Muthukrishnan 2005): build a deterministic d×w count-min sketch
    over the key frequencies and report, for the ``top_n`` exact heavy
    hitters, the sketch estimate next to the exact count and the
    collision overestimate. The sizing tool for the fixed-memory
    heavy-hitter path (a d×w integer grid replaces an unbounded
    per-key state at stream/100-TB scale): run this at the candidate
    width on a sample and read the overestimate column before
    trusting the sketch.

    Deterministic and engine-exact: row hashes are the md5 ticket
    discipline (``md5('{salt}:i:' || key)`` → first 15 hex digits →
    mod ``width``), bucket sums are exact BIGINTs, and
    ``cms_estimate = min_i bucket_i(key)`` — the classic CMS
    guarantee ``estimate >= exact`` holds by construction and is
    pinned in tests. The sketch is built FROM the exact key histogram
    (identical sums to a raw-stream build, one aggregate instead of d
    fact passes); the returned heavy hitters are the deterministic
    top (count desc, key asc).

    Output: ``top_n`` rows — (``key_col``, exact, cms_estimate,
    overestimate).

    Scale shape: one hash aggregate to the key histogram; d
    histogram-sized re-aggregates to w-row bucket tables, broadcast
    back; one TakeOrderedAndProject for the top-n. Nothing after the
    first aggregate touches fact scale."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    # NULL keys are excluded up front: a sketch tracks named keys, and
    # the SQL twin's string concat would NULL the hash anyway (pinned
    # here so both engines agree by construction)
    counts = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("__k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact"))
    )

    def bucket(i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(salt), F.lit(str(i)), F.col("__k")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % width
        )

    per = counts
    for i in range(depth):
        buckets = counts.groupBy(bucket(i).alias(f"__b{i}")).agg(
            F.sum("exact").alias(f"__s{i}")
        )
        per = per.withColumn(f"__b{i}", bucket(i)).join(
            F.broadcast(buckets), f"__b{i}"
        )
    ests = [F.col(f"__s{i}") for i in range(depth)]
    per = per.withColumn(
        "cms_estimate",
        (ests[0] if depth == 1 else F.least(*ests)).cast("bigint"),
    )
    return (
        per.select(
            F.col("__k").alias(key_col),
            "exact",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact").desc(), F.col(key_col).asc())
        .limit(top_n)
    )


def profile_diff(
    old: DataFrame,
    new: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """Per-column statistic drift between two snapshots: one row per
    profiled column with old/new row, null and distinct counts, the
    deltas, and whether the min/max moved. Integer and string outputs
    only — engine-exact.

    Scale shape: exactly two :func:`profile_table` passes (each ONE
    aggregate over its table; the Expand-based exact distincts are the
    documented cost, swappable for approx at 100 TB) and a join of two
    |columns|-row results — the comparison itself is free."""
    from hbase_gis_spark.operators.corpus import profile_table

    cols = columns or [c for c in old.columns if c in new.columns]
    po = profile_table(old, cols).select(
        "column",
        F.col("n_rows").alias("rows_old"),
        F.col("n_nulls").alias("nulls_old"),
        F.col("n_distinct").alias("distinct_old"),
        F.col("min_value").alias("min_old"),
        F.col("max_value").alias("max_old"),
    )
    pn = profile_table(new, cols).select(
        "column",
        F.col("n_rows").alias("rows_new"),
        F.col("n_nulls").alias("nulls_new"),
        F.col("n_distinct").alias("distinct_new"),
        F.col("min_value").alias("min_new"),
        F.col("max_value").alias("max_new"),
    )
    return po.join(pn, "column").select(
        "column",
        "rows_old",
        "rows_new",
        (F.col("rows_new") - F.col("rows_old")).alias("rows_delta"),
        "nulls_old",
        "nulls_new",
        (F.col("nulls_new") - F.col("nulls_old")).alias("nulls_delta"),
        "distinct_old",
        "distinct_new",
        (F.col("distinct_new") - F.col("distinct_old")).alias(
            "distinct_delta"
        ),
        (~F.col("min_old").eqNullSafe(F.col("min_new")))
        .cast("int")
        .alias("min_moved"),
        (~F.col("max_old").eqNullSafe(F.col("max_new")))
        .cast("int")
        .alias("max_moved"),
    )


def _psi_prep(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    prepped = df.select(
        F.col(key_col).alias("__k"),
        F.col(value_col).cast("double").alias("__v"),
    )
    return prepped.filter(rankable(prepped, "__v"))


def _bin_counts(binned: DataFrame, name: str, key_col: str = "__k") -> DataFrame:
    """(key_col, bin, name) row counts of (__k, bin) rows — the
    per-(key, bin) histogram of the batch and streaming drift
    monitors."""
    return binned.groupBy(F.col("__k").alias(key_col), F.col("bin")).agg(
        F.count(F.lit(1)).alias(name)
    )


def psi_cuts(
    ref: DataFrame,
    key_col: str,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """The reference cohort's per-key quantile-cut dim: (__k, __cuts)
    with the sorted array of n_bins-1 exact quantile boundaries — the
    REUSABLE half of :func:`value_psi`. Persist this next to the
    reference snapshot and every later cohort (batch or stream) bins
    against the same boundaries, the precondition for comparable PSI
    series over time. One boundary per DISTINCT rank ⌈i·n/n_bins⌉
    (``rank.cut_rank``) over ``rank.grouped_ranks``' frame: with
    n < n_bins several i share a rank and the array is shorter; with
    ``n_bins=1`` every key gets the empty array (one bin)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be at least 1, got {n_bins}")
    prepped = _psi_prep(ref, key_col, value_col)
    if n_bins == 1:
        return prepped.select("__k").distinct().select(
            "__k", F.array().cast("array<double>").alias("__cuts")
        )
    ranked = grouped_ranks(prepped, ["__k"], "__v")
    is_cut = F.exists(
        F.sequence(F.lit(1), F.lit(n_bins - 1)),
        lambda i: F.col("__r") == cut_rank(F.col("__n"), i, n_bins),
    )
    return (
        ranked.filter(is_cut)
        .groupBy("__k")
        .agg(F.array_sort(F.collect_list("__v")).alias("__cuts"))
    )


def psi_assign_bins(prepped: DataFrame, cuts: DataFrame) -> DataFrame:
    """(__k, __v) rows -> (__k, bin) via the broadcast cuts dim; bin =
    1 + |boundaries strictly below v| (boundary values fall into the
    lower bin on both engines)."""
    return prepped.join(F.broadcast(cuts), "__k").select(
        "__k",
        (
            F.size(F.filter("__cuts", lambda b: b < F.col("__v"))) + 1
        ).alias("bin"),
    )


def value_psi(
    ref: DataFrame,
    cur: DataFrame,
    key_col: str,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-key Population Stability Index of ``value_col`` between a
    reference cohort and a current cohort: bins are the REFERENCE's
    exact per-key quantile cuts (so every reference bin holds ~1/n_bins
    of its key's mass by construction), both cohorts are histogrammed
    into them, and each bin contributes ``(p - q) * ln(p / q)`` with
    Laplace 0.5 smoothing (an empty current bin is a strong but finite
    signal, not an infinity).

    Output: (key, bin, n_ref, n_cur, psi) — ``sum(psi) over key`` is
    the headline per-key PSI; emitting per-bin terms keeps the report
    actionable (WHICH part of the distribution moved). ``psi`` is
    rounded to 9 decimals on both engines (libm-ulp discipline of
    tfidf_topk_terms); every other column is an exact integer.

    Scale shape: the cut computation is a rank window PARTITIONED BY
    KEY (the grouped_quantiles pattern — per-key sort, no global
    single-task sort; for a truly keyless global PSI at 100 TB, feed
    approx_percentile cuts or the token_budget_sample sharded-cumsum
    instead). Cuts collapse to a |keys|-row broadcast dim of sorted
    arrays; bin assignment is a map-only array count; counts are one
    hash aggregate per cohort over |keys| x n_bins cells; the dense
    bin spine explodes from the cuts dim so empty bins exist (PSI
    needs them)."""
    r = _psi_prep(ref, key_col, value_col)
    cuts = psi_cuts(ref, key_col, value_col, n_bins)
    counts = []
    for name, side in (("n_ref", r), ("n_cur", _psi_prep(cur, key_col, value_col))):
        counts.append(_bin_counts(psi_assign_bins(side, cuts), name))
    spine = cuts.select(
        "__k", F.explode(F.sequence(F.lit(1), F.lit(n_bins))).alias("bin")
    )
    tot = Window.partitionBy("__k")
    return (
        spine.join(counts[0], ["__k", "bin"], "left")
        .join(counts[1], ["__k", "bin"], "left")
        .select(
            "__k",
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .withColumn("__tr", F.sum("n_ref").over(tot))
        .withColumn("__tc", F.sum("n_cur").over(tot))
        .select(
            F.col("__k").alias(key_col),
            "bin",
            "n_ref",
            "n_cur",
            F.expr(
                K.psi_term_sql("n_ref", "n_cur", "__tr", "__tc", str(n_bins))
            ).alias("psi"),
        )
    )


def histogram_range(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """The per-key (``__k``, ``__mn``, ``__mx``) range dim — the
    REUSABLE half of :func:`value_histogram`, exactly as
    :func:`psi_cuts` is value_psi's. Persist this next to the
    reference snapshot: every later cohort, batch or stream, must bin
    against the SAME frozen ranges or its bins are incomparable (the
    same re-derivation hazard as the curve-layout bounds sidecar —
    VERDICT r4 next-round #6)."""
    return (
        _psi_prep(df, key_col, value_col)
        .groupBy("__k")
        .agg(F.min("__v").alias("__mn"), F.max("__v").alias("__mx"))
    )


def histogram_assign_bins(
    prepped: DataFrame, rng: DataFrame, n_bins: int
) -> DataFrame:
    """(__k, __v) rows -> (__k, bin) via the broadcast range dim:
    bin = floor((v - min)/(max - min) * n_bins) clamped to
    [0, n_bins-1] — the zorder_bin IEEE-op sequence, identical on
    both engines. Out-of-range values (possible when the dim is a
    FROZEN reference range and the cohort drifted past it) clamp
    into the edge bins, the curve-layout append rule."""
    return prepped.join(F.broadcast(rng), "__k").select(
        "__k",
        F.greatest(
            F.least(
                F.coalesce(
                    F.floor(
                        (F.col("__v") - F.col("__mn"))
                        / F.when(
                            F.col("__mx") > F.col("__mn"),
                            F.col("__mx") - F.col("__mn"),
                        )
                        * F.lit(float(n_bins))
                    ),
                    F.lit(0),
                ),
                F.lit(n_bins - 1),
            ),
            F.lit(0),
        )
        .cast("int")
        .alias("bin"),
    )


def value_histogram(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_bins: int = 20,
    range_dim: DataFrame | None = None,
) -> DataFrame:
    """Per-key equi-WIDTH histogram of a numeric column — the shape
    companion of :func:`value_psi`'s equi-MASS bins: PSI answers "did
    the distribution move", the histogram shows what it looks like
    (modes, gaps, outlier shelves). Output: dense (key, bin, n_values)
    for bin 0..n_bins-1, zero-filled.

    Engine-exact: see :func:`histogram_assign_bins`; counts are
    integers. One min/max aggregate (broadcast |keys|-row dim — or
    the PERSISTED ``range_dim`` from :func:`histogram_range`, which
    makes bins comparable across snapshots and is the only correct
    input for appends/streams), one map-side bin projection, one hash
    aggregate, and a dim-sized spine for the zero bins."""
    prepped = _psi_prep(df, key_col, value_col)
    rng = (
        range_dim
        if range_dim is not None
        else histogram_range(df, key_col, value_col)
    )
    binned = _bin_counts(
        histogram_assign_bins(prepped, rng, n_bins), "n_values"
    )
    spine = rng.select(
        "__k",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    return (
        spine.join(binned, ["__k", "bin"], "left")
        .select(
            F.col("__k").alias(key_col),
            "bin",
            F.coalesce("n_values", F.lit(0)).alias("n_values"),
        )
    )


def global_quantile_cuts(
    df: DataFrame,
    value_col: str,
    n_bins: int = 20,
    n_shards: int = 64,
) -> DataFrame:
    """EXACT global quantile boundaries of a numeric column with NO
    single-task global sort — the keyless companion of
    :func:`psi_cuts` and the scale path its docstring promises:
    ``repartitionByRange`` puts ordered, disjoint value ranges on
    ``n_shards`` tasks (equal keys land in one shard), each shard
    ranks locally, and the true global rank is local rank + the
    prefix-sum of earlier shards' counts — a driver prefix over
    ``n_shards`` integers (the token_budget_sample bounded-collect
    pattern; constant in table size). The value AT a global rank is
    well-defined under ties, so the cuts are engine-exact doubles
    with no arithmetic at all — pure selection.

    Output: (cut_idx 1..n_bins-1, cut_value) with
    cut rank = ceil(i*N/n_bins) (``rank.cut_rank``) — the same rank
    rule as psi_cuts.

    Cost: one range shuffle + one same-size pid-clustered window
    shuffle + a |shards|-row aggregate; compare a naive
    ``row_number() OVER (ORDER BY v)``, which is a single-task sort
    of the whole table."""
    prepped = df.select(F.col(value_col).cast("double").alias("__v"))
    prepped = prepped.filter(rankable(prepped, "__v"))
    # range_sharded derives __shard from boundary LITERALS frozen in
    # the plan, so both consumptions of the sharded frame (size
    # aggregate + rank window) agree deterministically — retry-safe,
    # no pinning materialization (VERDICT r5 #2 replaced the old
    # eager localCheckpoint, which truncated lineage).
    sharded, off, total = range_sharded(prepped, ["__v"], n_shards)
    w = Window.partitionBy("__shard").orderBy(F.col("__v").asc())
    # cut rank -> cut index as a plan-literal CASE; the highest i wins
    # a rank that several cuts share, and ranks at no cut map to 0
    cut_ranks = {cut_rank(total, i, n_bins): i for i in range(1, n_bins)}
    cut_idx = shard_case_sql(sorted(cut_ranks.items()), "__gr")
    return (
        sharded.select((F.row_number().over(w) + off).alias("__gr"), "__v")
        .select(
            F.expr(cut_idx).cast("int").alias("cut_idx"),
            F.col("__v").alias("cut_value"),
        )
        .filter(F.col("cut_idx") > 0)
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_shards: int = 64,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    monotone-association QA check (is quality score actually related
    to document length? does value drift with time?) that Pearson
    misreads under outliers and nonlinearity.

    Engine-exact core: ties get AVERAGE ranks, which are always whole
    or half numbers, so ranks are carried in HALF-UNITS (BIGINT
    ``2*avg_rank``) and the d² sum is exact integer arithmetic in
    DECIMAL(38,0) — raw BIGINT would wrap silently at n ≈ 2.4e6 rows
    (Σd² ~ 2n³/3 quarter-units for uncorrelated data); the decimal
    accumulator is exact to n ≈ 5e12 rows, the stated overflow bound.
    The only floats are ``sum_d2_quarter`` (the exact decimal cast to
    double — bit-identical across engines) and the final normalization
    ``rho = 1 - 6*Σd²/(n(n²-1))`` (one division, rounded to 9) —
    with the textbook caveat, stated here, that the closed form is
    exact only without ties and a documented approximation with them.
    Output: 1 row (n, sum_d2_quarter, rho).

    Scale shape (VERDICT r4 #2a, tightened round 6): a CHAINED
    two-pass sharded rank plan — each row carries (x, y) through the
    x-shard/rank pass and then the y-shard/rank pass (boundary-literal
    shards + per-shard rank/tie windows, the rank.py machinery), so
    the two rank frames never need re-pairing: no row-identity join,
    no synthetic id, no checkpoint in any path, deterministic lineage
    end to end. Cost: ONE bounded two-column boundary sketch + ONE
    bounded two-key shard-size aggregate (the four former per-column
    driver jobs, batched in optimization r11) and ONE lazy plan with
    exactly two exchanges (x-shards, y-shards) + one aggregate —
    every stage parallel over n_shards; partition-less
    ``Window.orderBy`` stays banned repo-wide
    (tests/test_plan_hygiene.py). Local wall at sf0.1 is a wash vs
    the old id-join form (interleaved one-JVM A/B: 4.7-5.4 s vs
    5.0-6.5 s under ambient load) — the win is structural: two fewer
    fact-scale exchanges and no unique-key precondition."""
    proj = [
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ]
    from pyspark import StorageLevel

    from hbase_gis_spark.operators.dedup import _spread

    # the 2-column projected frame feeds three consumptions (the
    # batched boundary sketch, the batched shard-size aggregate, the
    # chained rank plan); a lineage-KEPT persist computes it once and
    # stays recoverable — it is a narrow projection, never the fact
    # table. _spread (no-op at scale) keeps the cached partitions, and
    # every job over them, parallel when the input arrives as one row
    # group.
    base = _spread(
        df.select(*proj).filter(
            F.col("__x").isNotNull() & ~F.isnan("__x")
            & F.col("__y").isNotNull() & ~F.isnan("__y")
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # CHAINED two-pass rank plan (round 6): each row carries (x, y)
    # through BOTH shard/rank passes, so the rank frames never need
    # re-pairing — no row-identity join (formerly 2 extra exchanges),
    # no synthetic id, no checkpoint in ANY path. Both passes'
    # boundaries and offsets are computed against BASE (the y shard
    # sizes depend only on the y values, identical before and after
    # the x pass), so every driver action is a cheap cache/projection
    # read, never a window recompute.
    #
    # BATCHED planning edge (optimization r11, guide §1.2): one
    # two-column sketch pass + one two-key size aggregate replace the
    # former four eager driver jobs (x sketch, x sizes, y sketch, y
    # sizes). Boundaries, offsets and totals are identical (the multi
    # helpers compute each column independently; base is pre-filtered
    # for NaN/null in both columns, satisfying the batch contract).
    bmap = shard_boundaries_multi(base, ["__x", "__y"], n_shards)
    bx, by = bmap["__x"], bmap["__y"]
    sizes_x, sizes_y = shard_size_maps_multi(
        apply_range_shards(
            apply_range_shards(base, "__x", bx, "__sx"), "__y", by, "__sy"
        ),
        ["__sx", "__sy"],
    )
    ox, _ = shard_offset_col(sizes_x, "__x", len(bx), n_shards, "__sx")
    oy, _ = shard_offset_col(sizes_y, "__y", len(by), n_shards, "__sy")
    ranked_x = apply_range_shards(base, "__x", bx, "__sx").select(
        "__y", half_rank2("__x", "__sx", ox).alias("__rx2")
    )
    ranked = apply_range_shards(ranked_x, "__y", by, "__sy").select(
        "__rx2", half_rank2("__y", "__sy", oy).alias("__ry2")
    )
    # quarter-units of d² (both ranks doubled). Accumulate in
    # DECIMAL(38,0): ranks reach 2n, so uncorrelated data sums to
    # ~2n³/3 quarter-units — raw BIGINT wraps SILENTLY (non-ANSI) at
    # n ≈ 2.4e6 rows while DuckDB promotes to HUGEINT, a latent engine
    # divergence (VERDICT r6 #1). Cast BEFORE the multiply (the
    # important_parts/gini lesson: a wrapped int64 product can't be
    # laundered by a later cast). DECIMAL(38,0) holds the sum to
    # n ≈ 5e12 input rows, stated bound.
    d2q = F.sum(
        (F.col("__rx2") - F.col("__ry2")).cast("decimal(38,0)")
        * (F.col("__rx2") - F.col("__ry2"))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n"),
        d2q.alias("__d2q"),
    ).select(
        "n",
        # exact integer → double is correctly rounded in both engines
        # (bit-exact below 2^53 quarter-units, i.e. n ≲ 2.4e5;
        # identically rounded above) — a BIGINT output column would
        # just re-introduce the wrap at the output edge
        F.col("__d2q").cast("double").alias("sum_d2_quarter"),
        F.round(
            F.lit(1.0)
            - (F.lit(6.0) * F.col("__d2q").cast("double") / F.lit(4.0))
            / (
                F.col("n").cast("double")
                * (
                    F.col("n").cast("double") * F.col("n").cast("double")
                    - F.lit(1.0)
                )
            ),
            9,
        ).alias("rho"),
    )


def chi_square_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-square independence audit of two categorical columns (is
    language independent of source? label of tenant?) — per-cell
    observed vs expected contributions so the report shows WHICH cell
    drives the association, not just one statistic.

    Per cell: contrib = (o*T - r*c)² / (r*c*T) — algebraically
    (o-e)²/e with e = r*c/T, arranged so the DIFFERENCE o*T - r*c is
    an exact BIGINT (engine-identical; bound: T below ~3e9 rows keeps
    o*T inside int64 — beyond that, pre-aggregate the input) and the
    square/divisions run in double with a pinned operation order
    (rounded to 9; the headline χ² is the consumer's
    ``sum(contrib)``).

    Scale shape: ONE (a, b) hash aggregate over the table (map-side
    combined), a dense |a|×|b| grid from the product of two tiny
    category dims (zero cells must exist or the statistic
    under-counts), then margins via windows over the cell table —
    everything after the first aggregate is dim-sized."""
    base = df.select(
        F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    observed = base.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).alias("observed")
    )
    # DENSE cell grid: a zero cell still contributes (0-e)²/e — without
    # it the statistic under-counts exactly where dependence is
    # strongest (the perfect-dependence χ² = n identity fails)
    cells = (
        base.select("__a")
        .distinct()
        .crossJoin(base.select("__b").distinct())
        .join(observed, ["__a", "__b"], "left")
        .select(
            "__a",
            "__b",
            F.coalesce("observed", F.lit(0)).alias("observed"),
        )
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wt = Window.partitionBy()
    return (
        cells.withColumn("__r", F.sum("observed").over(wa))
        .withColumn("__c", F.sum("observed").over(wb))
        .withColumn("__t", F.sum("observed").over(wt))
        .withColumn(
            "__d",
            F.col("observed") * F.col("__t") - F.col("__r") * F.col("__c"),
        )
        .select(
            F.col("__a").alias(a_col),
            F.col("__b").alias(b_col),
            "observed",
            F.round(
                F.col("__r").cast("double")
                * F.col("__c").cast("double")
                / F.col("__t").cast("double"),
                9,
            ).alias("expected"),
            F.round(
                F.col("__d").cast("double")
                * F.col("__d").cast("double")
                / (
                    F.col("__r").cast("double")
                    * F.col("__c").cast("double")
                    * F.col("__t").cast("double")
                ),
                9,
            ).alias("contrib"),
        )
    )


def welch_t_test(
    df: DataFrame,
    group_col: str,
    value_milli_col,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t-test between two cohorts — the
    experiment-analysis primitive behind every A/B readout, and the
    drift family's "did the MEAN move" complement to value_psi's
    "did the DISTRIBUTION move". Input values must already be integer
    milli-units (the caller rounds per row — never sum raw doubles
    across rows). Output one row: (n_a, n_b, mean_a_micro,
    mean_b_micro = floor integer means carrying THREE EXTRA
    fractional digits relative to the input unit (the sum is
    multiplied by 1000 before the integer division, so milli-unit
    inputs yield micro-unit means), t = Welch statistic,
    dof = Welch-Satterthwaite degrees of freedom, both rounded to 9).

    Engine-exactness: ONE conditional-aggregation pass accumulates
    both cohorts' exact moments — counts BIGINT, sums and sums of
    squares DECIMAL(38,0) (Spark) / HUGEINT (DuckDB int128), exact
    far past 100 TB row counts (squares of 1e9-milli values sum to
    ~1e33 at 1e15 rows) — then t and dof are computed ONCE from the
    identical integers with the identical double expression tree and
    rounded, the autocorr_lag moments discipline.

    Scale shape: one map-side-combined aggregate over the filtered
    scan, a 1-row output — no join, no shuffle beyond the final
    1-row combine."""
    v = (
        F.col(value_milli_col)
        if isinstance(value_milli_col, str)
        else value_milli_col
    )
    xa = F.when(F.col(group_col) == group_a, v).cast("decimal(20,0)")
    xb = F.when(F.col(group_col) == group_b, v).cast("decimal(20,0)")
    m = df.filter(F.col(group_col).isin(group_a, group_b)).agg(
        F.count(xa).alias("n_a"),
        F.count(xb).alias("n_b"),
        F.sum(xa).alias("__sa"),
        F.sum(xb).alias("__sb"),
        F.sum(xa * xa).alias("__saa"),
        F.sum(xb * xb).alias("__sbb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    saa, sbb = F.col("__saa").cast("double"), F.col("__sbb").cast("double")
    va = (saa - sa * sa / na) / (na - F.lit(1.0))
    vb = (sbb - sb * sb / nb) / (nb - F.lit(1.0))
    sea, seb = va / na, vb / nb
    se2 = sea + seb
    t = (sa / na - sb / nb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    return m.select(
        "n_a",
        "n_b",
        # TRUNCATING means, identical in both engines for ALL signs:
        # measured this round, DuckDB's // truncates toward zero
        # exactly like Spark's div ((-7)//3 == -2 in DuckDB 1.x), so a
        # negative cohort mean stays engine-exact with the bare
        # operators (round-7 div sweep; Python's // FLOORS — never
        # reimplement these quotients with it)
        F.expr("CAST(__sa * 1000 AS DECIMAL(38,0)) div n_a")
        .cast("bigint")
        .alias("mean_a_micro"),
        F.expr("CAST(__sb * 1000 AS DECIMAL(38,0)) div n_b")
        .cast("bigint")
        .alias("mean_b_micro"),
        F.round(t, 9).alias("t"),
        F.round(dof, 9).alias("dof"),
    )


def cuped_adjusted_ab(
    units: DataFrame,
    arm_col: str,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    WSDM 2013 — the public "Controlled experiments Using Pre-Experiment
    Data" formulation): adjust each unit's experiment-period metric Y
    by its pre-period covariate X, ``Y' = Y − θ·(X − μ_X)`` with
    ``θ = cov(X,Y)/var(X)`` POOLED across arms (pooling keeps θ
    assignment-independent, so the adjustment is unbiased under
    randomization), then report per-arm means and variances of both
    the raw and the adjusted metric — the standard lever for shipping
    experiments faster when the metric is sticky per unit.

    Engine-exactness (the welch_t_test discipline): one hash
    aggregate collects per-arm EXACT moments — n BIGINT; ΣY, ΣX, ΣY²,
    ΣX², ΣXY DECIMAL(38,0) (HUGEINT oracle-side) — pooled moments are
    the 2-row sums of those, and every reported statistic is ONE
    double expression over the identical integers with the identical
    operand order in both engines, rounded to 9. Nothing float is
    ever summed across rows, so partition order cannot move a bit.
    θ is NULL when pooled var(X) is zero (a constant covariate has
    nothing to explain — the nullif convention), in which case the
    adjusted columns equal the raw ones by convention (θ treated
    as 0). Units with NULL Y or X are dropped (incomplete
    observations, the rolling_corr contract). Variances are
    population (÷n) — the descriptive readout; plug the adjusted
    moments into welch_t_test's formula for inference.

    INPUT CONTRACT (ADVICE r9 #3): ``y_col``/``x_col`` must be
    INTEGER-VALUED (counts, cents, micros — the welch_t_test *_cents
    discipline; exactness comes from summing integers). A float or
    double metric column raises ``TypeError`` up front — the
    DECIMAL(38,0) cast would silently ROUND each value to a whole
    unit, quantizing the metric with no warning. Quantize explicitly
    first (``F.round(col*100).cast("long")`` for cents) so the unit
    choice is the caller's, visible in their code.

    Output: one row per arm — (arm, n_units, theta_r9, mean_y_r9,
    mean_cuped_r9, var_y_r9, var_cuped_r9, var_ratio_r9) where
    var_ratio_r9 = var_cuped/var_y (< 1 is the win CUPED exists for).

    Scale shape: ONE map-side-combined aggregate over the unit frame
    → |arms| rows; the pooled 1-row re-aggregate and its broadcast
    back onto the arm rows never touch fact scale."""
    dtypes = dict(units.dtypes)
    for c in (y_col, x_col):
        if dtypes.get(c) in ("float", "double"):
            raise TypeError(
                f"cuped_adjusted_ab: {c!r} is {dtypes[c]}; the exact-"
                "moment path sums DECIMAL(38,0) integers, and casting "
                "a floating metric would silently round each value to "
                "a whole unit. Quantize explicitly first (e.g. "
                'F.round(col("' + c + '")*100).cast("long") for cents) '
                "so the unit is the caller's visible choice."
            )
    base = units.select(
        F.col(arm_col).alias("__arm"),
        F.col(y_col).cast("decimal(38,0)").alias("__y"),
        F.col(x_col).cast("decimal(38,0)").alias("__x"),
    ).filter(F.col("__y").isNotNull() & F.col("__x").isNotNull())
    per_arm = base.groupBy("__arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("__y").alias("__sy"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    pooled = per_arm.agg(
        F.sum("n_units").cast("double").alias("__pn"),
        F.sum("__sx").cast("double").alias("__px"),
        F.sum("__sy").cast("double").alias("__py"),
        F.sum("__sxx").cast("double").alias("__pxx"),
        F.sum("__sxy").cast("double").alias("__pxy"),
    )
    j = per_arm.crossJoin(F.broadcast(pooled))
    pn, px, py = F.col("__pn"), F.col("__px"), F.col("__py")
    pxx, pxy = F.col("__pxx"), F.col("__pxy")
    theta = (pn * pxy - px * py) / F.nullif(
        pn * pxx - px * px, F.lit(0.0)
    )
    th = F.coalesce(theta, F.lit(0.0))
    mu = px / pn
    nd = F.col("n_units").cast("double")
    syd, sxd = F.col("__sy").cast("double"), F.col("__sx").cast("double")
    syyd = F.col("__syy").cast("double")
    sxxd = F.col("__sxx").cast("double")
    sxyd = F.col("__sxy").cast("double")
    mean_y = syd / nd
    mean_c = (syd - th * (sxd - nd * mu)) / nd
    var_y = syyd / nd - (syd / nd) * (syd / nd)
    ey2c = (
        syyd
        - F.lit(2.0) * th * (sxyd - mu * syd)
        + th * th * (sxxd - F.lit(2.0) * mu * sxd + nd * mu * mu)
    ) / nd
    var_c = ey2c - mean_c * mean_c
    return j.select(
        F.col("__arm").alias(arm_col),
        "n_units",
        F.round(theta, 9).alias("theta_r9"),
        F.round(mean_y, 9).alias("mean_y_r9"),
        F.round(mean_c, 9).alias("mean_cuped_r9"),
        F.round(var_y, 9).alias("var_y_r9"),
        F.round(var_c, 9).alias("var_cuped_r9"),
        F.round(var_c / F.nullif(var_y, F.lit(0.0)), 9).alias(
            "var_ratio_r9"
        ),
    )


def moments_report(
    df: DataFrame,
    value_cents_col,
    scale_div: int = 1,
) -> DataFrame:
    """Distribution-shape report from exact raw moments: count, floor
    integer mean, and variance / skewness / excess kurtosis — the
    "did the SHAPE move" drift screen complementing welch_t_test's
    mean comparison and value_psi's binned view. Input must be
    integer cents (caller rounds per row).

    Engine-exactness: ONE aggregate accumulates the four raw power
    sums as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact
    integers — then every statistic is computed once from the
    identical integers with the identical double expression tree
    (central moments via the raw-moment expansion) and rounded to 9.

    Overflow bound: |x|^4 summed must stay under ~1e38 — with cents
    <= 5e7 that is ~1.6e7 rows; ``scale_div`` divides the input
    (integer floor) to trade resolution for headroom at larger
    scales, the autocorr_lag knob.

    Scale shape: one map-side-combined aggregate, 1-row output."""
    c = (
        F.col(value_cents_col)
        if isinstance(value_cents_col, str)
        else value_cents_col
    )
    xd = (
        (c.cast("bigint") / F.lit(int(scale_div)))
        .cast("bigint")
        .cast("decimal(9,0)")
    )
    m = df.agg(
        F.count(xd).alias("n"),
        F.sum(xd).alias("__s1"),
        F.sum(xd * xd).alias("__s2"),
        F.sum(xd * xd * xd).alias("__s3"),
        F.sum(xd * xd * xd * xd).alias("__s4"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    mean = s1 / nd
    m2 = s2 / nd - mean * mean
    m3 = s3 / nd - 3.0 * mean * (s2 / nd) + 2.0 * mean * mean * mean
    m4 = (
        s4 / nd
        - 4.0 * mean * (s3 / nd)
        + 6.0 * mean * mean * (s2 / nd)
        - 3.0 * mean * mean * mean * mean
    )
    return m.select(
        "n",
        # TRUNCATING quotient, engine-identical for all signs (DuckDB
        # // truncates like Spark div — measured round 7); "floor"
        # in the name is exact for the non-negative cents this takes,
        # and for negative means both engines report the SAME
        # truncated value (stated)
        F.expr("CAST(__s1 AS DECIMAL(38,0)) div n")
        .cast("bigint")
        .alias("mean_floor"),
        F.round(m2, 9).alias("variance"),
        F.round(m3 / (F.sqrt(m2) * m2), 9).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 9).alias("excess_kurtosis"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col,
    id_col: str,
    n_shards: int = 64,
) -> DataFrame:
    """Exact GINI COEFFICIENT of a non-negative integer metric — the
    standard inequality index (0 = perfectly even, ->1 = one row holds
    everything); the concentration complement of skew_report (is
    revenue/domain mass/token count concentrated in few keys?).

    Formula with tie-averaged ranks: ``G = (2*SUM(r_i*x_i)) /
    (n*SUM(x)) - (n+1)/n``. Ranks come from the boundary-literal
    sharded machinery (rank.global_half_ranks — never a single-task
    global sort); ``__hr2 = 2*avg_rank`` is an exact BIGINT, so
    ``SUM(hr2*x)`` IS the numerator, accumulated in DECIMAL(38,0)
    (hr2*x reaches ~2n*value — int64 wraps at table scale). One float
    expression rounded to 9, identical operand order in the oracle.

    Output: 1 row (n, total_value, gini).

    Preconditions (ADVICE r6 #5): values non-negative AND ``id_col``
    UNIQUE — the rank frame joins back on the id, so a duplicated id
    fans the join out and silently skews n, total_value, and the
    rank-weighted sum (the same unique-key contract spearman's old
    id-join form carried). Pass the table's natural primary key.

    Scale shape: one boundary sketch + one shard-size aggregate + one
    shard rank window, an id-keyed join back for the values, one
    1-row aggregate."""
    from pyspark import StorageLevel

    v = F.col(value_col) if isinstance(value_col, str) else value_col
    # consumed by global_half_ranks' planning jobs, its lazy rank
    # window, and the id-keyed value join — persist so the caller's
    # per-entity aggregate runs once (optimization r11)
    base = df.select(
        F.col(id_col).alias("__id"), v.cast("bigint").alias("__x")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hr = global_half_ranks(base, "__x", "__id", n_shards)
    joined = base.join(hr, "__id")
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        # cast BEFORE multiplying: an int64 hr2*x product wraps first
        # and the decimal cast would only launder the wrong value
        # (the important_parts overflow lesson)
        F.sum(
            F.col("__hr2").cast("decimal(38,0)") * F.col("__x")
        ).alias("__srx"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("__sx").cast("bigint").alias("total_value"),
        F.round(
            F.col("__srx").cast("double")
            / (nd * F.col("__sx").cast("double"))
            - (nd + F.lit(1.0)) / nd,
            9,
        ).alias("gini"),
    )


def lorenz_curve(
    df: DataFrame,
    value_col,
    id_col: str,
    buckets: int = 10,
    n_shards: int = 64,
) -> DataFrame:
    """LORENZ CURVE of a non-negative integer metric in ``buckets``
    equal-population slices: bucket b's row count, value mass, and the
    cumulative share of total value held by the poorest b buckets —
    the curve behind :func:`gini_coefficient`'s single number (the
    report a "top decile holds 61% of revenue" sentence reads from).

    Preconditions: values non-negative, ``id_col`` unique (the gini
    contract — documented there).

    Engine-exact: bucket assignment is ANSI NTILE over the total order
    (value, id) via the boundary-literal sharded machinery (never a
    single-task sort); per-bucket sums are BIGINTs; the cumulative
    share is ``(1000·cum) div total`` with the product in
    DECIMAL(38,0) — DuckDB's HUGEINT sum never wraps, so a bare int64
    ``1000·cum`` past ~9.2e15 total value was a silent Spark-side
    engine divergence (ADVICE r7 #2; the pareto_threshold guard,
    now mirrored here). Non-negative, so truncate == floor in both
    engines (stated). Output bound: value totals must stay under
    int64 (~9e18 — the cents-conversion bound).

    Output: ``buckets`` rows ascending — (bucket, n_rows,
    bucket_value, cum_value, cum_share_milli).

    Scale shape: one sharded-ntile pass over the (value, id)
    projection, one bucket-keyed aggregate (``buckets`` rows), then
    the cumulative sum as a triangle self-join over the bucket DIM
    (buckets² pairs — 100 for deciles; no window, no global sort)."""
    from pyspark import StorageLevel

    v = F.col(value_col) if isinstance(value_col, str) else value_col
    # callers pass an aggregated per-entity frame; the ntile planning
    # edge (sketch + sizes) and the lazy rank window each consume it —
    # persist so the producing aggregate runs once (optimization r11)
    base = df.select(
        F.col(id_col).alias("__id"), v.cast("bigint").alias("__x")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tiled = sharded_ntile(
        base, buckets, ["__x", "__id"], "__b", n_shards
    )
    per = tiled.groupBy("__b").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("__x").alias("bucket_value"),
    )
    other = per.select(
        F.col("__b").alias("__b2"), F.col("bucket_value").alias("__v2")
    )
    cum = (
        per.join(F.broadcast(other), F.col("__b2") <= F.col("__b"))
        .groupBy("__b", "n_rows", "bucket_value")
        .agg(F.sum("__v2").alias("cum_value"))
    )
    total = per.agg(F.sum("bucket_value").alias("__t"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            F.col("__b").cast("bigint").alias("bucket"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("bucket_value").cast("bigint").alias("bucket_value"),
            F.col("cum_value").cast("bigint").alias("cum_value"),
            F.expr(
                "CAST((1000 * CAST(cum_value AS DECIMAL(38,0))) div __t"
                " AS BIGINT)"
            ).alias("cum_share_milli"),
        )
        .orderBy(F.col("bucket").asc())
    )


def pareto_threshold(
    df: DataFrame,
    value_col,
    id_col: str,
    share_milli: int = 800,
    n_shards: int = 64,
) -> DataFrame:
    """PARETO concentration answer: the MINIMAL number of top rows
    (customers, domains, keys) whose cumulative value reaches
    ``share_milli``/1000 of the total — "how many customers make 80%
    of revenue", the operational headline behind
    :func:`lorenz_curve`'s full shape.

    Preconditions: values non-negative, ``id_col`` unique (the gini
    contract).

    Engine-exact: rows are walked in the TOTAL ORDER (value desc, id
    asc); each row's EXCLUSIVE cumulative prefix is an exact BIGINT
    from the sharded-cumsum machinery (per-shard window + offsets of
    the higher shards' value sums — never a global sort), and the row
    counts toward k iff ``prefix·1000 < share_milli·total`` with both
    products in DECIMAL(38,0) (total·1000 wraps int64 past ~9e15
    total — the cents bound; the round-7 overflow discipline).

    Output: 1 row (n_rows, total_value, k_rows, k_frac_milli =
    (1000·k) div n — non-negative, truncate == floor).

    Scale shape: one boundary sketch on the value, one shard-sum
    bounded collect, per-shard DESC cumsum windows + the higher
    shards' sums as a plan-literal offset (``rank.shard_case_sql``),
    one 1-row aggregate. The token_budget_sample shape pointed at a
    value order instead of a hash order."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(id_col).alias("__id"), v.cast("bigint").alias("__x")
    )
    bounds = shard_boundaries(base, "__x", n_shards)
    sharded = apply_range_shards(base, "__x", bounds, "__s")
    shard_sums = sharded.groupBy("__s").agg(F.sum("__x").alias("__t"))
    rows = shard_sums.collect()  # bounded: one integer per shard
    by_sid = {int(r["__s"]): int(r["__t"]) for r in rows}
    # DESC value order = shards from HIGH id to LOW: a shard's offset
    # is the total value of all HIGHER shards, i.e. the total minus
    # its ascending prefix and its own sum
    asc, total = prefix_offsets(by_sid)
    off = shard_case_sql(
        [(sid, total - lower - by_sid[sid]) for sid, lower in asc], "__s"
    )
    w = (
        Window.partitionBy("__s")
        .orderBy(F.col("__x").desc(), F.col("__id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sharded.withColumn(
        "__cum", F.sum("__x").over(w) + F.expr(off)
    ).withColumn("__prefix", F.col("__cum") - F.col("__x"))
    return cum.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(total).cast("bigint").alias("total_value"),
        F.sum(
            F.when(
                F.col("__prefix").cast("decimal(38,0)") * 1000
                < F.lit(share_milli).cast("decimal(38,0)") * F.lit(total),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("k_rows"),
    ).select(
        "n_rows",
        "total_value",
        "k_rows",
        F.expr(
            "CASE WHEN n_rows > 0 THEN"
            " CAST((1000 * k_rows) div n_rows AS BIGINT) END"
        ).alias("k_frac_milli"),
    )


def bloom_filter_audit(
    df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    n_probes: int = 500,
    salt: str = "bloom",
) -> DataFrame:
    """Bloom-filter SIZING audit (Bloom 1970): build the deterministic
    bit set a ``m_bits``/``k_hashes`` filter would hold over the
    distinct keys of ``key_col``, then fire ``n_probes`` synthetic
    NON-member probes through it and report the measured
    false-positive rate next to the fill factor — the numbers that
    size the membership filter guarding a 100 TB anti-join (ship the
    m-bit filter to every scan task instead of shuffling the fact
    table against the key set).

    Deterministic and engine-exact: bit positions are the md5 ticket
    discipline (``md5('{salt}:i:' || key)`` → first 15 hex digits →
    mod ``m_bits``), probe keys are the synthetic family
    ``'__probe__' || n`` (disjoint from any real key column by
    convention — a member key equal to a probe key would count its
    TRUE positive as false), and every reported number is an exact
    integer count or a ``div``-truncated milli ratio.

    Output: ONE row — (m_bits, k_hashes, n_keys, n_bits_set,
    fill_milli, n_probes, n_false_pos, fpr_milli).

    Scale shape: the only fact-scale work is a distinct-key aggregate
    (map-side partial) fanned out ×k_hashes into a distinct-bit
    aggregate bounded by m_bits; the probe side is a bounded
    ``n_probes × k_hashes`` literal dim joined against the ≤ m_bits
    bit table (broadcast). Nothing after the first aggregate touches
    fact scale."""
    if m_bits < 1 or k_hashes < 1 or n_probes < 1:
        raise ValueError("m_bits, k_hashes, n_probes must be >= 1")
    spark = df.sparkSession

    def bit_of(col, i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", F.lit(salt), F.lit(str(i)), col)
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % m_bits
        )

    keys = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).cast("string").alias("__k"))
        .distinct()
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    bits = (
        keys.select(
            F.explode(
                F.array(*[bit_of(F.col("__k"), i) for i in range(k_hashes)])
            ).alias("bit")
        )
        .distinct()
    )
    n_bits = bits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bits_set")
    )
    probes = spark.range(n_probes).select(
        F.col("id").alias("probe"),
        F.explode(
            F.array(
                *[
                    bit_of(F.concat(F.lit("__probe__"), F.col("id")), i)
                    for i in range(k_hashes)
                ]
            )
        ).alias("bit"),
    )
    fp = (
        probes.join(F.broadcast(bits.withColumn("__hit", F.lit(1))), "bit", "left")
        .groupBy("probe")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__nhit"))
        .agg(
            F.sum(
                F.when(F.col("__nhit") >= k_hashes, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pos")
        )
    )
    return (
        n_keys.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(fp))
        .select(
            F.lit(m_bits).cast("bigint").alias("m_bits"),
            F.lit(k_hashes).cast("bigint").alias("k_hashes"),
            "n_keys",
            "n_bits_set",
            F.expr(f"(1000 * n_bits_set) div {int(m_bits)}")
            .cast("bigint")
            .alias("fill_milli"),
            F.lit(n_probes).cast("bigint").alias("n_probes"),
            "n_false_pos",
            F.expr(f"(1000 * n_false_pos) div {int(n_probes)}")
            .cast("bigint")
            .alias("fpr_milli"),
        )
    )


def conformal_coverage(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    alpha_milli: int = 100,
    salt: str = "conf",
) -> DataFrame:
    """Split-conformal coverage audit (Vovk et al.; Angelopoulos &
    Bates 2021 tutorial): hash-split the rows into a calibration and a
    test half, take the conformal threshold — the
    ``ceil((1 - alpha)(n_cal + 1))``-th smallest calibration
    nonconformity score — and report the coverage the threshold
    actually achieves on the held-out half. The finite-sample
    guarantee says test coverage ≥ 1 − alpha in expectation; this is
    the audit that checks it on real data before anyone ships the
    prediction sets.

    Engine-exact: the split is the md5 ticket discipline
    (``md5('{salt}:id') % 2``), scores are used as exact BIGINTs
    (quantize first if fractional), ``q_index`` is ``rank.cut_rank``
    of (1000 - alpha_milli)/1000 among n_cal + 1, and the
    threshold is the min score whose cumulative calibration count
    reaches q_index. NULL scores are dropped on both halves (stated
    convention).

    Output: ONE row — (n_cal, q_index, threshold, n_test, n_covered,
    coverage_milli).

    Scale shape: the fact table is touched by exactly two aggregates
    (per-score-VALUE calibration histogram; filtered test count). The
    order statistic runs on the score-value dim — bounded by the
    distinct-score cardinality, which for quantized scores is the
    quantization grid, not the row count — via a |V|²-bounded
    cumulative triangle join (the lorenz/churn suffix-sum shape), so
    no global sort anywhere."""
    if not 0 < alpha_milli < 1000:
        raise ValueError("alpha_milli must be in (0, 1000)")
    from hbase_gis_spark.operators.corpus import content_hash

    scored = df.filter(F.col(score_col).isNotNull()).select(
        F.col(score_col).cast("bigint").alias("__s"),
        (content_hash(salt, id_col, 2) == 0).alias("__is_cal"),
    )
    cal_hist = (
        scored.filter("__is_cal")
        .groupBy("__s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    )
    n_cal = cal_hist.agg(
        F.sum("__cnt").cast("bigint").alias("n_cal")
    ).select(
        "n_cal",
        cut_rank(F.col("n_cal") + 1, 1000 - int(alpha_milli), 1000)
        .cast("bigint")
        .alias("q_index"),
    )
    # cumulative count per distinct score via the value-dim triangle
    cum = (
        cal_hist.alias("a")
        .join(
            F.broadcast(cal_hist.alias("b")),
            F.col("b.__s") <= F.col("a.__s"),
        )
        .groupBy(F.col("a.__s").alias("__s"))
        .agg(F.sum("b.__cnt").alias("__cum"))
    )
    thr = (
        cum.crossJoin(F.broadcast(n_cal))
        .filter(F.col("__cum") >= F.col("q_index"))
        .agg(F.min("__s").cast("bigint").alias("threshold"))
    )
    test = scored.filter(~F.col("__is_cal")).crossJoin(F.broadcast(thr))
    cov = test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("__s") <= F.col("threshold"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
    )
    return (
        n_cal.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal",
            "q_index",
            "threshold",
            "n_test",
            "n_covered",
            F.expr(
                "CASE WHEN n_test > 0 THEN"
                " CAST((1000 * n_covered) div n_test AS BIGINT) END"
            ).alias("coverage_milli"),
        )
    )


def calibration_bins(
    df: DataFrame,
    pred_milli_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table (the binned view behind expected
    calibration error, Naeini et al. 2015): bucket integer milli
    predictions (0..1000) into ``n_bins`` equal-width bins and report
    per bin the count, the mean predicted probability, the empirical
    positive rate, and their absolute gap — all in exact milli
    integers. The fleet ECE is ``sum(n_docs * gap_milli) / (1000 *
    sum(n_docs))``, computable by the caller from exact integers.

    Contract: ``pred_milli_col`` holds integers in [0, 1000] (quantize
    upstream — the repo's milli discipline), ``label_col`` is 0/1, and
    ``n_bins`` must divide 1000 so bin edges are exact milli values.
    NULL predictions or labels are dropped (stated convention). The
    top edge folds into the last bin (pred 1000 → bin n_bins-1), so
    bins are [0,100), …, [900,1000].

    Output: one row per non-empty bin — (bin, bin_lo_milli,
    bin_hi_milli, n_docs, n_pos, mean_pred_milli, pos_rate_milli,
    gap_milli).

    Scale shape: one map-side-combined aggregate to ≤ n_bins rows;
    every division is a ``div`` on the bounded aggregate."""
    if n_bins < 1 or 1000 % n_bins != 0:
        raise ValueError("n_bins must be >= 1 and divide 1000")
    width = 1000 // n_bins
    p = F.col(pred_milli_col).cast("bigint")
    y = F.col(label_col).cast("bigint")
    binned = (
        df.filter(p.isNotNull() & y.isNotNull())
        .select(
            F.least(
                F.expr(f"CAST({pred_milli_col} AS BIGINT) div {width}"),
                F.lit(n_bins - 1),
            )
            .cast("bigint")
            .alias("bin"),
            p.alias("__p"),
            y.alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__y").cast("bigint").alias("n_pos"),
            F.sum("__p").cast("bigint").alias("__sp"),
        )
    )
    return binned.select(
        "bin",
        (F.col("bin") * width).cast("bigint").alias("bin_lo_milli"),
        ((F.col("bin") + 1) * width).cast("bigint").alias("bin_hi_milli"),
        "n_docs",
        "n_pos",
        F.expr("__sp div n_docs").cast("bigint").alias("mean_pred_milli"),
        F.expr("(1000 * n_pos) div n_docs")
        .cast("bigint")
        .alias("pos_rate_milli"),
        F.abs(
            F.expr("__sp div n_docs") - F.expr("(1000 * n_pos) div n_docs")
        )
        .cast("bigint")
        .alias("gap_milli"),
    )


def confusion_report(
    df: DataFrame,
    pred_col: str,
    truth_col: str,
) -> DataFrame:
    """Multi-class CONFUSION summary with per-class precision /
    recall / F1 — the first table anyone reads off a classifier. One
    row per class observed in either column, all metrics as exact
    div-truncated milli integers; F1 uses the integer identity
    ``f1 = 2·tp / (2·tp + fp + fn)`` so no float harmonic mean ever
    appears. Rows with a NULL prediction or truth are dropped
    (stated convention).

    Output: (label, n_true, n_pred, tp, fp, fn, precision_milli,
    recall_milli, f1_milli) — the milli columns NULL when their
    denominator is 0 (class never predicted / never true).

    Scale shape: ONE map-side-combined cell aggregate to
    |classes_pred × classes_true| rows; marginals and the per-class
    join run on that bounded cell dim. Nothing after the first
    aggregate touches fact scale."""
    cells = (
        df.filter(
            F.col(pred_col).isNotNull() & F.col(truth_col).isNotNull()
        )
        .groupBy(
            F.col(truth_col).alias("__t"), F.col(pred_col).alias("__p")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    by_true = cells.groupBy(F.col("__t").alias("label")).agg(
        F.sum("__n").cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("__p") == F.col("__t"), F.col("__n")))
        .cast("bigint")
        .alias("__tp_t"),
    )
    by_pred = cells.groupBy(F.col("__p").alias("label")).agg(
        F.sum("__n").cast("bigint").alias("n_pred")
    )
    per = (
        by_true.join(by_pred, "label", "full")
        .select(
            "label",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("__tp_t", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    return per.select(
        "label",
        "n_true",
        "n_pred",
        "tp",
        (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("n_true") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr("CAST((1000 * tp) div nullif(n_pred, 0) AS BIGINT)")
        .alias("precision_milli"),
        F.expr("CAST((1000 * tp) div nullif(n_true, 0) AS BIGINT)")
        .alias("recall_milli"),
        F.expr(
            "CAST((2000 * tp) div nullif(n_pred + n_true, 0) AS BIGINT)"
        ).alias("f1_milli"),
    )


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two categorical labelings —
    chance-corrected agreement, the inter-annotator (or
    model-vs-truth) scalar reported next to the confusion table.

    Exact-rational form: with n items, ``agree`` exact matches, and
    S = Σ_k n_a(k)·n_b(k) the chance-agreement mass,

        kappa = (n·agree − S) / (n² − S)

    reported as ``kappa_micro = 1000000 · num div den`` (div
    truncates toward zero in both engines, negatives included — kappa
    < 0 means worse-than-chance). Overflow bound: n·agree, S, and n²
    pass int64 near n ≈ 3·10⁹ rows, so every product and sum runs in
    decimal(38,0) (exact to 10^38) and only the final micro ratio
    casts back to BIGINT. ``den = 0`` (a single identical category on
    both sides — pe = 1, kappa undefined) reports NULL. NULL labels
    on either side drop the row (stated convention).

    Output: ONE row — (n_items, n_agree, agree_milli, kappa_micro).

    Scale shape: ONE cell aggregate to |A×B| rows; marginals and the
    kappa arithmetic run on that bounded dim and two 1-row frames."""
    cells = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    marg = (
        cells.groupBy("__a")
        .agg(F.sum("__n").alias("__na"))
        .join(
            F.broadcast(
                cells.groupBy("__b").agg(F.sum("__n").alias("__nb"))
            ),
            F.col("__a") == F.col("__b"),
        )
        .agg(
            F.sum(
                F.col("__na").cast("decimal(19,0)")
                * F.col("__nb").cast("decimal(19,0)")
            ).alias("__s")
        )
        .select(F.coalesce(F.col("__s"), F.lit(0)).alias("__s"))
    )
    totals = cells.agg(
        F.sum("__n").cast("bigint").alias("n_items"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n")))
        .alias("__agree"),
    ).select(
        "n_items",
        F.coalesce(F.col("__agree"), F.lit(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    return (
        totals.crossJoin(F.broadcast(marg))
        .select(
            "n_items",
            "n_agree",
            F.expr(
                "CAST((1000 * n_agree) div nullif(n_items, 0) AS BIGINT)"
            ).alias("agree_milli"),
            F.expr(
                "CAST((1000000 * (CAST(n_items AS DECIMAL(19,0))"
                " * n_agree - __s)) div nullif("
                "CAST(n_items AS DECIMAL(19,0))"
                " * CAST(n_items AS DECIMAL(19,0)) - __s, 0)"
                " AS BIGINT)"
            ).alias("kappa_micro"),
        )
    )
