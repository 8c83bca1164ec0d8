"""Round-5 operator unit tests: known-answer checks on constructed
inputs that the sf0.01 oracle parity can't pin (numpy cross-checks,
degenerate inputs, rank machinery edge cases)."""

import math

import pytest
from pyspark.sql import functions as F


# --- sharded rank machinery (operators/rank.py) ------------------------------


def test_sharded_ntile_matches_spark_ntile_semantics(spark):
    """sharded_ntile reproduces ANSI NTILE bucket sizes exactly for
    totals that do and do not divide evenly, including total < n."""
    from hbase_gis_spark.operators.rank import sharded_ntile

    for total, n in [(10, 4), (12, 4), (3, 10), (7, 7), (100, 10)]:
        df = spark.createDataFrame([(i,) for i in range(total)], "v bigint")
        got = {
            r.v: r.b
            for r in sharded_ntile(df, n, ["v"], "b", n_shards=4).collect()
        }
        q, rem = divmod(total, n)
        want = {}
        r = 1
        for b in range(1, n + 1):
            size = q + 1 if b <= rem else q
            for _ in range(size):
                if r <= total:
                    want[r - 1] = b if q > 0 else r
                    r += 1
        if q == 0:
            want = {i: i + 1 for i in range(total)}
        assert got == want, (total, n, got)


def test_range_sharded_tie_skew_warns(spark):
    """A near-constant order column funnels its tie mass into one
    shard (equal keys cannot split — the tie-count identity needs
    them together); the bounded shard-size collect must surface that
    degeneracy as a RuntimeWarning instead of silently recreating a
    single-task sort (VERDICT r5 next-round #3)."""
    from hbase_gis_spark.operators.rank import range_sharded

    df = spark.range(400).select(F.lit(7).alias("v"), "id")
    with pytest.warns(RuntimeWarning, match="tie-mass skew"):
        _, _, total = range_sharded(df, ["v"], n_shards=8)
    assert total == 400


def test_range_sharded_balanced_no_warn(spark):
    """Distinct keys spread across shards: ranks are exact, offsets
    reconstruct the global order, and no skew warning fires."""
    import warnings

    from pyspark.sql import Window

    from hbase_gis_spark.operators.rank import range_sharded

    df = spark.range(400).select((F.col("id") * 7 % 401).alias("v"))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        sharded, off, total = range_sharded(df, ["v"], n_shards=8)
    assert total == 400
    w = Window.partitionBy("__shard").orderBy("v")
    ranks = sorted(
        r.gr
        for r in sharded.select(
            (F.row_number().over(w) + off).alias("gr")
        ).collect()
    )
    assert ranks == list(range(1, 401))


def test_range_sharded_deterministic_and_lineage_safe(spark):
    """Shard ids come from boundary LITERALS frozen in the plan: two
    independent consumptions of the same sharded frame agree row for
    row (the property the old localCheckpoint existed to force), and
    the physical plan contains no checkpoint scan — lineage survives,
    a lost executor recomputes instead of failing (VERDICT r5 #2)."""
    from hbase_gis_spark.operators.rank import range_sharded

    df = spark.range(1000).select((F.col("id") * 131 % 997).alias("v"), "id")
    sharded, off, _ = range_sharded(df, ["v"], n_shards=8)
    a = {r.id: r["__shard"] for r in sharded.collect()}
    b = {r.id: r["__shard"] for r in sharded.collect()}
    assert a == b
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "Checkpoint" not in plan and "LogicalRDD" not in plan
    # the offsets are plan literals too: the ranked frame scans no
    # local RDD of offsets rows
    ranked = sharded.withColumn("__off", off)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan and "LogicalRDD" not in plan


def test_apply_range_shards_rejects_non_numeric_bounds(spark):
    """Shard ids are one SQL expression over int/float boundary
    literals; a boundary with no SQL literal raises instead of
    falling back to a Column-API shard id."""
    from hbase_gis_spark.operators.rank import apply_range_shards

    df = spark.createDataFrame([("a",), ("m",)], "v string")
    with pytest.raises(TypeError, match="boundaries"):
        apply_range_shards(df, "v", ["k"])
    assert apply_range_shards(df, "v", []).select("__shard").collect() == [
        (0,),
        (0,),
    ]


def test_global_percentiles_rank_selection(spark):
    """Exact value at ceil(p*N): cross-checked against the sorted
    list, with ties and with NaN/NULL rows dropped."""
    from hbase_gis_spark.operators.rank import global_percentiles

    vals = [5.0, 1.0, 3.0, 3.0, 2.0, None, float("nan"), 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    row = global_percentiles(
        df, "v", {"p50": (1, 2), "p100": (1, 1)}, n_shards=3
    ).head()
    clean = sorted(v for v in vals if v is not None and v == v)
    n = len(clean)
    assert row.p50 == clean[(n + 1) // 2 - 1]
    assert row.p100 == clean[-1]


def test_global_half_ranks_average_ties(spark):
    """2*average-rank with ties: [10, 20, 20, 30] -> avg ranks
    1, 2.5, 2.5, 4 -> doubled 2, 5, 5, 8."""
    from hbase_gis_spark.operators.rank import global_half_ranks

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0)], "id bigint, v double"
    )
    got = {
        r.id: r.hr
        for r in global_half_ranks(df, "v", "id", n_shards=2)
        .withColumnRenamed("__hr2", "hr")
        .collect()
    }
    assert got == {1: 2, 2: 5, 3: 5, 4: 8}


# --- time series -------------------------------------------------------------


def test_autocorr_matches_numpy_pearson(spark):
    import numpy as np

    from hbase_gis_spark.operators.timeseries import autocorr_lag

    series = [10, 12, 9, 14, 11, 13, 8, 15, 10, 12, 9, 16]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(series)], "day bigint, cents bigint"
    )
    lag = 3
    row = autocorr_lag(df, lag=lag).head()
    x = np.array(series[lag:], dtype=float)  # day d pairs with d - lag
    y = np.array(series[:-lag], dtype=float)
    want = np.corrcoef(x, y)[0, 1]
    assert row.n_pairs == len(series) - lag
    assert abs(row.r - want) < 1e-9


def test_mad_anomalies_flags_single_spike(spark):
    from hbase_gis_spark.operators.timeseries import mad_anomalies

    vals = [100, 101, 99, 100, 102, 98, 100, 1000, 101, 99, 100]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "day bigint, cents bigint"
    )
    rows = {r.day: r for r in mad_anomalies(df, k_milli=3500).collect()}
    assert rows[7].is_anomaly == 1
    assert sum(r.is_anomaly for r in rows.values()) == 1
    assert rows[0].median == 100
    # deviations sorted: [0,0,0,0,1,1,1,1,2,2,900] -> MAD = value at
    # rank ceil(11/2)=6 -> 1
    assert rows[0].mad == 1


def test_weekday_profile_dow_anchor(spark):
    """1970-01-01 (day 0) was a Thursday: dow = (0+3)%7 = 3; day 4
    (Monday 1970-01-05) maps to 0."""
    from hbase_gis_spark.operators.timeseries import weekday_profile

    us = 86_400_000_000
    df = spark.createDataFrame(
        [(0 * us, 1.0), (4 * us, 2.0), (11 * us, 4.0)], "t bigint, value double"
    )
    got = {r.dow: r for r in weekday_profile(df, F.col("t")).collect()}
    assert got[3].n_events == 1
    assert got[0].n_events == 2
    assert got[0].sum_value_milli == 6000


# --- text --------------------------------------------------------------------


def test_collocations_pmi_known_corpus(spark):
    """'new york' appears 4x among 16 tokens; PMI computed by hand
    must match to the milli."""
    docs = [
        (1, "new york new york"),
        (2, "new york new york"),
        (3, "a b c d"),
        (4, "e f g h"),
    ]
    from hbase_gis_spark.operators.textstats import collocations_pmi

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = collocations_pmi(df, min_count=2, k=10).collect()
    got = {(r.w1, r.w2): r for r in rows}
    ny = got[("new", "york")]
    # counts: 'new' 4, 'york' 4, pair 'new york' 4, T=16 unigrams,
    # T2 = 12 bigram positions
    assert (ny.n_pair, ny.n_w1, ny.n_w2) == (4, 4, 4)
    want = round(1000 * math.log((4 * 16 * 16) / (4 * 4 * 12)))
    assert ny.pmi_milli == want


def test_zipf_fit_exact_power_law(spark):
    """freq = 1000 / rank exactly -> slope == -1 (up to the micro
    rounding the operator defines)."""
    from hbase_gis_spark.operators.textstats import zipf_fit

    # exact c = K / rank corpus: K divisible by every rank, so the
    # frequencies sit exactly on the power law
    K = 27720  # divisible by 1..12
    toks = []
    for r in range(1, 13):
        toks += [f"w{r:02d}"] * (K // r)
    df = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id bigint, text string"
    )
    row = zipf_fit(df, top_n=12).head()
    assert row.n_terms == 12
    assert abs(row.slope + 1.0) < 1e-4
    assert abs(row.intercept - math.log(K)) < 1e-4


# --- graph / similarity / sessions ------------------------------------------


def test_node_jaccard_triangle_plus_leaf(spark):
    """Graph a-b, b-c, a-c, c-d: neighbors a={b,c}, b={a,c},
    c={a,b,d}, d={c}."""
    from hbase_gis_spark.operators.graph import node_jaccard

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    got = {
        (r.node_a, r.node_b): (r.n_common, r.n_a, r.n_b, r.jaccard_milli)
        for r in node_jaccard(edges).collect()
    }
    # a,b share {c}: 1 common, union 3 -> 333
    assert got[("a", "b")] == (1, 2, 2, 333)
    # a,c share {b}: union {b,c}+{a,b,d} minus common -> 4 -> 250
    assert got[("a", "c")] == (1, 2, 3, 250)
    # b,d share {c}: union 2+1-1=2 -> 500
    assert got[("b", "d")] == (1, 2, 1, 500)


def test_embedding_outliers_bottom_k(spark):
    import numpy as np

    from hbase_gis_spark.operators.similarity import dots_expr, embedding_outliers

    C = np.array([[1.0, 0.0], [0.0, 1.0]])
    rows = [
        (1, [1.0, 0.0]),    # perfectly aligned cell 0
        (2, [0.0, 1.0]),    # perfectly aligned cell 1
        (3, [-1.0, -1.0]),  # anti-aligned: the outlier
        (4, [0.6, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = embedding_outliers(df, C, k=2).collect()
    assert [r.vec_id for r in got] == [3, 4]
    assert got[0].cdot < got[1].cdot
    # the kernel's best dots equal the HOF fold's, bit for bit
    ref = {
        r.vec_id: r.cdot
        for r in df.select(
            "vec_id",
            F.array_max(dots_expr(F.col("embedding"), C)).alias("cdot"),
        ).collect()
    }
    assert [r.cdot for r in got] == [ref[3], ref[4]]


def test_bounce_rate_query_counts(spark):
    import __spark_entry__ as entry
    from tests.conftest import SF0001

    rows = entry._q_bounce_rate(spark, str(SF0001)).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.n_bounces <= r.n_sessions
        assert r.bounce_ppm == (r.n_bounces * 1_000_000) // r.n_sessions


def test_rrf_fuse_known_ranks(spark):
    from hbase_gis_spark.operators.retrieval import rrf_fuse

    # lex ranks: a=1, b=2, c=3; sem ranks: b=1, d=2
    lex = spark.createDataFrame(
        [("a", 30), ("b", 20), ("c", 10)], "doc_id string, s bigint"
    )
    sem = spark.createDataFrame(
        [("b", 90), ("d", 80)], "doc_id string, s2 bigint"
    )
    out = rrf_fuse(
        [("rank_lex", lex, "s"), ("rank_sem", sem, "s2")], k=10
    ).collect()
    rows = {r.doc_id: r for r in out}
    assert rows["b"].rrf_micro == 1_000_000 // 62 + 1_000_000 // 61
    assert rows["a"].rrf_micro == 1_000_000 // 61
    assert rows["d"].rrf_micro == 1_000_000 // 62
    assert rows["a"].rank_sem is None and rows["d"].rank_lex is None
    assert [r.doc_id for r in out] == ["b", "a", "d", "c"]


def test_rrf_fuse_score_ties_break_by_id(spark):
    from hbase_gis_spark.operators.retrieval import rrf_fuse

    # equal scores: rank order must be id order in BOTH engines
    arm = spark.createDataFrame(
        [("z", 5), ("a", 5), ("m", 5)], "doc_id string, s bigint"
    )
    out = rrf_fuse([("r", arm, "s")], k=3).collect()
    assert [(r.doc_id, r.r) for r in out] == [("a", 1), ("m", 2), ("z", 3)]


def test_hybrid_rrf_k_caps_output(spark):
    import __spark_entry__ as entry
    from tests.conftest import SF0001

    rows = entry._q_hybrid_search_rrf(spark, str(SF0001)).collect()
    assert 0 < len(rows) <= entry.HYBRID_K
    # fused scores are bounded by the best possible two-arm sum and
    # monotone non-increasing in the returned order
    best = 2 * (1_000_000 // (entry.RRF_K + 1))
    scores = [r.rrf_micro for r in rows]
    assert all(0 < s <= best for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_welch_t_matches_numpy(spark):
    import numpy as np

    from hbase_gis_spark.operators.drift import welch_t_test

    a = [1000, 2000, 3000, 4000, 9000]
    b = [1500, 1500, 2500, 6500]
    rows = [("A", v) for v in a] + [("B", v) for v in b] + [("C", 7)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    got = welch_t_test(df, "g", "v", "A", "B").head()
    A, B = np.array(a, float), np.array(b, float)
    va, vb = A.var(ddof=1), B.var(ddof=1)
    se2 = va / len(A) + vb / len(B)
    t = (A.mean() - B.mean()) / np.sqrt(se2)
    dof = se2**2 / (
        (va / len(A)) ** 2 / (len(A) - 1)
        + (vb / len(B)) ** 2 / (len(B) - 1)
    )
    assert (got.n_a, got.n_b) == (5, 4)
    assert got.mean_a_micro == (sum(a) * 1000) // len(a)
    assert got.mean_b_micro == (sum(b) * 1000) // len(b)
    assert abs(got.t - t) < 1e-8 and abs(got.dof - dof) < 1e-6


def test_cumulative_users_telescopes_to_distinct(spark):
    from pyspark.sql import functions as F

    from hbase_gis_spark.operators.timeseries import cumulative_users

    us_day = 86_400_000_000
    # u1 day0+day2, u2 day0, u3 day2, u4 day5
    rows = [(1, 0), (1, 2 * us_day + 7), (2, 5), (3, 2 * us_day),
            (4, 5 * us_day)]
    df = spark.createDataFrame(rows, "user_id bigint, us bigint")
    got = {
        r.day: (r.new_users, r.cum_users)
        for r in cumulative_users(df, F.col("us")).collect()
    }
    assert got == {0: (2, 2), 2: (1, 3), 5: (1, 4)}


def test_vocab_coverage_boundary_tie_is_lexicographic(spark):
    from hbase_gis_spark.operators.textstats import vocab_coverage

    # counts: aa=3, zz=2, bb=2, cc=1 -> top2 must keep bb (tie at 2
    # resolves lexicographically), covering 3+2=5 of 8 tokens
    df = spark.createDataFrame(
        [(1, "aa aa aa zz"), (2, "zz bb cc bb")], "doc_id bigint, text string"
    )
    got = vocab_coverage(df, 2).head()
    assert (got.vocab_size, got.distinct_terms) == (2, 4)
    assert (got.covered_tokens, got.total_tokens) == (5, 8)
    assert got.oov_ppm == (3 * 1_000_000) // 8


def test_label_separation_orthogonal_vs_aligned(spark):
    from hbase_gis_spark.operators.similarity import (
        label_centroid_separation,
    )

    rows = [
        (1, [1.0, 0.0, 0.0], 0), (2, [1.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 1), (4, [0.0, 1.0, 0.0], 1),
        (5, [1.0, 0.0, 0.0], 2),  # label 2 aligned with label 0
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {
        (r.label_a, r.label_b): r.cosine
        for r in label_centroid_separation(df).collect()
    }
    assert got[(0, 1)] == 0.0 and got[(1, 2)] == 0.0
    assert got[(0, 2)] == 1.0


def test_naive_backtest_known_series(spark):
    from hbase_gis_spark.operators.timeseries import naive_backtest

    # days 0..4 with values 10, 13, 11, 20, 20
    df = spark.createDataFrame(
        [(0, 10), (1, 13), (2, 11), (3, 20), (4, 20)],
        "day bigint, cents bigint",
    )
    got = {r.lag: r for r in naive_backtest(df, [1, 3]).collect()}
    # lag 1 errors: |13-10|, |11-13|, |20-11|, |20-20| = 3+2+9+0
    assert (got[1].n_pairs, got[1].total_abs_err, got[1].mae) == (4, 14, 3)
    # lag 3 errors: |20-10|, |20-13| = 10+7
    assert (got[3].n_pairs, got[3].total_abs_err, got[3].mae) == (2, 17, 8)


def test_quantile_transform_known_ranks(spark):
    from hbase_gis_spark.operators.rank import quantile_transform

    # values 10, 20, 20, 40 -> avg ranks 1, 2.5, 2.5, 4 over n=4
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 40)], "id bigint, v bigint"
    )
    got = {
        r.id: r.pct_milli
        for r in quantile_transform(df, "v", "id", n_shards=3).collect()
    }
    assert got == {1: 250, 2: 625, 3: 625, 4: 1000}


def test_quantile_transform_empty(spark):
    from hbase_gis_spark.operators.rank import quantile_transform

    df = spark.createDataFrame([], "id bigint, v bigint")
    assert quantile_transform(df, "v", "id").count() == 0


def test_moments_report_matches_numpy(spark):
    import numpy as np

    from hbase_gis_spark.operators.drift import moments_report

    vals = [100, 200, 200, 300, 1000, 50]
    df = spark.createDataFrame([(v,) for v in vals], "cents bigint")
    got = moments_report(df, "cents").head()
    a = np.array(vals, float)
    m2 = ((a - a.mean()) ** 2).mean()
    m3 = ((a - a.mean()) ** 3).mean()
    m4 = ((a - a.mean()) ** 4).mean()
    assert got.n == len(vals)
    assert got.mean_floor == sum(vals) // len(vals)
    assert abs(got.variance - m2) < 1e-6
    assert abs(got.skewness - m3 / m2**1.5) < 1e-9
    assert abs(got.excess_kurtosis - (m4 / m2**2 - 3)) < 1e-9


def test_moments_report_scale_div(spark):
    from hbase_gis_spark.operators.drift import moments_report

    df = spark.createDataFrame([(1000,), (2000,), (3000,)], "c bigint")
    full = moments_report(df, "c").head()
    scaled = moments_report(df, "c", scale_div=10).head()
    # dividing input by 10 scales mean by 10 and variance by 100
    assert scaled.mean_floor == full.mean_floor // 10
    assert abs(scaled.variance * 100 - full.variance) < 1e-6


def test_weekday_adjusted_anomalies_leave_one_out(spark):
    import math

    from hbase_gis_spark.operators.timeseries import (
        weekday_adjusted_anomalies,
    )

    # weekday 0 (days 4, 11, 18, 25): counts 10, 10, 10, 100 — the
    # spike must be flagged against its weekday peers only
    rows = [(4, 10), (11, 10), (18, 10), (25, 100)]
    # weekday 1 peers are uniform: never flagged
    rows += [(5, 50), (12, 50), (19, 50), (26, 50)]
    df = spark.createDataFrame(rows, "day bigint, n_events bigint")
    got = {r.day: r for r in weekday_adjusted_anomalies(df, 2000).collect()}
    assert set(got) == {25}
    # leave-one-out peers of day 25: [10,10,10] -> mean 10, var 0 ->
    # z infinite? no: var of [10,10,10] is 0 -> z inf... guard check
    r = got[25]
    assert r.dow == (25 + 3) % 7 and r.y == 100


def test_temperature_mixture_upsamples_small_sources(spark):
    from hbase_gis_spark.operators.corpus import temperature_mixture

    rows = [(i, "big") for i in range(90)] + [(i + 100, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = {r.source: r for r in temperature_mixture(df).collect()}
    assert got["big"].raw_ppm == 900_000 and got["small"].raw_ppm == 100_000
    # alpha < 1 compresses the gap: small's temperature share must
    # exceed its raw share, big's must shrink
    assert got["small"].temp_ppm > got["small"].raw_ppm
    assert got["big"].temp_ppm < got["big"].raw_ppm
    assert got["small"].boost_milli > 1000 > got["big"].boost_milli
    # shares sum to ~1e6 (floor remainder)
    assert 999_998 <= got["big"].temp_ppm + got["small"].temp_ppm <= 1_000_000


def test_gini_coefficient_hand_checked(spark):
    """[1, 1, 2]: tie-averaged ranks 1.5, 1.5, 3 -> G = 18/12 - 4/3 =
    1/6 (matches the mean-absolute-difference definition); constant
    values give G = 0."""
    from hbase_gis_spark.operators.drift import gini_coefficient

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "id bigint, x bigint"
    )
    r = gini_coefficient(df, "x", "id", n_shards=2).head()
    assert (r.n, r.total_value) == (3, 4)
    assert abs(r.gini - 1 / 6) < 1e-9
    const = spark.createDataFrame(
        [(i, 5) for i in range(10)], "id bigint, x bigint"
    )
    assert gini_coefficient(const, "x", "id", n_shards=2).head().gini == 0.0


def test_bootstrap_means_matches_python_replication(spark):
    """The md5-seeded Poisson weights are a pure function of the row
    id: a python replication of the ladder reproduces every
    replicate's n_eff and sum exactly."""
    import hashlib

    from hbase_gis_spark.operators.quality import (
        POISSON1_PPM,
        bootstrap_means,
    )

    rows = [(i, 10 * i + 3) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "id bigint, x bigint")
    got = {
        r.replicate: (r.n_eff, r.sum_value)
        for r in bootstrap_means(df, "x", "id", replicates=4).collect()
    }

    def weight(b, i):
        u = (
            int(hashlib.md5(f"boot:{b}:{i}".encode()).hexdigest()[:15], 16)
            % 1_000_000
        )
        for k, t in enumerate(POISSON1_PPM):
            if u < t:
                return k
        return 8

    for b in range(4):
        n = sum(weight(b, i) for i, _ in rows)
        s = sum(weight(b, i) * x for i, x in rows)
        assert got[b] == (n, s), (b, got[b], (n, s))


def test_seasonal_decompose_matches_python_replication(spark):
    """Trend (centered MA), seasonal (dow truncated mean of
    detrended), and residual replicate a brute-force python
    computation exactly, including NULL edges and negative detrended
    values (where truncating vs flooring division differ)."""
    from hbase_gis_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    vals = {d: 1000 + (d % 7) * 37 + (d % 5) * 11 - 60 for d in range(25)}
    df = spark.createDataFrame(
        list(vals.items()), "day bigint, cents bigint"
    )
    got = {
        r.day: (r.trend_milli, r.seasonal_milli, r.residual_milli)
        for r in seasonal_decompose_daily(df).collect()
    }

    def tdiv(a, b):  # truncating (a - a % b)/b with python % -> emulate
        m = a - (a - (a // b) * b if (a < 0) == (b < 0) or a % b == 0
                 else a % b - b)
        return m // b

    # python: % sign-of-dividend (like Spark/DuckDB) then exact div
    def cmod(a, b):
        r = abs(a) % abs(b)
        return r if a >= 0 else -r

    trend, det = {}, {}
    for d in vals:
        win = [vals[d + o] for o in range(-3, 4) if d + o in vals]
        if len(win) == 7:
            s7 = sum(v * 1000 for v in win)
            trend[d] = (s7 - cmod(s7, 7)) // 7
            det[d] = vals[d] * 1000 - trend[d]
    seas = {}
    for dow in range(7):
        ds = [det[d] for d in det if (d + 3) % 7 == dow]
        if ds:
            sd = sum(ds)
            seas[dow] = (sd - cmod(sd, len(ds))) // len(ds)
    for d in vals:
        dow = (d + 3) % 7
        want_t = trend.get(d)
        want_s = seas.get(dow)
        want_r = det[d] - want_s if d in det else None
        assert got[d] == (want_t, want_s, want_r), (d, got[d])
