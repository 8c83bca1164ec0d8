"""Round-7 regression pins: the spearman DECIMAL(38,0) overflow fix,
the span-arc / content-key de-skew (groupBy partial aggregates instead
of content-partitioned windows), and the ADVICE r6 fixes (div-vs-floor
truncating identity, even-period guard, non-finite SQL boundary guard).
"""

import hashlib
import math

import pytest
from pyspark.sql import functions as F


def _n_windows(df) -> int:
    """Count Window operators in the optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(
        1 for line in plan.splitlines() if line.lstrip("+- :").startswith("Window ")
    )


# ---------------------------------------------------------------- spearman


def test_spearman_d2_decimal_survives_int64_wrap(spark):
    """VERDICT r6 #1: Σd² for n=2M perfectly reversed ranks is
    4n(n²-1)/3 ≈ 1.07e19 quarter-units > 2^63 — the round-6 raw-BIGINT
    accumulator wrapped silently here; the DECIMAL(38,0) accumulator
    must return the exact value (rho = -1 exactly)."""
    from hbase_gis_spark.operators.drift import spearman_corr

    n = 2_000_000
    df = spark.range(n).select(
        F.col("id").cast("double").alias("x"),
        (-F.col("id")).cast("double").alias("y"),
    )
    exact = 4 * n * (n * n - 1) // 3
    assert exact > 2**63 - 1  # the old form provably wrapped
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r.n == n
    assert r.sum_d2_quarter == float(exact)
    assert r.rho == -1.0


# ------------------------------------------------------------- span arc


def _hot_corpus(spark):
    """60 docs sharing one 60-token boilerplate block + unique filler:
    the hot-gram postings list a content-partitioned window would
    funnel into one task (VERDICT r6 #2)."""
    boiler = " ".join(f"B{i}" for i in range(60))
    rows = [
        (d, boiler + " " + " ".join(f"f{d}x{j}" for j in range(10)))
        for d in range(1, 61)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dup_substring_spans_hot_gram_values_and_plan(spark):
    from hbase_gis_spark.operators.dedup import dup_substring_spans

    out = dup_substring_spans(_hot_corpus(spark), n=8, min_len=50)
    # only the per-doc run window survives — no gram-partitioned window
    assert _n_windows(out) == 1
    got = {r.doc_id: (r.start_pos, r.span_len, r.n_anchors) for r in out.collect()}
    assert got == {d: (0, 60, 53) for d in range(1, 61)}


def test_remove_dup_spans_hot_gram_keep_first_and_plan(spark):
    from hbase_gis_spark.operators.dedup import remove_dup_spans

    out = remove_dup_spans(_hot_corpus(spark), n=8, min_len=50)
    assert _n_windows(out) == 1
    got = {r.doc_id: (r.n_tokens, r.n_removed) for r in out.collect()}
    # owner (min doc id 1) keeps everything; every other doc loses the
    # 60 boilerplate tokens
    assert got[1] == (70, 0)
    assert all(got[d] == (70, 60) for d in range(2, 61))


def test_span_dup_stats_hot_gram_window_free(spark):
    from hbase_gis_spark.operators.dedup import span_dup_stats

    out = span_dup_stats(_hot_corpus(spark), n=8)
    # complement form: no window at all — every shuffle partial-aggregates
    assert _n_windows(out) == 0
    got = {r.doc_id: (r.n_grams, r.n_dup) for r in out.collect()}
    # 70 tokens -> 63 grams; grams starting at 0..52 stay inside the
    # boilerplate (shared), 53..62 touch unique filler
    assert got == {d: (63, 53) for d in range(1, 61)}


def test_substring_dedup_profile_hot_gram_plan(spark):
    from hbase_gis_spark.operators.dedup import substring_dedup_profile

    out = substring_dedup_profile(_hot_corpus(spark), n=8, min_len=50)
    # run window + per-doc interval-union window only
    assert _n_windows(out) == 2
    got = {r.doc_id: (r.n_spans, r.dup_tokens) for r in out.collect()}
    assert got == {d: (1, 60) for d in range(1, 61)}


def test_ngram_novelty_window_free_and_exact(spark):
    from hbase_gis_spark.operators.dedup import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),   # grams abc bcd cde — all first here
            (2, "a b c x y"),   # abc seen; bcx cxy novel
            (3, "a b c d e"),   # nothing novel
        ],
        "doc_id bigint, text string",
    )
    out = ngram_novelty(df, n=3)
    assert _n_windows(out) == 0
    got = {r.doc_id: (r.n_grams, r.novel_grams) for r in out.collect()}
    assert got == {1: (3, 3), 2: (3, 2), 3: (3, 0)}


def test_dedup_exact_keep_first_window_free(spark):
    from hbase_gis_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(3, "same text", "m3"), (1, "same text", "m1"), (2, "other", "m2")],
        "doc_id bigint, text string, meta string",
    )
    out = dedup_exact(df)
    assert _n_windows(out) == 0
    got = {r.doc_id: r.meta for r in out.collect()}
    # smallest id per content hash, all columns preserved
    assert got == {1: "m1", 2: "m2"}


def test_cluster_representatives_min_struct_semantics(spark):
    from hbase_gis_spark.operators.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20)],
        "doc_id bigint, cluster_id bigint",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1)],
        "doc_id bigint, quality_score double",
    )
    out = cluster_representatives(clusters, scores)
    assert _n_windows(out) == 0
    got = {r.cluster_id: (r.doc_id, r.quality_score) for r in out.collect()}
    # highest score wins; tie (2 vs 3 at 0.9) broken by smallest id
    assert got == {10: (2, 0.9), 20: (4, 0.1)}


def test_cluster_representatives_null_nan_scores_lose(spark):
    """ADVICE r7 #1: NULL/NaN scores are UNSCORED — they must never
    beat a real score (the raw min-of-struct ranked a NULL first field
    smallest, so a NULL-score member silently won), and a fully
    unscored cluster still keeps its smallest-id member."""
    from hbase_gis_spark.operators.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)],
        "doc_id bigint, cluster_id bigint",
    )
    scores = spark.createDataFrame(
        [(1, None), (2, 0.3), (3, float("nan")), (5, None), (4, None)],
        "doc_id bigint, quality_score double",
    )
    out = cluster_representatives(clusters, scores)
    got = {r.cluster_id: r.doc_id for r in out.collect()}
    # cluster 10: real 0.3 beats NULL(1) and NaN(3); cluster 20: all
    # unscored -> smallest id 4
    assert got == {10: 2, 20: 4}


def test_segment_dup_stats_hot_segment_no_window(spark):
    from hbase_gis_spark.operators.dedup import segment_dup_stats

    boiler = " ".join(f"s{i}" for i in range(10))
    df = spark.createDataFrame(
        [(d, boiler + " " + " ".join(f"u{d}x{j}" for j in range(10)))
         for d in range(1, 31)],
        "doc_id bigint, text string",
    )
    out = segment_dup_stats(df, k=10, min_docs=2)
    assert _n_windows(out) == 0
    got = {r.doc_id: (r.n_segments, r.dup_segments) for r in out.collect()}
    # segment 1 = shared boilerplate (30 carriers), segment 2 unique
    assert got == {d: (2, 1) for d in range(1, 31)}


# ------------------------------------------------- div-vs-floor identity


def test_target_encoding_truncates_on_negative_targets(spark):
    """ADVICE r6 #1: negative numerators must TRUNCATE toward zero in
    both engines — pinned here by value: Spark's div and DuckDB's
    bare // agree (measured round 7; ADVICE's floor claim disproved),
    while Python's // floors and must never replay this quotient."""
    import duckdb

    from hbase_gis_spark.operators.corpus import target_encoding_loo

    df = spark.createDataFrame(
        [(1, "a", 2), (2, "a", -1), (3, "a", -1), (4, "a", -2)],
        "id bigint, cat string, t bigint",
    )
    got = {
        r.id: r.enc_micro
        for r in target_encoding_loo(df, "cat", "t", "id").collect()
    }
    # row 1: (sum-own) = -2-2 = -4 -> -4000/3 truncates to -1333
    # (floor would give -1334 — the engine-divergence ADVICE flagged)
    assert got[1] == -1333
    assert got[2] == got[3] == -333  # (-2+1)*1000/3 truncated
    assert got[4] == 0
    # DuckDB's BARE // truncates to the same value (the load-bearing
    # engine-agreement pin — Python's -4000 // 3 would floor to -1334)
    assert duckdb.sql("SELECT (-4000) // 3").fetchone()[0] == -1333
    assert (-4000) // 3 == -1334  # Python floors: never replay in Python


def test_bootstrap_means_truncates_negative_sums(spark):
    """ADVICE r6 #2: a replicate's weighted sum can be negative; the
    milli mean must truncate identically to the DuckDB oracle."""
    from hbase_gis_spark.operators.quality import bootstrap_means

    thresholds = [367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989]

    def weight(b: int, rid: int) -> int:
        u = (
            int(hashlib.md5(f"boot:{b}:{rid}".encode()).hexdigest()[:15], 16)
            % 1_000_000
        )
        return next(
            (w for w, t in enumerate(thresholds) if u < t), len(thresholds)
        )

    rows = [(i, -7 if i % 3 else 11) for i in range(1, 60)]
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    got = {
        r.replicate: (r.n_eff, r.sum_value, r.mean_milli)
        for r in bootstrap_means(df, "v", "id", replicates=4).collect()
    }
    for b in range(4):
        n_eff = sum(weight(b, i) for i, _ in rows)
        s = sum(weight(b, i) * v for i, v in rows)
        want_mean = None
        if n_eff > 0:
            num = s * 1000
            # truncation toward zero (Python // floors)
            want_mean = -((-num) // n_eff) if num < 0 else num // n_eff
        assert got[b] == (n_eff, s, want_mean)
    # at least one replicate must actually exercise a negative sum
    assert any(v[1] < 0 for v in got.values())


# ------------------------------------------------- checkpoint backend


def test_reliable_checkpoint_identical_outputs(spark, tmp_path):
    """VERDICT r6 #4: the iterative operators run under the 'reliable'
    backend (spark.checkpoint to a checkpoint dir — survives executor
    loss on long cluster jobs), selected by the
    spark.hbase_gis.checkpoint.mode session conf, and produce the same
    rows as the local default; a missing checkpoint dir and an unknown
    mode fail loudly."""
    from hbase_gis_spark.operators.checkpointing import (
        CONF_KEY,
        truncate_lineage,
    )
    from hbase_gis_spark.operators.dedup import near_dup_clusters
    from hbase_gis_spark.operators.graph import lpa_communities

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "doc_id bigint"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7), (8, 9)],
        "id_a bigint, id_b bigint",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (6, 7)], "a bigint, b bigint"
    )
    local_cc = sorted(
        map(tuple, near_dup_clusters(docs, pairs).collect())
    )
    local_lpa = sorted(map(tuple, lpa_communities(edges).collect()))

    # no checkpoint dir set -> clear error, not a Spark stack trace
    spark.conf.set(CONF_KEY, "reliable")
    try:
        with pytest.raises(ValueError, match="checkpoint directory"):
            near_dup_clusters(docs, pairs)
    finally:
        spark.conf.unset(CONF_KEY)
    spark.conf.set(CONF_KEY, "bogus")
    try:
        with pytest.raises(ValueError, match="must be one of"):
            truncate_lineage(docs)
    finally:
        spark.conf.unset(CONF_KEY)

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(CONF_KEY, "reliable")
    try:
        rel_cc = sorted(
            map(tuple, near_dup_clusters(docs, pairs).collect())
        )
        rel_lpa = sorted(map(tuple, lpa_communities(edges).collect()))
    finally:
        spark.conf.unset(CONF_KEY)
    assert rel_cc == local_cc
    assert rel_lpa == local_lpa


# ---------------------------------------------------------- guard rails


def test_seasonal_decompose_rejects_even_period(spark):
    from hbase_gis_spark.operators.timeseries import seasonal_decompose_daily

    df = spark.createDataFrame(
        [(d, 100 + d) for d in range(30)], "day bigint, cents bigint"
    )
    with pytest.raises(ValueError, match="ODD"):
        seasonal_decompose_daily(df, period=6)
    # odd periods still work
    assert seasonal_decompose_daily(df, period=7).count() == 30


def test_sqlapi_drops_nonfinite_boundaries(spark):
    """ADVICE r6 #4: an infinite double boundary used to render as the
    bare token `inf` — invalid SQL. The shared shard-id text renders
    ±inf and NaN as quoted DOUBLEs: Spark runs it, and it assigns the
    same shard ids as apply_range_shards (NaN keys compare above every
    boundary but NaN itself, Spark's NaN ordering)."""
    from hbase_gis_spark.operators.rank import (
        apply_range_shards,
        range_shard_sql,
    )
    from hbase_gis_spark.sqlapi import quantile_transform_sql

    bounds = [1.0, float("inf"), float("-inf"), float("nan")]
    expr = range_shard_sql("v", bounds)
    assert " inf" not in expr.lower() and " nan" not in expr.lower()
    keys = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            [None, -1.0, 1.0, 2.0, float("inf"), float("-inf"), float("nan")]
        )],
        "id bigint, v double",
    )
    via_sql = {r.id: r.s for r in keys.selectExpr("id", f"{expr} AS s").collect()}
    via_df = {
        r.id: r.s
        for r in apply_range_shards(keys, "v", bounds, "s").collect()
    }
    assert via_sql == via_df
    assert via_sql == {0: 0, 1: 1, 2: 1, 3: 2, 4: 2, 5: 0, 6: 3}

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 9)]
        + [(9, float("inf")), (10, float("inf"))],
        "id bigint, v double",
    )
    df.createOrReplaceTempView("r7_inf_view")
    try:
        sql = quantile_transform_sql(spark, "r7_inf_view", "v", "id", n_shards=4)
        assert " inf" not in sql.lower()
        got = {r.id: r.pct_milli for r in spark.sql(sql).collect()}
        # avg tie ranks: the two inf rows share ranks 9,10 -> hr2=19
        # -> (19*1000) div 20 = 950; rank 1 -> (2*1000) div 20 = 100
        assert got[1] == 100 and got[9] == 950 and got[10] == 950
    finally:
        spark.catalog.dropTempView("r7_inf_view")


def test_bootstrap_means_xxhash64_fast_path(spark):
    """VERDICT r6 #8: the Spark-only xxhash64 knob yields a valid
    Poisson bootstrap (B rows, n_eff ~ n, exact integer sums) that is
    deterministic across calls, distinct from the md5 draws, and the
    md5 default stays the oracle-parity path; bad knobs fail loudly."""
    from hbase_gis_spark.operators.quality import bootstrap_means

    df = spark.createDataFrame(
        [(i, 100 + i) for i in range(1, 301)], "id bigint, v bigint"
    )
    md5_rows = {
        r.replicate: (r.n_eff, r.sum_value)
        for r in bootstrap_means(df, "v", "id", replicates=6).collect()
    }
    xx1 = {
        r.replicate: (r.n_eff, r.sum_value)
        for r in bootstrap_means(
            df, "v", "id", replicates=6, hash_fn="xxhash64"
        ).collect()
    }
    xx2 = {
        r.replicate: (r.n_eff, r.sum_value)
        for r in bootstrap_means(
            df, "v", "id", replicates=6, hash_fn="xxhash64"
        ).collect()
    }
    assert xx1 == xx2                      # deterministic
    assert xx1 != md5_rows                 # engine-specific draws
    assert len(xx1) == 6
    for n_eff, s in xx1.values():
        assert 100 <= n_eff <= 600         # Poisson(1) mass around n=300
        assert s > 0
    with pytest.raises(ValueError, match="hash_fn"):
        bootstrap_means(df, "v", "id", hash_fn="sha1")
