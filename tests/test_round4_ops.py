"""Round-4 operators: integer PageRank, Z-order layout keys, corpus
hygiene (diversity, boilerplate, length histogram, resampling,
contamination audit). Registry-level oracle parity is covered by
tools/check_oracles.py; these pin hand-computed semantics."""

import pytest
from pyspark.sql import functions as F

from hbase_gis_spark.operators.corpus import (
    contamination_report,
    quality_resample,
)
from hbase_gis_spark.operators.graph import event_type_edges, pagerank_int
from hbase_gis_spark.operators.layout import zorder_key_2d
from hbase_gis_spark.operators.textstats import (
    boilerplate_ngrams,
    doc_length_histogram,
    ngram_diversity,
)


# ------------------------------------------------------------- pagerank ---


def _pagerank_py(edges, iters=3, d=850, scale=1_000_000):
    """Driver-side replay of the exact integer recurrence."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    ow = {}
    for u, _, w in edges:
        ow[u] = ow.get(u, 0) + w
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib = {}
        for u, v, w in edges:
            contrib[v] = contrib.get(v, 0) + (rank[u] * w) // ow[u]
        rank = {
            v: ((1000 - d) * scale) // (1000 * n)
            + (d * contrib.get(v, 0)) // 1000
            for v in nodes
        }
    return rank


def test_pagerank_matches_python_replay(spark):
    edges = [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight bigint")
    got = {r.node: r.rank_micro for r in pagerank_int(df).collect()}
    assert got == _pagerank_py(edges)


def test_pagerank_star_ranks_hub_highest(spark):
    edges = [("s1", "hub", 1), ("s2", "hub", 1), ("s3", "hub", 1),
             ("hub", "s1", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight bigint")
    got = {r.node: r.rank_micro for r in pagerank_int(df).collect()}
    assert got["hub"] == max(got.values())
    assert got == _pagerank_py(edges)


def test_event_type_edges_counts(spark):
    rows = [
        (1, 100, "u1", "a"), (2, 200, "u1", "b"), (3, 300, "u1", "a"),
        (4, 100, "u2", "a"), (5, 200, "u2", "b"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, t bigint, user_id string, event_type string"
    )
    got = {
        (r.src, r.dst): r.weight
        for r in event_type_edges(ev, F.col("t")).collect()
    }
    assert got == {("a", "b"): 2, ("b", "a"): 1}


# ------------------------------------------------------------- z-order ----


def _interleave(x, y):
    out = 0
    for i in range(16):
        out |= ((x >> i) & 1) << (2 * i + 1)
        out |= ((y >> i) & 1) << (2 * i)
    return out


def test_zorder_key_exact_bits(spark):
    # range [0, 65535] in both dims -> bins are the values themselves
    rows = [(1, 0.0, 0.0), (2, 65535.0, 0.0), (3, 0.0, 65535.0),
            (4, 12345.0, 54321.0), (5, 65535.0, 65535.0)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = {r.id: r.zkey for r in zorder_key_2d(df, "x", "y").collect()}
    assert got[1] == 0
    assert got[2] == _interleave(65535, 0)
    assert got[3] == _interleave(0, 65535)
    assert got[4] == _interleave(12345, 54321)
    assert got[5] == (1 << 32) - 1


def test_zorder_null_nan_degenerate(spark):
    rows = [(1, None, 5.0), (2, float("nan"), 5.0), (3, 2.0, 5.0),
            (4, 7.0, 5.0)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = {r.id: r.zkey for r in zorder_key_2d(df, "x", "y").collect()}
    assert got[1] is None and got[2] is None
    # y range degenerate (all 5.0) -> y bin 0 for every row; x spreads
    assert got[3] == 0 and got[4] == _interleave(65535, 0)


def test_zorder_locality_beats_single_column_sort(spark):
    """The layout claim itself: under a Z-order sort split into files,
    BOTH dimensions' per-file ranges shrink; under an x-only sort the
    y statistics are useless (full-range in every file)."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.random() * 1000, rng.random() * 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    keyed = zorder_key_2d(df, "x", "y").collect()
    n_files = 16
    chunk = len(keyed) // n_files

    def spans(rows_sorted, dim):
        total = 0.0
        for f in range(n_files):
            part = rows_sorted[f * chunk : (f + 1) * chunk]
            vals = [getattr(r, dim) for r in part]
            total += max(vals) - min(vals)
        return total / n_files

    by_z = sorted(keyed, key=lambda r: r.zkey)
    by_x = sorted(keyed, key=lambda r: r.x)
    # x-sorted files: y span ~ full range (~1000); z-sorted: both dims
    # must shrink well below full range
    assert spans(by_x, "y") > 900
    assert spans(by_z, "x") < 600 and spans(by_z, "y") < 600


# ------------------------------------------------------- corpus hygiene ---


def test_ngram_diversity_hand_cases(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in ngram_diversity(df, n=2).collect()}
    assert (got[1].n_grams, got[1].distinct_grams) == (3, 1)
    assert abs(got[1].diversity - 1 / 3) < 1e-12
    assert (got[2].n_grams, got[2].distinct_grams, got[2].diversity) == (3, 3, 1.0)
    assert got[3].n_grams == 0 and got[3].diversity is None


def test_boilerplate_ngrams_detects_shared_footer(spark):
    footer = "all rights reserved"
    rows = [
        (1, "s1", f"alpha beta {footer}"),
        (2, "s1", f"gamma delta {footer}"),
        (3, "s1", "unrelated text entirely here"),
        (4, "s2", f"epsilon zeta {footer}"),  # only ONE doc in s2
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {
        (r.source, r.gram): (r.df_docs, r.doc_frac)
        for r in boilerplate_ngrams(df, n=3, min_docs=2).collect()
    }
    assert got[("s1", footer)] == (2, 2 / 3)
    assert not any(s == "s2" for s, _ in got)  # never across sources


def test_doc_length_histogram_buckets(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d"), (5, "")],
        "doc_id bigint, text string",
    )
    got = {r.len_bucket: (r.n_docs, r.total_tokens)
           for r in doc_length_histogram(df).collect()}
    # NOTE split(trim('')) yields [''] (1 token) on both engines — the
    # shared tokens() contract counts an empty doc as one empty token
    assert got[0] == (2, 2)   # 1-token docs: "a" and ""
    assert got[1] == (2, 5)   # 2-3 token docs
    assert got[2] == (1, 4)   # 4-token doc


def test_quality_resample_deterministic_subset(spark, docs_sf0001=None):
    from hbase_gis_spark.sources.tables import load_table
    from tests.conftest import SF0001

    docs = load_table(spark, SF0001, "documents")
    a = quality_resample(docs).collect()
    b = quality_resample(docs).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    assert 0 < len(a) < docs.count()
    assert all(0 <= r.keep_milli <= 1000 and r.draw < r.keep_milli for r in a)
    # append-stability: resampling a superset never flips prior keeps
    half = docs.filter(F.col("doc_id") % 2 == 0)
    kept_half = {r.doc_id for r in quality_resample(half).collect()}
    kept_full = {r.doc_id for r in a}
    assert kept_half == {i for i in kept_full if i % 2 == 0}


def test_contamination_report_hand_case(spark):
    train = spark.createDataFrame(
        [(1, "w1 w2 w3 w4"), (2, "w2 w3 w4 w9"), (3, "x y z q")],
        "doc_id bigint, text string",
    )
    test = spark.createDataFrame(
        [(10, "w1 w2 w3 w4 w5"), (11, "p q r s"), (12, "a b")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in contamination_report(train, test, n=3).collect()}
    # doc 10: grams {w1w2w3, w2w3w4, w3w4w5}; hits: w1w2w3 (train 1),
    # w2w3w4 (train 1 and 2)
    assert (got[10].n_grams, got[10].hit_grams, got[10].n_train_docs) == (3, 2, 2)
    assert abs(got[10].contamination - 2 / 3) < 1e-12
    assert (got[11].hit_grams, got[11].n_train_docs) == (0, 0)
    assert got[12].n_grams == 0 and got[12].contamination is None


def test_boilerplate_coverage_hand_case(spark):
    from hbase_gis_spark.operators.textstats import boilerplate_coverage

    footer = "all rights reserved"
    rows = [
        (1, "s1", f"alpha beta {footer}"),          # 3 grams, 1 boiler
        (2, "s1", f"gamma delta {footer}"),         # 3 grams, 1 boiler
        (3, "s1", "unrelated text entirely here"),  # 2 grams, 0 boiler
        (4, "s2", "a b"),                           # too short: 0 grams
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {r.doc_id: r for r in
           boilerplate_coverage(df, n=3, min_docs=2).collect()}
    assert (got[1].n_grams, got[1].boiler_grams) == (3, 1)
    assert abs(got[1].coverage - 1 / 3) < 1e-12
    assert (got[3].boiler_grams, got[3].coverage) == (0, 0.0)
    assert got[4].n_grams == 0 and got[4].coverage is None


def test_dense_daily_counts_zero_fills(spark):
    from hbase_gis_spark.operators.timeseries import dense_daily_counts

    us = 86_400_000_000
    rows = [  # days 0, 0, 2 for type a; day 1 for type b
        (1, 0 * us + 5, "a"), (2, 0 * us + 9, "a"),
        (3, 2 * us + 1, "a"), (4, 1 * us + 3, "b"),
    ]
    ev = spark.createDataFrame(rows, "event_id bigint, t bigint, event_type string")
    got = {
        (r.day, r.event_type): r.n_events
        for r in dense_daily_counts(ev, F.col("t")).collect()
    }
    # every (day, type) pair over the [0, 2] spine exists, zeros filled
    assert got == {
        (0, "a"): 2, (1, "a"): 0, (2, "a"): 1,
        (0, "b"): 0, (1, "b"): 1, (2, "b"): 0,
    }


# ------------------------------------------------------------ fuzzy join --


def test_fuzzy_join_edit1_exact_vs_bruteforce(spark):
    """Completeness by construction: the deletion-neighborhood join
    finds EXACTLY the brute-force <=1 pair set on a corpus designed
    with substitutions, insertions, deletions, duplicates, and misses."""
    import itertools

    from hbase_gis_spark.operators.dedup import fuzzy_join_edit1

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = ["alpha", "alpho", "alph", "aalpha", "beta", "betta", "bet",
             "gamma", "gamma", "delta", "delt", "delte", "x", "", "xy"]
    rows = list(enumerate(words))
    df = spark.createDataFrame(rows, "id bigint, t string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_join_edit1(df, df, "id", "id", "t", "t")
        .filter("id_a < id_b").collect()
    }
    want = {
        (a, b): lev(words[a], words[b])
        for a, b in itertools.combinations(range(len(words)), 2)
        if lev(words[a], words[b]) <= 1
    }
    assert got == want


def test_fuzzy_join_edit1_cross_table(spark):
    from hbase_gis_spark.operators.dedup import fuzzy_join_edit1

    left = spark.createDataFrame([(1, "acme corp")], "lid bigint, name string")
    right = spark.createDataFrame(
        [(10, "acme corp"), (11, "acme cord"), (12, "acme co"),
         (13, "emca proc")],
        "rid bigint, name string",
    )
    got = {(r.id_a, r.id_b): r.distance
           for r in fuzzy_join_edit1(
               left, right, "lid", "rid", "name", "name").collect()}
    assert got == {(1, 10): 0, (1, 11): 1}


def test_winsorize_hand_case(spark):
    from hbase_gis_spark.operators.corpus import winsorize

    # group g: values 1..10 -> p05 rank ceil(0.5)=1 -> lo=1;
    # p95 rank ceil(9.5)=10 -> hi=10 (no clamp). With p_lo=.2/p_hi=.8:
    # lo = value@rank 2 = 2, hi = value@rank 8 = 8.
    rows = [(i, "g", i) for i in range(1, 11)] + [(100, "h", 7)]
    df = spark.createDataFrame(rows, "id bigint, grp string, v bigint")
    got = {r.id: r.win_v for r in
           winsorize(df, "v", "grp", p_lo=0.2, p_hi=0.8).collect()}
    assert got[1] == 2 and got[2] == 2 and got[5] == 5
    assert got[8] == 8 and got[10] == 8
    assert got[100] == 7  # singleton group: lo == hi == the value

    # p is the decimal it prints as: 0.07 * 100 is 7.000000000000001 in
    # double, but rank ceil(7/100 * 100) = 7 and ceil(55/100 * 100) = 55
    df = spark.createDataFrame(
        [(i, "g", i) for i in range(1, 101)], "id bigint, grp string, v bigint"
    )
    got = {r.id: r.win_v for r in
           winsorize(df, "v", "grp", p_lo=0.07, p_hi=0.55).collect()}
    assert (got[1], got[7], got[8], got[55], got[56], got[100]) == (
        7, 7, 8, 55, 55, 55)

    # a NULL value holds no rank and comes out unchanged: n = 20, so
    # lo = value@rank ceil(1.4) = 2 and hi = value@rank ceil(11) = 11
    df = spark.createDataFrame(
        [(i, "g", i) for i in range(1, 21)] + [(99, "g", None)],
        "id bigint, grp string, v bigint",
    )
    got = {r.id: r.win_v for r in
           winsorize(df, "v", "grp", p_lo=0.07, p_hi=0.55).collect()}
    assert got[99] is None
    assert (got[1], got[2], got[11], got[20]) == (2, 2, 11, 11)

    # 1 - 0.95 prints as 0.050000000000000044 and means 1/20: on
    # 1..1000 lo = value@rank 50 and hi = value@rank 950 (read as
    # 12500000000000011/2.5e17, num*n overflows BIGINT), and a group
    # column may be named n
    df = spark.createDataFrame(
        [(i, "g", i) for i in range(1, 1001)], "id bigint, n string, v bigint"
    )
    got = {r.id: r.win_v for r in
           winsorize(df, "v", "n", p_lo=1 - 0.95, p_hi=0.95).collect()}
    assert (got[1], got[50], got[51], got[950], got[1000]) == (
        50, 50, 51, 950, 950)


def test_conversion_lag_strictly_after(spark):
    from hbase_gis_spark.operators.funnel import conversion_lag

    h = 3_600_000_000
    rows = [
        # u1: purchase BEFORE first view is ignored; converts at +2h
        ("u1", "purchase", 0), ("u1", "view", 1 * h),
        ("u1", "purchase", 3 * h), ("u1", "purchase", 9 * h),
        # u2: converts within the same hour bucket
        ("u2", "view", 10), ("u2", "purchase", 20),
        # u3: never purchases after viewing
        ("u3", "view", 5 * h), ("u3", "purchase", 5 * h),  # not strictly after
    ]
    ev = spark.createDataFrame(rows, "user_id string, event_type string, ts_us long")
    got = {r.lag_bucket: r.n_users for r in
           conversion_lag(ev, "view", "purchase").collect()}
    assert got == {2: 1, 0: 1}


def test_fuzzy_join_edit1_random_dense_corpus(spark):
    """Stress completeness where near-misses are densest: 60 random
    strings over a 2-letter alphabet, lengths 0-4 (hundreds of
    qualifying pairs, plus duplicates and empty strings) — the pair
    set must equal brute force exactly."""
    import itertools
    import random

    from hbase_gis_spark.operators.dedup import fuzzy_join_edit1

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(123)
    words = ["".join(rng.choice("ab") for _ in range(rng.randint(0, 4)))
             for _ in range(60)]
    df = spark.createDataFrame(list(enumerate(words)), "id bigint, t string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_join_edit1(df, df, "id", "id", "t", "t")
        .filter("id_a < id_b").collect()
    }
    want = {
        (a, b): lev(words[a], words[b])
        for a, b in itertools.combinations(range(len(words)), 2)
        if lev(words[a], words[b]) <= 1
    }
    assert got == want and len(want) > 100


def test_zorder_random_batch_matches_python_interleave(spark):
    """300 random 16-bit bins (corners pinned so min/max == [0, 65535])
    through the Spark expression == the driver-side bit interleave."""
    import random

    rng = random.Random(99)
    rows = [(0, 0.0, 0.0), (1, 65535.0, 65535.0)] + [
        (i, float(rng.randint(0, 65535)), float(rng.randint(0, 65535)))
        for i in range(2, 300)
    ]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = {r.id: r.zkey for r in zorder_key_2d(df, "x", "y").collect()}
    for i, x, y in rows:
        assert got[i] == _interleave(int(x), int(y)), (i, x, y)


def test_write_zorder_table_files_cover_disjoint_key_ranges(spark, tmp_path_factory):
    from hbase_gis_spark.operators.layout import write_zorder_table
    from hbase_gis_spark.sources.tables import load_table, ts_us
    from tests.conftest import SF0001

    ev = load_table(spark, SF0001, "events").select(
        "event_id", "value", ts_us().alias("t")
    )
    path = str(tmp_path_factory.mktemp("zorder") / "ev")
    write_zorder_table(ev, path, "value", "t", n_files=8)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in spans)
    assert len(spans) >= 4  # range partitioner actually split
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint zkey ranges across files


def test_curve_append_bounds_sidecar_keeps_keys_identical(
    spark, tmp_path_factory
):
    """VERDICT r4 next-round #4: a table created in TWO batches via
    append_{zorder,hilbert}_table must hold byte-identical keys to a
    one-shot write — the persisted _bounds sidecar (not a per-batch
    re-aggregate) is what makes that true, because the second batch's
    value range differs from the full table's."""
    from hbase_gis_spark.operators.layout import (
        append_hilbert_table,
        append_zorder_table,
        hilbert_key_2d,
        read_curve_bounds,
        write_hilbert_table,
        write_zorder_table,
        zorder_key_2d,
    )
    from hbase_gis_spark.sources.tables import load_table, ts_us
    from tests.conftest import SF0001

    ev = load_table(spark, SF0001, "events").select(
        "event_id", "value", ts_us().alias("t")
    )
    # batch split correlated with the layout columns so batch-2's
    # min/max really differ from batch-1's (the failure the sidecar
    # prevents: per-batch re-aggregated bounds would shift every bin)
    b1 = ev.filter(F.col("value") < 50)
    b2 = ev.filter(F.col("value") >= 50)

    for write, append, key_fn, key in (
        (write_zorder_table, append_zorder_table, zorder_key_2d, "zkey"),
        (write_hilbert_table, append_hilbert_table, hilbert_key_2d, "hkey"),
    ):
        path = str(tmp_path_factory.mktemp("curve_append") / "tbl")
        write(b1, path, "value", "t", n_files=4, bits=8)
        # sidecar must hold batch-1 bounds, not anything wider
        bounds, bits = read_curve_bounds(spark, path)
        assert bits == 8
        assert bounds[1] < 50
        append(b2, path, "value", "t", n_files=2)
        got = {
            r.event_id: r[key] for r in spark.read.parquet(path).collect()
        }
        # the two-batch table must equal keying ALL rows against the
        # frozen create-time bounds in one shot (batch-2 rows clamp
        # into the top bins — same rule the create write applies)
        want = {
            r.event_id: r[key]
            for r in key_fn(ev, "value", "t", bits=8, bounds=bounds).collect()
        }
        assert got == want and len(got) == ev.count()


def test_deletion_neighborhood_lemma_property():
    """The completeness lemma fuzzy_join_edit1 rests on, property-
    tested without Spark: lev(a, b) <= 1 IMPLIES the {self + one-char
    deletions} neighborhoods intersect (no false negatives).  The
    converse is FALSE — hypothesis found 'aab'/'aba' (a transposition,
    lev 2) sharing 'aa' — which is exactly why the operator keeps the
    exact verify step after the key join."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def hood(s):
        return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}

    @given(st.text(alphabet="abc", max_size=6),
           st.text(alphabet="abc", max_size=6))
    @settings(max_examples=500)
    def check(a, b):
        if lev(a, b) <= 1:
            assert hood(a) & hood(b)

    check()
    # the converse is false: a transposition collides at distance 2
    assert lev("aab", "aba") == 2 and (hood("aab") & hood("aba"))


# ------------------------------------------------- round-4b: graph census --


def test_cooccurrence_edges_support_filter(spark):
    from hbase_gis_spark.operators.graph import cooccurrence_edges

    rows = [  # pair (1,2) in groups g1+g2; (1,3) only in g1; dup line
        ("g1", 1), ("g1", 2), ("g1", 3), ("g1", 1),
        ("g2", 1), ("g2", 2),
    ]
    df = spark.createDataFrame(rows, "g string, i bigint")
    got = {(r.a, r.b): r.support
           for r in cooccurrence_edges(df, "g", "i", min_support=2).collect()}
    assert got == {(1, 2): 2}  # (1,3) and (2,3) below support; dup ignored


def test_triangle_stats_hand_graph(spark):
    from hbase_gis_spark.operators.graph import triangle_stats

    # path-plus-triangle: edges (1,2),(1,3),(2,3),(3,4)
    # degrees 2,2,3,1 -> wedges 1+1+3+0 = 5; one triangle (1,2,3)
    edges = spark.createDataFrame(
        [(1, 2, 2), (1, 3, 2), (2, 3, 2), (3, 4, 2)],
        "a bigint, b bigint, support bigint",
    )
    r = triangle_stats(edges).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 4, 5, 1)
    assert r.clustering_milli == (3 * 1 * 1000) // 5


def test_triangle_stats_triangle_free(spark):
    from hbase_gis_spark.operators.graph import triangle_stats

    star = spark.createDataFrame(
        [(1, 2, 2), (1, 3, 2), (1, 4, 2)], "a bigint, b bigint, support bigint"
    )
    r = triangle_stats(star).collect()[0]
    assert (r.n_triangles, r.n_wedges, r.clustering_milli) == (0, 3, 0)


# ---------------------------------------------------- round-4b: CUSUM -----


def test_cusum_days_integer_replay(spark):
    from hbase_gis_spark.operators.timeseries import cusum_days

    us = 86_400_000_000
    # type a: counts [3, 0, 3] over days 0..2 -> N=3, S=6
    rows = ([(i, 0 * us + i, "a") for i in range(3)]
            + [(10 + i, 2 * us + i, "a") for i in range(3)])
    ev = spark.createDataFrame(rows, "event_id bigint, t bigint, event_type string")
    out = {r.day: r for r in
           cusum_days(ev, F.col("t"), threshold_milli=300).collect()}
    # cusum_scaled_k = N*prefix_k - k*S
    assert out[0].cusum_scaled == 3 * 3 - 1 * 6  # +3
    assert out[1].cusum_scaled == 3 * 3 - 2 * 6  # -3
    assert out[2].cusum_scaled == 3 * 6 - 3 * 6  # 0 (mean-anchored)
    # flag: 1000*|c| > 300 * N * S = 5400 -> none here
    assert [out[d].is_change for d in (0, 1, 2)] == [0, 0, 0]
    tight = {r.day: r.is_change for r in
             cusum_days(ev, F.col("t"), threshold_milli=100).collect()}
    # 1000*3 > 100*18 -> day 0 and 1 flag, day 2 cannot (exactly 0)
    assert tight == {0: 1, 1: 1, 2: 0}


# ------------------------------------------- round-4b: segment dedup ------


def test_segment_dup_stats_shared_block(spark):
    from hbase_gis_spark.operators.dedup import segment_dup_stats

    shared = "alpha beta gamma"  # one full 3-token segment
    rows = [
        (1, shared + " one two three"),   # segs: shared, "one two three"
        (2, shared + " four five six"),   # segs: shared, "four five six"
        (3, "seven eight nine"),          # unique single segment
        (4, "alpha beta"),                # short doc -> partial segment
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in
           segment_dup_stats(df, k=3, min_docs=2).collect()}
    assert (got[1].n_segments, got[1].dup_segments) == (2, 1)
    assert (got[2].n_segments, got[2].dup_segments) == (2, 1)
    assert abs(got[1].dup_frac - 0.5) < 1e-12
    assert (got[3].n_segments, got[3].dup_segments) == (1, 0)
    # partial trailing segment "alpha beta" != the full shared segment
    assert (got[4].n_segments, got[4].dup_segments) == (1, 0)


def test_segment_dup_stats_distinct_within_doc(spark):
    from hbase_gis_spark.operators.dedup import segment_dup_stats

    # a doc repeating its own segment: per-doc DISTINCT -> 1 segment,
    # not duplicated corpus-wide
    df = spark.createDataFrame(
        [(1, "x y x y")], "doc_id bigint, text string"
    )
    r = segment_dup_stats(df, k=2, min_docs=2).collect()[0]
    assert (r.n_segments, r.dup_segments) == (1, 0)


# ------------------------------------------- round-4b: IVF prototypes -----


def test_ivf_prototypes_picks_nearest(spark):
    import numpy as np

    from hbase_gis_spark.operators.similarity import ivf_prototypes

    # two unit centroids on the axes; vectors with known dots
    C = np.array([[1.0, 0.0], [0.0, 1.0]])
    rows = [
        (1, [0.9, 0.1]), (2, [0.8, 0.0]), (3, [0.7, 0.3]),
        (4, [0.1, 0.9]), (5, [0.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = [(r.cell, r.proto_rank, r.vec_id)
           for r in ivf_prototypes(df, C, k=2)
           .orderBy("cell", "proto_rank").collect()]
    # cell 0 dots: id1 .9, id2 .8, id3 .7 -> top2 = 1, 2
    # cell 1 dots: id4 .9, id5 .5 -> top2 = 4, 5
    assert got == [(0, 1, 1), (0, 2, 2), (1, 1, 4), (1, 2, 5)]


# ------------------------------------------- round-4b: Hilbert layout -----


def _xy2d_py(n, x, y):
    """Reference driver-side replay of the classic iterative xy->d."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_walk(spark):
    """bits=3: the engine key equals the classic xy2d on every cell of
    the full 8x8 grid (i.e. the curve is a bijection 0..63)."""
    from hbase_gis_spark.operators.layout import hilbert_key_2d

    n = 8
    # x/y values chosen so equal-width binning over [0, 7] is identity
    rows = [(x * n + y, float(x), float(y)) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = {r.id: r.hkey for r in hilbert_key_2d(df, "x", "y", bits=3).collect()}
    assert got == {x * n + y: _xy2d_py(n, x, y)
                   for x in range(n) for y in range(n)}
    assert sorted(got.values()) == list(range(n * n))  # bijective


def test_hilbert_unit_steps_are_adjacent(spark):
    """The locality property Z-order lacks: consecutive curve indices
    are always 4-neighbor cells (Morton jumps diagonally at
    power-of-two boundaries)."""
    from hbase_gis_spark.operators.layout import hilbert_key_2d

    n = 16
    rows = [(x * n + y, float(x), float(y)) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    by_key = {r.hkey: (r.id // n, r.id % n)
              for r in hilbert_key_2d(df, "x", "y", bits=4).collect()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_key[d], by_key[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, f"jump at d={d}"


def test_hilbert_null_nan_key_to_null(spark):
    from hbase_gis_spark.operators.layout import hilbert_key_2d

    rows = [(1, 0.0, 0.0), (2, None, 1.0), (3, float("nan"), 2.0),
            (4, 3.0, 3.0)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = {r.id: r.hkey for r in hilbert_key_2d(df, "x", "y", bits=4).collect()}
    assert got[2] is None and got[3] is None
    assert got[1] is not None and got[4] is not None


def test_write_hilbert_table_files_cover_disjoint_key_ranges(
    spark, tmp_path_factory
):
    from hbase_gis_spark.operators.layout import write_hilbert_table
    from hbase_gis_spark.sources.tables import load_table, ts_us
    from tests.conftest import SF0001

    ev = load_table(spark, SF0001, "events").select(
        "event_id", "value", ts_us().alias("t")
    )
    path = str(tmp_path_factory.mktemp("hilbert") / "ev")
    write_hilbert_table(ev, path, "value", "t", n_files=8)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("hkey").alias("lo"), F.max("hkey").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in spans)
    assert len(spans) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2


# --------------------------------------- round-4b: sampling & novelty -----


def test_group_sample_k_exact_size_and_determinism(spark):
    from hbase_gis_spark.operators.corpus import group_sample_k

    rows = [(i, "a" if i < 20 else "b") for i in range(26)]  # |a|=20, |b|=6
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out1 = group_sample_k(df, "source", 5).collect()
    by_src = {}
    for r in out1:
        by_src.setdefault(r.source, []).append((r.sample_rank, r.doc_id))
    assert len(by_src["a"]) == 5 and len(by_src["b"]) == 5
    assert sorted(r for r, _ in by_src["a"]) == [1, 2, 3, 4, 5]
    # deterministic: a second run picks the identical sample
    out2 = group_sample_k(df, "source", 5).collect()
    assert sorted((r.source, r.sample_rank, r.doc_id) for r in out1) == \
           sorted((r.source, r.sample_rank, r.doc_id) for r in out2)
    # k larger than the group keeps the whole group
    small = group_sample_k(df.filter("source = 'b'"), "source", 50).collect()
    assert len(small) == 6


def test_ngram_novelty_first_occurrence(spark):
    from hbase_gis_spark.operators.dedup import ngram_novelty

    rows = [
        (1, "a b c d"),          # grams: "a b c", "b c d" — both first
        (2, "a b c x"),          # "a b c" seen in doc 1; "b c x" novel
        (3, "a b c d"),          # exact re-crawl of doc 1: zero novelty
        (4, "q r"),              # too short: no grams, no row
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.n_grams, r.novel_grams) for r in
           ngram_novelty(df, n=3).collect()}
    assert got == {1: (2, 2), 2: (2, 1), 3: (2, 0)}


# ------------------------------------------- round-4b: snapshot diff ------


def test_snapshot_diff_semantics(spark):
    from hbase_gis_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "id bigint, s string, v bigint",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),      # unchanged -> no row
         (2, "B", 25),      # both columns changed
         (4, "d", 40),      # NULL -> value counts as a change
         (5, "e", 50)],     # added
        "id bigint, s string, v bigint",
    )
    got = {r.id: (r.change_type, r.changed_cols)
           for r in snapshot_diff(old, new, "id").collect()}
    assert got == {
        2: ("changed", "s,v"),
        3: ("removed", None),
        4: ("changed", "s"),
        5: ("added", None),
    }


def test_snapshot_diff_compare_cols_subset(spark):
    from hbase_gis_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, "a", 10)], "id bigint, s string, v bigint")
    new = spark.createDataFrame([(1, "a", 99)], "id bigint, s string, v bigint")
    # v excluded from comparison -> no diff row at all
    assert snapshot_diff(old, new, "id", compare_cols=["s"]).count() == 0


def _lpa_py(edges, iters=3):
    """Driver-side replay of the synchronous vote recurrence."""
    sym = {}
    for a, b in edges:
        sym.setdefault(a, []).append(b)
        sym.setdefault(b, []).append(a)
    labels = {v: v for v in sym}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in sym.items():
            counts = {}
            for nb in nbrs:
                counts[labels[nb]] = counts.get(labels[nb], 0) + 1
            nxt[v] = min(
                (lbl for lbl in counts),
                key=lambda x: (-counts[x], x),
            )
        labels = nxt
    return labels


def test_lpa_two_cliques_bridge(spark):
    from hbase_gis_spark.operators.graph import lpa_communities

    # two triangles joined by one bridge edge: LPA keeps them apart
    # (CC would merge everything into one component)
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(
        [(a, b, 2) for a, b in edges], "a bigint, b bigint, support bigint"
    )
    got = {r.v: r.community for r in lpa_communities(df).collect()}
    assert got == _lpa_py(edges)
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]


def test_lpa_matches_python_replay_random(spark):
    import random

    from hbase_gis_spark.operators.graph import lpa_communities

    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(30), 2)))
                    for _ in range(60)})
    df = spark.createDataFrame(
        [(a, b, 2) for a, b in edges], "a bigint, b bigint, support bigint"
    )
    got = {r.v: r.community for r in lpa_communities(df).collect()}
    assert got == _lpa_py(edges)


# ------------------------------------------- round-4b: drift monitors -----


def test_profile_diff_detects_degradation(spark):
    from hbase_gis_spark.operators.drift import profile_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id bigint, s string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id bigint, s string"
    )
    got = {r.column: r for r in profile_diff(old, new).collect()}
    assert (got["id"].rows_delta, got["id"].nulls_delta) == (-1, 0)
    assert got["id"].max_moved == 1            # max id 4 -> 3
    assert got["s"].nulls_delta == 1           # b -> NULL
    assert got["s"].distinct_delta == -2       # {a,b,c,d} -> {a,c}
    assert got["s"].min_moved == 0             # still 'a'


def test_value_psi_zero_on_identical_and_positive_on_shift(spark):
    from hbase_gis_spark.operators.drift import value_psi

    ref = spark.createDataFrame(
        [("k", float(v)) for v in range(1, 101)], "g string, v double"
    )
    same = value_psi(ref, ref, "g", "v", n_bins=10).collect()
    assert len(same) == 10
    assert all(r.psi == 0.0 for r in same)         # p == q exactly
    assert all(r.n_ref == 10 for r in same)        # exact decile bins
    shifted = spark.createDataFrame(
        [("k", float(v + 50)) for v in range(1, 101)], "g string, v double"
    )
    rows = {r.bin: r for r in
            value_psi(ref, shifted, "g", "v", n_bins=10).collect()}
    # mass left the bottom deciles and piled into the top bin
    assert rows[1].n_cur == 0 and rows[1].psi > 0
    assert rows[10].n_cur == 60
    total = sum(r.psi for r in rows.values())
    assert total > 0.25                            # "action" PSI regime


def test_value_psi_short_reference_group(spark):
    from hbase_gis_spark.operators.drift import value_psi

    # fewer ref rows than bins: duplicate cut ranks collapse, bins
    # still dense 1..n_bins, no crash, counts conserved
    ref = spark.createDataFrame(
        [("k", 1.0), ("k", 2.0), ("k", 3.0)], "g string, v double"
    )
    cur = spark.createDataFrame([("k", 2.5)], "g string, v double")
    rows = value_psi(ref, cur, "g", "v", n_bins=10).collect()
    assert len(rows) == 10
    assert sum(r.n_ref for r in rows) == 3
    assert sum(r.n_cur for r in rows) == 1


def test_psi_single_bin_has_no_cut(spark):
    """One bin has no boundary: every key keeps an empty cut array
    (``sequence(1, 0)`` is [1, 0] in Spark, which once cut at the
    maximum), every row lands in bin 1 with psi 0, and n_bins < 1 is
    refused."""
    from hbase_gis_spark.operators.drift import psi_cuts, value_psi

    ref = spark.createDataFrame(
        [("k", float(v)) for v in range(1, 11)]
        + [("j", float(v)) for v in range(1, 11)],
        "g string, v double",
    )
    cuts = {
        r["__k"]: r["__cuts"]
        for r in psi_cuts(ref, "g", "v", n_bins=1).collect()
    }
    assert cuts == {"k": [], "j": []}
    cur = spark.createDataFrame([("k", 20.0), ("k", 0.0)], "g string, v double")
    rows = sorted(
        (r.g, r.bin, r.n_ref, r.n_cur, r.psi)
        for r in value_psi(ref, cur, "g", "v", n_bins=1).collect()
    )
    assert rows == [("j", 1, 10, 0, 0.0), ("k", 1, 10, 2, 0.0)]
    for bad in (0, -1):
        with pytest.raises(ValueError):
            psi_cuts(ref, "g", "v", n_bins=bad)


def test_association_rules_hand_counts(spark):
    from hbase_gis_spark.operators.graph import association_rules

    # baskets: {1,2} x3, {1,3} x1, {2,3} x1 -> only (1,2) has support 2+
    rows = []
    for g, items in enumerate([(1, 2), (1, 2), (1, 2), (1, 3), (2, 3)]):
        rows += [(f"g{g}", i) for i in items]
    df = spark.createDataFrame(rows, "g string, i bigint")
    got = {(r.ante, r.cons): r for r in
           association_rules(df, "g", "i", min_support=2).collect()}
    assert set(got) == {(1, 2), (2, 1)}
    r12 = got[(1, 2)]
    # item supports: 1 in 4 baskets, 2 in 4 baskets; N=5 baskets
    assert (r12.support_ab, r12.support_a, r12.support_b) == (3, 4, 4)
    assert r12.confidence_milli == (1000 * 3) // 4          # 750
    assert r12.lift_milli == (1000 * 3 * 5) // (4 * 4)      # 937
    # confidence is asymmetric in general, symmetric here (same s_i)
    assert got[(2, 1)].confidence_milli == 750


def test_value_histogram_dense_and_clamped(spark):
    from hbase_gis_spark.operators.drift import value_histogram

    rows = [("k", float(v)) for v in range(0, 101)]  # 0..100
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.bin: r.n_values for r in
           value_histogram(df, "g", "v", n_bins=10).collect()}
    assert len(got) == 10                       # dense spine
    assert sum(got.values()) == 101             # every value binned
    assert got[9] == 11                         # 90..99 plus clamped 100
    assert all(got[b] == 10 for b in range(9))
    # degenerate range: everything in bin 0, spine still dense
    one = spark.createDataFrame([("k", 5.0)] * 3, "g string, v double")
    g1 = {r.bin: r.n_values for r in
          value_histogram(one, "g", "v", n_bins=10).collect()}
    assert g1[0] == 3 and len(g1) == 10 and sum(g1.values()) == 3


def test_global_quantile_cuts_match_naive_sort(spark):
    from hbase_gis_spark.operators.drift import global_quantile_cuts

    import random
    rng = random.Random(11)
    vals = [rng.uniform(-100, 100) for _ in range(997)]  # odd N, dups
    vals += [vals[0]] * 5
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.cut_idx: r.cut_value
           for r in global_quantile_cuts(df, "v", n_bins=10,
                                         n_shards=7).collect()}
    s = sorted(vals)
    n = len(s)
    expect = {i: s[(i * n + 9) // 10 - 1] for i in range(1, 10)}
    assert got == expect


def test_global_quantile_cuts_tiny_input(spark):
    from hbase_gis_spark.operators.drift import global_quantile_cuts

    # N < n_bins: duplicate cut ranks collapse to the highest cut_idx
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    got = {r.cut_idx: r.cut_value
           for r in global_quantile_cuts(df, "v", n_bins=10,
                                         n_shards=4).collect()}
    n = 3
    expect = {}
    for i in range(1, 10):
        expect[(i * n + 9) // 10] = i   # rank -> max i
    want = {i: float(rank) for rank, i in expect.items()}
    assert got == want


def test_spearman_known_correlations(spark):
    from hbase_gis_spark.operators.drift import spearman_corr

    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(1, 21)],
        "x double, y double",
    )
    r = spearman_corr(mono, "x", "y").collect()[0]
    assert r.rho == 1.0 and r.sum_d2_quarter == 0     # monotone -> 1
    anti = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 21)], "x double, y double"
    )
    assert spearman_corr(anti, "x", "y").collect()[0].rho == -1.0
    # ties: average (half-unit) ranks, replayed by scipy-free formula
    tied = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (2.0, 3.0), (3.0, 3.0)],
        "x double, y double",
    )
    r = spearman_corr(tied, "x", "y").collect()[0]
    # x ranks: 1.5, 1.5, 3, 4 ; y ranks: 1, 2, 3.5, 3.5 (half-units x2)
    d2q = (3-2)**2 + (3-4)**2 + (6-7)**2 + (8-7)**2
    assert r.sum_d2_quarter == d2q


def test_chi2_independence_cells(spark):
    from hbase_gis_spark.operators.drift import chi_square_independence

    # perfectly independent 2x2: every contrib is exactly 0
    rows = [("a", "x")] * 10 + [("a", "y")] * 10 \
        + [("b", "x")] * 10 + [("b", "y")] * 10
    df = spark.createDataFrame(rows, "u string, v string")
    got = chi_square_independence(df, "u", "v").collect()
    assert len(got) == 4
    assert all(r.contrib == 0.0 and r.expected == 10.0 for r in got)
    # fully dependent: chi2 == n
    dep = spark.createDataFrame(
        [("a", "x")] * 5 + [("b", "y")] * 5, "u string, v string"
    )
    tot = sum(r.contrib for r in
              chi_square_independence(dep, "u", "v").collect())
    assert abs(tot - 10.0) < 1e-9
