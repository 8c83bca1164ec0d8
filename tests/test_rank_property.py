"""Property-based checks (hypothesis) for the boundary-literal sharded
rank machinery — the round-6 rewrite of operators/rank.py. Each
property compares against a brute-force python oracle on arbitrary
small integer multisets (ties, negatives, constants, singletons), the
shapes most likely to break shard-boundary arithmetic. The grouped
rank picks (grouped_percentiles, psi_cuts, winsorize) are checked
against an exact Fraction replay of the rank ⌈num·n/den⌉."""

import math
from fractions import Fraction

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

VALS = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=60
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(vals=VALS, n=st.integers(min_value=1, max_value=7))
@_SETTINGS
def test_sharded_ntile_property(spark, vals, n):
    """sharded_ntile == ANSI NTILE semantics for any multiset: bucket
    b of N rows gets N div n + 1 rows when b <= N % n else N div n,
    assigned in (v, id) order."""
    from hbase_gis_spark.operators.rank import sharded_ntile

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    got = {
        r.id: r.b
        for r in sharded_ntile(df, n, ["v", "id"], "b", n_shards=4)
        .collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    total = len(order)
    q, rem = divmod(total, n)
    want, pos = {}, 0
    for b in range(1, n + 1):
        size = (q + 1 if b <= rem else q) if q > 0 else (1 if b <= total else 0)
        for _ in range(size):
            if pos < total:
                want[order[pos][0]] = b if q > 0 else pos + 1
                pos += 1
    assert got == want


@given(vals=VALS)
@_SETTINGS
def test_half_ranks_property(spark, vals):
    """global_half_ranks == 2 * average tie rank for any multiset."""
    from hbase_gis_spark.operators.rank import global_half_ranks

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    got = {
        r.id: r["__hr2"]
        for r in global_half_ranks(df, "v", "id", n_shards=3).collect()
    }
    s = sorted(vals)
    want = {}
    for i, v in rows:
        lo = s.index(v) + 1  # min rank
        cnt = s.count(v)
        want[i] = 2 * lo + cnt - 1  # 2 * (lo + (cnt-1)/2)
    assert got == want


@given(vals=VALS)
@_SETTINGS
def test_batched_planning_matches_single(spark, vals):
    """shard_boundaries_multi / shard_size_maps_multi (optimization
    r11) produce exactly the per-column boundaries, shard-size maps,
    prefix offsets and totals of the single-key helpers, and
    sharded_ntiles assigns exactly sharded_ntile's buckets per spec."""
    from hbase_gis_spark.operators.rank import (
        apply_range_shards,
        prefix_offsets,
        shard_boundaries,
        shard_boundaries_multi,
        shard_offsets,
        shard_size_maps_multi,
        sharded_ntile,
        sharded_ntiles,
    )

    rows = [(i, v, (v * 7 + i) % 11) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id bigint, v bigint, w bigint")
    n_shards = 4
    bm = shard_boundaries_multi(df, ["v", "w"], n_shards)
    sh = df
    for j, c in enumerate(["v", "w"]):
        assert bm[c] == shard_boundaries(df, c, n_shards)
        sh = apply_range_shards(sh, c, bm[c], f"__shard{j}")
    maps = shard_size_maps_multi(sh, ["__shard0", "__shard1"])
    for j, c in enumerate(["v", "w"]):
        single = apply_range_shards(df, c, bm[c], f"__shard{j}")
        counts = single.groupBy(f"__shard{j}").count().collect()
        assert maps[j] == dict(map(tuple, counts))
        offsets, total = prefix_offsets(maps[j])
        off_s, tot_s = shard_offsets(
            single, c, len(bm[c]), n_shards, f"__shard{j}"
        )
        assert tot_s == total == len(vals)
        got = sorted(
            map(
                tuple,
                single.select(f"__shard{j}", off_s.alias("off"))
                .distinct()
                .collect(),
            )
        )
        assert got == offsets

    multi = {
        (r.id): (r.bv, r.bw)
        for r in sharded_ntiles(
            df,
            3,
            [(["v", "id"], "bv"), (["w", "id"], "bw")],
            n_shards=n_shards,
        ).collect()
    }
    sv = {
        r.id: r.bv
        for r in sharded_ntile(df, 3, ["v", "id"], "bv", n_shards).collect()
    }
    sw = {
        r.id: r.bw
        for r in sharded_ntile(df, 3, ["w", "id"], "bw", n_shards).collect()
    }
    assert multi == {i: (sv[i], sw[i]) for i in sv}


@given(
    vals=VALS,
    window=st.integers(min_value=2, max_value=9),
    n_shards=st.integers(min_value=1, max_value=24),
)
@_SETTINGS
def test_snm_lead_carry_matches_join(spark, vals, window, n_shards):
    """The r12 single-pass successor pairing (per-shard lead() +
    boundary carry) emits EXACTLY the window-candidate set of the old
    rank-equi-join form: every (a, b) with |global_rank(a) -
    global_rank(b)| < window, each exactly once — including when
    shards are smaller than the window (n_shards up to 24 over <= 60
    rows forces 1-3-row shards), ties everywhere, and singletons."""
    from hbase_gis_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, f"t{i} t{i} t{i}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, k bigint")
    got = sorted(
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            df,
            sort_col="k",
            window=window,
            threshold=0.0,  # keep every candidate: pairing is the SUT
            n_shards=n_shards,
        ).collect()
    )
    order = sorted(rows, key=lambda r: (r[2], r[0]))
    want = sorted(
        tuple(sorted((a[0], b[0])))
        for i, a in enumerate(order)
        for b in order[i + 1 : i + window]
    )
    assert got == want


def _ceil_rank(n: int, q: Fraction) -> int:
    """⌈q·n⌉ in exact rationals — the replay the engine's integer
    ``(num*n + den-1) div den`` rule is checked against."""
    return math.ceil(q * n)


def _is_nan(v) -> bool:
    return v is not None and v != v


# (group, value) with ties (values 0..5), NULL and NaN, up to 4 groups
# (one of them the NULL key), so groups of one row, groups smaller than
# n_bins and groups holding only NULL/NaN values all occur
ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        st.one_of(
            st.integers(min_value=0, max_value=5).map(float),
            st.none(),
            st.just(float("nan")),
        ),
    ),
    min_size=1,
    max_size=40,
)

PICKS = {"p50": (1, 2), "p07": (7, 100), "p55": (55, 100), "p90": (9, 10)}

_RANK_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# winsorize bands: the floats passed and the fractions they stand for
# (1 - 0.95 prints as 0.050000000000000044 but means 1/20)
BANDS = [
    ((0.07, 0.55), (Fraction(7, 100), Fraction(55, 100))),
    ((1 - 0.95, 0.95), (Fraction(1, 20), Fraction(19, 20))),
    ((0.0, 0.9), (Fraction(0), Fraction(9, 10))),
    ((0.5, 0.5), (Fraction(1, 2), Fraction(1, 2))),
]


@given(
    rows=ROWS,
    n_bins=st.sampled_from([2, 3, 4, 10]),
    band=st.sampled_from(BANDS),
)
@example(rows=[(0, 1.0)], n_bins=10, band=BANDS[0])
@example(
    rows=[(0, 2.0), (0, 2.0), (0, None), (0, float("nan")), (1, 3.0),
          (None, None), (None, 4.0)],
    n_bins=4,
    band=BANDS[2],
)
@_RANK_SETTINGS
def test_grouped_rank_picks_match_exact_replay(spark, rows, n_bins, band):
    """grouped_percentiles, psi_cuts and winsorize pick the value at
    rank ⌈num·n/den⌉ of each group's non-NULL, non-NaN values, with n
    counting only those values, exactly as a Fraction replay does:
    named picks per group, one psi boundary per distinct cut rank,
    and winsorize bounds with NULL/NaN values passed through and
    every row with a group key returned once."""
    from hbase_gis_spark.operators.corpus import winsorize
    from hbase_gis_spark.operators.drift import psi_cuts
    from hbase_gis_spark.operators.rank import grouped_percentiles

    data = [
        (i, None if g is None else f"g{g}", v) for i, (g, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "id bigint, g string, v double")
    ranked = {}
    for _, g, v in data:
        ranked.setdefault(g, [])
        if v is not None and not _is_nan(v):
            ranked[g].append(v)
    ranked = {g: sorted(vs) for g, vs in ranked.items() if vs}

    got = {
        r.g: (r["__n"], *(r[k] for k in PICKS))
        for r in grouped_percentiles(df, ["g"], "v", PICKS).collect()
    }
    want = {
        g: (
            len(s),
            *(
                s[_ceil_rank(len(s), Fraction(a, b)) - 1]
                for a, b in PICKS.values()
            ),
        )
        for g, s in ranked.items()
    }
    assert got == want

    got = {
        r["__k"]: list(r["__cuts"])
        for r in psi_cuts(df, "g", "v", n_bins).collect()
    }
    want = {
        g: sorted(
            s[k - 1]
            for k in {
                _ceil_rank(len(s), Fraction(i, n_bins)) for i in range(1, n_bins)
            }
        )
        for g, s in ranked.items()
    }
    assert got == want

    (p_lo, p_hi), (q_lo, q_hi) = band
    got = {
        r.id: r.win_v
        for r in winsorize(df, "v", "g", p_lo=p_lo, p_hi=p_hi).collect()
    }
    want = {}
    for i, g, v in data:
        if g is None:
            continue
        if v is None or _is_nan(v):
            want[i] = v
            continue
        s = ranked[g]
        lo = s[max(1, _ceil_rank(len(s), q_lo)) - 1]
        hi = s[_ceil_rank(len(s), q_hi) - 1]
        want[i] = min(max(v, lo), hi)
    assert {i: ("nan" if _is_nan(v) else v) for i, v in got.items()} == {
        i: ("nan" if _is_nan(v) else v) for i, v in want.items()
    }

    # a whole-frame pick is a single-task sort: the public helper refuses
    with pytest.raises(ValueError):
        grouped_percentiles(df, [], "v", PICKS)
