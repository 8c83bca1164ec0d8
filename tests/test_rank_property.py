"""Property-based checks (hypothesis) for the boundary-literal sharded
rank machinery — the round-6 rewrite of operators/rank.py. Each
property compares against a brute-force python oracle on arbitrary
small integer multisets (ties, negatives, constants, singletons), the
shapes most likely to break shard-boundary arithmetic."""

from hypothesis import HealthCheck, given, settings
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
