"""Property tests for the round-9 operators: random inputs against
independent brute-force Python models (no Spark, no SQL)."""

from __future__ import annotations

import hashlib
import math

from hypothesis import given, settings, strategies as st

from hbase_gis_spark.operators.corpus import negative_sample_k
from hbase_gis_spark.operators.drift import ks_two_sample
from hbase_gis_spark.operators.timeseries import (
    kendall_tau_xy,
    mann_kendall_trend,
)


@settings(max_examples=5, deadline=None)
@given(
    ref=st.lists(
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        min_size=0, max_size=25,
    ),
    cur=st.lists(
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        min_size=0, max_size=25,
    ),
)
def test_ks_matches_brute_force(spark, ref, cur):
    """ks_micro equals the brute-force scaled sup over the merged
    value grid, and ks_at_value is the smallest value achieving it
    (ties, negatives, NULLs, and one-sided keys included)."""
    rv = [v for v in ref if v is not None]
    cv = [v for v in cur if v is not None]
    rdf = spark.createDataFrame(
        [("k", v) for v in ref] or [("pad", 0)], "k string, v int"
    )
    cdf = spark.createDataFrame(
        [("k", v) for v in cur] or [("pad", 0)], "k string, v int"
    )
    rows = {
        r.k: r for r in ks_two_sample(rdf, cdf, "k", "v").collect()
    }
    if not rv and not cv:
        assert "k" not in rows
        return
    got = rows["k"]
    assert (got.n_ref, got.n_cur) == (len(rv), len(cv))
    if not rv or not cv:
        assert got.ks_micro == 1_000_000
        return
    grid = sorted(set(rv) | set(cv))
    best, at = -1, None
    for v in grid:
        d = abs(
            sum(1 for x in rv if x <= v) * len(cv)
            - sum(1 for x in cv if x <= v) * len(rv)
        )
        if d > best:
            best, at = d, v
    assert got.ks_micro == (1_000_000 * best) // (len(rv) * len(cv))
    assert got.ks_at_value == at


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=0, max_size=20,
    )
)
def test_kendall_matches_brute_force(spark, rows):
    """C/D/tie counts and tau-b equal the O(n^2) Python model, and
    mann_kendall_trend over the same days is its x = day case:
    S = C − D over the y signs, tau_milli truncated toward zero."""
    data = [(i, x, y) for i, (x, y) in enumerate(rows)]
    df = spark.createDataFrame(
        data or [(0, 0, 0)], "day int, x int, y int"
    )
    if not data:
        df = df.filter("day < 0")
    r = kendall_tau_xy(df, "day", "x", "y").collect()[0]
    n = len(data)
    C = D = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = (data[j][1] > data[i][1]) - (data[j][1] < data[i][1])
            sy = (data[j][2] > data[i][2]) - (data[j][2] < data[i][2])
            if sx * sy == 1:
                C += 1
            elif sx * sy == -1:
                D += 1
            elif sx == 0 and sy != 0:
                tx += 1
            elif sy == 0 and sx != 0:
                ty += 1
    assert (r.n_days, r.n_pairs) == (n, n * (n - 1) // 2)
    assert (r.n_concordant, r.n_discordant, r.n_tie_x, r.n_tie_y) == (
        C, D, tx, ty,
    )
    den = math.sqrt(float(C + D + tx)) * math.sqrt(float(C + D + ty))
    if den == 0.0:
        assert r.tau_b_r9 is None
    else:
        assert r.tau_b_r9 == round((C - D) / den, 9)

    m = mann_kendall_trend(df, "day", "y").collect()[0]
    S = sum(
        (data[j][2] > data[i][2]) - (data[j][2] < data[i][2])
        for i in range(n)
        for j in range(i + 1, n)
    )
    n_pairs = n * (n - 1) // 2
    assert (m.n_days, m.n_pairs, m.s_stat) == (n, n_pairs, S)
    if n < 2:
        assert m.tau_milli is None
    else:
        q = abs(1000 * S) // n_pairs
        assert m.tau_milli == (q if S >= 0 else -q)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@settings(max_examples=5, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=60),
    k=st.integers(min_value=1, max_value=5),
    pool=st.integers(min_value=1, max_value=16),
    groups=st.integers(min_value=1, max_value=4),
)
def test_negative_sample_matches_ticket_replay(spark, n, k, pool, groups):
    """The full output equals a pure-Python replay of the md5 ticket
    race: pool = smallest pool tickets, negatives = per-anchor k
    smallest pairwise tickets among cross-group pool members."""
    rows = [(i, f"g{i % groups}") for i in range(n)]
    df = spark.createDataFrame(
        rows or [(0, "g0")], "doc_id bigint, source string"
    )
    if not rows:
        df = df.filter("doc_id < 0")
    got = sorted(
        (r.doc_id, r.neg_id, r.neg_rank)
        for r in negative_sample_k(df, k, pool=pool).collect()
    )
    pool_ids = sorted(
        (i for i, _ in rows),
        key=lambda i: (_md5(f"negpool:{i}"), i),
    )[:pool]
    src = dict(rows)
    expect = []
    for a, g in rows:
        cands = sorted(
            (i for i in pool_ids if i != a and src[i] != g),
            key=lambda i: (_md5(f"neg:{a}:{i}"), i),
        )[:k]
        expect.extend((a, c, rk + 1) for rk, c in enumerate(cands))
    assert got == sorted(expect)
