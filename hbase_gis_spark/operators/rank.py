"""EXACT ranks and rank picks, never a single-task global sort.

Global ranks: ``row_number() OVER (ORDER BY v)`` sorts the whole
table in one task. Here the order column's domain is split into
``n_shards`` ordered, DISJOINT value ranges (equal keys share a
shard), each shard ranks locally in parallel, and the global rank is
the local rank plus the row count of earlier shards: a driver-side
prefix over ``n_shards`` integers, constant in table size, written
once as a plan-literal CASE over the shard id
(:func:`shard_offset_col` over :func:`shard_case_sql`, the text the
``sqlapi`` statements embed), so no offsets frame is built or joined.
Consumers: :func:`sharded_ntile` (rfm_segments, balance_deciles),
:func:`global_percentiles` (sketch_stats, theil_sen_slope),
:func:`global_half_ranks` (spearman_corr, shuffle_audit),
:func:`quantile_transform`, and every sharded rank or cumulative sum
in drift, corpus and dedup. Partition-less ``Window.orderBy`` is
counted by the AST check in tests/test_plan_hygiene.py.

Rank picks: every "value at rank ⌈q·n⌉" in the engine takes its rank
from :func:`cut_rank`. :func:`grouped_percentiles` is the per-group
twin of :func:`global_percentiles` (grouped_median,
grouped_quantiles, inter_arrival_median, winsorize); psi_cuts
filters its ranked frame (:func:`grouped_ranks`) at every cut rank.
The one partition-less pick, :func:`_bounded_percentiles`, serves
mad_anomalies' calendar-bounded frame only.

Determinism & fault tolerance: shard ids derive from n_shards-1
BOUNDARY LITERALS, collected once by a bounded ``approxQuantile``
sketch pass and frozen into the plan, so a retried task lands every
row in the same shard with no pinning materialization (an eager
``localCheckpoint`` of a ``spark_partition_id()`` would truncate
lineage and double-store the frame). Offsets re-anchor every shard's
ranks wherever the cuts fall: sketch accuracy buys balance, not
correctness.

Tie-mass skew contract: equal keys MUST share a shard (the tie-count
identity in :func:`global_half_ranks` needs it), so a heavily
quantized or near-constant order column funnels its tie mass into
one shard and degenerates back toward a single-task sort. The
bounded shard-size collect doubles as the guard: when the fattest
shard holds more than ``max(25%, 4/n_shards)`` of the rows a
``RuntimeWarning`` names the column and the fraction (pinned in
tests/test_round5_ops.py). Rank a finer quantization or add a
tiebreak column.

Overflow bound: boundaries come from a double sketch, so integral
order columns beyond 2**53 could disagree with native ordering near
a cut; ranked columns here are milli/cent units << 2**53.

Persists: operator-level persists (drift.spearman_corr, dedup,
similarity, textstats) stay lineage-kept because the returned
DataFrame reads them lazily; release is the caller's
``spark.catalog.clearCache()`` between units of work (bench.py
clears before every timed query) or the ContextCleaner.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def shard_boundaries(
    df: DataFrame, col: str, n_shards: int
) -> list[int | float]:
    """n_shards-1 ascending, deduplicated cut values for ``col``,
    collected once (bounded Greenwald-Khanna sketch pass — O(1/err)
    driver memory, never O(rows)) and intended to be frozen into the
    plan as literals. Integral columns get integral boundaries
    (floor) so shard comparison happens in the column's native type
    — no double-cast ordering disagreement."""
    if n_shards <= 1:
        return []
    dtype = dict(df.dtypes)[col]
    probs = [i / n_shards for i in range(1, n_shards)]
    err = max(0.001, 0.25 / n_shards)
    raw = (
        df.select(F.col(col).cast("double").alias("__aq"))
        .filter(F.col("__aq").isNotNull() & ~F.isnan("__aq"))
        .stat.approxQuantile("__aq", probs, err)
    )
    vals = [b for b in raw if b == b]  # drop NaN defensively
    if dtype in _INTEGRAL_TYPES:
        vals = [int(b // 1) for b in vals]
    return sorted(set(vals))


def _sql_literal(v) -> str | None:
    """Exact SQL rendering of an int/float boundary literal, or None
    for a non-numeric value (:func:`apply_range_shards` rejects it;
    :func:`apply_pair_range_shards` falls back to the Column API for
    string tiebreak cuts). Floats render via ``DOUBLE('<repr>')``:
    repr round-trips every double exactly (incl. inf) and the quoted
    form parses as DOUBLE, never DECIMAL."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"DOUBLE('{v!r}')"
    return None


def range_shard_sql(key_sql: str, bounds: list) -> str | None:
    """The shard id as SQL text: how many boundary literals the
    ``key_sql`` expression exceeds. None when a boundary has no SQL
    literal (:func:`_sql_literal`); ±inf and NaN render as quoted
    DOUBLEs. Shared by :func:`apply_range_shards` and the ``sqlapi``
    statement generators."""
    lits = [_sql_literal(b) for b in bounds]
    if any(x is None for x in lits):
        return None
    terms = " + ".join(f"IF({key_sql} > {x}, 1, 0)" for x in lits) or "0"
    return f"CAST(({terms}) AS INT)"


def ntile_bucket_sql(total: int, n: int, gr: str = "__gr") -> str:
    """ANSI ``NTILE(n)`` bucket of the 1-based global row number
    ``gr`` among ``total`` rows, as SQL text: the first ``total % n``
    buckets hold ``total div n + 1`` rows, the rest ``total div n``;
    with fewer rows than buckets, row r is bucket r."""
    q, rem = divmod(total, n)
    if q == 0:
        return gr
    head = rem * (q + 1)  # rows covered by the q+1-sized buckets
    return (
        f"(CASE WHEN {gr} <= {head} THEN ({gr} + {q}) div {q + 1} "
        f"ELSE {rem} + ({gr} - {head} + {q - 1}) div {q} END)"
    )


def apply_range_shards(
    df: DataFrame,
    key: str,
    bounds: list,
    shard_col: str = "__shard",
) -> DataFrame:
    """Attach the DETERMINISTIC shard id (= how many boundary literals
    the row's key exceeds — retry-safe, no materialization) as
    ``shard_col``. NULL keys compare NULL against every boundary and
    land in shard 0, matching ASC NULLS FIRST window order; NaN
    compares greater than every boundary (Spark NaN ordering) and
    lands in the last shard, matching NaN-sorts-last.

    Built as ONE SQL expression string (optimization r12): the former
    chained-``F.when`` construction issued ~4 py4j calls per boundary
    — ~0.8-1.1 s of pure driver time per call at n_shards=64, paid by
    EVERY rank consumer (guide §1.2: the planning edge must be cheap,
    not just bounded). ``IF(key > b, 1, 0)`` is the identical
    expression (NULL condition → 0, same NaN/type coercions)."""
    sql = range_shard_sql(f"`{key}`", bounds)
    if sql is None:
        raise TypeError(
            f"apply_range_shards: boundaries of {key!r} must be int or "
            f"float SQL literals, got {bounds!r}"
        )
    return df.withColumn(shard_col, F.expr(sql))


def warn_tie_mass(
    sizes: dict[int, int],
    key: str,
    n_bounds: int,
    n_shards: int,
) -> int:
    """Raise the tie-mass skew ``RuntimeWarning`` when one shard holds
    > max(25%, 4/n_shards) of the rows AND far above the ideal share
    (the module-header contract: equal keys cannot split). Returns the
    total row count. Shared by the offsets helpers and callers that
    consume raw size maps directly."""
    total = sum(sizes.values())
    if total and len(sizes) >= 1 and n_shards > 1:
        max_size = max(sizes.values())
        max_frac = max_size / total
        n_eff = n_bounds + 1
        # skew = fattest shard far above the IDEAL ceil(total/n_shards)
        # AND a dominant fraction — the absolute leg keeps tiny frames
        # (where even perfect balance is a big fraction) quiet
        ideal = -(-total // n_shards)
        if max_frac > max(0.25, 4.0 / n_shards) and max_size > 4 * ideal:
            warnings.warn(
                f"range_sharded tie-mass skew on {key!r}: fattest shard "
                f"holds {max_frac:.0%} of {total} rows across {n_eff} "
                "effective shards (equal keys cannot split). Rank a "
                "finer quantization or add a tiebreak column.",
                RuntimeWarning,
                stacklevel=5,
            )
    return total


def prefix_offsets(sizes: dict[int, int]) -> tuple[list[tuple[int, int]], int]:
    """(shard, number of rows in earlier shards) in shard order, and
    the total row count, from a per-shard size map."""
    offsets, acc = [], 0
    for sid in sorted(sizes):
        offsets.append((int(sid), int(acc)))
        acc += sizes[sid]
    return offsets, int(acc)


def shard_case_sql(mapping: list[tuple[int, int]], shard_col: str) -> str:
    """An id -> BIGINT mapping (shard -> prefix offset, shard -> dense
    index, global rank -> cut index) as ONE CASE projection over
    ``shard_col``, the values plan literals: no dim frame is built or
    joined. Ids outside the mapping take 0. Shared by every sharded rank and cumulative sum here, in
    drift, corpus and dedup, and by the ``sqlapi`` statements."""
    if not mapping:
        return "CAST(0 AS BIGINT)"
    whens = " ".join(
        f"WHEN {sid} THEN CAST({v} AS BIGINT)" for sid, v in mapping
    )
    return f"(CASE {shard_col} {whens} ELSE CAST(0 AS BIGINT) END)"


def shard_offset_col(
    sizes: dict[int, int],
    key: str,
    n_bounds: int,
    n_shards: int,
    shard_col: str,
) -> tuple[Column, int]:
    """The offset step of every sharded rank: the tie-mass skew
    warning, then the prefix offsets of the per-shard size map as a
    plan-literal Column over ``shard_col`` (``local rank + offset`` is
    the global rank), and the total row count."""
    warn_tie_mass(sizes, key, n_bounds, n_shards)
    offsets, total = prefix_offsets(sizes)
    return F.expr(shard_case_sql(offsets, shard_col)), total


def shard_offsets(
    sharded: DataFrame,
    key: str,
    n_bounds: int,
    n_shards: int,
    shard_col: str = "__shard",
) -> tuple[Column, int]:
    """Bounded collect of per-shard sizes (one integer per shard —
    never grows with data; recomputable, so losing an executor
    replays lineage instead of killing the job), then
    :func:`shard_offset_col`: returns the prefix-offset Column and the
    total row count, and raises the tie-mass skew RuntimeWarning when
    one shard holds > max(25%, 4/n_shards) of the rows."""
    sizes = {
        r[shard_col]: r["cnt"]
        for r in sharded.groupBy(shard_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    return shard_offset_col(sizes, key, n_bounds, n_shards, shard_col)


def shard_boundaries_multi(
    df: DataFrame, cols: list[str], n_shards: int
) -> dict[str, list]:
    """:func:`shard_boundaries` for SEVERAL columns in ONE bounded
    sketch pass (optimization r11; guide §1.2 — the per-call eager
    sketch job was the dominant build cost of multi-metric rank
    consumers). ``approxQuantile`` computes each column independently
    with the same Greenwald–Khanna sketch and error, so the per-column
    cuts are identical to ``shard_boundaries(df, col, n_shards)``
    (pinned by tests/test_rank_property.py).

    NaN and null values are excluded per column inside the combined
    projection (NaN → null, and nulls are ignored by the sketch), so
    the cuts match the single-column helper for all inputs — the old
    "caller must pre-filter NaN" contract is gone (ADVICE r11 #3)."""
    if n_shards <= 1:
        return {c: [] for c in cols}
    dtypes = dict(df.dtypes)
    probs = [i / n_shards for i in range(1, n_shards)]
    err = max(0.001, 0.25 / n_shards)
    # NaN-proofing (ADVICE r11 #3): null-out NaN per floating column in
    # the projection itself — nulls are ignored by the sketch, so the
    # batched cuts match the single-column helper (which pre-filters
    # NaN per column) for ALL inputs, not just pre-filtered callers.
    # Integral/decimal columns cannot hold NaN; skip the branch there.
    def _clean(c: str, i: int):
        e = F.col(c).cast("double")
        if dtypes[c] in ("float", "double"):
            e = F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(e)
        return e.alias(f"__aq{i}")

    proj = df.select(*[_clean(c, i) for i, c in enumerate(cols)])
    raws = proj.stat.approxQuantile(
        [f"__aq{i}" for i in range(len(cols))], probs, err
    )
    out: dict[str, list] = {}
    for c, raw in zip(cols, raws):
        vals = [b for b in raw if b == b]  # drop NaN defensively
        if dtypes[c] in _INTEGRAL_TYPES:
            vals = [int(b // 1) for b in vals]
        out[c] = sorted(set(vals))
    return out


def shard_size_maps_multi(
    sharded: DataFrame,
    shard_cols: list[str],
) -> list[dict[int, int]]:
    """Per-shard row counts for SEVERAL shard columns of ONE frame in
    ONE aggregate job: each shard column's rows explode to
    (which-column, shard) pairs that the map-side partial aggregate
    collapses to at most ``len(shard_cols) * n_shards`` groups before
    the exchange — the collect is bounded exactly like
    :func:`shard_offsets`. Returns one ``{shard_id: count}`` map per
    shard column, POSITIONALLY aligned with ``shard_cols`` (so
    duplicate key labels cannot collide — ADVICE r11 #1)."""
    arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("k"),
                F.col(sc).cast("int").alias("s"),
            )
            for i, sc in enumerate(shard_cols)
        ]
    )
    rows = (
        sharded.select(F.explode(arr).alias("e"))
        .groupBy(F.col("e.k").alias("k"), F.col("e.s").alias("s"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    return [
        {r["s"]: r["cnt"] for r in rows if r["k"] == i}
        for i in range(len(shard_cols))
    ]


def pair_shard_boundaries(
    df: DataFrame,
    vcol: str,
    tcol: str,
    n_shards: int,
    sample_per_shard: int = 128,
) -> list[tuple]:
    """``n_shards - 1`` ascending, deduplicated LEXICOGRAPHIC cut
    pairs for the total order ``(vcol, tcol)`` — the tie-splitting
    variant of :func:`shard_boundaries`. A single-column range shard
    cannot split equal keys (the tie-mass contract above), so an
    all-ties order column degenerates to one shard; cutting on the
    (value, tiebreak) PAIR splits the tie mass while every cut still
    respects the lexicographic order, so ``local row_number + prefix
    offset`` stays an exact global rank.

    Boundaries come from a bounded DETERMINISTIC sample (Spark's own
    RangePartitioner recipe): the ``n_shards * sample_per_shard``
    rows smallest under a hash order — a per-partition bounded heap
    (TakeOrderedAndProject), never a global sort — collected once
    driver-side (a planning edge constant in table size, the
    shard_offsets argument), sorted, and cut at even ranks. Sample
    skew only affects BALANCE, never correctness: offsets re-anchor
    every shard's ranks regardless of where the cuts fall."""
    if n_shards <= 1:
        return []
    cap = n_shards * sample_per_shard
    samp = (
        df.select(F.col(vcol).alias("__sv"), F.col(tcol).alias("__st"))
        .filter(F.col(vcol).isNotNull())
        .orderBy(
            F.xxhash64(F.col(vcol), F.col(tcol)).asc(),
            F.col(vcol).asc(),
            F.col(tcol).asc(),
        )
        .limit(cap)
        .collect()
    )
    pairs = sorted((r["__sv"], r["__st"]) for r in samp)
    if not pairs:
        return []
    cuts = []
    for i in range(1, n_shards):
        idx = (i * len(pairs)) // n_shards
        if 0 < idx < len(pairs):
            cuts.append(pairs[idx - 1])
    return sorted(set(cuts))


def apply_pair_range_shards(
    df: DataFrame,
    vkey: str,
    tkey: str,
    bounds: list[tuple],
    shard_col: str = "__shard",
) -> DataFrame:
    """Attach the deterministic shard id for the LEXICOGRAPHIC order
    ``(vkey, tkey)``: how many boundary pairs the row strictly
    exceeds under ``(v > bv) OR (v = bv AND t > bt)``. NULL
    tiebreaks never exceed an equal-value cut, matching the window's
    ASC NULLS FIRST ordering of ``tkey``. One SQL expression string
    when every cut is int/float (the apply_range_shards py4j-cost
    note); Column-API fallback otherwise."""
    lits = [(_sql_literal(bv), _sql_literal(bt)) for bv, bt in bounds]
    if bounds and all(a is not None and b is not None for a, b in lits):
        terms = " + ".join(
            f"IF(`{vkey}` > {a} OR (`{vkey}` = {a} AND `{tkey}` > {b})"
            ", 1, 0)"
            for a, b in lits
        )
        return df.withColumn(
            shard_col, F.expr(f"CAST(({terms}) AS INT)")
        )
    shard = F.lit(0)
    for bv, bt in bounds:
        gt = (F.col(vkey) > F.lit(bv)) | (
            (F.col(vkey) == F.lit(bv)) & (F.col(tkey) > F.lit(bt))
        )
        shard = shard + F.when(gt, 1).otherwise(0)
    return df.withColumn(shard_col, shard.cast("int"))


def range_sharded(
    df: DataFrame,
    order_cols: list[str],
    n_shards: int = 64,
) -> tuple[DataFrame, Column, int]:
    """Shard ``df`` into ordered, disjoint ranges of
    ``order_cols[0]`` and return ``(sharded, off, total)``:
    ``sharded`` carries every input column plus ``__shard``
    (:func:`apply_range_shards`), ``off`` is the number of rows in
    earlier shards as a plan-literal Column over ``__shard``
    (:func:`shard_offsets`), and ``total`` is the overall row count.
    ``local rank + off`` is then an exact global rank.

    Sharding on the FIRST order column alone is sufficient for any
    ``order_cols`` suffix: rows strictly below a cut precede every
    row above it under the full lexicographic order, and first-key
    ties (which the suffix may reorder) always share a shard."""
    key = order_cols[0]
    bounds = shard_boundaries(df, key, n_shards)
    sharded = apply_range_shards(df, key, bounds)
    off, total = shard_offsets(sharded, key, len(bounds), n_shards)
    return sharded, off, total


def half_rank2(order_col: str, shard_col: str, off: Column) -> Column:
    """``2 * average rank`` of ``order_col`` as an exact BIGINT: local
    ``rank()`` plus the shard offset is the global min-rank, and the
    per-(shard, value) count is the global tie count because range
    shards never split a tie group, so ``2 * (min_rank + (ties-1)/2)``
    is ``(rank + off) * 2 + ties - 1``."""
    w = Window.partitionBy(shard_col).orderBy(F.col(order_col).asc())
    tie = Window.partitionBy(shard_col, order_col)
    return (F.rank().over(w) + off) * 2 + F.count(F.lit(1)).over(tie) - 1


def sharded_ntile(
    df: DataFrame,
    n: int,
    order_cols: list[str],
    out_col: str,
    n_shards: int = 64,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY order_cols)`` with no single-task
    sort. Semantics are exactly Spark/ANSI NTILE: with N rows the
    first ``N % n`` buckets hold ``N div n + 1`` rows, the rest
    ``N div n`` — derived arithmetically from the sharded global
    row_number, all integer ops, engine-exact. ``order_cols`` must be
    a total order (append a key tiebreak) for deterministic output."""
    sharded, off, total = range_sharded(df, order_cols, n_shards)
    w = Window.partitionBy("__shard").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    ranked = sharded.withColumn("__gr", F.row_number().over(w) + off)
    return (
        ranked.withColumn(
            out_col, F.expr(ntile_bucket_sql(total, n)).cast("int")
        )
        .drop("__shard", "__gr")
    )


def sharded_ntiles(
    df: DataFrame,
    n: int,
    specs: list[tuple[list[str], str]],
    n_shards: int = 64,
) -> DataFrame:
    """SEVERAL :func:`sharded_ntile` scores over ONE frame with the
    planning edge batched (optimization r11): one multi-column
    boundary sketch + one multi-key shard-size aggregate replace the
    former ``2 * len(specs)`` eager driver jobs, and the per-metric
    rank windows chain in one lazy plan (no intermediate persists
    needed — nothing eager consumes the intermediates anymore).

    ``specs`` is a list of ``(order_cols, out_col)``; each metric's
    bucket is EXACTLY what ``sharded_ntile(df, n, order_cols,
    out_col)`` assigns (same boundaries, same offsets, same total,
    same ANSI NTILE arithmetic). Caller contract: the first column of
    every spec must be NaN-free (the :func:`shard_boundaries_multi`
    batch contract); each spec's ``order_cols`` must be a total order
    for deterministic output."""
    keys = [order_cols[0] for order_cols, _ in specs]
    shard_cols = [f"__shard{i}" for i in range(len(keys))]
    bmap = shard_boundaries_multi(df, keys, n_shards)
    cur = df
    for key, sc in zip(keys, shard_cols):
        cur = apply_range_shards(cur, key, bmap[key], sc)
    size_maps = shard_size_maps_multi(cur, shard_cols)
    out = cur
    for (order_cols, out_col), key, sc, sizes in zip(
        specs, keys, shard_cols, size_maps
    ):
        off, total = shard_offset_col(
            sizes, key, len(bmap[key]), n_shards, sc
        )
        w = Window.partitionBy(sc).orderBy(
            *[F.col(c).asc() for c in order_cols]
        )
        out = out.withColumn("__gr", F.row_number().over(w) + off)
        out = out.withColumn(
            out_col, F.expr(ntile_bucket_sql(total, n)).cast("int")
        ).drop("__gr")
    return out.drop(*shard_cols)


def cut_rank(n, num, den: int):
    """The 1-based rank ⌈num·n/den⌉, written once as
    ``(num*n + den-1) div den``: the operands are never negative, so
    Python ``//``, Spark ``div`` and DuckDB ``//`` agree. ``n`` and
    ``num`` are ints (a plan-literal rank) or Columns."""
    top = num * n + (den - 1)
    if isinstance(top, Column):
        return F.call_function("div", top, F.lit(den))
    return top // den


def _picks(rank_col: str, n, value_col: str, picks: dict) -> list[Column]:
    """Per ``name: (num, den)``, the value at rank ``cut_rank(n, num,
    den)`` as a conditional aggregate: a rank holds one row."""
    return [
        F.max(
            F.when(F.col(rank_col) == cut_rank(n, num, den), F.col(value_col))
        ).alias(name)
        for name, (num, den) in picks.items()
    ]


def global_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: dict[str, tuple[int, int]],
    n_shards: int = 64,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """One row holding the EXACT value at global rank
    ``ceil(num*N/den)`` for each ``name: (num, den)`` requested —
    pure rank selection, no value arithmetic, so the outputs are
    engine-exact doubles (the global_quantile_cuts convention,
    generalized from evenly spaced cuts to arbitrary fractions).
    NULL/NaN values are dropped before ranking. The requested ranks
    are plan literals, so selection is a conditional aggregate (the
    ``sqlapi.global_percentiles_sql`` form) — no join.

    ``tiebreak_col`` (a deterministic, preferably near-unique column,
    e.g. ``xxhash64`` of the row's natural key) switches sharding to
    the lexicographic ``(value, tiebreak)`` pair so heavy tie mass in
    the value column SPLITS across shards instead of funneling into
    one (the rank.py header's tie-mass contract — theil_sen's
    all-ties slope frame was the motivating case). The selected
    values are unchanged: ties carry equal values, so the value at
    global rank k under ``(v, t)`` order IS the k-th smallest v."""
    cols = [F.col(value_col).cast("double").alias("__v")]
    if tiebreak_col is not None:
        cols.append(F.col(tiebreak_col).alias("__t"))
    prepped = df.select(*cols)
    prepped = prepped.filter(rankable(prepped, "__v"))
    if tiebreak_col is not None:
        bounds = pair_shard_boundaries(prepped, "__v", "__t", n_shards)
        sharded = apply_pair_range_shards(prepped, "__v", "__t", bounds)
        off, total = shard_offsets(
            sharded, f"({value_col},{tiebreak_col})", len(bounds), n_shards
        )
    else:
        sharded, off, total = range_sharded(prepped, ["__v"], n_shards)
    order = [F.col("__v").asc()]
    if tiebreak_col is not None:
        # window order must match the pair cuts' lexicographic order
        order.append(F.col("__t").asc())
    w = Window.partitionBy("__shard").orderBy(*order)
    ranked = sharded.select(
        (F.row_number().over(w) + off).alias("__gr"), "__v"
    )
    return ranked.agg(*_picks("__gr", total, "__v", percentiles))


def rankable(df: DataFrame, value_col: str) -> Column:
    """Rows whose ``value_col`` is ranked: not NULL, and not NaN."""
    v = F.col(value_col)
    if dict(df.dtypes)[value_col] in ("float", "double"):
        return v.isNotNull() & ~F.isnan(v)
    return v.isNotNull()


def _ranks(df: DataFrame, group_cols: list[str], value_col: str, w):
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return df.select(
        *group_cols,
        value_col,
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(whole).alias("__n"),
    )


def _pick_rows(ranked, group_cols: list[str], value_col: str, picks: dict):
    return ranked.groupBy(*group_cols).agg(
        F.max("__n").alias("__n"),
        *_picks("__r", F.col("__n"), value_col, picks),
    )


def grouped_ranks(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """(``group_cols``, ``value_col``, ``__r`` = row number in value
    order, ``__n`` = group size) of every row, from ONE window whose
    exchange is the only shuffle; drop non-:func:`rankable` rows
    first. No group columns is an error: rank a whole frame with
    :func:`global_percentiles`, never in one task."""
    if not group_cols:
        raise ValueError("grouped_ranks needs at least one group column")
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    return _ranks(df, group_cols, value_col, w)


def grouped_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    picks: dict[str, tuple[int, int]],
) -> DataFrame:
    """One row per group holding a :func:`rankable` value:
    ``group_cols``, ``__n`` (the ranked values) and, per ``name: (num,
    den)``, the value (type kept) at rank :func:`cut_rank`
    ⌈num·n/den⌉, NULL for rank 0. One shuffle: :func:`grouped_ranks`
    plus a conditional aggregate."""
    kept = df.filter(rankable(df, value_col))
    ranked = grouped_ranks(kept, group_cols, value_col)
    return _pick_rows(ranked, group_cols, value_col, picks)


def _bounded_percentiles(df: DataFrame, value_col: str, picks: dict):
    """:func:`grouped_percentiles` over a whole CALENDAR-BOUNDED frame
    (mad_anomalies' |days| rows) in ONE partition-less rank window,
    one task; no row when nothing is ranked."""
    w = Window.orderBy(F.col(value_col).asc())
    ranked = _ranks(df.filter(rankable(df, value_col)), [], value_col, w)
    out = _pick_rows(ranked, [], value_col, picks)
    return out.filter(F.col("__n").isNotNull())


def global_half_ranks(
    df: DataFrame,
    col: str,
    id_col: str,
    n_shards: int = 64,
) -> DataFrame:
    """(id, ``2 * average rank`` of ``col``) with no single-task sort
    — the Spearman building block. Average tie rank = min_rank +
    (tie_count - 1)/2 is always whole or half, so it is carried
    DOUBLED in exact BIGINTs (:func:`half_rank2`)."""
    sharded, off, _ = range_sharded(df.select(id_col, col), [col], n_shards)
    return sharded.select(
        id_col, half_rank2(col, "__shard", off).alias("__hr2")
    )


def quantile_transform(
    df: DataFrame,
    col: str,
    id_col: str,
    n_shards: int = 64,
) -> DataFrame:
    """Global quantile (rank) normalization of a column — the
    feature transform that maps any distribution to ~uniform [0, 1]
    before training, expressed exactly: per row
    ``pct_milli = floor(1000 * avg_rank / n)`` with average tie
    ranks. Output: (``id_col``, ``col``, pct_milli).

    Rank on an INTEGER column (round to milli units first): ranking
    raw doubles risks engine tie-order differences; ranking the
    quantized integer makes ties identical everywhere.

    Scale shape: the global_half_ranks sharded machinery — boundary
    literals, per-shard rank windows in parallel, a bounded
    n_shards-integer driver prefix, and the total row count as a plan
    LITERAL (known from the same bounded collect) — never a
    single-task global sort, no totals join."""
    sharded, off, total = range_sharded(
        df.select(id_col, col), [col], n_shards
    )
    return sharded.select(
        id_col, col, half_rank2(col, "__shard", off).alias("__hr2")
    ).select(
        id_col,
        col,
        F.expr(f"(__hr2 * 1000) div {max(1, 2 * total)}").alias(
            "pct_milli"
        ),
    )
