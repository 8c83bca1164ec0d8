"""Snapshot + delta merge (upsert) — HBase's Put semantics lifted to
table level.

The reference's store IS an upsert table: a later Put to the same
rowkey wins (SURVEY.md §1.4; Ingest.java:78-83). In a lakehouse
pipeline the same need appears as CDC/delta application: merge a new
batch into a snapshot, latest version per key wins. Without a table
format doing it for you, the portable implementation is
union → per-key rank → keep 1, which is exactly one hash shuffle on
the key — the minimum any engine needs for a global per-key decision.

At scale: the window partitions by the merge key (uniform id-like
keys — no skew), and AQE handles the union's mixed partition sizes.
Deletes ride along as tombstone rows (``tombstone_col``) that win the
rank and are then dropped — the log-structured-merge idea in one
DataFrame expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hbase_gis_spark.operators.topx import top_x


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_col: str,
    version_col: str,
    tombstone_col: str | None = None,
) -> DataFrame:
    """Last-write-wins merge of ``updates`` into ``base``.

    The winner per key is the highest ``version_col``; on version ties
    the updates side wins (matching an upsert store, where the later
    write replaces). Rows whose winning record is a tombstone are
    deleted. Output schema = base schema."""
    cols = base.columns
    lo = base.select(*cols).withColumn("__pri", F.lit(0))
    hi = updates.select(*cols).withColumn("__pri", F.lit(1))
    merged = top_x(
        lo.unionByName(hi), key_col, F.col(version_col).desc(), 1,
        tiebreak_col=F.col("__pri").desc(),
    ).drop("__pri")
    if tombstone_col is not None:
        merged = merged.filter(
            ~F.coalesce(F.col(tombstone_col), F.lit(False))
        )
    return merged


def scd2_intervals(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Change log → type-2 slowly-changing-dimension rows: one row per
    (key, attribute run) with [valid_from, valid_to) interval bounds
    (null valid_to = current). Consecutive records with an unchanged
    attribute collapse into one interval (the run's first timestamp).

    Two windows over the same (key, ts, tiebreak) order — the second
    runs on the collapsed (much smaller) frame. One hash shuffle on
    the key; the explicit ``tiebreak_col`` makes equal-timestamp
    change records deterministic (and oracle-reproducible)."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    prev = F.lag(attr_col).over(w)
    starts = (
        changes.withColumn(
            "__new_run",
            F.coalesce(F.col(attr_col) != prev, F.lit(True)),
        )
        .filter(F.col("__new_run"))
        .drop("__new_run")
    )
    w2 = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    return starts.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two snapshots of the same table: one output
    row per key that was ADDED, REMOVED, or CHANGED, with the
    comma-joined list of changed columns (in schema order) — the pipeline-regression primitive (validate a
    rewritten job against the blessed output; audit what a CDC batch
    actually did; reconcile replicas). Unchanged keys produce NO row,
    so the output is |delta|-sized, not |table|-sized.

    Semantics: NULL-safe comparison (``<=>``) per compared column —
    NULL -> value and value -> NULL both count as changes, NULL ->
    NULL does not. ``compare_cols`` defaults to every shared non-key
    column.

    Scale shape: ONE full outer join on the key (the minimum for a
    global per-key decision — same single-shuffle bound as
    merge_upsert, uniform id-like keys), then map-only column
    comparison; the changed-column list is a compile-time array of
    CASE expressions, so no per-row Python and no second pass. At
    100 TB both sides shuffle once; bucketed/sorted storage on the key
    would remove even that (the standard bucketed-join story)."""
    cols = compare_cols or [
        c for c in old.columns if c != key_col and c in new.columns
    ]
    o = old.select(
        F.col(key_col).alias("__k"),
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"__o_{c}") for c in cols],
    )
    n = new.select(
        F.col(key_col).alias("__k"),
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in cols],
    )
    joined = o.join(n, "__k", "full_outer")
    changed_cols = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")),
                    F.lit(c),
                )
                for c in cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return (
        joined.select(
            F.col("__k").alias(key_col),
            F.when(F.col("__in_old").isNull(), F.lit("added"))
            .when(F.col("__in_new").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            F.when(
                F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull(),
                F.array_join(changed_cols, ","),
            ).alias("changed_cols"),
        )
        .filter(
            (F.col("change_type") != "changed")
            | (F.col("changed_cols") != "")
        )
    )


def incremental_rollup(
    stored: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    tombstone_col: str | None = "__deleted",
) -> DataFrame:
    """Delta-maintain a stored additive rollup: fold a new raw batch
    into an existing (keys → count + sums) aggregate WITHOUT
    re-scanning history — the materialized-view maintenance shape
    that completes the incremental arc (``dedup_incremental`` for
    dedup catalogs, ``ivf_reassign`` for ANN indexes, this for
    aggregates).

    ``stored`` already has one row per key group with ``count_col``
    and ``sum_cols`` populated; ``delta`` is RAW rows carrying
    ``sum_cols``. The delta is partially aggregated to the same
    shape (map-side combine — the batch collapses to its key space
    before any shuffle), unioned with the stored partials, and
    re-aggregated. Additivity does the rest: the result is
    row-identical to a full recompute over history ∪ batch, which is
    exactly what the registered oracle checks. NULL key groups merge
    by Spark/SQL GROUP BY semantics (NULLs collide), identical in
    both engines; NULL measures contribute nothing to sums, also
    identical.

    Scale shape: the history scan is GONE — cost is one partial
    aggregate over the batch plus a union-shuffle whose size is the
    ROLLUP key space (days × types — dim-sized, never fact-sized),
    then a key-space-bounded final aggregate. At 100 TB this is the
    difference between touching one day of data and touching three
    years of it. Counts and sums are additive unconditionally;
    ``min_cols``/``max_cols`` are MERGEABLE only when the store is
    APPEND-ONLY (min(stored_min, batch_min) is the group min iff no
    row is ever retracted — a delete would require re-scanning the
    full group). The contract is ENFORCED, not just stated: a delta
    carrying ``tombstone_col`` is accepted as a retraction stream
    for the ADDITIVE measures (tombstoned rows fold in with sign −1,
    the classic signed-delta view-maintenance trick; the signed fold
    cannot overflow int64 any sooner than the unsigned one —
    |Σ ±c| ≤ Σ|c|, the same bound as the plain sum) but REJECTED
    with ``ValueError`` when min/max measures are requested, because
    no bounded-state merge can un-take a min.

    Column-name contract (the stored side MUST carry exactly these):
    ``keys``, ``count_col``, each sum column under its own name, each
    min/max column under its own name — except a column requested
    under BOTH laws, which is stored as ``min_<c>``/``max_<c>``. A
    column may not appear in both ``sum_cols`` and
    ``min_cols``/``max_cols`` (one physical stored column cannot hold
    two different partials); that overlap raises ``ValueError`` up
    front instead of failing inside unionByName with a
    duplicate-alias error."""
    sum_cols = list(sum_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    overlap = sorted(set(sum_cols) & (set(min_cols) | set(max_cols)))
    if overlap:
        raise ValueError(
            "incremental_rollup: column(s) requested as both sum and "
            f"min/max measures: {overlap}; store them under distinct "
            "names (one physical stored column holds one partial)"
        )
    tombstoned = tombstone_col is not None and tombstone_col in delta.columns
    if tombstoned and (min_cols or max_cols):
        raise ValueError(
            "incremental_rollup: delta carries retraction marker "
            f"{tombstone_col!r} but min/max measures were requested -- "
            "min/max partials are append-only-mergeable; retractions "
            "require a full recompute of the affected groups"
        )
    # a column may be wanted under several laws (e.g. min AND max of
    # ts); suffix-free only when unambiguous, else the caller aliases
    mins = [f"min_{c}" if c in max_cols else c for c in min_cols]
    maxs = [f"max_{c}" if c in min_cols else c for c in max_cols]
    if tombstoned:
        sign = F.when(
            F.coalesce(F.col(tombstone_col).cast("boolean"), F.lit(False)),
            F.lit(-1).cast("bigint"),
        ).otherwise(F.lit(1).cast("bigint"))
        delta_part = delta.groupBy(*keys).agg(
            F.sum(sign).cast("bigint").alias(count_col),
            *[
                F.sum(sign * F.col(c)).cast("bigint").alias(c)
                for c in sum_cols
            ],
        )
    else:
        delta_part = delta.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("bigint").alias(count_col),
            *[F.sum(c).cast("bigint").alias(c) for c in sum_cols],
            *[F.min(c).alias(a) for c, a in zip(min_cols, mins)],
            *[F.max(c).alias(a) for c, a in zip(max_cols, maxs)],
        )
    merged = stored.select(
        *keys, count_col, *sum_cols, *mins, *maxs
    ).unionByName(delta_part)
    return merged.groupBy(*keys).agg(
        F.sum(count_col).cast("bigint").alias(count_col),
        *[F.sum(c).cast("bigint").alias(c) for c in sum_cols],
        *[F.min(a).alias(a) for a in mins],
        *[F.max(a).alias(a) for a in maxs],
    )
