"""Grouped top-X and binned limit operators.

Reference semantics:
- TopX (coprocessor/TopXEndpoint.java:58-123): for every distinct value
  of a reference column, the X rows with the SMALLEST timestamp — a
  per-group bounded min-heap per region, concatenated unordered.
- Binned limit (docs/testtopxkeys.md:24-52, spec only): treat a rowkey
  substring as a bin id; first N rows per bin in rowkey order, while
  honoring an overall scan limit.

Spark-first: both are the canonical window-ranking shape —
``row_number() OVER (PARTITION BY ref ORDER BY ts)`` ≤ X. Catalyst
plans a shuffle on the group key + in-partition sort, with a partial
``WindowGroupLimit`` before the shuffle; at scale this is one shuffle,
skew-handled by AQE. No driver-side merging.

:func:`top_x` is the engine's one per-group cut: every "first k rows
per group in this order" (per-doc top terms, per-query top-k
neighbours, per-key latest version, per-node majority vote, keyed
dedup) calls it with its order given as column names or sort Columns,
so the order, the tie rule and the ``<= x`` predicate that Catalyst
turns into ``WindowGroupLimit`` are written once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_x(
    df: DataFrame,
    ref_col: str,
    ts_col: str | Column,
    x: int,
    tiebreak_col: str | Column | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """Per distinct ``ref_col`` value, the ``x`` rows with smallest
    ``ts_col`` (TopXEndpoint semantics).

    ``ts_col`` and ``tiebreak_col`` are column names, sorted ascending,
    or sort Columns such as ``F.col("cosine").desc()``. ``tiebreak_col``
    pins a total order under ``ts_col`` ties (the reference's heap
    keeps an arbitrary one; oracle comparison needs determinism).
    ``rank_col`` keeps the 1-based rank in the output under that name.
    """
    order = [
        F.col(c).asc() if isinstance(c, str) else c
        for c in (ts_col, tiebreak_col)
        if c is not None
    ]
    w = Window.partitionBy(ref_col).orderBy(*order)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    out = ranked.filter(F.col("__rn") <= x)
    if rank_col is not None:
        return out.withColumnRenamed("__rn", rank_col)
    return out.drop("__rn")


def binned_limit(
    df: DataFrame,
    bin_col,
    order_col: str,
    per_bin: int,
    total_limit: int | None = None,
) -> DataFrame:
    """First ``per_bin`` rows per bin (ordered by ``order_col``), then an
    optional deterministic global ``total_limit`` ordered by
    (bin, order_col) — the documented-but-unimplemented T2 operator
    (docs/testtopxkeys.md:24-52).

    ``bin_col`` may be a name or a Column (e.g. a rowkey substring, the
    spec's byte-slice bin id). The per-bin cut is :func:`top_x` over
    the bin column."""
    bin_c = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    out = top_x(df.withColumn("__bin", bin_c), "__bin", order_col, per_bin)
    if total_limit is not None:
        out = out.orderBy(F.col("__bin").asc(), F.col(order_col).asc()).limit(
            total_limit
        )
    return out.withColumnRenamed("__bin", "bin")
