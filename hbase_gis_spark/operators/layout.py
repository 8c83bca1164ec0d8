"""Multi-dimensional table-layout keys (Z-order and Hilbert clustering).

A 100 TB fact table usually has TWO hot predicates (e.g. value range x
time range).  Sorting by either column alone makes the other's min/max
file statistics useless; sorting by the Morton (Z-order) interleave of
both keeps files tight in BOTH dimensions, so either predicate prunes
~sqrt-fraction of files.  This module computes the key; writers apply
it with ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` so
parquet row-group stats align with the curve (the same layout story as
the geohash-prefix-partitioned sink in sources/ingest.py:161 — a
geohash IS a base-32-rendered Z-order key; reference parity:
tech/stackable/gis/hbase/coprocessor rowkey design).

Engine-exactness: bins are ``floor((v - min) / (max - min) * (2^bits
- 1))`` — one subtraction, one division, one multiply, identical IEEE
ops in identical order on both engines — and the interleave is pure
integer shift/mask, so the key is bit-identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_gis_spark.functions.geo import _spread_bits


def zorder_bin(v: Column, vmin: Column, vmax: Column, bits: int) -> Column:
    """Clamped equal-width bin of ``v`` over [vmin, vmax] into
    ``2^bits`` cells.  NULL and NaN pass through as NULL (Spark's
    floor(double) silently maps NaN to 0, DuckDB's keeps NaN — the
    explicit guard keeps both engines at NULL); a degenerate
    vmin == vmax range bins everything to 0."""
    d = v.cast("double")
    scale = F.lit(float((1 << bits) - 1))
    raw = F.floor((d - vmin) / F.when(vmax > vmin, vmax - vmin) * scale)
    clamped = F.least(
        F.greatest(raw, F.lit(0)), F.lit((1 << bits) - 1)
    )
    return F.when(
        d.isNotNull() & ~F.isnan(d), F.coalesce(clamped, F.lit(0))
    )


def _clean_double(c: Column) -> Column:
    # NaN sorts GREATER than every double in Spark aggregates — one NaN
    # row would otherwise poison the max and collapse every bin to 0
    d = c.cast("double")
    return F.when(~F.isnan(d), d)


def _bounded(df: DataFrame, x: Column, y: Column, bounds):
    """(df-with-range-columns, xmin, xmax, ymin, ymax) — from the
    PERSISTED bounds literals when given (append path: map-only, no
    aggregate at all), else from one 1-row global min/max aggregate
    broadcast into the scan (create path: sanctioned 1-row BNLJ,
    constant cost in table size)."""
    if bounds is not None:
        xmin, xmax, ymin, ymax = (F.lit(float(b)) for b in bounds)
        return df, xmin, xmax, ymin, ymax
    rng = df.agg(
        F.min(_clean_double(x)).alias("__xmin"),
        F.max(_clean_double(x)).alias("__xmax"),
        F.min(_clean_double(y)).alias("__ymin"),
        F.max(_clean_double(y)).alias("__ymax"),
    )
    return (
        df.crossJoin(F.broadcast(rng)),
        F.col("__xmin"),
        F.col("__xmax"),
        F.col("__ymin"),
        F.col("__ymax"),
    )


def zorder_key_2d(
    df: DataFrame,
    x_col,
    y_col,
    bits: int = 16,
    bounds: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Annotate every row with ``zkey`` = the 2-D Morton interleave of
    the two columns' equal-width bins (x in even bit positions).

    The bin ranges come from ONE 1-row global min/max aggregate,
    broadcast into the scan (sanctioned 1-row BNLJ — constant cost in
    table size, same pattern as the IVF centroid literals) — or, when
    ``bounds`` = (xmin, xmax, ymin, ymax) is given, from those frozen
    literals (the append path: a later batch MUST bin against the
    bounds persisted at table create, or its keys disagree with the
    existing files').  Key computation itself is map-only shift/mask
    under whole-stage codegen.  ``bits <= 16`` keeps the interleave
    inside the positive int64 range (2*16 = 32 key bits).
    """
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    base, xmin, xmax, ymin, ymax = _bounded(df, x, y, bounds)
    xb = zorder_bin(x, xmin, xmax, bits)
    yb = zorder_bin(y, ymin, ymax, bits)
    zkey = F.shiftleft(_spread_bits(xb), 1).bitwiseOR(_spread_bits(yb))
    return base.select(
        *[F.col(c) for c in df.columns], zkey.cast("bigint").alias("zkey")
    )


def hilbert_level_fragments(
    s: int, n: int, x: str, y: str, d: str
) -> tuple[str, str, str]:
    """One level of the iterative Hilbert xy→d transform as THREE SQL
    expression strings over the previous level's columns — the shared
    source both engines execute verbatim (Spark ``F.expr`` per level,
    DuckDB one CTE per level), so cross-engine equality is by
    construction, not by re-implementation.

    The step is the classic quadrant walk (s halves each level, n is
    the full grid size): quadrant index h = (3·rx) xor ry — written as
    ``3·rx + ry − 2·rx·ry`` because the two engines spell bitwise xor
    differently while agreeing on +,−,× — contributes s²·h to d, then
    the (rx, ry)-dependent reflect/swap re-orients the subsquare. Only
    ``&``, CASE and integer arithmetic appear: the fragment dialect is
    the exact intersection of Spark SQL and DuckDB."""
    rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
    # s² as an explicit BIGINT: at s = 2^15 the product s²·3 overflows
    # INT32, which Spark's ANSI mode turns into a runtime error
    d_expr = (
        f"{d} + CAST({s * s} AS BIGINT) "
        f"* (3 * {rx} + {ry} - 2 * {rx} * {ry})"
    )
    x_expr = (
        f"CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN {n - 1} - {y} ELSE {y} END) "
        f"ELSE {x} END"
    )
    y_expr = (
        f"CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN {n - 1} - {x} ELSE {x} END) "
        f"ELSE {y} END"
    )
    return x_expr, y_expr, d_expr


def hilbert_key_2d(
    df: DataFrame,
    x_col,
    y_col,
    bits: int = 16,
    bounds: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Annotate every row with ``hkey`` = the 2-D Hilbert-curve index
    of the two columns' equal-width bins — the same layout contract as
    :func:`zorder_key_2d` with strictly better locality: every unit
    step along the Hilbert curve moves to an ADJACENT cell (Morton
    order takes long diagonal jumps at power-of-two boundaries), so a
    rectangle query decomposes into ~2× fewer contiguous key ranges
    and range-partitioned files stay tighter in both dimensions
    (Hilbert is what Delta Lake's liquid clustering and modern
    OPTIMIZE implementations moved to, for exactly this reason).

    Same physical shape as the Z-order key: ONE 1-row global min/max
    aggregate broadcast into the scan (or the frozen ``bounds``
    literals on the append path, as in :func:`zorder_key_2d`), then a
    map-only per-level reflect/swap pipeline — ``bits`` chained
    projections that whole-stage codegen fuses into a single stage.
    NULL/NaN inputs key to NULL (bins are coalesced to 0 through the
    walk and masked back at the end, so the per-level CASEs never see
    NULL)."""
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    base, xmin, xmax, ymin, ymax = _bounded(df, x, y, bounds)
    xb = zorder_bin(x, xmin, xmax, bits)
    yb = zorder_bin(y, ymin, ymax, bits)
    cols = list(df.columns)
    cur = base.select(
        *[F.col(c) for c in cols],
        (xb.isNull() | yb.isNull()).alias("__hnull"),
        F.coalesce(xb, F.lit(0)).cast("bigint").alias("__hx"),
        F.coalesce(yb, F.lit(0)).cast("bigint").alias("__hy"),
        F.lit(0).cast("bigint").alias("__hd"),
    )
    n = 1 << bits
    for level in reversed(range(bits)):
        x_e, y_e, d_e = hilbert_level_fragments(
            1 << level, n, "__hx", "__hy", "__hd"
        )
        cur = cur.select(
            *[F.col(c) for c in cols],
            "__hnull",
            F.expr(x_e).alias("__hx"),
            F.expr(y_e).alias("__hy"),
            F.expr(d_e).alias("__hd"),
        )
    return cur.select(
        *[F.col(c) for c in cols],
        F.when(~F.col("__hnull"), F.col("__hd")).alias("hkey"),
    )


def hilbert_d_many(x, y, bits: int = 16):
    """Vectorized numpy twin of the per-level expression pipeline in
    :func:`hilbert_key_2d` (same classic xy→d walk, boolean-mask form)
    — the kernel behind the ``hgs_hilbert`` SQL function. Operates on
    int64 arrays of pre-binned cells; caller handles NULLs."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = 1 << bits
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        m = ry == 0
        flip = m & (rx == 1)
        x[flip] = n - 1 - x[flip]
        y[flip] = n - 1 - y[flip]
        xt = x[m].copy()
        x[m] = y[m]
        y[m] = xt
        s >>= 1
    return d


def compute_curve_bounds(
    df: DataFrame, x_col: str, y_col: str
) -> tuple[float, float, float, float]:
    """(xmin, xmax, ymin, ymax) of the two layout columns — ONE 1-row
    aggregate collected driver-side (bounded: four doubles), the
    values frozen into the table's bounds sidecar at create time."""
    r = df.agg(
        F.min(_clean_double(F.col(x_col))).alias("xmin"),
        F.max(_clean_double(F.col(x_col))).alias("xmax"),
        F.min(_clean_double(F.col(y_col))).alias("ymin"),
        F.max(_clean_double(F.col(y_col))).alias("ymax"),
    ).head()
    return (r.xmin, r.xmax, r.ymin, r.ymax)


def _write_curve_bounds(spark, path: str, bounds, bits: int) -> None:
    # underscore-prefixed subdirectory: Spark/Hadoop readers treat
    # `_`-paths as hidden metadata (like _SUCCESS), so scans of the
    # table never pick the sidecar up; written via the DataFrame
    # writer so it lands on whatever filesystem the table uses
    spark.createDataFrame(
        [tuple(float(b) for b in bounds) + (int(bits),)],
        "xmin double, xmax double, ymin double, ymax double, bits int",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_bounds")


def read_curve_bounds(
    spark, path: str
) -> tuple[tuple[float, float, float, float], int]:
    """((xmin, xmax, ymin, ymax), bits) from a curve-clustered table's
    bounds sidecar — what every append batch MUST bin against."""
    r = spark.read.parquet(path + "/_bounds").head()
    return (r.xmin, r.xmax, r.ymin, r.ymax), r.bits


def write_zorder_table(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 64,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize a table Z-order-clustered on (x_col, y_col): compute
    ``zkey``, range-partition into ``n_files`` key ranges, sort within
    each, write parquet — so every file covers a disjoint zkey range
    and parquet row-group min/max statistics stay tight in BOTH
    dimensions (the storage-side counterpart of ``zorder_key_2d``, the
    same sink pattern as the geohash-prefix and IVF-cell tables in
    sources/ingest.py and operators/similarity.py).

    The zkey column is kept in the file (readers range-filter on it
    directly — curve ranges for a rectangle query), and the four bin
    bounds + bits are PERSISTED in a ``_bounds`` sidecar so
    :func:`append_zorder_table` re-derives byte-identical keys for
    later batches (the append_ivf_table frozen-quantizer contract:
    re-aggregating bounds per batch would silently shift every bin)."""
    _write_curve_table(
        zorder_key_2d, "zkey", df, path, x_col, y_col, n_files, bits, mode
    )


def append_zorder_table(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
) -> None:
    """Append a batch to an existing :func:`write_zorder_table` layout:
    keys are derived from the PERSISTED bounds sidecar, never a
    per-batch re-aggregate, so the new files' zkeys are byte-identical
    to what the create-time write would have produced (rows outside
    the frozen bounds clamp into the edge bins — same rule as create).
    Map-only key computation + one range shuffle of the batch."""
    _append_curve_table(zorder_key_2d, "zkey", df, path, x_col, y_col, n_files)


def write_hilbert_table(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 64,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize a table Hilbert-clustered on (x_col, y_col) — the
    :func:`write_zorder_table` contract on the better-locality curve:
    every file covers a disjoint ``hkey`` range, and because adjacent
    Hilbert indices are adjacent cells, a rectangle predicate touches
    fewer files than under the Morton layout. Bounds + bits persist
    in the same ``_bounds`` sidecar for :func:`append_hilbert_table`."""
    _write_curve_table(
        hilbert_key_2d, "hkey", df, path, x_col, y_col, n_files, bits, mode
    )


def append_hilbert_table(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
) -> None:
    """Append to an existing :func:`write_hilbert_table` layout using
    the persisted bounds sidecar — see :func:`append_zorder_table`."""
    _append_curve_table(hilbert_key_2d, "hkey", df, path, x_col, y_col, n_files)


def _write_curve_table(
    keyer, key: str, df: DataFrame, path: str, x_col: str, y_col: str,
    n_files: int, bits: int, mode: str,
) -> None:
    # create: bounds from one aggregate of df, frozen into the sidecar
    bounds = compute_curve_bounds(df, x_col, y_col)
    keyed = keyer(df, x_col, y_col, bits=bits, bounds=bounds)
    _write_curve_clustered(keyed, path, key, n_files, mode)
    _write_curve_bounds(df.sparkSession, path, bounds, bits)


def _append_curve_table(
    keyer, key: str, df: DataFrame, path: str, x_col: str, y_col: str,
    n_files: int,
) -> None:
    # append: bounds and bits from the create-time sidecar
    bounds, bits = read_curve_bounds(df.sparkSession, path)
    keyed = keyer(df, x_col, y_col, bits=bits, bounds=bounds)
    _write_curve_clustered(keyed, path, key, n_files, "append")


def _write_curve_clustered(
    keyed: DataFrame, path: str, key: str, n_files: int, mode: str
) -> None:
    (
        keyed.repartitionByRange(n_files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode(mode)
        .parquet(path)
    )
