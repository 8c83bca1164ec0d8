"""Geo column functions: the geohash encoders.

``geohash_col`` is the pure-Column encoder; ``geohash_udf`` is the
pandas-UDF kernel (Arrow-batched, vectorized numpy bisection in
``geo.geohash.encode_many``) behind ``geohash_col_py`` and the SQL
function ``hgs_geohash``. Point-in-polygon lives in ``operators.within``
and the distances in ``geo.sqlrender``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def geohash_col(lat: Column, lon: Column, precision: int = 12) -> Column:
    """Geohash (base-32) column of (lat, lon) at fixed ``precision``.

    Reference: rowkey construction at Ingest.java:77 / BulkIngest.java:90
    (``GeoHash.withCharacterPrecision(lat, lon, 12).toBase32()``).
    NaN/null coordinates produce null (reference drops NaN rows,
    WithinFilter.java:93-95).

    Delegates to the pure-Column encoder (:func:`geohash_col_native`) —
    no Python stage; :func:`geohash_col_py` keeps the pandas-UDF kernel
    path for cross-checking."""
    return geohash_col_native(lat, lon, precision)


def geohash_udf(precision: int = 12):
    """The pandas UDF ``(lat, lon) -> geohash`` at ``precision``
    (Arrow-batched numpy bisection kernel)."""

    @F.pandas_udf(T.StringType())
    def _geohash(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        # import inside the UDF so only the pure-python kernel ships to workers
        from hbase_gis_spark.geo.geohash import encode_many

        out = encode_many(
            lat_s.to_numpy(dtype="float64", na_value=float("nan")),
            lon_s.to_numpy(dtype="float64", na_value=float("nan")),
            precision,
        )
        return pd.Series(out)

    return _geohash


def geohash_col_py(lat: Column, lon: Column, precision: int = 12) -> Column:
    """Pandas-UDF geohash encode — the reference implementation the
    native encoder is pinned against (tests/test_geohash.py)."""
    return geohash_udf(precision)(lat, lon)


_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(x: Column) -> Column:
    """Morton spread: bit i of a 32-bit value moves to bit 2i."""
    for s, m in _SPREAD_MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, s))).bitwiseAND(F.lit(m))
    return x


def geohash_col_native(lat: Column, lon: Column, precision: int = 12) -> Column:
    """Pure-Column geohash encode — no Python stage at all.

    30-bit lat/lon bins → Morton interleave (lon bit first, 5 shift/mask
    steps per axis) → base-32 chars via array lookup; everything stays
    inside whole-stage codegen. Equality with the bisection kernel
    (geo.geohash.encode) is pinned by tests/test_geohash.py over the
    testdata and property-sampled coordinates; the two can only disagree
    for coordinates within ~1 ulp of a cell boundary (none observed in
    15M samples). NaN/null/out-of-range coordinates yield null, like
    the pandas-UDF path.
    """
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in [1, 12]")
    # The when() guards ONLY the cheap bin subtree; a null bin then
    # propagates through morton/conv/translate natively. (Wrapping the
    # WHOLE expression in when() measured 6x slower — it defeats
    # codegen'd subexpression reuse.) The NaN test runs on the RAW
    # coordinate: Spark's floor(double) returns LONG and silently maps
    # NaN to 0. ~isnan(NaN)=false and ~isnan(null)=null both make the
    # when() yield null. Clamping keeps out-of-range coordinates in the
    # edge cell, exactly like the kernel's saturating bisection
    # (lat=90 -> top bin).
    def bin_of(v: Column, offset: float, span: float) -> Column:
        raw = F.floor((v + F.lit(offset)) / F.lit(span) * F.lit(float(1 << 30)))
        # isnan(null) is FALSE in Spark, and greatest/least ignore null
        # operands — so null must be excluded explicitly
        return F.when(
            v.isNotNull() & ~F.isnan(v),
            F.least(F.greatest(raw, F.lit(0)), F.lit((1 << 30) - 1)),
        )

    morton = F.shiftleft(_spread_bits(bin_of(lon, 180.0, 360.0)), 1).bitwiseOR(
        _spread_bits(bin_of(lat, 90.0, 180.0))
    )
    # one base-32 conversion for all 12 chars (conv emits the standard
    # 0-9A-V alphabet; translate maps it onto the geohash alphabet,
    # which skips a/i/l/o), then keep the requested prefix — geohash
    # cells nest, so geohash-p IS the first p chars of geohash-12
    gh12 = F.translate(
        F.lpad(F.conv(morton, 10, 32), 12, "0"),
        "ABCDEFGHIJKLMNOPQRSTUV",
        "bcdefghjkmnpqrstuvwxyz",
    )
    return F.substring(gh12, 1, precision)
