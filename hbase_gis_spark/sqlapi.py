"""SQL-facing surface: run the engine's spatial primitives from
``spark.sql(...)``.

Two tiers, mirroring the DataFrame planner's fast/slow split:

1. **Expression generators** (fast path): functions returning Spark-SQL
   text to splice into a query — plain comparisons/arithmetic that stay
   inside whole-stage codegen. The spatial ones return the very text
   the DataFrame operators apply (``geo.sqlrender``).
   Generated-text SQL is the idiomatic Spark substitute for a custom
   Catalyst expression here: nothing to install, and Catalyst pushes
   the bbox / prefix conjuncts into the Parquet scan just as with the
   Column API (same predicates, same pushdown rules).

2. **Registered functions** (general path): :func:`register_sql_api`
   registers Arrow-batched pandas UDFs callable from SQL —
   ``hgs_geohash(lat, lon)`` and ``hgs_covers(wkt, lon, lat)`` (any
   polygon, including concave) — for the cases plain comparisons can't
   express. Prefer tier 1 when the polygon is convex. ``hgs_covers`` is
   still needed for non-convex shapes and for WKT held in a column; then
   conjoin :func:`bbox_sql` so the UDF only sees rows surviving the
   pushable pre-filter (the same discipline ``operators.within``
   applies).

Reference parity: this is the SQL analog of the reference's query
surface (WithinFilter / KNN / TopX clients, SURVEY.md §2) — the same
predicates, exposed to ``spark.sql`` instead of the DataFrame API.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_gis_spark.functions.geo import geohash_udf
from hbase_gis_spark.geo import sqlrender as R
from hbase_gis_spark.geo.geometry import convex_ccw_edges, parse_wkt
from hbase_gis_spark.geo.planner import (
    minimum_bounding_prefixes,
    partition_cover,
)
from hbase_gis_spark.operators.rank import (
    cut_rank,
    ntile_bucket_sql,
    prefix_offsets,
    range_shard_sql,
    shard_boundaries,
    shard_case_sql,
)


def bbox_sql(wkt: str, lon_expr: str = "lon", lat_expr: str = "lat") -> str:
    """Pushable bounding-box pre-filter as SQL text (range comparisons
    reach the Parquet scan's PushedFilters)."""
    return R.bbox_sql(parse_wkt(wkt), lon_expr, lat_expr)


def within_convex_sql(
    wkt: str,
    lon_expr: str = "lon",
    lat_expr: str = "lat",
    partition: tuple[str, int] | None = None,
) -> str:
    """Boundary-inclusive covers() for a CONVEX polygon as pure SQL:
    bbox conjunct (pushable) + NaN guard + CCW half-plane cross
    products — the very text ``operators.within`` applies, so the SQL
    and DataFrame forms return the same rows.

    ``partition``: the ``(column, prefix length)`` pair
    ``geo.planner.partition_layout(df)`` returns for a
    ``write_geo_table`` table; the text then starts with the partition
    ``IN``-list ``within`` uses, and Spark reads only those partitions.
    Without it the text is unchanged.

    Raises ValueError for concave rings — use ``hgs_covers`` (see
    :func:`register_sql_api`) for those."""
    poly = parse_wkt(wkt)
    if convex_ccw_edges(poly) is None:
        raise ValueError("within_convex_sql requires a convex single ring")
    text = (
        f"{R.bbox_sql(poly, lon_expr, lat_expr)} AND "
        f"{R.covers_sql(poly, lon_expr, lat_expr)}"
    )
    cover = partition_cover(partition, boxes=[poly.bounds()])
    if cover is not None:
        text = f"{cover} AND {text}"
    return f"({text})"


def geohash_prefix_sql(
    wkt: str, geohash_expr: str = "geohash", max_precision: int = 7
) -> str:
    """Geohash-prefix pruning predicate as SQL text: an equality
    IN-list on ``substring(geohash, 1, p)`` — pushes into Parquet scans
    and prunes partitions of tables partitioned by the prefix."""
    prefixes = minimum_bounding_prefixes(parse_wkt(wkt), max_precision)
    return R.prefix_in_sql(prefixes, geohash_expr)


def planar_distance_sql(
    origin_lon: float,
    origin_lat: float,
    lon_expr: str = "lon",
    lat_expr: str = "lat",
) -> str:
    """Planar degree distance (the reference's KNN metric) as SQL text,
    the same text ``operators.knn`` applies. KNN from SQL is then
    ``ORDER BY <this> ASC, id ASC LIMIT k`` — Spark plans it as
    TakeOrderedAndProject (bounded per-partition heaps + merge), the
    same physical plan as the DataFrame operator."""
    return R.planar_distance_sql(origin_lon, origin_lat, lon_expr, lat_expr)


def haversine_distance_sql(
    origin_lon: float,
    origin_lat: float,
    lon_expr: str = "lon",
    lat_expr: str = "lat",
) -> str:
    """Great-circle distance in meters, the same text
    ``operators.knn`` applies."""
    return R.haversine_distance_sql(origin_lon, origin_lat, lon_expr, lat_expr)


# --- text/dedup expression generators (tier 1, corpus family) ---------------
#
# Spark-SQL text mirroring the Column builders in operators/dedup.py and
# operators/textstats.py term for term (same functions, same operand
# order), so `spark.sql` and the DataFrame operators return identical
# values — pinned in tests/test_sqlapi.py.  All bodies are pure JVM
# expressions (split/transform/aggregate/xxhash64/md5): registering them
# as SQL UDFs (see register_sql_api) keeps SQL callers off the Python
# path entirely.

_MINHASH_P = 4294967311
_MINHASH_A0, _MINHASH_B0 = 1048583, 97
_SIMHASH_BITS = 60


def _let(var: str, value_sql: str, body_sql: str) -> str:
    """Single-evaluation binding inside one SQL expression:
    ``transform(array(e), v -> body)[1]``.  The array literal computes
    ``e`` once; the lambda variable is then an attribute reference
    (cheap per use), which is the only way to get the staged-projection
    discipline (operators/dedup.py docstrings) inside a SQL UDF body —
    textual duplication of a non-cheap subtree re-evaluates it per
    reference under interpreted HOF eval."""
    return f"element_at(transform(array({value_sql}), {var} -> {body_sql}), 1)"


def tokens_sql(text_expr: str = "text") -> str:
    """Whitespace tokenization — twin of ``operators.dedup.tokens``."""
    return f"split(trim({text_expr}), '\\\\s+')"


# --- sharded-rank statement generators (VERDICT r5 next-round #6) ----------
#
# The rank family (operators/rank.py) needs two bounded driver
# artifacts — boundary literals and shard-size offsets — so its SQL
# surface is a STATEMENT generator, not pure text: each function runs
# the same bounded collects the DataFrame path runs (one
# approxQuantile sketch + one n_shards-integer aggregate), freezes
# them into the emitted statement as literals, and returns a
# self-contained SELECT over the named view. The emitted plan is the
# same scale-safe family: every window PARTITIONED BY the literal
# shard id, offsets as a CASE projection (no join at all), never a
# single-task global sort. SQL == DataFrame rows pinned in
# tests/test_sqlapi.py.


def _sharded_plan_parts(
    spark: SparkSession,
    view: str,
    key_expr: str,
    n_shards: int,
    where_sql: str = "",
) -> tuple[str, str, int]:
    """Shared driver-side prep: boundary literals from the view, then
    shard sizes/offsets/total via one bounded aggregate — both frozen
    into SQL text. Returns (shard_expr, offset_expr, total): the
    offsets are ``rank.shard_case_sql``'s CASE over ``__shard``."""
    src = spark.table(view)
    if where_sql:
        src = src.filter(where_sql)
    key_df = src.selectExpr(f"{key_expr} AS __k")
    bounds = shard_boundaries(key_df, "__k", n_shards)
    shard = range_shard_sql(key_expr, bounds)
    where = f"WHERE {where_sql}" if where_sql else ""
    sizes = spark.sql(
        f"SELECT {shard} AS s, count(*) AS c FROM {view} {where} GROUP BY 1"
    ).collect()
    offsets, total = prefix_offsets({int(r.s): int(r.c) for r in sizes})
    return shard, shard_case_sql(offsets, "__shard"), total


def sharded_ntile_sql(
    spark: SparkSession,
    view: str,
    n: int,
    order_cols: list[str],
    out_col: str,
    n_shards: int = 64,
) -> str:
    """``NTILE(n) OVER (ORDER BY order_cols)`` for ``spark.sql`` with
    no single-task sort — the SQL twin of ``rank.sharded_ntile``
    (same ANSI bucket arithmetic, same boundary-literal shards).
    ``view`` must be a registered table/view name.

    CONTRACT (ADVICE r6 #4): the emitted statement freezes boundary
    literals and shard-size offsets from the view's contents AT
    GENERATION TIME — generate immediately before executing. Running
    the text after the view's data changes silently corrupts every
    global rank (unseen shards fall into the CASE's ELSE-0 offset);
    this is a snapshot statement, not a reusable view definition."""
    shard, off, total = _sharded_plan_parts(
        spark, view, order_cols[0], n_shards
    )
    order = ", ".join(f"{c} ASC" for c in order_cols)
    bucket = ntile_bucket_sql(total, n)
    return f"""
    SELECT * EXCEPT (__shard, __gr), CAST({bucket} AS INT) AS {out_col}
    FROM (
      SELECT *,
             row_number() OVER (PARTITION BY __shard ORDER BY {order})
               + {off} AS __gr
      FROM (SELECT *, {shard} AS __shard FROM {view})
    )"""


def global_percentiles_sql(
    spark: SparkSession,
    view: str,
    value_expr: str,
    percentiles: dict[str, tuple[int, int]],
    n_shards: int = 64,
) -> str:
    """One-row exact rank-selection percentiles for ``spark.sql`` —
    the SQL twin of ``rank.global_percentiles`` (NULL/NaN dropped,
    value at global rank ``rank.cut_rank`` ceil(num*N/den) per
    requested name). The
    requested ranks are plan literals, so selection is a conditional
    aggregate — no join.

    CONTRACT (ADVICE r6 #4): boundary/offset/total literals are
    frozen from the view AT GENERATION TIME — generate immediately
    before executing; the text is a snapshot statement, stale data
    silently mis-ranks."""
    val = f"CAST({value_expr} AS DOUBLE)"
    where = f"{val} IS NOT NULL AND NOT isnan({val})"
    shard, off, total = _sharded_plan_parts(
        spark, view, val, n_shards, where_sql=where
    )
    sels = ", ".join(
        f"max(CASE WHEN __gr = {cut_rank(total, num, den)} "
        f"THEN __v END) AS {name}"
        for name, (num, den) in percentiles.items()
    )
    return f"""
    SELECT {sels} FROM (
      SELECT __v,
             row_number() OVER (PARTITION BY __shard ORDER BY __v ASC)
               + {off} AS __gr
      FROM (SELECT {val} AS __v, {shard} AS __shard
            FROM {view} WHERE {where})
    )"""


def quantile_transform_sql(
    spark: SparkSession,
    view: str,
    col: str,
    id_col: str,
    n_shards: int = 64,
) -> str:
    """Per-row global quantile normalization for ``spark.sql`` — the
    SQL twin of ``rank.quantile_transform`` (average tie ranks carried
    doubled in BIGINTs, pct_milli = (2*avg_rank*1000) div (2*n)).

    CONTRACT (ADVICE r6 #4): boundary/offset/total literals are
    frozen from the view AT GENERATION TIME — generate immediately
    before executing; the text is a snapshot statement, stale data
    silently mis-ranks."""
    shard, off, total = _sharded_plan_parts(spark, view, col, n_shards)
    return f"""
    SELECT {id_col}, {col},
           (__hr2 * 1000) div {max(1, 2 * total)} AS pct_milli
    FROM (
      SELECT {id_col}, {col},
             (rank() OVER (PARTITION BY __shard ORDER BY {col} ASC)
                + {off}) * 2
               + count(*) OVER (PARTITION BY __shard, {col}) - 1 AS __hr2
      FROM (SELECT {id_col}, {col}, {shard} AS __shard FROM {view})
    )"""


def word_shingles_sql(text_expr: str = "text", n: int = 3) -> str:
    """Distinct word n-gram shingles — twin of
    ``operators.dedup.word_shingles`` (same zip_with fold over shifted
    slices).  ``w`` is let-bound so tokenization runs once."""

    def body(w: str) -> str:
        m = f"greatest(size({w}) - {n - 1}, 0)"
        sh = f"slice({w}, 1, {m})"
        for k in range(1, n):
            sh = (
                f"zip_with({sh}, slice({w}, {k + 1}, {m}), "
                f"(a, b) -> concat_ws(' ', a, b))"
            )
        return (
            f"CASE WHEN size({w}) >= {n} THEN array_distinct({sh}) "
            f"ELSE cast(array() AS array<string>) END"
        )

    return _let("w", tokens_sql(text_expr), body("w"))


def simhash_sql(text_expr: str = "text") -> str:
    """60-bit SimHash — twin of ``operators.dedup.simhash`` (md5 word
    hashes, signed votes, power-of-two packing; single linear chain so
    every stage evaluates once)."""
    hashes = (
        f"transform({tokens_sql(text_expr)}, "
        f"x -> cast(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))"
    )
    vote_terms = ", ".join(
        f"(cast((shiftright(h, {j}) & 1) AS BIGINT) * 2 - 1)"
        for j in range(_SIMHASH_BITS)
    )
    vote_arrays = f"transform({hashes}, h -> array({vote_terms}))"
    votes = (
        f"aggregate({vote_arrays}, "
        f"array_repeat(cast(0 AS BIGINT), {_SIMHASH_BITS}), "
        f"(acc, x) -> zip_with(acc, x, (a, b) -> a + b))"
    )
    powers = "array(" + ", ".join(
        f"cast({1 << j} AS BIGINT)" for j in range(_SIMHASH_BITS)
    ) + ")"
    packed = (
        f"zip_with({votes}, {powers}, "
        f"(v, p) -> CASE WHEN v > 0 THEN p ELSE cast(0 AS BIGINT) END)"
    )
    return f"aggregate({packed}, cast(0 AS BIGINT), (acc, x) -> acc + x)"


def minhash_band_sql(
    text_expr: str = "text",
    band_expr: str = "band",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> str:
    """Murmur3 hash of one MinHash signature band — twin of the banding
    in ``operators.dedup.minhash_lsh_pairs`` (same permutation
    constants, same ``hash(slice(sig, band*r+1, r))``), with the
    signature built by the expression form of
    ``minhash_signature_from_hashes``.  Two documents agreeing on
    ``hgs_minhash_band(text, b)`` for any ``b`` in [0, bands) are LSH
    candidate pairs — the SQL route to the same buckets the operator
    joins on.  Shingles and 32-bit hashes are let-bound so the shingle
    pipeline runs once per row, not once per permutation."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    mins = ", ".join(
        f"array_min(transform(h32, h -> "
        f"({i * 2 + _MINHASH_A0} * h + {i * 7 + _MINHASH_B0}) "
        f"% {_MINHASH_P}))"
        for i in range(num_hashes)
    )
    sig_body = f"array({mins})"
    h32 = "transform(s, x -> xxhash64(x) & 4294967295)"
    sig = _let("s", word_shingles_sql(text_expr, n), _let("h32", h32, sig_body))
    return f"hash(slice({sig}, ({band_expr}) * {r} + 1, {r}))"


def lang_id_sql(text_expr: str = "text") -> str:
    """Marker-word argmax language guess — twin of
    ``operators.textstats.lang_id`` (same cascade built back-to-front,
    earlier languages win ties)."""
    from hbase_gis_spark.operators.textstats import _LANG_ORDER, LANG_MARKERS

    def count(markers: tuple[str, ...], w: str) -> str:
        in_list = ", ".join(f"'{m}'" for m in markers)
        return f"size(filter({w}, x -> x IN ({in_list})))"

    def body(w: str) -> str:
        best = best_count = None
        for lang in reversed(_LANG_ORDER):
            c = count(LANG_MARKERS[lang], w)
            if best is None:
                best = f"CASE WHEN {c} > 0 THEN '{lang}' ELSE 'und' END"
                best_count = c
            else:
                best = (
                    f"CASE WHEN ({c} > 0 AND {c} >= {best_count}) "
                    f"THEN '{lang}' ELSE {best} END"
                )
                best_count = f"greatest({c}, {best_count})"
        return best

    return _let("w", tokens_sql(text_expr), body("w"))


def register_sql_api(spark: SparkSession) -> None:
    """Register the engine's SQL functions on a session (idempotent):

    - ``hgs_geohash(lat, lon) -> string``: geohash-12 of a coordinate
      (Arrow-batched numpy bisection kernel). Geohash cells nest, so a
      coarser cell is ``substring(hgs_geohash(lat, lon), 1, p)``.
    - ``hgs_covers(wkt, lon, lat) -> boolean``: boundary-inclusive
      point-in-polygon for ANY polygon (ray-cast kernel; the WKT is
      parsed once per distinct value per batch). Conjoin
      :func:`bbox_sql` in the same WHERE clause so the scan still
      prunes before rows reach Python.

    Corpus family — registered as Spark SQL UDFs (``CREATE TEMPORARY
    FUNCTION ... RETURN <expr>``), so their bodies are the tier-1
    expression text above: pure JVM, no Python worker, and exactly the
    operators' values (equality pinned in tests/test_sqlapi.py):

    - ``hgs_simhash(text) -> bigint``: 60-bit SimHash.
    - ``hgs_minhash_band(text, band) -> int``: MinHash LSH band hash
      (n=3, 64 hashes, 16 bands — the operator defaults).
    - ``hgs_lang_id(text) -> string``: marker-word language guess.
    - ``hgs_sig_lo(a)`` / ``hgs_sig_hi(a) -> bigint``: sign-bit binary
      signature half-words (bit-exact twins of
      ``binary_signature_exprs``).
    - ``hgs_hamming(a_lo, a_hi, b_lo, b_hi) -> int``: popcount Hamming
      distance between two packed signatures (xor + bit_count
      intrinsics — the SQL form of the ``ann_hamming_topk`` funnel).
    - ``hgs_dot(a, b)`` / ``hgs_cosine(a, b) -> double``: fold-order
      vector arithmetic (bit-matches the operators/oracles).
    - ``hgs_quality_logit(text) -> double``: hashed-linear quality
      score (exact DataFrame parity — integer weight fold).
    - ``hgs_bm25_idf(df, n_docs) -> bigint`` /
      ``hgs_bm25_term(tf, dl, idf_milli, avgdl_milli, k1_milli,
      b_milli) -> bigint``: the integer-exact BM25 scoring core of
      ``bm25_topk`` — compose with plain SQL grouping for full ranked
      retrieval from ``spark.sql``.
    - ``hgs_psi_term(n_ref, n_cur, tot_ref, tot_cur, n_bins) ->
      double``: the Laplace-smoothed per-bin PSI contribution of
      ``value_psi`` — apply over any (key, bin) count table.
    - ``hgs_phash_lo(media)`` / ``hgs_phash_hi(media) -> bigint``:
      block-mean perceptual-hash halves over a binary payload
      (Arrow-batched; same kernel as ``media_phash``).
    - ``hgs_hilbert(xb, yb) -> bigint``: Hilbert index of pre-binned
      16-bit cells (Arrow-batched twin of ``hilbert_key_2d``).

    For hot-path batch work still prefer the DataFrame operators —
    they stage shared subexpressions across rows AND across documents
    (e.g. one signature pipeline feeding all bands); the SQL functions
    recompute per call site and are the ad-hoc / interactive surface.
    """

    @F.pandas_udf(T.BooleanType())
    def _hgs_covers(
        wkt_s: pd.Series, lon_s: pd.Series, lat_s: pd.Series
    ) -> pd.Series:
        lons = lon_s.to_numpy(dtype="float64", na_value=float("nan"))
        lats = lat_s.to_numpy(dtype="float64", na_value=float("nan"))
        out = np.zeros(len(wkt_s), dtype=bool)
        # WKT is almost always a literal → one parse per batch
        for wkt in wkt_s.dropna().unique():
            poly = parse_wkt(wkt)
            m = (wkt_s == wkt).to_numpy()
            out[m] = poly.covers(lons[m], lats[m])
        return pd.Series(out)

    spark.udf.register("hgs_geohash", geohash_udf(12))
    spark.udf.register("hgs_covers", _hgs_covers)

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_simhash(text STRING) "
        f"RETURNS BIGINT RETURN {simhash_sql('text')}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_minhash_band("
        "text STRING, band INT) RETURNS INT "
        f"RETURN {minhash_band_sql('text', 'band')}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_lang_id(text STRING) "
        f"RETURNS STRING RETURN {lang_id_sql('text')}"
    )
    # vector family: the tier-1 HOF fold expressions (pure JVM, same
    # sequential-fold semantics as operators/similarity.py:dot_expr,
    # so values match the Arrow kernels and DuckDB oracles bit-exactly)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_dot("
        "a ARRAY<FLOAT>, b ARRAY<FLOAT>) RETURNS DOUBLE RETURN "
        "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * "
        "cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_cosine("
        "a ARRAY<FLOAT>, b ARRAY<FLOAT>) RETURNS DOUBLE RETURN "
        "hgs_dot(a, b) / (sqrt(hgs_dot(a, a)) * sqrt(hgs_dot(b, b)))"
    )
    # multimodal: block-mean perceptual hash halves over a binary
    # payload column (Arrow-batched pandas UDFs — the kernel is a
    # byte-level loop, same function the DataFrame operator uses)
    from hbase_gis_spark.operators.multimodal import block_phash

    @F.pandas_udf("long")
    def _hgs_phash_lo(media: pd.Series) -> pd.Series:
        return pd.Series([block_phash(bytes(b))[0] for b in media])

    @F.pandas_udf("long")
    def _hgs_phash_hi(media: pd.Series) -> pd.Series:
        return pd.Series([block_phash(bytes(b))[1] for b in media])

    spark.udf.register("hgs_phash_lo", _hgs_phash_lo)
    spark.udf.register("hgs_phash_hi", _hgs_phash_hi)

    # layout family: Hilbert index of pre-binned 16-bit cells (the
    # iterative reflect/swap walk needs per-level state, which a
    # single inlined SQL-UDF expression cannot thread without
    # exponential duplication — so this one is the Arrow-batched numpy
    # twin of hilbert_key_2d's expression pipeline, parity-pinned in
    # tests/test_sqlapi.py)
    @F.pandas_udf("long")
    def _hgs_hilbert(xb: pd.Series, yb: pd.Series) -> pd.Series:
        from hbase_gis_spark.operators.layout import hilbert_d_many

        mask = (xb.notna() & yb.notna()).to_numpy()
        out = pd.Series([pd.NA] * len(xb), dtype="Int64")
        if mask.any():
            out[mask] = hilbert_d_many(
                xb[mask].to_numpy(dtype="int64"),
                yb[mask].to_numpy(dtype="int64"),
                bits=16,
            )
        return out

    spark.udf.register("hgs_hilbert", _hgs_hilbert)

    # binary-signature retrieval family — SQL twins of
    # operators/similarity.py::binary_signature_exprs / ann_hamming_topk
    # (same strictly-positive sign rule and two 32-bit half-words, so
    # SQL signatures join bit-exactly against DataFrame-built ones; see
    # binary_signature_exprs for why two half-words). hgs_hamming is
    # pure codegen intrinsics (xor + bit_count).
    def _sig_fold_sql(first_dim: int) -> str:
        weights = ", ".join(f"cast({1 << i} as bigint)" for i in range(32))
        return (
            "aggregate(zip_with("
            f"slice(transform(a, x -> cast(x as double)), {first_dim}, 32), "
            f"array({weights}), "
            "(x, wgt) -> if(x > cast(0 as double), wgt, cast(0 as bigint))), "
            "cast(0 as bigint), (acc, v) -> acc + v)"
        )

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_sig_lo("
        f"a ARRAY<FLOAT>) RETURNS BIGINT RETURN {_sig_fold_sql(1)}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_sig_hi("
        f"a ARRAY<FLOAT>) RETURNS BIGINT RETURN {_sig_fold_sql(33)}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_hamming("
        "a_lo BIGINT, a_hi BIGINT, b_lo BIGINT, b_hi BIGINT) "
        "RETURNS INT RETURN "
        "cast(bit_count(a_lo ^ b_lo) + bit_count(a_hi ^ b_hi) as int)"
    )
    # retrieval + drift-monitor family (VERDICT r4 next-round #8) —
    # the scalar cores of bm25_topk and value_psi as pure-JVM SQL
    # functions, so spark.sql callers can compose the full pipelines
    # (grouping/joins are plain SQL; the formulas are what must match
    # bit-for-bit). Parity with the DataFrame operators is pinned in
    # tests/test_sqlapi.py by rebuilding both pipelines in SQL.
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_bm25_idf("
        "df BIGINT, n_docs BIGINT) RETURNS BIGINT RETURN "
        # idf_milli = round(1000*ln(1 + (N-df+0.5)/(df+0.5))) — the one
        # float in BM25, integer-rounded BEFORE scoring (libm-ulp
        # discipline of bm25_topk/textstats.py)
        "cast(round(1000.0 * ln(1.0 + (cast(n_docs as double) "
        "- cast(df as double) + 0.5) / (cast(df as double) + 0.5)), 0) "
        "as bigint)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_bm25_term("
        "tf BIGINT, dl BIGINT, idf_milli BIGINT, avgdl_milli BIGINT, "
        "k1_milli BIGINT, b_milli BIGINT) RETURNS BIGINT RETURN "
        # contrib = (idf*tf*(1000+k1)) div den, all-BIGINT floors —
        # verbatim the scored expression in bm25_topk
        "(idf_milli * tf * (1000 + k1_milli)) div ("
        "1000 * tf + (k1_milli * ((1000 - b_milli) "
        "+ (b_milli * ((dl * 1000000) div avgdl_milli)) div 1000)) "
        "div 1000)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_psi_term("
        "n_ref BIGINT, n_cur BIGINT, tot_ref BIGINT, tot_cur BIGINT, "
        "n_bins INT) RETURNS DOUBLE RETURN "
        # (p - q) * ln(p / q) with Laplace 0.5 smoothing, identical
        # operand order to value_psi's Column form, rounded to 9
        "round(((cast(n_ref as double) + 0.5) "
        "/ (cast(tot_ref as double) + 0.5 * cast(n_bins as double)) "
        "- (cast(n_cur as double) + 0.5) "
        "/ (cast(tot_cur as double) + 0.5 * cast(n_bins as double))) "
        "* ln(((cast(n_ref as double) + 0.5) "
        "/ (cast(tot_ref as double) + 0.5 * cast(n_bins as double))) "
        "/ ((cast(n_cur as double) + 0.5) "
        "/ (cast(tot_cur as double) + 0.5 * cast(n_bins as double)))), 9)"
    )
    # hashed-linear quality logit — SQL twin of
    # operators/textstats.py::quality_classifier (same md5 bucket and
    # integer weight formula; integer fold, one final division)
    from hbase_gis_spark.operators.textstats import KNUTH_MULT, QC_DIM

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hgs_quality_logit("
        "text STRING) RETURNS DOUBLE RETURN "
        "aggregate(transform(split(trim(text), '\\\\s+'), t -> "
        f"pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint), {QC_DIM})"
        f"), cast(0 as bigint), (acc, b) -> acc + "
        f"pmod(b * {KNUTH_MULT}, {2 * QC_DIM}) - {QC_DIM}) "
        # cast: a bare 1024.0 literal is DECIMAL in Spark SQL and the
        # decimal division rounds a last ulp away from the double path
        f"/ (cast({QC_DIM} as double) * size(split(trim(text), '\\\\s+')))"
    )
