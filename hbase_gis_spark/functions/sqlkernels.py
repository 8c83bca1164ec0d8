"""Text, vector, retrieval and drift kernels → SQL text: the one
rendering of every kernel behind ``register_sql_api``'s SQL functions.

Every function here takes its operands as SQL text — a column name
written with ``sqlrender.col``, a parameter name of a SQL function, a
literal — and returns one Spark SQL expression. Two consumers apply the
same text:

- the DataFrame kernels (``operators.dedup.simhash``,
  ``operators.textstats.lang_id``, ``operators.similarity.dot_expr``
  and their siblings) wrap it in one ``F.expr``;
- ``sqlapi.register_sql_api`` makes each ``hgs_*`` SQL function of
  :data:`SQL_FUNCTIONS` from it with :func:`create_function_sql`.

So a DataFrame operator and ``spark.sql`` compute the same value by
construction, NULL and blank text included.

The bodies are pure JVM expressions (split / transform / aggregate /
md5 / xxhash64 / bit_count): no Python worker. Spark evaluates the
lambdas of higher-order functions interpreted, so a non-cheap subtree
written twice runs twice per row; a subtree used more than once is
bound once with :func:`_let`.

Pure text, no Spark imports: the module is usable without a JVM.
"""

from __future__ import annotations

from typing import Callable

from hbase_gis_spark.geo import sqlrender as R

# marker words per language; argmax with fixed precedence order breaks ties
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "las", "es", "una"),
}
LANG_ORDER = ("en", "fr", "de", "es")

# hashed-linear quality model (see operators/textstats.py)
QC_DIM = 1024          # weight buckets
KNUTH_MULT = 2654435761  # Knuth multiplicative-hash constant

# prime > 2^32 for MinHash permutations (a*h+b) % P with h < 2^32
MINHASH_P = 4294967311
# deterministic permutation parameters: small odd multipliers/offsets
MINHASH_A0, MINHASH_B0 = 1048583, 97

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits signed bigint, oracle-portable


def operand(c) -> str:
    """SQL text of a DataFrame kernel's operand: a column name, a
    Column naming one (``F.col``), or a Column built from SQL text
    (``F.expr`` — so the kernels here compose). Any other Column raises
    TypeError, because its printed form does not always parse back."""
    if isinstance(c, str):
        return R.col(c)
    node = c._jc.node()
    kind = node.getClass().getSimpleName()
    if kind == "UnresolvedAttribute" and not node.planId().isDefined():
        return node.sql()
    if kind == "SqlExpression":
        return f"({node.sql()})"
    raise TypeError(
        f"kernel operand must be a column name, F.col(...) or F.expr(...), "
        f"not {c}"
    )


def _let(var: str, value_sql: str, body_sql: str) -> str:
    """Single-evaluation binding inside one SQL expression:
    ``transform(array(e), v -> body)[1]``.  The array literal computes
    ``e`` once; the lambda variable is then an attribute reference
    (cheap per use), which is the only way to get the staged-projection
    discipline (operators/dedup.py docstrings) inside one expression —
    textual duplication of a non-cheap subtree re-evaluates it per
    reference under interpreted HOF eval."""
    return f"element_at(transform(array({value_sql}), {var} -> {body_sql}), 1)"


# --- corpus family ----------------------------------------------------------


def tokens_sql(text_expr: str = "text") -> str:
    """Whitespace tokenization — written identically in oracle SQL
    (DuckDB ``regexp_split_to_array(trim(text), '\\s+')``)."""
    return f"split(trim({text_expr}), '\\\\s+')"


def word_shingles_sql(text_expr: str = "text", n: int = 3) -> str:
    """Distinct word n-gram shingles (``operators.dedup.word_shingles``)."""

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


def shingle_hashes32_sql(shingles_expr: str) -> str:
    """xxhash64 of each shingle masked to 32 bits (array<bigint>)."""
    return f"transform({shingles_expr}, x -> xxhash64(x) & 4294967295)"


def minhash_signature_sql(h32_expr: str, num_hashes: int = 64) -> str:
    """MinHash signature of a 32-bit shingle-hash array: permutation i
    is min over shingles of (a_i * h + b_i) % P. An explicit
    ``num_hashes``-element array (not a transform over a seed
    sequence), so every permutation reads the hash array as an
    attribute instead of re-hashing the shingles."""
    mins = ", ".join(
        f"array_min(transform({h32_expr}, h -> "
        f"({i * 2 + MINHASH_A0} * h + {i * 7 + MINHASH_B0}) "
        f"% {MINHASH_P}))"
        for i in range(num_hashes)
    )
    return f"array({mins})"


def minhash_band_sql(
    text_expr: str = "text",
    band_expr: str = "band",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> str:
    """Murmur3 hash of one MinHash signature band — the banding of
    ``operators.dedup.minhash_lsh_pairs`` (``hash(slice(sig, band*r+1,
    r))``). Two documents agreeing on it for any band in [0, bands) are
    LSH candidate pairs. Shingles and 32-bit hashes are let-bound so
    the shingle pipeline runs once per row, not once per permutation."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    sig = _let(
        "s",
        word_shingles_sql(text_expr, n),
        _let("h32", shingle_hashes32_sql("s"),
             minhash_signature_sql("h32", num_hashes)),
    )
    return f"hash(slice({sig}, ({band_expr}) * {r} + 1, {r}))"


def simhash_sql(text_expr: str = "text") -> str:
    """60-bit SimHash (``operators.dedup.simhash``)."""
    hashes = (
        f"transform({tokens_sql(text_expr)}, "
        f"x -> cast(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))"
    )
    vote_terms = ", ".join(
        f"(cast((shiftright(h, {j}) & 1) AS BIGINT) * 2 - 1)"
        for j in range(SIMHASH_BITS)
    )
    vote_arrays = f"transform({hashes}, h -> array({vote_terms}))"
    votes = (
        f"aggregate({vote_arrays}, "
        f"array_repeat(cast(0 AS BIGINT), {SIMHASH_BITS}), "
        f"(acc, x) -> zip_with(acc, x, (a, b) -> a + b))"
    )
    powers = "array(" + ", ".join(
        f"cast({1 << j} AS BIGINT)" for j in range(SIMHASH_BITS)
    ) + ")"
    packed = (
        f"zip_with({votes}, {powers}, "
        f"(v, p) -> CASE WHEN v > 0 THEN p ELSE cast(0 AS BIGINT) END)"
    )
    return f"aggregate({packed}, cast(0 AS BIGINT), (acc, x) -> acc + x)"


def marker_count_sql(words_expr: str, markers: tuple[str, ...]) -> str:
    """How many tokens of a token array are marker words."""
    in_list = ", ".join(f"'{m}'" for m in markers)
    return f"size(filter({words_expr}, x -> x IN ({in_list})))"


def lang_id_sql(text_expr: str = "text") -> str:
    """Marker-word argmax language guess (``operators.textstats.lang_id``):
    the cascade is built back-to-front so earlier languages win ties.
    ``coalesce`` keeps the result non-nullable, as the cascade is, so a
    filter on it needs no ``isnotnull`` pass over the text."""

    def body(w: str) -> str:
        best = best_count = None
        for lang in reversed(LANG_ORDER):
            c = marker_count_sql(w, LANG_MARKERS[lang])
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

    return f"coalesce({_let('w', tokens_sql(text_expr), body('w'))}, 'und')"


def _quality_wsum(words_expr: str) -> str:
    # 60-bit md5 prefix → bucket in [0, QC_DIM) → integer weight,
    # folded as a BIGINT sum (exact, order-independent)
    return (
        f"aggregate(transform({words_expr}, t -> "
        f"pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint), "
        f"{QC_DIM})), cast(0 as bigint), (acc, b) -> acc + "
        f"pmod(b * {KNUTH_MULT}, {2 * QC_DIM}) - {QC_DIM})"
    )


def quality_wsum_sql(text_expr: str) -> str:
    return _quality_wsum(tokens_sql(text_expr))


def quality_logit_sql(text_expr: str) -> str:
    """The weight sum over one double division by (QC_DIM · n_tokens);
    0.0 for NULL text. ``cast``: a bare ``1024.0`` is DECIMAL in Spark
    SQL, and the decimal division rounds a last ulp away."""
    return _let(
        "w",
        tokens_sql(text_expr),
        f"CASE WHEN size(w) > 0 THEN {_quality_wsum('w')} "
        f"/ (cast({QC_DIM} as double) * size(w)) "
        f"ELSE cast(0 as double) END",
    )


# --- vector family ----------------------------------------------------------


def dot_sql(a: str, b: str) -> str:
    """Sequential-fold double dot product of two float arrays (the fold
    order the Arrow kernels and the DuckDB list_sum oracles reproduce
    bit for bit)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"


def _sig_half(a: str, first_dim: int) -> str:
    weights = ", ".join(f"cast({1 << i} as bigint)" for i in range(32))
    return (
        "aggregate(zip_with("
        f"slice(transform({a}, x -> cast(x as double)), {first_dim}, 32), "
        f"array({weights}), "
        "(x, wgt) -> if(x > cast(0 as double), wgt, cast(0 as bigint))), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )


def sig_lo_sql(a: str) -> str:
    """Sign bits of dims 0-31 packed into a BIGINT below 2**32 (a dim
    is 1 iff strictly positive)."""
    return _sig_half(a, 1)


def sig_hi_sql(a: str) -> str:
    """Sign bits of dims 32-63, packed like :func:`sig_lo_sql`."""
    return _sig_half(a, 33)


def hamming_sql(a_lo: str, a_hi: str, b_lo: str, b_hi: str) -> str:
    """Popcount Hamming distance of two packed signatures."""
    return (
        f"cast(bit_count({a_lo} ^ {b_lo}) + bit_count({a_hi} ^ {b_hi}) as int)"
    )


# --- retrieval + drift-monitor family --------------------------------------


def bm25_idf_sql(df_expr: str, n_docs_expr: str) -> str:
    """idf_milli = round(1000·ln(1 + (N − df + 0.5)/(df + 0.5))) — the
    one float of BM25, rounded to an integer BEFORE scoring."""
    return (
        f"cast(round(1000.0 * ln(1.0 + (cast({n_docs_expr} as double) "
        f"- cast({df_expr} as double) + 0.5) / (cast({df_expr} as double) "
        f"+ 0.5)), 0) as bigint)"
    )


def bm25_term_sql(tf, dl, idf_milli, avgdl_milli, k1_milli, b_milli) -> str:
    """One term's BM25 contribution in milli-units: every division a
    floor on BIGINTs (``bm25_topk`` docstring)."""
    return (
        f"({idf_milli} * {tf} * (1000 + {k1_milli})) div ("
        f"1000 * {tf} + ({k1_milli} * ((1000 - {b_milli}) "
        f"+ ({b_milli} * (({dl} * 1000000) div {avgdl_milli})) div 1000)) "
        f"div 1000)"
    )


def psi_term_sql(n_ref, n_cur, tot_ref, tot_cur, n_bins) -> str:
    """One bin's PSI contribution (p − q)·ln(p / q) with Laplace 0.5
    smoothing, rounded to 9 decimals."""

    def share(n: str, tot: str) -> str:
        return (
            f"(cast({n} as double) + 0.5) / (cast({tot} as double) "
            f"+ 0.5 * cast({n_bins} as double))"
        )

    p, q = share(n_ref, tot_ref), share(n_cur, tot_cur)
    return f"round(({p} - {q}) * ln(({p}) / ({q})), 9)"


# --- the SQL functions ------------------------------------------------------

# name -> (parameters, return type, kernel): the body of each SQL
# function is the kernel applied to its parameter names
SQL_FUNCTIONS: dict[str, tuple[str, str, Callable[..., str]]] = {
    "hgs_simhash": ("text STRING", "BIGINT", simhash_sql),
    "hgs_minhash_band": ("text STRING, band INT", "INT", minhash_band_sql),
    "hgs_lang_id": ("text STRING", "STRING", lang_id_sql),
    "hgs_quality_logit": ("text STRING", "DOUBLE", quality_logit_sql),
    "hgs_dot": ("a ARRAY<FLOAT>, b ARRAY<FLOAT>", "DOUBLE", dot_sql),
    "hgs_cosine": ("a ARRAY<FLOAT>, b ARRAY<FLOAT>", "DOUBLE", cosine_sql),
    "hgs_sig_lo": ("a ARRAY<FLOAT>", "BIGINT", sig_lo_sql),
    "hgs_sig_hi": ("a ARRAY<FLOAT>", "BIGINT", sig_hi_sql),
    "hgs_hamming": ("a_lo BIGINT, a_hi BIGINT, b_lo BIGINT, b_hi BIGINT",
                    "INT", hamming_sql),
    "hgs_bm25_idf": ("df BIGINT, n_docs BIGINT", "BIGINT", bm25_idf_sql),
    "hgs_bm25_term": (
        "tf BIGINT, dl BIGINT, idf_milli BIGINT, avgdl_milli BIGINT, "
        "k1_milli BIGINT, b_milli BIGINT", "BIGINT", bm25_term_sql,
    ),
    "hgs_psi_term": (
        "n_ref BIGINT, n_cur BIGINT, tot_ref BIGINT, tot_cur BIGINT, "
        "n_bins INT", "DOUBLE", psi_term_sql,
    ),
}


def create_function_sql(name: str) -> str:
    """The ``CREATE TEMPORARY FUNCTION`` statement of one
    :data:`SQL_FUNCTIONS` entry."""
    params, returns, kernel = SQL_FUNCTIONS[name]
    args = [p.split()[0] for p in params.split(", ")]
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
        f"RETURNS {returns} RETURN {kernel(*args)}"
    )
