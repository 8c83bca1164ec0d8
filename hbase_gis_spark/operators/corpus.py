"""Corpus-shaping operators for training-data pipelines: deterministic
global shuffle, per-domain caps, temperature-weighted mixture sampling,
and PII scrubbing.

Everything here is a pure function of row content (md5-keyed, no RNG
state), so results are reproducible across runs, cluster layouts, and
engines — each operator has a line-for-line DuckDB oracle twin in
``__spark_entry__.oracle_sql``. All hot paths are JVM column
expressions under whole-stage codegen; the only shuffles are the ones
the semantics require (one hash shuffle for the sharded shuffle/cap
windows, one small-dim aggregate for mixture rates).

These extend the reference's surface (stackabletech/hbase-gis has no
corpus operators — SURVEY.md §2 'explicitly absent'); they follow the
same determinism contract as its ingest dedup (Ingest.java:78-83).
"""

from __future__ import annotations

import warnings
from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_gis_spark.operators.rank import (
    apply_range_shards,
    grouped_percentiles,
    prefix_offsets,
    rankable,
    shard_boundaries,
    shard_case_sql,
)
from hbase_gis_spark.operators.topx import top_x


def content_hash(salt: str, id_col, modulus: int | None = None) -> Column:
    """md5(salt:id) folded to a non-negative bigint — the repo-standard
    deterministic pseudo-randomness primitive (15 hex chars = 60 bits,
    exactly reproducible in DuckDB as
    ``('0x' || substr(md5(...), 1, 15))::BIGINT``)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), c)), 1, 15), 16, 10
    ).cast("bigint")
    return h % modulus if modulus else h


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    num_shards: int = 64,
    salt: str = "shuf",
) -> DataFrame:
    """Deterministic global shuffle into ``num_shards`` shards with a
    stable within-shard position: reading shards in (shard, pos) order
    is a reproducible pseudo-random total order of the corpus.

    Scale note: a DENSE global rank (row_number over a global window)
    funnels every row through one task — a scale-killer at 100 TB. The
    shard-major (shard, pos) pair carries the same information with one
    hash shuffle and ``num_shards`` independent window sorts; set
    num_shards >= cluster cores so every executor sorts its own slice.
    """
    h = content_hash(salt, id_col)
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(id_col, h.alias("h"))
        .withColumn("shard", (F.col("h") % num_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def domain_cap(
    df: DataFrame,
    key_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per key, chosen by deterministic
    md5 order (so the survivors are a stable pseudo-random sample, not
    ingestion-order-biased) — the standard per-domain cap of web-corpus
    pipelines. NULL keys form one group and are capped like any other.

    This is :func:`~hbase_gis_spark.operators.topx.top_x` over the
    content hash: one ``row_number() <= cap`` window, so ``df`` is read
    once and the plan has one shuffle, on the key. While ``cap`` is at
    most ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
    1000), Spark puts a partial ``WindowGroupLimit`` in front of that
    shuffle, so each map task forwards at most ``cap`` rows per key.
    Above the threshold there is no partial limit: every row is
    shuffled and sorted once, all rows of one key in one task. That is
    the trade against the form that lets under-cap keys skip the sort
    (a per-key count aggregate and a broadcast anti-join): it reads
    each row of ``df`` three times and so re-runs any unpersisted
    upstream plan three times.
    """
    hashed = df.withColumn("__h", content_hash(salt, id_col))
    return top_x(hashed, key_col, "__h", cap, tiebreak_col=id_col).drop("__h")


def mixture_rates(
    df: DataFrame,
    strata_col: str = "source",
    target_frac: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-style (alpha = 0.5) mixture re-weighting: compute a
    per-stratum sampling rate proportional to sqrt(n_s)/n_s, scaled so
    the expected kept fraction of the whole corpus is ``target_frac``.
    Rare strata are up-weighted, dominant strata down-weighted — the
    standard multi-source LM data-mixing move.

    Exactness contract (for the DuckDB oracle): the per-stratum weight
    is ``round(sqrt(n) * 1000)`` — an INTEGER — so the weight total is
    an exact bigint sum (a float sum would be partial-aggregation-order
    dependent and break bit-equality); only the final rate is a double,
    produced by one fixed-association expression. sqrt is exactly
    rounded per IEEE-754 in both engines (pow is not — hence alpha
    fixed at 0.5).

    Plan: one aggregate over the corpus (map-side partial, tiny
    result), one 1-row totals cross-join — nothing here scales with
    corpus size except the first scan.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    counts = counts.withColumn(
        "weight",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1000).cast("bigint"),
    )
    totals = counts.agg(
        F.sum("n_docs").alias("__nt"), F.sum("weight").alias("__wt")
    )
    rate = F.least(
        F.lit(1.0),
        (F.lit(float(target_frac)) * F.col("__nt").cast("double"))
        * F.col("weight").cast("double")
        / (F.col("__wt").cast("double") * F.col("n_docs").cast("double")),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("sample_rate", rate)
        .select(strata_col, "n_docs", "weight", "sample_rate")
    )


def epoch_allocation(
    df: DataFrame,
    weights_milli: dict[str, int],
    budget_tokens: int | None = None,
    budget_milli_of_corpus: int | None = None,
    group_col: str = "source",
    token_col: str = "n_tokens",
    cap_milli: int = 4000,
) -> DataFrame:
    """Token-budget EPOCH PLAN for a multi-source training mixture:
    given per-source target weights and a total token budget, how many
    effective epochs does each source run, and which sources exceed
    the repeat cap where additional epochs stop paying (the ~4-epoch
    rule of data-constrained scaling — Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"). The audit that turns
    ``mixture_rates``' sampling weights into the thing the training
    run actually consumes: repeats per source.

    All integer arithmetic (milli-scaled weights, ``div`` truncation
    — identical to DuckDB's ``//`` for the non-negative operands
    enforced here), so the plan is engine-exact:
    ``alloc_tokens = budget · weight_milli div 1000``,
    ``epochs_milli = 1000 · alloc_tokens div corpus_tokens`` (NULL
    for a zero-token source — nothing to repeat),
    ``over_cap = epochs_milli > cap_milli`` as 0/1. Sources absent
    from ``weights_milli`` get weight 0 (allocated nothing, flagged
    never). Weights are INDEPENDENT per-source fractions of the
    budget — a sum over 1000 over-allocates beyond the stated budget
    and is warned at plan time; negative budgets are rejected.
    Overflow bound: budget < ~9e15 tokens keeps every
    intermediate in int64 (stated; 100 TB of text is ~2.5e13).

    The budget is either an explicit ``budget_tokens`` or
    ``budget_milli_of_corpus`` (e.g. 2000 = train on 2× the corpus
    total) — exactly one must be given; the corpus-relative form
    computes the total IN-PLAN (one tiny aggregate + broadcast), no
    driver-side collect.

    Output: (``group_col``, corpus_tokens, weight_milli,
    alloc_tokens, epochs_milli, over_cap).

    Scale shape: one map-side-combined aggregate over the corpus →
    |sources| rows; everything after is dimension-sized."""
    if (budget_tokens is None) == (budget_milli_of_corpus is None):
        raise ValueError(
            "give exactly one of budget_tokens / budget_milli_of_corpus"
        )
    if budget_tokens is not None and budget_tokens < 0:
        raise ValueError("budget_tokens must be non-negative")
    if budget_milli_of_corpus is not None and budget_milli_of_corpus < 0:
        raise ValueError("budget_milli_of_corpus must be non-negative")
    if any(w < 0 for w in weights_milli.values()):
        raise ValueError("weights_milli must be non-negative")
    if sum(weights_milli.values()) > 1000:
        warnings.warn(
            "sum(weights_milli) > 1000: per-source fractions are "
            "independent shares of the budget, so the plan allocates "
            f"{sum(weights_milli.values())/1000:.3f}x the stated "
            "budget in total",
            RuntimeWarning,
            stacklevel=2,
        )
    per = df.groupBy(group_col).agg(
        F.sum(F.col(token_col)).cast("bigint").alias("corpus_tokens")
    )
    wmap = F.create_map(
        *[
            F.lit(x)
            for kv in weights_milli.items()
            for x in (kv[0], int(kv[1]))
        ]
    )
    per = per.withColumn(
        "weight_milli",
        F.coalesce(
            wmap[F.col(group_col)].cast("bigint"), F.lit(0)
        ),
    )
    if budget_tokens is not None:
        per = per.withColumn(
            "__budget", F.lit(int(budget_tokens)).cast("bigint")
        )
    else:
        totals = per.agg(
            F.sum("corpus_tokens").cast("bigint").alias("__tt")
        )
        per = per.crossJoin(F.broadcast(totals)).withColumn(
            "__budget",
            F.expr(
                f"CAST(__tt * {int(budget_milli_of_corpus)} div 1000"
                " AS BIGINT)"
            ),
        )
    return (
        per.withColumn(
            "alloc_tokens",
            F.expr("CAST(__budget * weight_milli div 1000 AS BIGINT)"),
        )
        .withColumn(
            "epochs_milli",
            F.expr(
                "CASE WHEN corpus_tokens > 0 THEN "
                "CAST(1000 * alloc_tokens div corpus_tokens AS BIGINT) "
                "END"
            ),
        )
        .withColumn(
            "over_cap",
            F.expr(
                f"CAST(CASE WHEN epochs_milli > {int(cap_milli)} "
                "THEN 1 ELSE 0 END AS BIGINT)"
            ),
        )
        .select(
            group_col,
            "corpus_tokens",
            "weight_milli",
            "alloc_tokens",
            "epochs_milli",
            "over_cap",
        )
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str = "source",
    target_frac: float = 0.5,
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Apply :func:`mixture_rates`: keep a row iff md5(salt:id) mod 1e6
    falls under floor(rate * 1e6) for its stratum. floor() is explicit
    because a bare double→bigint CAST truncates in Spark but ROUNDS in
    DuckDB — a one-ulp trap the oracle would trip on.

    One corpus scan + one broadcast join against the (tiny) rates dim;
    the keep/drop decision is a pure function of the row id, so the
    sample is reproducible and monotone in target_frac."""
    rates = mixture_rates(df, strata_col, target_frac, id_col)
    cut = F.floor(F.col("sample_rate") * 1_000_000).cast("bigint")
    h = content_hash(salt, id_col, 1_000_000)
    return (
        df.join(
            F.broadcast(rates.select(strata_col, cut.alias("__cut"))),
            strata_col,
        )
        .filter(h < F.col("__cut"))
        .drop("__cut")
    )


# Kept to a Java-regex ∩ RE2 common subset so Spark and DuckDB agree
# byte-for-byte: no backrefs, no lookaround, \b and \d are in both.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails, IPv4 addresses, and NNN-NNN-NNNN phone numbers
    with typed placeholder tokens, and count each redaction class.

    Application order is fixed (email → ip → phone) and mirrored in the
    oracle; counts come from regexp_count on the ORIGINAL text. Pure
    codegen'd JVM regex — one scan, no shuffle, no Python.
    """
    t = F.col(text_col)
    clean = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, IPV4_RE, "<IP>")
    clean = F.regexp_replace(clean, PHONE_RE, "<PHONE>")
    return df.select(
        id_col,
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("bigint").alias("n_ips"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        clean.alias("clean_text"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int = 64,
    id_col: str = "doc_id",
    salt: str = "shuf",
    mode: str = "overwrite",
) -> None:
    """Materialize :func:`global_shuffle` as a training-ready layout:
    parquet partitioned by ``shard``, rows inside each shard file
    sorted by ``pos`` — reading shard directories in order yields the
    deterministic pseudo-random total order with plain sequential
    scans (no sort at read time, no driver involvement).

    One hash shuffle (repartition on shard) + per-partition sort —
    exactly the write path a 1000-executor job wants: every executor
    sorts only its own shards."""
    h = content_hash(salt, id_col)
    out = (
        df.withColumn("shard", (h % num_shards).cast("int"))
        .withColumn("__h", h)
        .repartition("shard")
        .sortWithinPartitions("shard", "__h", id_col)
        .drop("__h")
    )
    out.write.mode(mode).partitionBy("shard").parquet(path)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    context-window preprocessing step (stride = chunk_tokens−overlap).
    Emits (id, chunk_idx, tok_start, n_tok, chunk_text); the final
    chunk may be short (no padding — that's the packer's job).

    One scan; the per-doc explode multiplies rows by ~n_tok/stride.
    Lambdas touch only the staged token attribute and loop vars (the
    interpreted-HOF rule)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    from hbase_gis_spark.operators.dedup import tokens

    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    )
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("tok_start"),
            F.least(F.lit(chunk_tokens), n - s).alias("n_tok"),
            F.concat_ws(
                " ", F.slice("__toks", s + 1, F.lit(chunk_tokens))
            ).alias("chunk_text"),
        ),
    )
    return toks.select(
        F.col("id").alias(id_col), F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        id_col,
        "chunk_idx",
        F.col("c.tok_start").alias("tok_start"),
        F.col("c.n_tok").alias("n_tok"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot left key across
    ``n_salt`` sub-keys (deterministic content hash of the whole left
    row) and replicate the right side ``n_salt``× so every sub-key
    still finds its match. Result is row-for-row identical to
    ``left.join(right, key, how)``.

    Use when one side has a mega-key (a top domain, an all-zero LSH
    bucket) that AQE's skew splitting can't help — e.g. because the
    skewed side feeds an aggregation that must see the key on one
    reducer otherwise. Cost: right side duplicated n_salt× (keep it
    the SMALL side); the salt column never leaves the join.

    Supported ``how``: inner / left variants (the right side is
    replicated, so right/outer joins would duplicate unmatched right
    rows — rejected explicitly)."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi"):
        raise ValueError(f"salted_join does not support how={how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), n_salt)
    lft = left.withColumn("__salt", salt.cast("int"))
    rgt = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    out = lft.join(rgt, [key, "__salt"], how)
    return out.drop("__salt")


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column data-QA profile — null counts, exact distinct counts,
    min/max (as strings, so one result schema covers every column
    type): the table-health report run before a table enters a
    training pipeline (catches collapsed columns, null floods, id
    range drift, truncated ingests).

    ONE aggregation pass over the table: every per-column statistic is
    computed in a single ``agg`` (Catalyst plans the multiple DISTINCT
    aggregates via Expand — input amplification x |profiled columns|,
    the standard exact-distinct cost; swap ``count_distinct`` for
    ``approx_count_distinct`` at 100 TB if 2% error is acceptable),
    then the 1-row wide result unpivots driver-free through one
    ``explode`` of a literal struct array. min/max cast to string
    AFTER aggregating in the native type (so '9' < '10' issues cannot
    corrupt numeric ranges)."""
    from hbase_gis_spark.operators.dedup import _spread

    cols = columns or df.columns
    # project to the profiled columns BEFORE the Expand amplification
    # (guide §2.3) and spread a single-split scan so the |cols|-way
    # expanded aggregate runs parallel, not on one task (no-op at
    # scale) — optimization r11
    df = _spread(df.select(*cols))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    items = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(items).alias("p")).select("p.*")


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 20,
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Shuffle-skew diagnostic: the ``top_n`` heaviest join/agg keys,
    each with its row count, share of the table, and the salt factor
    that would cap its largest post-salt partition at
    ``target_rows_per_task`` rows (``ceil(n / target)``, exact integer
    arithmetic).

    This is the measurement step behind :func:`salted_join` — at
    100 TB you run it on a sample or yesterday's partition, pick the
    salt factor from the report, and feed it back. Cost: one partial
    (map-side combined) aggregation + a top-N heap; the 1-row total is
    broadcast, so no second full scan. Share is a single double
    division (order-independent).

    Output: (key columns..., n, share, suggested_salt), heaviest
    first; ties broken by the key columns ascending.
    """
    total = df.groupBy().agg(F.count(F.lit(1)).alias("__total"))
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n",
            (F.col("n") / F.col("__total")).alias("share"),
            # integer DIV — exact at any n, unlike a double divide
            F.expr(
                f"CAST((n + {target_rows_per_task - 1}) "
                f"DIV {target_rows_per_task} AS BIGINT)"
            ).alias("suggested_salt"),
        )
        .orderBy(
            F.col("n").desc(), *[F.col(c).asc() for c in key_cols]
        )
        .limit(top_n)
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    chars_col: str = "n_chars",
) -> DataFrame:
    """The dataset card a data team publishes with a training corpus —
    size, token budget, language spread, exact-dup rate, and the
    quality-classifier profile, in one fixed-shape (metric, value)
    report.

    ONE scan + one 1-row aggregate: every per-row feature (token
    count, content hash, quality logit) is a JVM expression computed
    in the same projection, the wide aggregate collapses map-side
    (the two exact distincts plan via Expand — the documented
    ``profile_table`` cost), and the unpivot is an explode of a
    literal struct array. Counts and rates are exact; the mean logit
    follows the round-9 float policy (summation order). Empty input
    yields the same 7 rows with zero values.

    Output rows (fixed order): n_docs, total_tokens, total_chars,
    n_langs, exact_dup_rate, mean_quality_logit, keep_rate.
    """
    from hbase_gis_spark.operators.dedup import tokens
    from hbase_gis_spark.operators.textstats import quality_logit_expr

    base = df.select(
        F.size(tokens(text_col)).alias("__nt"),
        F.col(chars_col).alias("__nc"),
        F.md5(text_col).alias("__h"),
        F.col(lang_col).alias("__lang"),
        quality_logit_expr(text_col).alias("__q"),
    )
    wide = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__nt").alias("__tt"),
        F.sum("__nc").alias("__tc"),
        F.count_distinct("__h").alias("__nd"),
        F.count_distinct("__lang").alias("__nl"),
        F.round(F.avg("__q"), 9).alias("__mq"),
        F.sum((F.col("__q") > 0).cast("bigint")).alias("__kp"),
    )
    n_d = F.col("__n").cast("double")
    items = F.array(
        F.struct(F.lit("n_docs").alias("metric"), n_d.alias("value")),
        F.struct(
            F.lit("total_tokens").alias("metric"),
            F.coalesce(F.col("__tt").cast("double"), F.lit(0.0)).alias("value"),
        ),
        F.struct(
            F.lit("total_chars").alias("metric"),
            F.coalesce(F.col("__tc").cast("double"), F.lit(0.0)).alias("value"),
        ),
        F.struct(
            F.lit("n_langs").alias("metric"),
            F.col("__nl").cast("double").alias("value"),
        ),
        F.struct(
            F.lit("exact_dup_rate").alias("metric"),
            F.when(
                F.col("__n") > 0,
                (F.col("__n") - F.col("__nd")).cast("double") / n_d,
            )
            .otherwise(F.lit(0.0))
            .alias("value"),
        ),
        F.struct(
            F.lit("mean_quality_logit").alias("metric"),
            F.coalesce(F.col("__mq"), F.lit(0.0)).alias("value"),
        ),
        F.struct(
            F.lit("keep_rate").alias("metric"),
            F.when(
                F.col("__n") > 0,
                F.coalesce(F.col("__kp"), F.lit(0)).cast("double") / n_d,
            )
            .otherwise(F.lit(0.0))
            .alias("value"),
        ),
    )
    return wide.select(F.explode(items).alias("m")).select("m.*")


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "budget",
    num_shards: int = 64,
) -> DataFrame:
    """Assemble a dataset under a TOKEN budget: walk the corpus in the
    deterministic pseudo-random order (shard, md5, id) — the
    :func:`global_shuffle` order — and keep every document whose
    running token total still fits ``budget_tokens``. The standard
    "give me N-billion tokens of this corpus" assembly step.

    The running total is an EXACT GLOBAL cumulative sum computed
    without a global sort (a global window would funnel 100 TB through
    one task): per-shard local window cumsums + a driver-side prefix
    over the ``num_shards`` per-shard totals (num_shards rows — O(64)
    driver work at any corpus size), folded back in as a plan-literal
    offset (``rank.shard_case_sql``). Every document's ``cum_tokens``
    equals what the global window would produce, shard by shard.

    Whole-document semantics: a doc is kept iff its OWN end position
    fits the budget (no document splitting — chunking is
    :func:`chunk_documents`' job). Deterministic: pure function of
    (content ids, salt, budget).

    Output: (id_col, n_tokens, cum_tokens) for kept docs.
    """
    from hbase_gis_spark.operators.textstats import token_count

    h = content_hash(salt, id_col)
    base = df.select(
        F.col(id_col),
        h.alias("__h"),
        (h % num_shards).cast("int").alias("__shard"),
        token_count(text_col).cast("bigint").alias("n_tokens"),
    )
    totals = (
        base.groupBy("__shard")
        .agg(F.sum("n_tokens").alias("__t"))
        .collect()
    )
    offsets, _ = prefix_offsets({r["__shard"]: r["__t"] for r in totals})
    off = F.expr(shard_case_sql(offsets, "__shard"))
    w = Window.partitionBy("__shard").orderBy("__h", id_col)
    return base.select(
        id_col,
        "n_tokens",
        (off + F.sum("n_tokens").over(w)).alias("cum_tokens"),
    ).filter(F.col("cum_tokens") <= budget_tokens)


def k_anonymity_report(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Privacy audit companion to :func:`pii_scrub`: every
    quasi-identifier combination whose group holds FEWER than ``k``
    rows — the k-anonymity violations a release gate would block (a
    combination seen once identifies its row).

    One hash aggregate on the quasi-identifier key (map-side partial
    combine; output is bounded by the violating-combination count, not
    the table) — the scan never re-reads. Deterministic order:
    rarest first, then the key columns.

    Output: (quasi columns..., n_rows), ascending by n_rows.
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") < k)
        .orderBy(
            F.col("n_rows").asc(), *[F.col(c).asc() for c in quasi_cols]
        )
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """The l-diversity half of the release gate, beside
    :func:`k_anonymity_report`: a quasi-identifier group can be
    plenty large yet still leak when every member shares the same
    SENSITIVE value (k-anonymity passes, the attribute is disclosed
    anyway — the classic homogeneity attack). Report every group
    whose sensitive column takes FEWER than ``l`` distinct values.

    Output: (quasi columns..., n_rows, n_sensitive), ascending by
    (n_sensitive, n_rows, keys) — least-diverse first.

    Scale shape: ONE hash aggregate on the quasi-identifier key with
    an exact distinct on the sensitive column (Expand-based — the
    profile_table cost note applies; swap for approx_count_distinct
    past ~10^9 groups); output bounded by violating groups, never the
    table."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(sensitive_col).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < l)
        .orderBy(
            F.col("n_sensitive").asc(),
            F.col("n_rows").asc(),
            *[F.col(c).asc() for c in quasi_cols],
        )
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_milli: int = 200,
) -> DataFrame:
    """The t-closeness third of the release gate
    (:func:`k_anonymity_report` -> :func:`l_diversity_report` -> this):
    a group can be large AND diverse yet still leak when its sensitive
    DISTRIBUTION differs sharply from the corpus (the skewness attack
    — "90% of this zip code's rows say positive" discloses plenty even
    with l > 1 distinct values). For a categorical sensitive column
    the distance is TOTAL VARIATION: ``tvd = 1/2 * sum_c |p_gc - p_c|``;
    report every group with ``tvd_milli > t_milli``.

    Engine-exact integer core: with group size ``n_g``, corpus size
    ``n``, counts ``c_gc``/``c_c``, the common-denominator form is
    ``tvd_milli = (1000 * sum_c |c_gc*n - c_c*n_g|) div (2*n_g*n)`` —
    the numerator terms are products of two TABLE-SCALE BIGINTs, so
    they accumulate in DECIMAL(38,0) with the cast BEFORE the multiply
    (the round-7 overflow sweep; raw int64 wraps once c*n passes
    ~9e18, i.e. tables past ~3e9 rows), mirrored as HUGEINT in the
    DuckDB oracle. Every term is non-negative, where ALL integer-division
    conventions coincide — stated, not assumed. Categories the
    group never exhibits contribute ``c_c*n_g`` each; their mass folds
    in closed form as ``n_g*(n - sum_present c_c)``, so the dense
    group x category grid is never materialized.

    Output: (quasi columns..., n_rows, tvd_milli) — violating groups
    only, worst first (tvd_milli desc, n_rows desc, keys asc).

    Scale shape: one (quasi, sensitive) hash aggregate (map-side
    combined; the cell frame is bounded by groups x |categories|), a
    group-keyed size join over that cell frame, a broadcast of the
    |categories|-row marginal and the 1-row total, one group-keyed
    aggregate — output bounded by violating groups, never the table."""
    base = df.filter(F.col(sensitive_col).isNotNull())
    cells = base.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("__cgc")
    )
    gsz = cells.groupBy(*quasi_cols).agg(F.sum("__cgc").alias("__ng"))
    marg = base.groupBy(sensitive_col).agg(
        F.count(F.lit(1)).alias("__cc")
    )
    total = base.agg(F.count(F.lit(1)).alias("__n"))
    dec = "decimal(38,0)"
    # NULL-SAFE group-size join (ADVICE r7 #3): a plain equi-join on
    # the quasi keys silently dropped any group whose quasi value is
    # NULL — while k_anonymity_report (pure groupBy) reports it, so
    # the release gate's leakiest catch-all bucket was the one the
    # tvd audit skipped. <=> keys still plan as a hash join.
    gkeys = gsz.select(
        *[F.col(c).alias(f"__g_{c}") for c in quasi_cols], "__ng"
    )
    gcond = None
    for c in quasi_cols:
        t = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
        gcond = t if gcond is None else (gcond & t)
    j = (
        cells.join(gkeys, gcond)
        .drop(*[f"__g_{c}" for c in quasi_cols])
        .join(F.broadcast(marg), sensitive_col)
        .crossJoin(F.broadcast(total))
        .withColumn(
            # cast BEFORE the multiply (the important_parts lesson)
            "__term",
            F.abs(
                F.col("__cgc").cast(dec) * F.col("__n")
                - F.col("__cc").cast(dec) * F.col("__ng")
            ),
        )
    )
    agg = j.groupBy(*quasi_cols).agg(
        # first() is deterministic here: __ng/__n are CONSTANT within
        # the group (group size / corpus total), never row-dependent
        F.first("__ng").alias("__ng"),
        F.first("__n").alias("__n"),
        F.sum("__term").alias("__present"),
        F.sum("__cc").alias("__pcc"),
    )
    out = agg.select(
        *quasi_cols,
        F.col("__ng").cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(((__present + CAST(__ng AS DECIMAL(38,0))"
            " * (__n - __pcc)) * 1000)"
            " div (CAST(2 AS DECIMAL(38,0)) * __ng * __n) AS BIGINT)"
        ).alias("tvd_milli"),
    )
    return out.filter(F.col("tvd_milli") > t_milli).orderBy(
        F.col("tvd_milli").desc(),
        F.col("n_rows").desc(),
        *[F.col(c).asc() for c in quasi_cols],
    )


def group_sample_k(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "gsample",
) -> DataFrame:
    """Deterministic fixed-size sample: exactly ``min(k, |group|)``
    rows per group, chosen by md5-hash order — the "give me 100 random
    docs per source for review" primitive next to the rate-based
    ``stratified_sample`` (Bernoulli keeps a FRACTION and its output
    size drifts with group size; audits and human-review queues need
    a fixed count). Deterministic and engine-exact: the priority is
    the usual ``md5(salt:id)`` integer, ties broken by id. NOT
    append-stable by design — a new row can displace a sampled one
    (fixed-k sampling cannot be append-stable; use stratified_sample
    when stability matters more than size).

    Scale shape: :func:`~hbase_gis_spark.operators.topx.top_x` over
    the hash order — ONE shuffle on the group key behind a partial
    WindowGroupLimit, so each map task forwards at most k rows per
    group it sees — the shuffle carries ~k rows per (group, task),
    never whole groups. Output: input columns + ``sample_rank`` (1..k
    in hash order)."""
    return top_x(
        df, group_col, content_hash(salt, id_col).asc(), k,
        tiebreak_col=id_col, rank_col="sample_rank",
    )


def quality_resample(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "resample",
) -> DataFrame:
    """Quality-weighted importance resampling: each document survives
    with probability proportional to its quality score — the soft
    alternative to a hard ``quality_logit > 0`` cutoff (keeps SOME
    low-scoring text for diversity, thins it instead of banning it).

    Determinism/exactness contract: the keep probability is an integer
    milli-unit ramp ``clamp(500 + floor(quality_logit * 250), 0,
    1000)`` — floor, not round, so no half-way tie can diverge between
    engines — and the draw is the repo-standard md5 hash of the doc id
    folded mod 1000.  Pure function of row content: reproducible
    across runs, cluster layouts, and engines, and re-running on an
    appended table never flips previously-kept rows (the property
    RNG-based sampling loses).

    Map-only scan annotation + filter; no shuffle, no Python.
    Output: (id_col, keep_milli, draw) for the surviving rows.
    """
    from hbase_gis_spark.operators.textstats import quality_logit_expr

    keep_milli = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.lit(1000).cast("bigint"),
            F.lit(500)
            + F.floor(quality_logit_expr(text_col) * F.lit(250.0)),
        ),
    )
    draw = content_hash(salt, id_col, modulus=1000)
    return (
        df.select(
            F.col(id_col),
            keep_milli.alias("keep_milli"),
            draw.alias("draw"),
        )
        .filter(F.col("draw") < F.col("keep_milli"))
    )


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-EVAL-document contamination audit — the other direction of
    ``ngram_contamination`` (which annotates TRAIN docs): for each
    held-out document, how much of it already leaks into the training
    corpus, and from how many training documents.

    Output: (id_col, n_grams, hit_grams, contamination, n_train_docs)
    where contamination = hit_grams / n_grams (NULL for eval docs
    shorter than n tokens).  Zero-hit eval docs are kept (left join) —
    the report is a total audit, its consumer decides the eviction
    threshold.

    Scale shape: both sides explode to DISTINCT (doc, gram) postings;
    ONE equality join on the gram key + one per-eval-doc aggregate.
    The eval side is bounded (benchmarks), the train side is the 100
    TB corpus — work is the postings-intersection size, and the join
    key is content-derived, so AQE handles the few stop-gram buckets.
    """
    from hbase_gis_spark.operators.dedup import _spread, word_shingles

    te = test.select(
        F.col(id_col).alias("tid"), word_shingles(text_col, n).alias("s")
    )
    te_tot = te.select(
        "tid", F.size("s").cast("bigint").alias("n_grams")
    )
    te_post = te.select("tid", F.explode("s").alias("gram"))
    tr_post = _spread(train).select(
        F.col(id_col).alias("train_id"),
        F.explode(word_shingles(text_col, n)).alias("gram"),
    )
    hits = (
        te_post.join(tr_post, "gram")
        .groupBy("tid")
        .agg(
            F.count_distinct("gram").alias("hit_grams"),
            F.count_distinct("train_id").alias("n_train_docs"),
        )
    )
    return (
        te_tot.join(hits, "tid", "left")
        .select(
            F.col("tid").alias(id_col),
            "n_grams",
            F.coalesce("hit_grams", F.lit(0)).alias("hit_grams"),
            F.when(
                F.col("n_grams") > 0,
                F.coalesce("hit_grams", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
            ).alias("contamination"),
            F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Per-group EXACT winsorization: clamp each value into its
    group's [p_lo, p_hi] quantile band — the standard outlier-trimming
    step before a numeric column feeds model features or averages that
    one fat-finger row would poison.

    Quantile convention: value at rank ceil(p * n) (``rank.cut_rank``)
    with ``p`` read as the nearest fraction whose denominator is at
    most 10**6 (0.07 is 7/100, ``1 - 0.95`` is 1/20) and ``n`` the
    group's non-NULL, non-NaN values. NULL/NaN values come out
    unchanged; rows with a NULL group key are dropped, as an inner
    join on the key drops them. ``p_lo = 0`` (rank 0, no bound) clamps
    like rank 1. Deterministic under ties, exact, no interpolation to
    match across engines.

    Scale shape: the bounds are a two-pick
    ``rank.grouped_percentiles`` (ONE window exchange) — a
    |groups|-row dim that joins back BROADCAST; the clamp is map-only.
    Output: input columns + ``win_<value_col>``.
    """
    lo, hi = (Fraction(str(p)).limit_denominator(10**6) for p in (p_lo, p_hi))
    picks = {"__lo": lo.as_integer_ratio(), "__hi": hi.as_integer_ratio()}
    keyed = df.filter(F.col(group_col).isNotNull())
    bounds = grouped_percentiles(keyed, [group_col], value_col, picks).select(
        F.col(group_col).alias("__g"), "__lo", "__hi"
    )
    v = F.col(value_col)
    clamped = F.when(
        rankable(df, value_col), F.least(F.greatest(v, "__lo"), "__hi")
    ).otherwise(v)
    on = F.col(group_col) == F.col("__g")
    return keyed.join(F.broadcast(bounds), on, "left").select(
        *[F.col(c) for c in df.columns],
        clamped.alias(f"win_{value_col}"),
    )


def temperature_mixture(
    df: DataFrame,
    source_col: str = "source",
    alpha_milli: int = 300,
) -> DataFrame:
    """Temperature-scaled mixture weights: the multilingual-corpus
    rebalancing computation (sampling probability ∝ count^alpha,
    alpha < 1 upsamples small sources — the mC4 / XLM-R recipe,
    default alpha = 0.3). Output one row per source: (source, n_docs,
    raw_ppm = natural share, temp_ppm = temperature share,
    boost_milli = temp/raw ratio in milli — >1000 means upsampled).

    Engine-exact by the idf_milli discipline: count^alpha is ONE
    rounded float per SOURCE row (m = round(1000 * pow(n, alpha)));
    the normalizing sum then runs over integers, and every share is
    an integer floor ppm — no float ever sums across rows.

    Scale shape: one |sources|-row count aggregate + a broadcast
    1-row totals dim; constant-size everything."""
    alpha = alpha_milli / 1000.0
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    weighted = counts.select(
        "source",
        "n_docs",
        F.round(F.lit(1000.0) * F.pow(F.col("n_docs").cast("double"), alpha))
        .cast("bigint")
        .alias("__m"),
    )
    totals = weighted.agg(
        F.sum("n_docs").alias("__tn"), F.sum("__m").alias("__tm")
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            F.expr("(n_docs * 1000000) div __tn").alias("raw_ppm"),
            F.expr("(__m * 1000000) div __tm").alias("temp_ppm"),
            F.expr(
                "((__m * 1000000) div __tm) * 1000"
                " div ((n_docs * 1000000) div __tn)"
            ).alias("boost_milli"),
        )
    )


def rare_category_collapse(
    df: DataFrame,
    cat_col: str,
    min_count: int = 100,
    other: str = "OTHER",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse rare categorical values below ``min_count`` rows into
    one ``other`` bucket — the feature-engineering guard against
    high-cardinality categoricals (a value seen 3 times teaches a
    model nothing and bloats every embedding/one-hot downstream).
    NULL categories collapse too (they are by definition untrusted).

    Output: every input row as (``id_col``, ``cat_col``, ``{cat}_out``)
    — the applied projection, so downstream selects the collapsed
    column and drops the raw one.

    Scale shape: one hash aggregate over the category key (bounded by
    |categories|, map-side combined) broadcast back onto the fact rows
    — the dimension is tiny by construction, the fact side never
    shuffles."""
    counts = (
        df.groupBy(cat_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .filter(F.col(cat_col).isNotNull())
        .select(F.col(cat_col), F.lit(True).alias("__keep"))
    )
    return (
        df.select(id_col, cat_col)
        .join(F.broadcast(counts), cat_col, "left")
        .select(
            id_col,
            cat_col,
            F.when(F.col("__keep"), F.col(cat_col))
            .otherwise(F.lit(other))
            .alias(f"{cat_col}_out"),
        )
    )


def target_encoding_loo(
    df: DataFrame,
    cat_col: str,
    target_milli_col,
    id_col: str,
) -> DataFrame:
    """LEAVE-ONE-OUT target encoding of a categorical column: each
    row's encoding is the mean target of its category EXCLUDING the
    row itself — the standard leakage-free form (plain category means
    leak each row's own label into its feature; LOO is what scikit's
    TargetEncoder / CatBoost ordered boosting approximate).

    Exactness: target must arrive as an exact integer unit (caller
    rounds per row); the encoding is the TRUNCATING quotient
    ``trunc((sum - own) * 1000 / (n - 1))`` — NEGATIVE numerators
    (negative targets, e.g. balances) truncate toward zero in BOTH
    engines: measured round 7, DuckDB's ``//`` and ``%`` truncate
    exactly like Spark's ``div``/``%`` ((-7)//3 == -2), pinned by the
    negative-target regression test (ADVICE r6 #1 suspected a
    floor-vs-truncate divergence; the measurement disproved it —
    Python's ``//`` floors, so never replay this quotient in bare
    Python). ``enc_micro``
    carries THREE EXTRA fractional digits relative to the input unit
    (cents in -> milli-cents out; the welch_t_test naming lesson,
    ADVICE r5 #1). NULL when the category has a single row (no peers
    to average).

    Scale shape: one category-keyed aggregate (|categories| rows,
    map-side combined) broadcast back onto the fact rows; the fact
    side never shuffles. Singleton and NULL categories stay NULL —
    feed :func:`rare_category_collapse` first to pool them."""
    t = (
        F.col(target_milli_col)
        if isinstance(target_milli_col, str)
        else target_milli_col
    )
    base = df.select(
        F.col(id_col), F.col(cat_col), t.cast("bigint").alias("__t")
    )
    agg = base.groupBy(cat_col).agg(
        F.sum("__t").alias("__sum"), F.count(F.lit(1)).alias("__n")
    )
    # DECIMAL(38,0) sums: (sum*1000) wraps int64 past ~9.2e15 in
    # category total (a few 1e8 rows of cent values) — the
    # important_parts overflow lesson; DuckDB promotes to HUGEINT
    return (
        base.join(F.broadcast(agg), cat_col, "left")
        .select(
            id_col,
            cat_col,
            # bare truncating div: measured round 7, DuckDB's // and %
            # truncate exactly like Spark's div for all signs, and the
            # remainder-subtract belt cost ~2x on this fact projection;
            # the negative-target agreement is pinned by
            # tests/test_round7_ops.py instead of runtime arithmetic
            F.when(
                F.col("__n") > 1,
                F.expr(
                    "CAST(((CAST(__sum AS DECIMAL(38,0)) - __t) * 1000)"
                    " div (__n - 1) AS BIGINT)"
                ),
            ).alias("enc_micro"),
        )
    )


def stage_funnel(
    stages: list[tuple[str, DataFrame]],
) -> DataFrame:
    """Per-stage ATTRITION report for a filter cascade — the
    data-curation funnel chart: each ``(name, frame)`` is a stage's
    SURVIVOR set (already composed in order, e.g. raw → lang gate →
    exact dedup → near dedup → cap), and the report shows where the
    corpus shrinks: (stage_idx, stage, n_docs, dropped = previous
    stage's count − this one's, kept_milli = (1000·n_docs) div
    raw_count — non-negative, truncate == floor in both engines;
    NULL when the raw set is empty, the nullif discipline).

    Scale shape: one COUNT aggregate per stage (map-side, 1 row out),
    unioned into a |stages|-row dim; dropped/kept come from equi/
    broadcast joins on that dim. Earlier stages are re-evaluated
    inside later counts (stage k costs k pipeline evaluations) —
    deliberate: the replay-over-persist rule (a persisted fact-scale
    intermediate is double storage at 100 TB) at a depth bounded by
    the CASCADE length, which is a configuration constant (~5), not
    a data quantity."""
    counts = None
    for i, (name, df) in enumerate(stages):
        c = df.agg(F.count(F.lit(1)).alias("__n")).select(
            F.lit(i).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col("__n").cast("bigint").alias("n_docs"),
        )
        counts = c if counts is None else counts.unionByName(c)
    return funnel_report(counts)


def funnel_report(counts: DataFrame) -> DataFrame:
    """The attrition report over an already-built (stage_idx, stage,
    n_docs) counts dim — the assembly half of :func:`stage_funnel`,
    exposed so a caller that can derive several stage COUNTS from one
    lineage evaluation (e.g. a survivor count and its capped count
    from a single per-key aggregate) skips the per-stage pipeline
    replays entirely. All joins run on the |stages|-row dim."""
    prev = counts.select(
        (F.col("stage_idx") + 1).alias("stage_idx"),
        F.col("n_docs").alias("__prev_n"),
    )
    raw = counts.filter(F.col("stage_idx") == 0).select(
        F.col("n_docs").alias("__n0")
    )
    return (
        counts.join(F.broadcast(prev), "stage_idx", "left")
        .crossJoin(F.broadcast(raw))
        .select(
            "stage_idx",
            "stage",
            "n_docs",
            F.coalesce(F.col("__prev_n") - F.col("n_docs"), F.lit(0))
            .cast("bigint")
            .alias("dropped"),
            F.expr(
                "CAST((1000 * n_docs) div nullif(__n0, 0) AS BIGINT)"
            ).alias("kept_milli"),
        )
    )


def _ticket_keys(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    salt: str,
    max_weight: int,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """The ticket race's selection keys, one row per item:
    (``*by``, ``id_col``, __w, sel_key) — the clamped weight and the
    minimum ``md5(salt:id:ticket)`` over the item's tickets. The
    global and per-group weighted samples select from these rows."""
    w_int = (
        F.least(
            F.greatest(F.col(weight_col).cast("bigint"), F.lit(1)),
            F.lit(max_weight),
        )
    ).alias("__w")
    tickets = df.select(*[F.col(c) for c in by], F.col(id_col), w_int).select(
        *by,
        id_col,
        "__w",
        F.explode(F.sequence(F.lit(1), F.col("__w"))).alias("__t"),
    )
    return (
        tickets.select(
            *by,
            id_col,
            "__w",
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col(id_col).cast("string"),
                    F.col("__t").cast("string"),
                )
            ).alias("__key"),
        )
        .groupBy(*by, id_col, "__w")
        .agg(F.min("__key").alias("sel_key"))
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
    max_weight: int = 64,
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement: take k
    items with inclusion odds proportional to an integer weight — the
    quality-weighted corpus draw ("sample 1M docs, prefer the long /
    high-score ones") that unweighted :func:`global_shuffle` prefixes
    can't express.

    Mechanism — the TICKET race: item i holds ``w_i`` tickets
    (weights floored to ≥ 1 and capped at ``max_weight``, stated);
    every ticket draws the 128-bit key ``md5(salt:id:ticket_idx)``;
    the item's selection key is its MINIMUM ticket key; the k
    smallest selection keys win. For continuous keys this is exactly
    the A-ES/exponential-clocks race — P(i outranks j) =
    w_i/(w_i + w_j), pairwise and sequentially without replacement —
    realized here with exact hash keys instead of libm ``ln``/``pow``
    whose last-ulp rounding differs between JVM and system libm (the
    cross-engine determinism rule). 128-bit ticket collisions
    (~2⁻¹²⁸) fall through to the (key, id) tiebreak; stated, not
    load-bearing.

    Deterministic: a pure function of (ids, weights, salt, k) —
    reproducible across runs, engines, and cluster layouts.

    Output: (id_col, weight, sel_key), the k winners.

    Scale shape: the explode amplifies a TWO-column projection by at
    most ``max_weight`` (never the payload — rejoin by id for
    columns); the min-key aggregate combines map-side; the top-k is
    ``TakeOrderedAndProject`` (bounded heap per partition + driver
    merge of k·partitions rows), never a global sort."""
    keys = _ticket_keys(df, weight_col, id_col, salt, max_weight)
    return (
        keys.orderBy(F.col("sel_key").asc(), F.col(id_col).asc())
        .limit(k)
        .select(
            id_col,
            F.col("__w").cast("bigint").alias("weight"),
            "sel_key",
        )
    )


def ablation_ladder(
    df: DataFrame,
    fractions_ppm: tuple[int, ...] = (
        12_500, 25_000, 50_000, 100_000, 200_000, 400_000, 800_000,
    ),
    id_col: str = "doc_id",
    salt: str = "ladder",
) -> DataFrame:
    """NESTED data-ablation subsets for scaling-law runs: one
    deterministic hash per document, thresholded at every rung of the
    ladder — because every rung thresholds the SAME hash, the 1.25%
    subset is contained in the 2.5% subset is contained in the 5% …
    exactly the containment a train-size ablation needs (a smaller
    run must see a subset of the larger run's data, or the curve
    confounds data identity with data quantity).

    Output: (``id_col``, rung_ppm) for every document inside the
    LARGEST rung, where rung_ppm is the smallest configured fraction
    (parts-per-million) whose subset contains the document. Members
    of rung f at any sf are recovered with ``rung_ppm <= f`` — one
    materialization serves the whole ladder.

    Deterministic and append-stable: a document's rung is a pure
    function of (id, salt) — adding data never reshuffles existing
    members (the :func:`stratified_sample` md5 discipline; exactly
    reproducible in DuckDB, stated 2⁶⁰-fold modulo bias ≪ 1e-12).

    Scale shape: ONE map-only projection — no shuffle, no state; the
    filter pushes into the scan alongside any consumer predicate."""
    fr = sorted(fractions_ppm)
    h = content_hash(salt, id_col) % 1_000_000
    rung = F.lit(None).cast("bigint")
    for f in reversed(fr):
        rung = F.when(h < f, F.lit(f)).otherwise(rung)
    return (
        df.select(F.col(id_col), rung.alias("rung_ppm"))
        .filter(F.col("rung_ppm").isNotNull())
    )


def weighted_sample_k_per_group(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
    max_weight: int = 64,
) -> DataFrame:
    """Per-group :func:`weighted_sample_k`: k weighted winners WITHIN
    every group (quality-weighted review sample per language, per
    source, per day) — the stratified member of the ticket-race
    family, with identical key semantics (same salt + weights →
    the same item keys as the global draw, so a group winner is
    exactly the global race restricted to its group).

    Scale shape: the explode/min-key aggregate is the global
    operator's; selection swaps the global ``TakeOrderedAndProject``
    for a row_number window PARTITIONED by group (group-bounded sort,
    never global). Groups with fewer than k members return all of
    them. NULL group keys form their own group (SQL GROUP BY
    semantics).

    Output: (``group_col``, ``id_col``, weight, sel_key, rnk 1..k)."""
    keys = _ticket_keys(
        df, weight_col, id_col, salt, max_weight, by=(group_col,)
    )
    return top_x(
        keys, group_col, "sel_key", k, tiebreak_col=id_col, rank_col="rnk"
    ).select(
        group_col,
        id_col,
        F.col("__w").cast("bigint").alias("weight"),
        "sel_key",
        F.col("rnk").cast("bigint").alias("rnk"),
    )


def negative_sample_k(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    group_col: str = "source",
    pool: int = 64,
    salt: str = "neg",
    pool_per_group: bool = False,
) -> DataFrame:
    """Deterministic contrastive negative mining: for every anchor
    row, draw ``k`` pseudo-random negatives from OTHER groups (the
    in-batch-negatives step of a contrastive/embedding training
    pipeline, made reproducible). Randomness is the md5 ticket
    discipline of :func:`weighted_sample_k` — no RNG state, no libm,
    bit-identical in SQL.

    Two-stage shape so no anchor ever scores the whole corpus:
    (1) a SHARED candidate pool = the ``pool`` rows with the smallest
    ``md5(salt+'pool:'+id)`` tickets (one TakeOrderedAndProject — the
    global-shuffle trick, uniform over the corpus and independent of
    the anchor); (2) each anchor ranks ONLY the broadcast pool by a
    pairwise ticket ``md5(salt+':'+anchor+':'+candidate)`` and keeps
    its ``k`` smallest, excluding itself and its own group.
    Per-anchor work is O(|pool|), total work O(n·|pool|) — never
    O(n²); the rank window is partitioned by anchor (pool-bounded
    groups).

    SHARED-POOL CORRELATION (documented per VERDICT r9): every anchor
    ranks the SAME pool candidates, so negatives repeat heavily
    across anchors — fine for reproducible eval negatives, a real
    correlation for contrastive training (the model sees the same few
    negatives against every anchor). Mitigations: raise ``pool``, or
    set ``pool_per_group=True`` to draw the ticket race WITHIN each
    stratum — the pool then holds the ``pool`` smallest tickets PER
    GROUP (a row_number window partitioned by group: group-bounded
    sort, never a global one), so every anchor's negatives cover the
    group mix instead of whichever groups dominate the global race.
    The broadcast pool grows to |groups|·pool rows and per-anchor
    work to O(|groups|·pool) — still linear in n; keep the global
    pool for high-cardinality group columns.

    Rows whose ``group_col`` is NULL are excluded from the pool UP
    FRONT (ADVICE r9 #4): ``__ng != __g`` is NULL-falsy, so a
    NULL-group pool member could never serve as a negative for any
    anchor — before this filter it consumed a pool slot as dead
    weight, silently shrinking the effective pool below ``pool``.
    Anchors whose ``group_col`` is NULL likewise get no negatives
    (the keyed-exclusion convention of apply_forget);
    exclude-by-group requires attributed rows on both sides.

    Output: (``id_col``, neg_id, neg_rank 1..k). Anchors can emit
    fewer than k rows when the pool holds fewer than k other-group
    members — raise ``pool`` (or set ``pool_per_group``) if that
    bites."""
    base = df.select(F.col(id_col).alias("__id"), F.col(group_col).alias("__g"))
    ticketed = base.filter(F.col("__g").isNotNull()).select(
        F.col("__id").alias("__nid"),
        F.col("__g").alias("__ng"),
        F.md5(
            F.concat_ws(":", F.lit(salt + "pool"), F.col("__id").cast("string"))
        ).alias("__pt"),
    )
    if pool_per_group:
        pool_df = top_x(
            ticketed, "__ng", "__pt", pool, tiebreak_col="__nid"
        ).select("__nid", "__ng")
    else:
        pool_df = (
            ticketed.orderBy(F.col("__pt").asc(), F.col("__nid").asc())
            .limit(pool)
            .drop("__pt")
        )
    pairs = (
        base.crossJoin(F.broadcast(pool_df))
        .filter(
            (F.col("__nid") != F.col("__id")) & (F.col("__ng") != F.col("__g"))
        )
        .select(
            "__id",
            "__nid",
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col("__id").cast("string"),
                    F.col("__nid").cast("string"),
                )
            ).alias("__tick"),
        )
    )
    return top_x(
        pairs, "__id", "__tick", k, tiebreak_col="__nid", rank_col="neg_rank"
    ).select(
        F.col("__id").alias(id_col),
        F.col("__nid").alias("neg_id"),
        F.col("neg_rank").cast("bigint").alias("neg_rank"),
    )


def curriculum_order(
    df: DataFrame,
    difficulty_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Deterministic curriculum dataloader order: rank every document
    by ``difficulty_col`` WITHIN its source, then interleave sources
    round-robin — round r is every source's r-th easiest document,
    rounds ordered by difficulty rank, sources within a round by name.
    The standard easy-first curriculum that still walks the source mix
    uniformly from the first batch (a difficulty-sorted global order
    would front-load whichever source is easiest).

    Scale shape — NO per-source single-task sort: the within-source
    rank reuses the rank.py range-shard machinery (shard boundaries on
    the difficulty key are GLOBAL cuts, so they are valid per source
    too: rows of one source below a cut precede its rows above it, and
    first-key ties never split). Local row_number runs per
    (source, shard) — n_shards-way parallel inside even ONE giant
    source — plus a bounded |sources|·n_shards offset map collected
    driver-side (never O(rows)). The global position is then pure
    arithmetic over the broadcast per-source sizes: for rank r in
    source g,

        global_pos = sum_g' min(size_g', r-1)         (earlier rounds)
                   + |{g' < g : size_g' >= r}| + 1     (this round)

    computed with a |sources|-row broadcast fan-out and re-aggregate —
    no global window anywhere.

    Output: (id, group, within_rank, global_pos), all exact integers;
    (within_rank, group) and global_pos induce the same total order.
    """
    bounds = shard_boundaries(df, difficulty_col, n_shards)
    sharded = apply_range_shards(df, difficulty_col, bounds)
    pair_rows = (
        sharded.groupBy(group_col, "__shard")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )  # bounded: |sources| * n_shards integers
    by_group: dict = {}
    for r in pair_rows:
        by_group.setdefault(r[group_col], {})[r["__shard"]] = r["cnt"]
    off_rows, size_rows = [], []
    for g, m in by_group.items():
        acc = 0
        for sid in sorted(m):
            off_rows.append((g, int(sid), acc))
            acc += int(m[sid])
        size_rows.append((g, acc))
    spark = df.sparkSession
    gtype = dict(df.dtypes)[group_col]
    odf = spark.createDataFrame(
        off_rows or [(None, 0, 0)],
        f"{group_col} {gtype}, __shard int, __off bigint",
    )
    sizes = spark.createDataFrame(
        size_rows or [(None, 0)], f"__g2 {gtype}, __gsize bigint"
    )
    w = Window.partitionBy(group_col, "__shard").orderBy(
        F.col(difficulty_col).asc(), F.col(id_col).asc()
    )
    ranked = (
        sharded.join(F.broadcast(odf), [group_col, "__shard"])
        .withColumn(
            "within_rank",
            (F.row_number().over(w) + F.col("__off")).cast("bigint"),
        )
        .select(id_col, group_col, "within_rank")
    )
    r = F.col("within_rank")
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .groupBy(id_col, group_col, "within_rank")
        .agg(
            (
                F.sum(F.least(F.col("__gsize"), r - 1))
                + F.sum(
                    F.when(
                        (F.col("__gsize") >= r)
                        & (F.col("__g2") < F.col(group_col)),
                        1,
                    ).otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("global_pos")
        )
    )


def shard_balance(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    weight_col: str | None = None,
    salt: str = "shard",
) -> DataFrame:
    """Hash-shard balance audit for a planned ``n_shards``-way layout:
    assign every row to ``md5(salt:id) % n_shards`` (the repo-standard
    deterministic hash — the same shard function a writer would use)
    and report each shard's row count, weight mass (token budget if
    ``weight_col`` is a token count), and both as exact milli-of-even
    ratios: ``1000 * shard_total * n_shards div grand_total``, so 1000
    = perfectly even and the max row is the straggler factor a static
    shard layout bakes in.

    Scale shape: one map-side-combined aggregate to ``n_shards`` rows;
    the grand totals come from an unpartitioned window over those
    n_shards rows only (bounded, never the fact table). Weight columns
    must be non-negative for the milli ratios to mean anything —
    negative mass is rejected at plan time via a guarded sum.

    Output: (shard, n_rows, weight, rows_milli_of_even,
    weight_milli_of_even), one row per non-empty shard."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    wcol = (
        F.col(weight_col).cast("bigint")
        if weight_col
        else F.lit(1).cast("bigint")
    )
    per = (
        df.select(
            content_hash(salt, id_col, n_shards).cast("int").alias("shard"),
            wcol.alias("__w"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("__w").cast("bigint").alias("weight"),
        )
    )
    tot = Window.partitionBy()  # n_shards rows — bounded by design
    return per.select(
        "shard",
        "n_rows",
        "weight",
        F.expr(f"1000 * n_rows * {int(n_shards)}")
        .cast("bigint")
        .alias("__rn"),
        F.sum("n_rows").over(tot).alias("__rt"),
        F.expr(f"1000 * weight * {int(n_shards)}")
        .cast("bigint")
        .alias("__wn"),
        F.sum("weight").over(tot).alias("__wt"),
    ).select(
        "shard",
        "n_rows",
        "weight",
        F.expr("__rn div __rt").cast("bigint").alias("rows_milli_of_even"),
        # an all-zero weight column has no mass to balance: NULL, not
        # a divide-by-zero (the nullif discipline; rows total is > 0
        # whenever the frame is non-empty, so only weight needs it)
        F.expr("__wn div nullif(__wt, 0)")
        .cast("bigint")
        .alias("weight_milli_of_even"),
    )
