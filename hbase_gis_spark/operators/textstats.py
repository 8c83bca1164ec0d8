"""Text analysis operators: language ID, quality scoring, token stats,
document fingerprinting.

Pure JVM column expressions (split/size/filter/length arithmetic) so
they vectorize under whole-stage codegen AND can be reproduced verbatim
in DuckDB oracle SQL. Heuristics are deliberately simple + deterministic
(marker-word counts, ratio features) — the point at 100 TB is the
execution shape (one scan, no shuffle, no Python), not linguistic
accuracy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_gis_spark.functions import sqlkernels as K
from hbase_gis_spark.functions.sqlkernels import (  # noqa: F401
    KNUTH_MULT, LANG_MARKERS, LANG_ORDER as _LANG_ORDER, QC_DIM,
)
from hbase_gis_spark.operators.dedup import tokens
from hbase_gis_spark.operators.topx import top_x


def token_count(text_col) -> Column:
    return F.size(tokens(text_col))


# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation
# marks — the GPT-2-style shape without the tricky lookaheads, and with
# mutually-disjoint alternatives so Java regex (Spark) and RE2 (DuckDB)
# agree exactly.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_count(text_col) -> Column:
    """Count of BPE-ish pre-tokens (see BPE_TOKEN_PATTERN). A cheap
    whole-corpus token budget estimator that runs JVM-side
    (regexp_count, codegen) — no Python tokenizer in the scan."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def marker_count(text_col, markers: tuple[str, ...]) -> Column:
    words = K.tokens_sql(K.operand(text_col))
    return F.expr(K.marker_count_sql(words, markers))


def lang_id(text_col) -> Column:
    """Marker-word argmax language guess ('und' when no marker hits).

    Ties resolve in LANG_ORDER precedence — the oracle SQL uses the
    same CASE cascade (``sqlkernels.lang_id_sql``)."""
    return F.expr(K.lang_id_sql(K.operand(text_col)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns: token count, type-token ratio,
    mean token length, stopword ratio, and a combined score.

    Same shape as the classic Gopher/C4-style quality filters; all
    ratios are double divisions in a fixed op order for oracle parity.
    """
    w = tokens(text_col)
    n_tok = F.size(w).cast("double")
    n_uniq = F.size(F.array_distinct(w)).cast("double")
    n_chars = F.length(F.trim(F.col(text_col))).cast("double")
    stop = marker_count(text_col, LANG_MARKERS["en"]).cast("double")
    ttr = n_uniq / n_tok
    mean_len = (n_chars - (n_tok - F.lit(1.0))) / n_tok  # chars net of separators
    stop_ratio = stop / n_tok
    score = ttr * F.lit(0.5) + stop_ratio * F.lit(0.3) + (
        F.lit(1.0) / (F.lit(1.0) + F.abs(mean_len - F.lit(5.0)))
    ) * F.lit(0.2)
    return (
        df.withColumn("n_tokens", F.size(w))
        .withColumn("ttr", ttr)
        .withColumn("mean_token_len", mean_len)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("quality_score", score)
    )


def term_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary statistics: per distinct token, total
    occurrences (tf) and document frequency (df).

    One explode + one hash aggregation — partial aggregation map-side,
    so the shuffle carries at most |vocab| rows per partition, not the
    token stream. The df side uses count_distinct(id), which Spark
    plans as a two-phase distinct aggregate."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("w")
    )
    return toks.groupBy("w").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct(F.col("id")).alias("df"),
    )


def fingerprint(text_col) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed text. Identical expression in DuckDB."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


# Patterns kept to the Java-regex ∩ RE2 common subset so Spark and the
# DuckDB oracle substitute identically.
URL_PATTERN = r"https?://\S+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def clean_text(text_col) -> Column:
    """Training-data text normalization: scrub URLs and email addresses
    (the standard PII/boilerplate pre-filter), collapse whitespace,
    trim, lowercase. Pure regexp_replace chain — JVM codegen, one scan,
    no Python; applied in a fixed order the oracle SQL mirrors."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.regexp_replace(c, URL_PATTERN, " ")
    c = F.regexp_replace(c, EMAIL_PATTERN, " ")
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: token count, the
    fraction of tokens that are the single most frequent token, and the
    fraction of word bigrams that are the most frequent bigram.

    Execution shape for 100 TB: tokenization + bigram build are JVM
    HOFs (zip_with over two shifted slices — no per-element re-eval of
    the split); the frequency maxima come from explode → two-phase hash
    aggregation keyed by (doc, term), so the shuffle carries per-doc
    distinct terms, not the token stream, and all three aggregates
    shuffle on the same id key (one exchange reused under AQE)."""
    from hbase_gis_spark.operators.dedup import _spread

    base = _spread(df).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("w")
    )
    m = F.greatest(F.size("w") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("w", 1, m), F.slice(F.col("w"), 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    uni = (
        base.select("id", F.explode("w").alias("t"))
        .groupBy("id", "t").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id").agg(F.max("c").alias("top_tok"))
    )
    bg = (
        base.select("id", F.explode(bigrams).alias("g"))
        .groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id").agg(F.max("c").alias("top_bg"))
    )
    n = F.col("n_tokens").cast("double")
    return (
        base.select("id", F.size("w").alias("n_tokens"))
        .join(uni, "id", "left")
        .join(bg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (F.coalesce(F.col("top_tok"), F.lit(0)).cast("double") / n).alias(
                "top_token_frac"
            ),
            F.when(
                F.col("n_tokens") > 1,
                F.coalesce(F.col("top_bg"), F.lit(0)).cast("double")
                / (n - F.lit(1.0)),
            ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


# ----------------------------------------------- training-set hygiene ------


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per TRAIN document, the number of
    distinct word n-grams it shares with ANY test-set document.
    Filter ``n_hits >= threshold`` (caller policy) to drop contaminated
    training rows before a training run.

    Execution shape: both sides explode to distinct (doc, shingle)
    postings; the test side collapses to a global DISTINCT shingle set
    (its size is |test corpus| n-grams, independent of train size — at
    100 TB train / bounded test this is a classic broadcast-able build
    side, and Catalyst/AQE picks the broadcast automatically); one
    equality join on the shingle + one count-distinct per train doc.
    Train documents with no overlap are kept with ``n_hits = 0`` (left
    join) so the output is a total annotation, not a filter.

    Shingles are joined as plain strings for oracle portability;
    swap in ``shingle_hashes32`` postings at scale to shrink the
    shuffle key (same plan shape).

    CALLER CONTRACT (ADVICE r11 #2): the ``F.broadcast`` hint below
    OVERRIDES autoBroadcastJoinThreshold, so the TEST side must be
    broadcast-sized — distinct test grams have to fit the driver and
    every executor (a held-out benchmark suite does by construction;
    Spark hard-caps broadcasts at 8 GB / 512M rows). For an unbounded
    test corpus, drop the hint at the call site and let the planner
    degrade to a shuffle join instead of OOMing the driver.

    Optimization r11 (guide §1.2 remove passes / §3.1 broadcast): the
    train side is shingled ONCE — ``explode_outer`` keeps zero-gram
    docs in the posting stream, a MARKER left join against the
    broadcast test-gram set flags hits in place, and one aggregate
    keyed by (id, n_grams) yields the annotation. The previous shape
    shingled train twice (postings branch + n_grams branch) and
    re-joined them by id — one full tokenization pass and one
    train-scale shuffle join more than needed. Output identical:
    postings are distinct per doc, the marker side is distinct, nulls
    from empty arrays never match."""
    from hbase_gis_spark.operators.dedup import _spread, word_shingles

    tr = _spread(train).select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("s")
    )
    te = test.select(word_shingles(text_col, n).alias("s"))
    tr_post = tr.select(
        "id",
        F.size("s").alias("n_grams"),
        F.explode_outer("s").alias("g"),
    )
    te_grams = (
        te.select(F.explode("s").alias("g"))
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    return (
        tr_post.join(F.broadcast(te_grams), "g", "left")
        .groupBy("id", "n_grams")
        .agg(
            F.coalesce(F.sum("__m"), F.lit(0))
            .cast("bigint")
            .alias("n_hits")
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_hits",
        )
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 64,
) -> DataFrame:
    """Training-sequence packing plan: assign every document a
    (shard, tok_start, seq_idx) so fixed-length sequences of
    ``seq_len`` tokens can be materialized by any downstream tokenizer
    without a global sort.

    Documents are packed back-to-back in doc-id order WITHIN a shard
    (shard = doc_id % n_shards): ``tok_start`` is the running token
    offset before the document, ``seq_idx = tok_start div seq_len`` the
    training sequence its first token lands in. Sharding is the scale
    decision: a single global running sum would be one unbounded
    window partition (single task); per-shard windows give n_shards-way
    parallelism and each shard packs independently — exactly how
    data-parallel training shards are laid out anyway. Deterministic
    (pure function of doc_id and token counts), so exactly oracled.
    """
    t = df.select(
        F.col(id_col).alias("id"),
        (F.col(id_col) % n_shards).cast("bigint").alias("shard"),
        token_count(text_col).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.select(
        F.col("id").alias(id_col),
        "shard",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("tok_start"),
    ).withColumn(
        "seq_idx", (F.col("tok_start") / seq_len).cast("bigint")
    )


def top_rare_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword extraction by document-frequency rarity: for each doc,
    the ``k`` distinct terms with the lowest corpus document frequency
    (ties → lexicographic term order). The integer-only stand-in for
    tf-idf ranking — same information ordering, but exactly
    reproducible across engines (no log(), whose last-ulp behavior is
    libm-specific).

    Plan: one explode of per-doc DISTINCT tokens, one hash aggregate
    for document frequencies (term-keyed shuffle, uniformly
    distributed), one shuffled join back, one per-doc window over
    bounded groups (≤ distinct terms per doc). No Python anywhere."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    posting = (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return top_x(
        posting.join(dfreq, "term"), "id", "df", k,
        tiebreak_col="term", rank_col="rnk",
    ).select(F.col("id").alias(id_col), "term", "df", "rnk")


def tfidf_topk_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic keyword /
    salience extractor of an IR-style corpus pipeline.

    idf uses the smooth form ``ln((N + 1) / (df + 1))`` (never
    divides by zero, gives corpus-wide terms weight 0).  Plan shape:
    one explode feeding ONE (doc, term) hash aggregate (map-side
    partial), a term-keyed aggregate over that compacted frame for
    document frequencies, a term equi-join back, a broadcast 1-row
    corpus-size join, and a per-doc window bounded by the doc's
    distinct-term count.  No n_docs driver round-trip: N stays a
    1-row DataFrame so the whole plan is lazy and distributed.

    ``tfidf`` is rounded to 9 decimals ON BOTH ENGINES before the
    rank window: ``ln`` is correct to 1 ulp but not correctly
    rounded, so JVM and DuckDB libm may differ in the last bit —
    ranking on the rounded value (term tiebreak) keeps the operator
    deterministic and oracle-exact across regenerated corpora."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * F.log(
                    (F.col("__n") + F.lit(1.0)) / (F.col("doc_freq") + F.lit(1.0))
                ),
                9,
            ),
        )
    )
    return top_x(
        scored, "id", F.col("tfidf").desc(), k,
        tiebreak_col="term", rank_col="rnk",
    ).select(F.col("id").alias(id_col), "term", "tf", "doc_freq", "tfidf", "rnk")


def unigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean log unigram probability under the corpus's own
    unigram LM — the CCNet-style perplexity proxy for quality
    filtering (fluent/typical documents score high, gibberish and
    boilerplate outliers score low), without shipping an external LM.

    p(t) = count(t) / total_tokens over the whole corpus; the score is
    ``avg(ln p(t))`` across the doc's token POSITIONS (multiset, not
    distinct).  Plan: one explode consumed by one term aggregate, a
    1-row broadcast total, a term equi-join of positions to log-probs,
    one per-doc aggregate.  The per-term log-prob table is |vocab|
    rows — the join side Spark broadcasts under AQE when small.
    ``avg_logp`` is rounded to 9 decimals on both engines (libm ulp +
    summation-order tolerance, see :func:`tfidf_topk_terms`)."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("__t"))
    logp = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "term",
            F.log(F.col("c").cast("double") / F.col("__t").cast("double")).alias(
                "__logp"
            ),
        )
    )
    return (
        toks.join(logp, "term")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__logp"), 9).alias("avg_logp"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logp")
    )


def bpe_pair_counts(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Adjacent-character-pair frequencies — the statistic a BPE
    tokenizer trainer ranks to pick its next merge (Sennrich et al.
    2016 select argmax pair-count each round; this is one round's
    count table, top-``k``).

    Scale shape (the classic BPE-trainer factorization): the corpus
    token stream first collapses to the VOCABULARY via a hash
    aggregate (map-side partials — the shuffle carries |vocab| rows,
    not the token stream), then pairs explode over distinct words only,
    weighted by word frequency.  Pair work is sum(|w| over vocab) —
    independent of corpus duplication — and the final aggregate's key
    space (charset^2) is tiny, so map-side combine absorbs the heavy
    hitters before the shuffle; no salting needed despite extreme key
    skew.  Top-k is TakeOrderedAndProject with a (count desc, pair
    asc) deterministic tiebreak."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    vocab = (
        _spread(df)
        .select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        F.col("c"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(k)
    )


def train_bpe_merges(
    word_freqs: "list[tuple[str, int]]", n_merges: int
) -> list[tuple[str, str]]:
    """Deterministic byte-pair-encoding trainer on a (word, freq)
    vocabulary: each round merges the most frequent adjacent symbol
    pair (ties break lexicographically), exactly the greedy loop of
    Sennrich et al. 2016.  Pure python on the BOUNDED vocab — the
    driver-side trainer discipline shared with the IVF/PQ quantizers
    (training cost scales with |vocab|, never corpus size), and the
    reason the DuckDB oracle can replay byte-identical merges."""
    seqs: dict[str, list[str]] = {w: list(w) for w, _ in word_freqs}
    freqs = dict(word_freqs)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, sym in seqs.items():
            f = freqs[w]
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        ab = a + b
        for w, sym in seqs.items():
            i, out = 0, []
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            seqs[w] = out
    return merges


def bpe_apply(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Encode one word with an ordered merge list (training order =
    application priority, as in the reference BPE implementations)."""
    sym = list(word)
    for a, b in merges:
        if len(sym) < 2:
            break
        i, out = 0, []
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_learned_counts(
    df: DataFrame,
    n_merges: int = 50,
    vocab_limit: int = 65536,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token counts under a LEARNED BPE: train merges on
    the corpus vocabulary (top ``vocab_limit`` words by frequency —
    bounded driver state), encode each distinct vocab word once, and
    broadcast the (word -> n_tokens) dim back onto the token stream;
    out-of-vocabulary words fall back to their character count (the
    every-char-a-token floor).

    The split of labor is the production BPE shape: training and
    per-word encoding touch only the vocabulary; the corpus-sized
    work is one explode + one broadcast join + one hash aggregate.
    Completes the tokenizer-training arc started by
    :func:`bpe_pair_counts` (one round's statistics) with the full
    greedy loop and its application."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    toks = _spread(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w")
    ).filter(F.length("w") > 0)
    vocab_rows = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(vocab_limit)
        .collect()
    )
    word_freqs = [(r.w, r.c) for r in vocab_rows]
    merges = train_bpe_merges(word_freqs, n_merges)
    mapping = [(w, len(bpe_apply(w, merges))) for w, _ in word_freqs]
    dim = df.sparkSession.createDataFrame(
        mapping, "mw string, ntok int"
    )
    return (
        toks.join(F.broadcast(dim), F.col("w") == F.col("mw"), "left")
        .select(
            id_col,
            F.coalesce(F.col("ntok"), F.length("w").cast("int")).alias(
                "__nt"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__nt").alias("n_bpe_tokens"),
        )
    )


# ------------------------------------------------- hashed linear classifier ---

# Feature-hashing quality classifier (the fastText-filter shape used by
# CCNet/GPT-3-style corpus curation): every token hashes into one of
# QC_DIM weight buckets and the document logit is the mean bucket
# weight. The weight table here is DERIVED, not learned — bucket b gets
# the integer weight ((b * KNUTH_MULT) mod 2*QC_DIM) - QC_DIM, a fixed
# pseudo-random value in [-QC_DIM, QC_DIM) — because the point at 100 TB
# is the SCORING execution shape (model application over every
# document), not this toy model's accuracy. Swapping in real learned
# weights = broadcasting a QC_DIM-float map_from_arrays literal into the
# same expression; the plan does not change.
#
# Verifiability: per-token weights are INTEGERS, so the per-document sum
# is exact and order-independent (a float sum would drift between
# Spark's fold order and DuckDB's list_sum order); the single division
# by (QC_DIM * n_tokens) happens once at the end. The constants and the
# expressions live in functions/sqlkernels.py.


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    k1_milli: int = 1200,
    b_milli: int = 750,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full BM25 ranked retrieval (Robertson-Sparck Jones) for a term
    list — the length-normalized upgrade of ``keyword_search``'s
    tf-idf ranking: long documents no longer win just by containing
    more token positions (k1 saturates term frequency, b scales the
    doc-length penalty; registered defaults k1=1.2, b=0.75 are the
    textbook values, carried in milli-units).

    Integer-exact scoring: with N docs, S total tokens, dl the doc
    length and avgdl_milli = (1000*S) div N, each term contributes::

        ratio  = (dl * 1000000) div avgdl_milli            # ~1000*dl/avgdl
        den    = 1000*tf + (k1 * ((1000 - b)
                 + (b * ratio) div 1000)) div 1000
        contrib = (idf_milli * tf * (1000 + k1)) div den

    — every division a floor on BIGINTs, so ranking is engine-exact
    at any corpus size (all intermediates stay < ~1e12 even at
    100 TB; the one float is idf_milli =
    round(1000 * ln(1 + (N - df + 0.5)/(df + 0.5))), rounded to an
    integer BEFORE scoring under the same libm-ulp discipline as
    ``tfidf_topk_terms``).

    Plan shape: dl is a map-only ``size(tokens())`` projection — NO
    second explode consumer; the one explode filters to the query
    terms immediately, so surviving postings are |terms|-sized; term
    idf and the (N, S, avgdl) row are broadcast dims; the final doc
    ranking is TakeOrderedAndProject."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    base = _spread(df).select(
        F.col(id_col).alias("id"),
        tokens(text_col).alias("__w"),
    )
    # dl rides the filtered explode as a grouping key (functionally
    # dependent on id), so tf+dl come from ONE corpus scan; the only
    # other scan is the 1-row (N, S) totals aggregate
    proj = base.select(
        "id",
        F.size("__w").cast("bigint").alias("dl"),
        F.filter("__w", lambda x: x.isin(terms)).alias("__q"),
    )
    tf = (
        proj.select("id", "dl", F.explode("__q").alias("w"))
        .groupBy("id", "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = proj.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("dl").alias("__s"),
    ).select(
        "__n", F.expr("(1000 * __s) div __n").alias("__avgdl_milli")
    )
    idf = (
        tf.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "w",
            F.expr(K.bm25_idf_sql("df", "__n")).alias("idf_milli"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            F.expr(
                K.bm25_term_sql(
                    "tf", "dl", "idf_milli", "__avgdl_milli",
                    str(int(k1_milli)), str(int(b_milli)),
                )
            ).alias("contrib"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("contrib").alias("score_milli"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .select(F.col("id").alias(id_col), "score_milli", "n_terms")
        .orderBy(F.col("score_milli").desc(), F.col(id_col).asc())
        .limit(k)
    )


def quality_wsum_expr(text_col) -> Column:
    """The INTEGER weight sum of the hashed-linear quality model
    (see :func:`quality_classifier`): tokenize → md5 bucket → integer
    weight → fold sum. Exposed separately from the logit so callers
    needing exact-integer scores (e.g. milli-quantized calibration)
    can divide on their own terms. Pure JVM."""
    return F.expr(K.quality_wsum_sql(K.operand(text_col)))


def quality_logit_expr(text_col) -> Column:
    """The hashed-linear quality logit as a reusable Column expression
    (see :func:`quality_classifier` for the model): the integer
    :func:`quality_wsum_expr` over one division, 0.0 for NULL text.
    Pure JVM."""
    return F.expr(K.quality_logit_sql(K.operand(text_col)))


def quality_classifier(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Score every document with the hashed linear model above and
    attach the keep/drop verdict (logit > 0).

    One scan, no shuffle, no Python: tokenize → md5 bucket → integer
    weight → fold sum, all codegen'd JVM expressions. At 100 TB this is
    a map-only stage that pipelines with whatever filter consumes
    ``keep`` — Catalyst pushes a ``keep = true`` predicate into the
    same scan.

    Output: (id_col, n_tokens, quality_logit, keep).
    """
    n = F.size(tokens(text_col))
    logit = quality_logit_expr(text_col)
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        logit.alias("quality_logit"),
        (logit > 0).alias("keep"),
    )


def bigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean log bigram probability under the corpus's own
    bigram LM — the next-order sibling of :func:`unigram_lm_score`
    (contextual fluency: a doc full of common words in UNcommon order
    scores low here but fine there).

    p(r | l) = c(l·r) / c_left(l), where c_left counts l in bigram-left
    positions — every bigram in the corpus has c >= 1 under its own LM,
    so no smoothing is needed. Plan: one bigram explode feeds the pair
    aggregate AND the left aggregate, their join builds the |bigram
    vocab|-row log-prob table, positions re-join on the bigram key, one
    per-doc aggregate. All shuffles are content-keyed; ``avg_logp``
    rounds to 9 decimals on both engines (libm ulp + summation order,
    same policy as unigram_lm_score). Docs with < 2 tokens contribute
    no positions and emit no row."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    w = tokens(text_col)
    m = F.greatest(F.size(w) - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, m), F.slice(w, 2, m), lambda a, b: F.concat_ws(" ", a, b)
    )
    pos = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(bg).alias("bg")
    )
    pair_c = pos.groupBy("bg").agg(F.count(F.lit(1)).alias("__cp"))
    left_c = pos.groupBy(
        F.substring_index("bg", " ", 1).alias("__l")
    ).agg(F.count(F.lit(1)).alias("__cl"))
    logp = pair_c.join(
        left_c, F.substring_index("bg", " ", 1) == F.col("__l")
    ).select(
        "bg",
        F.log(
            F.col("__cp").cast("double") / F.col("__cl").cast("double")
        ).alias("__logp"),
    )
    return (
        pos.join(logp, "bg")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__logp"), 9).alias("avg_logp"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_logp")
    )


def ngram_diversity(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram diversity: total n-grams, distinct n-grams,
    and their ratio — the repetition/creativity signal used to screen
    degenerate (copy-looping) documents out of a training corpus; the
    per-doc complement of the corpus-level ``repetition_stats``.

    Map-only: both counts come from array expressions on the token
    split (total = max(len - n + 1, 0), distinct via the shared
    ``word_shingles`` distinct-shingle builder), no explode, no
    shuffle — at 100 TB this is a pure scan annotation under
    whole-stage codegen. ``diversity`` is one double division (NULL
    for docs shorter than n tokens)."""
    from hbase_gis_spark.operators.dedup import tokens, word_shingles

    total = F.greatest(
        F.size(tokens(text_col)) - (n - 1), F.lit(0)
    ).cast("bigint")
    distinct = F.size(word_shingles(text_col, n)).cast("bigint")
    return df.select(
        F.col(id_col),
        total.alias("n_grams"),
        distinct.alias("distinct_grams"),
        F.when(
            total > 0, distinct.cast("double") / total.cast("double")
        ).alias("diversity"),
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Boilerplate detection: token n-grams that recur across >=
    ``min_docs`` DISTINCT documents of the same ``group_col`` (site /
    feed / template family) — headers, footers, navigation chrome.
    Output: (group, gram, df_docs, doc_frac) where doc_frac is the
    fraction of the group's documents containing the gram.

    Scale shape: one explode of DISTINCT per-doc shingles -> ONE hash
    aggregate on (group, gram) (map-side partials collapse the
    per-partition repeats), plus a broadcast join of the per-group doc
    totals (|groups| rows — a classic tiny dim). Work is linear in
    corpus tokens; no pair joins anywhere. The downstream removal
    policy (strip or down-weight docs dominated by boilerplate grams)
    joins this table back on the gram key."""
    from hbase_gis_spark.operators.dedup import _spread, word_shingles

    per_group = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("g_docs")
    )
    grams = _spread(df).select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n)).alias("gram"),
    )
    counts = grams.groupBy("g", "gram").agg(
        F.count(F.lit(1)).alias("df_docs")  # shingles are per-doc distinct
    )
    return (
        counts.filter(F.col("df_docs") >= min_docs)
        .join(F.broadcast(per_group), "g")
        .select(
            F.col("g").alias(group_col),
            "gram",
            "df_docs",
            (F.col("df_docs").cast("double") / F.col("g_docs").cast("double"))
            .alias("doc_frac"),
        )
    )


def doc_length_histogram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Power-of-two token-length histogram: (len_bucket, n_docs,
    total_tokens) with bucket = floor(log2(n_tokens)) — the standard
    corpus-profile facet for choosing chunking and packing lengths.

    Bucket index comes from the BINARY STRING length (``bin(n)``), not
    floating log2, so the bucket boundary at exact powers of two can
    never move by an ulp on either engine. One map-side projection +
    one |buckets|-row hash aggregate."""
    from hbase_gis_spark.operators.dedup import tokens

    ntok = F.size(tokens(text_col)).cast("bigint")
    bucket = (F.length(F.bin(ntok)) - F.lit(1)).cast("int")
    return (
        df.select(
            F.when(ntok > 0, bucket).otherwise(F.lit(-1)).alias("len_bucket"),
            ntok.alias("__n"),
        )
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("total_tokens"),
        )
    )


def boilerplate_coverage(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-document boilerplate saturation: the fraction of a doc's
    distinct n-grams that are ``boilerplate_ngrams`` within its own
    group — the score the removal policy thresholds on (a doc that is
    80% shared chrome carries little training signal even though no
    single other doc duplicates it).

    Output: (id_col, group_col, n_grams, boiler_grams, coverage) for
    every document (zero-boilerplate docs kept; NULL coverage below n
    tokens).

    Scale shape: the posting explode happens ONCE and feeds both the
    (group, gram) document-frequency aggregate and the per-doc join
    back — work stays linear in corpus tokens + the postings
    self-join on the (group, gram) key, which the group prefix keeps
    narrower than a global gram key."""
    from hbase_gis_spark.operators.dedup import _spread, word_shingles

    base = _spread(df).select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        word_shingles(text_col, n).alias("s"),
    )
    from hbase_gis_spark.operators.checkpointing import truncate_lineage

    base = truncate_lineage(base)  # conf-driven backend
    grams = base.select("g", "id", F.explode("s").alias("gram"))
    boiler = (
        grams.groupBy("g", "gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("g", "gram")
    )
    per_doc = (
        grams.join(boiler, ["g", "gram"])
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("boiler_grams"))
    )
    return (
        base.select("g", "id", F.size("s").cast("bigint").alias("n_grams"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("g").alias(group_col),
            "n_grams",
            F.coalesce("boiler_grams", F.lit(0)).alias("boiler_grams"),
            F.when(
                F.col("n_grams") > 0,
                F.coalesce("boiler_grams", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
            ).alias("coverage"),
        )
    )


def token_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility report per group: bytes, whitespace tokens,
    and bytes-per-token — the metric that tells you which languages a
    byte-level budget under- or over-samples (CJK text packs ~3x the
    bytes per whitespace token of English; a byte-capped mixture then
    starves it of TOKENS even at equal bytes).

    One map-side-combined aggregate keyed by the group; integer sums
    (engine-exact), one final double division per group row.
    Output: (group_col, n_docs, total_bytes, total_tokens,
    bytes_per_token)."""
    from hbase_gis_spark.operators.dedup import tokens

    base = df.select(
        F.col(group_col),
        F.octet_length(F.col(text_col)).cast("bigint").alias("__b"),
        F.size(tokens(text_col)).cast("bigint").alias("__t"),
    )
    return (
        base.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__b").alias("total_bytes"),
            F.sum("__t").alias("total_tokens"),
        )
        .select(
            group_col,
            "n_docs",
            "total_bytes",
            "total_tokens",
            F.when(
                F.col("total_tokens") > 0,
                F.col("total_bytes").cast("double")
                / F.col("total_tokens").cast("double"),
            ).alias("bytes_per_token"),
        )
    )


def collocations_pmi(
    df: DataFrame,
    min_count: int = 5,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k pointwise-mutual-information collocations: word pairs
    that co-occur adjacently far more than their marginal frequencies
    predict — the classic phrase detector (new-terminology discovery,
    tokenizer-merge candidates) behind word2phrase and collocation
    extraction. PMI = ln(p(xy) / (p(x) p(y))) with p from corpus
    counts; ``min_count`` suppresses the low-frequency pairs whose
    PMI is pure noise (the standard correction).

    Engine-exact form: all counts are integers; the one float is
    pmi_milli = round(1000 * ln((c_xy * T * T) / (c_x * c_y * T2)))
    — a single ln of a ratio of exact integers in pinned operand
    order, integer-rounded before ranking (the bm25 idf_milli
    discipline). Output: (w1, w2, n_pair, n_w1, n_w2, pmi_milli),
    top-k by (pmi_milli DESC, w1, w2).

    Scale shape: one bigram explode + one unigram explode, both
    collapsed by content-keyed hash aggregates (vocab-sized, map-side
    combined); two |vocab|-row marginal joins; totals are broadcast
    1-row aggregates; the final top-k is TakeOrderedAndProject."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    w = tokens(text_col)
    m = F.greatest(F.size(w) - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, m), F.slice(w, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = _spread(df)
    pos = base.select(F.explode(bg).alias("bg"))
    uni = base.select(F.explode(tokens(text_col)).alias("w")).groupBy(
        "w"
    ).agg(F.count(F.lit(1)).alias("n_w"))
    tot_uni = uni.agg(F.sum("n_w").alias("__t"))
    pairs = pos.groupBy("bg").agg(F.count(F.lit(1)).alias("n_pair"))
    tot_pairs = pairs.agg(F.sum("n_pair").alias("__t2"))
    split = pairs.filter(F.col("n_pair") >= min_count).select(
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
        "n_pair",
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        split.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot_uni))
        .crossJoin(F.broadcast(tot_pairs))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(
                F.lit(1000.0)
                * F.log(
                    (d("n_pair") * d("__t") * d("__t"))
                    / (d("n_w1") * d("n_w2") * d("__t2"))
                ),
                0,
            )
            .cast("bigint")
            .alias("pmi_milli"),
        )
        .orderBy(
            F.col("pmi_milli").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(k)
    )


def zipf_fit(
    df: DataFrame, top_n: int = 100, text_col: str = "text"
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus's top-N terms: the OLS
    slope of log-frequency on log-rank (a healthy natural-language
    corpus fits slope ~ -1; synthetic, templated, or scraped-garbage
    corpora bend away from it) — a one-row corpus-health audit.

    Engine-exact: log(rank) and log(freq) round to integer MICROS
    per term BEFORE any cross-row sum (the summation-order
    discipline — float sums across rows are order-dependent, integer
    sums are not), the OLS slope/intercept come from exact BIGINT
    moments, and the two output floats are single divisions rounded
    to 9. Rank is derived by a bounded N x N self-join on the top-N
    dim (count of strictly-greater (freq, term) pairs — no global
    window, and the frame is top_n rows by construction).

    Output: 1 row (n_terms, slope, intercept). Scale shape: one
    explode + vocab hash aggregate, TakeOrderedAndProject for the
    top-N, then constant-size arithmetic.

    Overflow bound (round-7 sweep): the OLS moment sums run over the
    top_n frame only — |x|,|y| are log-MICRO magnitudes (≤ ~1e8 for
    any count below e^100), so Σx² ≤ top_n × 1e16: int64-safe for
    top_n into the hundreds of thousands; top_n is a small constant
    here."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    freq = (
        _spread(df)
        .select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(top_n)
    )
    a = freq.select(F.col("w").alias("__wa"), F.col("c").alias("__ca"))
    b = freq.select(F.col("w").alias("__wb"), F.col("c").alias("__cb"))
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("__cb") > F.col("__ca"))
            | (
                (F.col("__cb") == F.col("__ca"))
                & (F.col("__wb") < F.col("__wa"))
            ),
            "left",
        )
        .groupBy("__wa", "__ca")
        .agg((F.count(F.col("__wb")) + 1).alias("__rank"))
    )
    micro = ranked.select(
        F.round(F.log(F.col("__rank").cast("double")) * 1_000_000, 0)
        .cast("bigint")
        .alias("__x"),
        F.round(F.log(F.col("__ca").cast("double")) * 1_000_000, 0)
        .cast("bigint")
        .alias("__y"),
    )
    mo = micro.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    num = F.col("n_terms") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("n_terms") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = num.cast("double") / den.cast("double")
    return mo.select(
        "n_terms",
        F.round(slope, 9).alias("slope"),
        F.round(
            (
                F.col("__sy").cast("double")
                - slope * F.col("__sx").cast("double")
            )
            / F.col("n_terms").cast("double")
            / F.lit(1_000_000.0),
            9,
        ).alias("intercept"),
    )


def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    min_count: int = 10,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary drift between two corpus snapshots: the k terms
    whose frequency SHARE moved most — the lexical complement of
    value_psi (a crawler change, a new spam campaign, or a domain
    shift shows up here before any aggregate statistic moves).

    Integer-exact end to end: per-cohort term counts and totals are
    BIGINTs, shares are floor ppm ((c * 1e6) div T), delta is their
    difference, ordering is (|delta| DESC, term ASC) on integers.
    Terms below ``min_count`` combined occurrences are dropped (rare
    terms flap share without meaning). Output: (term, n_old, n_new,
    old_ppm, new_ppm, delta_ppm).

    Scale shape: one explode + vocab hash aggregate per cohort
    (map-side combined), a full-outer join of the two vocab dims,
    broadcast 1-row totals, TakeOrderedAndProject top-k."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            _spread(df)
            .select(F.explode(tokens(text_col)).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(name))
        )

    co = counts(old, "n_old")
    cn = counts(new, "n_new")
    to = co.agg(F.sum("n_old").alias("__to"))
    tn = cn.agg(F.sum("n_new").alias("__tn"))
    return (
        co.join(cn, "term", "full_outer")
        .select(
            "term",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .filter(F.col("n_old") + F.col("n_new") >= min_count)
        .crossJoin(F.broadcast(to))
        .crossJoin(F.broadcast(tn))
        .select(
            "term",
            "n_old",
            "n_new",
            F.expr("(n_old * 1000000) div __to").alias("old_ppm"),
            F.expr("(n_new * 1000000) div __tn").alias("new_ppm"),
            (
                F.expr("(n_new * 1000000) div __tn")
                - F.expr("(n_old * 1000000) div __to")
            ).alias("delta_ppm"),
        )
        .orderBy(
            F.abs(F.col("delta_ppm")).desc(),
            F.col("term").asc(),
        )
        .limit(k)
    )


def vocab_coverage(
    df: DataFrame,
    top_n: int,
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary audit: what fraction of corpus TOKEN
    OCCURRENCES would a frequency-built vocabulary of ``top_n`` types
    cover — the first number a tokenizer design needs (a vocab that
    covers 98% of tokens at 32k types behaves very differently from
    one that needs 200k). Output one row: (vocab_size = actual types
    kept, distinct_terms = corpus type count, covered_tokens,
    total_tokens, oov_ppm = integer floor ppm of occurrences OUTSIDE
    the vocab).

    Vocabulary selection is deterministic: top_n by (count DESC,
    term ASC) — the tie at the boundary resolves lexicographically
    in both engines.

    Scale shape: one explode collapsed to a vocab-sized (term, count)
    hash aggregate; the top-n is a bounded TakeOrderedAndProject;
    coverage is that n-row frame's 1-row sum cross-joined with the
    1-row corpus totals — nothing after the term aggregate scales
    with the corpus."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    counts = (
        _spread(df)
        .select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("distinct_terms"),
        F.sum("cnt").alias("total_tokens"),
    )
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(top_n)
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("cnt").alias("covered_tokens"),
        )
    )
    return (
        vocab.crossJoin(F.broadcast(totals))
        .select(
            "vocab_size",
            "distinct_terms",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.coalesce("total_tokens", F.lit(0)).alias("total_tokens"),
        )
        .select(
            "vocab_size",
            "distinct_terms",
            "covered_tokens",
            "total_tokens",
            F.expr(
                "CASE WHEN total_tokens > 0 THEN"
                " ((total_tokens - covered_tokens) * 1000000)"
                " div total_tokens END"
            ).alias("oov_ppm"),
        )
    )


def readability_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable
    heuristic — the classic readability screen a quality pipeline runs
    beside length/punct ratios (quality_features) before training.

    Features are EXACT integers computed with one regex pass each:
    words = whitespace tokens, sentences = non-overlapping runs of
    sentence punctuation ``[.!?]+`` floored at 1, syllable groups =
    runs of ``[aeiouy]+`` in the lowercased text (the standard
    dependency-free approximation — each vowel cluster ~ one
    syllable). The score is ONE float expression over those integers,
    rounded to 9 (the tfidf round-9 discipline):
    ``206.835 - 1.015*(W/S) - 84.6*(Y/W)``; NULL when a doc has no
    words. Identical operand order in the DuckDB oracle.

    Scale shape: map-only projection — three regex evaluations per
    row, no shuffle, no UDF."""
    t = F.col(text_col)
    words = (
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .cast("bigint")
    )
    sents = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    syls = F.regexp_count(F.lower(t), F.lit("[aeiouy]+")).cast("bigint")
    out = df.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syls.alias("syllable_groups"),
    )
    return out.select(
        id_col,
        "n_words",
        "n_sentences",
        "syllable_groups",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
                - F.lit(84.6)
                * (F.col("syllable_groups") / F.col("n_words")),
                9,
            ),
        ).alias("flesch"),
    )


def ngram_coverage_curve(
    df: DataFrame,
    n: int = 2,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Cumulative corpus-coverage curve of the top-``k`` token
    n-grams: how much of ALL n-gram occurrences the most frequent k
    cover — the vocabulary-concentration diagnostic beside zipf_fit's
    slope (a near-flat curve means diffuse text; a cliff means
    boilerplate or templated data). Occurrence counts (NOT per-doc
    distinct — this measures mass, not document reach).

    Output per rank 1..k: (rank, gram, cnt, cum_cnt,
    cum_share_milli = 1000*cum_cnt div total) — exact integers;
    deterministic total order (cnt DESC, gram ASC).

    Scale shape: one explode + one gram-keyed hash aggregate
    (map-side combined, md5-free raw grams — the output needs them),
    a bounded TakeOrdered top-k, a 1-row total dim cross-joined
    (sanctioned 1-row BNLJ, the vocab_coverage pattern), and a
    partition-less window over k<=constant rows (dim-bounded
    allowlist, tests/test_plan_hygiene.py)."""
    toks = df.select(tokens(text_col).alias("__w"))
    sz = F.size("__w")
    idx = F.when(sz >= n, F.sequence(F.lit(0), sz - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice("__w", i + 1, F.lit(n)))
    )
    counts = (
        toks.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(F.sum("cnt").alias("__total"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("gram").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            "gram",
            "cnt",
            F.sum("cnt").over(w).alias("cum_cnt"),
            "__total",
        )
        .select(
            "rank",
            "gram",
            "cnt",
            "cum_cnt",
            F.expr("(cum_cnt * 1000) div __total").alias(
                "cum_share_milli"
            ),
        )
    )


def source_vocab_jaccard(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise VOCABULARY JACCARD between sources: for every source
    pair, |shared distinct terms| / |union| — the corpus-composition
    audit that says which feeds are lexical near-clones of each other
    (two mirrors of the same site waste a data budget even when no
    single document duplicates — the SOURCE-level complement of
    ``dedup_impact`` and ``vocab_drift``).

    Engine-exact: set sizes and intersections are BIGINT counts over
    DISTINCT (source, term) postings; ``jaccard_milli =
    (1000·inter) div (sz_a + sz_b − inter)`` is non-negative, so
    truncate == floor in both engines (stated).

    Output: one row per unordered source pair (source_a < source_b) —
    (source_a, source_b, sz_a, sz_b, inter, jaccard_milli); pairs
    with zero overlap included (a LEFT-complete pair grid over the
    |sources|² dim, tiny by construction).

    Scale shape: one explode → (source, term) DISTINCT aggregate
    (map-side combined — the corpus collapses to |sources|·|vocab|
    postings); per-source sizes are a |sources|-row dim; the
    intersection is a term-keyed self-join of the postings where each
    term carries at most |sources| rows — bounded fan-out per key, no
    content skew possible; the final grid is a broadcast join of two
    tiny dims."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    postings = (
        _spread(df)
        .select(F.col(group_col).alias("g"), tokens(text_col).alias("__w"))
        .select("g", F.explode("__w").alias("term"))
        .groupBy("g", "term")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select("g", "term")
    )
    sizes = postings.groupBy("g").agg(F.count(F.lit(1)).alias("sz"))
    pa = postings.select(F.col("g").alias("source_a"), "term")
    pb = postings.select(F.col("g").alias("source_b"), "term")
    inter = (
        pa.join(pb, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("g").alias("source_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("g").alias("source_b"), F.col("sz").alias("sz_b"))
    grid = (
        sa.crossJoin(sb)
        .filter(F.col("source_a") < F.col("source_b"))
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "sz_a",
            "sz_b",
            F.coalesce("inter", F.lit(0)).cast("bigint").alias("inter"),
        )
    )
    return grid.select(
        "source_a",
        "source_b",
        "sz_a",
        "sz_b",
        "inter",
        F.expr(
            "CAST((1000 * inter) div (sz_a + sz_b - inter) AS BIGINT)"
        ).alias("jaccard_milli"),
    )


def heaps_law_fit(
    df: DataFrame,
    n_points: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 64,
) -> DataFrame:
    """HEAPS' LAW fit over the corpus in ingest (doc-id) order: the
    OLS slope of log-vocabulary on log-tokens across ``n_points``
    growing prefixes — natural text grows vocabulary like V ~ K·Nᵝ
    with β ≈ 0.4-0.6; templated or deduplicated-to-death corpora bend
    flat, spam/gibberish bends toward 1. The corpus-GROWTH complement
    of :func:`zipf_fit`'s static rank-frequency check.

    Exact prefix mechanics with NO repeated corpus scans: the i-th
    prefix boundary is the EXACT doc id at global rank ceil(i·N/n)
    (rank.global_percentiles sharded selection); a term belongs to
    prefix i iff its FIRST-occurrence doc id (min over its carriers,
    one map-side-combined aggregate) is ≤ the boundary — so vocab at
    every cut comes from ONE pass over the term dim with ``n_points``
    conditional sums, and prefix token totals from one pass over the
    per-doc token counts. Zero-token prefixes are dropped (log needs
    mass); log(·) rounds to integer MICROS per point BEFORE the
    moment sums (the zipf_fit ln discipline), the slope/intercept are
    one double expression each, rounded to 9. Overflow bound: the
    moment sums run over n_points log-micro values (|x| < 5e7 for any
    corpus under e^50 tokens), so Σx² ≤ n_points·2.5e15 — int64-safe
    for thousands of points; n_points is a small constant here.

    Output: 1 row (n_points, slope, intercept);
    intercept = log K / 1e6 in the zipf convention.

    Scale shape: one explode → (term, min doc) hash aggregate, one
    per-doc token count aggregate, a 1-row boundary dim broadcast
    onto both, ``n_points``-row arithmetic after that."""
    from hbase_gis_spark.operators.dedup import _spread, tokens
    from hbase_gis_spark.operators.rank import global_percentiles

    toks = _spread(df).select(
        F.col(id_col).cast("bigint").alias("id"),
        tokens(text_col).alias("__w"),
    )
    from pyspark import StorageLevel

    # per_doc is consumed by global_percentiles' two bounded planning
    # jobs, its lazy rank-selection subtree, and the prefix token
    # aggregate — each consumption re-ran the tokenizer over the whole
    # corpus. Persist the NARROW (id, n_tokens) frame (lineage kept;
    # 16 bytes/row at any scale) so tokenization runs once here and
    # once in the term-dim pass below — 5 corpus tokenizations -> 2
    # (optimization r11, guide §1.2/§5).
    per_doc = toks.select(
        "id",
        F.when(F.length(F.trim(F.concat_ws(" ", "__w"))) == 0, F.lit(0))
        .otherwise(F.size("__w"))
        .cast("bigint")
        .alias("__nt"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    first = (
        toks.select("id", F.explode("__w").alias("t"))
        .groupBy("t")
        .agg(F.min("id").alias("__fd"))
    )
    cuts = global_percentiles(
        per_doc.select(F.col("id").cast("double").alias("__id")),
        "__id",
        {f"__c{i}": (i, n_points) for i in range(1, n_points + 1)},
        n_shards,
    )
    vocab_aggs = [
        F.sum(
            F.when(F.col("__fd") <= F.col(f"__c{i}"), 1).otherwise(0)
        ).alias(f"__v{i}")
        for i in range(1, n_points + 1)
    ]
    tok_aggs = [
        F.sum(
            F.when(F.col("id") <= F.col(f"__c{i}"), F.col("__nt")).otherwise(0)
        ).alias(f"__t{i}")
        for i in range(1, n_points + 1)
    ]
    v = first.crossJoin(F.broadcast(cuts)).agg(*vocab_aggs)
    t = per_doc.crossJoin(F.broadcast(cuts)).agg(*tok_aggs)
    stack = ", ".join(
        f"__t{i}, __v{i}" for i in range(1, n_points + 1)
    )
    points = (
        v.crossJoin(F.broadcast(t))
        .selectExpr(f"stack({n_points}, {stack}) AS (__toks, __vocab)")
        .filter((F.col("__toks") > 0) & (F.col("__vocab") > 0))
        .select(
            F.round(F.log(F.col("__toks").cast("double")) * 1_000_000, 0)
            .cast("bigint")
            .alias("__x"),
            F.round(F.log(F.col("__vocab").cast("double")) * 1_000_000, 0)
            .cast("bigint")
            .alias("__y"),
        )
    )
    mo = points.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        # bounded moments: n_points log-micro values (|x| < 5e7 for
        # any corpus under e^50 tokens), far inside int64 — stated
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    num = F.col("n_points") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("n_points") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = num.cast("double") / den.cast("double")
    return mo.select(
        "n_points",
        F.round(slope, 9).alias("slope"),
        F.round(
            (
                F.col("__sy").cast("double")
                - slope * F.col("__sx").cast("double")
            )
            / F.col("n_points").cast("double")
            / F.lit(1_000_000.0),
            9,
        ).alias("intercept"),
    )


def token_entropy_rate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level token ENTROPY RATE: unigram entropy H(w) and the
    bigram conditional entropy H(w2 | w1) — the language-modeling
    predictability signal (a boilerplate-heavy or template corpus
    shows a large H(w) − H(w2|w1) gap: the next token is much easier
    given context; a decontaminated natural corpus keeps the gap
    moderate). The pair complements ``collocations_pmi`` (which ranks
    individual pairs) with the corpus-wide number a data-mixing
    decision reads.

    Engine-exact by the behavior_entropy / idf_milli ln discipline:
    every count is a BIGINT; per unigram cell the only float is ONE
    rounded ``1000·ln(T1/c)``, per bigram cell ONE rounded
    ``1000·ln(c1(w1)/c(w1,w2))`` (the conditional form — context
    marginal over bigram slots, never mixing the two totals); weights
    fold as exact BIGINTs and the final division is a truncating
    ``div`` of non-negative integers (== floor in both engines).

    Output: 1 row (n_tokens, vocab, n_bigrams, bigram_vocab,
    h_unigram_milli, h_cond_milli — milli-nats; NULL on an empty
    corpus, the nullif discipline).

    Scale shape: one unigram explode + one bigram explode, each
    collapsed by a content-keyed hash aggregate (map-side combined,
    vocab-sized output); the context marginal is a second aggregate
    OVER THE BIGRAM CELLS (vocab-sized, never the corpus) joined back
    on w1 — a join, not a window, so a hot context word ("the") is an
    AQE-splittable partition, per the round-7 content-key lesson;
    totals are broadcast 1-row aggregates."""
    from hbase_gis_spark.operators.dedup import _spread, tokens

    w = tokens(text_col)
    m = F.greatest(F.size(w) - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, m), F.slice(w, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = _spread(df)
    uni = (
        base.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    t1 = uni.agg(
        F.sum("__n").alias("__t1"),
        F.count(F.lit(1)).alias("__v1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    h1 = (
        uni.crossJoin(F.broadcast(t1))
        .select(
            (
                F.col("__n")
                * F.round(
                    F.lit(1000.0) * F.log(d("__t1") / d("__n")), 0
                ).cast("bigint")
            ).alias("__w")
        )
        .agg(F.sum("__w").alias("__hw1"))
    )
    cells = (
        base.select(F.explode(bg).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("__n2"))
    )
    t2 = cells.agg(
        F.sum("__n2").alias("__t2"),
        F.count(F.lit(1)).alias("__v2"),
    )
    ctx = (
        cells.select(
            F.substring_index("g", " ", 1).alias("__w1"), "__n2"
        )
        .groupBy("__w1")
        .agg(F.sum("__n2").alias("__c1"))
    )
    hc = (
        cells.select(
            F.substring_index("g", " ", 1).alias("__w1"), "__n2"
        )
        .join(ctx, "__w1")
        .select(
            (
                F.col("__n2")
                * F.round(
                    F.lit(1000.0) * F.log(d("__c1") / d("__n2")), 0
                ).cast("bigint")
            ).alias("__w")
        )
        .agg(F.sum("__w").alias("__hw2"))
    )
    return (
        t1.crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(h1))
        .crossJoin(F.broadcast(hc))
        .select(
            F.col("__t1").cast("bigint").alias("n_tokens"),
            F.col("__v1").cast("bigint").alias("vocab"),
            F.col("__t2").cast("bigint").alias("n_bigrams"),
            F.col("__v2").cast("bigint").alias("bigram_vocab"),
            F.expr(
                "CAST(__hw1 div nullif(__t1, 0) AS BIGINT)"
            ).alias("h_unigram_milli"),
            F.expr(
                "CAST(__hw2 div nullif(__t2, 0) AS BIGINT)"
            ).alias("h_cond_milli"),
        )
    )


def packing_stats(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 64,
) -> DataFrame:
    """Efficiency audit of the :func:`pack_sequences` plan — the
    numbers a batch-size/seq-len decision reads: per shard, how many
    documents and tokens were packed, how many ``seq_len`` training
    sequences they fill, the tail padding that fills the last partial
    sequence (back-to-back packing wastes ONLY the tail), and how
    many documents straddle a sequence boundary (the rows a
    no-cross-attention masking scheme must handle).

    Engine-exact integers end-to-end: n_seqs = ceil(total/seq_len) as
    ``(total + L − 1) div L`` (non-negative operands — every integer
    division convention agrees), tail_waste = n_seqs·L − total,
    boundary crossings per doc = ``(start+n−1) div L − start div L``
    for n > 0 (zero-token docs cross nothing, guarded).

    Output: one row per non-empty shard — (shard, n_docs, n_tokens,
    n_seqs, tail_waste, n_boundary_docs).

    Scale shape: reuses pack_sequences' per-shard running-offset
    window (n_shards-way parallel), then ONE shard-keyed aggregate —
    n_shards rows out at any corpus size."""
    plan = pack_sequences(
        df, seq_len, id_col=id_col, text_col=text_col, n_shards=n_shards
    )
    L = int(seq_len)
    crossings = F.when(
        F.col("n_tok") > 0,
        F.expr(f"(tok_start + n_tok - 1) div {L} - tok_start div {L}"),
    ).otherwise(F.lit(0))
    return (
        plan.withColumn("__x", crossings)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__x") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_boundary_docs"),
        )
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.expr(f"CAST((n_tokens + {L - 1}) div {L} AS BIGINT)").alias(
                "n_seqs"
            ),
            F.expr(
                f"CAST(((n_tokens + {L - 1}) div {L}) * {L} - n_tokens"
                " AS BIGINT)"
            ).alias("tail_waste"),
            "n_boundary_docs",
        )
    )


def padding_waste(
    df: DataFrame,
    bucket_caps: tuple[int, ...] = (16, 32, 64, 128, 256, 512),
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batching efficiency: assign every document to
    the smallest ``bucket_caps`` entry that holds its whitespace token
    count, and report per bucket how many pad tokens a
    pad-to-bucket-cap batcher burns — the number that decides the
    bucket grid before anyone trains. Documents longer than the
    largest cap land in the NULL overflow bucket, where each sequence
    batches alone at its own length and pads nothing (stated
    convention; both engines group the NULL key identically).

    Engine-exact integers end-to-end: padded = cap * n_docs, waste =
    padded - actual, waste_milli = 1000 * waste div padded (div, both
    engines truncate; overflow reports 0 — nothing padded).

    Scale shape: the bucket id is a literal CASE chain inside the scan
    projection (codegen, no shuffle), then ONE map-side-combined
    aggregate to |buckets| rows. No window, no second scan.

    Output: (bucket_cap, n_docs, actual_tokens, padded_tokens,
    pad_waste, waste_milli), one row per non-empty bucket."""
    caps = sorted({int(c) for c in bucket_caps})
    if not caps or caps[0] < 1:
        raise ValueError("bucket_caps must be positive")
    n = token_count(text_col)
    bucket = F.lit(None).cast("bigint")
    for c in reversed(caps):
        bucket = F.when(n <= c, F.lit(c).cast("bigint")).otherwise(bucket)
    per = (
        df.select(bucket.alias("bucket_cap"), n.cast("bigint").alias("__n"))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__n").cast("bigint").alias("actual_tokens"),
        )
    )
    padded = F.when(
        F.col("bucket_cap").isNotNull(), F.col("bucket_cap") * F.col("n_docs")
    ).otherwise(F.col("actual_tokens"))
    return per.select(
        "bucket_cap",
        "n_docs",
        "actual_tokens",
        padded.cast("bigint").alias("padded_tokens"),
        (padded - F.col("actual_tokens")).cast("bigint").alias("pad_waste"),
    ).withColumn(
        "waste_milli",
        F.when(
            F.col("padded_tokens") > 0,
            F.expr("(1000 * pad_waste) div padded_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
