"""Streaming event operators: windowed aggregation and stateful
grouped top-X.

Batch/stream parity: both operators accept the events table either as a
static DataFrame or a readStream source; the streaming variants use
watermarks (late-data bound) and applyInPandasWithState (bounded
per-group state), which is how the reference's TopX coprocessor
(per-group bounded heap, TopXEndpoint.java:89-103) translates to an
infinite input.

The testdata 'ts' column arrives as TIMESTAMP_NTZ (timestamp[us]
parquet; see sources.tables); event_time() normalizes it to a plain
TimestampType column (session tz is pinned UTC, so the wall-clock IS
the instant).
"""

from __future__ import annotations

import warnings
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def event_time(col: str = "ts"):
    """TIMESTAMP_NTZ -> TimestampType (µs precision, matching DuckDB;
    UTC session tz preserves the instant)."""
    return F.col(col).cast("timestamp")


def read_event_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the events table is a single FILE; the file stream source demands a
    # directory basePath, so address it via a glob (basePath := sf_dir)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{sf_dir}/events.parquet*")
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type.

    Works identically on batch and streaming inputs; on streams the
    watermark bounds state for late data."""
    with_ts = events.withColumn("event_ts", event_time("ts"))
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("event_ts", watermark)
    return (
        with_ts.groupBy(F.window("event_ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
        .select(
            F.col("window.start").alias("ws"),
            F.col("window.end").alias("we"),
            "event_type",
            "n",
            "value_sum",
            "value_min",
            "value_max",
        )
    )


def user_sessions(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per user: consecutive events closer than ``gap``
    merge into one session [first_event, last_event + gap).

    Same code path batch and streaming (session_window supports both;
    the watermark bounds session state on streams). A new session
    starts when the inter-event gap is >= ``gap`` (Spark merges
    overlapping half-open intervals, so an event exactly ``gap`` after
    the previous one does NOT merge)."""
    with_ts = events.withColumn("event_ts", event_time("ts"))
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("event_ts", watermark)
    return (
        with_ts.groupBy(F.session_window("event_ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("ss"),
            F.col("session_window.end").alias("se"),
            "user_id",
            "n_events",
        )
    )


def dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Key dedup with batch/stream parity: plain dropDuplicates on
    batch; on streams, dropDuplicatesWithinWatermark so per-key state
    is bounded by the watermark (the streaming translation of the
    reference's rowkey-collision dropping, AbstractTestUtil.java:50-81)."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return (
            events.withColumn("event_ts", event_time("ts"))
            .withWatermark("event_ts", watermark)
            .dropDuplicatesWithinWatermark(keys)
        )
    return events.dropDuplicates(keys)


def streaming_top_x_earliest(events: DataFrame, x: int) -> DataFrame:
    """Stateful streaming grouped top-X: per ``user_id``, the x earliest
    events seen so far (ties broken by event_id), emitted incrementally.

    State per user is a bounded (x rows) frame — the streaming
    translation of the reference's per-group MinMaxPriorityQueue
    (TopXEndpoint.java:89-103). Emits each batch's new/changed top rows.
    """
    out_schema = "user_id bigint, event_id bigint, ts bigint"
    state_schema = "ts array<bigint>, event_id array<bigint>"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            ts_list, id_list = state.get
            cur = list(zip(ts_list, id_list))
        else:
            cur = []
        for pdf in pdfs:
            cur.extend(zip(pdf["ts"].tolist(), pdf["event_id"].tolist()))
        cur.sort()
        cur = cur[:x]
        state.update((
            [t for t, _ in cur],
            [i for _, i in cur],
        ))
        yield pd.DataFrame(
            {
                "user_id": [uid] * len(cur),
                "event_id": [i for _, i in cur],
                "ts": [t for t, _ in cur],
            }
        )

    return (
        events.select(
            "user_id",
            "event_id",
            F.unix_micros(event_time("ts")).alias("ts"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def purchase_view_attribution(
    events: DataFrame,
    lookback: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval self-join: every purchase paired with the
    same user's view events in the preceding ``lookback`` window
    (inclusive both ends) — the ad-attribution shape.

    On streams BOTH branches carry the watermark and the join condition
    bounds event time on each side, so Spark can expire join state
    (views older than purchase-watermark − lookback drop); without the
    time bound a stream-stream join would buffer forever. On batch the
    same plan is an equi-join on user_id with the range as a join
    residual — no cartesian. Output columns are identical either way.
    """
    wt = events.withColumn("event_ts", event_time("ts"))
    if wt.isStreaming:
        wt = wt.withWatermark("event_ts", watermark)
    p = wt.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_ts").alias("p_ts"),
    )
    v = wt.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uid"),
        F.col("event_id").alias("view_id"),
        F.col("event_ts").alias("v_ts"),
    )
    return (
        p.join(
            v,
            (F.col("p_uid") == F.col("v_uid"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (
                F.col("v_ts")
                >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")
            ),
            "inner",
        )
        .select(
            F.col("p_uid").alias("user_id"),
            "purchase_id",
            F.unix_micros("p_ts").alias("purchase_ts_us"),
            "view_id",
            F.unix_micros("v_ts").alias("view_ts_us"),
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "update"
) -> None:
    """Drive a streaming query over all available input synchronously
    (test/demo helper)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def streaming_daily_anomalies(
    events: DataFrame, win: int = 28, z_threshold: float = 2.0
) -> DataFrame:
    """Stateful streaming anomaly detection: per event type, each day's
    count is z-scored against its trailing ``win`` observed days, and
    |z| >= threshold rows are (re-)emitted as counts accumulate — the
    incremental twin of the batch ``daily_anomalies`` query (same
    integer-sum formula, so the final emission converges to the batch
    answer exactly once all events have arrived).

    State per event type is the (day -> count) map seen so far —
    bounded by the time horizon, not the event count; a production
    deployment prunes days older than the watermark minus ``win``
    (the same state-bounding discipline as the windowed aggregates
    here; kept whole in this harness so late arbitrarily-old events
    stay correct). EVERY full-window day is re-emitted each batch
    with an ``is_anomaly`` flag — an update stream cannot retract a
    row that stops being anomalous once late counts arrive, so the
    flag (not presence) carries the verdict; consumers keep the
    LATEST emission per (event_type, day) and filter on it."""
    out_schema = (
        "event_type string, day bigint, y bigint, z double, "
        "is_anomaly boolean"
    )
    state_schema = "days array<bigint>, counts array<bigint>"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (etype,) = key
        acc: dict[int, int] = {}
        if state.exists:
            days, counts = state.get
            acc = dict(zip(days, counts))
        for pdf in pdfs:
            for d, c in pdf.groupby("day")["day"].count().items():
                acc[int(d)] = acc.get(int(d), 0) + int(c)
        state.update((list(acc.keys()), list(acc.values())))
        days_sorted = sorted(acc)
        ys = np.array([acc[d] for d in days_sorted], dtype=np.int64)
        out_d, out_y, out_z, out_a = [], [], [], []
        for i in range(win, len(days_sorted)):
            wnd = ys[i - win : i]
            n = float(win)
            s = float(int(wnd.sum()))
            s2 = float(int((wnd * wnd).sum()))
            mean = s / n
            var = s2 / n - mean * mean
            diff = float(int(ys[i])) - mean
            sd = var ** 0.5 if var > 0 else 0.0
            # IEEE semantics, matching the JVM/DuckDB expression:
            # x/0 = +-inf (flagged), 0/0 = nan (never flagged)
            if sd > 0:
                z = diff / sd
            elif diff == 0:
                z = float("nan")
            else:
                z = float("inf") if diff > 0 else float("-inf")
            out_d.append(days_sorted[i])
            out_y.append(int(ys[i]))
            out_z.append(z)
            out_a.append(bool(z >= z_threshold or z <= -z_threshold))
        yield pd.DataFrame(
            {
                "event_type": [etype] * len(out_d),
                "day": out_d,
                "y": out_y,
                "z": out_z,
                "is_anomaly": out_a,
            }
        )

    return (
        events.select(
            "event_type",
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_decontaminate(
    docs: DataFrame,
    eval_grams: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "flag",
) -> DataFrame:
    """Ingest-time decontamination guard: mark (``mode='flag'``) or
    drop (``mode='drop'``) arriving documents that share ANY word
    n-gram with a STATIC eval-set gram dim — the streaming front door
    of the batch ``decontaminate`` audit.

    STATELESS by design: a stream-static LEFT SEMI (or ANTI) join at
    DOCUMENT granularity — join condition ``array_contains(doc_grams,
    eval.g)`` — emits each arriving doc at most once with zero
    streaming state, no watermark, no dedup buffer. The trade: the
    static side is a broadcast nested-loop probe, O(|eval grams|) per
    document — correct for its purpose (eval/benchmark sets are
    bounded by construction; the broadcast is a few MB). The 100 TB
    BATCH audit keeps the equality postings join
    (textstats.ngram_contamination); this operator is the per-arrival
    guard in front of it.

    ``eval_grams`` must have a single ``g`` string column (distinct
    grams of the held-out set, computed batch-side).
    """
    from hbase_gis_spark.operators.dedup import word_shingles

    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    with_grams = docs.withColumn("__grams", word_shingles(text_col, n))
    cond = F.array_contains(F.col("__grams"), F.col("g"))
    how = "left_semi" if mode == "flag" else "left_anti"
    return (
        with_grams.join(F.broadcast(eval_grams.select("g")), cond, how)
        .drop("__grams")
    )


def streaming_dedup_incremental_stored(
    docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time dedup of an arriving document stream against the
    MATERIALIZED postings catalog (write_catalog_postings sidecars) —
    the streaming twin of ``dedup.dedup_incremental_stored``, with
    identical verdicts (pinned in tests/test_streaming.py). This is
    the natural stream-static join: the catalog is a parquet scan on
    the static side; arriving docs md5-probe the exact dim, their
    shingles equi-join the postings index, and a per-document grouped
    kernel reduces candidates to one (doc_id, dup_of, reason) row.

    Stateless across batches BY CONSTRUCTION: a document's exploded
    rows all live in the micro-batch it arrived in, so the
    applyInPandasWithState kernel emits each doc's verdict from that
    batch alone and retains NO state (each key occurs in exactly one
    batch; nothing to expire, no watermark needed). The shingle width
    comes from the catalog's persisted meta sidecar — the same
    contract the batch stored path honors, so stream and batch
    tokenize identically.

    ``max_df`` hot-shingle cap: hot shingles are NULLed on the stream
    side (keeping the doc row alive, unlike the batch anti-join which
    can afford to drop rows because its verdict frame re-joins
    ``inc``) and anti-joined off the static postings — the same
    false-negative-only contract.

    Scale shape: doc-level stream-static LEFT hash join (exact dim),
    one explode, shingle-keyed stream-static LEFT hash join
    (postings; content-uniform keys), ONE doc-keyed shuffle into the
    Arrow kernel whose per-group width is bounded by the doc's
    candidate count (capped by max_df). No BNLJ, no broadcast of the
    fact-scale catalog."""
    from hbase_gis_spark.operators.dedup import (
        _check_threshold,
        _read_catalog,
        word_shingles,
    )

    _check_threshold(threshold)
    n, cat_hash, cat_post = _read_catalog(docs.sparkSession, path=path)
    base = (
        docs.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("t")
        )
        .withColumn("h", F.md5("t"))
        .join(cat_hash, "h", "left")
        .withColumn("s", word_shingles("t", n))
        .select(
            "id",
            "exact_id",
            F.size("s").alias("szi"),
            F.explode_outer("s").alias("shingle"),
        )
    )
    if max_df is not None:
        hot = (
            cat_post.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle", F.lit(True).alias("__hot"))
        )
        cat_post = cat_post.join(
            hot.select("shingle"), "shingle", "left_anti"
        )
        base = (
            base.join(hot, "shingle", "left")
            .withColumn(
                "shingle",
                F.when(F.col("__hot").isNull(), F.col("shingle")),
            )
            .drop("__hot")
        )
    cands = base.join(cat_post, "shingle", "left")

    out_schema = f"{id_col} bigint, dup_of bigint, reason string"
    state_schema = "done boolean"
    thr = float(threshold)

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (doc,) = key
        exact = None
        szi = 0
        inter: dict[int, int] = {}
        szc: dict[int, int] = {}
        for pdf in pdfs:
            ex = pdf["exact_id"].dropna()
            if len(ex):
                e = int(ex.min())
                exact = e if exact is None else min(exact, e)
            if len(pdf):
                szi = max(szi, int(pdf["szi"].max()))
            sub = pdf.dropna(subset=["cid"])
            for c, sc in zip(sub["cid"], sub["szc"]):
                c = int(c)
                inter[c] = inter.get(c, 0) + 1
                szc[c] = int(sc)
        near = None
        for c, i in inter.items():
            denom = szi + szc[c] - i
            if denom > 0 and i / denom >= thr:
                near = c if near is None else min(near, c)
        dup = exact if exact is not None else near
        reason = (
            "exact"
            if exact is not None
            else ("near" if near is not None else None)
        )
        yield pd.DataFrame(
            {
                id_col: pd.array([int(doc)], dtype="Int64"),
                "dup_of": pd.array([dup], dtype="Int64"),
                "reason": [reason],
            }
        )

    return cands.groupBy("id").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_psi_counts(
    events: DataFrame,
    cuts: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Streaming half of the PSI drift monitor: bin arriving values
    against a PRE-COMPUTED reference-quantile cuts dim (the
    ``psi_cuts`` output, persisted next to the reference snapshot) and
    maintain per-(key, bin) counts — a stream-static broadcast join
    plus one streaming aggregate, the same shape as the mixture-rate
    stream. The converged counts equal the batch ``value_psi``
    histogram's ``n_cur`` column exactly (pinned in
    tests/test_streaming.py); the PSI formula itself is a per-batch
    finishing select the consumer applies to the tiny (|keys| x
    n_bins) output table, where late data simply updates the counts
    it re-scores from.

    State is the aggregate itself — |keys| x n_bins cells, constant in
    stream length; no watermark needed because the dimension is
    bounded (unlike time-windowed counts, there is no unbounded key
    space to expire)."""
    from hbase_gis_spark.operators.drift import (
        _bin_counts,
        _psi_prep,
        psi_assign_bins,
    )

    prepped = _psi_prep(events, key_col, value_col)
    return _bin_counts(psi_assign_bins(prepped, cuts), "n_cur", key_col)


def streaming_orphan_counts(
    events: DataFrame,
    dim: DataFrame,
    fk_col: str = "user_id",
    dim_key: str = "user_id",
) -> DataFrame:
    """Streaming referential-integrity monitor: count arriving rows
    whose FK has no match in a STATIC dim snapshot, per FK value —
    the ingest-time alarm version of
    :func:`~hbase_gis_spark.operators.quality.referential_orphans`
    (a growing orphan count means the upstream dim feed stalled or a
    producer started emitting unknown keys). Stream-static LEFT ANTI
    join (supported shape: stream on the left) + one streaming
    aggregate; output (fk_value, n_orphans).

    State: one count per DISTINCT ORPHAN key — bounded by the
    defect's own cardinality (healthy streams keep zero state).
    NULL FKs pass the anti join on both engines' semantics and are
    reported under the NULL key, consistent with the batch audit's
    separate NULL accounting."""
    keyed = events.select(F.col(fk_col).alias("__fk"))
    return (
        keyed.join(
            dim.select(F.col(dim_key).alias("__fk")).distinct(),
            "__fk",
            "left_anti",
        )
        .groupBy(F.col("__fk").alias("fk_value"))
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


def streaming_histogram_counts(
    events: DataFrame,
    range_dim: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    n_bins: int = 20,
) -> DataFrame:
    """Streaming half of the equi-width histogram monitor: bin
    arriving values against a PERSISTED per-key range dim (the
    :func:`~hbase_gis_spark.operators.drift.histogram_range` output,
    frozen at reference time — the same contract as
    ``streaming_psi_counts``' cuts dim and the curve-layout bounds
    sidecar) and maintain per-(key, bin) counts. Values that drift
    past the frozen range clamp into the edge bins, so a growing edge
    bin IS the out-of-range drift signal. Converged counts equal the
    batch ``value_histogram(..., range_dim=...)`` nonzero bins
    exactly (pinned in tests/test_streaming.py).

    State: |keys| x n_bins cells, constant in stream length — no
    watermark needed, the dimension is bounded."""
    from hbase_gis_spark.operators.drift import (
        _bin_counts,
        _psi_prep,
        histogram_assign_bins,
    )

    prepped = _psi_prep(events, key_col, value_col)
    return _bin_counts(
        histogram_assign_bins(prepped, range_dim, n_bins), "n_values", key_col
    )


def streaming_first_seen(
    events: DataFrame,
    watermark: str = "30 days",
) -> DataFrame:
    """Streaming twin of the batch ``cumulative_users`` reach curve's
    per-user first-seen collapse: (user_id, first_us) maintained
    incrementally as a MIN aggregation (update mode) — arrival-order
    independent, unlike a dedup-based "first row wins" (a shuffled
    replay would change which row survives a dedup, but never the
    min). Downstream day bucketing and the cumulative fold stay
    read-side batch transforms (two chained stateful aggregations in
    one streaming query are unsupported, and a running total over
    unbounded days is reporting, not stream state).

    State: one (user, min) entry per user seen inside the watermark
    horizon. Batch input falls back to the identical exact aggregate.
    """
    withts = events.withColumn("event_ts", event_time("ts"))
    if events.isStreaming:
        withts = withts.withWatermark("event_ts", watermark)
    return withts.groupBy("user_id").agg(
        F.expr("min(unix_micros(event_ts))").alias("first_us")
    )


def streaming_event_debounce(
    events: DataFrame,
    gap_us: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of the batch ``timeseries.event_debounce``:
    per (user, event_type), emit only each burst's FIRST event — an
    event survives iff it arrives more than ``gap_us`` after the
    key's previous RAW event (trailing-edge debounce, the same stated
    semantics as the batch operator).

    State per key is ONE bigint (the last raw event timestamp) —
    bounded regardless of stream length. Within a micro-batch rows
    are processed in (ts, event_id) order; ACROSS batches parity with
    the batch operator holds for in-order delivery (the established
    parity caveat of this module's stateful twins — a late event that
    time-travels behind the stored last-ts cannot retroactively
    un-keep an already-emitted event in any single-pass streaming
    formulation; it is debounced against the newest seen ts).

    Emits (user, type, event_id, ts_us) for KEPT events only."""
    out_schema = (
        f"{user_col} bigint, {type_col} string, "
        "event_id bigint, ts_us bigint"
    )
    state_schema = "last_us bigint"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        uid, etype = key
        last = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            for r in (
                pdf[["event_id", "ts_us"]]
                .sort_values(["ts_us", "event_id"])
                .itertuples(index=False)
            ):
                if last is None or r.ts_us - last > gap_us:
                    rows.append((r.event_id, r.ts_us))
                last = r.ts_us
        if last is not None:
            state.update((int(last),))
        yield pd.DataFrame(
            {
                user_col: [uid] * len(rows),
                type_col: [etype] * len(rows),
                "event_id": [i for i, _ in rows],
                "ts_us": [t for _, t in rows],
            }
        )

    return (
        events.select(
            user_col,
            type_col,
            "event_id",
            F.unix_micros(event_time("ts")).alias("ts_us"),
        )
        .groupBy(user_col, type_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def windowed_unique_users(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """EXACT tumbling-window distinct users with batch/stream parity:
    hourly unique visitors, the headline reach metric next to
    ``windowed_event_counts``' volume.

    A streaming ``countDistinct`` is unsupported (distinct state is
    unbounded per window under retraction); the standard exact
    translation is DEDUP-THEN-COUNT — collapse each (user, window) to
    its first arrival with ``dropDuplicatesWithinWatermark`` (state:
    one entry per distinct pair inside the watermark horizon, exactly
    the information a distinct NEEDS), then a plain windowed count.
    On batch the same pipeline degenerates to dropDuplicates +
    count — bit-identical to ``countDistinct`` by construction ONLY
    once NULL users are dropped first: dropDuplicates keeps one row
    per (NULL, window) and count(1) would count it, while
    countDistinct excludes NULLs (ADVICE r7 #4 — the filter below,
    mirrored in the hourly_unique_users oracle, restores the claim
    and is pinned by the NULL-user parity test).

    Output: (ws, we, n_users)."""
    bucketed = (
        events.filter(F.col("user_id").isNotNull())
        .withColumn("event_ts", event_time("ts"))
        .select(
            "user_id",
            "event_ts",
            F.window("event_ts", window).alias("__w"),
        )
    )
    if bucketed.isStreaming:
        deduped = bucketed.withWatermark(
            "event_ts", watermark
        ).dropDuplicatesWithinWatermark(["user_id", "__w"])
    else:
        deduped = bucketed.dropDuplicates(["user_id", "__w"])
    return (
        deduped.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("__w.start").alias("ws"),
            F.col("__w.end").alias("we"),
            "n_users",
        )
    )


def latest_rollup_version(
    spark: SparkSession, store_dir: str
) -> tuple[int, int | None, str | None]:
    """Scan ``store_dir`` for the highest COMMITTED ``rollup_v{N}``
    and return ``(version, batch_id, lineage)`` where ``batch_id`` is
    the micro-batch that produced it and ``lineage`` identifies the
    checkpoint lineage that folded it (both from the
    ``_FOLDED_B{bid}_L{lineage}`` marker the writer touches AFTER the
    parquet commit; both ``None`` for a seed/backfill version written
    outside the stream). Uses the Hadoop FileSystem API via the
    session's JVM so the scan works on any store Spark can write to
    (local, HDFS, object stores), not just local paths.

    Committed means: carries a fold marker, or — when NO marked
    version exists anywhere (a caller-managed seed/backfill store) —
    carries parquet's ``_SUCCESS``. The ordering matters for both
    crash windows: a version whose parquet commit landed but whose
    marker didn't (the at-least-once window) is INVISIBLE whenever a
    marked version exists below it, so the replayed epoch re-folds
    from the marked head and overwrites the unmarked dir with the
    identical content; a version torn mid-parquet-write has neither
    marker nor ``_SUCCESS`` and is invisible unconditionally.

    When the ``_SUCCESS``-only fallback applies and MORE THAN ONE
    unmarked version exists, the LOWEST wins (ADVICE r9 #1): on a
    fresh seed store, a crash between the first fold's parquet
    commit (which writes ``_SUCCESS``) and its ``_FOLDED`` marker
    leaves two unmarked versions — electing the highest would treat
    the torn fold as a seed with ``batch_id=None`` and the replayed
    epoch would double-fold onto it; electing the lowest (the real
    seed) makes the replay overwrite the torn head with identical
    content, the same self-healing the marked path gets. A
    deliberate multi-version manual backfill (several unmarked
    versions, highest intended) therefore must pass
    ``start_version`` to :func:`maintain_rollup_stream` — the scan
    cannot distinguish it from a torn first fold, and emits a
    ``RuntimeWarning`` whenever the ambiguous >1-unmarked case is
    actually hit (ADVICE r10).

    Raises ``FileNotFoundError`` if no committed ``rollup_v{N}``
    exists — the caller contract (seed ``rollup_v0`` first) is
    unchanged."""
    import re as _re

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    best_marked: tuple[int, int | None, str | None] | None = None
    unmarked_success: list[int] = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            m = _re.fullmatch(r"rollup_v(\d+)", name)
            if not m:
                continue
            ver = int(m.group(1))
            bid, lineage, success = None, None, False
            for f in fs.listStatus(st.getPath()):
                fname = f.getPath().getName()
                fm = _re.fullmatch(
                    r"_FOLDED_B(\d+)(?:_L([0-9a-f]+))?", fname
                )
                if fm:
                    bid = int(fm.group(1))
                    lineage = fm.group(2)
                elif fname == "_SUCCESS":
                    success = True
            if bid is not None and (
                best_marked is None or ver > best_marked[0]
            ):
                best_marked = (ver, bid, lineage)
            if success and bid is None:
                unmarked_success.append(ver)
    if best_marked is not None:
        return best_marked
    if unmarked_success:
        lowest_success = min(unmarked_success)
        if len(unmarked_success) > 1:
            # ADVICE r10 (low): the lowest-wins election is correct
            # for a torn first fold but WRONG for a deliberate
            # multi-version manual backfill (highest intended) — the
            # scan cannot tell them apart, so make the ambiguity loud
            # instead of choosing silently.
            warnings.warn(
                f"{len(unmarked_success)} unmarked _SUCCESS versions "
                f"under {store_dir} (v{sorted(unmarked_success)}); "
                f"electing the LOWEST (v{lowest_success}) on the "
                "torn-first-fold assumption. If this is a manual "
                "multi-version backfill, pass start_version "
                "explicitly to maintain_rollup_stream.",
                RuntimeWarning,
                stacklevel=2,
            )
        # LOWEST unmarked version: above it can only be a torn first
        # fold (marker never landed), which the replayed epoch must
        # overwrite, not fold onto (ADVICE r9 #1)
        return lowest_success, None, None
    raise FileNotFoundError(
        f"no committed rollup_v*/ under {store_dir}; seed rollup_v0 "
        "first (a version dir without _SUCCESS is a torn write and "
        "is deliberately invisible)"
    )


def maintain_rollup_stream(
    spark: SparkSession,
    stream: DataFrame,
    keys: list[str],
    store_dir: str,
    count_col: str = "n_rows",
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    trigger_available_now: bool = False,
    checkpoint_dir: str | None = None,
    start_version: int | None = None,
):
    """Streaming materialized-view maintenance: fold every micro-batch
    of raw rows into a parquet-stored additive rollup via
    :func:`operators.merge.incremental_rollup` — the continuous twin
    of the batch operator, packaged from the foreachBatch
    read-merge-write pattern its parity test pins
    (tests/test_streaming.py::test_streaming_rollup_maintenance_matches_batch).

    The store is VERSIONED (``store_dir/rollup_v{N}``): each batch
    reads the current version and writes the next, so a mid-write
    crash never corrupts the readable snapshot (parquet overwrite is
    not atomic; version-swap is the portable exactly-once-ish pattern
    without a table format). Additivity makes the result independent
    of batch boundaries — after any prefix of batches the store equals
    the one-shot recompute over the rows seen so far.

    RECOVERY (the part "exactly-once-ish" has to earn): on start the
    current version is DISCOVERED by scanning ``store_dir`` for the
    highest COMMITTED ``rollup_v{N}`` (:func:`latest_rollup_version`
    — marker-bearing, or ``_SUCCESS``-bearing when nothing is marked
    yet), never assumed to be 0 — re-invoking on a store that already
    advanced resumes from the real head instead of silently
    re-folding onto the empty seed. Pass ``checkpoint_dir`` so the
    restarted stream resumes from the source offsets it already
    committed; because foreachBatch is at-least-once (the last epoch
    replays when a crash lands between the store write and the
    checkpoint commit), every committed version carries a
    ``_FOLDED_B{bid}_L{lineage}`` marker (written AFTER the parquet
    commit; ``lineage`` = md5 of the checkpoint path) and a replayed
    batch whose id is ≤ the head marker's FROM THE SAME LINEAGE is
    SKIPPED — folding is idempotent under replay, which upgrades
    at-least-once to effectively-once for the store. The marker
    ordering also covers its own crash window: a version whose
    parquet landed but whose marker didn't is invisible to the scan,
    so the replayed epoch re-folds from the marked head and
    OVERWRITES the unmarked dir with identical content.

    Batch ids are only comparable within one checkpoint lineage, so
    a store whose head was folded by a DIFFERENT lineage (or by a
    temporary checkpoint) REFUSES to start unless ``start_version``
    rebases it explicitly — a fresh lineage re-reads the source from
    offset zero and would silently re-fold (or, with a naive id
    comparison, silently DROP) everything; neither is acceptable to
    guess at. ``start_version`` overrides the scan for deliberate
    point-in-time restarts; superseded ``rollup_v{N}`` dirs are
    retained for that purpose (prune old versions out-of-band like
    any snapshot store). Without ``checkpoint_dir`` the lineage is
    this run's query id, so replay-skip still works within the run
    but every re-invocation must rebase — the docstring's loud hint
    to pass a real checkpoint in production.

    Caller contract: ``store_dir/rollup_v0`` must exist with the
    rollup schema (write ``raw.limit(0)`` aggregated, or a real
    backfill) — the function does not guess a schema from the stream.

    Returns ``(query, state)`` — the StreamingQuery handle and a
    bookkeeping dict whose ``"version"`` entry is the latest
    committed store version and ``"batch_id"`` the micro-batch that
    produced it.

    Scale shape per batch: one partial aggregate over the batch + a
    rollup-key-space union shuffle — never a history scan; see
    SCALE.md's measured crossover (benchdata/ab_incremental_rollup.json)
    for when this beats nightly recomputes."""
    import hashlib
    import uuid

    from hbase_gis_spark.operators.merge import incremental_rollup

    lineage = (
        hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
        if checkpoint_dir is not None
        else uuid.uuid4().hex[:12]  # no checkpoint: lineage = this run
    )
    if start_version is not None:
        state = {"version": start_version, "batch_id": None}
    else:
        ver, bid, stored_lineage = latest_rollup_version(spark, store_dir)
        if bid is not None and stored_lineage != lineage:
            raise ValueError(
                f"{store_dir} head rollup_v{ver} was folded by a "
                f"different checkpoint lineage ({stored_lineage} vs "
                f"{lineage}); batch ids are not comparable across "
                "lineages, and a fresh lineage re-reads the source "
                "from offset zero. Resume with the ORIGINAL "
                "checkpoint_dir, or pass start_version to rebase the "
                "store explicitly."
            )
        state = {
            "version": ver,
            "batch_id": bid if stored_lineage == lineage else None,
        }

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _apply(batch_df, bid):
        if state["batch_id"] is not None and bid <= state["batch_id"]:
            return  # replayed epoch already folded into the head version
        cur = spark.read.parquet(
            f"{store_dir}/rollup_v{state['version']}"
        )
        merged = incremental_rollup(
            cur, batch_df, keys, count_col=count_col,
            sum_cols=list(sum_cols or []),
            min_cols=list(min_cols or []),
            max_cols=list(max_cols or []),
        )
        nxt = state["version"] + 1
        merged.write.mode("overwrite").parquet(
            f"{store_dir}/rollup_v{nxt}"
        )
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{store_dir}/rollup_v{nxt}/_FOLDED_B{bid}_L{lineage}"
        )
        marker.getFileSystem(hconf).create(marker, True).close()
        state["version"] = nxt
        state["batch_id"] = bid

    writer = stream.writeStream.foreachBatch(_apply)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    return q, state
