"""Corpus-shaping operators: deterministic shuffle, domain caps,
mixture sampling, PII scrub (operators/corpus.py)."""

import pytest
from pyspark.sql import functions as F

from hbase_gis_spark.operators.corpus import (
    domain_cap,
    global_shuffle,
    mixture_rates,
    mixture_sample,
    pii_scrub,
)

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet").cache()


def test_global_shuffle_is_permutation(spark, docs):
    out = global_shuffle(docs, num_shards=8)
    n = docs.count()
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    # dense positions per shard: max(pos) == count per shard
    per = out.groupBy("shard").agg(
        F.max("pos").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    assert per.filter(F.col("mx") != F.col("n")).count() == 0


def test_global_shuffle_layout_invariant(spark, docs):
    """Same (shard, pos) no matter how the input is partitioned —
    the reproducibility contract a training pipeline needs."""
    a = global_shuffle(docs, num_shards=8).collect()
    b = global_shuffle(docs.repartition(7), num_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_domain_cap_enforces_cap(spark, docs):
    # NULL keys are one group and are capped like any other key: 10
    # NULL-source rows against a cap of 4, beside over- and under-cap keys
    nulls = spark.createDataFrame(
        [(i, None if i < 10 else f"s{i % 3}") for i in range(30)]
        + [(30, "tiny")],
        "doc_id long, source string",
    )
    for df, cap in [(docs, 3), (nulls, 4)]:
        out = domain_cap(df, "source", cap=cap)
        # every key, NULL included, keeps min(n, cap) rows: over-cap keys
        # are cut to the cap, under-cap keys pass through untouched
        n_in, n_out = (
            {r.source: r["count"] for r in d.groupBy("source").count().collect()}
            for d in (df, out)
        )
        assert n_out == {k: min(n, cap) for k, n in n_in.items()}


def test_domain_cap_survivors_deterministic(spark, docs):
    a = sorted(r.doc_id for r in domain_cap(docs, "source", cap=2).collect())
    b = sorted(
        r.doc_id
        for r in domain_cap(docs.repartition(5), "source", cap=2).collect()
    )
    assert a == b


def test_curation_funnel_cap_count_equals_corpus_pipeline_rows(spark):
    """The funnel derives its domain_cap count as sum(min(n_key, cap))
    over the near-dup survivors without running the cap; it must equal
    the rows corpus_pipeline keeps after running it."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    funnel = {
        r.stage: r.n_docs for r in qs["curation_funnel"](spark, SF0001).collect()
    }
    assert funnel["domain_cap"] == qs["corpus_pipeline"](spark, SF0001).count()


def test_mixture_rates_upweight_rare(spark, docs):
    rates = {r["lang"]: r for r in mixture_rates(docs, "lang", 0.5).collect()}
    assert all(0.0 < r["sample_rate"] <= 1.0 for r in rates.values())
    # rarer strata get a strictly higher rate (sqrt temperature)
    ordered = sorted(rates.values(), key=lambda r: r["n_docs"])
    for lo, hi in zip(ordered, ordered[1:]):
        if lo["n_docs"] < hi["n_docs"]:
            assert lo["sample_rate"] >= hi["sample_rate"]
    # expected kept fraction ~ target (before the min(1) clamp binds)
    total = sum(r["n_docs"] for r in rates.values())
    expect = sum(
        min(1.0, r["sample_rate"]) * r["n_docs"] for r in rates.values()
    )
    assert expect / total == pytest.approx(0.5, abs=0.15)


def test_mixture_sample_subset_and_monotone(spark, docs):
    lo = {r.doc_id for r in mixture_sample(docs, "lang", 0.3).collect()}
    hi = {r.doc_id for r in mixture_sample(docs, "lang", 0.7).collect()}
    all_ids = {r.doc_id for r in docs.collect()}
    assert lo <= hi <= all_ids


def test_pii_scrub_redacts(spark):
    rows = [
        (1, "mail me at jo.doe+x@example.org or 10.0.0.1 now"),
        (2, "call 555-123-4567 or 555 987 6543"),
        (3, "nothing sensitive here"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 1
    assert "<EMAIL>" in out[1]["clean_text"]
    assert "<IP>" in out[1]["clean_text"]
    assert "example.org" not in out[1]["clean_text"]
    assert out[2]["n_phones"] == 2
    assert out[2]["clean_text"].count("<PHONE>") == 2
    assert out[3]["clean_text"] == "nothing sensitive here"
    assert out[4]["n_emails"] == out[4]["n_ips"] == out[4]["n_phones"] == 0


def test_winnow_guarantee(spark):
    """Docs sharing a token run of length >= w+k-1 share a fingerprint
    (the winnowing guarantee), and fingerprints are ~1/w dense."""
    from hbase_gis_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_matches,
    )

    run = " ".join(f"tok{i}" for i in range(12))  # w+k-1 = 12 with k=5,w=8
    rows = [
        (1, f"{run} unique tail one two three four five six seven"),
        (2, f"other head words entirely {run}"),
        (3, "no shared content in this document at all whatsoever here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    m = winnow_matches(df, k=5, w=8).collect()
    assert any(r["n_docs"] == 2 for r in m)
    fps = winnow_fingerprints(df, k=5, w=8)
    by_doc = {
        r["doc_id"]: r["cnt"]
        for r in fps.groupBy("doc_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    # doc 3 has 10 tokens -> 6 gram hashes < w -> zero windows
    assert 3 not in by_doc


def test_write_training_shards_roundtrip(spark, docs, tmp_path):
    from pyspark.sql import functions as F
    from hbase_gis_spark.operators.corpus import (
        global_shuffle,
        write_training_shards,
    )

    path = str(tmp_path / "shards")
    write_training_shards(docs, path, num_shards=4)
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert set(r.shard for r in back.select("shard").distinct().collect()) <= set(range(4))
    # shard membership matches global_shuffle's assignment
    gs = global_shuffle(docs, num_shards=4)
    j = back.select("doc_id", F.col("shard").cast("int").alias("shard")).join(
        gs.select("doc_id", F.col("shard").alias("shard2")), "doc_id"
    )
    assert j.filter("shard != shard2").count() == 0


def test_jsonl_roundtrip_and_conversion(spark, docs, tmp_path):
    from hbase_gis_spark.sources.corpus_io import (
        jsonl_to_parquet,
        read_documents_jsonl,
        write_documents_jsonl,
    )

    jl = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(docs, jl)
    back = read_documents_jsonl(spark, jl)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)
    a = sorted(r.doc_id for r in back.select("doc_id").collect())
    b = sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert a == b
    pq = str(tmp_path / "docs_pq")
    jsonl_to_parquet(spark, jl, pq, partition_by=["lang"])
    conv = spark.read.parquet(pq)
    assert conv.count() == docs.count()
    # lang partitioning produced lang=... directories (pruning layout)
    import os
    assert any(d.startswith("lang=") for d in os.listdir(pq))


def test_jsonl_corrupt_line_tolerated(spark, tmp_path):
    import json as _json
    from hbase_gis_spark.sources.corpus_io import read_documents_jsonl

    p = tmp_path / "dirty"
    p.mkdir()
    with open(p / "part-0.jsonl", "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": "ok", "lang": "en",
                             "source": "s", "n_chars": 2}) + "\n")
        f.write("{this is not json\n")
    df = read_documents_jsonl(spark, str(p), keep_corrupt=True)
    rows = df.collect()
    assert len(rows) == 2
    good = [r for r in rows if r.doc_id == 1]
    bad = [r for r in rows if r.doc_id is None]
    assert good and bad and bad[0]._corrupt_record is not None


def test_chunk_documents_coverage_and_overlap(spark):
    from hbase_gis_spark.operators.corpus import chunk_documents

    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = sorted(
        chunk_documents(df, chunk_tokens=32, overlap=8).collect(),
        key=lambda r: r.chunk_idx,
    )
    # stride 24: starts 0,24,48,72,96
    assert [r.tok_start for r in out] == [0, 24, 48, 72, 96]
    assert [r.n_tok for r in out] == [32, 32, 32, 28, 4]
    assert out[0].chunk_text.split(" ")[0] == "t0"
    assert out[1].chunk_text.split(" ")[0] == "t24"
    # consecutive chunks overlap by 8 tokens
    a = out[0].chunk_text.split(" ")
    b = out[1].chunk_text.split(" ")
    assert a[-8:] == b[:8]
    # every token position is covered
    covered = set()
    for r in out:
        covered.update(range(r.tok_start, r.tok_start + r.n_tok))
    assert covered == set(range(100))


def test_make_session_configs(spark):
    """The suite's session already runs the factory's settings:
    ``make_session`` on it (getOrCreate re-applies every runtime conf)
    returns the same session and changes no setting, so no test's
    configuration depends on which test called the factory first. A
    different app name and master (as the CLI passes) leave the running
    session's name and master as they are."""
    from hbase_gis_spark import make_session

    before = dict(spark.conf.getAll)
    s = make_session(app="another-app", master="local[1]")
    assert s is spark
    assert dict(s.conf.getAll) == before
    assert s.conf.get("spark.app.name") == s.sparkContext.appName
    assert s.conf.get("spark.master") == s.sparkContext.master
    assert s.conf.get("spark.ui.showConsoleProgress") == "false"
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert s.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert s.conf.get("spark.sql.shuffle.partitions") == str(
        2 * s.sparkContext.defaultParallelism)


from hypothesis import given, settings, strategies as st


@settings(max_examples=5, deadline=None)
@given(
    runlen=st.integers(min_value=12, max_value=30),
    pre=st.integers(min_value=0, max_value=10),
    post=st.integers(min_value=0, max_value=10),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_winnow_guarantee_property(spark, runlen, pre, post, seed):
    """Property: any two docs sharing a token run >= w+k-1 (12) share
    at least one winnowing fingerprint, wherever the run sits."""
    from hbase_gis_spark.operators.dedup import winnow_fingerprints

    run = " ".join(f"s{seed}w{i}" for i in range(runlen))
    head = " ".join(f"h{seed}x{i}" for i in range(pre))
    tail = " ".join(f"t{seed}y{i}" for i in range(post))
    d1 = f"{head} {run}".strip()
    d2 = f"{run} {tail}".strip()
    df = spark.createDataFrame([(1, d1), (2, d2)], ["doc_id", "text"])
    fps = winnow_fingerprints(df, k=5, w=8).collect()
    f1 = {r.fingerprint for r in fps if r.doc_id == 1}
    f2 = {r.fingerprint for r in fps if r.doc_id == 2}
    assert f1 & f2, (runlen, pre, post)


@settings(max_examples=5, deadline=None)
@given(
    n_tok=st.integers(min_value=1, max_value=200),
    chunk=st.integers(min_value=4, max_value=64),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunk_coverage_property(spark, n_tok, chunk, overlap_frac):
    """Property: chunking covers every token position exactly, chunk
    sizes never exceed chunk_tokens, and starts advance by stride."""
    from hbase_gis_spark.operators.corpus import chunk_documents

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    text = " ".join(f"t{i}" for i in range(n_tok))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = sorted(
        chunk_documents(df, chunk, overlap).collect(),
        key=lambda r: r.chunk_idx,
    )
    stride = chunk - overlap
    assert [r.tok_start for r in out] == list(range(0, n_tok, stride))
    assert all(1 <= r.n_tok <= chunk for r in out)
    covered = set()
    for r in out:
        assert len(r.chunk_text.split(" ")) == r.n_tok
        covered.update(range(r.tok_start, r.tok_start + r.n_tok))
    assert covered == set(range(n_tok))


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """Two tables bucketed by the same key/count join with NO Exchange
    in the physical plan — the co-located-join layout for repeated
    big-big joins at scale."""
    from hbase_gis_spark.sources.bucketed import (
        bucketed_join_plan_is_shuffle_free,
        write_bucketed_table,
    )

    ev = load_table_events(spark)
    a = ev.select("event_id", "user_id", "value")
    b = ev.select("user_id", "event_type").dropDuplicates(["user_id"])
    write_bucketed_table(a, "bk_events", "user_id", 8)
    write_bucketed_table(b, "bk_users", "user_id", 8)
    try:
        assert bucketed_join_plan_is_shuffle_free(
            spark, "bk_events", "bk_users", "user_id"
        )
        # and the join is still correct
        got = spark.table("bk_events").join(spark.table("bk_users"), "user_id")
        assert got.count() == a.join(b, "user_id").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_events")
        spark.sql("DROP TABLE IF EXISTS bk_users")


def load_table_events(spark):
    from hbase_gis_spark.sources.tables import load_table

    return load_table(spark, SF0001, "events")


def test_salted_join_matches_plain_join(spark, docs):
    from hbase_gis_spark.operators.corpus import salted_join

    # make a skewed left: every doc keyed to a handful of hot langs
    left = docs.select("doc_id", "lang")
    right = (
        docs.groupBy("lang")
        .count()
        .select("lang", F.col("count").alias("lang_n"))
    )
    plain = left.join(right, "lang").select("doc_id", "lang", "lang_n")
    salted = salted_join(left, right, "lang", n_salt=8).select(
        "doc_id", "lang", "lang_n"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    # left join keeps unmatched left rows exactly once
    right2 = right.filter("lang = 'en'")
    pl = left.join(right2, "lang", "left")
    sl = salted_join(left, right2, "lang", n_salt=8, how="left")
    assert sorted(map(tuple, pl.select("doc_id", "lang_n").collect())) == sorted(
        map(tuple, sl.select("doc_id", "lang_n").collect())
    )


def test_orc_roundtrip_with_partition_pruning(spark, docs, tmp_path):
    """ORC sink/source roundtrip: content survives, lang partitioning
    yields directory keys, and an equality filter on the partition
    column prunes to that directory's rows."""
    from hbase_gis_spark.sources.corpus_io import (
        read_documents_orc,
        write_documents_orc,
    )

    path = str(tmp_path / "docs_orc")
    write_documents_orc(docs, path, partition_by=["lang"])
    back = read_documents_orc(spark, path)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)
    import os
    assert any(d.startswith("lang=") for d in os.listdir(path))
    one_lang = docs.select("lang").first().lang
    expect = docs.filter(docs.lang == one_lang).count()
    assert back.filter(back.lang == one_lang).count() == expect


def test_compact_parquet_reduces_file_count(spark, docs, tmp_path):
    """Compaction folds a many-small-files table into the computed
    file count without losing rows."""
    from hbase_gis_spark.sources.corpus_io import compact_parquet

    src = str(tmp_path / "small_files")
    docs.repartition(16).write.parquet(src)
    import os
    n_before = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_before >= 16

    dst = str(tmp_path / "compacted")
    n_after = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert n_after == 1
    assert spark.read.parquet(dst).count() == docs.count()


def test_token_budget_sample_equals_global_window(spark):
    """The sharded cumsum (per-shard window + driver offset prefix)
    must equal the straightforward global-window cumsum — and the kept
    set must grow monotonically with the budget."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hbase_gis_spark.operators.corpus import (
        content_hash,
        token_budget_sample,
    )
    from hbase_gis_spark.operators.textstats import token_count
    from hbase_gis_spark.sources.tables import load_table
    from tests.conftest import SF0001

    docs = load_table(spark, SF0001, "documents")
    got = {
        r.doc_id: (r.n_tokens, r.cum_tokens)
        for r in token_budget_sample(docs, 10_000).collect()
    }
    h = content_hash("budget", "doc_id")
    w = Window.orderBy((h % 64).asc(), h.asc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {
        r.doc_id: (r.n, r.c)
        for r in docs.select(
            "doc_id",
            token_count("text").cast("bigint").alias("n"),
            F.sum(token_count("text").cast("bigint")).over(w).alias("c"),
        )
        .filter(F.col("c") <= 10_000)
        .collect()
    }
    assert got == expect and len(expect) > 0
    small = {r.doc_id for r in token_budget_sample(docs, 5_000).collect()}
    assert small < set(got)


def test_rare_category_collapse_boundary_and_nulls(spark):
    """min_count is inclusive; NULL categories always collapse."""
    from hbase_gis_spark.operators.corpus import rare_category_collapse

    rows = (
        [(i, "big") for i in range(5)]
        + [(10 + i, "edge") for i in range(3)]
        + [(20, "rare"), (21, None)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, cat string")
    got = {
        r.doc_id: r.cat_out
        for r in rare_category_collapse(
            df, "cat", min_count=3, id_col="doc_id"
        ).collect()
    }
    assert got[0] == "big" and got[10] == "edge"  # >= min_count kept
    assert got[20] == "OTHER" and got[21] == "OTHER"


def test_target_encoding_loo_excludes_own_row(spark):
    """Leave-one-out: each row's encoding is the mean of its PEERS
    (hand-checked), singletons NULL."""
    from hbase_gis_spark.operators.corpus import target_encoding_loo

    rows = [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "b", 7)]
    df = spark.createDataFrame(rows, "id bigint, cat string, t bigint")
    got = {
        r.id: r.enc_micro
        for r in target_encoding_loo(df, "cat", "t", "id").collect()
    }
    # row 1: peers (20+30)/2 = 25.0 -> 25000 micro
    assert got[1] == 25000 and got[2] == 20000 and got[3] == 15000
    assert got[4] is None


def test_l_diversity_homogeneity_attack(spark):
    """A group can pass k-anonymity (size >= k) and still fail
    l-diversity when every member shares the sensitive value — the
    homogeneity attack the report exists to catch."""
    from hbase_gis_spark.operators.corpus import (
        k_anonymity_report,
        l_diversity_report,
    )

    rows = (
        [("g1", i, "flu") for i in range(10)]          # big but homogeneous
        + [("g2", i, ["flu", "cold"][i % 2]) for i in range(10)]  # diverse
        + [("g3", 0, "rare")]                          # small AND homogeneous
    )
    df = spark.createDataFrame(rows, "quasi string, i bigint, dx string")
    kan = {r.quasi for r in k_anonymity_report(df, ["quasi"], k=5).collect()}
    ldiv = {
        r.quasi: (r.n_rows, r.n_sensitive)
        for r in l_diversity_report(df, ["quasi"], "dx", l=2).collect()
    }
    assert kan == {"g3"}  # k-anonymity alone misses g1
    assert set(ldiv) == {"g1", "g3"}
    assert ldiv["g1"] == (10, 1)


def test_stage_funnel_attrition_counts(spark):
    """Funnel rows carry (count, dropped-from-previous, kept share of
    raw); NULL-safe on an empty raw set."""
    from hbase_gis_spark.operators.corpus import stage_funnel

    raw = spark.range(100).select(F.col("id").alias("doc_id"))
    s1 = raw.filter(F.col("doc_id") % 2 == 0)   # 50
    s2 = s1.filter(F.col("doc_id") % 10 == 0)   # 10
    got = {
        r.stage_idx: (r.stage, r.n_docs, r.dropped, r.kept_milli)
        for r in stage_funnel(
            [("raw", raw), ("even", s1), ("tens", s2)]
        ).collect()
    }
    assert got == {
        0: ("raw", 100, 0, 1000),
        1: ("even", 50, 50, 500),
        2: ("tens", 10, 40, 100),
    }
    empty = raw.filter(F.lit(False))
    rows = stage_funnel([("raw", empty), ("s", empty)]).collect()
    assert all(r.kept_milli is None for r in rows)
