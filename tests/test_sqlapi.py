"""SQL surface tests: spark.sql(...) forms agree with the DataFrame
operators row-for-row, and the SQL plans keep the fast-path shapes
(TakeOrderedAndProject for top-k, pushed filters for bbox)."""

import pytest
from pyspark.sql import functions as F

import hbase_gis_spark as hgs
from hbase_gis_spark.functions.geo import geohash_col
from hbase_gis_spark.sources.tables import derived_points
from tests.conftest import SF0001

CONVEX_WKT = (
    "POLYGON ((-73.99 40.72, -73.97 40.76, -73.93 40.74, "
    "-73.95 40.70, -73.99 40.72))"
)
CONCAVE_WKT = (
    "POLYGON ((-74.00 40.62, -73.90 40.62, -73.90 40.86, "
    "-74.00 40.86, -73.95 40.74, -74.00 40.62))"
)


@pytest.fixture(scope="module")
def pts_view(spark):
    derived_points(spark, SF0001).createOrReplaceTempView("pts")
    return "pts"


def test_within_convex_sql_matches_dataframe(spark, pts_view):
    pred = hgs.within_convex_sql(CONVEX_WKT)
    got = {
        r.id
        for r in spark.sql(f"SELECT id FROM pts WHERE {pred}").collect()
    }
    want = {
        r.id
        for r in hgs.within(derived_points(spark, SF0001), CONVEX_WKT).collect()
    }
    assert got == want and len(want) > 0


def test_convex_edge_point_agrees_across_engines(spark):
    """A point on a convex edge: within(), Polygon.covers, spark.sql
    over within_convex_sql and the DuckDB half-plane oracle all agree.
    Plain decimal literals made the SQL forms compute (bx - ax) in
    exact DECIMAL and drop this point while the DataFrame kept it."""
    import duckdb

    from hbase_gis_spark.geo.geometry import parse_wkt
    from hbase_gis_spark.oracles import halfplane_predicate_sql

    tri = (
        "POLYGON ((-73.762035 40.544229, -73.630045 40.60392, "
        "-73.7 40.7, -73.762035 40.544229))"
    )
    lon, lat = -73.69604, 40.5740745  # midpoint of the first edge
    df = spark.createDataFrame([(1, lon, lat)], "id long, lon double, lat double")
    df.createOrReplaceTempView("edge_pt")
    assert parse_wkt(tri).covers_point(lon, lat)
    assert hgs.within(df, tri).count() == 1
    assert spark.sql(
        f"SELECT id FROM edge_pt WHERE {hgs.within_convex_sql(tri)}"
    ).count() == 1
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE edge_pt AS SELECT 1 AS id, "
        f"CAST({lon!r} AS DOUBLE) AS lon, CAST({lat!r} AS DOUBLE) AS lat"
    )
    assert con.execute(
        f"SELECT count(*) FROM edge_pt WHERE {halfplane_predicate_sql(tri)}"
    ).fetchone()[0] == 1


def test_within_convex_sql_rejects_concave():
    with pytest.raises(ValueError):
        hgs.within_convex_sql(CONCAVE_WKT)


def test_hgs_covers_matches_dataframe_concave(spark, pts_view):
    hgs.register_sql_api(spark)
    bbox = hgs.bbox_sql(CONCAVE_WKT)
    got = {
        r.id
        for r in spark.sql(
            f"SELECT id FROM pts WHERE {bbox} "
            f"AND hgs_covers('{CONCAVE_WKT}', lon, lat)"
        ).collect()
    }
    want = {
        r.id
        for r in hgs.within(
            derived_points(spark, SF0001), CONCAVE_WKT
        ).collect()
    }
    assert got == want and len(want) > 0


def test_hgs_geohash_matches_native_encoder(spark, pts_view):
    hgs.register_sql_api(spark)
    via_sql = spark.sql(
        "SELECT id, hgs_geohash(lat, lon) AS gh FROM pts LIMIT 200"
    )
    native = derived_points(spark, SF0001).select(
        "id", geohash_col(F.col("lat"), F.col("lon"), 12).alias("gh")
    )
    a = {r.id: r.gh for r in via_sql.collect()}
    b = {r.id: r.gh for r in native.collect()}
    assert all(a[i] == b[i] for i in a)


def test_knn_sql_is_take_ordered(spark, pts_view):
    dist = hgs.planar_distance_sql(-73.95, 40.75)
    q = spark.sql(
        f"SELECT id, {dist} AS distance FROM pts "
        "ORDER BY distance ASC, id ASC LIMIT 10"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    got = [r.id for r in q.collect()]
    want = [
        r.id
        for r in hgs.knn(
            derived_points(spark, SF0001), -73.95, 40.75, 10, tiebreak_col="id"
        ).collect()
    ]
    assert got == want


def test_haversine_sql_matches_column_expr(spark, pts_view):
    """The SQL haversine text returns the DataFrame operator's
    distances (``with_distance(metric="haversine")``) bit for bit."""
    expr = hgs.haversine_distance_sql(-73.95, 40.75)
    via_sql = {
        r.id: r.d
        for r in spark.sql(f"SELECT id, {expr} AS d FROM pts LIMIT 100").collect()
    }
    via_op = {
        r.id: r.d
        for r in hgs.with_distance(
            derived_points(spark, SF0001), -73.95, 40.75,
            dist_col="d", metric="haversine",
        ).collect()
    }
    assert len(via_sql) == 100
    assert all(via_sql[i] == via_op[i] for i in via_sql)


def test_geohash_prefix_sql_is_superset_filter(spark, pts_view):
    """The prefix IN-list must keep every point the polygon covers
    (superset semantics) while cutting the candidate set."""
    hgs.register_sql_api(spark)
    pred = hgs.geohash_prefix_sql(CONVEX_WKT, "hgs_geohash(lat, lon)")
    kept = {
        r.id for r in spark.sql(f"SELECT id FROM pts WHERE {pred}").collect()
    }
    covered = {
        r.id
        for r in hgs.within(derived_points(spark, SF0001), CONVEX_WKT).collect()
    }
    total = spark.table("pts").count()
    assert covered <= kept
    assert len(kept) < total


# --- corpus-family SQL functions (round 3) -----------------------------------


@pytest.fixture(scope="module")
def docs_view(spark):
    from hbase_gis_spark.sources.tables import load_table

    load_table(spark, SF0001, "documents").createOrReplaceTempView("docs")
    return "docs"


def test_hgs_simhash_matches_dataframe(spark, docs_view):
    """spark.sql hgs_simhash == operators.dedup.simhash, every doc."""
    from hbase_gis_spark.operators.dedup import simhash
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    via_sql = {
        r.doc_id: r.sh
        for r in spark.sql(
            "SELECT doc_id, hgs_simhash(text) AS sh FROM docs"
        ).collect()
    }
    via_col = {
        r.doc_id: r.sh
        for r in load_table(spark, SF0001, "documents")
        .select("doc_id", simhash("text").alias("sh"))
        .collect()
    }
    assert via_sql == via_col


def test_hgs_lang_id_matches_dataframe(spark, docs_view):
    from hbase_gis_spark.operators.textstats import lang_id
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    via_sql = {
        r.doc_id: r.l
        for r in spark.sql(
            "SELECT doc_id, hgs_lang_id(text) AS l FROM docs"
        ).collect()
    }
    via_col = {
        r.doc_id: r.l
        for r in load_table(spark, SF0001, "documents")
        .select("doc_id", lang_id("text").alias("l"))
        .collect()
    }
    assert via_sql == via_col
    assert set(via_sql.values()) > {"und"}  # non-vacuous: some langs hit


def test_hgs_minhash_band_matches_operator_banding(spark, docs_view):
    """hgs_minhash_band(text, b) equals the operator path's
    hash(slice(signature, b*r+1, r)) for every band — so SQL callers
    land in exactly the LSH buckets minhash_lsh_pairs joins on."""
    from hbase_gis_spark.operators.dedup import (
        minhash_signature_from_hashes,
        shingle_hashes32,
        word_shingles,
    )
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    bands, r = 16, 4
    band_cols = ", ".join(
        f"hgs_minhash_band(text, {b}) AS b{b}" for b in range(bands)
    )
    via_sql = {
        r_.doc_id: tuple(r_[f"b{b}"] for b in range(bands))
        for r_ in spark.sql(
            f"SELECT doc_id, {band_cols} FROM docs"
        ).collect()
    }
    sig = (
        load_table(spark, SF0001, "documents")
        .select("doc_id", word_shingles("text", 3).alias("s"))
        .select("doc_id", shingle_hashes32("s").alias("h32"))
        .select(
            "doc_id", minhash_signature_from_hashes("h32", 64).alias("sig")
        )
    )
    via_op = {
        r_.doc_id: tuple(
            r_[f"b{b}"] for b in range(bands)
        )
        for r_ in sig.select(
            "doc_id",
            *[
                F.hash(F.slice("sig", b * r + 1, r)).alias(f"b{b}")
                for b in range(bands)
            ],
        ).collect()
    }
    assert via_sql == via_op


def test_sql_udfs_are_jvm_side(spark, docs_view):
    """The corpus SQL functions must stay out of the Python-worker slow
    path: no BatchEvalPython / ArrowEvalPython in their plans."""
    hgs.register_sql_api(spark)
    plan = (
        spark.sql(
            "SELECT hgs_simhash(text) AS a, hgs_minhash_band(text, 3) AS b, "
            "hgs_lang_id(text) AS c FROM docs"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_text_kernels_agree_on_edge_inputs(spark):
    """NULL, empty, blank and one-word text: every DataFrame text
    kernel returns what its SQL function (or generator) returns —
    ``hgs_quality_logit(NULL)`` is the operator's 0.0, not NULL."""
    from hbase_gis_spark.operators.dedup import (
        minhash_signature_hof,
        shingle_hashes32,
        simhash,
        tokens,
        word_shingles,
    )
    from hbase_gis_spark.operators.textstats import lang_id, quality_logit_expr

    hgs.register_sql_api(spark)
    texts = [(0, None), (1, ""), (2, "   "), (3, "the")]
    spark.createDataFrame(texts, "i int, text string").createOrReplaceTempView(
        "edge_texts"
    )
    bands = range(16)
    via_sql = spark.sql(
        f"SELECT i, {hgs.tokens_sql('text')} AS tok, "
        f"{hgs.word_shingles_sql('text')} AS sh, "
        "hgs_simhash(text) AS simh, hgs_lang_id(text) AS lang, "
        "hgs_quality_logit(text) AS q, "
        + ", ".join(f"hgs_minhash_band(text, {b}) AS b{b}" for b in bands)
        + " FROM edge_texts"
    )
    sig = minhash_signature_hof(shingle_hashes32(word_shingles("text", 3)), 64)
    via_df = spark.table("edge_texts").select(
        "i",
        tokens("text").alias("tok"),
        word_shingles("text").alias("sh"),
        simhash("text").alias("simh"),
        lang_id("text").alias("lang"),
        quality_logit_expr("text").alias("q"),
        *[F.hash(F.slice(sig, b * 4 + 1, 4)).alias(f"b{b}") for b in bands],
    )
    got = {r.i: r.asDict() for r in via_sql.collect()}
    want = {r.i: r.asDict() for r in via_df.collect()}
    assert got == want
    assert want[0]["q"] == 0.0 and want[0]["lang"] == "und"


def test_sql_vector_functions_match_operators(spark):
    """hgs_dot / hgs_cosine equal the DataFrame fold expressions
    bit-for-bit, and stay JVM-side."""
    from hbase_gis_spark.operators.similarity import cosine_expr, dot_expr
    from hbase_gis_spark.sources.tables import load_table
    from tests.conftest import SF0001

    hgs.register_sql_api(spark)
    emb = load_table(spark, SF0001, "embeddings").limit(50)
    emb.createOrReplaceTempView("emb_sql_test")
    via_sql = {
        (r.a, r.b): (r.d, r.c)
        for r in spark.sql(
            "SELECT x.vec_id AS a, y.vec_id AS b, "
            "hgs_dot(x.embedding, y.embedding) AS d, "
            "hgs_cosine(x.embedding, y.embedding) AS c "
            "FROM emb_sql_test x JOIN emb_sql_test y ON x.vec_id < y.vec_id"
        ).collect()
    }
    via_op = {
        (r.a, r.b): (r.d, r.c)
        for r in emb.alias("x")
        .join(emb.alias("y"), F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            dot_expr(F.col("x.embedding"), F.col("y.embedding")).alias("d"),
            cosine_expr(F.col("x.embedding"), F.col("y.embedding")).alias("c"),
        )
        .collect()
    }
    assert via_sql == via_op
    plan = (
        spark.sql(
            "SELECT hgs_cosine(embedding, embedding) FROM emb_sql_test"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_hgs_quality_logit_matches_dataframe(spark, docs_view):
    """spark.sql hgs_quality_logit == quality_classifier's logit,
    every doc (integer weight fold → exact equality)."""
    from hbase_gis_spark.operators.textstats import quality_classifier
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    via_sql = {
        r.doc_id: r.q
        for r in spark.sql(
            "SELECT doc_id, hgs_quality_logit(text) AS q FROM docs"
        ).collect()
    }
    via_df = {
        r.doc_id: r.quality_logit
        for r in quality_classifier(
            load_table(spark, SF0001, "documents")
        ).collect()
    }
    assert via_sql == via_df


def test_hgs_phash_matches_dataframe(spark, docs_view):
    """spark.sql hgs_phash_lo/hi == media_phash on the same payloads."""
    from hbase_gis_spark.operators.multimodal import (
        attach_fake_media,
        media_phash,
    )
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    docs = load_table(spark, SF0001, "documents").withColumnRenamed(
        "doc_id", "id"
    )
    media = attach_fake_media(docs)
    media.createOrReplaceTempView("media_v")
    via_sql = {
        r.id: (r.lo, r.hi)
        for r in spark.sql(
            "SELECT id, hgs_phash_lo(media) AS lo, hgs_phash_hi(media) AS hi "
            "FROM media_v"
        ).collect()
    }
    via_df = {
        r.id: (r.phash_lo, r.phash_hi) for r in media_phash(media).collect()
    }
    assert via_sql == via_df


def test_hgs_hamming_funnel_matches_dataframe(spark):
    """The full Hamming retrieval funnel written in pure SQL
    (hgs_sig_lo/hgs_sig_hi signatures -> hgs_hamming popcount ->
    ORDER BY + LIMIT) returns exactly ann_hamming_topk's rows in
    order, and every function stays JVM-side (no Python eval)."""
    from hbase_gis_spark.operators.similarity import ann_hamming_topk
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    emb = load_table(spark, SF0001, "embeddings")
    emb.createOrReplaceTempView("emb_ham_sql")
    k, qid = 12, 7
    sql_rows = spark.sql(
        f"""
        WITH sigs AS (
          SELECT vec_id,
                 hgs_sig_lo(embedding) AS sig_lo,
                 hgs_sig_hi(embedding) AS sig_hi
          FROM emb_ham_sql
        ), q AS (
          SELECT sig_lo AS qlo, sig_hi AS qhi FROM sigs
          WHERE vec_id = {qid}
        )
        SELECT vec_id, hgs_hamming(sig_lo, sig_hi, qlo, qhi) AS hamming
        FROM sigs CROSS JOIN q
        WHERE vec_id <> {qid}
        ORDER BY hamming ASC, vec_id ASC
        LIMIT {k}
        """
    ).collect()
    df_rows = ann_hamming_topk(emb, qid, k).collect()
    assert [(r.vec_id, r.hamming) for r in sql_rows] == [
        (r.vec_id, r.hamming) for r in df_rows
    ]
    assert len(sql_rows) == k
    plan = (
        spark.sql(
            "SELECT hgs_hamming(hgs_sig_lo(embedding), "
            "hgs_sig_hi(embedding), 0, 0) FROM emb_ham_sql"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_sql_hilbert_matches_dataframe_key(spark):
    """hgs_hilbert (Arrow numpy walk) == hilbert_key_2d (per-level
    expression pipeline) on the events table's real bin distribution,
    NULLs included."""
    from hbase_gis_spark.operators.layout import hilbert_key_2d, zorder_bin
    from hbase_gis_spark.sqlapi import register_sql_api
    from hbase_gis_spark.sources.tables import load_table, ts_us
    from tests.conftest import SF0001
    from pyspark.sql import functions as F

    register_sql_api(spark)
    ev = load_table(spark, SF0001, "events").select(
        "event_id", "value", ts_us().alias("t")
    )
    df_keys = {r.event_id: r.hkey
               for r in hilbert_key_2d(ev, "value", "t", bits=16)
               .select("event_id", "hkey").collect()}
    rng = ev.agg(
        F.min("value").alias("xmin"), F.max("value").alias("xmax"),
        F.min("t").alias("ymin"), F.max("t").alias("ymax"),
    )
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "event_id",
        zorder_bin(F.col("value"), F.col("xmin"), F.col("xmax"), 16)
        .cast("bigint").alias("xb"),
        zorder_bin(F.col("t").cast("double"), F.col("ymin").cast("double"),
                   F.col("ymax").cast("double"), 16)
        .cast("bigint").alias("yb"),
    )
    binned.createOrReplaceTempView("__hil_bins")
    sql_keys = {r.event_id: r.hkey for r in spark.sql(
        "SELECT event_id, hgs_hilbert(xb, yb) AS hkey FROM __hil_bins"
    ).collect()}
    assert sql_keys == df_keys


# --- retrieval + drift-monitor SQL functions (round 5) -----------------------


def test_bm25_sql_pipeline_matches_operator(spark, docs_view):
    """Full BM25 from spark.sql using the hgs_bm25_idf/hgs_bm25_term
    scoring core == bm25_topk row-for-row (VERDICT r4 next-round #8):
    same ranked ids, same integer milli scores."""
    from hbase_gis_spark.operators.textstats import bm25_topk
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    docs = load_table(spark, SF0001, "documents")
    want = [
        (r.doc_id, r.score_milli, r.n_terms)
        for r in bm25_topk(
            docs, ["dup", "spark", "stream"], k=10,
            k1_milli=1200, b_milli=750,
        ).collect()
    ]
    got = [
        (r.doc_id, r.score_milli, r.n_terms)
        for r in spark.sql(
            """
            WITH proj AS (
              SELECT doc_id AS id,
                     cast(size(split(trim(text), '\\\\s+')) as bigint) AS dl,
                     filter(split(trim(text), '\\\\s+'),
                            x -> x IN ('dup', 'spark', 'stream')) AS q
              FROM docs
            ),
            stats AS (
              SELECT cast(count(*) as bigint) AS n,
                     (1000 * sum(dl)) div count(*) AS avgdl_milli
              FROM proj
            ),
            tf AS (
              SELECT id, dl, w, cast(count(*) as bigint) AS tf
              FROM (SELECT id, dl, explode(q) AS w FROM proj)
              GROUP BY id, dl, w
            ),
            idf AS (
              SELECT w, hgs_bm25_idf(cast(count(*) as bigint),
                                     min(n)) AS idf_milli
              FROM tf CROSS JOIN stats GROUP BY w
            )
            SELECT id AS doc_id,
                   sum(hgs_bm25_term(tf, dl, idf_milli, avgdl_milli,
                       1200, 750)) AS score_milli,
                   count(*) AS n_terms
            FROM tf JOIN idf USING (w) CROSS JOIN stats
            GROUP BY id
            ORDER BY score_milli DESC, doc_id ASC
            LIMIT 10
            """
        ).collect()
    ]
    assert got == want and len(want) == 10


def test_psi_sql_finishing_matches_operator(spark):
    """value_psi rebuilt from spark.sql: the operator's own (key, bin,
    n_ref, n_cur) counts finished with hgs_psi_term == the operator's
    psi column exactly, for every row including empty bins."""
    from hbase_gis_spark.operators.drift import value_psi
    from hbase_gis_spark.sources.tables import load_table

    hgs.register_sql_api(spark)
    ev = load_table(spark, SF0001, "events")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    out = value_psi(
        ev.filter(day % 2 == 0), ev.filter(day % 2 == 1),
        "event_type", "value", n_bins=10,
    )
    out.createOrReplaceTempView("psi_counts")
    rows = spark.sql(
        """
        SELECT event_type, bin, psi,
               hgs_psi_term(n_ref, n_cur,
                            sum(n_ref) OVER (PARTITION BY event_type),
                            sum(n_cur) OVER (PARTITION BY event_type),
                            10) AS psi_sql
        FROM psi_counts
        """
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.psi == r.psi_sql, (r.event_type, r.bin, r.psi, r.psi_sql)


# --- sharded-rank statement generators (VERDICT r5 #6) ----------------------


@pytest.fixture(scope="module")
def cust_view(spark):
    (
        spark.read.parquet(f"{SF0001}/customer.parquet")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        )
        .createOrReplaceTempView("cust_rank_sql")
    )
    return "cust_rank_sql"


def test_sharded_ntile_sql_matches_dataframe(spark, cust_view):
    """spark.sql(sharded_ntile_sql(...)) == rank.sharded_ntile, every
    row, and the emitted plan partitions its window by the literal
    shard id (never a partition-less global sort)."""
    from hbase_gis_spark.operators.rank import sharded_ntile

    stmt = hgs.sharded_ntile_sql(
        spark, cust_view, 10, ["cents", "c_custkey"], "decile", n_shards=8
    )
    got = {
        (r.c_custkey, r.decile) for r in spark.sql(stmt).collect()
    }
    src = spark.table(cust_view)
    want = {
        (r.c_custkey, r.decile)
        for r in sharded_ntile(
            src, 10, ["cents", "c_custkey"], "decile", n_shards=8
        ).collect()
    }
    assert got == want and len(want) > 0
    plan = spark.sql(stmt)._jdf.queryExecution().executedPlan().toString()
    assert "__shard" in plan


def test_global_percentiles_sql_matches_dataframe(spark, cust_view):
    from hbase_gis_spark.operators.rank import global_percentiles

    pcts = {"p25": (1, 4), "p50": (1, 2), "p99": (99, 100)}
    stmt = hgs.global_percentiles_sql(
        spark, cust_view, "cents", pcts, n_shards=8
    )
    got = spark.sql(stmt).head()
    want = global_percentiles(
        spark.table(cust_view), "cents", pcts, n_shards=8
    ).head()
    assert (got.p25, got.p50, got.p99) == (want.p25, want.p50, want.p99)


def test_quantile_transform_sql_matches_dataframe(spark, cust_view):
    from hbase_gis_spark.operators.rank import quantile_transform

    stmt = hgs.quantile_transform_sql(
        spark, cust_view, "cents", "c_custkey", n_shards=8
    )
    got = {(r.c_custkey, r.pct_milli) for r in spark.sql(stmt).collect()}
    want = {
        (r.c_custkey, r.pct_milli)
        for r in quantile_transform(
            spark.table(cust_view), "cents", "c_custkey", n_shards=8
        ).collect()
    }
    assert got == want and len(want) > 0
