"""Similarity search tests: exact top-k vs numpy, LSH recall."""

import numpy as np
import pytest

from hbase_gis_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
)
from hbase_gis_spark.sources.tables import load_table
from tests.conftest import SF0001


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF0001, "embeddings").cache()


def test_cosine_topk_matches_numpy(emb):
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != 0
    }
    expect = sorted(sims, key=lambda vid: (-sims[vid], vid))[:10]
    got = [r.vec_id for r in cosine_topk(emb, 0, 10).collect()]
    assert got == expect


def test_ann_ivf_recall(emb):
    """IVF (nlist=16, nprobe=6 ⇒ ~37% of rows scanned) recovers most of
    the exact top-10 on this near-isotropic data (measured 8/10 with the
    default deterministic seed); exact rerank means precision is 1 on
    whatever it returns."""
    exact = [r.vec_id for r in cosine_topk(emb, 0, 10).collect()]
    approx = [r.vec_id for r in ann_ivf_topk(emb, 0, 10).collect()]
    assert len(set(approx) & set(exact)) >= 6
    assert len(approx) <= 10


def test_ann_lsh_candidates_exact(emb):
    """LSH returns ≤k rows whose cosines are exact (re-ranked), all
    drawn from the hamming-≤2 signature bucket. Recall on isotropic
    64-dim noise is inherently weak (the per-plane flip probability for
    a 70° neighbor is 0.39 vs 0.5 random) — the recall gate lives on
    the IVF path above; here we pin the mechanics."""
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]
    approx = ann_lsh_topk(emb, 0, 10).collect()
    assert 0 < len(approx) <= 10
    for r in approx:
        v = vecs[r.vec_id]
        expect = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        assert abs(r.cosine - expect) < 1e-9


def test_ivf_stored_table_prunes_and_matches(emb, spark, tmp_path_factory):
    """write_ivf_table + ann_ivf_topk_stored: the probe filter prunes
    partitions (fewer files read) and returns the same results as the
    in-memory IVF operator."""
    from pyspark.sql import functions as F

    from hbase_gis_spark.operators.similarity import (
        ann_ivf_topk_stored,
        train_ivf_centroids,
        write_ivf_table,
    )

    path = str(tmp_path_factory.mktemp("ivf") / "emb")
    C = train_ivf_centroids(emb, nlist=16)
    write_ivf_table(emb, path, C)

    qvec = emb.filter(F.col("vec_id") == 0).head().embedding
    got = ann_ivf_topk_stored(spark, path, C, qvec, 10, exclude_id=0)

    def files_read(df):
        df.collect()
        node = df._jdf.queryExecution().executedPlan()
        while node.children().size() > 0:
            node = node.children().head()
        return node.metrics().apply("numFiles").value()

    total = files_read(spark.read.parquet(path).select("vec_id"))
    pruned = files_read(
        spark.read.parquet(path)
        .filter(F.col("ivf_cell").isin(
            [int(x) for x in range(6)]))  # any 6-cell probe set
        .select("vec_id")
    )
    assert 0 < pruned < total

    mem = ann_ivf_topk(emb, 0, 10)
    assert [r.vec_id for r in got.collect()] == [r.vec_id for r in mem.collect()]


def test_ivf_cells_hist_partitions_all_vectors(spark):
    from hbase_gis_spark.operators.similarity import (
        ivf_cells_hist,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    C = train_ivf_centroids(emb, 8, train_rows=256, seed=13)
    rows = ivf_cells_hist(emb, C).collect()
    assert sum(r["n_vecs"] for r in rows) == emb.count()
    assert all(0 <= r["cell"] < 8 for r in rows)
    assert all(r["min_vec"] <= r["max_vec"] for r in rows)


def test_quantize_int8_stats_bounds(spark):
    from pyspark.sql import functions as F
    from hbase_gis_spark.operators.similarity import quantize_int8_stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = quantize_int8_stats(emb)
    n = emb.count()
    assert out.count() == n
    # dequantization error can't exceed half a quantization step
    bad = out.filter(F.col("max_abs_err") > F.col("scale") / 2 + 1e-15)
    assert bad.count() == 0
    assert out.filter(F.col("q_l1") < 0).count() == 0


def test_quantize_int8_zero_vector(spark):
    from hbase_gis_spark.operators.similarity import quantize_int8_stats

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_int8_stats(df).collect()}
    assert out[1]["scale"] == 0.0 and out[1]["q_l1"] == 0
    assert out[1]["max_abs_err"] == 0.0
    assert out[2]["q_l1"] == 127 + 64 + 32  # round(x/ (2/127))


def test_arrow_kernels_bit_identical_to_fold_expressions(spark):
    """The fold-exact Arrow kernels must match the interpreted HOF
    fold BIT-FOR-BIT — this equality is what lets the DuckDB oracles
    stay valid after the vectorization."""
    from pyspark.sql import functions as F
    from hbase_gis_spark.operators.similarity import (
        argmax_expr,
        dots_expr,
        hyperplane_planes,
        ivf_cell_expr,
        lsh_signature,
        train_ivf_centroids,
    )
    from hbase_gis_spark.functions.arrowkernels import fold_dots, pair_cosine
    from hbase_gis_spark.operators.similarity import cosine_expr

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = hyperplane_planes(64, 12, seed=13)
    C = train_ivf_centroids(emb, 8, train_rows=256, seed=13)
    v = F.col("embedding")
    # the HOF reference: fold dots, then the same sign bits / argmax
    ref_sig = sum(
        F.shiftleft((F.element_at(dots_expr(v, planes), i + 1) >= 0)
                    .cast("bigint"), i)
        for i in range(len(planes))
    )
    both = emb.select(
        "vec_id",
        (fold_dots(v, planes) == dots_expr(v, planes)).alias("pe"),
        (fold_dots(v, C) == dots_expr(v, C)).alias("de"),
        lsh_signature(v, planes).alias("sa"),
        ref_sig.alias("se"),
        ivf_cell_expr(v, C).alias("ca"),
        argmax_expr(dots_expr(v, C)).alias("ce"),
    )
    assert both.count() > 0
    assert both.filter("NOT pe OR NOT de OR sa != se OR ca != ce").count() == 0
    # pair cosine vs expression cosine on a self-join sample
    a = emb.limit(20).select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    )
    b = emb.limit(20).select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
    )
    pairs = a.crossJoin(b).filter("ia < ib")
    diff = pairs.select(
        (pair_cosine("va", "vb") == cosine_expr(F.col("va"), F.col("vb"))).alias("eq")
    )
    assert diff.filter("NOT eq").count() == 0


def test_cosine_topk_multi_matches_single(spark):
    from hbase_gis_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_multi,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    multi = cosine_topk_multi(emb, [7, 42], k=5)
    for qid in (7, 42):
        single = [
            (r.vec_id, r.cosine) for r in cosine_topk(emb, qid, 5).collect()
        ]
        batched = [
            (r.vec_id, r.cosine)
            for r in sorted(
                (x for x in multi.collect() if x.query_id == qid),
                key=lambda r: r.rnk,
            )
        ]
        assert batched == single


def test_ann_range_search_matches_bruteforce(spark):
    """Range search == brute-force cosine filter, and agrees with
    cosine_topk on the overlapping prefix."""
    import math

    from hbase_gis_spark.operators.similarity import ann_range_search, cosine_topk
    from hbase_gis_spark.sources.tables import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    rows = {r.vec_id: r.embedding for r in emb.collect()}
    q = rows[0]

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return d / (na * nb)

    t = 0.3  # synthetic embeddings are near-orthogonal; 0.3 is non-vacuous
    expect = {i for i, v in rows.items() if i != 0 and cos(v, q) >= t}
    got = {r.vec_id for r in ann_range_search(emb, 0, t).collect()}
    assert got == expect and len(got) > 0
    # every top-k hit above the threshold is in the range result
    topk = cosine_topk(emb, 0, 10).collect()
    assert {r.vec_id for r in topk if r.cosine >= t} <= got


def test_embedding_norm_stats_bounds(spark):
    """Per-label norm stats: n sums to table size, min <= avg <= max,
    and values match a numpy recomputation."""
    import numpy as np

    from hbase_gis_spark.operators.similarity import embedding_norm_stats
    from hbase_gis_spark.sources.tables import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    got = {r.label: r for r in embedding_norm_stats(emb).collect()}
    assert sum(r.n for r in got.values()) == emb.count()
    by_label = {}
    for r in emb.collect():
        by_label.setdefault(r.label, []).append(
            float(np.linalg.norm(np.array(r.embedding, dtype=np.float64)))
        )
    for lbl, r in got.items():
        ns = by_label[lbl]
        assert r.n == len(ns)
        assert abs(r.min_norm - min(ns)) < 1e-9
        assert abs(r.max_norm - max(ns)) < 1e-9
        assert r.min_norm <= r.avg_norm <= r.max_norm
        assert abs(r.avg_norm - sum(ns) / len(ns)) < 1e-6


def test_semdedup_matches_bruteforce(emb):
    """semdedup's kept flag equals the brute-force definition: dropped
    iff a lower-id vector in the SAME IVF cell has cosine >= T."""
    from hbase_gis_spark.operators.similarity import (
        ivf_cell_expr,
        semdedup,
        train_ivf_centroids,
    )

    T = 0.35
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    C = train_ivf_centroids(emb, 16)
    cells = {
        vid: int(np.argmax(C @ (v / np.linalg.norm(v))))
        for vid, v in vecs.items()
    }
    expect_dropped = set()
    for vid, v in vecs.items():
        for wid, w in vecs.items():
            if wid < vid and cells[wid] == cells[vid]:
                cos = float(
                    v @ w / (np.linalg.norm(v) * np.linalg.norm(w))
                )
                if cos >= T:
                    expect_dropped.add(vid)
                    break
    out = semdedup(emb, T, nlist=16).collect()
    assert len(out) == len(rows)
    got_dropped = {r.vec_id for r in out if not r.kept}
    assert got_dropped == expect_dropped
    assert 0 < len(got_dropped) < len(rows)
    got_cells = {r.vec_id: r.cell for r in out}
    assert got_cells == cells
    # the lowest id of every cell always survives
    by_cell = {}
    for vid, c in cells.items():
        by_cell.setdefault(c, []).append(vid)
    for c, ids in by_cell.items():
        assert min(ids) not in got_dropped


def test_pq_adc_matches_numpy_replay(emb):
    """PQ codes and ADC scores equal a numpy replay of the same
    codebooks (sequential-fold dots, first-index argmax), and the
    shortlist has nonzero overlap with the exact top-k."""
    from hbase_gis_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    m, ksub, dim = 4, 16, 64
    dsub = dim // m
    books = train_pq_codebooks(emb, m, ksub, dim)
    q = vecs[0]
    luts = []
    for i, C in enumerate(books):
        qs = q[i * dsub : (i + 1) * dsub]
        acc = np.zeros(ksub)
        for j in range(dsub):
            acc += qs[j] * C[:, j]
        luts.append(acc)
    scores = {}
    for vid, v in vecs.items():
        if vid == 0:
            continue
        s = 0.0
        for i, C in enumerate(books):
            sub = v[i * dsub : (i + 1) * dsub]
            acc = np.zeros(ksub)
            for j in range(dsub):
                acc += sub[j] * C[:, j]
            adj = acc - 0.5 * (C * C).sum(1)
            code = int(np.argmax(adj))
            s = s + float(luts[i][code])
        scores[vid] = s
    expect = sorted(scores, key=lambda vid: (-scores[vid], vid))[:10]
    got = pq_adc_topk(emb, 0, 10, m=m, ksub=ksub, dim=dim).collect()
    assert [r.vec_id for r in got] == expect
    for r in got:
        assert abs(r.adc_score - scores[r.vec_id]) < 1e-12
    exact = [r.vec_id for r in cosine_topk(emb, 0, 10).collect()]
    assert len(set(expect) & set(exact)) >= 1


def test_ann_ivfpq_matches_numpy_replay(emb):
    """IVF-PQ equals the composed numpy replay: restrict to the probed
    IVF cells, then rank by the same ADC scores as the PQ test."""
    from hbase_gis_spark.operators.similarity import (
        ann_ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    m, ksub, dim, nlist, nprobe = 4, 16, 64, 16, 6
    dsub = dim // m
    C = train_ivf_centroids(emb, nlist)
    books = train_pq_codebooks(emb, m, ksub, dim)
    q = vecs[0]
    qn = q / np.linalg.norm(q)
    probes = set(int(j) for j in np.argsort(-(C @ qn))[:nprobe])
    luts = []
    for i, Cb in enumerate(books):
        qs = q[i * dsub : (i + 1) * dsub]
        acc = np.zeros(ksub)
        for j in range(dsub):
            acc += qs[j] * Cb[:, j]
        luts.append(acc)
    scores = {}
    for vid, v in vecs.items():
        if vid == 0:
            continue
        if int(np.argmax(C @ (v / np.linalg.norm(v)))) not in probes:
            continue
        s = 0.0
        for i, Cb in enumerate(books):
            sub = v[i * dsub : (i + 1) * dsub]
            acc = np.zeros(ksub)
            for j in range(dsub):
                acc += sub[j] * Cb[:, j]
            adj = acc - 0.5 * (Cb * Cb).sum(1)
            s = s + float(luts[i][int(np.argmax(adj))])
        scores[vid] = s
    expect = sorted(scores, key=lambda vid: (-scores[vid], vid))[:10]
    got = ann_ivfpq_topk(emb, 0, 10).collect()
    assert [r.vec_id for r in got] == expect


def test_ivfpq_stored_prunes_and_matches(emb, spark, tmp_path_factory):
    """The persisted IVF-PQ layout returns the same top-k as the
    inline operator, its scan reads only the probed cell directories
    (PartitionFilters on ivf_cell), and the pure-index table
    (keep_vectors=False) projects only id + code columns."""
    from hbase_gis_spark.operators.similarity import (
        ann_ivfpq_topk,
        ann_ivfpq_topk_stored,
        train_ivf_centroids,
        train_pq_codebooks,
        write_ivfpq_table,
    )

    C = train_ivf_centroids(emb, 16)
    books = train_pq_codebooks(emb, 4, 16, 64)
    path = str(tmp_path_factory.mktemp("ivfpq") / "emb_ivfpq")
    write_ivfpq_table(emb, path, C, books, keep_vectors=False)

    q = emb.filter("vec_id = 0").select("embedding").head()[0]
    stored = ann_ivfpq_topk_stored(
        spark, path, C, books, q, 10, exclude_id=0
    )
    inline = ann_ivfpq_topk(emb, 0, 10)
    got_s = [(r.vec_id, r.adc_score) for r in stored.collect()]
    got_i = [(r.vec_id, r.adc_score) for r in inline.collect()]
    assert got_s == got_i

    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ivf_cell" in plan
    # raw vectors are gone from the table, so the scan cannot read them
    assert "embedding" not in spark.read.parquet(path).columns


def test_ann_ivf_multi_matches_single(emb):
    """Batched IVF returns exactly the single-query IVF result for
    each query id, and the recall report's overlap counts match a
    direct set comparison."""
    from hbase_gis_spark.operators.similarity import (
        ann_ivf_topk,
        ann_ivf_topk_multi,
        ann_recall_report,
        cosine_topk,
    )

    ids = [0, 7, 42]
    multi = ann_ivf_topk_multi(emb, ids, 10)
    got = {}
    for r in multi.collect():
        got.setdefault(r.query_id, []).append((r.rnk, r.vec_id, r.cosine))
    for qid in ids:
        single = [
            (i + 1, r.vec_id, r.cosine)
            for i, r in enumerate(ann_ivf_topk(emb, qid, 10).collect())
        ]
        assert sorted(got[qid]) == single
    report = {
        r.query_id: (r.n_exact, r.n_ivf, r.n_overlap)
        for r in ann_recall_report(emb, ids, 10).collect()
    }
    for qid in ids:
        exact = {r.vec_id for r in cosine_topk(emb, qid, 10).collect()}
        approx = {v for _, v, _ in got[qid]}
        assert report[qid] == (
            len(exact),
            len(approx),
            len(exact & approx),
        )


def test_ivf_append_equals_rebuild(emb, spark, tmp_path_factory):
    """Steady-state ingest: write a base IVF table, append a second
    batch with the SAME frozen centroids, and the stored query over
    the appended layout returns exactly the stored query over a
    one-shot build of the full table."""
    from hbase_gis_spark.operators.similarity import (
        ann_ivf_topk_stored,
        append_ivf_table,
        train_ivf_centroids,
        write_ivf_table,
    )

    C = train_ivf_centroids(emb, 16)
    base = emb.filter("vec_id % 2 = 0")
    batch = emb.filter("vec_id % 2 = 1")
    p_app = str(tmp_path_factory.mktemp("ivfapp") / "appended")
    p_full = str(tmp_path_factory.mktemp("ivfapp") / "full")
    write_ivf_table(base, p_app, C)
    append_ivf_table(batch, p_app, C)
    write_ivf_table(emb, p_full, C)

    q = emb.filter("vec_id = 0").select("embedding").head()[0]
    a = [
        (r.vec_id, r.cosine)
        for r in ann_ivf_topk_stored(
            spark, p_app, C, q, 10, exclude_id=0
        ).collect()
    ]
    b = [
        (r.vec_id, r.cosine)
        for r in ann_ivf_topk_stored(
            spark, p_full, C, q, 10, exclude_id=0
        ).collect()
    ]
    assert a == b and len(a) == 10


def test_ann_hamming_matches_numpy(emb):
    """Binary signatures pack the 64 sign bits exactly (numpy replay)
    and the top-k is the true Hamming top-k with id tie-break."""
    from hbase_gis_spark.operators.similarity import ann_hamming_topk

    rows = emb.collect()
    sigs = {}
    for r in rows:
        bits = [1 if x > 0 else 0 for x in r.embedding]
        sigs[r.vec_id] = (
            sum(b << i for i, b in enumerate(bits[:32])),
            sum(b << i for i, b in enumerate(bits[32:])),
        )
    qlo, qhi = sigs[0]
    ham = {
        vid: bin(lo ^ qlo).count("1") + bin(hi ^ qhi).count("1")
        for vid, (lo, hi) in sigs.items()
        if vid != 0
    }
    expect = sorted(ham, key=lambda v: (ham[v], v))[:10]
    got = ann_hamming_topk(emb, 0, 10).collect()
    assert [r.vec_id for r in got] == expect
    assert [r.hamming for r in got] == [ham[v] for v in expect]


def test_ann_hamming_plan_is_topk_scan(emb):
    """The Hamming tier must stay a TakeOrderedAndProject scan with no
    Python stage — popcount/xor are JVM intrinsics."""
    from hbase_gis_spark.operators.similarity import ann_hamming_topk

    plan = ann_hamming_topk(emb, 0, 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_ann_hamming_rerank_funnel(emb):
    """The rerank stage returns exact cosines (vs numpy) drawn only
    from the Hamming-tier candidate set, ordered by cosine."""
    import numpy as np

    from hbase_gis_spark.operators.similarity import (
        ann_hamming_rerank_topk,
        ann_hamming_topk,
    )

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]
    cand = {r.vec_id for r in ann_hamming_topk(emb, 0, 50).collect()}
    got = ann_hamming_rerank_topk(emb, 0, 10, overfetch=5).collect()
    assert len(got) == 10
    cosines = [r.cosine for r in got]
    assert cosines == sorted(cosines, reverse=True)
    for r in got:
        assert r.vec_id in cand
        v = vecs[r.vec_id]
        expect = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        assert abs(r.cosine - expect) < 1e-12


def test_pca_project_matches_numpy_replay(emb):
    """Projection equals the numpy replay exactly: same bounded
    training sample, same eigh + sign convention, dots accumulated
    dim-sequentially."""
    import numpy as np

    from hbase_gis_spark.operators.similarity import pca_project, train_pca

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    mu, comps = train_pca(emb, d=4)
    got = {r.vec_id: r for r in pca_project(emb, d=4).collect()}
    # variance ordering: pc1 explains the most
    P = np.stack([[got[i][f"pc{j+1}"] for j in range(4)] for i in ids[order]])
    var = P.var(axis=0)
    assert var[0] >= var[1] >= var[2] >= var[3]
    for i, vid in enumerate(ids):
        acc = np.zeros(4)
        for j in range(4):
            s = 0.0
            for x, c in zip(V[i], comps[j]):
                s += float(x) * float(c)
            o = 0.0
            for x, c in zip(mu, comps[j]):
                o += float(x) * float(c)
            acc[j] = s - o
        for j in range(4):
            assert got[vid][f"pc{j+1}"] == acc[j]


def test_pca_projection_plan_is_map_only(emb):
    """No join, no exchange: components fold in as literals; the only
    non-codegen stage is the Arrow dot kernel."""
    from hbase_gis_spark.operators.similarity import pca_project

    plan = pca_project(emb, d=4)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_hamming_stored_sidecar_matches_inline(emb, spark, tmp_path_factory):
    """The stored signature sidecar returns exactly the inline
    ann_hamming_topk result, and its scan reads ONLY the three
    signature columns (no vector bytes at serving time)."""
    from hbase_gis_spark.operators.similarity import (
        ann_hamming_topk,
        ann_hamming_topk_stored,
        binary_signature_exprs,
        write_signature_table,
    )
    import pyspark.sql.functions as F

    path = str(tmp_path_factory.mktemp("sigs") / "t")
    write_signature_table(emb, path)
    q = emb.select(
        F.col("vec_id"), *binary_signature_exprs(F.col("embedding"))
    ).filter(F.col("vec_id") == 0).collect()[0]
    got = ann_hamming_topk_stored(spark, path, (q[1], q[2]), 0, 10)
    inline = ann_hamming_topk(emb, 0, 10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in inline.collect()
    ]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) == {"vec_id", "sig_lo", "sig_hi"}


def test_hamming_funnel_recall_floor(emb):
    """Recall of the Hamming→cosine funnel vs exact top-10, pinned at
    conservative floors on this worst-case (isotropic noise) corpus:
    measured 5-8/10 at overfetch 5 and 8/10 at overfetch 10 across
    query ids {0, 7, 42}. More over-fetch must never reduce recall."""
    from hbase_gis_spark.operators.similarity import (
        ann_hamming_rerank_topk,
        cosine_topk,
    )

    for qid in (0, 7, 42):
        exact = {r.vec_id for r in cosine_topk(emb, qid, 10).collect()}
        r5 = {
            r.vec_id
            for r in ann_hamming_rerank_topk(emb, qid, 10, overfetch=5).collect()
        }
        r10 = {
            r.vec_id
            for r in ann_hamming_rerank_topk(
                emb, qid, 10, overfetch=10
            ).collect()
        }
        assert len(r5 & exact) >= 3
        assert len(r10 & exact) >= 5
        assert len(r10 & exact) >= len(r5 & exact)


def test_cosine_topk_filtered_prefilter_semantics(spark):
    """Filtered search is a PRE-filter: k results whenever k candidates
    satisfy the predicate, every result satisfies it, and the scores
    equal the unfiltered operator's for the same ids (same kernel)."""
    from pyspark.sql import functions as F

    from hbase_gis_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_filtered,
    )
    from hbase_gis_spark.sources.tables import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    label = emb.filter("vec_id = 7").select("label").first()[0]
    got = cosine_topk_filtered(
        emb, 7, 5, F.col("label") == label
    ).collect()
    assert len(got) == 5
    labels = {
        r.vec_id: r.label
        for r in emb.select("vec_id", "label").collect()
    }
    assert all(labels[r.vec_id] == label for r in got)
    # post-filtering plain top-5 would come back short here
    plain = cosine_topk(emb, 7, 5).collect()
    assert sum(1 for r in plain if labels[r.vec_id] == label) < 5
    # same kernel: scores agree with the unfiltered ranking's values
    full = {r.vec_id: r.cosine for r in cosine_topk(emb, 7, 500).collect()}
    assert all(full[r.vec_id] == r.cosine for r in got)


def test_mrl_truncation_report_hand_vectors(spark):
    from hbase_gis_spark.operators.similarity import mrl_truncation_report

    # v1: all energy in the first 2 dims -> ratio 1.0 at every k >= 2
    # v2: uniform energy -> ratio sqrt(k/4)
    rows = [
        (1, [3.0, 4.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.k_dim: r for r in
           mrl_truncation_report(df, dims=(1, 2, 4)).collect()}
    # k=4: both exactly 1000
    assert (got[4].mean_cos_milli, got[4].min_cos_milli) == (1000, 1000)
    # k=2: v1 = 1000, v2 = round(sqrt(2/4)*1000) = 707
    assert got[2].min_cos_milli == 707
    assert got[2].mean_cos_milli == (1000 + 707) // 2
    # k=1: v1 = 3/5 -> 600, v2 = 500
    assert got[1].min_cos_milli == 500
    assert got[1].mean_cos_milli == (600 + 500) // 2
    assert all(r.n_vecs == 2 for r in got.values())


def test_ivf_reassign_report_hand_centroids(spark):
    """Frozen quantizer {x-axis, y-axis}; retrained quantizer rotated
    45 degrees — vectors near the diagonal MOVE, axis-aligned ones
    stay split deterministically by the argmax tiebreak. The Arrow
    kernel's report equals the one built from the HOF fold's cells."""
    from pyspark.sql import functions as F
    from hbase_gis_spark.operators.similarity import (
        argmax_expr,
        dots_expr,
        ivf_reassign_report,
    )

    frozen = np.array([[1.0, 0.0], [0.0, 1.0]])
    s = 1 / np.sqrt(2.0)
    retrained = np.array([[s, s], [s, -s]])
    stored = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.1, 1.0]), (3, [0.9, 0.8])],
        "vec_id bigint, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(4, [0.05, 1.2]), (5, [1.2, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r.cell: (r.n_stored, r.n_batch, r.n_total, r.n_moved, r.move_milli)
        for r in ivf_reassign_report(
            stored, batch, frozen, retrained
        ).collect()
    }
    # frozen cell 0 (x-dominant): ids 1, 3, 5. retrained cells: all
    # land in cell 0 ([s,s] wins for non-negative x~y and 1-heavy
    # vectors) -> moved 0. frozen cell 1 (y-dominant): ids 2, 4 ->
    # retrained cell 0 too (y-heavy vectors dot [s,s] > [s,-s]) ->
    # both MOVE (cell 1 -> 0).
    assert got == {0: (2, 1, 3, 0, 0), 1: (1, 1, 2, 2, 1000)}
    # the same report from the HOF reference cells
    ref = {}
    for is_batch, part in ((0, stored), (1, batch)):
        for r in part.select(
            argmax_expr(dots_expr(F.col("embedding"), frozen)).alias("c"),
            argmax_expr(dots_expr(F.col("embedding"), retrained)).alias("n"),
        ).collect():
            st, bt, tot, mv = ref.get(r.c, (0, 0, 0, 0))
            ref[r.c] = (st + (1 - is_batch), bt + is_batch, tot + 1,
                        mv + (r.n != r.c))
    assert got == {
        c: (st, bt, tot, mv, 1000 * mv // tot)
        for c, (st, bt, tot, mv) in ref.items()
    }


def test_ivf_reassign_delta_changed_rows_and_bucketed_plan(spark):
    """Delta = exactly the rows whose retrained cell differs from the
    catalog cell; with catalog and vectors as co-bucketed tables the
    join plans Exchange-free (the dedup_incremental catalog
    discipline applied to the stored-ANN arc)."""
    from hbase_gis_spark.operators.similarity import (
        ivf_cell_expr,
        ivf_reassign_delta,
        train_ivf_centroids,
    )
    from hbase_gis_spark.sources.bucketed import write_bucketed_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF0001, "embeddings").select(
        "vec_id", "embedding"
    )
    frozen = train_ivf_centroids(
        emb.filter(F.col("vec_id") % 5 != 0), 16, train_rows=4096, seed=13
    )
    retrained = train_ivf_centroids(emb, 16, train_rows=4096, seed=13)
    catalog = emb.select(
        "vec_id", ivf_cell_expr(F.col("embedding"), frozen).alias("ivf_cell")
    )
    # expected delta from a plain (non-bucketed) computation
    expect = {
        (r.vec_id, r.old_cell, r.new_cell)
        for r in ivf_reassign_delta(catalog, emb, retrained).collect()
    }
    assert expect  # the retrain moves SOMETHING on this data
    write_bucketed_table(catalog, "bk_ivf_catalog", "vec_id", 8)
    write_bucketed_table(emb, "bk_ivf_vectors", "vec_id", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        delta = ivf_reassign_delta(
            spark.table("bk_ivf_catalog"),
            spark.table("bk_ivf_vectors"),
            retrained,
        )
        plan = delta._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        got = {
            (r.vec_id, r.old_cell, r.new_cell) for r in delta.collect()
        }
        assert got == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_ivf_catalog")
        spark.sql("DROP TABLE IF EXISTS bk_ivf_vectors")


def test_ivf_nprobe_recall_curve_monotone_and_complete(emb):
    """recall@nprobe is monotone non-decreasing by construction and
    reaches exactly k hits at nprobe = nlist (every cell probed);
    the curve must also agree pointwise with ann_ivf_topk's recall
    at the family's default nprobe."""
    from hbase_gis_spark.operators.similarity import (
        ivf_nprobe_recall_curve,
        train_ivf_centroids,
    )

    C = train_ivf_centroids(emb, 16, train_rows=4096, seed=13)
    rows = {
        r.nprobe: (r.n_hits, r.recall_milli)
        for r in ivf_nprobe_recall_curve(emb, 0, 10, C).collect()
    }
    assert set(rows) == set(range(1, 17))
    hits = [rows[i][0] for i in range(1, 17)]
    assert hits == sorted(hits)
    assert rows[16] == (10, 1000)
    # cross-check against the probe-based retrieval at nprobe=6
    exact = {r.vec_id for r in cosine_topk(emb, 0, 10).collect()}
    approx = {r.vec_id for r in ann_ivf_topk(emb, 0, 10).collect()}
    assert rows[6][0] == len(exact & approx)
    # a missing query id is the shared lookup's clear error
    with pytest.raises(ValueError, match="not found"):
        ivf_nprobe_recall_curve(emb, -1, 10, C)
