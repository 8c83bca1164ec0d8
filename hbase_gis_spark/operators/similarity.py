"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (a single scan +
TakeOrderedAndProject — fully parallel, no shuffle of non-winners).
Two scale paths:

- **IVF** (inverted-file index): a driver-trained spherical-k-means
  coarse quantizer assigns every vector to one of ``nlist`` cells; a
  query probes only the ``nprobe`` nearest cells and exactly re-ranks.
  At scale the cell id is a stored partition column → partition
  pruning; scan cost drops to ~nprobe/nlist of the table.
- **Hyperplane LSH**: sign-bit signatures bucket vectors; multiprobe
  by signature hamming distance. Weaker on near-isotropic data (the
  per-plane flip probability for a 70° neighbor is 0.39 vs 0.5 for a
  random vector), kept for its O(1) signature storage.

All cosine arithmetic is double-precision JVM HOFs (zip_with +
aggregate, sequential fold) — written to be bit-reproducible in DuckDB
oracle SQL (list_transform + list_sum over the same op order).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_gis_spark.functions import sqlkernels as K
from hbase_gis_spark.geo import sqlrender as R
from hbase_gis_spark.operators.topx import top_x


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two float arrays."""
    return F.expr(K.dot_sql(K.operand(a), K.operand(b)))


def norm_expr(a: Column) -> Column:
    return F.expr(K.norm_sql(K.operand(a)))


def cosine_expr(a: Column, b: Column) -> Column:
    return F.expr(K.cosine_sql(K.operand(a), K.operand(b)))


def dots_expr(vec_col: Column, M) -> Column:
    """Array of :func:`dot_expr` folds of the vector against each row
    of ``M`` (literal arrays) — the codegen twin of the Arrow kernel
    ``fold_dots``, bit-identical to it (pinned in
    tests/test_similarity.py)."""
    v = K.operand(vec_col)
    dots = (
        K.dot_sql(v, "array(" + ", ".join(R.lit(x) for x in m) + ")")
        for m in M
    )
    return F.expr("array(" + ", ".join(dots) + ")")


def argmax_expr(dots: Column) -> Column:
    """0-based index of the first maximum of a dot array
    (array_position of array_max)."""
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _query_vector(
    df: DataFrame, query_id: int, id_col: str, vec_col: str
) -> np.ndarray:
    """The float64 vector of row ``query_id``, fetched to the driver."""
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"query_id {query_id} not found")
    return np.asarray(qrow[0], dtype=np.float64)


def _probe_cells(
    centroids: np.ndarray, q: np.ndarray, nprobe: int | None = None
) -> list[int]:
    """IVF cells by descending centroid dot with the unit query — the
    first ``nprobe`` of them (all when None)."""
    qn = q / np.linalg.norm(q)
    return [int(j) for j in np.argsort(-(centroids @ qn))[:nprobe]]


def _pq_luts(q: np.ndarray, codebooks, dsub: int) -> list[list[float]]:
    """ADC lookup tables: per subspace, the dot of the query's
    sub-vector with every codeword, folded dim-sequentially (the
    ``fold_dots`` accumulation order)."""
    luts = []
    for i, Cb in enumerate(codebooks):
        qs = q[i * dsub : (i + 1) * dsub]
        acc = np.zeros(len(Cb))
        for j in range(dsub):
            acc += qs[j] * Cb[:, j]
        luts.append([float(v) for v in acc])
    return luts


def _adc_score(luts: list[list[float]], code_cols: list[str]) -> Column:
    """ADC score: the sum, left to right, of one literal-array lookup
    per subspace (``luts[i]`` at code ``code_cols[i]``)."""
    from functools import reduce

    return reduce(
        lambda acc, t: acc + t,
        [
            F.element_at(F.array(*[F.lit(v) for v in lut]), F.col(c) + 1)
            for lut, c in zip(luts, code_cols)
        ],
    )


def _cosine_topk_vs(
    df: DataFrame,
    cands: DataFrame,
    query_id: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-k rows of ``cands`` by cosine against the vector of row
    ``query_id`` in ``df``: the 1-row query side is broadcast (no
    shuffle); ranking is orderBy(desc).limit(k) → per-partition heap
    + merge."""
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv")
    )
    return (
        cands.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            pair_cosine(F.col(vec_col), F.col("__qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk(
    df: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of the vector with ``query_id``
    (a broadcast 1-row query side, TakeOrderedAndProject)."""
    return _cosine_topk_vs(
        df, df.filter(F.col(id_col) != query_id), query_id, k, id_col, vec_col
    )


def kmeans_centroids(
    V: np.ndarray, nlist: int, iters: int = 15, seed: int = 13
) -> np.ndarray:
    """Deterministic spherical k-means on an in-memory sample.

    Pure numpy so the DuckDB correctness oracle can reproduce the
    exact same centroids from the same sample rows (bit-identical:
    same rng seed, same float64 ops)."""
    V = np.asarray(V, dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    C = V[rng.choice(len(V), nlist, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(V @ C.T, axis=1)
        for j in range(nlist):
            m = assign == j
            if m.sum():
                C[j] = V[m].mean(0)
                C[j] /= np.linalg.norm(C[j])
    return C


def train_ivf_centroids(
    df: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 4096,
    iters: int = 15,
    seed: int = 13,
) -> np.ndarray:
    """Spherical k-means coarse quantizer, trained driver-side on a
    bounded deterministic sample (first ``train_rows`` by id).

    Training cost is O(train_rows · nlist · dim) on the driver and does
    NOT grow with table size — the 100 TB path trains on the same-sized
    sample and only the assignment scan is distributed."""
    rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(train_rows)
        .select(vec_col)
        .collect()
    )
    V = np.array([r[0] for r in rows], dtype=np.float64)
    return kmeans_centroids(V, nlist, iters=iters, seed=seed)


def ivf_cell_expr(vec_col: Column, centroids: np.ndarray) -> Column:
    """0-based index of the max-dot-product centroid (array of dots →
    array_position of array_max). Cosine argmax == dot argmax because
    centroids are unit-norm and the vector's own norm is a positive
    constant across cells. Dots come from the fold-exact Arrow kernel
    (bit-identical to the :func:`dots_expr` fold)."""
    return argmax_expr(fold_dots(vec_col, centroids))


def ann_ivf_topk(
    df: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 6,
    train_rows: int = 4096,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k via IVF: scan only the ``nprobe`` cells whose
    centroids are nearest the query vector, exact cosine re-rank inside
    them. Candidate generation is a single pushable ``isin`` filter —
    with the cell id persisted as a partition column it prunes
    directories, the Spark analog of probing an inverted list."""
    C = train_ivf_centroids(
        df, nlist, id_col, vec_col, train_rows=train_rows, seed=seed
    )
    q = _query_vector(df, query_id, id_col, vec_col)
    probes = _probe_cells(C, q, nprobe)
    cands = (
        df.filter(F.col(id_col) != query_id)
        .withColumn("__cell", ivf_cell_expr(F.col(vec_col), C))
        .filter(F.col("__cell").isin(probes))
    )
    return _cosine_topk_vs(df, cands, query_id, k, id_col, vec_col)


def write_ivf_table(
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist an embedding table partitioned by its IVF cell id — the
    inverted-file index as a directory layout. ANN probes then read
    only ``nprobe`` directories (partition pruning), the Spark analog
    of probing inverted lists. Cell assignment runs the pure-JVM
    argmax expression at write time; reads see a plain int column."""
    (
        df.withColumn("ivf_cell", ivf_cell_expr(F.col(vec_col), centroids))
        .repartition("ivf_cell")
        .write.mode(mode)
        .partitionBy("ivf_cell")
        .parquet(path)
    )


def ann_ivf_topk_stored(
    spark,
    path: str,
    centroids: np.ndarray,
    query_vec: "np.ndarray | list[float]",
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 6,
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k against a :func:`write_ivf_table` layout: the
    ``ivf_cell IN (...)`` predicate is evaluated against partition
    VALUES, so non-probed directories are never opened."""
    q = np.asarray(query_vec, dtype=np.float64)
    probes = _probe_cells(centroids, q, nprobe)
    df = spark.read.parquet(path).filter(F.col("ivf_cell").isin(probes))
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return (
        df.select(
            F.col(id_col),
            pair_cosine(F.col(vec_col), qcol).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplane_planes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-bit LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = (vec · plane_i) >= 0. Packed bigint.

    The plane dots come from the fold-exact Arrow kernel (bit-identical
    to the interpreted :func:`dots_expr` fold — see
    functions/arrowkernels.py)."""
    dots = fold_dots(vec_col, planes)
    terms = [
        F.shiftleft((F.element_at(dots, i + 1) >= 0).cast("bigint"), i)
        for i in range(len(planes))
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def derive_band_bits(
    n: int, n_planes: int = 64, target_bucket: int = 64
) -> int:
    """Derive the banded-LSH band width from corpus size: pick
    ``band_bits`` so the CHANCE bucket holds ~``target_bucket``
    vectors, i.e. ``2^band_bits ≈ n / target_bucket`` — the measured
    deployment rule from benchdata/lsh_density_tuning.json (band_bits
    must grow with n; ``max_bucket`` is the degenerate-hot-key guard,
    NOT the density knob — a sub-chance cap zeroes the output).

    The ideal width ``log2(n / target_bucket)`` is rounded to the
    nearest DIVISOR of ``n_planes`` (bands must tile the signature
    exactly), clamped to [1, n_planes]. Ties resolve to the wider
    band: over-pruning degrades recall gracefully (more bands still
    fire) while under-pruning degrades memory quadratically
    (Σ bucket² per band)."""
    import math

    if n_planes < 1:
        raise ValueError("n_planes must be >= 1")
    ideal = math.log2(max(float(n) / float(target_bucket), 2.0))
    divisors = [d for d in range(1, n_planes + 1) if n_planes % d == 0]
    return min(divisors, key=lambda d: (abs(d - ideal), -d))


def ann_lsh_topk(
    df: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    max_hamming: int = 2,
    dim: int = 64,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k: candidates = vectors whose sign signature is
    within ``max_hamming`` bits of the query's, exactly re-ranked by
    cosine. At scale the signature is a stored/bucketed column and the
    candidate filter becomes partition pruning."""
    planes = hyperplane_planes(dim, n_planes, seed)
    sigged = df.withColumn("__sig", lsh_signature(F.col(vec_col), planes))
    q = sigged.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"), F.col("__sig").alias("__qsig")
    )
    return (
        sigged.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .filter(
            F.bit_count(F.col("__sig").bitwiseXOR(F.col("__qsig"))) <= max_hamming
        )
        .select(
            F.col(id_col),
            pair_cosine(F.col(vec_col), F.col("__qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_cells_hist(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Occupancy histogram of the IVF coarse quantizer: one row per
    cell with vector count and id range. The operational health check
    of an IVF layout — a skewed histogram means probes do uneven work
    and the partition-pruned storage (write_ivf_table) is unbalanced.

    One scan (cell assignment is a pure JVM expression) + one tiny
    aggregate (``nlist`` rows). Integer-only outputs so the DuckDB
    oracle matches bit-exactly."""
    cell = ivf_cell_expr(F.col(vec_col), centroids)
    return (
        df.select(F.col(id_col), cell.alias("cell"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min(id_col).alias("min_vec"),
            F.max(id_col).alias("max_vec"),
        )
    )


def label_purity(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cluster-quality audit: per IVF cell, the vector count, distinct
    label count, and the majority label with its count — the
    integer-exact purity numerator (purity = top_n / n_vecs, left as a
    ratio of surfaced integers so the result is engine-exact).

    Plan: one scan (cell assignment is the same pure JVM expression as
    the stored layout) + a (cell,label) hash aggregate whose output is
    at most nlist x |labels| rows; the majority pick is a rank window
    over that tiny aggregate, never over raw vectors."""
    cell = ivf_cell_expr(F.col(vec_col), centroids)
    per = (
        df.select(cell.alias("cell"), F.col(label_col).alias("lbl"))
        .groupBy("cell", "lbl")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = top_x(per, "cell", F.col("n").desc(), 1, tiebreak_col="lbl").select(
        "cell", F.col("lbl").alias("top_label"), F.col("n").alias("top_n")
    )
    tot = per.groupBy("cell").agg(
        F.sum("n").alias("n_vecs"), F.count(F.lit(1)).alias("n_labels")
    )
    return tot.join(top, "cell")


def mrl_truncation_report(
    df: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32, 64),
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL) truncation audit: for each candidate truncated
    dimension k, how much of each vector's direction the k-dim prefix
    retains. Because the truncated vector IS the prefix (zero-extended),
    cosine(full, prefix) collapses to ``|prefix| / |full|`` — the
    retained-energy ratio — so the audit needs only per-row norms, no
    pairs. This is the measurement behind choosing a cheap retrieval
    dimension (Kusupati et al. 2022): pick the smallest k whose
    retained cosine clears the quality bar, then run the ANN funnel at
    k dims and rerank at full width.

    Output per k: (k_dim, n_vecs, mean_cos_milli, min_cos_milli) —
    per-row cosines are rounded to integer millis BEFORE aggregation,
    so sums and mins are exact integers on both engines (the
    summation-order discipline: never aggregate raw doubles across
    rows).

    Scale shape: map-only per-row folds (one staged vector projection,
    prefix sums via sequential HOF folds), a 4-entry explode, one
    |dims|-row hash aggregate. Zero-norm embeddings are dropped before
    the ratio (0/0 is NaN — Spark would round-cast it to 0, DuckDB
    would raise; the sibling ops' NaN-filter discipline, ADVICE r4)."""
    staged = df.select(F.col(vec_col).alias("__v")).filter(
        norm_expr(F.col("__v")) > 0
    )
    entries = []
    for k in dims:
        pref = F.expr(f"slice(__v, 1, {k})")
        ratio = norm_expr(pref) / norm_expr(F.col("__v"))
        entries.append(
            F.struct(
                F.lit(k).alias("k_dim"),
                F.round(ratio * 1000, 0).cast("bigint").alias("cm"),
            )
        )
    return (
        staged.select(F.explode(F.array(*entries)).alias("e"))
        .select("e.k_dim", "e.cm")
        .groupBy("k_dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr("sum(cm) div count(1)").alias("mean_cos_milli"),
            F.min("cm").alias("min_cos_milli"),
        )
    )


def _best_cells(
    df: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell, cdot): each vector's best centroid and its dot, read
    from one staged array of Arrow-kernel centroid dots."""
    return df.select(
        F.col(id_col),
        fold_dots(F.col(vec_col), centroids).alias("__dots"),
    ).select(
        F.col(id_col),
        argmax_expr(F.col("__dots")).alias("cell"),
        F.array_max("__dots").alias("cdot"),
    )


def ivf_prototypes(
    df: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell prototype (coreset) selection: the ``k`` vectors most
    aligned with their own cell centroid — the dataset-condensation /
    SemDeDup-prune counterpart of :func:`ivf_cells_hist`. The selected
    rows are the cells' most representative members (centroids are
    unit-norm, so max dot == max cosine); training-data pipelines use
    them as the per-cluster keep set when condensing, and as cheap
    cluster exemplars for human inspection.

    Output: (cell, proto_rank, vec_id, cdot) with proto_rank 1..k by
    (centroid dot DESC, vec_id ASC). The dot is the fold-exact
    sequential sum over the vector's elements, so the DOUBLE compares
    bit-identically across engines (the established discipline of the
    IVF family).

    Scale shape: ONE scan computes all centroid dots (Arrow kernel),
    the rank window partitions by cell over ``nlist``
    partitions — content-uniform under a healthy quantizer, and an
    unhealthy one is visible first in ``ivf_cells_hist``. No joins,
    no candidate explosion; cost is linear in the table."""
    staged = _best_cells(df, centroids, id_col, vec_col)
    return top_x(
        staged, "cell", F.col("cdot").desc(), k,
        tiebreak_col=id_col, rank_col="proto_rank",
    ).select("cell", "proto_rank", id_col, "cdot")


def embedding_outliers(
    df: DataFrame,
    centroids: np.ndarray,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``k`` vectors LEAST aligned with their own best centroid —
    the embedding-space outlier queue (mislabeled items, encoder
    failures, out-of-distribution inputs) and the inverse of
    :func:`ivf_prototypes`' coreset: prototypes are what you keep,
    outliers are what a human reviews first.

    Output: (vec_id, cell, cdot) for the k globally lowest best-dots,
    ties by ascending id. Same fold-exact dot discipline as the IVF
    family (centroids are unit-norm — max dot == max cosine).

    Scale shape: ONE scan computes all centroid dots (Arrow kernel)
    and the global bottom-k is
    ``orderBy().limit(k)`` -> TakeOrderedAndProject (per-partition
    heaps + a k-row driver merge, never a global sort)."""
    staged = _best_cells(df, centroids, id_col, vec_col)
    return staged.select(id_col, "cell", "cdot").orderBy(
        F.col("cdot").asc(), F.col(id_col).asc()
    ).limit(k)


def quantize_int8_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: scale =
    max|x|/127, q_i = round(x_i/scale), reporting integer content sums
    (exact in any fold order) and the max dequantization error.

    The embedding-compression step of a 100 TB vector pipeline, shaped
    for verifiability: every reported number is either an integer sum
    or a max of per-element doubles, so partial-aggregation order
    cannot perturb it (a float SUM would). Pure codegen'd HOFs, one
    scan, no shuffle. All-zero vectors quantize to all-zero (scale 0
    guard)."""
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col),
        e.alias("__e"),
        (F.array_max(F.transform(e, F.abs)) / F.lit(127.0)).alias("scale"),
    )
    q = F.transform(
        "__e",
        lambda x: F.when(
            F.col("scale") > 0, F.round(x / F.col("scale"))
        )
        .otherwise(F.lit(0.0))
        .cast("bigint"),
    )
    staged = base.select(id_col, "scale", "__e", q.alias("__q"))
    l1 = F.aggregate(
        F.transform("__q", F.abs), F.lit(0).cast("bigint"), lambda a, v: a + v
    )
    sumsq = F.aggregate(
        F.transform("__q", lambda v: v * v),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    err = F.array_max(
        F.zip_with(
            "__e",
            "__q",
            lambda x, qq: F.abs(x - qq.cast("double") * F.col("scale")),
        )
    )
    return staged.select(
        id_col,
        "scale",
        l1.alias("q_l1"),
        sumsq.alias("q_sumsq"),
        err.alias("max_abs_err"),
    )


# ------------------------------------------------- fold-exact Arrow kernels ---
#
# The HOF fold (dot_expr) runs INTERPRETED — fine for one query vector,
# ~100x too slow when every row needs dots against 64 planes or every
# candidate pair needs an exact cosine. These pandas UDFs are the
# vectorized twins: Arrow-batched numpy that accumulates DIM-SEQUENTIALLY
# in float64, i.e. each multiply and each add happens in exactly the
# fold's order, so results are BIT-IDENTICAL to dot_expr/cosine_expr
# (and therefore to the DuckDB list_sum oracles). A plain np.dot would
# use pairwise/SIMD summation and drift in the last ulp — enough to
# flip a sign bit at an LSH boundary. Equality is pinned in
# tests/test_similarity.py.


from hbase_gis_spark.functions.arrowkernels import (  # noqa: E402
    fold_dots,
    pair_cosine,
)


def cosine_topk_multi(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for a BATCH of query vectors in one
    pass — the bulk-retrieval shape (one scan amortized over all
    queries, vs. one scan per query).

    The query side is a tiny broadcast dim (|queries| rows); the big
    side streams once through a broadcast hash/nested-loop join, pair
    cosines run in the fold-exact Arrow kernel, and the per-query
    top-k is :func:`~hbase_gis_spark.operators.topx.top_x` grouped by
    query id (bounded groups: each query's partition ranks the
    candidate set; with AQE the post-join shuffle is per-query-key and
    skew-free since every query sees the same row count). Self-matches
    are excluded.

    Output: (query_id, vec_id, cosine, rnk) with rnk 1..k per query.
    """
    q = df.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    pairs = df.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col),
        pair_cosine(F.col(vec_col), F.col("__qv")).alias("cosine"),
    )
    return top_x(
        scored, "query_id", F.col("cosine").desc(), k,
        tiebreak_col=id_col, rank_col="rnk",
    )


def ann_range_search(
    df: DataFrame,
    query_id: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All vectors within cosine >= ``threshold`` of the query vector —
    the radius/range twin of :func:`cosine_topk` (retrieval wants
    "everything this similar", dedup wants "any neighbor above τ").

    Single scan, zero shuffle: the 1-row query side broadcasts, the
    threshold is a plain filter (no ordering, no limit barrier), so
    the plan is embarrassingly parallel at any table size.  Cosine via
    the Arrow pair kernel (bit-identical to the HOF fold and the
    DuckDB oracle, pinned by the existing ANN parity tests)."""
    from hbase_gis_spark.functions.arrowkernels import pair_cosine

    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv")
    )
    return (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            pair_cosine(F.col(vec_col), F.col("__qv")).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def embedding_norm_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label L2-norm distribution (count / min / max / mean) — the
    embedding-table QA aggregate that catches unnormalized batches,
    collapsed vectors, and scale drift between ingest runs before they
    poison an ANN index.

    One projection computes each row's norm (HOF fold, JVM-side), one
    hash aggregate per label — map-side partials, |labels| output
    rows, never a raw-vector shuffle.  ``avg_norm`` rounds to 9
    decimals on both engines (summation-order tolerance); min/max are
    order-free and stay exact."""
    norms = df.select(
        F.col(label_col).alias("label"),
        norm_expr(F.col(vec_col)).alias("__nrm"),
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__nrm").alias("min_norm"),
        F.max("__nrm").alias("max_norm"),
        F.round(F.avg("__nrm"), 9).alias("avg_norm"),
    )


def semdedup(
    df: DataFrame,
    threshold: float,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 4096,
    seed: int = 13,
    max_cell: int = 1_000_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings with
    the IVF coarse quantizer, then inside each cluster drop every
    vector that has a lower-id neighbor with cosine >= ``threshold``.

    Returns (``id_col``, cell, kept) for EVERY input row — kept=false
    marks semantic duplicates (deterministic: a row is dropped iff a
    same-cell, lower-id row is within the threshold, so the lowest id
    of each near-dup neighborhood always survives).

    100 TB shape: candidate pairs come from a self equi-join on the
    cell id — never an n^2 product.  Pair work is sum(cell_size^2);
    at scale ``nlist`` grows ~sqrt(n) (SemDeDup uses ~100k clusters
    for web-scale corpora) so cells stay bounded, and the ``max_cell``
    guard excludes any degenerate hot cell from pair generation
    (false-negative-only: its rows all stay kept, mirroring the
    max_df/max_bucket caps in the text-dedup family).  Vectors ride
    the cell shuffle once (n rows), pairs explode join-side locally.
    Cell assignment and cosine use the fold-exact Arrow kernels
    (bit-identical to the DuckDB oracle replay)."""
    from hbase_gis_spark.functions.arrowkernels import pair_cosine

    C = train_ivf_centroids(
        df, nlist, id_col, vec_col, train_rows=train_rows, seed=seed
    )
    from pyspark import StorageLevel

    # cell assignment runs a Python (Arrow) kernel over every vector
    # and the frame feeds FOUR plan branches (cell sizes, both pair
    # join sides, the final kept join) — persist it so the Python
    # boundary is crossed once, not four times (optimization r11,
    # guide §4.1/§5; lineage kept, frame is (id, vec, cell) — linear,
    # no wider than the input)
    cells = df.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell_expr(F.col(vec_col), C).alias("cell"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("__cn"))
    small = cells.join(
        F.broadcast(sizes.filter(F.col("__cn") <= max_cell)), "cell"
    )
    a = small.select(
        F.col("cell").alias("__ca"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
    )
    b = small.select(
        F.col("cell").alias("__cb"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
    )
    dropped = (
        a.join(
            b,
            (F.col("__ca") == F.col("__cb"))
            & (F.col("__ida") < F.col("__idb")),
        )
        .filter(
            pair_cosine(F.col("__va"), F.col("__vb")) >= F.lit(threshold)
        )
        .select(F.col("__idb").alias("__dropped"))
        .distinct()
    )
    return (
        cells.join(
            dropped, F.col(id_col) == F.col("__dropped"), "left"
        )
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("__dropped").isNull().alias("kept"),
        )
    )


# ---- product quantization (PQ) -------------------------------------------


def kmeans_centroids_l2(
    V: np.ndarray, k: int, iters: int = 15, seed: int = 13
) -> np.ndarray:
    """Deterministic plain (L2) k-means — the PQ sub-quantizer trainer.
    Unlike :func:`kmeans_centroids` the vectors are NOT normalized
    (PQ quantizes raw subvectors); an emptied cluster keeps its
    previous centroid.  Pure numpy float64 so the DuckDB oracle can
    replay bit-identical codebook literals."""
    V = np.asarray(V, dtype=np.float64)
    rng = np.random.default_rng(seed)
    C = V[rng.choice(len(V), k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for j in range(k):
            m = assign == j
            if m.sum():
                C[j] = V[m].mean(0)
    return C


def train_pq_codebooks(
    df: DataFrame,
    m: int,
    ksub: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 4096,
    iters: int = 15,
    seed: int = 13,
) -> list[np.ndarray]:
    """Train ``m`` per-subspace codebooks of ``ksub`` centroids each on
    the same bounded deterministic sample as the IVF trainer (first
    ``train_rows`` by id; per-subspace seed offset so codebooks are
    independent draws).  Driver-side cost O(train_rows*ksub*dim) —
    constant in table size; only the encoding scan distributes."""
    rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(train_rows)
        .select(vec_col)
        .collect()
    )
    if not rows:
        # same contract as the IVF trainer: quantizer training needs
        # data — a clean error, never a nonsense codebook
        raise ValueError("train_pq_codebooks: empty training sample")
    V = np.array([r[0] for r in rows], dtype=np.float64)
    dsub = dim // m
    return [
        kmeans_centroids_l2(
            V[:, i * dsub : (i + 1) * dsub], ksub, iters=iters, seed=seed + i
        )
        for i in range(m)
    ]


def pq_code_expr(
    vec_col: Column, codebook: np.ndarray, sub_index: int, dsub: int
) -> Column:
    """0-based nearest-centroid code for subspace ``sub_index``:
    argmin ||v_sub - c||^2 == argmax (dot(v_sub, c) - ||c||^2/2),
    computed as the fold-exact Arrow dots minus literal half-norms,
    first-index tiebreak (array_position of array_max) — the same
    argmax convention as :func:`ivf_cell_expr`, so the DuckDB replay
    mirrors it with a row_number(ORDER BY score DESC, ci ASC)."""
    from hbase_gis_spark.functions.arrowkernels import fold_dots

    sub = F.slice(vec_col, sub_index * dsub + 1, dsub)
    dots = fold_dots(sub, codebook)
    halfn = [float(0.5 * (c @ c)) for c in codebook]
    scores = F.zip_with(
        dots,
        F.array(*[F.lit(h) for h in halfn]),
        lambda d, h: d - h,
    )
    return argmax_expr(scores)


def pq_adc_topk(
    df: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    train_rows: int = 4096,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k by product quantization with asymmetric
    distance computation (ADC): every vector compresses to ``m`` codes
    (log2(ksub) bits each — 64 floats become 4 bytes at m=4/ksub=16);
    the query precomputes one dot-product lookup table per subspace,
    and each row's score is just ``m`` table lookups summed.

    100 TB shape: the scan reads only the code columns of a
    pre-encoded table (here encoding is inline for self-containment);
    the LUTs are literal arrays folded into the plan — no join, no
    shuffle, and the top-k is TakeOrderedAndProject.  ADC scores are
    inner-product approximations sum_m dot(q_m, c[code_m]); exact
    re-ranking of the shortlist composes with :func:`cosine_topk` when
    recall demands it."""
    books = train_pq_codebooks(
        df, m, ksub, dim, id_col, vec_col, train_rows=train_rows, seed=seed
    )
    q = _query_vector(df, query_id, id_col, vec_col)
    dsub = dim // m
    luts = _pq_luts(q, books, dsub)
    coded = df.filter(F.col(id_col) != query_id).select(
        F.col(id_col),
        *[
            pq_code_expr(F.col(vec_col), books[i], i, dsub).alias(f"__c{i}")
            for i in range(m)
        ],
    )
    score = _adc_score(luts, [f"__c{i}" for i in range(m)])
    return (
        coded.select(F.col(id_col), score.alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ann_ivfpq_topk(
    df: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 6,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    train_rows: int = 4096,
    seed: int = 13,
) -> DataFrame:
    """IVF-PQ composite (the FAISS ``IVFx,PQy`` shape — the standard
    billion-scale ANN index): the IVF coarse quantizer restricts the
    scan to ``nprobe`` cells, and rows inside them are scored by PQ
    asymmetric-distance lookup tables instead of full-vector dots.

    At 100 TB this is the whole point of the composition: with the
    cell id as a partition column the probe filter prunes directories
    (scan cost ~nprobe/nlist of the table), and the scanned remainder
    reads 4 code BYTES per row instead of 256 float bytes — the
    per-row work is ``m`` array lookups.  Here codes are computed
    inline from the raw vectors for self-containment; a production
    table stores them at ingest (same split as
    :func:`write_ivf_table`).  Candidate scoring is approximate
    (ADC); compose with :func:`cosine_topk` over the shortlist when
    exact re-ranking is required."""
    C = train_ivf_centroids(
        df, nlist, id_col, vec_col, train_rows=train_rows, seed=seed
    )
    books = train_pq_codebooks(
        df, m, ksub, dim, id_col, vec_col, train_rows=train_rows, seed=seed
    )
    q = _query_vector(df, query_id, id_col, vec_col)
    probes = _probe_cells(C, q, nprobe)
    dsub = dim // m
    luts = _pq_luts(q, books, dsub)
    coded = (
        df.filter(F.col(id_col) != query_id)
        .withColumn("__cell", ivf_cell_expr(F.col(vec_col), C))
        .filter(F.col("__cell").isin(probes))
        .select(
            F.col(id_col),
            *[
                pq_code_expr(F.col(vec_col), books[i], i, dsub).alias(
                    f"__c{i}"
                )
                for i in range(m)
            ],
        )
    )
    score = _adc_score(luts, [f"__c{i}" for i in range(m)])
    return (
        coded.select(F.col(id_col), score.alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def write_ivfpq_table(
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vectors: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist the full IVF-PQ index layout: rows partitioned by IVF
    cell (directory pruning for probes) with their PQ codes as plain
    int columns (column pruning: an ADC scan reads ``m`` ints per row
    and never touches the raw vector bytes).  ``keep_vectors=False``
    drops the raw vectors entirely — the pure-index table, m bytes a
    row at ksub<=256.  Both prunings are visible in `.explain`:
    PartitionFilters for the cell predicate, ReadSchema listing only
    the code columns."""
    dsub = (
        np.asarray(codebooks[0]).shape[1]
        if codebooks
        else 0
    )
    out = df.withColumn("ivf_cell", ivf_cell_expr(F.col(vec_col), centroids))
    for i, Cb in enumerate(codebooks):
        out = out.withColumn(
            f"pq_code{i}", pq_code_expr(F.col(vec_col), Cb, i, dsub)
        )
    if not keep_vectors:
        out = out.drop(vec_col)
    (
        out.repartition("ivf_cell")
        .write.mode(mode)
        .partitionBy("ivf_cell")
        .parquet(path)
    )


def ann_ivfpq_topk_stored(
    spark,
    path: str,
    centroids: np.ndarray,
    codebooks: list[np.ndarray],
    query_vec: "np.ndarray | list[float]",
    k: int,
    id_col: str = "vec_id",
    nprobe: int = 6,
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k against a :func:`write_ivfpq_table` layout: probes
    prune directories, the scan projects only (id, code) columns, and
    scoring is ``m`` literal-array lookups per row — the steady-state
    production shape of :func:`ann_ivfpq_topk`, whose inline form
    recomputes codes per query for self-containment."""
    q = np.asarray(query_vec, dtype=np.float64)
    probes = _probe_cells(centroids, q, nprobe)
    m = len(codebooks)
    dsub = int(np.asarray(codebooks[0]).shape[1])
    luts = _pq_luts(q, codebooks, dsub)
    df = (
        spark.read.parquet(path)
        .filter(F.col("ivf_cell").isin(probes))
        .select(id_col, *[f"pq_code{i}" for i in range(m)])
    )
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    score = _adc_score(luts, [f"pq_code{i}" for i in range(m)])
    return (
        df.select(F.col(id_col), score.alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ann_ivf_topk_multi(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 6,
    train_rows: int = 4096,
    seed: int = 13,
) -> DataFrame:
    """Batched IVF retrieval: top-k for a SET of query vectors in one
    scan — cell assignment runs once per row, each query contributes
    only its ``nprobe`` probed cells (array_contains against the
    query's broadcast probe list), and per-query ranking is
    :func:`~hbase_gis_spark.operators.topx.top_x` grouped by query id.

    The amortization matters at scale: N separate IVF queries scan
    the (pruned) table N times; this shape streams it once and fans
    each row out only to the queries actually probing its cell —
    cost ~ rows x avg_probing_queries, not rows x N.

    Output: (query_id, vec_id, cosine, rnk), rnk 1..k per query."""
    from hbase_gis_spark.functions.arrowkernels import pair_cosine

    C = train_ivf_centroids(
        df, nlist, id_col, vec_col, train_rows=train_rows, seed=seed
    )
    qrows = (
        df.filter(F.col(id_col).isin([int(i) for i in query_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    if len(qrows) != len(query_ids):
        missing = set(query_ids) - {r[0] for r in qrows}
        raise ValueError(f"query ids not found: {sorted(missing)}")
    origin_rows = []
    for r in qrows:
        probes = _probe_cells(C, np.asarray(r[1], dtype=np.float64), nprobe)
        origin_rows.append((int(r[0]), [float(x) for x in r[1]], probes))
    origins = df.sparkSession.createDataFrame(
        origin_rows, "query_id bigint, __qv array<float>, __probes array<int>"
    )
    cells = df.withColumn("__cell", ivf_cell_expr(F.col(vec_col), C))
    pairs = (
        cells.crossJoin(F.broadcast(origins))
        .filter(
            F.array_contains(F.col("__probes"), F.col("__cell"))
            & (F.col(id_col) != F.col("query_id"))
        )
        .select(
            "query_id",
            F.col(id_col),
            pair_cosine(F.col(vec_col), F.col("__qv")).alias("cosine"),
        )
    )
    return top_x(
        pairs, "query_id", F.col("cosine").desc(), k,
        tiebreak_col=id_col, rank_col="rnk",
    )


def ann_recall_report(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 6,
    train_rows: int = 4096,
    seed: int = 13,
) -> DataFrame:
    """ANN index health report: recall@k of the batched IVF path
    against exact batched retrieval, per query — the evaluation loop
    every production ANN deployment runs before trusting an index
    (recall depends on the data distribution, not just nlist/nprobe).

    Both sides share the one-scan batched shape; the report is a
    per-query overlap count — integers only, exactly oracle-checkable.
    Output: (query_id, n_exact, n_ivf, n_overlap)."""
    exact = cosine_topk_multi(df, query_ids, k, id_col, vec_col).select(
        "query_id", F.col(id_col).alias("e_id")
    )
    approx = ann_ivf_topk_multi(
        df,
        query_ids,
        k,
        id_col,
        vec_col,
        nlist=nlist,
        nprobe=nprobe,
        train_rows=train_rows,
        seed=seed,
    ).select(F.col("query_id").alias("a_qid"), F.col(id_col).alias("a_id"))
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_ivf = approx.groupBy(F.col("a_qid")).agg(
        F.count(F.lit(1)).alias("n_ivf")
    )
    overlap = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("e_id") == F.col("a_id")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        n_exact.join(n_ivf, F.col("query_id") == F.col("a_qid"))
        .join(overlap.withColumnRenamed("query_id", "o_qid"),
              F.col("query_id") == F.col("o_qid"), "left")
        .select(
            "query_id",
            "n_exact",
            "n_ivf",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        )
    )


def retrieval_mrr_report(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 6,
    train_rows: int = 4096,
    seed: int = 13,
) -> DataFrame:
    """Rank-POSITION complement of :func:`ann_recall_report`: where
    recall@k asks "is the right answer anywhere in the top k", MRR
    asks "how high" — per query, the exact rank at which the IVF arm
    surfaces the TRUE nearest neighbor (exact cosine top-1), the
    reciprocal-rank eval every retrieval deployment tracks next to
    recall.

    Engine-exactness: reciprocal ranks are IRRATIONAL-FREE here —
    ``rr_x2520 = 2520 div rank`` with 2520 = lcm(1..10), so for
    ``k <= 10`` every reciprocal rank is an exact integer (1/3 →
    840, 1/7 → 360); the fleet MRR is ``avg(rr_x2520)/2520``,
    computed by the caller from exact integers. ``k > 10`` is
    REJECTED with ``ValueError`` (ADVICE r10): ranks 11..k do not
    all divide 2520, so ``2520 div rank`` would silently truncate —
    the column name bakes the lcm(1..10) scale into the schema, so
    enforcing the envelope beats rescaling. A miss (true neighbor
    absent from the approximate top-k) reports rank 0 / rr 0.

    Output: one row per query — (query_id, true_id, rank_in_approx,
    rr_x2520), all integers.

    Scale shape: both arms are the one-scan batched retrievals
    (broadcast query dims, per-query bounded rank windows); the
    report join is |queries| × k rows."""
    if k > 10:
        raise ValueError(
            f"k={k} breaks the rr_x2520 exactness contract: 2520 = "
            "lcm(1..10), so 2520 div rank is exact only for rank <= "
            "10 — use k <= 10 (the schema bakes in the scale)"
        )
    truth = cosine_topk_multi(df, query_ids, 1, id_col, vec_col).select(
        "query_id", F.col(id_col).alias("true_id")
    )
    approx = ann_ivf_topk_multi(
        df,
        query_ids,
        k,
        id_col,
        vec_col,
        nlist=nlist,
        nprobe=nprobe,
        train_rows=train_rows,
        seed=seed,
    ).select(
        F.col("query_id").alias("a_qid"),
        F.col(id_col).alias("a_id"),
        F.col("rnk"),
    )
    return (
        truth.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("true_id") == F.col("a_id")),
            "left",
        )
        .select(
            "query_id",
            "true_id",
            F.coalesce(F.col("rnk"), F.lit(0))
            .cast("bigint")
            .alias("rank_in_approx"),
            F.coalesce(
                F.expr("CAST(2520 div rnk AS BIGINT)"), F.lit(0)
            )
            .cast("bigint")
            .alias("rr_x2520"),
        )
    )


def append_ivf_table(
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new vector batch to an existing :func:`write_ivf_table`
    layout — the steady-state ingest path: the batch is assigned with
    the SAME frozen centroids (an index's coarse quantizer is fixed at
    build time; retraining is a rebuild, not an append), so new rows
    land in the right cell directories and every existing probe plan
    keeps working. Dynamic partition overwrite is NOT used — appends
    only add files inside cell directories."""
    (
        df.withColumn("ivf_cell", ivf_cell_expr(F.col(vec_col), centroids))
        .repartition("ivf_cell")
        .write.mode("append")
        .partitionBy("ivf_cell")
        .parquet(path)
    )


def ivf_nprobe_recall_curve(
    df: DataFrame,
    query_id: int,
    k: int,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The nprobe TUNING CURVE for an IVF index: for every nprobe in
    1..nlist, how much of the query's EXACT top-k an
    ``ann_ivf_topk``-style probe would recover — the one chart an
    index operator reads before picking nprobe (recall@nprobe vs the
    ~nprobe/nlist scan-cost line). ``ann_recall_report`` audits many
    queries at ONE nprobe; this sweeps every nprobe for one query
    from a single assignment pass, with zero extra scans per point:
    a probe at nprobe covers exactly the cells whose centroid-dot
    rank against the query is below nprobe, so a true neighbor is
    recovered iff rank(its cell) < nprobe — monotone in nprobe by
    construction.

    Output: nlist rows (nprobe INT, n_hits, recall_milli =
    (1000·n_hits) div k — non-negative, truncate == floor both
    engines).

    Scale shape: ONE exact top-k (per-partition heap, broadcast
    1-row query), cell assignment on k rows, a broadcast join to the
    nlist-row probe-rank dim, one |k·nlist|-bounded grid aggregate —
    everything after the top-k is constant-sized regardless of the
    table."""
    spark = df.sparkSession
    nlist = len(centroids)
    probe_order = _probe_cells(
        centroids, _query_vector(df, query_id, id_col, vec_col)
    )
    ranks = spark.createDataFrame(
        [(int(c), int(r)) for r, c in enumerate(probe_order)],
        "cell int, probe_rank int",
    )
    top = cosine_topk(df, query_id, k, id_col=id_col, vec_col=vec_col)
    hits = (
        df.join(top.select(id_col), id_col, "leftsemi")
        .select(ivf_cell_expr(F.col(vec_col), centroids).alias("cell"))
        .join(F.broadcast(ranks), "cell")
    )
    grid = spark.range(1, nlist + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    return (
        grid.join(
            F.broadcast(hits), F.col("probe_rank") < F.col("nprobe"), "left"
        )
        .groupBy("nprobe")
        .agg(
            F.count(F.col("probe_rank")).cast("bigint").alias("n_hits")
        )
        .select(
            "nprobe",
            "n_hits",
            F.expr(f"CAST((1000 * n_hits) div {k} AS BIGINT)").alias(
                "recall_milli"
            ),
        )
    )


def ivf_reassign_report(
    stored: DataFrame,
    batch: DataFrame,
    frozen: np.ndarray,
    retrained: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-maintenance decision report for a stored IVF layout — the
    operator that completes the stored-ANN arc the way
    ``dedup_incremental`` completed the dedup arc (VERDICT r7
    next-round #7). :func:`append_ivf_table` keeps the coarse
    quantizer FROZEN (an index's cell space is fixed at build time),
    so as batches accumulate, the frozen cells drift away from the
    data: cells overfill, and a growing fraction of vectors would sit
    in a DIFFERENT cell under a freshly trained quantizer — exactly
    the recall decay ``ivf_cells_hist`` shows as occupancy skew and
    ``embedding_drift`` shows as distribution shift. This report
    quantifies the rebuild trigger: per frozen cell, how many stored
    and newly appended vectors it holds, and how many of them a
    retrained quantizer would MOVE elsewhere.

    Output: one row per occupied frozen cell — (cell, n_stored,
    n_batch, n_total, n_moved, move_milli = (1000·n_moved) div
    n_total; all counts BIGINT, non-negative so truncate == floor in
    both engines). Retrain when move_milli crosses the caller's
    threshold; the re-layout itself is :func:`write_ivf_table` with
    ``retrained`` (a rebuild, never an in-place mutation) or, for a
    bounded rewrite, :func:`ivf_reassign_delta`'s changed-rows set.

    Scale shape: ONE scan per side computes BOTH cell argmaxes from
    staged dot arrays (Arrow kernel — the projection is materialized
    once and referenced twice, the interpreted-HOF
    discipline), a union, and one nlist-bounded hash aggregate —
    map-side combined, no joins, no windows, linear in the table."""

    def _cells(df: DataFrame, is_batch: int) -> DataFrame:
        vc = F.col(vec_col)
        staged = df.select(
            F.col(id_col),
            fold_dots(vc, frozen).alias("__fd"),
            fold_dots(vc, retrained).alias("__rd"),
        )
        return staged.select(
            argmax_expr(F.col("__fd")).alias("cell"),
            argmax_expr(F.col("__rd")).alias("__new_cell"),
            F.lit(is_batch).alias("__is_batch"),
        )

    both = _cells(stored, 0).unionByName(_cells(batch, 1))
    return (
        both.groupBy("cell")
        .agg(
            F.sum(
                F.when(F.col("__is_batch") == 0, 1).otherwise(0)
            ).alias("n_stored"),
            F.sum("__is_batch").alias("n_batch"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("__new_cell") != F.col("cell"), 1).otherwise(0)
            ).alias("n_moved"),
        )
        .select(
            "cell",
            F.col("n_stored").cast("bigint").alias("n_stored"),
            F.col("n_batch").cast("bigint").alias("n_batch"),
            F.col("n_total").cast("bigint").alias("n_total"),
            F.col("n_moved").cast("bigint").alias("n_moved"),
            F.expr("CAST((1000 * n_moved) div n_total AS BIGINT)").alias(
                "move_milli"
            ),
        )
    )


def ivf_reassign_delta(
    catalog: DataFrame,
    vectors: DataFrame,
    retrained: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """The bounded-rewrite set after a retrain: join the stored
    assignment ``catalog`` (id → frozen cell) with the vector table,
    recompute cells under ``retrained``, and emit ONLY the rows whose
    cell changed — (id, old_cell, new_cell). A rebuild rewrites 100%
    of a 100 TB index; moving just the changed rows (delete from
    old_cell partition, append to new_cell partition) rewrites the
    ``move_milli`` fraction :func:`ivf_reassign_report` measured.

    Scale shape: one equi-join on the id key. When BOTH sides are
    bucketed catalog tables on ``id_col`` (sources.bucketed — the
    dedup_incremental postings-catalog discipline) the join plans
    with NO Exchange on either side, pinned by
    tests/test_similarity.py's plan test; one scan computes the new
    argmax, output bounded by the changed rows. The dots come from
    the codegen fold (:func:`dots_expr`), unlike the rest of the IVF
    family: the Arrow kernel's Python eval node discards the bucketed
    scan's output-partitioning guarantee and the join re-Exchanges the
    vector side — measured, 1 Exchange vs 0 — defeating the
    co-location this operator exists for; the fold computes
    bit-identical dots (fold_dots' contract) and keeps the plan
    shuffle-free."""
    newc = vectors.select(
        F.col(id_col),
        argmax_expr(dots_expr(F.col(vec_col), retrained)).alias("__new_cell"),
    )
    return (
        catalog.select(id_col, F.col(cell_col).alias("old_cell"))
        .join(newc, id_col)
        .filter(F.col("__new_cell") != F.col("old_cell"))
        .select(
            id_col,
            F.col("old_cell").cast("int").alias("old_cell"),
            F.col("__new_cell").cast("int").alias("new_cell"),
        )
    )


# ------------------------------------------------------ binary quantization ---


def binary_signature_exprs(vec_col: Column) -> tuple[Column, Column]:
    """Sign-bit binary quantization of a float vector, packed into two
    64-bit words of 32 sign bits each (``sig_lo`` = dims 0-31,
    ``sig_hi`` = dims 32-63).

    Two half-words instead of one full word so every packed value stays
    below 2**32: the bit weights are then exactly representable as
    integer literals on BOTH engines and no shift ever touches the
    BIGINT sign bit (a ``1 << 63`` would), keeping the DuckDB oracle a
    verbatim transcription. A dimension quantizes to 1 iff its value is
    strictly positive (0.0 and NaN-free synthetic data → bit 0).

    Storage: 8 bytes vs 256 for 64 float32 dims (32×). At 100 TB this
    is the difference between an index that fits in cluster page cache
    and one that doesn't — the Hamming scan below is memory-bandwidth
    bound, so compression IS the speedup.
    """
    v = K.operand(vec_col)
    return F.expr(K.sig_lo_sql(v)), F.expr(K.sig_hi_sql(v))


def ann_hamming_topk(
    df: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest neighbors under binary-signature Hamming distance
    — the cheapest ANN tier (below IVF and PQ): quantize every vector
    to its 64 sign bits once, then distance = popcount(xor).

    Physical shape: one scan over (id, sig_lo, sig_hi) — at scale a
    STORED 16-byte-per-row sidecar table, not the raw vectors — with
    the 1-row query signature broadcast; ``bit_count``/``xor`` are
    codegen'd JVM intrinsics, and the top-k is
    ``orderBy().limit(k)`` → TakeOrderedAndProject (per-partition
    heap + driver merge of k rows, never a global sort). Determinism:
    ties broken by ascending id. In a production funnel this stage
    over-fetches (k' = 4-10x k) and a second stage exactly re-ranks
    the k' candidates with full-precision cosine — see
    ``cosine_topk_multi`` for that shape.

    Dims 0-31 / 32-63 pack into two 32-bit half-words (see
    :func:`binary_signature_exprs` for why two).
    """
    lo, hi = binary_signature_exprs(F.col(vec_col))
    sigs = df.select(F.col(id_col), lo.alias("sig_lo"), hi.alias("sig_hi"))
    q = sigs.filter(F.col(id_col) == query_id).select(
        F.col("sig_lo").alias("__qlo"), F.col("sig_hi").alias("__qhi")
    )
    ham = F.expr(K.hamming_sql("sig_lo", "sig_hi", "__qlo", "__qhi"))
    return (
        sigs.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ann_hamming_rerank_topk(
    df: DataFrame,
    query_id: int,
    k: int,
    overfetch: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The standard two-stage retrieval funnel: the binary-signature
    Hamming tier over-fetches ``overfetch * k`` candidates from the
    16-byte sidecar scan, then ONLY those k' rows are exactly re-ranked
    with full-precision cosine.

    At 100 TB the first stage reads ~3 TB of signatures instead of
    ~100 TB of vectors, and the second stage reads k' full vectors via
    an id semi-join (at scale: a bucketed/point-lookup fetch, here a
    broadcast isin of k' ids — the candidate list is small by
    construction). Deterministic: both stages tie-break on ascending
    id, so the result is a pure function of the data.

    Output: (id_col, hamming, cosine) — the k best candidates by exact
    cosine among the Hamming-tier survivors.
    """
    cand = ann_hamming_topk(
        df, query_id, overfetch * k, id_col=id_col, vec_col=vec_col
    )
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv")
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    return (
        cand.join(vecs, id_col)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            "hamming",
            pair_cosine(F.col(vec_col), F.col("__qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ------------------------------------------------------------ PCA projection ---


def train_pca(
    df: DataFrame,
    d: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 4096,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic PCA trained driver-side on a bounded sample (first
    ``train_rows`` by id — the same sampling contract as
    :func:`train_ivf_centroids`): returns (mean, components) where
    ``components`` is (d, dim), rows ordered by descending eigenvalue.

    Sign convention: each component is flipped so its largest-|coord|
    entry is positive — eigenvectors are sign-ambiguous and the oracle
    replay must land on the same one. Training cost is
    O(train_rows·dim² + dim³) on the driver and does NOT grow with the
    table; only the projection scan is distributed."""
    rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(train_rows)
        .select(vec_col)
        .collect()
    )
    V = np.array([r[0] for r in rows], dtype=np.float64)
    if len(V) == 0:
        raise ValueError("train_pca needs at least one vector")
    mu = V.mean(axis=0)
    X = V - mu
    cov = (X.T @ X) / len(X)
    evals, evecs = np.linalg.eigh(cov)
    idx = np.argsort(evals)[::-1][:d]
    comps = evecs[:, idx].T.copy()
    for j in range(comps.shape[0]):
        k = int(np.argmax(np.abs(comps[j])))
        if comps[j, k] < 0:
            comps[j] = -comps[j]
    return mu, comps


def pca_project(
    df: DataFrame,
    d: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 4096,
) -> DataFrame:
    """Project every vector onto the sample-trained top-``d`` principal
    components — the dimensionality-reduction stage of an embedding
    pipeline (64 floats → d floats before ANN/clustering, or as a
    compact feature block for a downstream model).

    Execution shape: the (d × dim) component matrix and the d mean
    offsets fold into the plan as LITERALS (no join, no shuffle —
    map-only, like :func:`pq_adc_topk`'s lookup tables); the dots run
    in the fold-exact Arrow kernel, so ``pc_j = dot(x, c_j) −
    dot(mean, c_j)`` is bit-reproducible by the DuckDB oracle with the
    same literals. One scan, no Python in any other stage.

    Output: (id_col, pc1..pcd) doubles.
    """
    mu, comps = train_pca(
        df, d=d, id_col=id_col, vec_col=vec_col, train_rows=train_rows
    )
    # mean offsets, sequential fold order (shared literal across engines)
    offs = []
    for j in range(comps.shape[0]):
        acc = 0.0
        for x, c in zip(mu, comps[j]):
            acc += float(x) * float(c)
        offs.append(acc)
    staged = df.select(
        F.col(id_col), fold_dots(F.col(vec_col), comps).alias("__dots")
    )
    return staged.select(
        id_col,
        *[
            (F.element_at("__dots", j + 1) - F.lit(offs[j])).alias(
                f"pc{j + 1}"
            )
            for j in range(comps.shape[0])
        ],
    )


def write_signature_table(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the binary-signature SIDECAR table — (id, sig_lo,
    sig_hi), 16 bytes of payload per row instead of dim×4 — that the
    Hamming tier scans at serving time. Signatures are computed once
    at write time with the pure-JVM packing expressions; the raw
    vector column deliberately does NOT ride along (the rerank stage
    fetches the few survivors from the primary table by id). At 100 TB
    of float32 vectors this sidecar is ~1/16 the bytes and is the
    difference between a Hamming scan that lives in page cache and one
    that doesn't."""
    lo, hi = binary_signature_exprs(F.col(vec_col))
    (
        df.select(F.col(id_col), lo.alias("sig_lo"), hi.alias("sig_hi"))
        .write.mode(mode)
        .parquet(path)
    )


def ann_hamming_topk_stored(
    spark,
    path: str,
    query_sig: tuple[int, int],
    query_id: int,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hamming top-k over a stored :func:`write_signature_table`
    sidecar: no signature computation at query time — the scan reads
    exactly three int64 columns (pinned by test on ReadSchema) and the
    popcount/top-k shape matches :func:`ann_hamming_topk`."""
    qlo, qhi = int(query_sig[0]), int(query_sig[1])
    sigs = spark.read.parquet(path)
    ham = F.expr(K.hamming_sql("sig_lo", "sig_hi", str(qlo), str(qhi)))
    return (
        sigs.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_filtered(
    df: DataFrame,
    query_id: int,
    k: int,
    predicate: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FILTERED exact vector search: top-k cosine neighbors among only
    the rows satisfying ``predicate`` (a metadata condition — label,
    tenant, language, date partition). The standard vector-store
    capability next to plain top-k: pre-filtering, not post-filtering,
    so the result always holds k rows when k candidates exist (a
    post-filter of a plain top-k can come back short or empty).

    Physical shape: the predicate applies BEFORE the distance
    expression, so Catalyst pushes any sargable part of it into the
    scan (partition/row-group pruning on a stored table — with IVF or
    signature sidecars the same filter composes there too); the 1-row
    query side broadcasts; ranking stays TakeOrderedAndProject.
    The query vector is looked up UNFILTERED — the query point itself
    need not satisfy the predicate."""
    return _cosine_topk_vs(
        df,
        df.filter(predicate & (F.col(id_col) != query_id)),
        query_id,
        k,
        id_col,
        vec_col,
    )


def label_centroid_separation(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cluster-separation audit: pairwise cosine between per-label
    centroids — the companion to :func:`label_purity` (purity asks
    "do cells contain one label", separation asks "are the labels'
    centers actually apart"; two labels whose centroids sit at
    cosine ~1 are indistinguishable to any retrieval index). Output
    one row per unordered label pair: (label_a, label_b, cosine),
    cosine rounded to 9.

    Engine-exactness: components quantize to integer MICRO units per
    element (round(x * 1e6), the established per-row rounding — never
    a float sum across rows), so the (label, dim) sums, floor-divided
    centroids, dots and norms are all exact BIGINTs in both engines;
    the single float division happens once per pair on identical
    integers. Bounds: |component| <= ~1e3 keeps c*c*dims < 2^63 for
    unit-ish embeddings at any row count (sums are per-dim means).

    Scale shape: one posexplode collapsed by a (label, dim) hash
    aggregate (map-side combined — |labels|*dims rows out, raw
    vectors never shuffle); everything after is dim-sized: a
    |labels|*dims self-join on dim and two |labels|-row norm dims."""
    cells = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "__x"),
        )
        .select(
            "label",
            "dim",
            F.round(F.col("__x").cast("double") * 1_000_000)
            .cast("bigint")
            .alias("__xm"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("__xm").alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    cent = cells.select(
        "label",
        "dim",
        # TRUNCATING centroid components — component sums are
        # routinely negative; DuckDB // truncates toward zero exactly
        # like Spark div (measured round 7: (-7)//3 == -2), so the
        # bare operators are engine-identical for all signs
        F.expr("__s div __n").alias("__c"),
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("__c") * F.col("__c")).alias("__nn")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("__c").alias("__ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("__c").alias("__cb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("__nn").alias("__na")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("__nn").alias("__nb")
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("__dot").cast("double")
                / F.sqrt(
                    F.col("__na").cast("double")
                    * F.col("__nb").cast("double")
                ),
                9,
            ).alias("cosine"),
        )
    )


def embedding_diversity(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding DIVERSITY audit without a pair join: the
    mean pairwise dot product of a label's vectors via the moment
    identity ``sum_{i != j} q_i . q_j = ||sum_i q_i||^2 - sum_i
    ||q_i||^2`` — the collapsed-cluster detector (mean pair similarity
    near the self-similarity ceiling means the label's vectors have
    degenerated to one point; near 0 means isotropic spread).

    Engine-exactness: pairwise FLOAT sums are order-sensitive, so the
    identity runs over the int8-quantized vectors of
    :func:`quantize_int8_stats` (same per-vector scale = max|x|/127,
    q = round(x/scale) — deterministic per row, no cross-row float
    arithmetic); every reported moment is then an exact integer in any
    fold order. The milli mean divides with ``div`` (truncation
    matches DuckDB ``//`` — measured, negatives included).

    Overflow bound: |S_j| <= 127·n, so S_j² can pass int64 once a
    label holds ~3M vectors at dim 64 (64·127²·n² > 2^63) — the S²
    accumulator therefore runs in decimal(38,0) (exact to 10^38,
    i.e. ~10^15 vectors per label), and the reported columns cast
    back to BIGINT, exact within that same ~3M-per-label envelope
    the decimal math makes checkable rather than silently wrapped.
    The DuckDB twin accumulates in HUGEINT (int128) identically.

    Output: one row per label — (label, n_vecs, self_dot_sum,
    cross_dot_sum, mean_pair_dot_milli [NULL when n < 2]), where
    cross_dot_sum counts ORDERED pairs (n·(n-1) of them).

    Scale shape: one scan; a posexplode to (label, coord) partial-
    aggregated map-side into |labels|·dim coordinate sums; a second
    |labels|-row aggregate; one broadcast join of two |labels|-row
    frames. No pair join anywhere — the whole point."""
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(label_col).alias("label"),
        e.alias("__e"),
        (F.array_max(F.transform(e, F.abs)) / F.lit(127.0)).alias(
            "__scale"
        ),
    )
    q = F.transform(
        "__e",
        lambda x: F.when(
            F.col("__scale") > 0, F.round(x / F.col("__scale"))
        )
        .otherwise(F.lit(0.0))
        .cast("bigint"),
    )
    staged = base.select("label", q.alias("__q"))
    selfd = F.aggregate(
        F.transform("__q", lambda v: v * v),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    per_self = (
        staged.select("label", selfd.alias("__sd"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("__sd").cast("bigint").alias("self_dot_sum"),
        )
    )
    coord = (
        staged.select("label", F.posexplode("__q").alias("pos", "qv"))
        .groupBy("label", "pos")
        .agg(F.sum("qv").alias("__s"))
        .groupBy("label")
        .agg(
            F.sum(
                F.col("__s").cast("decimal(19,0)")
                * F.col("__s").cast("decimal(19,0)")
            ).alias("__normsq_dec")
        )
        .select(
            "label",
            F.col("__normsq_dec").cast("bigint").alias("__normsq"),
        )
    )
    return per_self.join(F.broadcast(coord), "label").select(
        "label",
        "n_vecs",
        "self_dot_sum",
        (F.col("__normsq") - F.col("self_dot_sum"))
        .cast("bigint")
        .alias("cross_dot_sum"),
        F.expr(
            "CASE WHEN n_vecs > 1 THEN CAST((1000 * (__normsq -"
            " self_dot_sum)) div (n_vecs * (n_vecs - 1)) AS BIGINT)"
            " END"
        ).alias("mean_pair_dot_milli"),
    )


def _labelled_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The labelled exact top-k scaffolding of the retrieval-quality
    reports: (hits, lhist). Each hit row is one
    :func:`cosine_topk_multi` neighbour (query_id, __nid, rnk) with its
    own label ``__nlbl`` and the query's ``label`` (broadcast join of
    the |queries|-row label dim). ``lhist`` is the corpus label
    histogram (__hlbl, __lcnt)."""
    nb = cosine_topk_multi(df, query_ids, k, id_col, vec_col).select(
        "query_id", F.col(id_col).alias("__nid"), "rnk"
    )
    labels = df.select(
        F.col(id_col).alias("__lid"), F.col(label_col).alias("__lbl")
    )
    qlab = labels.filter(
        F.col("__lid").isin([int(i) for i in query_ids])
    ).select(
        F.col("__lid").alias("query_id"), F.col("__lbl").alias("label")
    )
    hits = (
        nb.join(labels, nb["__nid"] == labels["__lid"])
        .withColumnRenamed("__lbl", "__nlbl")
        .join(F.broadcast(qlab), "query_id")
    )
    lhist = labels.groupBy(F.col("__lbl").alias("__hlbl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__lcnt")
    )
    return hits, lhist


def label_knn_agreement(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN LABEL-CONSISTENCY probe (the classic embedding-quality
    check): for each probe query, its exact cosine top-k neighbors,
    aggregated per QUERY LABEL into the fraction of neighbors that
    share the label — near 1000 milli means the embedding separates
    that class, near the label's base rate means it carries no class
    signal.

    Exactness: the ranking is :func:`cosine_topk_multi` (fold-exact
    Arrow pair cosines, pinned bit-identical to the DuckDB oracle);
    everything after is integer counts and one div-milli.

    Output: one row per label present among the probes — (label,
    n_queries, n_neighbors, n_same_label, agree_milli).

    Scale shape: the one-scan batched top-k (broadcast |queries| dim,
    per-query bounded rank windows), then label joins against the
    |queries|·k result and a |labels|-row aggregate. The probe list is
    a bounded design parameter — fact scale is touched once."""
    hits, _ = _labelled_topk(df, query_ids, k, id_col, vec_col, label_col)
    return (
        hits.groupBy("label")
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.sum(
                F.when(F.col("__nlbl") == F.col("label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_same_label"),
        )
        .select(
            "label",
            "n_queries",
            "n_neighbors",
            "n_same_label",
            F.expr("CAST((1000 * n_same_label) div n_neighbors AS BIGINT)")
            .alias("agree_milli"),
        )
    )


def retrieval_map_report(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Mean-average-precision complement of :func:`retrieval_mrr_report`
    (MRR scores the FIRST hit's rank; AP scores the whole ranked
    list): per probe query, exact cosine top-k retrieval with
    same-label as the relevance judgment, and the average precision
    over that list — the ranked-retrieval eval every search deployment
    tracks next to recall and MRR.

    Engine-exactness: the same lcm(1..10) discipline as MRR — each
    hit at rank i contributes the exact integer ``(2520 * hits_at_i)
    div i`` (exact for i <= 10, so ``k > 10`` is REJECTED), summed
    into ``sum_prec_x2520``; the final ``ap_micro = (1000000 *
    sum_prec_x2520) div (2520 * min(n_rel_total, k))`` divides once
    at the end. Relevance base counts come from the exact per-label
    corpus histogram (minus the query itself).

    Output: one row per query — (query_id, label, n_rel_topk,
    n_rel_total, sum_prec_x2520, ap_micro [NULL when the label has no
    other members]).

    Scale shape: the one-scan batched top-k, per-query bounded
    (<= k rows) running-hit windows, and a broadcast |labels|-row
    histogram join. Nothing after the top-k touches fact scale."""
    if k > 10:
        raise ValueError(
            f"k={k} breaks the x2520 exactness contract: 2520 = "
            "lcm(1..10), so (2520 * hits) div i is exact only for "
            "i <= 10 — use k <= 10 (the schema bakes in the scale)"
        )
    hits, hist = _labelled_topk(
        df, query_ids, k, id_col, vec_col, label_col
    )
    w = Window.partitionBy("query_id").orderBy("rnk")
    scored = (
        hits.withColumn(
            "__rel",
            F.when(F.col("__nlbl") == F.col("label"), 1).otherwise(0),
        )
        .withColumn("__hits", F.sum("__rel").over(w))
        .withColumn(
            "__prec",
            F.when(
                F.col("__rel") == 1,
                F.expr("CAST((2520 * __hits) div rnk AS BIGINT)"),
            ).otherwise(F.lit(0)),
        )
    )
    per = scored.groupBy("query_id", "label").agg(
        F.sum("__rel").cast("bigint").alias("n_rel_topk"),
        F.sum("__prec").cast("bigint").alias("sum_prec_x2520"),
    )
    return (
        per.join(
            F.broadcast(hist), per["label"] == hist["__hlbl"]
        )
        .select(
            "query_id",
            "label",
            "n_rel_topk",
            (F.col("__lcnt") - 1).cast("bigint").alias("n_rel_total"),
            "sum_prec_x2520",
            F.expr(
                f"CASE WHEN __lcnt > 1 THEN CAST((1000000 *"
                f" sum_prec_x2520) div (2520 * least(__lcnt - 1,"
                f" CAST({int(k)} AS BIGINT))) AS BIGINT) END"
            ).alias("ap_micro"),
        )
    )


# nano-scaled DCG gain table: NDCG_GAIN_NANO[i-1] = round(1e9 /
# log2(i + 1)) for rank i — the log-discount quantized ONCE to an
# integer spec so both engines do pure order-free integer sums (the
# x2520 discipline applied to an irrational gain); exact for k <= 10
NDCG_GAIN_NANO = (
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
)
NDCG_IDEAL_NANO = tuple(
    sum(NDCG_GAIN_NANO[:m]) for m in range(1, 11)
)


def ndcg_report(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """NDCG@k per probe query (Järvelin & Kekäläinen 2002) — the
    position-discounted complement of :func:`retrieval_map_report`
    (AP weights hits by precision; NDCG by 1/log2(rank+1)): exact
    cosine top-k retrieval, same-label relevance, and the normalized
    discounted cumulative gain over that ranked list.

    Engine-exactness: the log2 discount is quantized ONCE into the
    integer ``NDCG_GAIN_NANO`` table (round(1e9/log2(i+1)), the spec
    both engines share as literals), so dcg_nano is an order-free
    BIGINT sum, idcg_nano a table lookup at min(n_rel_total, k), and
    ``ndcg_micro = 1000000 · dcg_nano div idcg_nano`` divides once.
    ``k > 10`` is rejected (the table bakes in the envelope, like
    the x2520 contract). A query whose label has no other members
    reports NULL ndcg. Overflow bound: dcg_nano sums at most k <= 10
    terms of <= 10^9 each (<= 10^10), and the micro ratio multiplies
    by 10^6 (<= 10^16) — far inside int64, no wide accumulator
    needed.

    Output: one row per query — (query_id, label, n_rel_topk,
    n_rel_total, dcg_nano, idcg_nano, ndcg_micro).

    Scale shape: the one-scan batched top-k (broadcast query dim,
    bounded per-query windows), label joins on |queries|·k rows, and
    a broadcast |labels|-row histogram. Nothing after the top-k
    touches fact scale."""
    if k > len(NDCG_GAIN_NANO):
        raise ValueError(
            f"k={k} exceeds the NDCG_GAIN_NANO table (len "
            f"{len(NDCG_GAIN_NANO)}) — the nano-gain spec is exact "
            "only for k <= 10 (the schema bakes in the scale)"
        )
    hits, hist = _labelled_topk(
        df, query_ids, k, id_col, vec_col, label_col
    )
    gain = F.lit(0).cast("bigint")
    for i, g in enumerate(NDCG_GAIN_NANO[:k], start=1):
        gain = F.when(F.col("rnk") == i, F.lit(g).cast("bigint")).otherwise(
            gain
        )
    per = (
        hits.withColumn(
            "__rel",
            F.when(F.col("__nlbl") == F.col("label"), 1).otherwise(0),
        )
        .groupBy("query_id", "label")
        .agg(
            F.sum("__rel").cast("bigint").alias("n_rel_topk"),
            F.sum(F.col("__rel") * gain).cast("bigint").alias("dcg_nano"),
        )
    )
    ideal = F.lit(None).cast("bigint")
    for m, s in enumerate(NDCG_IDEAL_NANO[:k], start=1):
        ideal = F.when(
            F.least(F.col("__lcnt") - 1, F.lit(int(k))) == m,
            F.lit(s).cast("bigint"),
        ).otherwise(ideal)
    return (
        per.join(F.broadcast(hist), per["label"] == hist["__hlbl"])
        .withColumn("idcg_nano", ideal)
        .select(
            "query_id",
            "label",
            "n_rel_topk",
            (F.col("__lcnt") - 1).cast("bigint").alias("n_rel_total"),
            "dcg_nano",
            "idcg_nano",
            F.expr(
                "CAST((1000000 * dcg_nano) div nullif(idcg_nano, 0)"
                " AS BIGINT)"
            ).alias("ndcg_micro"),
        )
    )
