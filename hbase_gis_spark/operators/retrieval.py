"""Hybrid retrieval: reciprocal-rank fusion (RRF) of a lexical arm
(BM25 over the text column) and a semantic arm (embedding cosine
top-k) — the standard two-tower retrieval pattern for RAG corpus
serving, where neither keyword match nor embedding similarity alone
ranks well. RRF (Cormack et al., SIGIR 2009) fuses by RANK, not by
score, so the two arms' incomparable score scales never need
calibration.

Extension scope: the reference engine (a spatial HBase coprocessor,
see SURVEY.md §2) has no text or vector retrieval; this composes the
repo's own bm25_topk and cosine_topk cores.

Engine-exactness discipline: every fused score is integer micro-units
— contribution = 1_000_000 div (rrf_k + rank) with integer floor
division — and the per-arm ranks derive from already-exact orderings
(BM25 scores are integer milli-units; cosine is the bit-identical
sequential-fold float shared with the DuckDB oracle), so fusion is
exact in both engines.

Scale shape: each arm is its own bounded top-k (TakeOrderedAndProject
— per-partition heap + k-row merge, never a global sort of the
corpus); the rank windows and the full-outer fusion join then operate
on <= 2*arm_k rows (a constant), so everything after the arms is
driver-trivial no matter the corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hbase_gis_spark.operators.topx import top_x


def rrf_fuse(
    arms: list[tuple[str, DataFrame, str]],
    k: int,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuse ranked arms by reciprocal rank. Each arm is
    ``(rank_col_name, top-k frame, score_col)``; the frame must
    already be bounded (ordered + limited) — the rank window here
    sorts only those <= arm_k rows, which is why the partition-less
    window is sanctioned for this module (constant-size frame, see
    tests/test_plan_hygiene.py allowlist). Rank i contributes
    ``1_000_000 div (rrf_k + i)`` fused micro-points; ids missing
    from an arm contribute 0 from it. Output: (id, rrf_micro,
    <rank cols...>) top-k by fused score, ties by id."""
    fused = None
    rank_cols = []
    for rank_name, arm, score_col in arms:
        ranked = arm.select(
            F.col(id_col),
            F.row_number()
            .over(
                Window.orderBy(
                    F.col(score_col).desc(), F.col(id_col).asc()
                )
            )
            .cast("bigint")
            .alias(rank_name),
        )
        rank_cols.append(rank_name)
        fused = (
            ranked
            if fused is None
            else fused.join(ranked, id_col, "full_outer")
        )
    contribs = [
        F.coalesce(
            F.expr(f"1000000 div ({rrf_k} + {r})"), F.lit(0)
        )
        for r in rank_cols
    ]
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    return (
        fused.select(
            F.col(id_col),
            score.cast("bigint").alias("rrf_micro"),
            *rank_cols,
        )
        .orderBy(F.col("rrf_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_id: int,
    k: int = 10,
    arm_k: int = 20,
    rrf_k: int = 60,
    k1_milli: int = 1200,
    b_milli: int = 750,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BM25 + cosine hybrid search: the lexical arm retrieves the
    top-``arm_k`` BM25 docs for ``terms``, the semantic arm the
    top-``arm_k`` cosine neighbors of the ``query_id`` embedding
    (vec ids are doc ids — TESTDATA.md's embeddings table embeds the
    documents table row-for-row), and RRF fuses the two rankings.
    Output: (doc_id, rrf_micro, rank_lex, rank_sem) — NULL rank means
    the doc surfaced in only one arm."""
    from hbase_gis_spark.operators.similarity import cosine_topk
    from hbase_gis_spark.operators.textstats import bm25_topk

    lex = bm25_topk(
        docs,
        terms,
        k=arm_k,
        k1_milli=k1_milli,
        b_milli=b_milli,
        id_col=doc_id_col,
        text_col=text_col,
    ).select(F.col(doc_id_col).alias("doc_id"), "score_milli")
    sem = cosine_topk(
        emb, query_id, arm_k, id_col=vec_id_col, vec_col=vec_col
    ).select(F.col(vec_id_col).alias("doc_id"), "cosine")
    return rrf_fuse(
        [("rank_lex", lex, "score_milli"), ("rank_sem", sem, "cosine")],
        k=k,
        rrf_k=rrf_k,
    )


def _mmr_pick(rows, k: int, lam: float):
    """The MMR greedy over one query's candidate rows (``__id``,
    ``__v``, ``__rel``): returns the picked row indices in selection
    order and the (rel desc, id asc)-sorted ids and rels they index.
    Shared by :func:`mmr_rerank` and :func:`mmr_rerank_multi`."""
    import numpy as np

    # deterministic candidate order (rel desc, id asc) regardless of
    # Arrow batch arrival
    rows = rows.sort_values(
        ["__rel", "__id"], ascending=[False, True], ignore_index=True
    )
    V = np.array(rows["__v"].tolist(), dtype=np.float64)
    rel = rows["__rel"].to_numpy()
    ids = rows["__id"].to_numpy()
    n = len(rows)
    # sequential-fold pair cosines (dim-major accumulation — the
    # arrowkernels fold order, bit-identical to the SQL oracle)
    acc = np.zeros((n, n))
    sq = np.zeros(n)
    for j in range(V.shape[1]):
        acc += V[:, j : j + 1] * V[:, j][None, :]
        sq += V[:, j] * V[:, j]
    norm = np.sqrt(sq)
    sim = acc / (norm[:, None] * norm[None, :])
    mu = 1.0 - lam
    picked: list[int] = [0]  # rows sorted: first = argmax rel
    remaining = set(range(1, n))
    while remaining and len(picked) < k:
        best, best_score = None, None
        for c in sorted(remaining, key=lambda i: ids[i]):
            ms = max(sim[c, s] for s in picked)
            score = lam * rel[c] - mu * ms
            if best_score is None or score > best_score:
                best, best_score = c, score
        picked.append(best)
        remaining.discard(best)
    return picked, ids, rel


def mmr_rerank(
    df: DataFrame,
    query_id: int,
    k: int,
    fetch_k: int = 50,
    lam_ppm: int = 700_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998)
    diversified top-k: greedily pick the candidate maximizing
    ``λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s)`` — the standard
    cure for a result page of near-duplicates that pure cosine top-k
    returns on a redundant corpus (the RAG context-window assembly
    step next to ``hybrid_rrf_topk``).

    Two stages, stated cost split:

    1. DISTRIBUTED candidate fetch: exact top-``fetch_k`` by cosine
       (broadcast 1-row query, ``TakeOrderedAndProject`` — the
       ``cosine_topk`` shape), carrying the vectors along.
    2. BOUNDED greedy re-rank: the ``fetch_k``-row candidate frame
       coalesces to ONE task that runs the O(k·fetch_k²) greedy in a
       ``mapInPandas`` stage (Arrow-batched, lazy — no driver
       collect). MMR's argmax is inherently sequential, and both k
       and fetch_k are plan-time constants, so a single bounded task
       is the honest shape — the corpus-sized work all happened in
       stage 1 (the rrf_fuse allowlist argument).

    Engine-exactness: candidate-pair cosines use the repo's
    SEQUENTIAL float64 fold (bit-identical to ``cosine_expr`` and the
    DuckDB ``list_sum`` oracle); λ enters as
    ``lam_ppm / 1_000_000.0`` and the complement as
    ``1.0 − λ`` (both engines compute the same IEEE doubles from the
    same integers); score comparisons break ties by (score DESC, id
    ASC). The relevance column rounds to 9 only at the OUTPUT edge
    (the spearman convention) — selection compares unrounded doubles,
    identically on both engines.

    Output: (rank 1..k, ``id_col``, rel_r9) in selection order.

    λ = 1 reduces to pure cosine top-k order (pinned by test);
    λ = 0 is pure anti-redundancy. fetch_k bounds the diversity
    horizon: a duplicate OUTSIDE the top fetch_k can't be demoted
    (stated approximation, standard for MMR-over-ANN)."""
    import numpy as np
    import pandas as pd

    from hbase_gis_spark.functions.arrowkernels import pair_cosine

    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv")
    )
    cand = (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            pair_cosine(F.col(vec_col), F.col("__qv")).alias("__rel"),
        )
        # a zero-norm vector (or query) makes the cosine NaN, and the
        # engines RANK NaN differently once inside the greedy (pandas
        # sorts it last, SQL greatest-first) — excluded by contract,
        # identically on both sides
        .filter(~F.isnan("__rel") & F.col("__rel").isNotNull())
        .orderBy(F.col("__rel").desc(), F.col("__id").asc())
        .limit(fetch_k)
        .coalesce(1)
    )
    lam = lam_ppm / 1_000_000.0

    def _greedy(batches):
        parts = list(batches)
        rows = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame(columns=["__id", "__v", "__rel"])
        )
        if rows.empty:
            yield pd.DataFrame(
                {"rank": pd.Series([], dtype="int64"),
                 id_col: pd.Series([], dtype="int64"),
                 "rel": pd.Series([], dtype="float64")}
            )
            return
        picked, ids, rel = _mmr_pick(rows, k, lam)
        yield pd.DataFrame(
            {
                "rank": np.arange(1, len(picked) + 1, dtype="int64"),
                id_col: ids[picked],
                "rel": rel[picked],
            }
        )

    out = cand.mapInPandas(
        _greedy, schema=f"rank bigint, {id_col} bigint, rel double"
    )
    return out.select(
        "rank", id_col, F.round(F.col("rel"), 9).alias("rel_r9")
    )


def mmr_rerank_multi(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    fetch_k: int = 50,
    lam_ppm: int = 700_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bulk :func:`mmr_rerank`: diversified top-k for a BATCH of query
    vectors in one pass — the one-scan-amortized shape
    (``cosine_topk_multi``'s argument) with the greedy running
    per-query in an ``applyInPandas`` group (each group is exactly
    one query's ≤ ``fetch_k`` candidates — bounded, lazy, no driver
    collect). Per-query results are IDENTICAL to the single-query
    operator (pinned by test): same fold sims, same λ, same
    (score DESC, id ASC) tie rule, same zero-norm exclusion.

    Scale shape: the big side streams ONCE through a broadcast
    |queries|-row dim join (n·|queries| scored rows — the bulk
    retrieval trade); per-query top-fetch_k is ``top_x`` grouped by
    query (never global); the greedy stage touches
    |queries|·fetch_k rows total.

    Output: (query_id, rank 1..k, ``id_col``, rel_r9)."""
    import numpy as np
    import pandas as pd

    from hbase_gis_spark.functions.arrowkernels import pair_cosine

    qdim = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv")
    )
    scored = (
        df.crossJoin(F.broadcast(qdim))
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            "__qid",
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            pair_cosine(F.col(vec_col), F.col("__qv")).alias("__rel"),
        )
        .filter(~F.isnan("__rel") & F.col("__rel").isNotNull())
    )
    cand = top_x(
        scored, "__qid", F.col("__rel").desc(), fetch_k, tiebreak_col="__id"
    )
    lam = lam_ppm / 1_000_000.0

    def _greedy(key: tuple, rows: pd.DataFrame) -> pd.DataFrame:
        picked, ids, rel = _mmr_pick(rows, k, lam)
        return pd.DataFrame(
            {
                "query_id": np.full(len(picked), key[0], dtype="int64"),
                "rank": np.arange(1, len(picked) + 1, dtype="int64"),
                id_col: ids[picked],
                "rel": rel[picked],
            }
        )

    out = cand.groupBy("__qid").applyInPandas(
        _greedy,
        schema=f"query_id bigint, rank bigint, {id_col} bigint, rel double",
    )
    return out.select(
        "query_id", "rank", id_col,
        F.round(F.col("rel"), 9).alias("rel_r9"),
    )
