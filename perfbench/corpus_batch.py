"""corpus_batch: training-data operators on generated corpus tables.

One client; a round runs four registry stages in sequence, each to
the noop sink, with ``spark.catalog.clearCache()`` between stages
outside the timed region. The stages are the registry entries of the
same names (``__spark_entry__.queries()``), run on documents /
embeddings / events tables generated with the testdata schemas. No
spatial planner or geo read path is involved (dbscan uses the grid
derived from event ids).

There is no warm-up round: each timed round is the stages' first
execution in the process, as a fresh batch run pays it.

Checking: two of the DuckDB twins in ``oracle_sql()`` (the
banded-MinHash replay and the recursive-CTE DBSCAN) take minutes, so
the corpus comes in N_VARIANTS variants (``seed % N_VARIANTS``) whose
output digests were pinned by ``pin_corpus.py`` after an exact
comparison of every stage with its DuckDB twin. Each timed stage
observes the digest (count, xor and sum of row hashes) of its output
through ``DataFrame.observe`` on the noop write and must match the pin.
"""

from __future__ import annotations

import json
import os
import time

from common import OpCounter, median, median_time, noop_write

STAGES = {
    # registry name -> module of the operator it drives
    "dedup_minhash_lsh": "dedup",
    "ann_ivf_topk": "similarity",
    "corpus_pipeline": "corpus",
    "dbscan": "spatial_join",
}
N_DOCS = 600
N_EMB = 600
N_EVENTS = 8_000
N_VARIANTS = 4
TABLES = ("documents", "embeddings", "events")
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "corpus_digests.json")


def write_inputs(out_dir: str, variant: int) -> None:
    import inputs

    os.makedirs(out_dir, exist_ok=True)
    inputs.write_documents(f"{out_dir}/documents.parquet", variant, N_DOCS)
    inputs.write_embeddings(f"{out_dir}/embeddings.parquet", variant, N_EMB)
    inputs.write_events(f"{out_dir}/events.parquet", variant, N_EVENTS)


def observed(df, name: str):
    """``df`` with an order-insensitive digest observed on its rows."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.observe(obs, F.count(F.lit(1)).alias("n"),
                      F.bit_xor(h).alias("x"),
                      F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("s")), obs


def digest(obs) -> list[int]:
    d = obs.get
    return [int(d["n"]), int(d["x"] or 0), int(d["s"] or 0)]


class CorpusBatch:
    name = "corpus_batch"
    min_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.latencies: list[tuple[str, float]] = []
        self.pending: list[tuple[str, list[int]]] = []

    def prepare(self) -> None:
        import __spark_entry__ as registry

        self.variant = self.ctx.seed % N_VARIANTS
        self.dir = self.ctx.path("corpus")
        write_inputs(self.dir, self.variant)
        self.registry = registry.queries()
        with open(DIGESTS) as f:
            self.digests = json.load(f)[str(self.variant)]

    def warm_up(self) -> None:
        from hbase_gis_spark.sources.tables import load_table

        for t in TABLES:
            load_table(self.ctx.spark, self.dir, t).count()

    # --- timed phase -------------------------------------------------------------

    def run_round(self) -> float:
        spark, tr = self.ctx.spark, self.ctx.tracer
        wall = 0.0
        for name, module in STAGES.items():
            spark.catalog.clearCache()
            layer = f"operators.{module}.{name}"
            with OpCounter(self.ctx) as oc, tr.span(f"{layer}.op"):
                t0 = time.perf_counter()
                with tr.span(f"{layer}.build"):
                    df, obs = observed(self.registry[name](spark, self.dir), name)
                with tr.span(f"{layer}.exec"):
                    noop_write(df)
                dt = time.perf_counter() - t0
            out = digest(obs)
            tr.count(f"{layer}.jobs", oc.record(df))
            tr.count(f"{layer}.out_rows", out[0])
            wall += dt
            self.latencies.append((name, dt))
            self.pending.append((name, out))
        spark.catalog.clearCache()
        return wall

    def verify(self) -> None:
        for name, d in self.pending:
            self.ctx.check(d == self.digests.get(name), f"{self.name}:{name}:digest")
        self.pending.clear()

    def close(self) -> None:
        pass

    # --- traced-run layer probes -------------------------------------------------

    def probes(self, out: dict) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        from hbase_gis_spark.functions.arrowkernels import (
            fold_dots,
            minhash_mins,
            pair_cosine,
        )
        from hbase_gis_spark.sources.tables import load_table

        spark, tr = self.ctx.spark, self.ctx.tracer
        out["sources.tables.load_s"] = median_time(
            lambda: [load_table(spark, self.dir, t).count() for t in TABLES], reps=1)

        docs = load_table(spark, self.dir, "documents").repartition(self.ctx.cores)
        h32 = docs.select(F.transform(F.split("text", " "),
                                      lambda w: F.xxhash64(w).bitwiseAND(0xFFFFFFFF)
                                      ).alias("h")).cache()
        h32.count()
        out["functions.arrowkernels.minhash_mins_rows_per_s"] = N_DOCS / median_time(
            lambda: noop_write(h32.select(minhash_mins(F.col("h"), 64, 1048583, 97,
                                                 4294967311))), reps=1)
        h32.unpersist()
        emb = load_table(spark, self.dir, "embeddings").repartition(self.ctx.cores).cache()
        emb.count()
        pairs = emb.alias("a").join(emb.alias("b"),
                                    F.col("b.vec_id") == F.col("a.vec_id") + 1)
        out["functions.arrowkernels.pair_cosine_rows_per_s"] = (N_EMB - 1) / median_time(
            lambda: noop_write(pairs.select(pair_cosine(F.col("a.embedding"),
                                                  F.col("b.embedding")))), reps=1)
        planes = np.random.default_rng(0).normal(size=(64, 64))
        out["functions.arrowkernels.fold_dots_rows_per_s"] = N_EMB / median_time(
            lambda: noop_write(emb.select(fold_dots(F.col("embedding"), planes))), reps=1)
        emb.unpersist()

        for name, module in STAGES.items():
            layer = f"operators.{module}.{name}"
            out[f"{layer}.build_s"] = median(tr.durations(f"{layer}.build"))
            out[f"{layer}.exec_s"] = median(tr.durations(f"{layer}.exec"))
            out[f"{layer}.jobs"] = median(tr.counts.get(f"{layer}.jobs", [0]))
            out[f"{layer}.out_rows"] = median(tr.counts.get(f"{layer}.out_rows", [0]))
