"""Command-line entry points mirroring the reference's runnable mains.

Reference CLI surface (SURVEY.md §3):
- Ingest.main(table, source.tsv)                 (Ingest.java:40-99)
- BulkIngest.main(table, family, count, bbox)    (BulkIngest.java:27-105)
- WithinQuery.main(local|remote, wkt)            (WithinQuery.java:176-209)
- KNNQuery.main(lon, lat, n)                     (KNNQuery.java:93-118)
- TopX via coprocessor client                    (TopXEndpoint/TestTopX)

Here a "table" is a geohash-partitioned parquet path (write_geo_table);
``within`` and ``spatialjoin`` read only the partitions the query can
touch, from the layout the table records; exact ``knn`` reads them all.
``within`` accepts the reference's local|remote token for familiarity —
in Spark both modes produce the same plan (driver/executor replaces
client/region-server), so the token is accepted and ignored beyond
being echoed. Output format follows the reference's printlns: one line
per match, then a count and wall time.

Usage (python -m hbase_gis_spark ...):
    ingest      <table-path> <source.tsv>
    bulkingest  <table-path> <count> --bbox=<lon_min,lon_max,lat_min,lat_max>
    within      <local|remote> "<WKT POLYGON>" --table <path>
    knn         <lon> <lat> <n> --table <path>
    topx        <x> <ref_col> <ts_col> --table <path>
    spatialjoin "<WKT>" ["<WKT>" ...] --table <path>
    audit       unique|benford|orphans --table <path> --keys ...
"""

from __future__ import annotations

import argparse
import sys
import time


def _spark(app: str):
    from hbase_gis_spark.session import make_session

    return make_session(app, master="local[*]")


def cmd_ingest(args: argparse.Namespace) -> int:
    from hbase_gis_spark.sources.ingest import ingest_points_tsv, write_geo_table

    spark = _spark("ingest")
    t0 = time.perf_counter()
    df = ingest_points_tsv(spark, args.source)
    write_geo_table(df, args.table)
    n = spark.read.parquet(args.table).count()
    print(f"Geohashed {n} records in {time.perf_counter() - t0:.3f} seconds.")
    return 0


def cmd_bulkingest(args: argparse.Namespace) -> int:
    from hbase_gis_spark.sources.ingest import bulk_points, write_geo_table

    lon_min, lon_max, lat_min, lat_max = (float(x) for x in args.bbox.split(","))
    spark = _spark("bulkingest")
    t0 = time.perf_counter()
    df = bulk_points(spark, args.count, lon_min, lon_max, lat_min, lat_max)
    write_geo_table(df, args.table)
    print(
        f"Generated {args.count} records in {time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_within(args: argparse.Namespace) -> int:
    from hbase_gis_spark.operators.within import within
    from hbase_gis_spark.sources.ingest import read_geo_table

    spark = _spark("within")
    t0 = time.perf_counter()
    df = read_geo_table(spark, args.table)
    out = within(df, args.wkt, geohash_col="geohash")
    # collect ONCE; the GeoJSON export shares the same rows instead of
    # re-running the query (ADVICE r3)
    rows = out.collect()
    if getattr(args, "geojson", None):
        from hbase_gis_spark.geo.geojson import rows_to_geojson

        with open(args.geojson, "w") as fh:
            fh.write(rows_to_geojson(sorted(rows, key=lambda r: r.id)))
    for r in rows:
        print(f"{r.id}\t{r.geohash}\t{r.lon}\t{r.lat}")
    print(
        f"Query matched {len(rows)} points ({args.mode} mode) in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_knn(args: argparse.Namespace) -> int:
    from hbase_gis_spark.operators.knn import knn
    from hbase_gis_spark.sources.ingest import read_geo_table

    spark = _spark("knn")
    t0 = time.perf_counter()
    df = read_geo_table(spark, args.table)
    rows = knn(df, args.lon, args.lat, args.n, tiebreak_col="id").collect()
    for r in rows:
        print(f"{r.id}\t{r.lon}\t{r.lat}\t{r.distance}")
    print(
        f"KNN returned {len(rows)} points in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_spatialjoin(args: argparse.Namespace) -> int:
    from hbase_gis_spark.operators.spatial_join import spatial_join
    from hbase_gis_spark.sources.ingest import read_geo_table

    spark = _spark("spatialjoin")
    t0 = time.perf_counter()
    df = read_geo_table(spark, args.table)
    polys = [(f"p{i}", wkt) for i, wkt in enumerate(args.wkt)]
    rows = spatial_join(df, polys).collect()
    for r in rows:
        print(f"{r.id}\t{r.poly_id}\t{r.lon}\t{r.lat}")
    print(
        f"Spatial join matched {len(rows)} (point, polygon) rows in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_topx(args: argparse.Namespace) -> int:
    from hbase_gis_spark.operators.topx import top_x
    from hbase_gis_spark.sources.ingest import read_geo_table

    spark = _spark("topx")
    t0 = time.perf_counter()
    df = read_geo_table(spark, args.table)
    rows = top_x(df, args.ref_col, args.ts_col, args.x).collect()
    for r in rows:
        print("\t".join(str(v) for v in r))
    print(
        f"TopX returned {len(rows)} candidates in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_ann(args: argparse.Namespace) -> int:
    """Similarity search over an embeddings parquet (vec_id, embedding)."""
    spark = _spark(f"ann-{args.mode}")
    t0 = time.perf_counter()
    df = spark.read.parquet(args.table)
    if args.mode == "exact":
        from hbase_gis_spark.operators.similarity import cosine_topk

        out = cosine_topk(df, args.query_id, args.k)
    elif args.mode == "ivf":
        from hbase_gis_spark.operators.similarity import ann_ivf_topk

        out = ann_ivf_topk(df, args.query_id, args.k)
    elif args.mode == "pq":
        from hbase_gis_spark.operators.similarity import pq_adc_topk

        out = pq_adc_topk(df, args.query_id, args.k, dim=args.dim)
    elif args.mode == "hamming":
        from hbase_gis_spark.operators.similarity import ann_hamming_rerank_topk

        out = ann_hamming_rerank_topk(df, args.query_id, args.k)
    else:  # ivfpq
        from hbase_gis_spark.operators.similarity import ann_ivfpq_topk

        out = ann_ivfpq_topk(df, args.query_id, args.k, dim=args.dim)
    rows = out.collect()
    for r in rows:
        print("\t".join(str(v) for v in r))
    print(
        f"ANN ({args.mode}) returned {len(rows)} neighbors in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_skew(args: argparse.Namespace) -> int:
    """Shuffle-skew report over any parquet table + key column(s)."""
    from hbase_gis_spark.operators.corpus import skew_report

    spark = _spark("skew")
    t0 = time.perf_counter()
    df = spark.read.parquet(args.table)
    keys = args.keys.split(",")
    rows = skew_report(
        df, keys, top_n=args.top_n, target_rows_per_task=args.target
    ).collect()
    for r in rows:
        print("\t".join(str(v) for v in r))
    print(
        f"skew report: top {len(rows)} of key ({args.keys}) in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_audit(args: argparse.Namespace) -> int:
    """Data-quality audits over any parquet table: key uniqueness,
    Benford first digits, functional dependencies, or referential
    orphans vs a dim table."""
    from pyspark.sql import functions as F

    from hbase_gis_spark.operators.quality import (
        benford_first_digit,
        fd_audit,
        referential_orphans,
        uniqueness_audit,
    )

    spark = _spark("audit")
    t0 = time.perf_counter()
    df = spark.read.parquet(args.table)
    if args.op == "unique":
        out = uniqueness_audit(df, args.keys.split(","))
    elif args.op == "fd":
        deps = []
        for spec in args.keys.split(","):
            lhs, _, rhs = spec.partition("->")
            if not rhs:
                print("audit fd --keys wants lhs->rhs[,lhs2->rhs2...]")
                return 2
            deps.append((spec, df, lhs, rhs))
        out = fd_audit(deps)
    elif args.op == "benford":
        if not args.amount:
            print("audit benford requires --amount")
            return 2
        out = benford_first_digit(
            df, F.round(F.col(args.amount) * 100).cast("bigint")
        )
    else:  # orphans
        if not (args.dim and args.dim_key):
            print("audit orphans requires --dim and --dim-key")
            return 2
        dim = spark.read.parquet(args.dim)
        out = referential_orphans(
            [("fk", df, args.keys, dim, args.dim_key)]
        )
    for r in out.collect():
        print("\t".join(str(v) for v in r))
    print(
        f"audit {args.op} done in {time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_search(args: argparse.Namespace) -> int:
    """Text retrieval over a documents parquet: BM25 lexical ranking,
    or hybrid reciprocal-rank fusion with a cosine arm over an
    embeddings parquet (vec ids = doc ids)."""
    spark = _spark(f"search-{args.mode}")
    t0 = time.perf_counter()
    docs = spark.read.parquet(args.table)
    terms = args.terms.split(",")
    if args.mode == "lexical":
        from hbase_gis_spark.operators.textstats import bm25_topk

        out = bm25_topk(docs, terms, k=args.k)
    else:  # hybrid
        if not args.emb or args.query_id is None:
            print("search hybrid requires --emb and --query-id")
            return 2
        from hbase_gis_spark.operators.retrieval import hybrid_rrf_topk

        out = hybrid_rrf_topk(
            docs,
            spark.read.parquet(args.emb),
            terms,
            args.query_id,
            k=args.k,
            arm_k=args.arm_k,
        )
    rows = out.collect()
    for r in rows:
        print("\t".join(str(v) for v in r))
    print(
        f"search ({args.mode}) returned {len(rows)} docs in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_cluster(args: argparse.Namespace) -> int:
    """Density clustering (DBSCAN) over a geo table."""
    from hbase_gis_spark.operators.spatial_join import dbscan
    from hbase_gis_spark.sources.ingest import read_geo_table

    spark = _spark("cluster")
    t0 = time.perf_counter()
    df = read_geo_table(spark, args.table)
    out = dbscan(df, args.eps, args.min_pts).collect()
    n_core = sum(1 for r in out if r.role == "core")
    n_border = sum(1 for r in out if r.role == "border")
    n_clusters = len({r.cluster_id for r in out if r.cluster_id >= 0})
    for r in out:
        if args.all or r.cluster_id >= 0:
            print(f"{r.id}\t{r.cluster_id}\t{r.role}")
    print(
        f"DBSCAN: {n_clusters} clusters, {n_core} core / {n_border} border / "
        f"{len(out) - n_core - n_border} noise points in "
        f"{time.perf_counter() - t0:.3f} seconds."
    )
    return 0


def cmd_corpus(args: argparse.Namespace) -> int:
    """Corpus-pipeline subcommands over a documents parquet/JSONL dir."""
    spark = _spark(f"corpus-{args.op}")
    t0 = time.perf_counter()
    if args.input.endswith((".jsonl", "jsonl")) or args.jsonl:
        from hbase_gis_spark.sources.corpus_io import read_documents_jsonl

        docs = read_documents_jsonl(spark, args.input)
    else:
        docs = spark.read.parquet(args.input)
    if args.op == "shuffle":
        from hbase_gis_spark.operators.corpus import write_training_shards

        write_training_shards(docs, args.output, num_shards=args.shards)
        n = spark.read.parquet(args.output).count()
        print(f"Wrote {n} rows into {args.shards} shards at {args.output}")
    elif args.op == "scrub":
        from hbase_gis_spark.operators.corpus import pii_scrub

        out = pii_scrub(docs)
        out.write.mode("overwrite").parquet(args.output)
        print(f"Scrubbed {spark.read.parquet(args.output).count()} docs")
    elif args.op == "dedup":
        from hbase_gis_spark.operators.dedup import dedup_exact

        out = dedup_exact(docs)
        out.write.mode("overwrite").parquet(args.output)
        print(f"Kept {spark.read.parquet(args.output).count()} unique docs")
    elif args.op == "chunk":
        from hbase_gis_spark.operators.corpus import chunk_documents

        out = chunk_documents(docs, args.chunk_tokens, args.overlap)
        out.write.mode("overwrite").parquet(args.output)
        print(f"Wrote {spark.read.parquet(args.output).count()} chunks")
    elif args.op == "pipeline":
        # full preprocessing composition: lang gate -> exact dedup ->
        # near-dup drop -> per-source cap -> split; one lazy plan.
        # Near-dup stage defaults to the MinHash-LSH scale path — the
        # SAME formulation the registry corpus_pipeline query uses, so
        # the two advertised surfaces cannot diverge on a corpus where
        # LSH recall < 1; --exact opts into the n-gram inverted-index
        # exact pairs (small corpora / ground-truthing).
        from pyspark.sql import functions as F

        from hbase_gis_spark.operators.corpus import domain_cap
        from hbase_gis_spark.operators.dedup import (
            dedup_exact,
            jaccard_pairs,
            minhash_lsh_pairs,
            split_assign,
        )
        from hbase_gis_spark.operators.textstats import lang_id

        gated = docs.withColumn("lang_pred", lang_id("text")).filter(
            F.col("lang_pred") != "und"
        )
        ex = dedup_exact(gated)
        near_dup = jaccard_pairs if args.exact else minhash_lsh_pairs
        drop = (
            near_dup(ex, threshold=0.5)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        out = split_assign(
            domain_cap(ex.join(drop, "doc_id", "left_anti"), cap=args.cap)
        )
        out.write.mode("overwrite").parquet(args.output)
        print(f"Pipeline kept {spark.read.parquet(args.output).count()} docs")
    print(f"corpus {args.op} done in {time.perf_counter() - t0:.3f} seconds.")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hbase_gis_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ingest", help="TSV point file -> geohash-partitioned table")
    s.add_argument("table")
    s.add_argument("source")
    s.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("bulkingest", help="synthetic points -> table")
    s.add_argument("table")
    s.add_argument("count", type=int)
    s.add_argument(
        "--bbox", required=True,
        help="lon_min,lon_max,lat_min,lat_max (option form: a leading"
             " '-' in a positional confuses argparse)",
    )
    s.set_defaults(fn=cmd_bulkingest)

    s = sub.add_parser("within", help="points covered by a WKT polygon")
    s.add_argument("mode", choices=["local", "remote"])
    s.add_argument("wkt")
    s.add_argument("--table", required=True)
    s.add_argument(
        "--geojson",
        help="also write the matches as a GeoJSON FeatureCollection "
        "(the reference's figures format)",
    )
    s.set_defaults(fn=cmd_within)

    s = sub.add_parser("knn", help="k nearest points (planar degree distance)")
    s.add_argument("lon", type=float)
    s.add_argument("lat", type=float)
    s.add_argument("n", type=int)
    s.add_argument("--table", required=True)
    s.set_defaults(fn=cmd_knn)

    s = sub.add_parser(
        "spatialjoin", help="tag points with every covering polygon"
    )
    s.add_argument("wkt", nargs="+", help="one or more WKT polygons")
    s.add_argument("--table", required=True)
    s.set_defaults(fn=cmd_spatialjoin)

    s = sub.add_parser("topx", help="per-group X earliest rows")
    s.add_argument("x", type=int)
    s.add_argument("ref_col")
    s.add_argument("ts_col")
    s.add_argument("--table", required=True)
    s.set_defaults(fn=cmd_topx)

    s = sub.add_parser("ann", help="similarity search over embeddings")
    s.add_argument("query_id", type=int)
    s.add_argument("k", type=int)
    s.add_argument("--table", required=True, help="embeddings parquet dir")
    s.add_argument(
        "--mode",
        choices=["exact", "ivf", "pq", "ivfpq", "hamming"],
        default="exact",
    )
    s.add_argument("--dim", type=int, default=64, help="vector dim (pq modes)")
    s.set_defaults(fn=cmd_ann)

    s = sub.add_parser("skew", help="per-key shuffle-skew report")
    s.add_argument("--table", required=True, help="parquet dir")
    s.add_argument("--keys", required=True, help="comma-separated key columns")
    s.add_argument("--top-n", type=int, default=20, dest="top_n")
    s.add_argument(
        "--target", type=int, default=1_000_000,
        help="rows-per-task target for the salt suggestion",
    )
    s.set_defaults(fn=cmd_skew)

    s = sub.add_parser(
        "audit",
        help="data-quality audits: unique | benford | fd | orphans",
    )
    s.add_argument("op", choices=["unique", "benford", "fd", "orphans"])
    s.add_argument("--table", required=True, help="parquet dir")
    s.add_argument(
        "--keys",
        required=True,
        help="unique: comma-separated columns; orphans: the FK column; "
        "fd: lhs->rhs[,lhs2->rhs2...] dependencies",
    )
    s.add_argument("--amount", help="benford: the money column")
    s.add_argument("--dim", help="orphans: dim parquet dir")
    s.add_argument("--dim-key", dest="dim_key", help="orphans: dim PK column")
    s.set_defaults(fn=cmd_audit)

    s = sub.add_parser(
        "search", help="text retrieval: lexical (BM25) | hybrid (RRF)"
    )
    s.add_argument("mode", choices=["lexical", "hybrid"])
    s.add_argument("--table", required=True, help="documents parquet dir")
    s.add_argument("--terms", required=True, help="comma-separated terms")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--emb", help="hybrid: embeddings parquet dir")
    s.add_argument(
        "--query-id", type=int, dest="query_id",
        help="hybrid: vec_id of the semantic query embedding",
    )
    s.add_argument(
        "--arm-k", type=int, default=20, dest="arm_k",
        help="hybrid: per-arm candidate depth before fusion",
    )
    s.set_defaults(fn=cmd_search)

    s = sub.add_parser("cluster", help="DBSCAN density clustering")
    s.add_argument("eps", type=float, help="neighborhood radius (degrees)")
    s.add_argument("--table", required=True)
    s.add_argument("--min-pts", type=int, default=2, dest="min_pts")
    s.add_argument(
        "--all", action="store_true", help="also print noise points"
    )
    s.set_defaults(fn=cmd_cluster)

    s = sub.add_parser(
        "corpus",
        help="training-corpus ops: shuffle | scrub | dedup | chunk | pipeline",
    )
    s.add_argument(
        "op", choices=["shuffle", "scrub", "dedup", "chunk", "pipeline"]
    )
    s.add_argument("input", help="documents parquet dir (or JSONL with --jsonl)")
    s.add_argument("output")
    s.add_argument("--jsonl", action="store_true")
    s.add_argument("--shards", type=int, default=64)
    s.add_argument("--chunk-tokens", type=int, default=64, dest="chunk_tokens")
    s.add_argument("--overlap", type=int, default=16)
    s.add_argument("--cap", type=int, default=1000, help="per-source cap (pipeline)")
    s.add_argument(
        "--exact",
        action="store_true",
        help="pipeline: exact n-gram Jaccard near-dup pairs instead of "
        "the default MinHash-LSH scale path",
    )
    s.set_defaults(fn=cmd_corpus)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
