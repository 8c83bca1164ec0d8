"""Pin the corpus_batch output digests.

    python3 perfbench/pin_corpus.py            # all variants
    python3 perfbench/pin_corpus.py 0 2        # some variants

Run from the root of a checkout. For each corpus variant it generates
the inputs, runs every corpus_batch stage, compares the collected rows
exactly with the stage's DuckDB twin from ``__spark_entry__.oracle_sql()``
(the comparison ``tools/check_oracles.py`` makes), and records the
digest the benchmark observes. A variant is written to
``corpus_digests.json`` only if every stage matched. Slow: the MinHash
and DBSCAN twins take tens of seconds per variant.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _norm(df):
    out = df[sorted(df.columns)].copy()
    return out.sort_values(by=list(out.columns), ignore_index=True)


def pin_variant(ctx, variant: int) -> dict[str, list[int]]:
    import duckdb
    import pandas as pd

    import __spark_entry__ as registry
    from corpus_batch import STAGES, TABLES, digest, observed, write_inputs

    d = ctx.path(f"pin-{variant}")
    write_inputs(d, variant)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = d
    oracles = registry.oracle_sql()
    queries = registry.queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    out = {}
    try:
        for name in STAGES:
            ctx.spark.catalog.clearCache()
            df, obs = observed(queries[name](ctx.spark, d), name)
            got = _norm(df.toPandas())
            want = _norm(con.execute(oracles[name]).fetchdf())
            if len(got) == 0:
                raise SystemExit(f"variant {variant}: {name} returned no rows")
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
            out[name] = digest(obs)
            print(f"variant {variant}: {name} ok, {len(got)} rows", file=sys.stderr)
    finally:
        con.close()
    return out


def main(argv: list[str]) -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    from common import Context
    from corpus_batch import DIGESTS, N_VARIANTS

    variants = [int(a) for a in argv] or list(range(N_VARIANTS))
    pinned = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            pinned = json.load(f)
    ctx = Context(root, 0, 0, trace=False)
    try:
        ctx.start_session()
        for v in variants:
            pinned[str(v)] = pin_variant(ctx, v)
    finally:
        ctx.close()
    with open(DIGESTS, "w") as f:
        json.dump(dict(sorted(pinned.items())), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
