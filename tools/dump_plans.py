"""Dump explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <suffix> <query> [query ...]
A query is a registry key of ``__spark_entry__.queries()`` or the name of
its ``_q_...`` function. Every name is resolved before Spark starts; if
any does not resolve, all of them are listed and nothing is written.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_PLANS_TAG (default r11).

Dumps of two commits compare as text: ``mask_plan`` replaces the ids a
session hands out (expression ids ``#123``/``#123L``, ``plan_id=``, the
RDD ids of ``Scan ExistingRDD``, ``_common_expr_N`` and the counter
suffix of DataFrame-API lambda variables, ``lambda x_227``), and the cache
is cleared before each query is built, so a frame an earlier query
cached cannot change a later plan. One difference stays: queries with
several DISTINCT aggregates (``table_profile``, ``window_funnel``,
``profile_diff``, ``dataset_card``, ``contamination_report``) order the
projections of their ``Expand`` by what ran earlier in the session, so
a reordered ``Expand`` there is confirmed by dumping the query alone.
"""

from __future__ import annotations

import os
import re
import sys

here = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(here, ".."))


def resolve(names: list[str], qs: dict) -> tuple[list[str], list[str]]:
    """(registry keys, names that are neither a key nor a function name)."""
    by_fn = {fn.__name__: key for key, fn in qs.items()}
    keys, unknown = [], []
    for name in names:
        key = name if name in qs else by_fn.get(name)
        if key is None:
            unknown.append(name)
        else:
            keys.append(key)
    return keys, unknown


_SESSION_IDS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_N#"),
]


def mask_plan(txt: str) -> str:
    """``txt`` with every session-assigned id replaced by ``N``."""
    for pat, repl in _SESSION_IDS:
        txt = pat.sub(repl, txt)
    return txt


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("SPARK_GRAFT_PLANS_TAG", "r11")
    outdir = os.path.join(here, "..", "plans", tag)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    keys, unknown = resolve(names, qs)
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    os.makedirs(outdir, exist_ok=True)

    from hbase_gis_spark.session import make_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = make_session("dump-plans", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in keys:
        spark.catalog.clearCache()
        df = qs[name](spark, sf_dir)
        txt = mask_plan(df._jdf.queryExecution().explainString(mode))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange)")
    spark.stop()


if __name__ == "__main__":
    main()
