"""Per-query profiler for the optimization rounds (guide §1).

For each named query (default: the TOP_N most expensive from the last
full bench artifact) this measures, in ONE warm JVM with the exact
bench session configuration:

- build_s     — DataFrame construction time (includes any eager
                driver-side planning collects, e.g. rank.py shards)
- plan_s      — time for explain("formatted") (analysis+optimization)
- exec_s      — noop-sink execution wall (min over rounds)
- n_jobs      — Spark jobs launched by the query (build + first exec)
- n_exchange / n_pyeval — physical-plan node counts

Usage: python tools/profile_queries.py [sf_dir] [query ...]
Writes /tmp/profile_queries.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

here = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(here, ".."))

TOP_N = 40


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.1"
    only = [a for a in args if "/" not in a]

    from hbase_gis_spark.session import make_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = make_session(
        "profile-queries", master=f"local[{cpus}]", driver_mem="16g"
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if not only:
        with open(os.path.join(here, "..", "bench_full_r11.json")) as f:
            bench = json.load(f)["queries"]
        only = [
            k for k, _ in sorted(bench.items(), key=lambda x: -x[1])[:TOP_N]
        ]

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def _all_job_ids() -> set[int]:
        return set(tracker.getJobIdsForGroup(None) or [])

    # warm
    try:
        next(iter(qs.values()))(spark, sf_dir).limit(1).collect()
    except Exception:
        pass

    rounds = int(os.environ.get("SPARK_GRAFT_PROFILE_ROUNDS", "2"))
    out = {}
    for name in only:
        fn = qs[name]
        rec = {"build_s": None, "plan_s": None, "exec_s": None}
        try:
            jobs0 = _all_job_ids()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rec["build_s"] = round(time.perf_counter() - t0, 4)
            t0 = time.perf_counter()
            _plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            rec["plan_s"] = round(time.perf_counter() - t0, 4)
            rec["n_exchange"] = _plan.count("Exchange")
            rec["n_pyeval"] = _plan.count("EvalPython") + _plan.count(
                "MapInArrow"
            ) + _plan.count("MapInPandas")
            best = None
            for r in range(rounds):
                t0 = time.perf_counter()
                df2 = fn(spark, sf_dir) if r > 0 else df
                df2.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                if r == 0:
                    # jobs attributable to this query: build (eager
                    # planning collects / checkpoint stages) + one exec
                    rec["n_jobs"] = len(_all_job_ids() - jobs0)
                best = dt if best is None else min(best, dt)
            rec["exec_s"] = round(best, 4)
        except Exception as e:  # noqa: BLE001
            rec["error"] = str(e)[:200]
        out[name] = rec
        print(
            f"{name:32s} build={rec.get('build_s')} plan={rec.get('plan_s')} "
            f"exec={rec.get('exec_s')} jobs={rec.get('n_jobs')} "
            f"exch={rec.get('n_exchange')} py={rec.get('n_pyeval')}",
            flush=True,
        )

    with open("/tmp/profile_queries.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
