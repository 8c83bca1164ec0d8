"""Benchmark entry point.

    python3 perfbench/run.py --workload geo_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed`` in
a private work dir under ``.perfbench_tmp/`` (removed at exit), sets
the engine up once from a cold start, measures closed-loop rounds of
the workload for ``--seconds``, checks every output, and prints one
JSON object as the last line of stdout: end-to-end metrics with
``--trace 0``, per-layer metrics (names and units from BENCHMARK.json)
with ``--trace 1``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))


def _load(workload: str):
    from corpus_batch import CorpusBatch
    from geo_ingest import GeoIngest
    from geo_serve import GeoServe

    return {"geo_serve": GeoServe, "geo_ingest": GeoIngest,
            "corpus_batch": CorpusBatch}[workload]


WORKLOADS = ("geo_serve", "geo_ingest", "corpus_batch")


def set_up(ctx, wl) -> dict[str, float]:
    """The cold set-up, timed from process start to ready: imports, JVM
    launch, session, first job, inputs generated and written, warm-up."""
    from common import log

    make, first = ctx.start_session()
    wl.prepare()
    t0 = time.perf_counter()
    wl.warm_up()
    total = time.perf_counter() - PROCESS_START
    log(f"setup: {total:.2f} s (session {make:.2f} s, first job {first:.2f} s, "
        f"warm-up {time.perf_counter() - t0:.2f} s)")
    return {"setup_s": total, "session.make_session_s": make,
            "session.first_job_s": first}


def timed_phase(ctx, wl) -> list[float]:
    """Rounds until ``--seconds`` of measured round time have passed and
    the workload's ``min_ops`` operations have run."""
    from common import log

    walls = []
    while not walls or sum(walls) < ctx.seconds or len(wl.latencies) < wl.min_ops:
        walls.append(wl.run_round())
    fresh = (f", {sum(wl.first_seen)} first-seen" if hasattr(wl, "first_seen") else "")
    log(f"timed: {len(wl.latencies)} ops{fresh} in rounds of "
        f"{', '.join(f'{w:.2f}' for w in walls)} s")
    return walls


def end_to_end(wl, setup: dict, walls: list[float]) -> dict:
    from common import median, percentile

    lat = [d for _, d in wl.latencies]
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (median(walls), "s"),
        "ops_per_s": (len(lat) / sum(walls), "1/s"),
        "latency_p50_s": (percentile(lat, 50), "s"),
        "latency_p90_s": (percentile(lat, 90), "s"),
    }


def _spark_counters(tr) -> dict:
    from common import median

    names = ["spark.jobs_per_op", "spark.tasks_per_op", "spark.scan.files_read",
             "spark.scan.partitions_read", "spark.scan.rows_read",
             "spark.plan.exchanges", "spark.plan.python_evals"]
    out = {n: median(tr.counts.get(n, [0])) for n in names}
    out["spark.cached_rdds_left"] = max(tr.counts.get("spark.cached_rdds_left", [0]))
    return out


def traced(ctx, wl, setup: dict) -> dict:
    """Per-layer metrics. Each workload runs one traced round, the named
    one first on its own set-up (the spark.* counters come from it);
    the others are then set up in the same session, without warm-up, so
    every layer is measured in every traced run. geo_serve then times
    untraced/traced pairs of one query for trace.overhead_frac. Finally
    each workload probes its layers' public functions."""
    from common import log

    tr = ctx.tracer
    out = {"session.make_session_s": setup["session.make_session_s"],
           "session.first_job_s": setup["session.first_job_s"]}
    loaded = {}
    for name in (wl.name,) + tuple(n for n in WORKLOADS if n != wl.name):
        t0 = time.perf_counter()
        tr.enabled = False
        if name == wl.name:
            w = wl
        else:
            # Set up without warm-up, to keep the traced run short: its
            # round starts cold, the same way in every traced run.
            w = _load(name)(ctx)
            w.prepare()
            log(f"set up {name}: {time.perf_counter() - t0:.2f} s")
        loaded[name] = w
        tr.enabled = True
        with tr.span("round", op=f"{name}-round"):
            w.run_round()
        if name == "geo_serve":
            out["trace.overhead_frac"] = w.trace_overhead()
        if w is wl:
            out.update(_spark_counters(tr))
        w.verify()
        log(f"traced {name}: {time.perf_counter() - t0:.2f} s")
    for w in loaded.values():
        t0 = time.perf_counter()
        w.probes(out)
        w.close()
        log(f"probes {w.name}: {time.perf_counter() - t0:.2f} s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "hbase_gis_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of a checkout holding the "
              "hbase_gis_spark package", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    from common import Context, RssSampler, log

    ctx = Context(root, args.seed, args.seconds, trace=False)
    try:
        with RssSampler() as rss:
            wl = _load(args.workload)(ctx)
            setup = set_up(ctx, wl)
            if args.trace:
                values = traced(ctx, wl, setup)
            else:
                walls = timed_phase(ctx, wl)
                t0 = time.perf_counter()
                wl.verify()
                log(f"checks: {time.perf_counter() - t0:.2f} s")
                wl.close()
        if args.trace:
            ctx.tracer.dump(os.path.join(
                root, ".perfbench_tmp", f"trace-{args.workload}-seed{args.seed}.json"))
            with open(os.path.join(root, "BENCHMARK.json")) as f:
                per_layer = json.load(f)["per_layer"]
            metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in per_layer}
        else:
            metrics = end_to_end(wl, setup, walls)
            metrics["peak_rss_mb"] = (rss.peak_mb, "MiB")
    finally:
        ctx.close()
    for f in ctx.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
