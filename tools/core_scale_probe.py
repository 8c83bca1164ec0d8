"""Core-count scaling probe at a BIG scale factor (VERDICT r11
next-round #8): at sf0.1 every per-query wall is dominated by fixed
per-job overhead, so the driver's 8-vs-32-core block cannot
discriminate parallel from serial work. This tool times the named
queries at a bigger sf dir (tools/gen_scaled_sf.py output) under two
core counts, each in its OWN JVM (a master cannot change inside one),
with the high-core JVM run FIRST and AGAIN LAST so ambient-load drift
between the JVMs is visible in the repeat instead of silently renaming
itself "scaling".

Usage:
  python tools/core_scale_probe.py SF_DIR [rounds] [q ...]
  python tools/core_scale_probe.py /tmp/sf1 2 dbscan rfm_segments

Prints one JSON line per core count plus a final summary:
{query: {c32, c8, c32_repeat, ratio = c8/c32_best}}. ratio near the
core ratio (4) = compute-bound parallel work; near 1 = driver/overhead
bound.
"""

from __future__ import annotations

import json
import os
import sys
import time

here = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(here, ".."))

DEFAULT_QUERIES = [
    "dedup_snm_multikey",
    "dbscan",
    "spatial_clusters",
    "spearman_value_time",
    "shuffle_audit",
    "embedding_dup_lsh",
    "profile_diff",
    "lpa_communities",
    "trajectory_similarity",
    "split_drift_audit",
    "dup_cluster_sizes",
    "dedup_snm",
    "rfm_segments",
    "corpus_pipeline",
    "theil_sen_trend",
    "dedup_keep_best",
    "curation_funnel",
    "heaps_law",
    "triangle_count",
    "lorenz_revenue",
]


def run_once(sf_dir: str, cpus: int, names: list[str], rounds: int):
    from hbase_gis_spark.session import make_session

    spark = make_session(
        f"core-scale-{cpus}", master=f"local[{cpus}]", driver_mem="16g"
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # warm codegen/JVM
    try:
        next(iter(qs.values()))(spark, sf_dir).limit(1).collect()
    except Exception:
        pass
    out: dict[str, float] = {}
    for _ in range(rounds):
        for name in names:
            try:
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                cur = out.get(name)
                out[name] = dt if cur is None else min(cur, dt)
            except Exception as e:  # noqa: BLE001
                out[name] = -1.0
                print(f"error {name}@{cpus}: {e}", file=sys.stderr)
    spark.stop()
    return {k: round(v, 3) for k, v in out.items()}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/tmp/sf1"
    rest = args[1:]
    rounds = int(rest[0]) if rest and rest[0].isdigit() else 2
    names = [a for a in rest if not a.isdigit()] or DEFAULT_QUERIES
    c32 = run_once(sf_dir, 32, names, rounds)
    print(json.dumps({"cpus": 32, "queries": c32}), flush=True)
    c8 = run_once(sf_dir, 8, names, rounds)
    print(json.dumps({"cpus": 8, "queries": c8}), flush=True)
    c32b = run_once(sf_dir, 32, names, rounds)
    print(json.dumps({"cpus": "32_repeat", "queries": c32b}), flush=True)
    summary = {}
    for n in names:
        best32 = min(
            [v for v in (c32.get(n), c32b.get(n)) if v and v > 0] or [-1.0]
        )
        r = round(c8[n] / best32, 2) if c8.get(n, -1) > 0 and best32 > 0 else None
        summary[n] = {
            "c32": c32.get(n),
            "c8": c8.get(n),
            "c32_repeat": c32b.get(n),
            "ratio": r,
        }
    print(json.dumps({"sf_dir": sf_dir, "summary": summary}))
    with open("/tmp/core_scale_probe.json", "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
