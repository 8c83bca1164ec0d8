"""Scale probe across two sf dirs: each (query, sf_dir) measurement
runs in its OWN short-lived Spark subprocess under a hard wall-clock
cap, so one pathological query (or the py4j stall this
machine exhibited twice at ~20 min under load) cannot take the whole
probe down — a timeout is recorded as a finding, not a crash.

Costs one JVM startup (~25 s) per measurement; the startup is timed
separately and subtracted, so the reported seconds are query wall
only. Single-measurement mode is this same file invoked with
``--one``.

Usage:
  python tools/scale_probe_isolated.py SMALL_DIR BIG_DIR FACTOR \
      [cap_sec] [q ...]
Prints one JSON line: per query, the seconds on each side and their
ratio. (It replaced an in-process probe, ``tools/scale_probe.py``,
removed after commit 50a0871.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "dbscan",
    "bootstrap_means",
    "spearman_value_time",
    "corpus_pipeline",
    "spatial_clusters",
    "shuffle_audit",
    "rfm_segments",
    "embedding_dup_lsh",
    "lpa_communities",
    "trajectory_similarity",
]


def run_one(name: str, sf_dir: str) -> None:
    from hbase_gis_spark.session import make_session

    spark = make_session(master="local[32]", driver_mem="24g")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(json.dumps({"query": name, "sec": round(dt, 3)}))
    spark.stop()


def measure(name: str, sf_dir: str, cap_sec: int) -> float | str:
    try:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name,
             sf_dir],
            capture_output=True,
            text=True,
            timeout=cap_sec,
            cwd=REPO,
        )
    except subprocess.TimeoutExpired:
        return f"timeout>{cap_sec}s"
    for line in reversed(p.stdout.strip().splitlines()):
        try:
            d = json.loads(line)
            return float(d["sec"])
        except Exception:  # noqa: BLE001
            continue
    return f"error: {p.stderr.strip()[-200:]}"


def main() -> int:
    if sys.argv[1] == "--one":
        run_one(sys.argv[2], sys.argv[3])
        return 0
    small, big, factor = sys.argv[1], sys.argv[2], float(sys.argv[3])
    cap = int(sys.argv[4]) if len(sys.argv) > 4 else 900
    names = sys.argv[5:] or DEFAULT_QUERIES
    report = {}
    for n in names:
        s = measure(n, small, cap)
        print(f"# {n} small: {s}", file=sys.stderr, flush=True)
        b = measure(n, big, cap)
        print(f"# {n} big: {b}", file=sys.stderr, flush=True)
        row: dict = {"small_sec": s, "big_sec": b}
        if isinstance(s, float) and isinstance(b, float) and s > 0:
            row["ratio"] = round(b / s, 2)
            row["ratio_per_x"] = round(b / s / factor, 3)
        report[n] = row
    print(
        json.dumps(
            {"small": small, "big": big, "factor": factor, "cap_sec": cap,
             "queries": report}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
