"""Freeze per-query baseline minima for NEWLY added registry entries.

Runs the named queries (noop sink, interleaved rounds, min-of-N — the
same protocol as bench.py) at sf0.1 in one warm JVM and inserts the
minima into BASELINE_perquery.json for keys NOT already present
(existing baselines are never overwritten — they are the frozen
reference point). Usage:

    python tools/freeze_baseline.py q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print(__doc__)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    from hbase_gis_spark.session import make_session

    spark = make_session(master="local[32]", driver_mem="16g")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"not in registry: {missing}", file=sys.stderr)
        return 1
    # warm
    qs[names[0]](spark, sf_dir).limit(1).collect()
    best: dict[str, float] = {}
    for _ in range(rounds):
        for n in names:
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best[n] = min(best.get(n, float("inf")), dt)
    path = pathlib.Path(__file__).resolve().parents[1] / "BASELINE_perquery.json"
    doc = json.loads(path.read_text())
    added = {}
    for n, v in best.items():
        if n in doc["queries"]:
            print(f"skip {n}: baseline already frozen at {doc['queries'][n]}")
            continue
        doc["queries"][n] = round(v, 4)
        added[n] = round(v, 4)
    doc["n_queries"] = len(doc["queries"])
    path.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"added": added, "sf_dir": sf_dir, "rounds": rounds}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
