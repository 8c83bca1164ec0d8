"""geo_ingest: the write side of the geo_serve table layout.

One client, closed loop. A round is three timed steps:

1. ``ingest_points_tsv`` (CSV parse, native geohash encode,
   first-arrival dedup shuffle) -> ``write_geo_table`` (partitioned
   parquet write);
2. a second TSV batch written with ``mode="append"``;
3. ``bulk_points`` -> ``write_geo_table``.

After each step, outside the timed region, the stored table is read
back and checked against the pure-Python ``geo.geohash.encode_many``
key set of the input (first arrival wins per key).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import inputs
from common import OpCounter, median, median_time, noop_write

TSV_ROWS = 30_000
APPEND_ROWS = 10_000
BULK_ROWS = 30_000
GEOHASH_PROBE_ROWS = 300_000


def _parquet_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def expected_keys(seed: int, n: int, batch: str) -> dict:
    """geohash-12 -> id of the first row carrying it (unparsable rows
    share the null key), from the pure-Python encoder."""
    from hbase_gis_spark.geo.geohash import encode_many

    lon_s, lat_s, ids = inputs.ingest_rows(seed, n, batch)
    lon = np.array([float(x) if x != "n/a" else np.nan for x in lon_s])
    lat = lat_s.astype(float)
    keys = encode_many(lat, lon, 12)
    first: dict = {}
    for k, i in zip(keys, ids):
        first.setdefault(k, i)
    return first


class GeoIngest:
    name = "geo_ingest"
    min_ops = 1
    ROUND_ROWS = TSV_ROWS + APPEND_ROWS + BULK_ROWS

    def __init__(self, ctx):
        self.ctx = ctx
        self.rounds = 0
        self.latencies: list[tuple[str, float]] = []
        self.last_wall = float("nan")
        self.layout: dict[str, float] = {}
        self._expect: dict[str, dict] = {}

    def prepare(self) -> None:
        self.tsv_a = self.ctx.path("ingest-a.tsv")
        self.tsv_b = self.ctx.path("ingest-b.tsv")
        inputs.write_tsv(self.tsv_a, self.ctx.seed, TSV_ROWS, "a")
        inputs.write_tsv(self.tsv_b, self.ctx.seed, APPEND_ROWS, "b")
        self.bulk_box = inputs.point_boxes(self.ctx.seed, BULK_ROWS)[1]

    def warm_up(self) -> None:
        from hbase_gis_spark.sources.ingest import ingest_points_tsv, write_geo_table

        table = self.ctx.path("warm-up")
        write_geo_table(ingest_points_tsv(self.ctx.spark, self.tsv_b), table)
        shutil.rmtree(table, ignore_errors=True)

    # --- timed phase -------------------------------------------------------------

    def _timed(self, fn) -> float:
        tr = self.ctx.tracer
        with OpCounter(self.ctx) as oc, tr.span("sources.ingest.op"):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
        oc.record()
        return dt

    def run_round(self) -> float:
        from hbase_gis_spark.sources.ingest import (
            bulk_points,
            ingest_points_tsv,
            write_geo_table,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        table = self.ctx.path(f"ingested-{self.rounds}")
        bulk_table = self.ctx.path(f"bulk-{self.rounds}")
        self.rounds += 1
        box = self.bulk_box

        def tsv_write():
            with tr.span("sources.ingest.build"):
                df = ingest_points_tsv(spark, self.tsv_a)
            with tr.span("sources.ingest.write_geo_table"):
                write_geo_table(df, table)

        def tsv_append():
            with tr.span("sources.ingest.build"):
                df = ingest_points_tsv(spark, self.tsv_b)
            with tr.span("sources.ingest.append"):
                write_geo_table(df, table, mode="append")

        def bulk_write():
            with tr.span("sources.ingest.bulk_points"):
                df = bulk_points(spark, BULK_ROWS, box["lon"][0], box["lon"][1],
                                 box["lat"][0], box["lat"][1], seed=box["seed"])
                write_geo_table(df, bulk_table)

        steps = (
            ("tsv_write", tsv_write, lambda: self._check_layout(table)),
            ("tsv_append", tsv_append, lambda: self._verify_table(table, ("a", "b"))),
            ("bulk_write", bulk_write, lambda: self._verify_bulk(bulk_table)),
        )
        wall = 0.0
        for step, fn, check in steps:
            dt = self._timed(fn)
            wall += dt
            self.latencies.append((step, dt))
            check()
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(bulk_table, ignore_errors=True)
        self.last_wall = wall
        return wall

    # --- checking -------------------------------------------------------------

    def _expected(self, batch: str) -> dict:
        if batch not in self._expect:
            n = TSV_ROWS if batch == "a" else APPEND_ROWS
            self._expect[batch] = expected_keys(self.ctx.seed, n, batch)
        return self._expect[batch]

    def _check_layout(self, table: str) -> None:
        files = _parquet_files(table)
        rows = self._verify_table(table, ("a",))
        size = sum(map(os.path.getsize, files))
        self.layout = {
            "geo_ingest.bytes_per_row": size / max(rows, 1),
            "geo_ingest.files_written": len(files),
            "sources.ingest.bytes_written": size,
            "sources.ingest.partitions_written": len(
                [d for d in os.listdir(table) if d.startswith("gh_prefix=")]),
            "sources.ingest.rows_dropped": TSV_ROWS - rows,
        }

    def _verify_table(self, table: str, batches: tuple[str, ...]) -> int:
        import pyarrow.parquet as pq

        got = pq.read_table(table, columns=["geohash", "id"]).to_pydict()
        want = []
        for b in batches:
            want.extend(self._expected(b).items())
        ok = sorted(zip(got["geohash"], got["id"]), key=repr) == sorted(want, key=repr)
        self.ctx.check(ok, f"{self.name}:{'+'.join(batches)}")
        return len(got["id"])

    def _verify_bulk(self, table: str) -> None:
        import pyarrow.parquet as pq

        from hbase_gis_spark.geo.geohash import encode_many

        t = pq.read_table(table, columns=["id", "lon", "lat", "geohash"]).to_pydict()
        lon, lat = np.array(t["lon"]), np.array(t["lat"])
        box = self.bulk_box
        ok = (len(t["id"]) == BULK_ROWS
              and len(set(t["id"])) == BULK_ROWS
              and list(encode_many(lat, lon, 12)) == t["geohash"]
              and lon.min() >= box["lon"][0] and lon.max() <= box["lon"][1]
              and lat.min() >= box["lat"][0] and lat.max() <= box["lat"][1])
        self.ctx.check(ok, f"{self.name}:bulk")

    def verify(self) -> None:
        pass

    def close(self) -> None:
        pass

    # --- traced-run layer probes -------------------------------------------------

    def probes(self, out: dict) -> None:
        from pyspark.sql import functions as F

        from hbase_gis_spark.functions.geo import geohash_col
        from hbase_gis_spark.sources.ingest import ingest_points_tsv

        spark, tr = self.ctx.spark, self.ctx.tracer
        parse = median_time(lambda: noop_write(
            ingest_points_tsv(spark, self.tsv_a, dedup=None)))
        full = median_time(lambda: noop_write(ingest_points_tsv(spark, self.tsv_a)))
        out["sources.ingest.tsv_parse_s"] = parse
        out["sources.ingest.dedup_s"] = full - parse

        n = GEOHASH_PROBE_ROWS
        pts = spark.range(n).select((F.rand(1) * 360 - 180).alias("lon"),
                                    (F.rand(2) * 180 - 90).alias("lat"))
        out["functions.geo.geohash_col_rows_per_s"] = n / median_time(
            lambda: noop_write(pts.select(geohash_col(F.col("lat"), F.col("lon"), 12))),
            reps=1)

        out["sources.ingest.write_geo_table_s"] = median(
            tr.durations("sources.ingest.write_geo_table"))
        out["sources.ingest.append_s"] = median(tr.durations("sources.ingest.append"))
        out["sources.ingest.bulk_points_rows_per_s"] = BULK_ROWS / median(
            tr.durations("sources.ingest.bulk_points"))
        out["geo_ingest.rows_per_s"] = self.ROUND_ROWS / self.last_wall
        out.update(self.layout)
