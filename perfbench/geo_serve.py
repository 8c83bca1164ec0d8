"""geo_serve: the reference's read side as a service.

A closed loop of ``cores // 2`` clients shares one session and sends short
queries over a stored geohash-partitioned point table: convex and
concave ``within`` (partition-pruned), exact and pruned ``knn``,
``within_radius``, cell-mode ``spatial_join``, grouped ``top_x`` on
events, and a SQL share through ``register_sql_api``. Scan-style
results are forced with one aggregate returning (count, order-
insensitive id digest); KNN and top-X rows are collected in full.
Every result is checked against DuckDB over the same parquet (or the
engine's pure-numpy polygon kernel for concave shapes) after the timed
phase.

Most queries repeat a shape from a small pool; a quarter of each round
(``inputs.FRESH_PER_ROUND``) are new shapes. Latencies are
kept apart by first-seen versus repeat, so a cache that speeds repeats
and a cost it adds to first-seen queries both show.
"""

from __future__ import annotations

import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import inputs
from common import OpCounter, median

N_POINTS = 40_000
N_EVENTS = 30_000
N_ROUNDS = 400
# A run measures at least this many queries (four rounds), so ten
# latencies lie beyond the interpolated p90 it reports: (96 - 1) * 0.9 = 85.5.
MIN_OPS = 96
# Untraced/traced pairs of one repeated query for trace.overhead_frac.
OVERHEAD_PAIRS = 5
GOLDEN = 2654435761  # Knuth multiplicative hash constant for the id digest

WITHIN_TYPES = ("within_convex", "within_concave")
KNN_TYPES = ("knn", "knn_pruned")
SQL_TYPES = ("sql_within", "sql_knn")


def _digest_cols(F):
    idl = F.col("id").cast("long")
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(idl).alias("s1"),
        F.sum(F.pmod(idl * F.lit(GOLDEN), F.lit(2**32))).alias("s2"),
    ]


def _norm_digest(row) -> tuple:
    return tuple(int(v or 0) for v in row)


class GeoServe:
    name = "geo_serve"
    min_ops = MIN_OPS

    def __init__(self, ctx):
        self.ctx = ctx
        # Half the cores: with one client per core, queries queued behind
        # each other's tasks on the local[cores] executor, and latencies
        # spread more from run to run.
        self.clients = max(1, ctx.cores // 2)
        self.boxes = inputs.point_boxes(ctx.seed, N_POINTS)
        self.pool, self.rounds = inputs.query_stream(ctx.seed, N_ROUNDS, self.boxes)
        self.next_round = 0
        self.results: list[tuple[dict, object]] = []
        self.latencies: list[tuple[str, float]] = []
        # aligned with latencies: was the query's key run for the first time
        self.first_seen: list[bool] = []
        self.seen: set[str] = set()
        self._oracle_cache: dict[str, object] = {}
        self._duck = None
        self._np = None

    # --- set-up --------------------------------------------------------------

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from hbase_gis_spark.functions.geo import geohash_col
        from hbase_gis_spark.sources.ingest import (
            bulk_points,
            read_geo_table,
            write_geo_table,
        )
        from hbase_gis_spark.sources.tables import ts_us
        from hbase_gis_spark.sqlapi import register_sql_api

        spark = self.ctx.spark
        self.table = self.ctx.path("geo")
        self.events = self.ctx.path("events.parquet")
        # One bulk_points call over the unit square, each id range then
        # mapped into its box: one plan branch instead of a union of six,
        # which took longer to build and run cold than the write itself.
        df = bulk_points(spark, N_POINTS, 0.0, 1.0, 0.0, 1.0, seed=self.boxes[0]["seed"])
        idl = F.col("id").cast("long")
        lon = lat = None
        for b in reversed(self.boxes):  # first matching WHEN wins
            inside = idl >= b["id_offset"]
            (x0, x1), (y0, y1) = b["lon"], b["lat"]
            x = F.lit(x0) + F.col("lon") * (x1 - x0)
            y = F.lit(y0) + F.col("lat") * (y1 - y0)
            lon = F.when(inside, x) if lon is None else lon.when(inside, x)
            lat = F.when(inside, y) if lat is None else lat.when(inside, y)
        df = df.withColumns({"lon": lon, "lat": lat})
        write_geo_table(df.withColumn("geohash", geohash_col(F.col("lat"), F.col("lon"), 12)),
                        self.table)
        inputs.write_events(self.events, self.ctx.seed, N_EVENTS)
        self.pts = read_geo_table(spark, self.table)
        self.pts.createOrReplaceTempView("pts")
        self.ev = spark.read.parquet(self.events).withColumn("ts_us", ts_us())
        register_sql_api(spark)

    def warm_up(self) -> None:
        """The most popular pool query of each type once, by the same
        concurrent clients, so every code path has run before timing
        starts. Without it the first timed round still compiled each
        type's first query and rounds got faster through the run. The
        other pool shapes are first-seen when the stream first sends
        them, and count as such."""
        self._run(self.pool[:len(inputs.ROUND_MIX)])
        self.latencies.clear()
        self.first_seen.clear()
        self.verify()

    # --- one query -------------------------------------------------------------

    def build(self, q: dict):
        """DataFrame for one query: a digest aggregate for scan-style
        types, the full result rows for KNN and top-X."""
        from pyspark.sql import functions as F

        from hbase_gis_spark.operators.knn import knn, within_radius
        from hbase_gis_spark.operators.spatial_join import spatial_join
        from hbase_gis_spark.operators.topx import top_x
        from hbase_gis_spark.operators.within import within
        from hbase_gis_spark.sqlapi import planar_distance_sql, within_convex_sql

        t = q["type"]
        tr = self.ctx.tracer
        if t in WITHIN_TYPES:
            return within(self.pts, q["wkt"], partition_prefix_col="gh_prefix"
                          ).agg(*_digest_cols(F))
        if t == "knn":
            return knn(self.pts, q["lon"], q["lat"], q["k"], tiebreak_col="id"
                       ).select("id", "distance")
        if t == "knn_pruned":
            return knn(self.pts, q["lon"], q["lat"], q["k"], geohash_col="geohash",
                       pruned=True, prefix_precision=inputs.KNN_PRUNE_PRECISION,
                       tiebreak_col="id").select("id", "distance")
        if t == "within_radius":
            return within_radius(self.pts, q["lon"], q["lat"], q["radius_m"]
                                 ).agg(*_digest_cols(F))
        if t == "spatial_join":
            return (spatial_join(self.pts, [tuple(p) for p in q["polygons"]],
                                 geohash_col="geohash")
                    .groupBy("poly_id").agg(*_digest_cols(F)))
        if t == "top_x":
            return top_x(self.ev, "user_id", "ts_us", q["x"],
                         tiebreak_col="event_id").select("user_id", "event_id")
        if t == "sql_within":
            with tr.span("sqlapi.gen"):
                text = (
                    "SELECT count(1), sum(cast(id AS BIGINT)), "
                    f"sum(pmod(cast(id AS BIGINT) * {GOLDEN}, {2**32})) "
                    f"FROM pts WHERE {within_convex_sql(q['wkt'])}")
            return self.ctx.spark.sql(text)
        if t == "sql_knn":
            with tr.span("sqlapi.gen"):
                text = (
                    f"SELECT id, {planar_distance_sql(q['lon'], q['lat'])} "
                    f"AS distance FROM pts ORDER BY distance ASC, id ASC "
                    f"LIMIT {int(q['k'])}")
            return self.ctx.spark.sql(text)
        raise ValueError(t)

    def execute(self, q: dict):
        """Run one query; returns its normalized result."""
        tr = self.ctx.tracer
        layer = _layer(q["type"])
        with OpCounter(self.ctx) as oc, tr.span(f"{layer}.op"):
            with tr.span(f"{layer}.build"):
                df = self.build(q)
            if tr.enabled:
                with tr.span(f"{layer}.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"{layer}.exec"):
                rows = df.collect()
        oc.record(df)
        return _normalize(q["type"], rows)

    # --- timed phase -------------------------------------------------------------

    def run_round(self) -> float:
        """One closed-loop round: ``clients`` clients drain the next batch
        of queries, each sending its next query when the previous
        returns. Returns the round's wall time."""
        batch = self.rounds[self.next_round % N_ROUNDS]
        self.next_round += 1
        return self._run(batch)

    def _run(self, batch: list[dict]) -> float:
        lock = threading.Lock()
        pending = list(reversed(batch))

        def client():
            while True:
                with lock:
                    if not pending:
                        return
                    q = pending.pop()
                    key = inputs.query_key(q)
                    first = key not in self.seen
                    self.seen.add(key)
                t0 = time.perf_counter()
                res = self.execute(q)
                dt = time.perf_counter() - t0
                with lock:
                    self.latencies.append((q["type"], dt))
                    self.first_seen.append(first)
                    self.results.append((q, res))

        t0 = time.perf_counter()
        with ThreadPoolExecutor(self.clients) as pool:
            for f in [pool.submit(client) for _ in range(self.clients)]:
                f.result()
        return time.perf_counter() - t0

    def trace_overhead(self) -> float:
        """Traced over untraced median latency, minus one, of the first
        convex ``within`` query of the last round, already seen, run by
        one client in OVERHEAD_PAIRS alternating untraced/traced pairs.
        These runs' spans are dropped; their results are checked."""
        from common import Tracer

        q = next(q for q in self.rounds[(self.next_round - 1) % N_ROUNDS]
                 if q["type"] == "within_convex")
        real = self.ctx.tracer
        times = {False: [], True: []}
        try:
            for _ in range(OVERHEAD_PAIRS):
                for on in (False, True):
                    self.ctx.tracer = Tracer(enabled=on)
                    t0 = time.perf_counter()
                    self.results.append((q, self.execute(q)))
                    times[on].append(time.perf_counter() - t0)
        finally:
            self.ctx.tracer = real
        return median(times[True]) / median(times[False]) - 1.0

    # --- checking -------------------------------------------------------------

    def verify(self) -> None:
        for q, res in self.results:
            self.ctx.check(res == self.oracle(q), f"{self.name}:{q['type']}")
        self.results.clear()

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            con.execute(
                "CREATE TABLE pts AS SELECT cast(id AS BIGINT) AS id, lon, lat, "
                f"geohash FROM read_parquet('{self.table}/*/*.parquet')")
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.events}'")
            self._duck = con
            cols = con.execute("SELECT id, lon, lat FROM pts").fetchnumpy()
            self._np = (cols["id"], cols["lon"], cols["lat"])
        return self._duck

    def oracle(self, q: dict):
        key = inputs.query_key(q)
        if key not in self._oracle_cache:
            self._oracle_cache[key] = self._oracle(q)
        return self._oracle_cache[key]

    def _oracle(self, q: dict):
        from hbase_gis_spark.geo.geometry import parse_wkt
        from hbase_gis_spark.geo.planner import knn_prefixes
        from hbase_gis_spark.oracles import distance_sql, halfplane_predicate_sql
        from hbase_gis_spark.sqlapi import bbox_sql, haversine_distance_sql

        con = self._duckdb()
        t = q["type"]
        agg = (f"SELECT count(1), sum(id), sum((id * {GOLDEN}) % {2**32}) "
               "FROM pts WHERE ")
        if t in ("within_convex", "sql_within"):
            row = con.execute(agg + f"{bbox_sql(q['wkt'])} AND "
                              f"{halfplane_predicate_sql(q['wkt'])}").fetchone()
            return _norm_digest(row)
        if t == "within_concave":
            ids, lon, lat = self._np
            m = parse_wkt(q["wkt"]).covers(lon, lat)
            return _np_digest(ids[m])
        if t in ("knn", "knn_pruned", "sql_knn"):
            where = ""
            if t == "knn_pruned":
                cells = knn_prefixes(q["lat"], q["lon"], inputs.KNN_PRUNE_PRECISION)
                where = (f"WHERE substring(geohash, 1, {inputs.KNN_PRUNE_PRECISION}) "
                         f"IN ({', '.join(repr(c) for c in cells)})")
            rows = con.execute(
                f"SELECT cast(id AS VARCHAR) AS sid, "
                f"{distance_sql(q['lon'], q['lat'])} AS distance FROM pts {where} "
                f"ORDER BY distance ASC, sid ASC LIMIT {int(q['k'])}").fetchall()
            return [(str(i), float(d)) for i, d in rows]
        if t == "within_radius":
            row = con.execute(agg + f"{haversine_distance_sql(q['lon'], q['lat'])} "
                              f"<= {float(q['radius_m'])!r}").fetchone()
            return _norm_digest(row)
        if t == "spatial_join":
            out = {}
            for pid, wkt in q["polygons"]:
                row = con.execute(agg + f"{bbox_sql(wkt)} AND "
                                  f"{halfplane_predicate_sql(wkt)}").fetchone()
                if row[0]:
                    out[pid] = _norm_digest(row)
            return out
        if t == "top_x":
            rows = con.execute(
                "SELECT user_id, event_id FROM (SELECT user_id, event_id, "
                "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), "
                f"event_id) AS rn FROM events) WHERE rn <= {int(q['x'])}").fetchall()
            return sorted((int(u), int(e)) for u, e in rows)
        raise ValueError(t)

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None

    # --- traced-run layer probes -------------------------------------------------

    def probes(self, out: dict) -> None:
        """Per-layer metrics for geo, planner, operators and sqlapi:
        spans of the traced round plus direct calls of the layers'
        public functions on the same query inputs."""
        from pyspark.sql import functions as F

        from hbase_gis_spark.geo.geometry import parse_wkt
        from hbase_gis_spark.geo.planner import knn_prefixes, minimum_bounding_prefixes
        from hbase_gis_spark.operators.knn import knn
        from hbase_gis_spark.operators.within import within

        tr = self.ctx.tracer
        distinct = {inputs.query_key(q): q
                    for q in self.pool + self.rounds[0]}.values()
        wkts = [q["wkt"] for q in distinct if "wkt" in q]
        origins = [(q["lon"], q["lat"]) for q in distinct if q["type"] == "knn_pruned"]

        def per_call(fn, args, reps=20):
            t0 = time.perf_counter()
            for _ in range(reps):
                for a in args:
                    fn(*a)
            return (time.perf_counter() - t0) / (reps * len(args))

        out["geo.geometry.parse_wkt_us"] = 1e6 * per_call(parse_wkt, [(w,) for w in wkts])
        polys = [parse_wkt(w) for w in wkts]
        out["geo.planner.prefixes_ms"] = 1e3 * per_call(
            minimum_bounding_prefixes, [(p,) for p in polys], reps=2)
        out["geo.planner.prefix_count"] = statistics.mean(
            len(minimum_bounding_prefixes(p)) for p in polys)
        out["geo.planner.knn_prefixes_us"] = 1e6 * per_call(
            knn_prefixes, [(la, lo, inputs.KNN_PRUNE_PRECISION) for lo, la in origins])

        for layer in ("operators.within", "operators.knn"):
            for phase in ("build", "plan", "exec"):
                out[f"{layer}.{phase}_ms"] = 1e3 * median(tr.durations(f"{layer}.{phase}"))
        out["operators.knn.within_radius.exec_ms"] = 1e3 * median(
            tr.durations("operators.knn.within_radius.exec"))
        out["operators.spatial_join.exec_ms"] = 1e3 * median(
            tr.durations("operators.spatial_join.exec"))
        out["operators.topx.exec_ms"] = 1e3 * median(tr.durations("operators.topx.exec"))
        out["sqlapi.gen_us"] = 1e6 * median(tr.durations("sqlapi.gen"))
        out["sqlapi.plan_ms"] = 1e3 * median(tr.durations("sqlapi.plan"))
        out["sqlapi.exec_ms"] = 1e3 * median(tr.durations("sqlapi.exec"))

        # bbox+prefix candidates vs exact matches over a sample of shapes
        cand = match = 0
        for w in [q["wkt"] for q in distinct if q["type"] in WITHIN_TYPES][:2]:
            with tr.span("operators.within.candidates"):
                cand += within(self.pts, w, partition_prefix_col="gh_prefix",
                               exact=False).count()
            match += within(self.pts, w, partition_prefix_col="gh_prefix").count()
        out["operators.within.candidate_rows"] = cand
        out["operators.within.match_rows"] = match
        out["operators.within.match_ratio"] = match / cand if cand else 1.0

        pruned_rows, recall = [], []
        for lo, la in origins[:2]:
            cells = knn_prefixes(la, lo, inputs.KNN_PRUNE_PRECISION)
            pruned_rows.append(self.pts.filter(
                F.substring("geohash", 1, inputs.KNN_PRUNE_PRECISION).isin(cells)).count())
            exact = {r.id for r in knn(self.pts, lo, la, inputs.KNN_K,
                                       tiebreak_col="id").select("id").collect()}
            approx = {r.id for r in knn(self.pts, lo, la, inputs.KNN_K,
                                        geohash_col="geohash", pruned=True,
                                        prefix_precision=inputs.KNN_PRUNE_PRECISION,
                                        tiebreak_col="id").select("id").collect()}
            recall.append(len(exact & approx) / inputs.KNN_K)
        out["operators.knn.pruned_candidate_rows"] = median(pruned_rows)
        out["operators.knn.pruned_recall"] = statistics.mean(recall)

        def p50(types):
            return median([d for t, d in self.latencies if t in types])

        out["geo_serve.within_p50_s"] = p50(WITHIN_TYPES)
        out["geo_serve.knn_p50_s"] = p50(KNN_TYPES)
        out["geo_serve.sql_p50_s"] = p50(SQL_TYPES)
        lat = [d for _, d in self.latencies]
        out["geo_serve.first_seen_p50_s"] = median(
            [d for d, f in zip(lat, self.first_seen) if f])
        out["geo_serve.repeat_p50_s"] = median(
            [d for d, f in zip(lat, self.first_seen) if not f])


def _layer(t: str) -> str:
    if t in WITHIN_TYPES:
        return "operators.within"
    if t in KNN_TYPES:
        return "operators.knn"
    if t in SQL_TYPES:
        return "sqlapi"
    return {"within_radius": "operators.knn.within_radius",
            "spatial_join": "operators.spatial_join",
            "top_x": "operators.topx"}[t]


def _normalize(t: str, rows):
    if t in ("within_convex", "within_concave", "within_radius", "sql_within"):
        return _norm_digest(rows[0])
    if t in ("knn", "knn_pruned", "sql_knn"):
        return [(str(r[0]), float(r[1])) for r in rows]
    if t == "spatial_join":
        return {r[0]: _norm_digest(r[1:]) for r in rows}
    if t == "top_x":
        return sorted((int(r[0]), int(r[1])) for r in rows)
    raise ValueError(t)


def _np_digest(ids) -> tuple:
    ids = ids.astype("int64")
    return (int(ids.size), int(ids.sum()),
            int(((ids * GOLDEN) % 2**32).sum()))
