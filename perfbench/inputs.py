"""Seeded input generators for the benchmark workloads.

Everything the program receives is generated here from the workload
seed, so the same seed gives byte-identical inputs (checked by
``test_inputs.py``):

- the clustered point-table layout (boxes handed to ``bulk_points``),
- the geo query rounds (a fixed mix of types per round) with
  Zipf-popular hotspots: most queries come from a finite pool of shapes,
  so identical queries repeat and overlap, and a fixed number per round
  are new shapes, seen for the first time,
- the point TSV for ingest, with repeated coordinates and unparsable
  rows,
- the corpus tables (documents, embeddings, events) with the schemas
  of the engine's testdata.

Only numpy and pyarrow are used; Spark is not needed to build inputs.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sparse region every point and query lives in (1 x 1 degree).
REGION = (-74.0, -73.0, 40.0, 41.0)
# Shares of the stored points: the sparse box, then five dense cores
# with these half-widths in degrees.
BOX_SHARES = (0.35, 0.25, 0.17, 0.11, 0.07, 0.05)
CORE_HALF = (0.05, 0.04, 0.03, 0.02, 0.015)

# Queries of each type in one geo_serve round (24 in all); every round
# has this mix, in a seeded order. The mix, the Zipf skew, the hotspot
# count and the pool size are assumed, not taken from a measured trace.
ROUND_MIX = {
    "within_convex": 6,
    "within_concave": 3,
    "knn": 2,
    "knn_pruned": 2,
    "within_radius": 3,
    "spatial_join": 1,
    "top_x": 1,
    "sql_within": 4,
    "sql_knn": 2,
}
N_HOTSPOTS = 48
# Hotspots on a dense core lie within this share of its half-width of
# its middle.
HOTSPOT_SPREAD = 0.25
POOL_PER_TYPE = 3
ZIPF_S = 1.1
# Queries per round drawn as new shapes instead of from the pools, so a
# result or plan cache is measured on first-seen queries as well as on
# repeats.
FRESH_PER_ROUND = 6
KNN_K = 10
KNN_PRUNE_PRECISION = 6


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding a kind never
    shifts the draws of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919])


# --- point table -------------------------------------------------------------


def point_boxes(seed: int, n_points: int) -> list[dict]:
    """Layout of the stored point table: one sparse box over REGION and
    five dense cores inside it with fixed sizes and skewed shares (the
    seed places the cores), so geohash partitions differ in size by
    orders of magnitude."""
    rng = _rng(seed, "boxes")
    lon0, lon1, lat0, lat1 = REGION
    boxes = [dict(share=BOX_SHARES[0], lon=(lon0, lon1), lat=(lat0, lat1))]
    for w, half in zip(BOX_SHARES[1:], CORE_HALF):
        cx = float(rng.uniform(lon0 + 0.1, lon1 - 0.1))
        cy = float(rng.uniform(lat0 + 0.1, lat1 - 0.1))
        boxes.append(dict(share=w, lon=(cx - half, cx + half),
                          lat=(cy - half, cy + half)))
    out, start = [], 0
    for i, b in enumerate(boxes):
        count = (n_points - start if i == len(boxes) - 1
                 else int(round(b["share"] * n_points)))
        out.append(dict(count=count, id_offset=start, seed=seed * 131 + i,
                        lon=b["lon"], lat=b["lat"]))
        start += count
    return out


# --- query stream ------------------------------------------------------------


def _fmt(x: float) -> str:
    return f"{x:.6f}"


def _ring(pts) -> str:
    pts = list(pts) + [pts[0]]
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts) + ")"


def _convex(rng, cx, cy, r) -> str:
    n = int(rng.integers(4, 9))
    rot = float(rng.uniform(0, 2 * math.pi))
    stretch = float(rng.uniform(0.6, 1.6))
    pts = [(cx + r * stretch * math.cos(rot + 2 * math.pi * k / n),
            cy + r * math.sin(rot + 2 * math.pi * k / n)) for k in range(n)]
    return f"POLYGON ({_ring(pts)})"


def _box(cx, cy, hx, hy):
    return [(cx - hx, cy - hy), (cx + hx, cy - hy), (cx + hx, cy + hy),
            (cx - hx, cy + hy)]


def _concave(rng, cx, cy, r) -> str:
    kind = int(rng.integers(0, 3))
    if kind == 0:  # L-shape
        pts = [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy - r / 3),
               (cx - r / 3, cy - r / 3), (cx - r / 3, cy + r), (cx - r, cy + r)]
        return f"POLYGON ({_ring(pts)})"
    if kind == 1:  # square with a hole
        return (f"POLYGON ({_ring(_box(cx, cy, r, r))}, "
                f"{_ring(_box(cx + r / 7, cy - r / 9, r / 2.5, r / 3))})")
    dx = float(rng.uniform(1.5, 3.0)) * r  # two disjoint boxes
    return (f"MULTIPOLYGON (({_ring(_box(cx - dx / 2, cy, r / 2, r / 2))}), "
            f"({_ring(_box(cx + dx / 2, cy + r / 3, r / 3, r / 2))}))")


def _query(rng, kind: str, hot: tuple[float, float], rank: int) -> dict:
    """One query near hotspot ``hot``. Its size comes from its pool rank
    through a low-discrepancy sequence, so a shape of a given
    popularity has the same size class under every seed."""
    jx, jy = rng.normal(0.0, 0.01, 2)
    cx = float(np.clip(hot[0] + jx, REGION[0] + 0.15, REGION[1] - 0.15))
    cy = float(np.clip(hot[1] + jy, REGION[2] + 0.15, REGION[3] - 0.15))
    u = (rank * 0.6180339887498949 + 0.5) % 1.0
    # log-uniform size over ~3 decades of area: r in [0.003, 0.1] deg
    r = math.exp(math.log(0.003) + u * (math.log(0.1) - math.log(0.003)))
    if kind in ("within_convex", "sql_within"):
        return dict(type=kind, wkt=_convex(rng, cx, cy, r))
    if kind == "within_concave":
        return dict(type=kind, wkt=_concave(rng, cx, cy, min(r, 0.06)))
    if kind in ("knn", "knn_pruned", "sql_knn"):
        return dict(type=kind, lon=round(cx, 6), lat=round(cy, 6), k=KNN_K)
    if kind == "within_radius":
        radius = math.exp(math.log(300.0) + u * (math.log(8000.0) - math.log(300.0)))
        return dict(type=kind, lon=round(cx, 6), lat=round(cy, 6),
                    radius_m=round(radius, 1))
    if kind == "spatial_join":
        polys = [(f"p{i}", _convex(rng, cx + float(rng.normal(0, r / 2)),
                                    cy + float(rng.normal(0, r / 2)),
                                    min(r, 0.04)))
                 for i in range(int(rng.integers(2, 5)))]
        return dict(type=kind, polygons=polys)
    if kind == "top_x":
        return dict(type=kind, x=int(rng.integers(1, 6)))
    raise ValueError(kind)


class _ZipfSchedule:
    """Zipf-popular indices drawn through a golden-ratio sequence
    instead of at random: the j-th draw is the same under every seed,
    and any run of draws holds each index close to its Zipf share. The
    seed then moves where queries are and what shape they have, not how
    many of each popularity class a round holds."""

    def __init__(self, n: int, offset: float):
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.u = offset

    def next(self) -> int:
        self.u = (self.u + 0.6180339887498949) % 1.0
        return min(int(np.searchsorted(self.cdf, self.u, side="right")),
                   len(self.cdf) - 1)


def query_stream(seed: int, n_rounds: int, boxes: list[dict]
                 ) -> tuple[list[dict], list[list[dict]]]:
    """The pool queries and ``n_rounds`` rounds of geo queries, each
    round with the ROUND_MIX counts. Hotspots sit mostly on the dense
    cores and are drawn with Zipf popularity. Each type draws from a
    pool of POOL_PER_TYPE shapes, also Zipf-popular, so identical queries
    repeat; FRESH_PER_ROUND slots of every round (the same types in
    every round) get a new shape instead. Popularity draws follow
    ``_ZipfSchedule``; the seed places hotspots, shapes and the order
    within each round."""
    rng = _rng(seed, "queries")
    hotspots = []
    for i in range(N_HOTSPOTS):
        # three in four on the dense cores, in a fixed rotation, near
        # their middle (so the rows a query covers barely depend on the
        # seed); the rest anywhere in the sparse region
        b = boxes[0] if i % 4 == 3 else boxes[1 + i % (len(boxes) - 1)]
        spread = 1.0 if i % 4 == 3 else HOTSPOT_SPREAD
        hotspots.append(tuple(
            float(np.mean(b[ax]) + spread * (b[ax][1] - b[ax][0]) / 2 * rng.uniform(-1, 1))
            for ax in ("lon", "lat")))
    hot = _ZipfSchedule(N_HOTSPOTS, 0.0)

    def new_query(kind, rank):
        return _query(rng, kind, hotspots[hot.next()], rank)

    pools = {kind: [new_query(kind, i) for i in range(POOL_PER_TYPE)]
             for kind in ROUND_MIX}
    picks = {kind: _ZipfSchedule(POOL_PER_TYPE, 0.5) for kind in ROUND_MIX}
    kinds = [kind for kind, n in ROUND_MIX.items() for _ in range(n)]
    # every fourth slot of the type-ordered list: two convex within, one
    # concave within, knn, within_radius, SQL within and SQL knn
    fresh = set(range(2, len(kinds), len(kinds) // FRESH_PER_ROUND))
    rank = POOL_PER_TYPE
    rounds = []
    for _ in range(n_rounds):
        batch = []
        for i, kind in enumerate(kinds):
            if i in fresh:
                batch.append(new_query(kind, rank))
                rank += 1
            else:
                batch.append(pools[kind][picks[kind].next()])
        rounds.append([batch[i] for i in rng.permutation(len(batch))])
    # the pool interleaved by type, so a batch of it mixes slow and fast types
    return [q for group in zip(*pools.values()) for q in group], rounds


def query_key(q: dict) -> str:
    return json.dumps(q, sort_keys=True)


# --- ingest TSV ----------------------------------------------------------------

TSV_HEADER = "X\tY\tID\tNAME\tADDRESS\tCITY\tURL\tPHONE\tTYPE\tZIP"
DUP_FRAC = 0.05
BAD_FRAC = 0.001


def ingest_rows(seed: int, n: int, batch: str) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """Coordinates for one TSV batch as (lon text, lat text, ids):
    about DUP_FRAC of rows repeat an earlier row's coordinates and
    about BAD_FRAC carry unparsable ones."""
    rng = _rng(seed, "tsv-" + batch)
    lon0, lon1, lat0, lat1 = REGION
    lon = rng.uniform(lon0, lon1, n)
    lat = rng.uniform(lat0, lat1, n)
    # dense core: a third of the batch inside a 0.2-degree box
    core = rng.random(n) < 1 / 3
    c = (rng.uniform(lon0 + 0.1, lon1 - 0.1), rng.uniform(lat0 + 0.1, lat1 - 0.1))
    lon[core] = rng.uniform(c[0] - 0.1, c[0] + 0.1, core.sum())
    lat[core] = rng.uniform(c[1] - 0.1, c[1] + 0.1, core.sum())
    lon_s = np.char.mod("%.7f", lon)
    lat_s = np.char.mod("%.7f", lat)
    dup = np.flatnonzero(rng.random(n) < DUP_FRAC)
    dup = dup[dup > 0]
    src = (rng.random(dup.size) * dup).astype(np.int64)
    lon_s[dup] = lon_s[src]
    lat_s[dup] = lat_s[src]
    bad = np.flatnonzero(rng.random(n) < BAD_FRAC)
    lon_s = lon_s.astype(object)
    lon_s[bad] = "n/a"
    ids = [f"{batch}{i}" for i in range(n)]
    return lon_s, lat_s.astype(object), ids


def write_tsv(path: str, seed: int, n: int, batch: str) -> None:
    lon_s, lat_s, ids = ingest_rows(seed, n, batch)
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write(TSV_HEADER + "\n")
        for x, y, i in zip(lon_s, lat_s, ids):
            f.write(f"{x}\t{y}\t{i}\tn{i}\ta{i}\tcity\thttp://h/{i}\t555\tap\t100\n")


# --- corpus tables -------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """Random texts over a 30-word vocabulary, 10-100 words each, with
    ~5% near-duplicates (an earlier text plus one word)."""
    rng = _rng(seed, "docs")
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(j)] for j in rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def write_embeddings(path: str, seed: int, n_emb: int) -> None:
    """Unit-norm 64-d float vectors in 10 labelled clusters."""
    rng = _rng(seed, "emb")
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    v = centers[label] + rng.normal(0, 2.5, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    }), path)


def write_events(path: str, seed: int, n_events: int) -> None:
    """A month of events over n_events/60 users, ordered by time."""
    rng = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 60, 1), n_events), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[int(j)] for j in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {int(j)}}}' for j in rng.integers(0, 100, n_events)]),
    }), path)
