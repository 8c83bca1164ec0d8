"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from corpus_batch import write_inputs  # noqa: E402


def _snapshot(seed: int, out_dir: str) -> dict[str, bytes]:
    boxes = inputs.point_boxes(seed, 10_000)
    files = {
        "boxes": json.dumps(boxes).encode(),
        "queries": json.dumps(inputs.query_stream(seed, 20, boxes)).encode(),
    }
    os.makedirs(out_dir)
    inputs.write_tsv(os.path.join(out_dir, "a.tsv"), seed, 2_000, "a")
    write_inputs(os.path.join(out_dir, "corpus"), seed)
    for d, _, names in os.walk(out_dir):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                files[os.path.relpath(p, out_dir)] = f.read()
    return files


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _snapshot(3, str(tmp_path / "a"))
    b = _snapshot(3, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], k


def test_other_seed_gives_other_inputs(tmp_path):
    a = _snapshot(3, str(tmp_path / "a"))
    b = _snapshot(4, str(tmp_path / "b"))
    assert all(a[k] != b[k] for k in a)


def test_tsv_has_duplicates_and_unparsable_rows():
    lon, lat, _ = inputs.ingest_rows(5, 20_000, "a")
    pairs = list(zip(lon, lat))
    dup = len(pairs) - len(set(pairs))
    bad = sum(x == "n/a" for x in lon)
    assert 0.03 * len(pairs) < dup < 0.07 * len(pairs)
    assert 0 < bad < 0.003 * len(pairs)
