"""tools/dump_plans.py resolves every query name before Spark starts."""

import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_dump_plans_lists_every_unknown_name_and_writes_nothing(tmp_path):
    """A ``_q_...`` function name resolves to its registry key; every
    name that resolves to nothing is reported, and the run exits
    non-zero before it starts Spark or creates the output directory."""
    outdir = tmp_path / "plans"
    env = dict(os.environ, SPARK_GRAFT_PLANS_TAG=str(outdir))
    proc = subprocess.run(
        [
            sys.executable,
            str(ROOT / "tools" / "dump_plans.py"),
            "x",
            "_q_binned_limit",
            "nope1",
            "nope2",
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode != 0, out
    assert "nope1" in out and "nope2" in out, out
    assert "_q_binned_limit" not in out, out
    assert not outdir.exists()
