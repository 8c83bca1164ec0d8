"""tools/dump_plans.py resolves every query name before Spark starts and
writes plans with their session ids masked."""

import importlib.util
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


def _dump_plans_module():
    spec = importlib.util.spec_from_file_location(
        "dump_plans", ROOT / "tools" / "dump_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_mask_plan_replaces_session_ids_only():
    """Two dumps of one plan from different sessions differ only in the
    ids the session hands out; masking makes them equal text and keeps
    every other number (operator ids, codegen ids, literals)."""
    mask_plan = _dump_plans_module().mask_plan
    a = (
        "(1) Scan ExistingRDD [codegen id : 1]\n"
        "Output [2]: [id#12L, v#13]\n"
        "Arguments: [id#12L, v#13], MapPartitionsRDD[41] at "
        "applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0, "
        "ExistingRDD, UnknownPartitioning(0)\n"
        "(4) Exchange\n"
        "Arguments: hashpartitioning(id#12L, 8), ENSURE_REQUIREMENTS, "
        "[plan_id=207]\n"
        "(5) Filter [codegen id : 2]\n"
        "Condition : ((__rn#30 <= 5) AND (_common_expr_0#31 > 1.5))\n"
        "(6) Filter [codegen id : 2]\n"
        "Condition : exists(sequence(1, 9, None, Some(UTC)), "
        "lambdafunction((__r#32 = (lambda i_226#33 * 7)), "
        "lambda i_226#33, false))\n"
    )
    b = (
        a.replace("#12L", "#980L").replace("#13", "#981")
        .replace("RDD[41]", "RDD[7]").replace("plan_id=207", "plan_id=3")
        .replace("#30", "#1002").replace("#31", "#1003")
        .replace("_common_expr_0", "_common_expr_4")
        .replace("i_226", "i_301")
    )
    assert a != b
    assert mask_plan(a) == mask_plan(b)
    m = mask_plan(a)
    assert "#N" in m and "#12" not in m and "#N]" in m
    assert "plan_id=N" in m and "RDD[N]" in m and "_common_expr_N" in m
    assert "lambda i_N#N" in m
    for kept in ["(1) Scan", "codegen id : 1", "(5) Filter", "<= 5",
                 "1.5", "hashpartitioning(id#N, 8)", "sequence(1, 9,",
                 "UnknownPartitioning(0)"]:
        assert kept in m, kept


def _distinct_plan(order, gids):
    """A formatted-explain fragment of a two-DISTINCT aggregate whose
    Expand lists its groups in ``order`` with group ids ``gids``."""
    cols = {"a": "a#12", "b": "b#13"}
    rows = []
    for pos, (c, gid) in enumerate(zip(order, gids)):
        items = ["null", "null"]
        items[pos] = cols[c]
        rows.append("[" + ", ".join(items + [str(gid)]) + "]")
    out = ", ".join(cols[c] for c in order)
    filters = ", ".join(
        f"partial_count({cols[c]}) FILTER (WHERE (gid#9 = {gid}))"
        for c, gid in sorted(zip(order, gids))
    )
    return (
        "(3) Expand\n"
        "Input [2]: [a#12, b#13]\n"
        f"Arguments: [{', '.join(rows)}], [{out}, gid#9]\n"
        "\n"
        "(4) Sort\n"
        f"Input [3]: [{out}, gid#9]\n"
        "Arguments: ["
        + ", ".join(f"{cols[c]} ASC NULLS FIRST" for c in order)
        + ", gid#9 ASC NULLS FIRST], false, 0\n"
        "\n"
        "(5) HashAggregate\n"
        f"Keys [3]: [{out}, gid#9]\n"
        f"Functions [2]: [{filters}]\n"
    )


def test_mask_plan_orders_expand_groups():
    """Two sessions may list the DISTINCT groups of one Expand in a
    different order, with different group ids; masking puts the groups,
    the grouping keys above the Expand and the ids in one order, and
    every ``FILTER`` keeps the id of its own column."""
    mask_plan = _dump_plans_module().mask_plan
    a = _distinct_plan("ab", [1, 2])
    b = _distinct_plan("ba", [1, 2])
    assert a != b
    ma, mb = mask_plan(a), mask_plan(b)
    assert ma == mb
    assert ma == mask_plan(a.replace("#12", "#40").replace("#9", "#41"))
    assert "[[a#N, null, 1], [null, b#N, 2]], [a#N, b#N, gid#N]" in ma
    assert "Keys [3]: [a#N, b#N, gid#N]" in ma
    assert "[a#N ASC NULLS FIRST, b#N ASC NULLS FIRST, gid#N" in ma
    assert "partial_count(a#N) FILTER (WHERE (gid#N = 1))" in ma
    assert "partial_count(b#N) FILTER (WHERE (gid#N = 2))" in ma
