"""Dump explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <suffix> <query> [query ...]
A query is a registry key of ``__spark_entry__.queries()`` or the name of
its ``_q_...`` function. Every name is resolved before Spark starts; if
any does not resolve, all of them are listed and nothing is written.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_PLANS_TAG (default r11).

Dumps of two commits compare as text: ``mask_plan`` replaces the ids a
session hands out (expression ids ``#123``/``#123L``, ``plan_id=``, the
RDD ids of ``Scan ExistingRDD``, ``_common_expr_N`` and the counter
suffix of DataFrame-API lambda variables, ``lambda x_227``), and the cache
is cleared before each query is built, so a frame an earlier query
cached cannot change a later plan. It also puts the distinct-aggregate
groups of every ``Expand`` in one order (``order_expands``): Spark
orders them by hash codes that differ from session to session, so
queries with several DISTINCT aggregates (``table_profile``,
``window_funnel``, ``profile_diff``, ``dataset_card``,
``contamination_report``) would otherwise print their groups, group
ids and grouping keys in a different order in each dump.
"""

from __future__ import annotations

import os
import re
import sys

here = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(here, ".."))


def resolve(names: list[str], qs: dict) -> tuple[list[str], list[str]]:
    """(registry keys, names that are neither a key nor a function name)."""
    by_fn = {fn.__name__: key for key, fn in qs.items()}
    keys, unknown = [], []
    for name in names:
        key = name if name in qs else by_fn.get(name)
        if key is None:
            unknown.append(name)
        else:
            keys.append(key)
    return keys, unknown


_SESSION_IDS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_N#"),
]


def mask_plan(txt: str) -> str:
    """``txt`` with every session-assigned id replaced by ``N`` and the
    groups of every ``Expand`` in one order."""
    for pat, repl in _SESSION_IDS:
        txt = pat.sub(repl, txt)
    return order_expands(txt)


def _split_top(s: str) -> list[str]:
    """``s`` split at the commas outside any bracket or parenthesis."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


_GID = "gid#N"
_GID_TEST = re.compile(r"\(gid#N = (\d+)\)")


def _order_expand(section: str):
    """One masked ``Expand`` section with its distinct-aggregate groups
    sorted by their columns, and the rewrites that carry the new order
    into the sections that consume it: (old text, new text) pairs and
    the old → new group id map. ``None`` rewrites when the node is not
    a distinct-aggregate Expand."""
    lines = section.split("\n")
    at = next((i for i, l in enumerate(lines) if l.startswith("Arguments: ")), None)
    if at is None:
        return section, None
    projs_text, out_text = _split_top(lines[at][len("Arguments: "):])
    projs = [_split_top(p[1:-1]) for p in _split_top(projs_text[1:-1])]
    out = _split_top(out_text[1:-1])
    if _GID not in out:
        return section, None
    g = out.index(_GID)
    cols = [i for i in range(g) if any(p[i] == "null" for p in projs)]

    def key(p):
        return [p[i] for i in cols if p[i] != "null"]

    regular = [p for p in projs if not key(p)]
    groups = sorted((p for p in projs if key(p)), key=key)
    old_ids = sorted(int(p[g]) for p in groups)
    gid_map = {int(p[g]): new for p, new in zip(groups, old_ids)}
    new_cols = [i for p in groups for i in cols if p[i] != "null"]

    def reorder(items):
        moved = list(items)
        for i, j in zip(cols, new_cols):
            moved[i] = items[j]
        return moved

    new_projs = regular + [reorder(p) for p in groups]
    for p in new_projs:
        p[g] = str(gid_map.get(int(p[g]), p[g]))
    lines[at] = "Arguments: [%s], [%s]" % (
        ", ".join("[" + ", ".join(p) + "]" for p in new_projs),
        ", ".join(reorder(out)),
    )
    rewrites = []
    for suffix in ("", " ASC NULLS FIRST"):
        old = ", ".join(out[i] + suffix for i in cols)
        new = ", ".join(out[i] + suffix for i in new_cols)
        rewrites.append((f"{old}, {_GID}", f"{new}, {_GID}"))
    return "\n".join(lines), (rewrites, gid_map)


def order_expands(txt: str) -> str:
    """Masked plan text with each distinct-aggregate ``Expand``'s groups
    in column order, and the group ids (``gid``) and grouping-key lists
    of the nodes above it renumbered and reordered to match. Formatted
    explain numbers nodes children first, so the consumers of an Expand
    are the sections between it and the next Expand."""
    out, scope = [], None
    for section in txt.split("\n\n"):
        if re.match(r"\(\d+\) Expand", section):
            section, scope = _order_expand(section)
        elif scope is not None:
            rewrites, gid_map = scope
            for old, new in rewrites:
                section = section.replace(old, new)
            section = _GID_TEST.sub(
                lambda m: f"(gid#N = {gid_map.get(int(m[1]), m[1])})", section
            )
        out.append(section)
    return "\n\n".join(out)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("SPARK_GRAFT_PLANS_TAG", "r11")
    outdir = os.path.join(here, "..", "plans", tag)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    keys, unknown = resolve(names, qs)
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    os.makedirs(outdir, exist_ok=True)

    from hbase_gis_spark.session import make_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = make_session("dump-plans", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in keys:
        spark.catalog.clearCache()
        df = qs[name](spark, sf_dir)
        txt = mask_plan(df._jdf.queryExecution().explainString(mode))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange)")
    spark.stop()


if __name__ == "__main__":
    main()
