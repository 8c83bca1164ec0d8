"""Lineage-truncation backend for the iterative operators.

Iterative DataFrame loops (pointer-jumping connected components,
label propagation, pagerank) MUST truncate lineage each round — the
alternative is an exponentially growing logical plan, the real
scale-killer. But ``localCheckpoint`` blocks live on the executors
that computed them: lose one executor of a 1000-executor, hours-long
job and every downstream stage that needs its blocks fails
unrecoverably (local checkpoints are exempt from lineage-based
recompute BY DESIGN — the lineage was truncated). ``spark.checkpoint``
to reliable storage (HDFS/object store via
``sc.setCheckpointDir(...)``) survives executor loss at the cost of a
write+read round-trip per truncation (VERDICT r6 next-round #4).

Policy: the session conf ``spark.hbase_gis.checkpoint.mode`` is the
one switch — a deployment-level setting, so a cluster job opts every
operator in with one conf + ``sc.setCheckpointDir`` and no signature
changes.

- ``"local"`` (default): ``localCheckpoint`` — right for short-lived
  jobs and local[`n`] where executor loss means the whole app died
  anyway.
- ``"reliable"``: ``DataFrame.checkpoint`` — requires a checkpoint
  dir; raises a clear error instead of Spark's deep stack trace when
  it is missing.

Eagerness is orthogonal and preserved per call site (lazy for loop
bodies, eager where the caller needs the cut to materialize NOW).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CONF_KEY = "spark.hbase_gis.checkpoint.mode"
_MODES = ("local", "reliable")


def truncate_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage via the checkpoint backend the
    session conf selects (module docstring). Identical rows under
    either backend (pinned in tests/test_round7_ops.py)."""
    mode = df.sparkSession.conf.get(CONF_KEY, "local")
    if mode not in _MODES:
        raise ValueError(
            f"checkpoint mode must be one of {_MODES} (got {mode!r}) — "
            f"set it via the {CONF_KEY} session conf"
        )
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "reliable checkpointing needs a checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir('<hdfs/s3/"
                "local path>') before running the operator"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
