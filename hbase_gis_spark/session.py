"""Tuned SparkSession factory — the engine's scale configuration in
one place.

What each setting buys at 100 TB (and why it's safe at sf0.001):

- **AQE + coalescePartitions + skewJoin**: runtime re-planning fixes
  the two things static planning can't know — actual shuffle sizes
  (coalesce empties away: an iterative label-propagation round over a
  tiny edge list should not schedule `shuffle.partitions` tasks) and
  skewed join keys (a hot domain/bucket splits into subtasks instead
  of straggling one executor).
- **shuffle.partitions ≈ 2-3× total cores** as a STARTING point; AQE
  coalesces down, so erring high costs little. At 1000 executors ×
  4 cores target ~8-12k; the driver-side default of 200 would make
  every post-shuffle partition ~50 GB at 100 TB.
- **files.maxPartitionBytes 128 MB**: scan parallelism tracks data
  size; with ~128 MB splits a 100 TB scan is ~800k tasks — large but
  schedulable; raising it trades task count for per-task memory.
- **Arrow execution enabled**: every pandas-UDF kernel
  (functions/arrowkernels.py, the concave ray-cast, media kernels)
  and toPandas edge moves via Arrow batches, not pickled rows.
- **nanosAsLong**: the testdata parquet carries TIMESTAMP(NANOS);
  see sources/tables.py for the µs oracle convention.
- **UI and console progress bars off**: local runs, tools and tests
  never read the UI, and progress bars would break the line-per-result
  output of the tools; ``extra`` turns either back on.

This is the only place the package, its CLI, its tools and its test
suite build a SparkSession.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import SparkSession


def make_session(
    app: str = "hbase_gis_spark",
    master: str | None = None,
    driver_mem: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's recommended configs.

    ``master=None`` defers to the environment (spark-submit / cluster
    manager); tests and local runs pass ``local[N]``. Shuffle
    partitions are set to 2× defaultParallelism once the session
    exists, so they follow the actual core count. ``extra`` configs
    go to the builder after the defaults above and override them.

    On a running session ``app`` and ``master`` are left out: the
    builder would otherwise write them into the session's runtime conf,
    where they would no longer match the running context."""
    b = SparkSession.builder
    if SparkContext._active_spark_context is None:
        b = b.appName(app)
        if master:
            b = b.master(master)
    if driver_mem:
        b = b.config("spark.driver.memory", driver_mem)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(2 * spark.sparkContext.defaultParallelism),
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
