"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB of
Common-Crawl pages) while remaining correct on local[N] test runs:

* AQE on (runtime coalescing + skew-join splitting backstop — explicit
  salting in the link stage is still the primary skew defense).
* Arrow enabled for the vectorized pandas UDF path (the only Python that
  ever touches row data).
* local mode runs local[SPARK_GRAFT_CPUS] (default: this machine's
  cores); shuffle partitions default to 2×cores locally; on a real
  cluster this is set per-job to ~2-3× total executor cores via
  spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """Local parallelism: SPARK_GRAFT_CPUS, else this machine's cores."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 1
    if not raw.strip().isdecimal() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer >= 1, got {raw!r}")
    return int(raw)


def get_spark(
    app_name: str = "darkbo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = _cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N is the parallelism; a real cluster overrides via --conf.
        # startswith, not substring: spark://localhost:7077 is NOT local mode
        is_local = master.startswith("local")
        n = cpus if is_local else 2048
        shuffle_partitions = max(2 * n, 8) if is_local else n

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing stays parallelism-first (the default): measured
        # A/B here showed bytes-first coalescing collapses the CPU-bound
        # Arrow-UDF pipeline stages to 1-2 tasks (kg_pipeline 6.9→13.0 s,
        # kg_facts_stages 4.8→19.0 s) — partition-by-bytes is the right
        # call only for I/O-bound stages, which AQE cannot distinguish.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow shuffled-hash over sort-merge when the per-partition build
        # side fits (guide §3.1) — no sort, graceful fallback is automatic
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # v2 commit: per-task output promotion instead of a serial driver
        # rename pass per write (matters at many-files-per-stage)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    return builder.getOrCreate()
