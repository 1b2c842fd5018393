"""SparkSession factory and runtime tuning.

The reference ran a 10-process Celery worker pool (Dockerfile:20); here
Spark's scheduler owns parallelism. Configs chosen for the 100 TB design
target: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), explicit shuffle partitioning, UTC session time so
timestamp semantics are deterministic and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe to set on a live session (runtime-mutable).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # small-dim broadcast: `customer`/`nation`/`region` play the reference's
    # `users` control-dimension role (SURVEY §2.7 J1) and must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # plan-text audits (plans/quality.py, the no-global-window gate) parse
    # expression trees out of explain output — never let Spark elide them
    "spark.sql.debug.maxToStringFields": "4096",
}

#: Confs that must be set before the JVM starts.
STARTUP_CONF: dict[str, str] = {
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
    "spark.ui.enabled": "false",
    # session-catalog warehouse for bucketed tables (co-located joins)
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_WAREHOUSE_DIR", "/tmp/spark-graft-warehouse"
    ),
}


def get_spark(app_name: str = "backend-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    Parallelism follows ``SPARK_GRAFT_CPUS`` (driver contract), defaulting
    to ``local[*]``. On a real cluster the same code runs unchanged with a
    cluster master — no conf here is local-mode-specific.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**STARTUP_CONF, **RUNTIME_CONF}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_checkpoint(df) -> None:
    """Free the block-manager blocks behind a SUPERSEDED localCheckpoint.

    ``localCheckpoint`` truncates lineage, so its blocks are pinned in
    the block manager until the RDD is garbage-collected — which for an
    iterative operator means one full generation of state per round
    accumulates (r13 measurement: dedup_keep_best_in_cluster leaked 8
    persistent RDDs PER RUN and repeated in-process runs degraded
    3.7 s → 5.6 s → 7.6 s as leaked blocks squeezed execution memory).
    Iterative loops call this on round N-1's checkpoint as soon as round
    N's is eagerly materialized. The released DataFrame must never be
    touched again (its blocks are unrecoverable by design — that is what
    lineage truncation means); releasing a reliable ``checkpoint(dir)``
    frame is a harmless no-op (its state is files, not blocks).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leak is a perf hazard, never a failure


def release_all_persistent(spark: SparkSession) -> None:
    """Unpersist every persistent RDD in the context (leaked
    localCheckpoint blocks of frames whose queries have fully run).

    The harness calls this BETWEEN queries, outside any timed region:
    entries eagerly localCheckpoint intermediates their returned plan
    depends on (funnel survivor sets, streaming corpus indexes, final
    CC labels), and nothing frees those blocks when the query's action
    completes — by entry ~50 the block manager carries dozens of dead
    generations that evict/stall later entries (the r9 "recycle"
    postmortem pressure, now released incrementally). Callers must not
    invoke this while any live DataFrame still needs a checkpoint.
    """
    try:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
    except Exception:
        pass  # best-effort: a leaked block is a perf hazard, never a wrong result


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session.

    The driver harness passes its own SparkSession into ``queries()``
    callables; this pins the confs that correctness depends on (UTC
    session time, CORRECTED parser) plus the perf confs that are
    runtime-mutable. Unknown/immutable confs are skipped, not fatal.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a static or unknown conf on the caller's session: the rest
            # still apply, and none of the skippable ones changes a result
            pass
    return spark
