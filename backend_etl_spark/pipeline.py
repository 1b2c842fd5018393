"""General / catchup incremental pipeline over the events feed.

The reference's execution heart (SURVEY §3.1/§3.2): Celery beat fires
``*_general`` (incremental since watermark) and ``*_catchup`` (deep
backfill when the watermark is NULL) per platform, fanning out one task
per tenant (tasks.py:80-101, 158-221). Here the whole fleet collapses
into ONE declarative incremental batch per run, both modes in one pass:

    watermark table broadcast-joined onto the source rows (control
    scan, db_helpers.py:49-76): NULL watermark = catchup, window since
    as_of − 90d; else general, window since the watermark
      → windowed source read (pushed-down ts predicate)
      → projection/cleanup
      → ONE idempotent dedup-append write (ON CONFLICT semantics),
        per-mode appended counts observed on it
      → ONE driver-side watermark merge for the tenants of every mode
        that landed rows (tasks.py:198-199)

``as_of`` is injectable so runs are reproducible (no wall-clock in the
plan — SURVEY §7.3 non-determinism discipline).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from backend_etl_spark.sink import WatermarkStore, new_rows

PLATFORM = "events"
CATCHUP_WINDOW = dt.timedelta(days=90)  # reference: 90-day backfill, tasks.py:177


def _mentions_projection(events: DataFrame, *extra: Column) -> DataFrame:
    """Project the raw feed into the conformed 'mentions'-shaped record
    (platform discriminator + natural key + payload), the Spark idiom for
    the reference's 8 per-platform tables (SURVEY §1.4). ``extra``
    columns ride along after the record's own."""
    return events.select(
        F.col("event_id").alias("mention_id"),
        F.lit(PLATFORM).alias("platform"),
        F.col("user_id").alias("tenant_id"),
        F.col("ts").alias("created_at"),
        F.col("event_type").alias("kind"),
        F.col("value"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        *extra,
    )


def run_incremental(
    spark: SparkSession,
    source: DataFrame,
    sink_path: str,
    state: WatermarkStore,
    as_of: dt.datetime,
    tenant_col: str = "user_id",
    ts_col: str = "ts",
) -> dict:
    """One scheduler tick: catchup for never-fetched tenants, general for
    stale ones, in one pass — one write, then one watermark merge.
    Returns per-mode appended-row counts.

    A mode's tenants advance to their max in-window ``created_at``
    (duplicates included) iff that mode appended ≥1 row (tasks.py:198-199
    per mode). Rows whose tenant is NULL are never written and advance
    nothing. A ``mention_id`` that arrives under a catchup AND a general
    tenant in one tick lands once and is counted under the mode of
    whichever copy the sink's dedup keeps, which is arbitrary.

    The watermark table is read lazily by the write and the per-tenant
    collect, so both run before ``advance`` swaps its directory; no plan
    reads it afterwards."""
    wm = (
        state.read()
        .where(F.col("platform") == PLATFORM)
        .select(F.col("tenant_id").alias("__wm_tenant"), "watermark")
    )
    rows = (
        source.where(F.col(tenant_col).isNotNull())
        .join(F.broadcast(wm), F.col(tenant_col) == F.col("__wm_tenant"), "left")
        .where(
            # NULL watermark → deep backfill window (reference: now-90d)
            (F.col(ts_col) > F.coalesce("watermark", F.lit(as_of - CATCHUP_WINDOW)))
            & (F.col(ts_col) <= F.lit(as_of))
        )
    )
    batch = _mentions_projection(rows, F.col("watermark").isNull().alias("catchup"))

    obs = Observation()
    (
        new_rows(batch, sink_path, ["mention_id"])
        .observe(
            obs,
            F.count_if("catchup").alias("catchup"),
            F.count_if(~F.col("catchup")).alias("general"),
        )
        .drop("catchup")
        .write.mode("append")
        .parquet(sink_path)
    )
    counts = {mode: obs.get[mode] for mode in ("catchup", "general")}
    if any(counts.values()):
        landed = (
            batch.groupBy("tenant_id", "catchup")
            .agg(F.unix_micros(F.max("created_at")).alias("watermark_us"))
            .collect()
        )
        state.advance(
            (r["tenant_id"], PLATFORM, r["watermark_us"])
            for r in landed
            if counts["catchup" if r["catchup"] else "general"]
        )
    return counts


def health(spark: SparkSession) -> dict:
    """Session liveness probe — the reference's GET /health (app.py:6-8).
    Returns enough to confirm the session executes work, not just that
    the process is up."""
    probe = spark.range(1).count()
    return {
        "status": "ok" if probe == 1 else "degraded",
        "spark_version": spark.version,
        "parallelism": spark.sparkContext.defaultParallelism,
    }


def fetch_now(
    spark: SparkSession,
    source: DataFrame,
    sink_path: str,
    state: WatermarkStore,
    as_of: dt.datetime,
) -> dict:
    """Run the whole pipeline for ALL tenants, now, synchronously, and
    return a summary — the reference's POST /fetch-now intent
    (app.py:10-14, whose fetch_all_companies import dangles; SURVEY
    §3.3). One incremental tick covers every tenant: catchup for
    never-fetched, general for stale."""
    counts = run_incremental(spark, source, sink_path, state, as_of)
    return {"appended": counts, "as_of": as_of.isoformat()}
