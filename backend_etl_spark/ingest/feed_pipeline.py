"""End-to-end ingest: REST-shaped feed → schema-on-read → projection →
idempotent sink → watermark advance.

This is the reference's scrape-task lifecycle (SURVEY §3.1) as one
declarative pipeline: the connector pushes the time window down
(tasks.py:187-199 computes [watermark | now−90d, now]), from_json types
the payload (N6), the platform projection flattens it (§2.3-2.4), the
sink dedups on the natural key (ON CONFLICT semantics), and the
watermark advances only when rows landed (tasks.py:198-199).
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from backend_etl_spark.ingest import projections, schemas
from backend_etl_spark.sink import WatermarkStore, write_idempotent
from backend_etl_spark.sources.datasource import FixtureFeedDataSource

CATCHUP_WINDOW = dt.timedelta(days=90)  # reference backfill depth, tasks.py:177


@dataclass(frozen=True)
class FeedSpec:
    """One platform's feed wiring: raw payload shape, projection (closed
    over the tenant's dimension attributes — the reference stamps these
    at dispatch, tasks.py:112-119), sink table, and how to read event
    time off the projected record for the incremental window."""

    table: str
    raw_ddl: str
    project: Callable[[DataFrame, dict, Column], DataFrame]
    event_ts: Callable[[], Column] | None


def _lit(t: dict, key: str) -> Column:
    """Tenant attribute → Column. Values may be scalars (per-tenant
    literal path) or Columns (set-based fleet path, where the attribute
    comes off the broadcast-joined users dim)."""
    v = t.get(key)
    return v if isinstance(v, Column) else F.lit(v)


#: dim attributes the platform projections may reference (tasks.py:112-119)
_DIM_KEYS = (
    "company_name", "company_web_address", "facebook_username",
    "feefo_business_info", "place_url",
)


FEEDS: dict[str, FeedSpec] = {
    "twitter": FeedSpec(
        "twitter_mentions",
        schemas.TWITTER_RAW_DDL,
        lambda raw, t, fa: projections.project_twitter(raw, _lit(t, "company_name"), fa),
        lambda: F.col("created_at"),
    ),
    "instagram": FeedSpec(
        "instagram_mentions",
        schemas.INSTAGRAM_RAW_DDL,
        lambda raw, t, fa: projections.project_instagram(raw, _lit(t, "company_name"), fa),
        lambda: F.col("created_at"),
    ),
    "facebook": FeedSpec(
        "facebook_posts",
        schemas.FACEBOOK_RAW_DDL,
        lambda raw, t, fa: projections.project_facebook(
            raw, _lit(t, "company_name"), _lit(t, "facebook_username"), fa
        ),
        lambda: F.to_timestamp("created_at"),  # ISO string in the record
    ),
    "linkedin": FeedSpec(
        "linkedin_posts",
        schemas.LINKEDIN_RAW_DDL,
        lambda raw, t, fa: projections.project_linkedin(raw, _lit(t, "company_name"), fa),
        lambda: F.timestamp_millis(F.col("posted_at_ts")),
    ),
    "reddit": FeedSpec(
        "reddit_posts",
        schemas.REDDIT_RAW_DDL,
        lambda raw, t, fa: projections.project_reddit(raw, _lit(t, "company_name"), fa),
        lambda: F.to_timestamp("review_date"),
    ),
    "trustpilot": FeedSpec(
        "trustpilot_reviews",
        schemas.TRUSTPILOT_RAW_DDL,
        lambda raw, t, fa: projections.project_trustpilot(
            raw, _lit(t, "company_name"), _lit(t, "company_web_address"), fa
        ),
        lambda: F.col("review_date").cast("timestamp"),
    ),
    "feefo": FeedSpec(
        "feefo_reviews",
        schemas.FEEFO_RAW_DDL,
        lambda raw, t, fa: projections.project_feefo(
            raw, _lit(t, "company_name"), _lit(t, "feefo_business_info"), fa
        ),
        lambda: F.col("review_date").cast("timestamp"),
    ),
    "google_maps": FeedSpec(
        "google_maps_reviews",
        schemas.GOOGLE_MAPS_RAW_DDL,
        lambda raw, t, fa: projections.project_google_maps(
            raw, _lit(t, "company_name"), _lit(t, "place_url"), fa
        ),
        lambda: F.to_timestamp("review_date"),
    ),
}


#: users-dim columns the fleet tick carries (id + dispatch handles + dim
#: attributes the projections stamp)
_FLEET_USERS_DDL = """
    id BIGINT, company_name STRING, company_web_address STRING,
    twitter_username STRING, instagram_username STRING,
    facebook_username STRING, linkedin_username STRING,
    feefo_business_info STRING, place_url STRING
"""


def ingest_feed_fleet(
    spark: SparkSession,
    platform: str,
    feeds: dict[int, str],
    sink_path: str,
    state: WatermarkStore,
    users: DataFrame,
    as_of: dt.datetime,
    max_items: int | None = None,
) -> dict:
    """One scheduler tick for the WHOLE fleet of one platform: every
    eligible (tenant, feed) lands through a single plan — one connector
    load over all eligible tenants' feed dirs, the users dim + watermark
    table broadcast-joined on, one projection, one window filter, one
    idempotent write, one watermark advance. The tick's Spark actions
    are the control-table collect and the write, whatever the tenant
    count: the landed set rides the write, and the advance merges on the
    driver. (The reference fans out one Celery task per tenant,
    tasks.py:80-101; the round-1 per-tenant loop here cost 3 jobs + a
    watermark-table scan PER tenant.)

    Semantics:
    - P10 dispatch guard: tenants whose platform handle is NULL on the
      users dim are skipped entirely — no fetch, no rows, no watermark
      (tasks.py:124-126 `if not user.twitter_username: continue`).
    - watermark advance for every tenant with ≥1 in-window item
      PROCESSED, duplicates included — the reference's counter counts
      ON CONFLICT no-ops too (tasks.py:195-199 with db_helpers' silent
      conflict swallow), and the idempotent sink makes that safe.
    - assumes company_name is unique per tenant (the users dim's natural
      key): the projections keep only dim attributes, so the tenant id
      is re-stamped by company_name join after projection.

    Returns {"appended": total_rows, "advanced": [tenant_ids]}.
    """
    spec = FEEDS[platform]
    spark.dataSource.register(FixtureFeedDataSource)
    handle_col = schemas.HANDLE_COLS[platform]

    eligible = users.where(F.col(handle_col).isNotNull())  # P10
    wm = (
        state.read()
        .where(F.col("platform") == platform)
        .select("tenant_id", "watermark")
    )
    dim_cols = [c for c in _DIM_KEYS if c in users.columns]
    # control table: tiny (|tenants|); collected for the eligible set and
    # rebuilt as a local relation, so the write does not re-run the
    # control join. `since` travels as epoch micros: a Python datetime
    # round trip is lossy in a DST fold hour.
    ctl_src = (
        eligible.select(F.col("id").alias("tenant_id"), *dim_cols)
        .join(F.broadcast(wm), "tenant_id", "left")
        .select(
            "tenant_id",
            *dim_cols,
            F.unix_micros(
                F.coalesce(F.col("watermark"), F.lit(as_of - CATCHUP_WINDOW))
            ).alias("since"),
        )
    )
    ctl_rows = ctl_src.collect()
    eligible_ids = {r["tenant_id"] for r in ctl_rows}
    # P10: no handle → no fetch
    paths = {tid: d for tid, d in feeds.items() if tid in eligible_ids}
    if not paths:
        return {"appended": 0, "advanced": []}
    ctl = spark.createDataFrame(ctl_rows, ctl_src.schema).withColumn(
        "since", F.timestamp_micros("since")
    )

    reader = spark.read.format("fixture_feed").option("paths", json.dumps(paths))
    if max_items:
        reader = reader.option("max_items", str(max_items))
    typed = reader.load().select(
        "tenant_id", F.from_json("item", spec.raw_ddl).alias("r")
    ).select("tenant_id", "r.*")
    enriched = typed.join(F.broadcast(ctl), "tenant_id")
    dim = {k: F.col(k) for k in dim_cols}
    projected = spec.project(enriched, dim, F.lit(as_of))

    # re-stamp tenant_id + since through the projection via the dim key
    stamped = projected.join(
        F.broadcast(ctl.select("company_name", "tenant_id", "since")), "company_name"
    )
    if spec.event_ts is not None:
        ts = spec.event_ts()
        stamped = stamped.where((ts > F.col("since")) & (ts <= F.lit(as_of)))

    # the landed-tenant set rides the write action; observed before the
    # sink's dedup, so duplicates count towards the advance
    landed_obs = Observation()
    stamped = stamped.observe(landed_obs, F.collect_set("tenant_id").alias("landed"))
    n = write_idempotent(
        stamped.drop("tenant_id", "since"),
        sink_path,
        schemas.DEDUP_KEYS[spec.table],
    )
    landed = sorted(landed_obs.get["landed"])
    as_of_us = TimestampType().toInternal(as_of)
    state.advance((t, platform, as_of_us) for t in landed)
    return {"appended": n, "advanced": landed}


def ingest_feed(
    spark: SparkSession,
    platform: str,
    feed_dir: str,
    sink_path: str,
    state: WatermarkStore,
    tenant: dict,
    as_of: dt.datetime,
    max_items: int | None = None,
) -> int:
    """One scrape tick for one (tenant, platform) — a thin wrapper over
    the set-based fleet tick (the reference's per-platform task bodies,
    tasks.py:105-717, one hand-written function per platform there; one
    FeedSpec row here). A direct call IS the dispatch decision, so a
    missing handle attribute is defaulted rather than P10-filtered —
    hand ``ingest_feed_fleet`` a real users dim to get the guard.
    Returns rows appended."""
    handle_col = schemas.HANDLE_COLS[platform]
    row = {
        "id": tenant["id"],
        "company_name": tenant.get("company_name"),
        "company_web_address": tenant.get("company_web_address"),
        "twitter_username": tenant.get("twitter_username"),
        "instagram_username": tenant.get("instagram_username"),
        "facebook_username": tenant.get("facebook_username"),
        "linkedin_username": tenant.get("linkedin_username"),
        "feefo_business_info": tenant.get("feefo_business_info"),
        "place_url": tenant.get("place_url"),
    }
    if row.get(handle_col) is None:
        row[handle_col] = "(dispatched)"
    users = spark.createDataFrame([row], _FLEET_USERS_DDL)
    out = ingest_feed_fleet(
        spark,
        platform,
        {tenant["id"]: feed_dir},
        sink_path,
        state,
        users,
        as_of,
        max_items,
    )
    return out["appended"]


def ingest_twitter_feed(
    spark: SparkSession,
    feed_dir: str,
    sink_path: str,
    state: WatermarkStore,
    tenant_id: int,
    company_name: str,
    as_of: dt.datetime,
    max_items: int = 500,  # reference cap, twitter_scraper.py:35
) -> int:
    """One Twitter scrape tick for one tenant (thin wrapper over the
    generic FeedSpec dispatch). Returns rows appended."""
    return ingest_feed(
        spark,
        "twitter",
        feed_dir,
        sink_path,
        state,
        {"id": tenant_id, "company_name": company_name},
        as_of,
        max_items,
    )


def stream_ingest_feed(
    spark: SparkSession,
    platform: str,
    feed_dir: str,
    sink_path: str,
    state: WatermarkStore,
    tenant: dict,
    as_of: dt.datetime,
    checkpoint_dir: str,
) -> None:
    """The generic tick as a true Structured Streaming job: the
    cursor-as-offset stream reader consumes new feed pages, each
    micro-batch runs the same projection + window + idempotent sink +
    watermark advance via foreachBatch. The checkpoint replaces the
    reference's hand-rolled cursor bookkeeping (reddit_scraper.py:57-125)
    — a killed run resumes from the committed page offset, and
    redelivered pages are absorbed by the sink's natural-key dedup
    (effectively-once, SURVEY §2.10 W5)."""
    spec = FEEDS[platform]
    spark.dataSource.register(FixtureFeedDataSource)
    watermark = state.get(tenant["id"], platform)
    since = watermark or (as_of - CATCHUP_WINDOW)

    def _tick(batch: DataFrame, _batch_id: int) -> None:
        raw = batch.select(F.from_json("item", spec.raw_ddl).alias("r")).select("r.*")
        projected = spec.project(raw, tenant, F.lit(as_of))
        if spec.event_ts is not None:
            ts = spec.event_ts()
            projected = projected.where((ts > F.lit(since)) & (ts <= F.lit(as_of)))
        n = write_idempotent(projected, sink_path, schemas.DEDUP_KEYS[spec.table])
        if n:
            state.advance([(tenant["id"], platform, TimestampType().toInternal(as_of))])

    (
        spark.readStream.format("fixture_feed")
        .option("path", feed_dir)
        .load()
        .writeStream.foreachBatch(_tick)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
