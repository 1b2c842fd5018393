"""Regression tests for the round-1 ADVICE findings:

1. mixed-tick watermark swap (pipeline.py): a tick with both modes
   must advance both, and no plan may read the watermark dir after
   state.advance() swaps it;
2. rollup replay (streaming/rollup.py): a replayed foreachBatch batch
   must not double-count into the additive fold;
3. NULL composite keys (sink.py): cross-batch anti-join must treat
   NULLs as equal (eqNullSafe), matching dropDuplicates;
4. source limit budget (sources/datasource.py): max_items must be
   charged per emitted row, not per raw line;
5. tokens('') (functions/scalars.py): empty text tokenizes to [].
"""

import datetime as dt
import json

from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from backend_etl_spark.functions.scalars import tokens
from backend_etl_spark.pipeline import run_incremental
from backend_etl_spark.sink import WatermarkStore, write_idempotent
from backend_etl_spark.sources.datasource import FixtureFeedDataSource
from backend_etl_spark.streaming.rollup import maintain_rollup, read_rollup


def test_tokens_empty_and_whitespace_only(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("a  b",), ("  lead trail  ",)], "text STRING"
    ).select(tokens("text").alias("toks"), F.size(tokens("text")).alias("n"))
    rows = df.collect()
    assert rows[0]["toks"] == [] and rows[0]["n"] == 0
    assert rows[1]["toks"] == [] and rows[1]["n"] == 0
    assert rows[2]["toks"] == ["a", "b"]
    assert rows[3]["toks"] == ["lead", "trail"]


def test_sink_null_key_not_reappended(spark, tmp_path):
    path = str(tmp_path / "sink")
    batch = spark.createDataFrame(
        [(1, "a", "x"), (None, "a", "y"), (None, None, "z")],
        "k1 INT, k2 STRING, payload STRING",
    )
    assert write_idempotent(batch, path, ["k1", "k2"]) == 3
    # redelivery: NULL-keyed rows must match their existing copies
    assert write_idempotent(batch, path, ["k1", "k2"]) == 0
    assert spark.read.parquet(path).count() == 3


def test_mixed_tick_catchup_and_general(spark, tmp_path):
    """Tick with BOTH modes active: tenant 1 has a watermark (general),
    tenant 2 is never-fetched (catchup). Both modes land in one write
    and advance in one merge that swaps the watermark dir; each tenant
    must get its own window and watermark."""
    as_of = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for day in (5, 10, 20):  # tenant 1: one event per day in May
        rows.append((eid, 1, dt.datetime(2024, 5, day), "view", 1.0, "{}"))
        eid += 1
    for day in (8, 15):  # tenant 2 (never fetched): May events
        rows.append((eid, 2, dt.datetime(2024, 5, day), "click", 2.0, "{}"))
        eid += 1
    source = spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE, props STRING"
    )
    state = WatermarkStore(spark, str(tmp_path / "wm"))
    # tenant 1 fetched through May 7 already
    state.advance([(1, "events", TimestampType().toInternal(dt.datetime(2024, 5, 7)))])
    counts = run_incremental(
        spark, source, str(tmp_path / "sink"), state, as_of
    )
    assert counts["catchup"] == 2  # tenant 2 backfill
    assert counts["general"] == 2  # tenant 1: May 10 + May 20 (> watermark)
    assert state.get(1, "events") == dt.datetime(2024, 5, 20)
    assert state.get(2, "events") == dt.datetime(2024, 5, 15)
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 4


def test_rollup_replay_does_not_double_count(spark, tmp_path):
    src = str(tmp_path / "events_src")
    rows = [
        (i, dt.datetime(2024, 1, 1, i), 1, "view", 1.0, "{}") for i in range(4)
    ]
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING",
    ).write.parquet(src)
    rollup = str(tmp_path / "rollup")
    maintain_rollup(spark, src, rollup, str(tmp_path / "cp1"))
    first = {
        (r["grain"], str(r["grain_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_rollup(spark, rollup).collect()
    }
    assert first[("day", "2024-01-01 00:00:00", "view")] == (4, 4.0)
    # replay: fresh checkpoint re-delivers the same files as batch 0 —
    # the applied-batch marker must absorb it (no double counting)
    maintain_rollup(spark, src, rollup, str(tmp_path / "cp2"))
    second = {
        (r["grain"], str(r["grain_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_rollup(spark, rollup).collect()
    }
    assert second == first


def test_feed_budget_counts_only_emitted_rows(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    # page 0: 3 rows before the window, 2 inside, plus a blank line
    with open(feed / "page_000.jsonl", "w") as fh:
        for i in range(3):
            fh.write(json.dumps({"id": f"old{i}", "createdAt": "2023-01-01T00:00:00"}) + "\n")
        fh.write("\n")
        for i in range(2):
            fh.write(json.dumps({"id": f"new0{i}", "createdAt": "2024-06-01T00:00:00"}) + "\n")
    # page 1: 5 rows inside the window
    with open(feed / "page_001.jsonl", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"id": f"new1{i}", "createdAt": "2024-06-02T00:00:00"}) + "\n")
    spark.dataSource.register(FixtureFeedDataSource)
    df = (
        spark.read.format("fixture_feed")
        .option("path", str(feed))
        .option("ts_key", "createdAt")
        .option("since", "2024-01-01T00:00:00")
        .option("max_items", "6")
        .load()
    )
    # 2 emitted from page 0 + 4 of page 1's 5 (leftover budget) = 6:
    # the raw-line miscount would have starved page 1 entirely
    assert df.count() == 6
