"""Idempotent sink + watermark + incremental pipeline semantics
(SURVEY §2.2 K1-K9, §2.10 W1-W5): re-running a batch is a no-op, the
watermark only advances when rows land, catchup handles NULL watermarks."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from backend_etl_spark.pipeline import run_incremental
from backend_etl_spark.sink import WatermarkStore, write_idempotent
from backend_etl_spark.sources.loader import load_table


_us = TimestampType().toInternal  # datetime -> advance()'s epoch micros


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_write_idempotent_double_write_is_noop(spark, events, tmp_path):
    path = str(tmp_path / "sink")
    batch = events.limit(100)
    n1 = write_idempotent(batch, path, ["event_id"])
    assert n1 == 100
    n2 = write_idempotent(batch, path, ["event_id"])
    assert n2 == 0  # at-least-once redelivery absorbed (W5)
    assert spark.read.parquet(path).count() == 100


def test_write_idempotent_dedups_within_batch(spark, tmp_path):
    path = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k INT, payload STRING"
    )
    n = write_idempotent(df, path, ["k"])
    assert n == 2
    assert spark.read.parquet(path).select("k").distinct().count() == 2


def test_write_idempotent_assume_unique_keeps_redelivery_safety(
    spark, events, tmp_path
):
    """assume_unique skips only the intra-batch dedup shuffle; the
    cross-batch anti-join is untouched, so a redelivered asserted-unique
    batch still lands zero rows (the ivfpq initial-build fast path)."""
    path = str(tmp_path / "sink")
    batch = events.limit(100)
    assert write_idempotent(batch, path, ["event_id"], assume_unique=True) == 100
    assert write_idempotent(batch, path, ["event_id"], assume_unique=True) == 0
    assert spark.read.parquet(path).count() == 100


def test_write_idempotent_partial_overlap(spark, events, tmp_path):
    path = str(tmp_path / "sink")
    write_idempotent(events.where(F.col("event_id") < 50), path, ["event_id"])
    n = write_idempotent(events.where(F.col("event_id") < 80), path, ["event_id"])
    assert n == 30


def test_watermark_store_roundtrip(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    assert store.get(1, "events") is None  # never fetched → catchup path
    t1 = dt.datetime(2024, 1, 10)
    t2 = dt.datetime(2024, 1, 20)
    store.advance([(1, "events", _us(t1))])
    assert store.get(1, "events") == t1
    # advance keeps max, never regresses
    store.advance([(1, "events", _us(t2))])
    store.advance([(1, "events", _us(t1))])
    assert store.get(1, "events") == t2


def test_incremental_pipeline_catchup_then_general(spark, events, tmp_path):
    sink = str(tmp_path / "mentions")
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    t_mid = dt.datetime(2024, 1, 15)
    t_end = dt.datetime(2024, 2, 1)

    # tick 1: nothing fetched yet → all tenants take the catchup path
    c1 = run_incremental(spark, events, sink, store, as_of=t_mid)
    assert c1["general"] == 0 and c1["catchup"] > 0
    n_after_1 = spark.read.parquet(sink).count()
    assert n_after_1 == c1["catchup"]

    # tick 2: watermarks set → general path picks up only the tail
    c2 = run_incremental(spark, events, sink, store, as_of=t_end)
    assert c2["catchup"] == 0 and c2["general"] > 0
    total = spark.read.parquet(sink).count()
    assert total == c1["catchup"] + c2["general"]
    expected = events.where(F.col("ts") <= F.lit(t_end)).count()
    assert total == expected

    # tick 3: nothing new → no-op, watermark unchanged
    c3 = run_incremental(spark, events, sink, store, as_of=t_end)
    assert c3 == {"catchup": 0, "general": 0}
    assert spark.read.parquet(sink).count() == total


def test_partitioned_sink_with_pruned_antijoin(spark, tmp_path):
    """Partitioned sink layout: a redelivery of one partition's rows
    plus one new row appends only the new row, across partitions."""
    from backend_etl_spark.sink import write_idempotent

    path = str(tmp_path / "psink")
    b1 = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b"), (3, "2024-01-02", "c")],
        "k bigint, d string, payload string",
    )
    assert write_idempotent(b1, path, ["k"], partition_cols=["d"]) == 3
    assert sorted(p.name for p in (tmp_path / "psink").iterdir() if p.is_dir()) == [
        "d=2024-01-01", "d=2024-01-02",
    ]

    # redelivery of day-2 rows + one new row
    b2 = spark.createDataFrame(
        [(3, "2024-01-02", "c"), (4, "2024-01-02", "d")],
        "k bigint, d string, payload string",
    )
    n = write_idempotent(b2, path, ["k"], partition_cols=["d"])
    assert n == 1
    out = spark.read.parquet(path)
    assert out.count() == 4
    assert out.select("k").distinct().count() == 4


def test_compact_sink_preserves_rows(spark, tmp_path):
    from backend_etl_spark.sink import compact_sink, write_idempotent

    path = str(tmp_path / "csink")
    for i in range(4):  # 4 incremental ticks -> many small files
        batch = spark.createDataFrame(
            [(i * 10 + j, f"p{i}") for j in range(5)], "k bigint, payload string"
        )
        write_idempotent(batch, path, ["k"])
    rows_before = spark.read.parquet(path).collect()

    before, after = compact_sink(spark, path, target_files=1)
    assert before > after == 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == sorted(
        map(tuple, rows_before)
    )
    # sink still dedups correctly after the rewrite
    dup = spark.createDataFrame([(0, "dup")], "k bigint, payload string")
    assert write_idempotent(dup, path, ["k"]) == 0


def test_health_and_fetch_now(spark, sf_dir, tmp_path):
    import datetime as dt2

    from backend_etl_spark.pipeline import fetch_now, health
    from backend_etl_spark.sink import WatermarkStore
    from backend_etl_spark.sources.loader import load_table

    h = health(spark)
    assert h["status"] == "ok" and h["parallelism"] >= 1

    ev = load_table(spark, sf_dir, "events")
    state = WatermarkStore(spark, str(tmp_path / "wm"))
    out = fetch_now(
        spark, ev, str(tmp_path / "sink"), state, dt2.datetime(2030, 1, 1)
    )
    assert out["appended"]["catchup"] == 0  # 90-day window in 2030: no rows
    # with a live as_of inside the data range, rows land
    mx = ev.agg(F.max("ts")).collect()[0][0]
    out2 = fetch_now(spark, ev, str(tmp_path / "sink2"), state2 := WatermarkStore(
        spark, str(tmp_path / "wm2")), mx)
    assert out2["appended"]["catchup"] > 0
    assert state2.read().count() > 0


def test_apply_retention(spark, tmp_path):
    from backend_etl_spark.sink import apply_retention, write_idempotent

    path = str(tmp_path / "rsink")
    df = spark.createDataFrame(
        [(i, "old" if i < 6 else "new") for i in range(10)], "k bigint, age string"
    )
    write_idempotent(df, path, ["k"])
    before, after = apply_retention(spark, path, F.col("age") == "new")
    assert (before, after) == (10, 4)
    assert {r["k"] for r in spark.read.parquet(path).collect()} == {6, 7, 8, 9}
    # deleted keys may re-enter (retention is not a tombstone)
    assert write_idempotent(df.where("k = 0"), path, ["k"]) == 1


def test_sink_schema_evolution_merge(spark, tmp_path):
    """Source drift tolerance at the storage layer: a batch with a new
    column appends cleanly; mergeSchema reads unify old and new rows
    (old rows NULL for the added column) and dedup still works across
    the schema change."""
    from backend_etl_spark.sink import write_idempotent

    path = str(tmp_path / "esink")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, payload string")
    assert write_idempotent(v1, path, ["k"]) == 2

    v2 = spark.createDataFrame(
        [(2, "dup", "x"), (3, "c", "y")], "k bigint, payload string, extra string"
    )
    assert write_idempotent(v2, path, ["k"]) == 1  # k=2 deduped across schemas

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    rows = {r["k"]: (r["payload"], r["extra"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", "y")}


def test_crash_between_write_and_advance_is_idempotent(spark, events, tmp_path):
    """VERDICT r2 item 8: kill-between-write-and-advance recovery.

    The reference advances the watermark only AFTER a successful landing
    (utils/db_helpers.py:78-90, tasks.py:198-199). If the process dies in
    the window after the sink append but before the watermark advance,
    the next tick re-fetches the same window; effectively-once must hold:
    no duplicate rows, and the pipeline recovers liveness on the next
    tick that carries data."""
    from backend_etl_spark.pipeline import _mentions_projection

    sink = str(tmp_path / "mentions")
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    t_mid = dt.datetime(2024, 1, 15)
    t_end = dt.datetime(2024, 2, 1)

    # tick 1 completes normally: rows landed AND watermark advanced
    c1 = run_incremental(spark, events, sink, store, as_of=t_mid)
    assert c1["catchup"] > 0
    n_after_1 = spark.read.parquet(sink).count()

    # tick 2 CRASHES in the window: replicate run_incremental's general
    # pass write, then die before state.advance()
    snapshot = {
        (r["tenant_id"], r["platform"]): r["watermark"] for r in store.read().collect()
    }
    batch = (
        events.join(
            F.broadcast(
                store.read().select("tenant_id", F.col("watermark").alias("since"))
            ),
            events["user_id"] == F.col("tenant_id"),
        )
        .where((F.col("ts") > F.col("since")) & (F.col("ts") <= F.lit(t_end)))
        .drop("tenant_id", "since")
    )
    n_crashed = write_idempotent(_mentions_projection(batch), sink, ["mention_id"])
    assert n_crashed > 0  # the batch DID land before the "crash"
    n_after_crash = spark.read.parquet(sink).count()
    # ...crash here: advance() never runs; watermarks are unchanged
    after = {
        (r["tenant_id"], r["platform"]): r["watermark"] for r in store.read().collect()
    }
    assert after == snapshot

    # tick 3 = recovery re-run of the SAME window end-to-end
    c3 = run_incremental(spark, events, sink, store, as_of=t_end)
    # redelivered rows are all absorbed by the anti-join: zero duplicates
    assert spark.read.parquet(sink).count() == n_after_crash
    assert c3 == {"catchup": 0, "general": 0}
    total = spark.read.parquet(sink).count()
    assert total == events.where(F.col("ts") <= F.lit(t_end)).count()
    dupes = (
        spark.read.parquet(sink)
        .groupBy("mention_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


_EVENTS_DDL = (
    "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING, "
    "value DOUBLE, props STRING"
)


def test_incremental_null_tenant_rows_land_nowhere(spark, tmp_path):
    """Rows with a NULL tenant are never written and advance nothing."""
    as_of = dt.datetime(2024, 6, 1)
    source = spark.createDataFrame(
        [(0, None, dt.datetime(2024, 5, 3), "view", 1.0, "{}"),
         (1, 7, dt.datetime(2024, 5, 4), "view", 1.0, "{}")],
        _EVENTS_DDL,
    )
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    sink = str(tmp_path / "sink")
    assert run_incremental(spark, source, sink, store, as_of) == {"catchup": 1, "general": 0}
    assert [r["mention_id"] for r in spark.read.parquet(sink).collect()] == [1]
    assert [(r["tenant_id"], r["watermark"]) for r in store.read().collect()] == [
        (7, dt.datetime(2024, 5, 4))
    ]


def test_incremental_mixed_tick_catchup_all_duplicates(spark, tmp_path):
    """Catchup tenant 2's rows are all in the sink already: catchup
    appends 0 and tenant 2 stays un-advanced, while general tenant 1
    lands rows and advances in the same tick."""
    as_of = dt.datetime(2024, 6, 1)
    rows = [
        (0, 1, dt.datetime(2024, 5, 10), "view", 1.0, "{}"),
        (1, 1, dt.datetime(2024, 5, 20), "view", 1.0, "{}"),
        (2, 2, dt.datetime(2024, 5, 8), "click", 2.0, "{}"),
        (3, 2, dt.datetime(2024, 5, 15), "click", 2.0, "{}"),
    ]
    source = spark.createDataFrame(rows, _EVENTS_DDL)
    sink = str(tmp_path / "sink")
    from backend_etl_spark.pipeline import _mentions_projection

    write_idempotent(_mentions_projection(source.where("user_id = 2")), sink, ["mention_id"])
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    store.advance([(1, "events", _us(dt.datetime(2024, 5, 7)))])
    counts = run_incremental(spark, source, sink, store, as_of)
    assert counts == {"catchup": 0, "general": 2}
    assert store.get(1, "events") == dt.datetime(2024, 5, 20)
    assert store.get(2, "events") is None
    assert spark.read.parquet(sink).count() == 4


@pytest.mark.parametrize("encoding", ["INT96", "TIMESTAMP_MICROS"])
def test_watermark_advance_merges_into_spark_written_table(spark, tmp_path, encoding):
    """A table written by the Spark path (coalesce(1) parquet, either
    timestamp encoding) is merged max-per-key; platforms stay isolated
    and the result reads back with the store's schema."""
    path = str(tmp_path / "wm")
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, encoding)
    try:
        spark.createDataFrame(
            [(1, "events", dt.datetime(2024, 1, 10)),
             (1, "twitter", dt.datetime(2024, 1, 5)),
             (2, "events", None)],
            WatermarkStore.SCHEMA,
        ).coalesce(1).write.parquet(path)
    finally:
        spark.conf.set(key, prev)
    store = WatermarkStore(spark, path)
    store.advance([
        (1, "events", _us(dt.datetime(2024, 1, 20))),
        (1, "events", _us(dt.datetime(2024, 1, 1))),
        (2, "events", _us(dt.datetime(2024, 1, 3))),
        (3, "events", None),
    ])
    got = {(r["tenant_id"], r["platform"]): r["watermark"] for r in store.read().collect()}
    assert got == {
        (1, "events"): dt.datetime(2024, 1, 20),
        (1, "twitter"): dt.datetime(2024, 1, 5),  # other platform untouched
        (2, "events"): dt.datetime(2024, 1, 3),
        (3, "events"): None,
    }
    assert spark.read.parquet(path).schema.simpleString() == (
        "struct<tenant_id:bigint,platform:string,watermark:timestamp>"
    )


def test_watermark_advance_null_and_empty_updates(spark, tmp_path):
    """A NULL update never clears a value; an empty update list writes
    nothing (no new file, no swap)."""
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    store.advance([])
    assert not (tmp_path / "wm").exists()
    t1 = dt.datetime(2024, 1, 10)
    store.advance([(1, "events", _us(t1))])
    files = sorted(p.stat().st_ino for p in (tmp_path / "wm").iterdir())
    store.advance([])
    assert sorted(p.stat().st_ino for p in (tmp_path / "wm").iterdir()) == files
    store.advance([(1, "events", None)])
    assert store.get(1, "events") == t1
