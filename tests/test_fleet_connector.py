"""Set-based fleet ingest (X1 done right), P10 dispatch guard, W6
bounded retry/backoff, and W8 stream rate limiting."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from backend_etl_spark.ingest.feed_pipeline import (
    _FLEET_USERS_DDL,
    ingest_feed_fleet,
)
from backend_etl_spark.sink import WatermarkStore
from backend_etl_spark.sources.datasource import FixtureFeedDataSource

AS_OF = dt.datetime(2024, 1, 1)


def _twitter_item(i: int, ts: str = "Mon Nov 13 22:13:20 +0000 2023") -> str:
    return json.dumps(
        {"id": f"t{i}", "url": f"u{i}", "text": f"tweet {i}", "createdAt": ts,
         "author": {"name": "a"}}
    )


def _reddit_item(i: int) -> str:
    return json.dumps(
        {"data": {"permalink": f"/r/x/{i}", "title": f"T{i}", "author": "u/a",
                  "score": i, "num_comments": 0, "created_utc": 1700000000.0 + i}}
    )


@pytest.fixture()
def users(spark):
    # tenant 3 has NO twitter handle (P10 target) but has company_name
    rows = [
        {"id": 1, "company_name": "Acme", "twitter_username": "acme_hq"},
        {"id": 2, "company_name": "Globex", "twitter_username": "globex"},
        {"id": 3, "company_name": "Initech", "twitter_username": None},
    ]
    return spark.createDataFrame(rows, _FLEET_USERS_DDL)


def test_fleet_tick_three_tenants_two_platforms(spark, users, tmp_path):
    """One set-based tick per platform covers the fleet: per-tenant
    watermarks advance independently, the handle-less tenant is skipped
    entirely (no rows, no watermark), and redelivery is absorbed."""
    state = WatermarkStore(spark, str(tmp_path / "wm"))
    feeds_tw, feeds_rd = {}, {}
    for tid in (1, 2, 3):
        d = tmp_path / f"tw_{tid}"
        d.mkdir()
        (d / "page_0000.jsonl").write_text(
            "\n".join(_twitter_item(tid * 10 + i) for i in range(3))
        )
        feeds_tw[tid] = str(d)
        d = tmp_path / f"rd_{tid}"
        d.mkdir()
        (d / "page_0000.jsonl").write_text(_reddit_item(tid))
        feeds_rd[tid] = str(d)

    sink_tw = str(tmp_path / "sink_tw")
    out = ingest_feed_fleet(
        spark, "twitter", feeds_tw, sink_tw, state, users, AS_OF
    )
    # P10: tenant 3 (no handle) contributes nothing and gains no watermark
    assert out["appended"] == 6 and out["advanced"] == [1, 2]
    assert state.get(3, "twitter") is None
    assert state.get(1, "twitter") == AS_OF and state.get(2, "twitter") == AS_OF
    sunk = spark.read.parquet(sink_tw)
    assert sunk.count() == 6
    by_co = {r["company_name"]: r["cnt"] for r in
             sunk.groupBy("company_name").agg(F.count("*").alias("cnt")).collect()}
    assert by_co == {"Acme": 3, "Globex": 3}  # dim stamped per tenant

    # second platform: reddit dispatches on company_name (all 3 eligible)
    sink_rd = str(tmp_path / "sink_rd")
    out = ingest_feed_fleet(
        spark, "reddit", feeds_rd, sink_rd, state, users, AS_OF
    )
    assert out["appended"] == 3 and out["advanced"] == [1, 2, 3]
    assert state.get(3, "reddit") == AS_OF
    assert state.get(3, "twitter") is None  # per-(tenant, platform) isolation

    # redelivery tick: watermark = as_of → empty window → no-op
    out = ingest_feed_fleet(
        spark, "twitter", feeds_tw, sink_tw, state, users, AS_OF
    )
    assert out["appended"] == 0 and out["advanced"] == []
    assert spark.read.parquet(sink_tw).count() == 6


def test_fleet_all_tenants_handleless_is_noop(spark, tmp_path):
    state = WatermarkStore(spark, str(tmp_path / "wm"))
    users = spark.createDataFrame(
        [{"id": 5, "company_name": "NoHandle", "twitter_username": None}],
        _FLEET_USERS_DDL,
    )
    d = tmp_path / "feed"
    d.mkdir()
    (d / "p0.jsonl").write_text(_twitter_item(1))
    out = ingest_feed_fleet(
        spark, "twitter", {5: str(d)}, str(tmp_path / "sink"), state, users, AS_OF
    )
    assert out == {"appended": 0, "advanced": []}
    assert state.get(5, "twitter") is None


def _feed(tmp_path, name: str, items: list[str]) -> str:
    d = tmp_path / name
    d.mkdir()
    (d / "page_0000.jsonl").write_text("\n".join(items))
    return str(d)


def test_fleet_advances_tenant_whose_items_are_all_duplicates(spark, users, tmp_path):
    """The advance counts in-window items processed, duplicates included:
    a tick whose every item is already in the sink appends nothing but
    still advances the tenant."""
    feeds = {1: _feed(tmp_path, "tw_1", [_twitter_item(i) for i in range(3)])}
    sink = str(tmp_path / "sink")
    first = WatermarkStore(spark, str(tmp_path / "wm_first"))
    assert ingest_feed_fleet(spark, "twitter", feeds, sink, first, users, AS_OF) == {
        "appended": 3, "advanced": [1]}

    fresh = WatermarkStore(spark, str(tmp_path / "wm_fresh"))
    out = ingest_feed_fleet(spark, "twitter", feeds, sink, fresh, users, AS_OF)
    assert out == {"appended": 0, "advanced": [1]}
    assert fresh.get(1, "twitter") == AS_OF
    assert spark.read.parquet(sink).count() == 3


def test_fleet_does_not_advance_tenant_with_nothing_after_watermark(spark, users, tmp_path):
    """Items at or before the watermark are out of the window, so the
    write's input is empty: no rows, no advance, and the landed-tenant
    observation still reports (an empty set) instead of blocking."""
    wm = dt.datetime(2023, 11, 13, 22, 13, 20)  # == the newer item's ts
    state = WatermarkStore(spark, str(tmp_path / "wm"))
    state.advance([(1, "twitter", TimestampType().toInternal(wm))])
    feeds = {1: _feed(tmp_path, "tw_1", [
        _twitter_item(1), _twitter_item(2, "Sun Nov 12 08:00:00 +0000 2023")])}
    out = ingest_feed_fleet(
        spark, "twitter", feeds, str(tmp_path / "sink"), state, users, AS_OF
    )
    assert out == {"appended": 0, "advanced": []}
    assert state.get(1, "twitter") == wm


def test_fleet_skips_feed_of_tenant_missing_from_users(spark, users, tmp_path):
    """A feed whose tenant is not in the users dim is never read: its
    directory does not even exist, which the connector would raise on."""
    feeds = {
        1: _feed(tmp_path, "tw_1", [_twitter_item(1)]),
        9: str(tmp_path / "absent"),
    }
    state = WatermarkStore(spark, str(tmp_path / "wm"))
    out = ingest_feed_fleet(
        spark, "twitter", feeds, str(tmp_path / "sink"), state, users, AS_OF
    )
    assert out == {"appended": 1, "advanced": [1]}
    assert state.get(9, "twitter") is None


def test_connector_paths_caps_each_tenant_independently(spark, tmp_path):
    """The fleet form reads every tenant's pages in one load, leads each
    row with its tenant_id and charges max_items per tenant."""
    big = tmp_path / "big"
    big.mkdir()
    for p in range(2):
        (big / f"page_{p:04d}.jsonl").write_text(
            "\n".join(json.dumps({"id": p * 10 + i}) for i in range(3))
        )
    small = _feed(tmp_path, "small", [json.dumps({"id": i}) for i in range(2)])
    spark.dataSource.register(FixtureFeedDataSource)
    df = (
        spark.read.format("fixture_feed")
        .option("paths", json.dumps({7: str(big), 8: small}))
        .option("max_items", "4")
        .load()
    )
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("tenant_id", "bigint"), ("page", "int"), ("item", "string")]
    got = sorted((r["tenant_id"], r["page"], json.loads(r["item"])["id"])
                 for r in df.collect())
    assert got == [(7, 0, 0), (7, 0, 1), (7, 0, 2), (7, 1, 10), (8, 0, 0), (8, 0, 1)]


def test_connector_path_schema_is_page_item(spark, tmp_path):
    spark.dataSource.register(FixtureFeedDataSource)
    df = (
        spark.read.format("fixture_feed")
        .option("path", _feed(tmp_path, "feed", [json.dumps({"id": 1})]))
        .load()
    )
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("page", "int"), ("item", "string")]
    assert [(r["page"], r["item"]) for r in df.collect()] == [(0, '{"id": 1}')]


def test_connector_bounded_retry_recovers(spark, tmp_path):
    """W6: a page that fails its first two reads succeeds within the
    retry budget — at-least-once delivery, full row set."""
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "page_0000.jsonl").write_text(
        "\n".join(json.dumps({"id": i}) for i in range(4))
    )
    (feed / "page_0000.jsonl.failures").write_text("2")
    spark.dataSource.register(FixtureFeedDataSource)
    df = (
        spark.read.format("fixture_feed")
        .option("path", str(feed))
        .option("max_retries", "3")
        .option("retry_backoff_s", "0.0")
        .load()
    )
    assert df.count() == 4
    assert (feed / "page_0000.jsonl.failures").read_text() == "0"


def test_connector_retry_budget_exhausted_fails(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "page_0000.jsonl").write_text(json.dumps({"id": 1}))
    (feed / "page_0000.jsonl.failures").write_text("5")
    spark.dataSource.register(FixtureFeedDataSource)
    df = (
        spark.read.format("fixture_feed")
        .option("path", str(feed))
        .option("max_retries", "1")
        .option("retry_backoff_s", "0.0")
        .load()
    )
    with pytest.raises(Exception):
        df.count()


def test_stream_max_pages_per_trigger(spark, tmp_path):
    """W8: max_pages_per_trigger bounds each micro-batch of the cursor
    stream (the maxOffsetsPerTrigger analog). The simple stream reader
    executes one batch per start (no availableNow loop), so each drain
    against the same checkpoint consumes at most 2 of the 5 pages —
    exactly 3 drains reach the full sink, and the result matches an
    unthrottled drain."""
    feed = tmp_path / "feed"
    feed.mkdir()
    for p in range(5):
        (feed / f"page_{p:04d}.jsonl").write_text(
            "\n".join(json.dumps({"id": p * 10 + i}) for i in range(2))
        )
    spark.dataSource.register(FixtureFeedDataSource)

    def drain(sink, ckpt, throttled: bool):
        reader = (
            spark.readStream.format("fixture_feed").option("path", str(feed))
        )
        if throttled:
            reader = reader.option("max_pages_per_trigger", "2")
        (
            reader.load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)  # falls back to one batch per start
            .start()
            .awaitTermination()
        )

    s1, c1 = str(tmp_path / "s1"), str(tmp_path / "c1")
    counts = []
    for _ in range(5):
        drain(s1, c1, throttled=True)
        counts.append(spark.read.parquet(s1).count())
        if counts[-1] == 10:
            break
    # bounded steps: 2 pages (4 rows) per drain, 3 drains to finish
    assert counts == [4, 8, 10]

    drain(str(tmp_path / "s2"), str(tmp_path / "c2"), throttled=False)
    b = spark.read.parquet(str(tmp_path / "s2"))
    ids = lambda df: sorted(json.loads(r["item"])["id"] for r in df.collect())
    assert ids(spark.read.parquet(s1)) == ids(b)
    assert b.count() == 10  # unthrottled: one gulp


def test_search_query_template_roundtrip_and_pushdown(spark, tmp_path):
    """F11: the reference-shaped query string is built, parsed back, and
    drives the SAME time-window pushdown as explicit since/until."""
    from backend_etl_spark.functions.query_template import (
        parse_search_query,
        reddit_queries,
        twitter_search_query,
    )

    since = dt.datetime(2023, 11, 1, 0, 0, 0)
    until = dt.datetime(2023, 12, 1, 0, 0, 0)
    q = twitter_search_query("acme_hq", since, until)
    # exact reference rendering (twitter_scraper.py:27,57-59)
    assert q == ("@acme_hq OR #acme_hq "
                 "since:2023-11-01_00:00:00_UTC until:2023-12-01_00:00:00_UTC")
    parsed = parse_search_query(q)
    assert parsed == {"username": "acme_hq", "since": since, "until": until}
    assert reddit_queries("acme.com") == ["url:acme.com", "acme.com"]
    with pytest.raises(ValueError):
        parse_search_query("plain text")
    with pytest.raises(ValueError):
        parse_search_query("@a OR #b since:x until:y")

    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "page_000.jsonl", "w") as fh:
        for day, i in [("10-15", 0), ("11-15", 1), ("11-20", 2), ("12-15", 3)]:
            fh.write(json.dumps({"id": i, "createdAt": f"2023-{day}T12:00:00"}) + "\n")
    spark.dataSource.register(FixtureFeedDataSource)

    def load(**opts):
        r = spark.read.format("fixture_feed").option("path", str(feed)).option(
            "ts_key", "createdAt"
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return {json.loads(row["item"])["id"] for row in r.load().collect()}

    via_query = load(search_query=q)
    via_options = load(since=since.isoformat(), until=until.isoformat())
    assert via_query == via_options == {1, 2}
