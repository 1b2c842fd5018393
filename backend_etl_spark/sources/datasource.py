"""Python DataSource connector for REST-shaped feeds (PySpark 4 API).

The reference's sources are paginated HTTP APIs: Apify dataset items
(scrapers/twitter_scraper.py:19-40, instagram_scraper.py:22-53, …),
Reddit cursor pages (reddit_scraper.py:46-55), HTML pages
(trustpilot_scraper.py:36-100). This connector reproduces that shape
against local JSON-lines fixture "pages" (one file per page — the unit
the remote APIs paginate by), with the reference's hand-coded
optimizations implemented connector-side, where they belong
(SURVEY §4.1):

- `since`/`until` time-window pushdown (the `since:.. until:..` query
  the reference embeds in the Apify search string),
- `max_items` limit pushdown (maxItems/resultsLimit caps),
- one InputPartition per page (per tenant and page under `paths`) →
  pages read in parallel across executors (the reference's page loop
  was serial per task).

Items are emitted as raw JSON strings; schema-on-read happens in the
plan via from_json (N6) — the connector moves bytes, the engine owns
typing. Rate limiting / retries / polling are connector concerns too
and would live in `read()` (no-ops against local fixtures).

Usage:
    spark.dataSource.register(FixtureFeedDataSource)
    df = (spark.read.format("fixture_feed")
          .option("path", feed_dir)
          .option("ts_key", "createdAt")      # JSON key carrying the ts
          .option("since", "2023-01-01T00:00:00")
          .option("max_items", "500")
          .load())                            # -> (page INT, item STRING)

    # a whole fleet in one scan: one partition per (tenant, page), the
    # max_items budget charged per tenant
    df = (spark.read.format("fixture_feed")
          .option("paths", json.dumps({tenant_id: feed_dir, ...}))
          .option("max_items", "500")
          .load())                # -> (tenant_id BIGINT, page INT, item STRING)
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

FEED_SCHEMA = "page INT, item STRING"
FLEET_FEED_SCHEMA = "tenant_id BIGINT, " + FEED_SCHEMA


class TransientFeedError(IOError):
    """A retryable page-fetch failure (the local analog of an HTTP 429/5xx
    the reference retries with countdown, tasks.py:109,133,203)."""


def _consume_failure_budget(page_path: str) -> bool:
    """Failure injection for tests: a ``<page>.failures`` sidecar holds
    the number of attempts that must fail before a read succeeds. Each
    attempt decrements it. Returns True if this attempt should fail."""
    marker = page_path + ".failures"
    if not os.path.isfile(marker):
        return False
    with open(marker) as fh:
        n = int(fh.read().strip() or 0)
    if n <= 0:
        return False
    with open(marker, "w") as fh:
        fh.write(str(n - 1))
    return True


class FixtureFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fixture_feed"

    def schema(self) -> str:
        return FLEET_FEED_SCHEMA if "paths" in self.options else FEED_SCHEMA

    def reader(self, schema) -> "FixtureFeedReader":
        return FixtureFeedReader(self.options)


class _PagePartition(InputPartition):
    def __init__(self, key: tuple, path: str, budget: int):
        self.key = key  # (page,) or (tenant_id, page): the row's leading columns
        self.path = path
        self.budget = budget


class FixtureFeedReader(DataSourceReader):
    def __init__(self, options: dict):
        if "paths" in options:
            self.dirs = {(int(t),): d for t, d in json.loads(options["paths"]).items()}
        else:
            self.dirs = {(): options["path"]}
        self.ts_key = options.get("ts_key")
        self.since = options.get("since")
        self.until = options.get("until")
        # F11: a reference-shaped search query string ("@user OR #user
        # since:.. until:..") is accepted as the window serialization —
        # parsed back into the same since/until pushdown as the explicit
        # options (explicit options win if both are given).
        q = options.get("search_query")
        if q:
            from backend_etl_spark.functions.query_template import parse_search_query

            parsed = parse_search_query(q)
            self.since = self.since or parsed["since"].isoformat()
            self.until = self.until or parsed["until"].isoformat()
        self.max_items = int(options.get("max_items", 0)) or None
        # bounded retry/backoff (W6): the reference wraps every page fetch
        # in task-level retries with countdown (tasks.py:109,133,203);
        # here the same discipline lives in the connector, per partition,
        # beneath Spark's own task-level spark.task.maxFailures.
        self.max_retries = int(options.get("max_retries", 0))
        self.retry_backoff_s = float(options.get("retry_backoff_s", 0.1))

    def _emits(self, line: str) -> bool:
        """Would read() emit this raw line? (blank-line + time-window
        pushdown — the single source of truth for both planning and
        reading, so the limit budget counts exactly the emitted rows.)"""
        line = line.strip()
        if not line:
            return False
        if self.ts_key and (self.since or self.until):
            ts = json.loads(line).get(self.ts_key)
            if ts is not None:
                if self.since and ts < self.since:
                    return False
                if self.until and ts >= self.until:
                    return False
        return True

    def partitions(self):
        return [
            p for tenant, d in self.dirs.items() for p in self._dir_partitions(tenant, d)
        ]

    def _dir_partitions(self, tenant: tuple, feed_dir: str) -> list[_PagePartition]:
        pages = sorted(
            f for f in os.listdir(feed_dir) if f.endswith((".json", ".jsonl"))
        )
        # limit pushdown across one feed's pages: later pages get the
        # leftover budget (page size is the cap the remote API enforces;
        # the budget is ours). The budget is charged per EMITTED row —
        # blank lines and rows the since/until pushdown drops don't
        # consume it, so with a time filter active later pages still get
        # their full share.
        parts = []
        remaining = self.max_items
        for i, fname in enumerate(pages):
            if remaining is not None and remaining <= 0:
                break
            budget = -1 if remaining is None else remaining
            path = os.path.join(feed_dir, fname)
            parts.append(_PagePartition((*tenant, i), path, budget))
            if remaining is not None:
                with open(path) as fh:
                    remaining -= sum(1 for line in fh if self._emits(line))
        return parts

    def read(self, partition: _PagePartition):
        for attempt in range(self.max_retries + 1):
            try:
                return iter(self._read_page(partition))
            except TransientFeedError:
                if attempt >= self.max_retries:
                    raise
                # exponential backoff, bounded attempts (W6)
                time.sleep(self.retry_backoff_s * (2**attempt))
        raise AssertionError("unreachable")

    def _read_page(self, partition: _PagePartition) -> list[tuple]:
        if _consume_failure_budget(partition.path):
            raise TransientFeedError(f"transient failure reading {partition.path}")
        out = []
        emitted = 0
        with open(partition.path) as fh:
            for line in fh:
                if not self._emits(line):
                    continue
                if partition.budget >= 0 and emitted >= partition.budget:
                    break
                out.append((*partition.key, line.strip()))
                emitted += 1
        return out


# ---------------------------------------------------------------------------
# streaming reader: cursor pagination as stream offsets
# ---------------------------------------------------------------------------
#
# The reference's Reddit scraper follows an `after` cursor page-by-page
# and persists progress only via the tenant watermark
# (reddit_scraper.py:46-55, 57-125). In Spark's streaming model the
# cursor IS the offset: each micro-batch reads pages beyond the last
# committed offset, and the checkpoint commit log replaces the hand-rolled
# watermark bookkeeping — replayable, exactly-once into an idempotent sink.

from pyspark.sql.datasource import SimpleDataSourceStreamReader


class FixtureFeedStreamReader(SimpleDataSourceStreamReader):
    """Offset = number of page files consumed (the local analog of the
    remote API's opaque `after` cursor). New files appended to the feed
    dir are picked up by the next micro-batch.

    ``max_pages_per_trigger`` (W8, the maxOffsetsPerTrigger analog)
    bounds how many pages one micro-batch consumes — the engine-side
    shape of the reference's politeness throttles (per-item sleeps,
    twitter3_scraper.py:25/66): an availableNow drain still consumes
    everything, in bounded steps, so downstream state and sink commits
    stay small and the source is never gulped in one batch."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.max_pages_per_trigger = int(options.get("max_pages_per_trigger", 0)) or None

    def _pages(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.path) if f.endswith((".json", ".jsonl"))
        )

    def initialOffset(self) -> dict:
        return {"page": 0}

    def read(self, start: dict):
        pages = self._pages()
        first = start["page"]
        last = len(pages)
        if self.max_pages_per_trigger is not None:
            last = min(last, first + self.max_pages_per_trigger)
        rows = self._read_pages(pages[first:last], first)
        return rows, {"page": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay for recovery: deterministic because page files are
        # immutable once written (the driver appends, never rewrites)
        pages = self._pages()
        return self._read_pages(pages[start["page"] : end["page"]], start["page"])

    def _read_pages(self, fnames: list[str], first_idx: int):
        out = []
        for i, fname in enumerate(fnames):
            with open(os.path.join(self.path, fname)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        out.append((first_idx + i, line))
        return iter(out)


def _stream_reader(self, schema) -> FixtureFeedStreamReader:
    return FixtureFeedStreamReader(self.options)


FixtureFeedDataSource.simpleStreamReader = _stream_reader
