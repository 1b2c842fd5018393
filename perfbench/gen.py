"""Seeded input generators for the benchmark workloads.

Shapes follow ``scripts/gen_sf.py`` (the observed shape of the
driver's sf0.1 star schema): same column names and arrow types, the
same categorical domains (the 31-word document vocabulary, the five
event types, the five languages, ``src0..src19``), normalized 64-dim
embeddings around 10 weak label centres. The domains are copied here
as constants so the benchmark reads nothing outside its own checkout.

Every size is derived from one source, gen_sf.py at ``SF`` = 0.1 (the
scale the repo's own bench runs at), see ``TickTraffic`` and
``CorpusTraffic``; ``perfbench/selfcheck.py`` checks the copied
figures against gen_sf.py.

Everything is a pure function of the seed: the same seed writes the
same bytes. Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64

EPOCH = dt.datetime(2024, 1, 1)
US = 1_000_000
HOUR_US = 3600 * US
DAY_US = 24 * HOUR_US

#: gen_sf.py at SF: its BASE row counts (events, documents, embeddings)
#: and its events user domain (``1500 * sf / 0.1``), over events
#: timestamps drawn from a 30-day window (2024-01-01 .. 2024-01-31)
SF = 0.1
SF_EVENTS, SF_USERS, SF_EVENT_DAYS = 100_000, 1_500, 30
SF_DOCUMENTS, SF_EMBEDDINGS = 5_000, 2_000
#: gen_sf.py clones ``documents // 650`` texts from their predecessor
SF_DOC_CLONE_EVERY = 650
#: the reference's twitter actor fetches at most 500 items per tenant
#: per run (maxItems, SURVEY.md S1)
FEED_PAGE_ITEMS = 500
#: streaming_incremental_dedup re-delivers 50 docs of its 1,000-doc
#: crawl at sf0.1 to model the reference's overlap re-scrape
REDELIVERED_SHARE = 50 / 1_000


def _us(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _from_us(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))


def write_parquet(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _events_table(event_id, ts_us, user_id, rng: np.random.Generator) -> pa.Table:
    n = len(event_id)
    return pa.table({
        "event_id": np.asarray(event_id, dtype=np.int64),
        "ts": pa.array(np.asarray(ts_us, dtype=np.int64), type=pa.timestamp("us")),
        "user_id": np.asarray(user_id, dtype=np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": np.round(rng.uniform(0, 100, n), 6),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


# ---------------------------------------------------------------------------
# ingest_ticks: one events slice + one twitter feed tick per beat
# ---------------------------------------------------------------------------


@dataclass
class TickTraffic:
    """Traffic dimensions of one ingest beat (all recorded in the output).

    A beat delivers one day of the sf0.1 event stream: its 1,500 users
    are the tenants, and 100,000 events over 30 days are 3,333 events
    per beat. The twitter fleet delivers as many mentions as the
    events slice, in full pages of the reference's 500-item cap: 7
    tenants. The redelivery share is the repo's own model of an
    overlap re-scrape (5%); no measured source exists for late rows or
    new tenants, so both take the same share."""

    tenants: int = SF_USERS  # events tenants known before the first beat
    events_per_tick: int = SF_EVENTS // SF_EVENT_DAYS
    redelivered_share: float = REDELIVERED_SHARE  # landed ids re-sent inside the window
    new_tenant_share: float = REDELIVERED_SHARE  # rows of never-seen tenants (catchup)
    late_share: float = REDELIVERED_SHARE  # fresh ids at or below the tenant watermark
    feed_tenants: int = math.ceil(SF_EVENTS / SF_EVENT_DAYS / FEED_PAGE_ITEMS)  # twitter fleet size
    feed_items: int = FEED_PAGE_ITEMS  # items per tenant page per beat


@dataclass
class Tick:
    """Generated inputs of one beat plus what the engine must do with them."""

    index: int
    as_of: dt.datetime
    events_dir: str  # holds events.parquet
    feeds: dict[int, str]  # feed tenant id -> page directory
    expect_events: dict[str, int]  # run_incremental's {"catchup", "general"}
    expect_feed: int  # ingest_feed_fleet's "appended"
    expect_advanced: list[int]  # ingest_feed_fleet's "advanced"
    events_wm: dict[int, dt.datetime]  # watermark table after this beat
    feed_wm: dict[int, dt.datetime]


@dataclass
class TickTimeline:
    """Stateful generator of consecutive beats. Models the engine's
    semantics (sink key conflicts, per-tenant watermarks, catchup
    windows) to predict each beat's appended counts and the final
    watermark table."""

    seed: int
    root: str
    traffic: TickTraffic = field(default_factory=TickTraffic)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 1])
        self.next_event_id = 0
        self.next_tenant = self.traffic.tenants
        self.known = np.arange(self.traffic.tenants, dtype=np.int64)
        self.wm: dict[int, int] = {}  # events tenant -> max landed ts (us)
        self.landed_ids: list[np.ndarray] = []
        self.landed_tenant: list[np.ndarray] = []
        self.next_tweet = 0
        self.landed_tweets: list[tuple[int, int]] = []  # (tweet, tenant)
        self.feed_wm: dict[int, dt.datetime] = {}
        self.ticks = 0

    def _fresh_ids(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_event_id, self.next_event_id + n, dtype=np.int64)
        self.next_event_id += n
        return ids

    def next_tick(self) -> Tick:
        tr, rng = self.traffic, self.rng
        i = self.ticks
        self.ticks += 1
        as_of = EPOCH + dt.timedelta(days=60 + i + 1)
        prev_us, as_of_us = _us(as_of) - DAY_US, _us(as_of)
        n = tr.events_per_tick
        with_wm = np.array(sorted(self.wm), dtype=np.int64)
        n_late = int(round(n * tr.late_share)) if len(with_wm) else 0
        n_new = int(round(n * tr.new_tenant_share))
        n_re = int(round(n * tr.redelivered_share)) if self.landed_ids else 0
        n_fresh = n - n_late - n_new - n_re

        # fresh rows of known tenants, strictly after the last beat
        f_ten = rng.choice(self.known, n_fresh)
        f_ts = prev_us + 1 + rng.integers(0, DAY_US, n_fresh)
        # never-seen tenants land through the 90-day catchup window
        new_ten = np.arange(self.next_tenant, self.next_tenant + max(n_new // 10, 1))
        self.next_tenant += len(new_ten)
        n_ten = rng.choice(new_ten, n_new)
        n_ts = as_of_us - rng.integers(0, 30 * 24 * HOUR_US, n_new)
        # late rows: fresh ids below the tenant's watermark (dropped)
        l_ten = rng.choice(with_wm, n_late) if n_late else np.zeros(0, np.int64)
        l_ts = np.array([self.wm[t] for t in l_ten], dtype=np.int64) - 1 - (
            rng.integers(0, 6 * HOUR_US, n_late)
        )
        # redelivered rows: landed ids re-sent with an in-window ts no
        # later than their tenant's newest fresh row, so they reach the
        # sink's key anti-join but never move the watermark
        fresh_max: dict[int, int] = {}
        fresh_min: dict[int, int] = {}
        for t, ts in zip(f_ten.tolist(), f_ts.tolist()):
            fresh_max[t] = max(fresh_max.get(t, ts), ts)
            fresh_min[t] = min(fresh_min.get(t, ts), ts)
        if n_re:
            ids = np.concatenate(self.landed_ids)
            ten = np.concatenate(self.landed_tenant)
            ok = np.isin(ten, np.fromiter(fresh_max, np.int64))
            pick = rng.choice(np.flatnonzero(ok), n_re, replace=False)
            r_ids, r_ten = ids[pick], ten[pick]
            r_ts = np.array([fresh_min[t] for t in r_ten.tolist()], dtype=np.int64)
        else:
            r_ids = r_ten = r_ts = np.zeros(0, np.int64)

        f_ids, n_ids, l_ids = self._fresh_ids(n_fresh), self._fresh_ids(n_new), self._fresh_ids(n_late)
        order = rng.permutation(n)
        table = _events_table(
            np.concatenate([f_ids, n_ids, l_ids, r_ids])[order],
            np.concatenate([f_ts, n_ts, l_ts, r_ts])[order],
            np.concatenate([f_ten, n_ten, l_ten, r_ten])[order],
            rng,
        )
        tick_dir = os.path.join(self.root, f"tick{i:04d}")
        write_parquet(os.path.join(tick_dir, "events.parquet"), table)

        # tenants without a watermark at beat start land through catchup
        n_catchup = n_new + int(sum(t not in self.wm for t in f_ten.tolist()))
        for t, ts in zip(np.concatenate([f_ten, n_ten]).tolist(),
                         np.concatenate([f_ts, n_ts]).tolist()):
            self.wm[t] = max(self.wm.get(t, ts), ts)
        self.landed_ids += [f_ids, n_ids]
        self.landed_tenant += [f_ten, n_ten]
        self.known = np.concatenate([self.known, new_ten])

        feeds, expect_feed, advanced = self._feed_tick(tick_dir, as_of)
        expect = {"catchup": n_catchup, "general": n_fresh + n_new - n_catchup}
        return Tick(i, as_of, tick_dir, feeds, expect, expect_feed, advanced,
                    {t: _from_us(us) for t, us in self.wm.items()}, dict(self.feed_wm))

    def _feed_tick(self, tick_dir: str, as_of: dt.datetime):
        """One JSON page per feed tenant: fresh tweets inside the
        window, redelivered landed tweets re-stamped inside it (sink key
        conflict), and late tweets at or before the tenant's
        watermark (window-filtered)."""
        tr, rng = self.traffic, self.rng
        feeds: dict[int, str] = {}
        expect = 0
        for tid in range(tr.feed_tenants):
            since = self.feed_wm.get(tid, as_of - dt.timedelta(days=90))
            mine = [tw for tw, t in self.landed_tweets if t == tid]
            m = tr.feed_items
            n_re = min(int(round(m * tr.redelivered_share)), len(mine))
            n_late = int(round(m * tr.late_share))
            n_fresh = m - n_re - n_late
            items = []
            for _ in range(n_fresh):
                tw = self.next_tweet
                self.next_tweet += 1
                items.append((tw, as_of - dt.timedelta(seconds=int(rng.integers(0, 86400)))))
                self.landed_tweets.append((tw, tid))
            for tw in rng.choice(mine, n_re, replace=False).tolist() if n_re else []:
                items.append((tw, as_of - dt.timedelta(seconds=int(rng.integers(0, 86400)))))
            for _ in range(n_late):
                tw = self.next_tweet
                self.next_tweet += 1
                items.append((tw, since - dt.timedelta(seconds=int(rng.integers(0, 86400)))))
            expect += n_fresh
            self.feed_wm[tid] = as_of
            d = os.path.join(tick_dir, f"feed{tid:03d}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "page_0000.jsonl"), "w") as fh:
                for j in rng.permutation(len(items)).tolist():
                    tw, ts = items[j]
                    fh.write(json.dumps({
                        "id": f"tw{tw}", "url": f"https://x.test/s/{tw}",
                        "text": " ".join(rng.choice(VOCAB, 12)),
                        "createdAt": ts.strftime("%a %b %d %H:%M:%S +0000 %Y"),
                        "retweetCount": int(rng.integers(0, 50)),
                        "replyCount": int(rng.integers(0, 20)),
                        "likeCount": int(rng.integers(0, 500)),
                        "viewCount": int(rng.integers(0, 5000)),
                        "author": {"name": f"user{int(rng.integers(0, 1000))}"},
                    }) + "\n")
            feeds[tid] = d
        return feeds, expect, list(range(tr.feed_tenants))

    def feed_users(self) -> list[dict]:
        return [
            {"id": t, "company_name": f"Company{t:03d}", "twitter_username": f"co{t:03d}"}
            for t in range(self.traffic.feed_tenants)
        ]


# ---------------------------------------------------------------------------
# corpus_dedup: one fresh sf_dir-shaped corpus per pass
# ---------------------------------------------------------------------------


@dataclass
class CorpusTraffic:
    """One pass's corpus: gen_sf.py's sf0.1 documents and embeddings.
    2,000 vectors put SemDeDup's coarse cells at about 250 vectors,
    above its 100-vector fine-cluster target, so the per-cell fits and
    pair stages do real work."""

    docs: int = SF_DOCUMENTS
    embeddings: int = SF_EMBEDDINGS
    #: texts that are an exact clone of their predecessor (gen_sf.py's
    #: ``documents // 650`` near-clone pairs); vectors have none
    near_dup_share: float = 1 / SF_DOC_CLONE_EVERY


def documents_table(rng: np.random.Generator, n: int, near_dup_share: float) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.choice(VOCAB, int(lens.sum()))
    texts, pos = [], 0
    for ln in lens.tolist():
        texts.append(" ".join(words[pos : pos + ln]))
        pos += ln
    for i in rng.integers(1, n, max(int(n * near_dup_share), 1)).tolist():
        texts[i] = texts[i - 1]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 0.2, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 1.0, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), DIM
        ).cast(pa.list_(pa.float32())),
        "label": labels,
    })


def write_corpus(root: str, seed: int, index: int, traffic: CorpusTraffic) -> str:
    """Write one pass's documents and embeddings into ``root/pass<index>``
    (an sf_dir the catalog entries read) and return that directory."""
    rng = np.random.default_rng([seed, 2, index])
    out = os.path.join(root, f"pass{index:06d}")
    write_parquet(os.path.join(out, "documents.parquet"),
                  documents_table(rng, traffic.docs, traffic.near_dup_share))
    write_parquet(os.path.join(out, "embeddings.parquet"),
                  embeddings_table(rng, traffic.embeddings))
    return out
