"""The benchmark workloads, each driven by one closed-loop client: the
next operation starts only after the previous one (and its
between-operation hygiene) has finished.

``ingest_ticks``
    One scheduler beat per operation: ``pipeline.run_incremental`` over
    a fresh events slice, ``ingest_feed_fleet`` over a fresh twitter
    page per fleet tenant, then the ``streaming_windowed_counts`` drain
    over the same slice. Sinks and the watermark table grow across the
    run. Exercises the write path (sink anti-join, watermark rewrite,
    Python DataSource, projections) and the micro-batch engine with its
    state store; the batch operators are idle, so it is the bypass
    workload for operator changes.
``corpus_dedup``
    One pass over a fresh documents+embeddings corpus per operation:
    connected components over the MinHash/LSH candidate graph,
    SemDeDup, then the persisted IVF-PQ index build. Read-only and
    operator-heavy (checkpoint loop, k-means fits, PQ encode); the
    pipeline, the sinks and the streaming engine are idle, so it is the
    bypass workload for write-path changes. A fresh corpus per pass
    means no k-means fit can be served from a fit made for an earlier
    pass.

Each operation's inputs are generated just before it, outside its
timed region. Each catalog entry runs as the driver runs it:
``fn(spark, sf_dir)`` then a noop write. Correctness checks and
``release_all_persistent`` happen outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import asdict, dataclass, field

import gen

TICK_ENTRIES = ["streaming_windowed_counts"]
CORPUS_ENTRIES = ["dedup_cluster_components", "dedup_semantic_semdedup",
                  "knn_ivfpq_build_persisted"]


@dataclass
class OpResult:
    wall_s: float
    items: int
    errors: list[str] = field(default_factory=list)
    entries: dict[str, tuple[float, float]] = field(default_factory=dict)
    checked: bool = False  # compared to the oracle


def run_entry(spark, name: str, sf_dir: str, res: OpResult, check: bool, untimed):
    """Run one catalog entry as the driver does (``fn`` then a noop
    write), add its wall to ``res`` and, with ``check``, compare its
    output to the oracle outside the timed region."""
    from backend_etl_spark.catalog import REGISTRY

    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    res.entries[name] = (t1 - t0, t2 - t1)
    res.wall_s += t2 - t0
    if check:
        with untimed():
            err = oracle_check(df, sf_dir, name)
        if err:
            res.errors.append(f"{name}: {err}")


class IngestTicks:
    name = "ingest_ticks"
    warmup_ops = 1
    min_ops = 1
    metric_names = {"tick_p50_s": "op_p50_s", "rows_per_s": "items_per_s"}

    def __init__(self, spark, root: str, seed: int):
        from backend_etl_spark.ingest.feed_pipeline import _FLEET_USERS_DDL
        from backend_etl_spark.sink import WatermarkStore

        self.spark = spark
        self.timeline = gen.TickTimeline(seed, os.path.join(root, "inputs"))
        self.warm = [self.timeline.next_tick() for _ in range(self.warmup_ops)]
        self.ran: list[gen.Tick] = []
        self.events_sink = os.path.join(root, "sinks", "events_mentions")
        self.feed_sink = os.path.join(root, "sinks", "twitter_mentions")
        self.state = WatermarkStore(spark, os.path.join(root, "sinks", "watermarks"))
        self.users = spark.createDataFrame(self.timeline.feed_users(), _FLEET_USERS_DDL)
        self.checked = False
        self.untimed = contextlib.nullcontext  # the tracer pauses here

    def traffic(self) -> dict:
        return {**asdict(self.timeline.traffic), "sf": gen.SF, "beat": "1 day",
                "entries": TICK_ENTRIES, "warmup_ops": self.warmup_ops}

    def warmup(self) -> None:
        for tick in self.warm:
            res = self._tick(tick, check=False)
            if res.errors:
                raise RuntimeError(f"warm-up tick {tick.index}: {res.errors}")

    def op(self, i: int) -> OpResult:
        # the next beat's inputs, generated outside the timed region;
        # the first timed beat of every run is compared to the oracle
        tick = self.timeline.next_tick()
        self.ran.append(tick)
        check, self.checked = not self.checked, True
        res = self._tick(tick, check)
        res.checked = check
        return res

    def _tick(self, tick: gen.Tick, check: bool) -> OpResult:
        from backend_etl_spark import pipeline
        from backend_etl_spark.ingest import feed_pipeline
        from backend_etl_spark.sources import loader

        t0 = time.perf_counter()
        source = loader.load_table(self.spark, tick.events_dir, "events")
        counts = pipeline.run_incremental(
            self.spark, source, self.events_sink, self.state, tick.as_of
        )
        out = feed_pipeline.ingest_feed_fleet(
            self.spark, "twitter", tick.feeds, self.feed_sink, self.state,
            self.users, tick.as_of,
        )
        res = OpResult(time.perf_counter() - t0, sum(counts.values()) + out["appended"])
        for name in TICK_ENTRIES:
            run_entry(self.spark, name, tick.events_dir, res, check, self.untimed)
        if counts != tick.expect_events:
            res.errors.append(f"tick {tick.index}: run_incremental {counts} != {tick.expect_events}")
        if out["appended"] != tick.expect_feed or out["advanced"] != tick.expect_advanced:
            res.errors.append(f"tick {tick.index}: feed {out} != {tick.expect_feed} rows")
        return res

    def final_check(self) -> list[str]:
        """Both sinks key-unique with exactly the predicted rows; the
        watermark table equals the per-tenant max landed ts (events) and
        the last beat's as_of (feed), as the generator predicts."""
        from pyspark.sql import functions as F

        errors = [] if self.checked else ["no beat was compared to the oracle"]
        ran = self.warm + self.ran
        for path, key, want in (
            (self.events_sink, "mention_id", sum(sum(t.expect_events.values()) for t in ran)),
            (self.feed_sink, "tweet_id", sum(t.expect_feed for t in ran)),
        ):
            row = self.spark.read.parquet(path).agg(
                F.count("*").alias("n"), F.countDistinct(key).alias("k")
            ).first()
            if not row["n"] == row["k"] == want:
                errors.append(f"{os.path.basename(path)}: rows {row['n']}, keys {row['k']}, want {want}")
        wm = {
            (r["platform"], r["tenant_id"]): r["watermark"]
            for r in self.state.read().collect()
        }
        landed = {
            r["tenant_id"]: r["mx"]
            for r in self.spark.read.parquet(self.events_sink)
            .groupBy("tenant_id").agg(F.max("created_at").alias("mx")).collect()
        }
        want_events, want_feed = ran[-1].events_wm, ran[-1].feed_wm
        got_events = {t: w for (p, t), w in wm.items() if p == "events"}
        if not got_events == landed == want_events:
            errors.append(
                f"events watermarks: {len(got_events)} tenants, "
                f"{sum(got_events.get(t) != w for t, w in landed.items())} differ from landed max ts, "
                f"{sum(got_events.get(t) != w for t, w in want_events.items())} from the model"
            )
        got_feed = {t: w for (p, t), w in wm.items() if p == "twitter"}
        if got_feed != want_feed:
            errors.append(f"twitter watermarks {got_feed} != model")
        return errors


class CorpusDedup:
    """A pass = the corpus entries, in order, over one fresh corpus."""

    name = "corpus_dedup"
    warmup_ops = 1
    # box contention moves a single pass by up to 40% run to run (IQR
    # over median 0.19 over 10 seeds); the median of two read 0.11
    min_ops = 2
    metric_names = {"pass_p50_s": "op_p50_s", "docs_per_s": "items_per_s"}

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.seed = spark, seed
        self.sizes = gen.CorpusTraffic()
        self.inputs = os.path.join(root, "inputs")
        # warm-up corpora draw from their own index range
        self.warm = [gen.write_corpus(self.inputs, seed, 100_000 + i, self.sizes)
                     for i in range(self.warmup_ops)]
        self.checked = False
        self.untimed = contextlib.nullcontext  # the tracer pauses here

    def traffic(self) -> dict:
        return {**asdict(self.sizes), "sf": gen.SF, "entries": CORPUS_ENTRIES,
                "warmup_ops": self.warmup_ops}

    def warmup(self) -> None:
        for d in self.warm:
            res = self._pass(d, check=False)
            if res.errors:
                raise RuntimeError(f"warm-up pass: {res.errors}")

    def op(self, i: int) -> OpResult:
        # a fresh corpus, written outside the timed region; the first
        # timed pass of every run is compared to the oracles
        sf_dir = gen.write_corpus(self.inputs, self.seed, i, self.sizes)
        check, self.checked = not self.checked, True
        res = self._pass(sf_dir, check)
        res.checked = check
        return res

    def _pass(self, sf_dir: str, check: bool) -> OpResult:
        from backend_etl_spark.session import release_all_persistent

        res = OpResult(0.0, self.sizes.docs + self.sizes.embeddings)
        for name in CORPUS_ENTRIES:
            run_entry(self.spark, name, sf_dir, res, check, self.untimed)
            # between-entry hygiene: free the checkpoint blocks this
            # entry leaked (outside the timed region, as bench.py does)
            release_all_persistent(self.spark)
        return res

    def final_check(self) -> list[str]:
        return [] if self.checked else ["no pass was compared to the oracle"]


def oracle_check(df, sf_dir: str, name: str) -> str | None:
    """Compare ``df`` to the entry's DuckDB oracle over the same files;
    returns the mismatch, if any. The registered oracle goes through the
    repo's own comparator. Two entries are checked against the repo's
    alternate oracles instead (scripts/alt_oracles.py), which
    tests/test_alt_oracles.py pins row for row to the registered ones:
    on an sf0.1 corpus on a 4-core box, the recursive CTE of connected
    components takes about 180 s against 1.4 s for the union-find, and
    SemDeDup's unrolled k-means 6.5 s against 0.7 s for the staged
    form."""
    import duckdb

    from backend_etl_spark.catalog import REGISTRY
    from tests.oracle_utils import compare, normalized_rows

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
        if name in ALT_ORACLE_ENTRIES:
            import alt_oracles

            exp_cols, exp = getattr(alt_oracles, ALT_ORACLE_ENTRIES[name])[name](con)
            act = [tuple(r) for r in df.collect()]
            assert sorted(df.columns) == sorted(exp_cols), (df.columns, exp_cols)
            assert len(act) == len(exp), f"row count mismatch: {len(act)} != {len(exp)}"
            assert normalized_rows(df.columns, act) == normalized_rows(exp_cols, exp), \
                "value mismatch"
        else:
            compare(df, con, REGISTRY[name].oracle)
    except AssertionError as exc:
        return str(exc)[:300]
    finally:
        con.close()
    return None


#: entry -> the table of scripts/alt_oracles.py that holds its oracle
ALT_ORACLE_ENTRIES = {
    "dedup_cluster_components": "UNION_FIND_ORACLES",
    "dedup_semantic_semdedup": "ALT_ORACLES",
}

WORKLOADS = {w.name: w for w in (IngestTicks, CorpusDedup)}
