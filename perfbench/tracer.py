"""Traced runs: spans around the engine's public functions and Spark's
own counters per operation.

Spans are recorded from outside the engine: each public function in
``TARGETS`` is replaced, in every engine module that holds a reference
to it, by a wrapper that records (name, start, end, parent, operation).
Some catalog modules import names at module top, so the wrapper is
installed under every name that is bound to the original function.

Per operation (a traced operation runs under its own job group, and
its output checks under another):

- jobs are the ids from the first to the last job of the operation's
  group, less the checks' jobs. Job ids are sequential and the client
  is single-threaded, so the range also covers jobs that engine
  threads start under their own groups;
- stage counters come from ``statusStore().lastStageAttempt``;
- streaming jobs run under their query's run id as job group; a
  ``StreamingQueryListener`` collects each query's run id, its
  micro-batch ``durationMs`` phases and its ``stateOperators``, and the
  run ids' jobs join the operation's;
- Python-worker time is the "time to run Python workers" SQL metric of
  the operation's SQL executions;
- the k-means fit memo (``clustering._FIT_CACHE``) is replaced by a
  dict that counts lookups, hits, and hits on a fit made for an
  earlier operation's input.

Every metric is the median over traced operations of its per-operation
value. Only every second operation is traced, at least ``MIN_OPS // 2``
of them; the others run with the wrappers passing straight through,
and ``trace.*`` reports the difference as the tracing overhead.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, attribute, span name); ``Class.method`` patches a method
TARGETS = [
    ("backend_etl_spark.session", "get_spark", "session.get_spark"),
    ("backend_etl_spark.pipeline", "run_incremental", "pipeline.run_incremental"),
    ("backend_etl_spark.sink", "write_idempotent", "sink.write_idempotent"),
    ("backend_etl_spark.sink", "WatermarkStore.advance", "sink.advance"),
    ("backend_etl_spark.ingest.feed_pipeline", "ingest_feed_fleet", "ingest.ingest_feed_fleet"),
    ("backend_etl_spark.sources.loader", "load_table", "sources.load_table"),
    ("backend_etl_spark.operators.dedup", "minhash_signatures", "operators.dedup.minhash_signatures"),
    ("backend_etl_spark.operators.dedup", "lsh_candidate_pairs", "operators.dedup.lsh_candidate_pairs"),
    ("backend_etl_spark.operators.dedup", "cluster_components", "operators.dedup.cluster_components"),
    ("backend_etl_spark.operators.clustering", "kmeans_fit", "operators.clustering.kmeans_fit"),
    ("backend_etl_spark.operators.clustering", "kmeans_fit_grouped", "operators.clustering.kmeans_fit_grouped"),
    ("backend_etl_spark.operators.clustering", "assign_clusters", "operators.clustering.assign_clusters"),
    ("backend_etl_spark.operators.clustering", "assign_clusters_multi", "operators.clustering.assign_clusters_multi"),
    ("backend_etl_spark.operators.ann_index", "build_ivfpq_index", "operators.ann_index.build_ivfpq_index"),
    ("backend_etl_spark.streaming.windowed", "stage_events_source", "streaming.stage"),
    ("backend_etl_spark.streaming.windowed", "run_windowed_counts", "streaming.run_windowed_counts"),
]
#: operations in a traced run: untraced and traced alternate, so three
#: are traced
MIN_OPS = 6
#: spans whose ``self_s`` (duration minus child spans) is reported
SELF_TIME = ("pipeline.run_incremental", "ingest.ingest_feed_fleet")
CHECK_GROUP = "perfbench-check"
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "output_bytes", "busy_frac", "python_s")
SINK_EXTRA = ("sink.write_idempotent.rows", "sink.write_idempotent.appended_frac",
              "sink.files", "sink.bytes")
FIT_MEMO = tuple(f"operators.clustering.fit_memo.{s}" for s in (
    "lookups", "hits", "hit_frac", "cross_op_hits", "cross_op_hit_frac"))
STREAMING = (
    "streaming.queries", "streaming.batch.batches", "streaming.batch.input_rows",
    *(f"streaming.batch.{p}_ms_p50" for p in
      ("trigger", "add_batch", "query_planning", "wal_commit", "commit_offsets")),
    "streaming.state.commit_ms_p50", "streaming.state.rows_total",
    "streaming.state.memory_bytes", "streaming.state.dropped_by_watermark",
)
#: StreamingQueryProgress.durationMs phase -> metric stem
PHASES = {"triggerExecution": "trigger", "addBatch": "add_batch",
          "queryPlanning": "query_planning", "walCommit": "wal_commit",
          "commitOffsets": "commit_offsets"}
TRACE = ("trace.traced_op_p50_s", "trace.untraced_op_p50_s", "trace.overhead_frac", "trace.ops")
PY_TIME_METRIC = "time to run Python workers"


class Tracer:
    def __init__(self) -> None:
        self.stack: list[int] = []
        self.spans: list[dict] = []
        self.op: object | None = "setup"  # None = wrappers pass through
        self.per_op: list[dict[str, float]] = []
        self.walls: list[tuple[bool, float, bool]] = []  # (traced, wall, checked) per op
        self.memo: dict[object, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self.current: int | None = None  # operation running, traced or not
        self.events: list[tuple[str, str, dict | None]] = []  # streaming listener

    # -- spans ----------------------------------------------------------
    def install(self) -> None:
        """Wrap every target under each name bound to it, and swap in the
        counting fit memo; call before the session starts so
        ``session.get_spark`` is covered."""
        import importlib

        import backend_etl_spark.catalog  # noqa: F401  (binds every catalog module)
        from backend_etl_spark.operators import clustering

        for mod_name, _, _ in TARGETS:
            importlib.import_module(mod_name)
        engine = [m for n, m in list(sys.modules.items()) if n.startswith("backend_etl_spark")]
        for mod_name, attr, span in TARGETS:
            mod = sys.modules[mod_name]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), span))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span)
            for m in engine:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
        clustering._FIT_CACHE = FitMemo(self, clustering._FIT_CACHE)

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            span = {"name": name, "op": tracer.op}
            obs = None
            if name == "sink.write_idempotent":
                # rows offered to the sink, counted on the write's own
                # action; files and bytes are what this call adds
                from pyspark.sql import Observation
                from pyspark.sql import functions as F

                obs = Observation()
                args = (args[0].observe(obs, F.count(F.lit(1)).alias("n")), *args[1:])
                before = _parquet_files(args[1])
            span["parent"] = tracer.stack[-1] if tracer.stack else None
            span["idx"] = idx = len(tracer.spans)
            tracer.spans.append(span)
            tracer.stack.append(idx)
            span["start"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                tracer.stack.pop()
            if obs is not None:
                span["rows"], span["offered"] = int(out), int(obs.get["n"])
                after = _parquet_files(args[1])
                span["files"] = len(after.keys() - before.keys())
                span["bytes"] = sum(sz for f, sz in after.items() if f not in before)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    # -- Spark ------------------------------------------------------------
    def attach(self, spark, cores: int) -> None:
        self.spark, self.sc, self.cores = spark, spark.sparkContext, cores
        spark.streams.addListener(_progress_listener(self.events))
        self.op = None

    def begin_op(self, i: int, traced: bool) -> None:
        self.current = i
        if not traced:
            return
        self.group = f"perfbench-op{i}"
        self.sc.setJobGroup(self.group, self.group)
        store = self.spark._jsparkSession.sharedState().statusStore()
        self.exec_before = store.executionsCount()
        self.events_before = len(self.events)
        self.op = i

    def end_op(self, i: int) -> None:
        self.op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def paused(self):
        """Output checks inside an operation: no spans, and their Spark
        jobs run under a group the counters leave out."""
        op, self.op = self.op, None
        if op is not None:
            self.sc.setJobGroup(CHECK_GROUP, CHECK_GROUP)
        try:
            yield
        finally:
            if op is not None:
                self.sc.setJobGroup(self.group, self.group)
            self.op = op

    def record_op(self, i: int, res, traced: bool) -> None:
        self.walls.append((traced, res.wall_s, res.checked))
        if not traced:
            return
        m: dict[str, float] = defaultdict(float)
        runs = self._streaming_metrics(m)
        self._span_metrics(i, m)
        self._spark_metrics(m, res.wall_s, runs)
        for name, (build, action) in res.entries.items():
            m[f"catalog.{name}.build_s"] = build
            m[f"catalog.{name}.action_s"] = action
        memo = self.memo[i]
        for k in ("lookups", "hits", "cross_op_hits"):
            m[f"operators.clustering.fit_memo.{k}"] = memo[k]
        if memo["lookups"]:
            m["operators.clustering.fit_memo.hit_frac"] = memo["hits"] / memo["lookups"]
            m["operators.clustering.fit_memo.cross_op_hit_frac"] = (
                memo["cross_op_hits"] / memo["lookups"])
        self.per_op.append(m)

    def _span_metrics(self, op, m) -> None:
        spans = [s for s in self.spans if s["op"] == op]
        for s in spans:
            dur = s["end"] - s["start"]
            m[f"{s['name']}.calls"] += 1
            m[f"{s['name']}.s"] += dur
            if "rows" in s:
                m["sink.write_idempotent.rows"] += s["rows"]
                m["sink.offered_rows"] += s["offered"]
                m["sink.files"] += s["files"]
                m["sink.bytes"] += s["bytes"]
        for s in spans:
            if s["name"] in SELF_TIME:
                children = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["idx"])
                m[f"{s['name']}.self_s"] += (s["end"] - s["start"]) - children
        if m["sink.offered_rows"]:
            m["sink.write_idempotent.appended_frac"] = (
                m["sink.write_idempotent.rows"] / m["sink.offered_rows"])

    def _streaming_metrics(self, m, timeout: float = 30.0) -> list[str]:
        """Per-query progress of the queries the operation started. The
        listener bus delivers progress and termination asynchronously,
        so wait (outside the timed region) until each query has ended."""
        def mine():
            return [r for kind, r, _ in self.events[self.events_before:] if kind == "start"]

        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline and not {
            r for kind, r, _ in self.events if kind == "end"
        } >= set(mine()):
            time.sleep(0.05)
        runs = mine()
        progress = [p for kind, r, p in self.events if kind == "progress" and r in runs]
        if not runs:
            return runs
        m["streaming.queries"] = len(runs)
        m["streaming.batch.batches"] = len(progress)
        m["streaming.batch.input_rows"] = sum(p["input_rows"] for p in progress)
        for phase, stem in PHASES.items():
            vals = [p["duration_ms"][phase] for p in progress if phase in p["duration_ms"]]
            m[f"streaming.batch.{stem}_ms_p50"] = statistics.median(vals) if vals else 0.0
        commits = [sum(s["commit_ms"] for s in p["state"]) for p in progress if p["state"]]
        m["streaming.state.commit_ms_p50"] = statistics.median(commits) if commits else 0.0
        last = {}
        for p in progress:  # the state each query ended with
            last[p["run"]] = p["state"]
        m["streaming.state.rows_total"] = sum(s["rows_total"] for st in last.values() for s in st)
        m["streaming.state.memory_bytes"] = sum(
            s["memory_bytes"] for st in last.values() for s in st)
        m["streaming.state.dropped_by_watermark"] = sum(
            s["dropped"] for p in progress for s in p["state"])
        return runs

    def _spark_metrics(self, m, wall: float, runs: list[str]) -> None:
        tracker = self.sc.statusTracker()
        ids = list(tracker.getJobIdsForGroup(self.group))
        for run_id in runs:
            ids += tracker.getJobIdsForGroup(run_id)
        checks = set(tracker.getJobIdsForGroup(CHECK_GROUP))
        jobs = [j for j in range(min(ids), max(ids) + 1) if j not in checks] if ids else []
        store = self.sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                m["spark.jobs"] += 1
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never ran, no attempt to read
                continue
            if str(st.status()) == "SKIPPED":
                continue
            m["spark.stages"] += 1
            m["spark.tasks"] += st.numCompleteTasks()
            m["spark.executor_run_s"] += st.executorRunTime() / 1e3
            m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["spark.gc_s"] += st.jvmGcTime() / 1e3
            m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["spark.input_bytes"] += st.inputBytes()
            m["spark.output_bytes"] += st.outputBytes()
        m["spark.busy_frac"] = m["spark.executor_run_s"] / (wall * self.cores)
        m["spark.python_s"] = self._python_s(checks)

    def _python_s(self, checks: set) -> float:
        """Sum of the "time to run Python workers" SQL metric over the
        operation's SQL executions, output checks left out."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount() - self.exec_before
        total = 0.0
        for ex in _scala(store.executionsList(int(self.exec_before), int(n))):
            if any(j in checks for j in _scala(ex.jobs().keys())):
                continue
            acc = {pm.accumulatorId() for pm in _scala(ex.metrics())
                   if pm.name() == PY_TIME_METRIC}
            if acc:
                total += sum(_duration_s(kv._2())
                             for kv in _scala(store.executionMetrics(ex.executionId()))
                             if kv._1() in acc)
        return total

    # -- report -------------------------------------------------------------
    def span_records(self) -> list[list]:
        """Every span as [name, start, end, parent, operation], times in
        seconds from the first span."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [[s["name"], round(s["start"] - t0, 4), round(s["end"] - t0, 4),
                 s["parent"], s["op"]] for s in self.spans]

    def metrics(self) -> dict:
        """Median over traced operations of each per-operation metric,
        plus set-up spans and the tracing overhead."""
        names = set().union(*self.per_op) if self.per_op else set()
        out = {n: statistics.median(m.get(n, 0.0) for m in self.per_op) for n in names}
        setup = [s for s in self.spans if s["op"] == "setup"]
        out["session.get_spark.s"] = sum(s["end"] - s["start"] for s in setup
                                         if s["name"] == "session.get_spark")
        traced = [w for t, w, _ in self.walls if t]
        plain = [w for t, w, _ in self.walls if not t]
        out["trace.traced_op_p50_s"] = statistics.median(traced) if traced else 0.0
        out["trace.untraced_op_p50_s"] = statistics.median(plain) if plain else 0.0
        # operations still speed up run over run (JIT), so each traced
        # one is compared with the mean of its untraced neighbours; an
        # operation whose output went through the oracle check is not a
        # neighbour, as the check re-runs its plans
        ratios = []
        for k, (t, w, _) in enumerate(self.walls):
            near = [self.walls[j][1] for j in (k - 1, k + 1)
                    if 0 <= j < len(self.walls) and not self.walls[j][2]]
            if t and near:
                ratios.append(w / statistics.mean(near) - 1)
        out["trace.overhead_frac"] = statistics.median(ratios) if ratios else 0.0
        out["trace.ops"] = len(traced)
        return out


class FitMemo(dict):
    """Stands in for ``clustering._FIT_CACHE``: the same dict, plus, per
    traced operation, the lookups, the hits, and the hits on a fit that
    was made outside the operation (for an earlier input or in
    warm-up)."""

    def __init__(self, tracer: Tracer, fits: dict) -> None:
        super().__init__(fits)
        self.tracer = tracer
        self.origin = dict.fromkeys(fits)  # key -> operation that made it

    def __setitem__(self, key, value) -> None:
        self.origin[key] = self.tracer.current
        super().__setitem__(key, value)

    def _lookup(self, key) -> bool:
        hit = super().__contains__(key)
        op = self.tracer.op
        if op is not None:
            counts = self.tracer.memo[op]
            counts["lookups"] += 1
            counts["hits"] += hit
            counts["cross_op_hits"] += hit and self.origin.get(key) != op
        return hit

    def get(self, key, default=None):
        return super().get(key, default) if self._lookup(key) else default

    def __contains__(self, key) -> bool:
        return self._lookup(key)


def _progress_listener(events: list):
    """A StreamingQueryListener appending (kind, run id, progress) to
    ``events``: the start, every micro-batch's progress, the end."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            events.append(("start", str(event.runId), None))

        def onQueryProgress(self, event):
            p = event.progress
            events.append(("progress", str(p.runId), {
                "run": str(p.runId),
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [{"commit_ms": s.commitTimeMs, "rows_total": s.numRowsTotal,
                           "memory_bytes": s.memoryUsedBytes,
                           "dropped": s.numRowsDroppedByWatermark}
                          for s in p.stateOperators],
            }))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            events.append(("end", str(event.runId), None))

    return Progress()


def _parquet_files(path: str) -> dict[str, int]:
    """Every parquet file under ``path`` with its size."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[full] = os.path.getsize(full)
    return out


def _scala(collection):
    """Iterate a Scala collection held over py4j."""
    it = collection.iterator()
    while it.hasNext():
        yield it.next()


def _duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric ("total (min, med, max)\n3.5 s
    (...)" or a bare "120 ms")."""
    line = text.strip().split("\n")[-1] if "\n" in text else text
    mt = re.match(r"\s*([\d.,]+)\s*(ns|ms|s|m|h)\b", line)
    if not mt:
        return 0.0
    scale = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[mt.group(2)]
    return float(mt.group(1).replace(",", "")) * scale


def producible(entries) -> set[str]:
    """Every per-layer metric name a traced run of these catalog entries
    can report."""
    names = {f"{span}.{stat}" for _, _, span in TARGETS for stat in ("calls", "s")}
    names |= {f"{span}.self_s" for span in SELF_TIME}
    names |= {f"spark.{c}" for c in SPARK_COUNTERS}
    names |= {f"catalog.{e}.{s}" for e in entries for s in ("build_s", "action_s")}
    return names | set(SINK_EXTRA) | set(FIT_MEMO) | set(STREAMING) | set(TRACE)
