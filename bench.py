#!/usr/bin/env python
"""Benchmark harness: runs the FULL query catalog at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Output contract (BENCH_r04 postmortem — the driver's stdout-tail capture
truncated a 6 KB single-line record, leaving ``parsed: null``):

- the full per-query timing map is written to ``bench_full.json`` next to
  this file AND printed on an EARLY stdout line (prefixed, non-final);
- the FINAL stdout line is a compact JSON record (total, counts, sf,
  worst-10 inline, pointer to the full file) that always survives tail
  capture.

Each query is forced end-to-end with a noop write (full plan execution,
no driver collect bottleneck). A warmup pass runs first so steady-state
numbers dominate; ``--cold`` / SPARK_GRAFT_BENCH_COLD=1 switches to the
worst-case variant (local[1], no warmup).

Committed records are written ONLY under SPARK_GRAFT_BENCH_CANONICAL=1
(r12 verdict item 6): any run without the marker — the driver's
post-commit run in particular — lands its full map in a gitignored
``*_scratch.json`` sibling, so round boundaries no longer dirty
``bench_full.json``. The stdout contract is unchanged either way.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from backend_etl_spark.catalog import REGISTRY  # noqa: E402
from backend_etl_spark.session import get_spark, release_all_persistent  # noqa: E402


#: the driver's stdout-tail capture window is ~2000 chars; the final
#: summary line must always fit (BENCH_r08 postmortem: an uncapped
#: contended map pushed the line past it and the round's official
#: record became ``parsed: null``)
MAX_SUMMARY_CHARS = 1800


#: SPARK_GRAFT_BENCH_ONLY=heavy — the standing sf10 subset (r11 verdict
#: item 5): the catalog's heaviest scale-sensitive families
#: (dedup/knn/streaming/funnel + the big aggregates), benchable at sf10
#: in minutes where the full catalog would take hours
#: (window_sessionize_events alone is ~9 min there). The sf10 record
#: (bench_full_sf10.json) carries the same per-entry adjudication and
#: canonical-stamp discipline as sf0.1/sf1, so the third decade gets
#: round-over-round drift detection instead of one-off sweeps.
HEAVY_ENTRIES = [
    "corpus_pipeline_funnel",
    "dedup_exact_docs", "dedup_minhash_signatures", "dedup_lsh_candidates",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_substring_spans",
    "dedup_substring_cut", "dedup_cluster_components",
    "dedup_keep_best_in_cluster", "dedup_incremental_snapshot",
    "dedup_semantic_semdedup", "dedup_embedding_cosine_pairs",
    "decontam_semantic", "decontam_ngram_overlap",
    "knn_brute_force_cosine", "knn_lsh_bucketed", "knn_lsh_recall_at_5",
    "knn_ivfpq_residual", "knn_ivfpq_rerank",
    "streaming_ivfpq_index_append", "streaming_incremental_dedup",
    "streaming_sessionize_stateful", "streaming_sketch_topk_fused",
    "streaming_sketch_cms_merge", "streaming_windowed_counts",
    "agg_median_price", "agg_approx_quantile_bounded",
    "group_quantiles_production", "geo_nearest_supplier_binned",
    "lang_id_heuristic", "text_quality",
]


def resolve_subset(only: str) -> list[str]:
    """Entry names for a SPARK_GRAFT_BENCH_ONLY run: the literal
    ``heavy`` set, or a comma list; unknown names fail loudly."""
    names = (
        list(HEAVY_ENTRIES)
        if only == "heavy"
        else [n.strip() for n in only.split(",") if n.strip()]
    )
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_ONLY: unknown entries {unknown}"
        )
    if not names:
        # an effectively-empty spec (e.g. ",") would run zero entries and
        # write a canonical-looking record with value 0.0 (r12 ADVICE)
        raise SystemExit(
            "SPARK_GRAFT_BENCH_ONLY resolved to zero entries"
        )
    return names


#: Deliberate-cost re-baselines (r12 verdict item 7): entries whose cost
#: increase was an intentional, documented trade, not drift — the
#: 3-round-best highwater baseline is FLOORED at the accepted cost so
#: the flag fires only on movement ABOVE it. History records are never
#: edited (they are measurements); the floor is the explicit, reviewable
#: re-baseline. One BASELINE.md note per entry (§z).
INTENTIONAL_COST_FLOORS = {
    # r12: the entry now runs sketch + in-query GK rank verdict — the
    # price of converting the last rows-only row to hash-green
    # (operators/quantiles.py:100-162); adjudicated r12 cost 0.78 s vs
    # the pre-verdict best3 0.24 s
    "group_quantiles_production": 0.78,
    # r12: DISK_ONLY localCheckpoint in the CC loop — the sf10 OOM fix
    # (memory-level checkpoint blocks starved every round's sort);
    # adjudicated r12 cost 3.97 s vs the memory-level best3 2.76 s
    "dedup_cluster_components": 3.97,
}


def apply_cost_floors(best3: dict[str, float]) -> dict[str, float]:
    """Raise each re-baselined entry's 3-round best to its accepted
    intentional cost (no-op for entries absent from the history)."""
    return {
        n: max(b, INTENTIONAL_COST_FLOORS.get(n, 0.0))
        for n, b in best3.items()
    }


#: fields that must survive shedding — the headline facts every round's
#: adjudication reads (anything else is duplicated in bench_full.json)
ESSENTIAL_KEYS = (
    "metric", "value", "unit", "n_ok", "n_total", "queries_file", "sf",
    "variant", "n_contended", "value_adjudicated", "n_errors", "partial",
    "value_partial_sum", "n_highwater", "n_highwater_unadjudicated",
    "n_recycle_failures", "canonical",
)


def build_summary_line(out: dict) -> str:
    """Serialize the final summary record, shedding detail fields (all
    duplicated in bench_full.json) until it fits the tail window.

    Operates on a COPY (the caller's record stays intact for the full
    file) and carries a hard backstop: if shedding the three detail maps
    still leaves the line over MAX_SUMMARY_CHARS (a future headline
    field grew), every non-essential key is dropped — the line can never
    again exceed the driver's tail window and reintroduce the r8
    ``parsed: null`` failure. The backstop output is still valid JSON.
    """
    out = dict(out)
    line = json.dumps(out)
    for shed in ("contended", "queries", "errors", "highwater"):
        if len(line) <= MAX_SUMMARY_CHARS:
            break
        out.pop(shed, None)
        line = json.dumps(out)
    if len(line) > MAX_SUMMARY_CHARS:
        out = {k: out[k] for k in ESSENTIAL_KEYS if k in out}
        line = json.dumps(out)
    # last-resort guarantee (essential keys alone are ~250 chars today;
    # this trips only if that invariant is broken by a pathological
    # value) — parsable minimal record beats a truncated unparsable one
    if len(line) > MAX_SUMMARY_CHARS:
        line = json.dumps(
            {"metric": out.get("metric"), "value": out.get("value")}
        )
    return line


def roll_qualifies(n_contended: int, n_times: int) -> bool:
    """--roll-history states intent; the run must still qualify — same
    10% contention bar as the canonical stamp (a degraded run's
    adjudicated map must never become a 3-round-best baseline)."""
    return n_contended <= n_times // 10


def prune_history(history: list[dict]) -> list[dict]:
    """Keep the last 3 records PER (sf, subset) stream — a flat
    ``history[-3:]`` would let sf10 heavy rolls evict the sf0.1
    full-catalog records (and vice versa), silently shrinking the other
    decade's 3-round-best window."""
    keep: set[int] = set()
    by_stream: dict[tuple, list[dict]] = {}
    for rec in history:
        key = (str(rec.get("sf")), rec.get("subset", ""))
        by_stream.setdefault(key, []).append(rec)
    for recs in by_stream.values():
        keep.update(id(r) for r in recs[-3:])
    return [r for r in history if id(r) in keep]


def resolve_record_fname(
    here_dir: str, sf: str, cold: bool, only: str, marker: bool
) -> str:
    """Which record file this run targets.

    - variant routing: cold → ``bench_full_cold.json``; non-default SF →
      ``bench_full_sf{sf}.json``; else ``bench_full.json``.
    - subset routing (r12 ADVICE medium): a SPARK_GRAFT_BENCH_ONLY map
      at the default warm SF always diverts to ``bench_full_subset.json``;
      at cold / non-default SFs it may land in the variant file ONLY
      when the incumbent record carries the SAME subset stamp (the
      standing sf10 ``heavy`` artifact) or there is no incumbent yet
      (bootstrap — a self-describing subset record beats no record);
      otherwise it diverts to ``*_subset.json`` so a partial map never
      clobbers a full-catalog canonical record.
    - driver-run routing (r12 verdict item 6): without the explicit
      SPARK_GRAFT_BENCH_CANONICAL=1 marker the run writes a
      ``*_scratch.json`` sibling (gitignored) and NEVER a committed
      record — the driver's post-commit run used to dirty
      ``bench_full.json`` at every round boundary. Adjudication
      baselines still READ the canonical files, so driver-style runs
      get the same contention/highwater annotations.
    """
    default_sf = sf == "0.1"
    fname = (
        "bench_full_cold.json"
        if cold
        else ("bench_full.json" if default_sf else f"bench_full_sf{sf}.json")
    )
    if only:
        if default_sf and not cold:
            fname = "bench_full_subset.json"
        else:
            try:
                with open(os.path.join(here_dir, fname)) as fh:
                    stamp = json.load(fh).get("subset")
            except Exception:
                stamp = only  # no incumbent: bootstrap in place
            if stamp != only:
                fname = fname.replace(".json", "_subset.json")
    if not marker:
        fname = fname.replace(".json", "_scratch.json")
    return fname


def resolve_full_path(
    here_dir: str, fname: str, canonical: bool, cold: bool
) -> str:
    """Where this run's full map lands (r10 verdict item 1). A
    non-canonical (box-degraded or errored) run must never clobber an
    existing CANONICAL record — it diverts to ``*_degraded.json``. The
    discipline applies to cold runs too (r11 advice: cold records carry
    the same canonical stamp, so the same clobber hazard exists). If no
    canonical record exists yet (first run, or the incumbent is itself
    stamped non-canonical / pre-dates the stamp), the degraded map still
    lands in the primary file: a self-describing degraded record beats
    no record."""
    if not canonical:
        try:
            with open(os.path.join(here_dir, fname)) as fh:
                prev_canonical = bool(json.load(fh).get("canonical"))
        except Exception:
            prev_canonical = False
        if prev_canonical:
            fname = fname.replace(".json", "_degraded.json")
    return os.path.join(here_dir, fname)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # --cold / SPARK_GRAFT_BENCH_COLD=1: worst-case variant — single
    # executor thread, no warmup passes — so the 2x-vs-baseline gate is
    # also checked without local[32] parallelism hiding per-query cost.
    cold = "--cold" in sys.argv or os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1"
    if cold:
        os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = get_spark("backend-etl-spark-bench")

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        # between-query hygiene, OUTSIDE the timed region (r13): free
        # the localCheckpoint blocks the finished query leaked — by
        # entry ~50 the block manager otherwise carries dozens of dead
        # survivor-set/index generations that evict/stall later entries
        # (measured: repeated checkpoint-heavy entries degraded
        # 3.7→5.6→7.6 s purely from accumulated blocks). The timed
        # computation itself is unchanged.
        release_all_persistent(spark)
        return dt

    def warmup() -> None:
        # JVM + codegen + parquet footer cache; Arrow worker pool
        for warm in ("q3_shipping_priority", "multimodal_binary_meta"):
            try:
                run(warm)
            except Exception:
                # warm-up only primes caches; a broken entry fails again,
                # and is recorded, when the timed loop runs it
                pass

    def recycle() -> None:
        # Periodic JVM-state reset (r9 postmortem: after ~130 entries
        # the long-lived session accumulates enough heap/GC/codegen
        # state that solo-1.5 s entries read 20-35 s in-run — 24 of 202
        # entries needed solo retimes). Stopping the SparkContext drops
        # executor threads, block manager and localCheckpoint blocks;
        # the fresh context re-warms on two cheap entries so the next
        # family isn't billed the cold start.
        # a failed recycle must degrade to "keep the old session", never
        # kill a 200-entry run half-way through (r10 ADVICE low: the old
        # code let a second get_spark failure propagate mid-loop)
        nonlocal spark
        old = spark
        try:
            spark.stop()
        except Exception:
            # an already-dead context cannot be stopped; get_spark below
            # replaces it either way, and its failure is reported
            pass
        last_err: Exception | None = None
        for attempt in range(3):
            try:
                spark = get_spark("backend-etl-spark-bench")
                break
            except Exception as exc:  # noqa: BLE001 - JVM restart flake
                last_err = exc
                time.sleep(2 * (attempt + 1))
        else:
            # total failure: keep the old session object (if its stop()
            # itself failed it may still be live) and record the event —
            # the run then degrades to per-entry errors, never an abort
            spark = old
            recycle_failures.append(f"{type(last_err).__name__}: {last_err}"[:200])
            return
        warmup()

    # entries between session recycles; 0 disables (the pre-r10
    # behavior). Big-SF runs accumulate JVM state faster per entry
    # (the r8 finding), and a same-day r10 A/B at sf1 halved the
    # contention-flag count at interval 30 vs 50 (53 -> 25) on a flat
    # in-run total — so non-default SFs default tighter.
    _sf_dir_name = os.path.basename(sf_dir.rstrip("/"))
    _default_recycle = "50" if _sf_dir_name == "sf0.1" else "30"
    recycle_every = int(
        os.environ.get("SPARK_GRAFT_BENCH_RECYCLE", _default_recycle)
    )

    if not cold:
        warmup()

    # One bad query must degrade the bench to "N-1 numbers + 1 error",
    # never zero numbers (round-2 postmortem: a single AnalysisException
    # aborted the whole run and BENCH_r02.json recorded nothing).
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    recycle_failures: list[str] = []
    _only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    names = resolve_subset(_only) if _only else list(REGISTRY)
    for i, name in enumerate(names):
        if not cold and recycle_every and i and i % recycle_every == 0:
            recycle()
        try:
            times[name] = run(name)
        except Exception as exc:  # noqa: BLE001 - isolate per-query failure
            msg = str(exc).strip().splitlines()
            errors[name] = f"{type(exc).__name__}: {msg[0] if msg else ''}"[:300]

    # Contention adjudication (r5 postmortem: three recorded "regressions"
    # evaporated on solo re-timing — Python-worker-spawn contention in the
    # 200-query run, not code). Any query that moved >1.3x vs the previous
    # bench_full.json OR vs the committed round-start snapshot
    # (bench_round_start.json — the r6 postmortem: three streaming drains
    # crept ~1.5x across intra-round runs and each run-over-run delta
    # stayed under the bar) is re-run solo at the end. The PUBLISHED
    # number stays the in-run one — every entry, mover or not, reports
    # the same single-methodology measurement — and the solo best-of-2
    # is carried in the `contended` annotation as the adjudication
    # evidence (r6 advice: replacing only slow movers' numbers mixed
    # methodologies and biased totals downward).
    contended: dict[str, dict] = {}
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    here = os.path.dirname(os.path.abspath(__file__))
    baselines: dict[str, dict[str, float]] = {}
    if not cold:
        # non-default SFs adjudicate against their own previous record
        # (bench_full_sf{sf}.json) — the r8 sf1 sweep showed in-run
        # contention is WORSE at big SFs (one entry 2.9 s solo read
        # 18.3 s in-run) and without a same-sf baseline no mover was
        # ever solo-re-timed there
        prev_name = (
            "bench_full.json" if sf == "0.1" else f"bench_full_sf{sf}.json"
        )
        for tag, fname in (
            ("prev", prev_name),
            ("round_start", "bench_round_start.json"),
        ):
            try:
                with open(os.path.join(here, fname)) as fh:
                    rec = json.load(fh)
                # only adjudicate against a same-sf record: cross-sf
                # deltas are data scaling, not contention
                if str(rec.get("sf")) == str(float(sf)):
                    baselines[tag] = rec.get("queries", {})
            except Exception:
                # a missing or malformed baseline file only means no
                # adjudication against it; the in-run numbers stand
                pass
        movers: dict[str, list[str]] = {}
        for n, t in times.items():
            for tag, base in baselines.items():
                b = base.get(n)
                # absolute floor: sub-second queries jitter >1.3x from
                # scheduler noise alone (61 flags in one r6 run, every
                # solo at-or-below previous) — only a move that also
                # costs real wall-clock deserves a solo re-run
                if (
                    isinstance(b, (int, float))
                    and b > 0
                    and t / b > 1.3
                    and t - b > 0.25
                ):
                    movers.setdefault(n, []).append(tag)
        if movers and recycle_every:
            # solo retimes are the adjudication evidence — run them on a
            # fresh session so the verdict isn't taken on the same
            # accumulated JVM state that inflated the in-run numbers
            recycle()
        for name, vs in movers.items():
            try:
                solo = min(run(name), run(name))
            except Exception:
                continue
            contended[name] = {"in_run": times[name], "solo": solo, "vs": vs}

    # Multi-round high-water check (r9 verdict item 3: bpe_train_merges
    # drifted 3.37->4.97 s across three rounds with every round-over-round
    # step under the 1.3x mover bar). Each entry's ADJUDICATED time (solo
    # when contended, else in-run) is compared against its best across
    # the last 3 committed round records (bench_history.json); >1.3x
    # above that 3-round best AND >0.25 s absolute flags it even when
    # flat vs the immediately previous record.
    adjudicated = {
        **times,
        **{n: c["solo"] for n, c in contended.items()},
    }
    highwater: dict[str, dict] = {}
    hist_path = os.path.join(here, "bench_history.json")
    # sf10 gets the same multi-round drift detection as sf0.1 (r12
    # verdict item 2): its canonical artifact is the heavy-32 subset, so
    # history records carry a subset stamp and best3 only reads records
    # of the SAME coverage (a heavy-subset best must never baseline a
    # full-catalog run or vice versa)
    if not cold and sf in ("0.1", "10"):
        try:
            with open(hist_path) as fh:
                history = json.load(fh).get("records", [])
        except Exception:
            history = []
        stream = [
            rec for rec in history
            if str(rec.get("sf")) == str(float(sf))
            and rec.get("subset", "") == _only
        ]
        best3: dict[str, float] = {}
        for rec in stream[-3:]:
            for n, t in rec.get("queries", {}).items():
                if isinstance(t, (int, float)):
                    best3[n] = min(best3.get(n, float("inf")), float(t))
        best3 = apply_cost_floors(best3)
        for n, t in adjudicated.items():
            b = best3.get(n)
            if b and t / b > 1.3 and t - b > 0.25:
                highwater[n] = {"now": t, "best3": round(b, 3)}
        # the history stores SOLO-adjudicated values (the cleanest past
        # readings) while `now` is an in-run number — solo-retime each
        # flag so only drift that survives a clean best-of-2 publishes;
        # cleared flags stay as annotations (drift=False), same
        # methodology as the contention adjudication above
        if highwater:
            if recycle_every:
                recycle()
            for n, hw in list(highwater.items()):
                try:
                    hw["solo"] = min(run(n), run(n))
                except Exception as exc:  # noqa: BLE001 - retime flake
                    # an unadjudicated flag must stay visible (r10
                    # ADVICE low: the bare `continue` silently dropped
                    # it from the headline count) — record the failure
                    # and count it separately below
                    hw["solo_error"] = (
                        f"{type(exc).__name__}: {exc}"[:200]
                    )
                    continue
                adjudicated[n] = hw["solo"]
                hw["drift"] = (
                    hw["solo"] / hw["best3"] > 1.3
                    and hw["solo"] - hw["best3"] > 0.25
                )
                # solo readings are box-relative too (measured 3x spread
                # on identical code across one session's hours): when
                # the run itself is heavily contended (>10% of entries
                # flagged), a confirmed drift is more likely box than
                # code — annotate so readers don't call it a regression
                if hw["drift"] and len(contended) > len(times) // 10:
                    hw["box_degraded_run"] = True
        # Rolling the history forward is EXPLICIT (--roll-history /
        # SPARK_GRAFT_BENCH_ROLL=1), full-success only: the first r10
        # session auto-appended every run, and by run 3 "3-round best"
        # had become "this session's own cleanest solo moments" — a
        # ratchet that manufactured 10 drift flags out of ordinary
        # run-to-run jitter on a busy box. The history's contract is one
        # record per ROUND (the canonical clean run), promoted
        # deliberately at round end — and even an explicit roll is
        # refused when THIS run turned out box-degraded (r11: a
        # --roll-history run landed in a 49-flag window and appended a
        # degraded record; the flag states intent, the run must still
        # qualify).
        # a subset map must never become a 3-round best — EXCEPT the
        # sf10 heavy subset, which IS that decade's canonical artifact
        # (its history records carry the subset stamp, and best3 above
        # only reads same-coverage records)
        roll = (
            "--roll-history" in sys.argv
            or os.environ.get("SPARK_GRAFT_BENCH_ROLL") == "1"
        ) and (not _only or (sf == "10" and _only == "heavy"))
        if roll and not errors and not roll_qualifies(len(contended), len(times)):
            print(
                f"(roll-history refused: {len(contended)} contention flags "
                f"> 10% of {len(times)} — box-degraded run)"
            )
            roll = False
        if roll and not errors:
            rec = {
                "stamp": f"run_{int(time.time())}",
                "sf": float(sf),
                "queries": {n: round(t, 3) for n, t in adjudicated.items()},
            }
            if _only:
                rec["subset"] = _only
            history.append(rec)
            with open(hist_path, "w") as fh:
                json.dump(
                    {"records": prune_history(history)},
                    fh, indent=1, sort_keys=True,
                )

    # Canonical-run discipline (r10 verdict item 1): a run with >10%
    # of entries contention-flagged is box-degraded — its map is still
    # recorded, but stamped canonical:false, and it must never clobber
    # an existing CANONICAL record (r10 shipped the box-degraded fourth
    # run as bench_full.json while the clean map lived only in
    # bench_history.json). Degraded runs land in *_degraded.json when a
    # canonical record exists; queries_file always names the file this
    # run actually wrote.
    degraded = bool(times) and len(contended) > len(times) // 10
    full = {
        "queries": {
            **times,
            **{name: {"err": err} for name, err in errors.items()},
        },
        "sf": float(sf) if sf else None,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "variant": "cold-single-thread" if cold else "warm",
        "canonical": not degraded and not errors,
    }
    if _only:
        full["subset"] = _only
    if contended:
        full["contended"] = contended
    if highwater:
        full["highwater"] = highwater
    if recycle_failures:
        full["recycle_failures"] = recycle_failures
    # record-file routing: variant + subset-stamp + driver-scratch rules
    # (resolve_record_fname); a marker-bearing run additionally never
    # clobbers a canonical record when itself degraded (resolve_full_path)
    here_dir = os.path.dirname(os.path.abspath(__file__))
    _marker = os.environ.get("SPARK_GRAFT_BENCH_CANONICAL") == "1"
    fname = resolve_record_fname(here_dir, sf, cold, _only, _marker)
    full_path = (
        resolve_full_path(here_dir, fname, full["canonical"], cold)
        if _marker
        else os.path.join(here_dir, fname)
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    # early, prefixed, NON-final line carrying the full map — recoverable
    # from a head capture even if the file is lost
    print("BENCH_FULL " + json.dumps(full["queries"]))

    worst = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    # r14 (r13 verdict item 5): knn_ivfpq_residual's r13 kernel-dedup
    # fix was kept on the strength of the builder's own 8-core A/B; the
    # driver tracks round-over-round movement only for entries in this
    # inline map, so pin it here (ADDITIVE — the worst-10 entries are
    # untouched) until the driver has adjudicated the trade.
    if "knn_ivfpq_residual" in times:
        worst.setdefault("knn_ivfpq_residual", times["knn_ivfpq_residual"])
    out = {
        "metric": "catalog_total_runtime",
        # a partial sum must never masquerade as a full-catalog total:
        # with any error the headline value is nulled and partial=true,
        # so cross-round comparisons can't read N-1 queries as a speedup
        "value": None if errors else round(sum(times.values()), 3),
        "unit": "sec",
        "n_ok": len(times),
        "n_total": len(names),
        "queries": worst,
        "queries_file": os.path.basename(full_path),
        "sf": float(sf) if sf else None,
        "canonical": full["canonical"],
    }
    if _only:
        out["subset"] = _only
    if cold:
        out["variant"] = "cold-single-thread"
    confirmed_hw = {n: hw for n, hw in highwater.items() if hw.get("drift")}
    unadjudicated_hw = {
        n: hw for n, hw in highwater.items() if "solo_error" in hw
    }
    if highwater:
        # compounding-drift flags (3-round high-water), solo-adjudicated:
        # the confirmed count always in the summary; the 5 worst by
        # absolute drift inline; the full map (cleared annotations
        # included, drift=false) in bench_full.json. A flag whose solo
        # retime itself errored was never adjudicated — it is counted
        # separately so a real regression can't vanish behind a
        # transient retime failure (r10 ADVICE low).
        out["n_highwater"] = len(confirmed_hw)
        if unadjudicated_hw:
            out["n_highwater_unadjudicated"] = len(unadjudicated_hw)
        out["highwater"] = dict(
            sorted(
                confirmed_hw.items(),
                key=lambda kv: kv[1].get("solo", kv[1]["now"]) - kv[1]["best3"],
                reverse=True,
            )[:5]
        )
    if contended:
        # BENCH_r08 postmortem: the full contended map (30+ entries) blew
        # the final line past the driver's 2000-char tail capture and the
        # official record got ``parsed: null``. The final line carries only
        # a count + the 5 biggest in_run/solo gaps; the complete map lives
        # in bench_full.json and on the early BENCH_FULL line.
        worst_contended = sorted(
            contended.items(),
            key=lambda kv: kv[1]["in_run"] - kv[1]["solo"],
            reverse=True,
        )[:5]
        out["n_contended"] = len(contended)
        out["contended"] = {
            n: {"solo": v["solo"], "vs": v["vs"]} for n, v in worst_contended
        }
        # contention-adjudicated total: in-run total with each mover's
        # solo best-of-2 substituted — the apples-to-apples cross-round
        # comparator the r8 judge had to compute by hand. Same partial
        # rule as `value` (r9 review): with any error this is an N-1
        # sum and must not masquerade as a full-catalog comparator.
        if not errors:
            out["value_adjudicated"] = round(
                sum(times.values())
                + sum(v["solo"] - v["in_run"] for v in contended.values()),
                3,
            )
    if errors:
        out["n_errors"] = len(errors)
        out["partial"] = True
        out["value_partial_sum"] = round(sum(times.values()), 3)
        out["errors"] = {k: v[:80] for k, v in list(errors.items())[:5]}
    if recycle_failures:
        out["n_recycle_failures"] = len(recycle_failures)
    print(build_summary_line(out))


if __name__ == "__main__":
    main()
