"""Round-11 mechanism pins: the conflict-safe MinHash fold, the
canonical bench_full routing, the gated per-row-cost baseline roll, the
row-blocked cosine kernel. (The round's other clustering pins live in
tests/test_clustering.py.)"""

from __future__ import annotations

import json
import os
import sys

import bench

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from sf1_slopes import roll_per_row_baseline  # noqa: E402


# ------------------------------------------------------ conflict-safe minhash


def test_conflict_safe_minhash_resolves_to_one_version(spark):
    """Same doc_id delivered with TWO different payloads in one frame:
    the conflict-safe fold must land on the lowest-md5(text) version's
    OWN signature (winner-takes-all), never a chimera mixing both
    versions' shingles (r10 ADVICE low)."""
    from backend_etl_spark.operators.dedup import minhash_signatures

    va = "the quick brown fox jumps over the lazy dog again and again"
    vb = "an entirely different payload body for the very same document"
    both = spark.createDataFrame(
        [(1, va), (1, vb)], "doc_id bigint, text string"
    )
    sig_both = minhash_signatures(both, "doc_id", "text", conflict_safe=True)
    row = sig_both.first().asDict()

    # the deterministic winner is whichever version has the lower md5
    only_a = spark.createDataFrame([(1, va)], "doc_id bigint, text string")
    only_b = spark.createDataFrame([(1, vb)], "doc_id bigint, text string")
    import hashlib

    winner = only_a if (
        hashlib.md5(va.encode()).hexdigest()
        < hashlib.md5(vb.encode()).hexdigest()
    ) else only_b
    loser = only_b if winner is only_a else only_a
    expect = minhash_signatures(
        winner, "doc_id", "text", conflict_safe=True
    ).first().asDict()
    chimera_side = minhash_signatures(
        loser, "doc_id", "text", conflict_safe=True
    ).first().asDict()
    assert row == expect
    assert row != chimera_side  # and it isn't secretly the other version


def test_conflict_safe_matches_plain_on_identical_redelivery(spark):
    """Byte-identical redelivery (the at-least-once case the r10 shuffle
    removal targeted): conflict-safe and plain folds agree exactly."""
    from backend_etl_spark.operators.dedup import minhash_signatures

    txt = "one document redelivered twice with identical bytes each time"
    dup = spark.createDataFrame(
        [(7, txt), (7, txt)], "doc_id bigint, text string"
    )
    a = minhash_signatures(dup, "doc_id", "text", conflict_safe=True).first()
    b = minhash_signatures(dup, "doc_id", "text").first()
    assert a.asDict() == b.asDict()


# ------------------------------------------------- canonical bench_full route


def test_degraded_run_diverts_when_canonical_exists(tmp_path):
    p = tmp_path / "bench_full.json"
    p.write_text(json.dumps({"canonical": True, "queries": {}}))
    out = bench.resolve_full_path(str(tmp_path), "bench_full.json", False, False)
    assert out.endswith("bench_full_degraded.json")


def test_degraded_run_lands_primary_when_no_canonical(tmp_path):
    # no incumbent at all
    out = bench.resolve_full_path(str(tmp_path), "bench_full.json", False, False)
    assert out.endswith("/bench_full.json")
    # incumbent pre-dates the stamp (no canonical key) → also clobbered
    (tmp_path / "bench_full.json").write_text(json.dumps({"queries": {}}))
    out = bench.resolve_full_path(str(tmp_path), "bench_full.json", False, False)
    assert out.endswith("/bench_full.json")


def test_canonical_run_always_lands_primary(tmp_path):
    (tmp_path / "bench_full.json").write_text(
        json.dumps({"canonical": True, "queries": {}})
    )
    out = bench.resolve_full_path(str(tmp_path), "bench_full.json", True, False)
    assert out.endswith("/bench_full.json")


def test_canonical_survives_summary_shedding():
    rec = {
        "metric": "catalog_total_runtime",
        "value": 1.0,
        "unit": "sec",
        "n_ok": 202,
        "n_total": 202,
        "queries_file": "bench_full.json",
        "sf": 0.1,
        "canonical": False,
        "queries": {f"entry_{i}": 9.9 for i in range(200)},
    }
    line = bench.build_summary_line(rec)
    assert len(line) <= bench.MAX_SUMMARY_CHARS
    assert json.loads(line)["canonical"] is False


# ------------------------------------------------ per-row baseline roll gate


def test_drift_run_does_not_adopt_drifted_cost():
    prev = {"a": 100.0}
    hist = {"a": [100.0, 101.0, 99.0]}
    costs, history, rolled = roll_per_row_baseline(
        prev, hist, {"a": 250.0}, clean=False
    )
    assert not rolled and costs == prev and history == hist


def test_clean_run_rolls_and_caps_history():
    costs, history, rolled = roll_per_row_baseline(
        {"a": 100.0}, {"a": [100.0, 101.0, 99.0]}, {"a": 98.0}, clean=True
    )
    assert rolled and costs == {"a": 98.0}
    assert history == {"a": [101.0, 99.0, 98.0]}


def test_force_flag_rolls_after_adjudication():
    costs, history, rolled = roll_per_row_baseline(
        {"a": 100.0}, {"a": [100.0]}, {"a": 250.0}, clean=False, force=True
    )
    assert rolled and costs == {"a": 250.0} and history == {"a": [100.0, 250.0]}


def test_median_baseline_resists_one_fast_outlier():
    """One outlier-fast committed reading must not manufacture a false
    drift flag: the median of the 3-deep history, not the min, is the
    judge. (The drift bar is now > 1.3x the MEDIAN.)"""
    hist = [100.0, 40.0, 100.0]  # one fast outlier
    s = sorted(hist)
    median = s[len(s) // 2]
    assert median == 100.0
    # a normal 110 µs reading stays under 1.3x the median — no flag —
    # whereas vs the min it would read as 2.75x "drift"
    assert 110.0 <= 1.3 * median
    assert 110.0 > 1.3 * min(hist)


# ------------------------------------------------- blocked cosine kernel


def test_blocked_cosine_kernel_matches_unblocked(spark, monkeypatch):
    """Row-blocking the intra-bucket pair matrix must not change ONE
    emitted value or pair: force a tiny block so a 40-row bucket spans
    many blocks and compare against the single-block result."""
    import numpy as np

    from backend_etl_spark.operators import dedup as D

    rng = np.random.default_rng(11)
    rows = [
        (int(i), int(i % 2), [float(x) for x in rng.normal(0, 1, 8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>"
    )

    monkeypatch.setattr(D, "_COS_BLOCK", 7)
    small = sorted(
        tuple(r)
        for r in D.intra_bucket_cosine_pairs(df, threshold=-1.0).collect()
    )
    monkeypatch.setattr(D, "_COS_BLOCK", 4096)
    full = sorted(
        tuple(r)
        for r in D.intra_bucket_cosine_pairs(df, threshold=-1.0).collect()
    )
    assert small == full and len(full) == 2 * (20 * 19 // 2)


def test_roll_history_refused_on_degraded_run():
    """--roll-history states intent; a box-degraded run (>10% contention
    flags) must still be refused — measured live in r11 when an explicit
    roll landed in a 49-flag window and appended a degraded record."""
    assert not bench.roll_qualifies(49, 203)
    assert bench.roll_qualifies(14, 203)  # the canonical r11 run
    assert bench.roll_qualifies(0, 203)
