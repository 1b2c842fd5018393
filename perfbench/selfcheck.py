#!/usr/bin/env python3
"""Fast self-check of the benchmark, no Spark needed (a few seconds):

- BENCHMARK.json is well-formed and its metric names match what
  run.py (end to end) and tracer.py (per layer) report;
- the input generators are deterministic for a seed, differ across
  seeds, and their predictions add up;
- the sf0.1 figures the generators derive their sizes from still match
  scripts/gen_sf.py.

    python3 perfbench/selfcheck.py      # from the repository root
"""

from __future__ import annotations

import filecmp
import importlib.util
import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(root: str) -> None:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}, sorted(spec)
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(workloads.WORKLOADS), names
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = [m["name"] for m in spec["end_to_end"]]
    assert tuple(e2e) == run.E2E, e2e
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25, m
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    layers = [m["name"] for m in spec["per_layer"]]
    unknown = set(layers) - tracer.producible(workloads.CORPUS_ENTRIES + workloads.TICK_ENTRIES)
    assert not unknown, f"per-layer names no traced run reports: {sorted(unknown)}"
    every = e2e + layers + names
    assert len(every) == len(set(every)), "duplicate names"
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _write_inputs(root: str, seed: int) -> list[gen.Tick]:
    traffic = gen.TickTraffic(tenants=20, events_per_tick=200, feed_tenants=2, feed_items=10)
    timeline = gen.TickTimeline(seed, os.path.join(root, "ticks"), traffic)
    ticks = [timeline.next_tick() for _ in range(3)]
    corpus = gen.CorpusTraffic(docs=40, embeddings=40)
    for i in range(2):
        gen.write_corpus(os.path.join(root, "corpus"), seed, i, corpus)
    return ticks


def check_generators() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        ticks = _write_inputs(a, 7)
        _write_inputs(b, 7)
        _write_inputs(c, 8)
        assert _same_tree(a, b), "same seed wrote different inputs"
        assert not _same_tree(a, c), "different seeds wrote the same inputs"
        tr = gen.TickTraffic(tenants=20, events_per_tick=200, feed_tenants=2, feed_items=10)
        for t in ticks[1:]:
            # every fresh row lands; late and redelivered rows never do
            landed = sum(t.expect_events.values())
            dropped = round(tr.events_per_tick * tr.late_share) + round(
                tr.events_per_tick * tr.redelivered_share)
            assert landed == tr.events_per_tick - dropped, (t.index, t.expect_events)
            assert set(t.feed_wm.values()) == {t.as_of}


def check_sizes(root: str) -> None:
    path = os.path.join(root, "scripts", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("gen_sf", path)
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    mult = gen.SF / gen_sf.REF_SF
    assert int(gen_sf.BASE["events"] * mult) == gen.SF_EVENTS
    assert int(gen_sf.BASE["documents"] * mult) == gen.SF_DOCUMENTS
    assert int(gen_sf.BASE["embeddings"] * mult) == gen.SF_EMBEDDINGS
    with open(path) as fh:
        src = fh.read()
    assert f"int({gen.SF_USERS} * mult)" in src, "events user domain"
    assert f"nd // {gen.SF_DOC_CLONE_EVERY}" in src, "document clone rate"
    assert '"2024-01-01"' in src and '"2024-01-31"' in src and gen.SF_EVENT_DAYS == 30


def main() -> int:
    check_spec(os.getcwd())
    check_sizes(os.getcwd())
    check_generators()
    print("perfbench self-check ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
