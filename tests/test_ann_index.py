"""IVF-PQ (operators/ann_index.py): the cid-keyed ADC tables over a
codebook that lost a codeword, and the per-process build cache keyed on
the input's file identity."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from backend_etl_spark.catalog import REGISTRY
from backend_etl_spark.catalog import llmops2
from backend_etl_spark.operators import clustering as C
from tests.oracle_utils import compare


def _write_embeddings(sf_dir: str, seed: int, n: int = 200, dim: int = 64) -> None:
    rng = np.random.default_rng(seed)
    vecs = rng.normal(0, 1, (n, dim)).astype(np.float32)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), dim
            ).cast(pa.list_(pa.float32())),
            "label": (np.arange(n) % 10).astype(np.int32),
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def _rounded_dist(x, cw) -> float:
    # left-to-right from 0.0, the fold's order; half-away 6-dp rounding
    return math.floor(sum((a - b) * (a - b) for a, b in zip(x, cw)) * 1e6 + 0.5) / 1e6


def test_adc_tables_are_keyed_by_codeword_id(spark, tmp_path, monkeypatch):
    """Lloyd's can empty a codeword and drop its cid. Over PQ codebooks
    that lost cid 1 (cids {0, 2, 3}) the codes still use 0 and 2, and
    each IVF-PQ candidate's approx_dist2 must be the rounded distance to
    ITS OWN code's codewords — a positional table would read the wrong
    cell past the gap."""
    sf_dir = str(tmp_path / "sf")
    _write_embeddings(sf_dir, seed=3)
    real = C.kmeans_fit_multi
    books = {}

    def sparse_fit(dfs, k, iters, *a, **kw):
        fits = real(dfs, k, iters, *a, **kw)
        for t, cents in fits.items():
            if (k[t] if isinstance(k, dict) else k) == llmops2._PQ_K:
                cents.pop(1)
                books[len(books)] = cents
        return fits

    monkeypatch.setattr(C, "kmeans_fit_multi", sparse_fit)
    cand, _, emb = llmops2._ivfpq_search(spark, sf_dir)
    rows = cand.collect()
    assert sorted(sorted(b) for b in books.values()) == [[0, 2, 3], [0, 2, 3]]

    half = llmops2._PQ_HALF
    vec = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}

    def code_and_dist(x, book):
        d = {cid: _rounded_dist(x, cw) for cid, cw in book.items()}
        return min(d, key=lambda cid: (d[cid], cid)), d

    used = [set(), set()]
    for r in rows:
        q, x = vec[r["q_id"]], vec[r["neighbor_id"]]
        total = 0.0
        for s, (lo, hi) in enumerate(((0, half), (half, 2 * half))):
            code, _ = code_and_dist(x[lo:hi], books[s])
            used[s].add(code)
            total += _rounded_dist(q[lo:hi], books[s][code])
        assert r["approx_dist2"] == C._round_like_spark(total), r
    assert all({0, 2} <= u for u in used), used


def test_persisted_build_is_keyed_on_input_files(spark, tmp_path):
    """Two sf dirs sharing a basename, then one rewritten in place, in
    one process: each build must match the oracle of its OWN
    embeddings, never be served another input's lists."""
    name = "knn_ivfpq_build_persisted"
    dirs = [str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")]
    for seed, d in enumerate(dirs):
        _write_embeddings(d, seed=10 + seed)

    def check(sf_dir):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        compare(REGISTRY[name].fn(spark, sf_dir), con, REGISTRY[name].oracle)

    check(dirs[0])
    check(dirs[1])
    _write_embeddings(dirs[0], seed=12)
    check(dirs[0])
