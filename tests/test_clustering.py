"""k-means clustering operators (operators/clustering.py): the one
nearest-centroid kernel against the Catalyst literal fold, its NULL
contract and empty-batch guard, the multi-probe argsort's midpoint-ulp
divergence from it, the one Lloyd's kernel against the phase loop and
the grouped per-cell fit against individual fits, the fit's job count,
the cell size bound, the F.round emulation the kernel's updates use,
and the per-process fit memo."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

from backend_etl_spark.operators import clustering as C
from tests.test_np_kernels import _vecs


def _rows(seed: int, n: int, cell_of, id_of=lambda i: i, dim: int = 4):
    rng = np.random.default_rng(seed)
    return [
        (int(id_of(i)), int(cell_of(i)), [float(x) for x in rng.normal(0, 1, dim)])
        for i in range(n)
    ]


_SCHEMA = "vec_id long, cell int, embedding array<double>"


# ------------------------------------------------------ assignment kernel


@pytest.mark.parametrize("dup_every", [0, 3])
def test_np_assign_matches_literal_argmin(spark, dup_every):
    """assign_clusters' numpy kernel equals the Catalyst literal fold
    (_centroid_structs, which probe_clusters ranks with) on the same
    vectors: same cluster ids AND bit-equal distances, planted ties
    included."""
    df = _vecs(spark, 400, dup_every=dup_every).cache()
    cents = C.seed_centroids(df, k=40)

    via_np = C.assign_clusters(df, cents).select("vec_id", "cluster", "dist2")
    best = F.array_min(C._centroid_structs(cents, C._as_double(F.col("embedding"))))
    via_lit = df.select(
        "vec_id", best["cid"].alias("cluster"), best["d"].alias("dist2")
    )
    a = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in via_np.collect()}
    b = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in via_lit.collect()}
    assert a == b
    df.unpersist()


def test_multi_encode_empty_batch_and_null_guards(spark):
    """np.stack raises on a zero-row Arrow batch (plausible on
    streaming foreachBatch partitions) and object-stacks NULLs into an
    opaque failure — the kernel must return a typed empty frame for the
    former and fail fast with the real cause for the latter."""
    cents = {0: [0.0, 0.0], 1: [1.0, 1.0]}
    fn = C.multi_encode_np({"c": (cents, None)}, with_dist=True).func

    out = fn(pd.Series([], dtype=object))
    assert list(out.columns) == ["c", "c_d"]
    assert len(out) == 0
    assert str(out["c"].dtype) == "int32" and str(out["c_d"].dtype) == "float64"

    with pytest.raises(ValueError, match="NULL embedding"):
        fn(pd.Series([[0.1, 0.2], None], dtype=object))

    ok = fn(pd.Series([[0.1, 0.2], [0.9, 1.1]], dtype=object))
    assert list(ok["c"]) == [0, 1]


@pytest.mark.parametrize("path", ["assign_k2", "assign_k8", "multi"])
def test_null_embedding_dropped_whatever_k(spark, path):
    """A NULL embedding is dropped before the kernel on every
    assignment entry point and at every k — never raised on, never
    mapped to a shared cluster — so all three return the same rows."""
    rows = _rows(5, 40, cell_of=lambda i: i % 2) + [(40, 0, None)]
    df = spark.createDataFrame(rows, _SCHEMA)
    rng = np.random.default_rng(11)

    def cents(k):
        return {i: [float(x) for x in rng.normal(0, 1, 4)] for i in range(k)}

    if path == "multi":
        out = C.assign_clusters_multi(df, {0: cents(2), 1: cents(8)}, tag_col="cell")
    else:
        out = C.assign_clusters(df, cents(2 if path == "assign_k2" else 8))
    got = out.select("vec_id", "cluster").collect()
    assert sorted(r["vec_id"] for r in got) == list(range(40))
    assert all(r["cluster"] >= 0 for r in got)


def test_assign_clusters_multi_matches_per_cell_assign(spark):
    """assign_clusters_multi must assign every row exactly as
    assign_clusters would against its own cell's centroids."""
    rng = np.random.default_rng(13)
    rows = [
        (int(i), int(i % 2), [float(x) for x in rng.normal(0, 1, 4)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    cents = {
        0: {i: [float(x) for x in rng.normal(0, 1, 4)] for i in range(3)},
        1: {i: [float(x) for x in rng.normal(0, 1, 4)] for i in range(6)},
    }
    got = {
        r["vec_id"]: r["cluster"]
        for r in C.assign_clusters_multi(df, cents, tag_col="cell").collect()
    }
    for c in (0, 1):
        sub = C.assign_clusters(df.where(F.col("cell") == c), cents[c])
        for r in sub.collect():
            assert got[r["vec_id"]] == r["cluster"], (c, r["vec_id"])


# ---------------------------------------------------------------- ulp witness

#: diff whose SQUARE (0.0001255, shortest decimal repr ends in 5) rounds
#: DOWN under the kernel's floor(d*1e6+0.5)/1e6 (d*1e6 computes a hair
#: under 125.5 in binary) but UP under probe_clusters' F.round (HALF_UP
#: on the shortest decimal repr). Found by ulp-scan around
#: sqrt((k+0.5)e-6) midpoints.
WITNESS_X = 0.011202678251204039


def _first_probe_and_assignment(spark, x, centroids):
    df = spark.createDataFrame([([x],)], "embedding array<double>")
    probe = C.probe_clusters(df, centroids, nprobe=1).first()["probes"][0]
    kern = C.assign_clusters(df, centroids).first()["cluster"]
    return probe, kern


def test_midpoint_ulp_witness_flips_argmin_across_paths(spark):
    """A vector within an ulp of a .5e-6 distance midpoint gets a
    DIFFERENT first probe (Catalyst literal argsort) than its
    assign_clusters cluster (numpy kernel) — the counter-example
    pinning that probe/assignment agreement is an attested-on-this-data
    claim, never a universal one."""
    x = WITNESS_X
    d_witness = x * x
    # kernel rounding vs decimal HALF_UP genuinely diverge on it
    assert math.floor(d_witness * 1e6 + 0.5) / 1e6 == 0.000125
    assert repr(d_witness) == "0.0001255"  # shortest repr → HALF_UP 0.000126
    # centroid 0 sits at an unambiguous 0.000126 distance² (both
    # roundings agree); centroid 1 at the witness distance². Kernel:
    # 0.000125 < 0.000126 → cluster 1. Literal: tie at 0.000126 →
    # lowest cid → cluster 0.
    centroids = {0: [x - math.sqrt(0.0001258)], 1: [0.0]}
    probe, kern = _first_probe_and_assignment(spark, x, centroids)
    assert probe == 0 and kern == 1, (
        f"expected the documented divergence (probe 0, kernel 1); "
        f"got probe={probe} kernel={kern}"
    )


def test_paths_agree_away_from_midpoints(spark):
    """Control: away from the midpoint the two paths agree — the
    divergence is the midpoint class, not a broken kernel."""
    x = 0.0112  # d² = 1.2544e-4, nowhere near a .5e-6 midpoint
    centroids = {0: [x - math.sqrt(0.0001258)], 1: [0.0]}
    assert _first_probe_and_assignment(spark, x, centroids) == (1, 1)


# ------------------------------------------------------------ grouped fit

_GROUPED_CASES = {
    # non-contiguous, interleaved ids across 4 cells — the case where
    # global id striding could seed a cell EMPTY
    "interleaved": (
        _rows(11, 120, cell_of=lambda i: i % 4, id_of=lambda i: 1000 + 7 * i),
        lambda n: max(2, n // 10),
    ),
    # the same shape over 3 cells
    "interleaved3": (
        _rows(7, 90, cell_of=lambda i: i % 3, id_of=lambda i: 1000 + 7 * i),
        lambda n: max(2, n // 10),
    ),
    # uneven cells (70 vs 10 rows): cell 0 gets k=2, cell 1 a k=1 fit
    "k1_uneven": (
        _rows(3, 80, cell_of=lambda i: 0 if i < 70 else 1),
        lambda n: max(1, n // 30),
    ),
}


@pytest.mark.parametrize("case", sorted(_GROUPED_CASES))
def test_grouped_fit_equals_individual_fits_on_rank_remapped_ids(spark, case):
    """kmeans_fit_grouped (one grouped-map job, per-cell numpy rounds)
    must equal an individual kmeans_fit per cell with ids remapped to
    the cell-local rank (rank striding on real ids == id striding on
    contiguous rank ids) — seeds, every update round, empty-cluster
    dropout and the 6-dp rounding. The parity that makes the
    hierarchical semdedup oracle mirrorable."""
    rows, k_rule = _GROUPED_CASES[case]
    df = spark.createDataFrame(rows, _SCHEMA)

    got = C.kmeans_fit_grouped(df, "cell", k_rule, iters=3)

    want = {}
    for c in sorted({r[1] for r in rows}):
        sub = df.where(F.col("cell") == c)
        remapped = sub.withColumn(
            "vec_id",
            F.row_number().over(Window.orderBy("vec_id")).cast("long") - 1,
        )
        want[c] = C.kmeans_fit(remapped, k=k_rule(sub.count()), iters=3)
    assert got == want


#: 11 vectors where k=4, iters=3 ends with 3 centroids: a cluster the
#: first update leaves without members drops out at the second
_EMPTYING = [
    [0.09, 0.16], [0.27, 0.34], [0.06, 0.0], [0.93, 0.04], [0.05, 0.57],
    [0.13, 0.04], [0.09, 0.0], [0.02, 0.58], [0.86, 0.15], [0.0, 0.05],
    [0.09, 0.0],
]

#: name -> (rows, k, iters, expected centroid ids)
_PATH_CASES = {
    "dense": (_rows(21, 60, cell_of=lambda i: 0), 4, 3, {0, 1, 2, 3}),
    # the incremental index's base slice (vec_id % 10 < 8): ids are not
    # dense, so the stride must run on id values, not ranks
    "non_dense": (
        [r for r in _rows(22, 100, cell_of=lambda i: 0) if r[0] % 10 < 8],
        8, 3, set(range(8)),
    ),
    "k_gt_n": (_rows(23, 5, cell_of=lambda i: 0), 8, 3, set(range(5))),
    "emptied_cluster": ([(i, 0, v) for i, v in enumerate(_EMPTYING)], 4, 3, None),
    # NULL embeddings count toward the stride (n = 40, stride 10); the
    # NULL seed (id 0) gives no centroid, the NULL at id 5 joins none
    "null_embedding": (
        [(i, 0, None if i in (0, 5) else v)
         for i, _, v in _rows(24, 40, cell_of=lambda i: 0)],
        4, 2, {1, 2, 3},
    ),
}


@pytest.mark.parametrize("case", sorted(_PATH_CASES))
def test_kernel_equals_phase_loop(spark, monkeypatch, case):
    """kmeans_fit's grouped-map kernel and its scale-out phase loop
    (forced by a zero CELL_FIT_MAX_BYTES) give the same centroids:
    id-value striding, k > n, an emptied cluster, NULL embeddings."""
    rows, k, iters, cids = _PATH_CASES[case]
    df = spark.createDataFrame(rows, _SCHEMA)
    kernel = C.kmeans_fit(df, k=k, iters=iters)
    if cids is None:
        assert len(kernel) < k  # the case really empties a cluster
    else:
        assert set(kernel) == cids
    monkeypatch.setattr(C, "CELL_FIT_MAX_BYTES", 0)
    assert C.kmeans_fit(df, k=k, iters=iters) == kernel


def test_multi_fit_per_tag_k_iters_on_every_path(spark, monkeypatch):
    """kmeans_fit_multi with per-tag k/iters equals individual fits,
    whether every tag runs in the kernel job, every tag falls back to
    the phase loop, or only the tag above the bound does."""
    dfs = {
        t: spark.createDataFrame(_rows(30 + t, 40 + 10 * t, cell_of=lambda i: 0), _SCHEMA)
        for t in range(3)
    }
    ks, its = {0: 2, 1: 4, 2: 8}, {0: 1, 1: 2, 2: 4}
    kernel = C.kmeans_fit_multi(dfs, k=ks, iters=its)
    assert kernel == {t: C.kmeans_fit(dfs[t], k=ks[t], iters=its[t]) for t in dfs}
    # tags 0 and 1 (40 and 50 rows × 4 dims) fit under it, tag 2 does not
    monkeypatch.setattr(C, "CELL_FIT_MAX_BYTES", 50 * 4 * 8)
    assert C.kmeans_fit_multi(dfs, k=ks, iters=its) == kernel
    monkeypatch.setattr(C, "CELL_FIT_MAX_BYTES", 0)
    assert C.kmeans_fit_multi(dfs, k=ks, iters=its) == kernel


@pytest.mark.parametrize("path", ["kernel", "phase_loop"])
def test_fit_errors_do_not_depend_on_path(spark, monkeypatch, path):
    """No usable seed, an empty input and a bad k raise the same
    ValueError on both fit paths."""
    if path == "phase_loop":
        monkeypatch.setattr(C, "CELL_FIT_MAX_BYTES", 0)
    # k=1 strides by n: id 0 is the only seed, and its embedding is NULL
    rows = [(i, 0, None if i == 0 else v) for i, _, v in _rows(25, 6, cell_of=lambda i: 0)]
    df = spark.createDataFrame(rows, _SCHEMA)
    with pytest.raises(ValueError, match="no seed row has a non-NULL embedding"):
        C.kmeans_fit(df, k=1, iters=2)
    with pytest.raises(ValueError, match="empty input"):
        C.kmeans_fit(df.where("vec_id < 0"), k=2)
    with pytest.raises(ValueError, match="k and iters must be >= 1"):
        C.kmeans_fit(df, k=0)


def _job_count(spark, fn) -> int:
    """Number of Spark jobs fn() starts, via a dedicated job group."""
    sc = spark.sparkContext
    group = "kmeans-job-count"
    sc.setJobGroup(group, group)
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        fn()
        return len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
    finally:
        sc.setJobGroup(None, None)


def test_fit_job_count_does_not_grow_with_iters(spark):
    """Every fit under the cell bound runs all its rounds in one
    grouped-map job: the job count at iters=5 is no larger than at
    iters=2 (per-phase jobs would add three)."""
    df = spark.createDataFrame(_rows(26, 60, cell_of=lambda i: i % 3), _SCHEMA)
    dfs = {
        t: spark.createDataFrame(_rows(27 + t, 30, cell_of=lambda i: 0), _SCHEMA)
        for t in range(3)
    }
    fits = {
        "kmeans_fit": lambda it: C.kmeans_fit(df, k=4, iters=it),
        "kmeans_fit_multi": lambda it: C.kmeans_fit_multi(
            dfs, k={0: 2, 1: 3, 2: 4}, iters={0: it, 1: it + 1, 2: it}
        ),
        "kmeans_fit_grouped": lambda it: C.kmeans_fit_grouped(
            df, "cell", lambda n: 3, iters=it
        ),
    }
    for name, fit in fits.items():
        jobs = [_job_count(spark, lambda: fit(it)) for it in (2, 5)]
        assert jobs[1] <= jobs[0], (name, jobs)


def test_cell_fit_raises_past_cell_bound(monkeypatch):
    """A cell whose stacked float64 matrix would exceed
    CELL_FIT_MAX_BYTES fails loudly, naming the cell and its size,
    instead of exhausting the Python worker; at the bound it fits."""
    rows = _rows(9, 10, cell_of=lambda i: 3)
    pdf = pd.DataFrame(
        {"_tag": [r[1] for r in rows], "_id": [r[0] for r in rows],
         "_v": [r[2] for r in rows]}
    )
    fit_cell = C._cell_fit(lambda tag, n: (2, 2), by_rank=True)

    monkeypatch.setattr(C, "CELL_FIT_MAX_BYTES", 10 * 4 * 8 - 1)
    with pytest.raises(ValueError, match=r"cell 3 holds 10 rows × 4 dims"):
        fit_cell(pdf)

    monkeypatch.setattr(C, "CELL_FIT_MAX_BYTES", 10 * 4 * 8)
    out = fit_cell(pdf)
    assert set(out["_tag"]) == {3} and 1 <= len(out) <= 2


# ------------------------------------------------------------- rounding


def _near_midpoints(rng, per_band: int) -> np.ndarray:
    """(m + 0.5)·1e-6 stepped 0..±3 ulps, both signs, m drawn from four
    magnitude bands (distances ~1e-6 up to ~1e3)."""
    out = []
    for hi in (10, 10**3, 10**6, 10**9):
        m = rng.integers(0, hi, per_band)
        mid = (m + 0.5) * 1e-6
        for step in range(-3, 4):
            # positive finite doubles: adjacent bit patterns are adjacent ulps
            out.append((mid.view(np.int64) + step).view(np.float64))
    vals = np.concatenate(out)
    return vals * rng.choice([-1.0, 1.0], len(vals))


def test_round_like_spark_matches_f_round(spark):
    """_round_like_spark must equal F.round(double, 6) bit-for-bit on a
    seeded sweep — generic doubles over eleven decades plus values
    within 3 ulps of every kind of .5e-6 midpoint — compared in ONE
    Spark job."""
    rng = np.random.default_rng(20261017)
    generic = rng.uniform(-1.0, 1.0, 50_000) * 10.0 ** rng.integers(-7, 4, 50_000)
    handpicked = np.array([
        0.1234565, -0.1234565, 1.0000005, -1.0000005, 0.5e-6, -0.5e-6,
        2.718281828459045, -3.141592653589793, 123.4567894999999,
        0.12345649999999999, 1e-7, -1e-7, 0.0,
    ])
    vals = np.concatenate([generic, _near_midpoints(rng, 2_000), handpicked])
    assert len(vals) >= 100_000

    pdf = pd.DataFrame({"i": np.arange(len(vals)), "x": vals})
    got_spark = (
        spark.createDataFrame(pdf)
        .select("i", F.round("x", 6).alias("y"))
        .toPandas()
        .sort_values("i")["y"]
        .to_numpy()
    )
    got_py = np.array([C._round_like_spark(v) for v in vals])
    bad = np.flatnonzero(got_py != got_spark)
    assert len(bad) == 0, [
        (repr(vals[i]), got_py[i], got_spark[i]) for i in bad[:10]
    ]


# ------------------------------------------------------------- fit memo


def test_file_backed_fit_is_memoized_and_copied(spark, sf_dir):
    from backend_etl_spark.sources.loader import load_table

    C._FIT_CACHE.clear()
    emb = load_table(spark, sf_dir, "embeddings")
    c1 = C.kmeans_fit(emb, k=8, iters=3)
    # fresh DataFrame over the same files must hit the cache and
    # return an equal but independent object
    c2 = C.kmeans_fit(load_table(spark, sf_dir, "embeddings"), k=8, iters=3)
    assert c1 == c2 and c1 is not c2
    assert len(C._FIT_CACHE) == 1
    c1[0][0] = 999.0  # caller mutation must not poison the cache
    assert C.kmeans_fit(emb, k=8, iters=3)[0][0] != 999.0


def test_bench_warmup_never_populates_fit_cache(spark, sf_dir):
    """bench.py's warmup entries (q3_shipping_priority,
    multimodal_binary_meta) must not train any fit: a memo entry
    created outside a timed region would make the first kmeans-family
    entry's published number partially pre-paid."""
    from backend_etl_spark.catalog import REGISTRY

    saved = dict(C._FIT_CACHE)
    C._FIT_CACHE.clear()
    try:
        for warm in ("q3_shipping_priority", "multimodal_binary_meta"):
            REGISTRY[warm].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        assert C._FIT_CACHE == {}, (
            "bench warmup populated _FIT_CACHE: "
            f"{list(C._FIT_CACHE)[:3]}"
        )
    finally:
        C._FIT_CACHE.clear()
        C._FIT_CACHE.update(saved)


def test_plan_key_changes_when_parquet_rewritten(spark, tmp_path):
    """_plan_key stamps each input file with (size, mtime_ns): a file
    REWRITTEN IN PLACE (regenerated fixture, refreshed snapshot) must
    change the key — stale centroids must never be served."""
    p = str(tmp_path / "vecs.parquet")
    spark.range(0, 50).selectExpr(
        "id AS vec_id", "array(double(id), double(id + 1)) AS embedding"
    ).write.mode("overwrite").parquet(p)
    k1 = C._plan_key(spark.read.parquet(p))
    assert k1 is not None

    # rewrite in place with different content (same path, same schema)
    spark.range(0, 60).selectExpr(
        "id AS vec_id", "array(double(id * 2), double(id)) AS embedding"
    ).write.mode("overwrite").parquet(p)
    k2 = C._plan_key(spark.read.parquet(p))
    assert k2 is not None
    assert k1 != k2, "rewritten parquet produced an identical memo key"
