"""DataFrame-native Lloyd's k-means over an ``array<float>`` embedding
column — the centroid builder for a real IVF (inverted-file) ANN index:
fit k centroids, assign every vector to its nearest list, then restrict
each query to its probe list(s).

Execution model: ONE Lloyd's kernel (_cell_fit), a grouped-map function
that runs every round of a group's fit inside one task. A fit over one
relation (kmeans_fit), several tagged relations (kmeans_fit_multi) or
the cells of a two-level fit (kmeans_fit_grouped) is one Spark job,
whatever its iteration count. A group must fit one Python worker
(rows × dim × 8 bytes ≤ CELL_FIT_MAX_BYTES); above that bound
kmeans_fit runs the scale-out loop (_fit_phases) instead: the k×dim
centroid table stays on the driver and each update is one distributed
pass whose shuffle is k×dim rows, independent of corpus size. Centroid
averages are rounded to 6 dp each update on both paths, so the whole
trajectory is engine-reproducible (the DuckDB oracle unrolls the same
iterations in SQL and lands on bit-identical centroids).

Every centroid distance in the engine comes from ONE rounded
distance-matrix fold (_dist_matrix), in Arrow-batched numpy kernels.
Its reductions are the argmin (_nearest: assignment, encode, every fit
round), the stable argsort[:nprobe] (_probes: probe_clusters) and the
whole row, which is an ADC table (operators/ann_index.py). Probes,
assignments and ADC tables therefore round alike.

Determinism: seeds are strided picks over vec_id, argmin ties break on
cluster id, folds run in array order.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DIST_DP = 6  # round distances before argmin: absorbs summation noise
CENT_DP = 6  # round centroid coords after each update: engine parity


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda v: v.cast("double"))


def _centroid_matrix(
    centroids: dict[int, list[float]],
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, k×dim float64 matrix) of a centroid table, in id order."""
    ids = sorted(centroids)
    return (
        np.array(ids, dtype=np.int64),
        np.array([centroids[c] for c in ids], dtype=np.float64),
    )


def _dist_matrix(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """The one centroid-distance fold: the rounded squared L2 distance
    from every row of ``X`` to every row of ``C``. A row of the result
    is an ADC table; _nearest and _probes reduce it.

    Distances accumulate SEQUENTIALLY over dims (vectorized across the
    row batch, looped over j), so every cell sees the exact IEEE op
    sequence ``((x1-c1)² + (x2-c2)²) + ...`` the oracle's list_reduce
    produces. Rounding is floor(d·1e6 + 0.5)/1e6 — half-away-from-zero
    on the binary value for d ≥ 0, which matches the DuckDB oracle's
    round()."""
    D = np.zeros((X.shape[0], C.shape[0]))
    for j in range(X.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        D += diff * diff
    return np.floor(D * 1e6 + 0.5) / 1e6


def _nearest(
    X: np.ndarray, cids: np.ndarray, C: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per row of ``X``, the id (from ``cids``) of the closest row of
    ``C`` and its rounded squared distance. np.argmin takes the FIRST
    minimum, which IS the tie-break on lowest cluster id (``cids`` is
    in id order)."""
    D = _dist_matrix(X, C)
    idx = D.argmin(axis=1)
    return cids[idx].astype("int32"), D[np.arange(len(idx)), idx]


def _probes(X: np.ndarray, cids: np.ndarray, C: np.ndarray, nprobe: int) -> np.ndarray:
    """Per row of ``X``, the ids of the ``nprobe`` closest rows of ``C``
    in distance order; a stable sort breaks ties on lowest id, so the
    first probe is _nearest's argmin."""
    order = np.argsort(_dist_matrix(X, C), axis=1, kind="stable")[:, :nprobe]
    return cids[order].astype("int32")


def _assign_np_udf_multi(cent_by_tag: dict[int, dict[int, list[float]]]):
    """Tag-dispatched nearest-centroid kernel: one Arrow-batched UDF
    serves every tag, running _nearest over each tag's row block
    against that tag's centroid matrix. Rows whose tag is not in
    ``cent_by_tag`` get id 0."""
    mats = {int(t): _centroid_matrix(c) for t, c in cent_by_tag.items()}

    @F.pandas_udf("int")
    def _assign(tag: pd.Series, s: pd.Series) -> pd.Series:
        tags = tag.to_numpy()
        out = np.zeros(len(tags), dtype="int32")
        for t, (cids, C) in mats.items():
            mask = tags == t
            if mask.any():
                X = np.stack(s[mask].to_numpy()).astype(np.float64)
                out[mask] = _nearest(X, cids, C)[0]
        return pd.Series(out)

    return _assign


def assign_clusters(
    df: DataFrame,
    centroids: dict[int, list[float]],
    emb_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: adds ``cluster`` and ``dist2``.

    Map-only and shuffle-free: the argmin runs in the Arrow-batched
    numpy kernel (multi_encode_np over _nearest — dist rounded,
    tie-break on cluster id). Rows with a NULL embedding are dropped.
    """
    # NULL embeddings are filtered before the kernel, so a NULL row
    # neither reaches it (it raises on one) nor lands in a shared
    # cluster that would join with every other NULL row downstream.
    #
    # cluster is wrapped non-nullable (coalesce with a literal the
    # kernel can never emit): downstream entries equi-join on it, and
    # the join's inferred IsNotNull(cluster) constraint used to be
    # pushed BELOW this projection — duplicating the assignment kernel
    # (two ArrowEvalPython nodes evaluating the same UDF over the full
    # corpus, guide §4.4's filter-split pattern). A non-nullable key
    # yields no IsNotNull constraint, so the kernel runs once.
    df = df.where(F.col(emb_col).isNotNull())
    best = multi_encode_np({"cluster": (centroids, None)}, with_dist=True)(
        _as_double(F.col(emb_col))
    )
    return df.withColumn(
        "cluster", F.coalesce(best["cluster"], F.lit(-1))
    ).withColumn("dist2", best["cluster_d"])


def assign_clusters_multi(
    df: DataFrame,
    cents_by_tag: dict[int, dict[int, list[float]]],
    tag_col: str,
    emb_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Per-group nearest-centroid assignment in ONE map-only pass: each
    row's candidates are ONLY its group's centroids (the second level of
    a two-level assignment — a row never sees another cell's centroids,
    so a k-total fit costs n·(k/k₁) comparisons here instead of n·k).
    Same fold and NULL contract as assign_clusters; adds ``out_col``
    (the group-local centroid id, int)."""
    # non-nullable for the same reason as assign_clusters: the fine
    # cluster id becomes an equi-join key (SemDeDup pair stage) and a
    # nullable key's inferred IsNotNull is pushed below the projection,
    # duplicating the kernel
    df = df.where(F.col(emb_col).isNotNull())
    cid = _assign_np_udf_multi(cents_by_tag)(
        F.col(tag_col).cast("int"), _as_double(F.col(emb_col))
    )
    return df.withColumn(out_col, F.coalesce(cid, F.lit(-1)))


def seed_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n: int | None = None,
) -> dict[int, list[float]]:
    """Deterministic strided seeds: the first k rows whose id is a
    multiple of floor(n/k), in id order, become centroids 0..k-1. ``n``
    counts every row, NULL embeddings included; a seed row whose
    embedding is NULL gives no centroid (its id stays unused). One k-row
    collect, plus a count job unless the caller passes ``n``."""
    if n is None:
        n = df.count()
    stride = max(n // k, 1)
    rows = (
        df.where((F.col(id_col) % stride) == 0)
        .orderBy(id_col)
        .limit(k)
        .select(_as_double(F.col(emb_col)).alias("v"))
        .collect()
    )
    # seeds stay unrounded: float32 → double widening is exact, so both
    # engines start from bit-identical centroids without a rounding step
    return {
        i: [float(x) for x in r["v"]]
        for i, r in enumerate(rows)
        if r["v"] is not None
    }


#: per-process memo of completed fits, keyed by (normalized analyzed
#: plan, k, iters, id_col, emb_col). Lloyd's here is fully deterministic
#: (strided seeds, rounded updates, id tie-breaks), so a repeated fit
#: over the same logical input is a pure recomputation — and profiling
#: shows the cost is fixed driver overhead (jobs), NOT data size. ~14
#: catalog entries train the identical quantizer; memoizing is the
#: in-process form of the FAISS train-once/persist discipline the
#: persisted-index entries already follow, and at 100 TB it is exactly
#: how production behaves (quantizers are fitted once per corpus
#: snapshot, never once per query).
_FIT_CACHE: dict[tuple, dict[int, list[float]]] = {}


def _plan_key(df: DataFrame) -> tuple[str, tuple] | None:
    """Canonical identity of a DataFrame's logical input: the analyzed
    plan with Catalyst's per-instance expression ids (#123) stripped —
    two plans over the same files with the same expressions normalize
    to the same key even though each build allocates fresh ids — PLUS
    the concrete input file list (the analyzed-plan string elides the
    parquet path, so without it two scale factors would collide),
    each file stamped with (size, mtime_ns) so a parquet file
    REWRITTEN IN PLACE (regenerated fixture, refreshed snapshot)
    changes the key instead of silently serving stale centroids
    (loader.input_files)."""
    import re

    from backend_etl_spark.sources.loader import input_files

    files = input_files(df)
    if not files:
        # in-memory relation (LogicalRDD/LocalRelation): its plan string
        # elides the data, so two different datasets would collide —
        # never memoize these
        return None
    s = re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())
    return s, files


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> dict[int, list[float]]:
    """Lloyd's k-means; returns the final centroid table. ``iters``
    assignment passes, ``iters - 1`` centroid updates (the last
    assignment is the caller's to materialize via assign_clusters).

    Path rule: one small job counts the rows and reads the dim. While
    rows × dim × 8 bytes ≤ CELL_FIT_MAX_BYTES every round runs in the
    grouped-map kernel (_cell_fit) as ONE group: one job, whatever
    ``iters``. Above the bound the distributed phase loop
    (_fit_phases) runs instead, a seed job plus one job per update, as
    a grouped-map task holds its whole group. Both give the same
    centroids.

    Contract on either path (the _kmeans_cte oracle's): seeds are the
    first k rows in id order whose id is a multiple of max(n // k, 1),
    where n counts EVERY row, NULL embeddings included. A row with a
    NULL embedding joins no cluster, and a NULL seed gives no centroid.
    A cluster that loses all members drops out (standard Lloyd's
    degeneracy). k < 1, iters < 1, an empty input or one with no
    non-NULL seed raise ValueError.

    Fits are memoized per process (see _FIT_CACHE) — callers get a
    defensive copy, never the cached object.
    """
    return kmeans_fit_multi({0: df}, k, iters, id_col, emb_col)[0]


def kmeans_fit_multi(
    dfs: dict[int, DataFrame],
    k: int | dict[int, int],
    iters: int | dict[int, int],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> dict[int, dict[int, list[float]]]:
    """kmeans_fit over SEVERAL relations at once, e.g. the PQ codebooks,
    where every subspace slice of one corpus trains its own quantizer.
    ``k``/``iters`` are one int for every tag or a per-tag dict (a
    coarse fit and its codebooks can train together). Each tag's result
    equals an individual kmeans_fit over its relation.

    One small job counts every tag's rows and reads its dim. The tags
    under CELL_FIT_MAX_BYTES are the groups of ONE grouped-map job
    (_cell_fit), whatever their k and iters; a tag above the bound runs
    the phase loop (_fit_phases) on its own.

    Results are memoized under each relation's INDIVIDUAL kmeans_fit
    key: a tag already in the memo is not refitted, and a later
    kmeans_fit over any of the relations hits.
    """
    tags = sorted(dfs)
    ks = {t: (k[t] if isinstance(k, dict) else k) for t in tags}
    its = {t: (iters[t] if isinstance(iters, dict) else iters) for t in tags}
    bad = [t for t in tags if ks[t] < 1 or its[t] < 1]
    if bad:
        raise ValueError(f"kmeans_fit: k and iters must be >= 1 (tags {bad})")
    keys = {}
    for t in tags:
        plan = _plan_key(dfs[t])
        keys[t] = None if plan is None else (plan, ks[t], its[t], id_col, emb_col)
    todo = [t for t in tags if keys[t] is None or keys[t] not in _FIT_CACHE]
    fits: dict[int, dict[int, list[float]]] = {}
    if todo:
        tagged = reduce(
            DataFrame.unionAll,
            [_tagged(dfs[t], F.lit(t), id_col, emb_col) for t in todo],
        )
        sizes = {
            r["_tag"]: (r["n"], r["dim"] or 0)
            for r in tagged.groupBy("_tag")
            .agg(F.count(F.lit(1)).alias("n"), F.max(F.size("_v")).alias("dim"))
            .collect()
        }
        empty = [t for t in todo if t not in sizes]
        if empty:
            raise ValueError(
                f"kmeans_fit: empty input relation(s) for tag(s) {empty} "
                "— every tagged DataFrame must contribute at least one vector"
            )
        small = [t for t in todo if sizes[t][0] * sizes[t][1] * 8 <= CELL_FIT_MAX_BYTES]
        if small:
            fits = _run_cells(
                tagged.where(F.col("_tag").isin(small)),
                lambda t, _: (ks[t], its[t]),
                by_rank=False,
            )
        for t in todo:
            if t not in small:
                fits[t] = _fit_phases(dfs[t], ks[t], its[t], id_col, emb_col, sizes[t][0])
        seedless = [t for t in todo if not fits.get(t)]
        if seedless:
            raise ValueError(
                f"kmeans_fit: no seed row has a non-NULL embedding (tags {seedless})"
            )
        for t in todo:
            if keys[t] is not None:
                _FIT_CACHE[keys[t]] = fits[t]
    return {
        t: {cid: list(v) for cid, v in (fits.get(t) or _FIT_CACHE[keys[t]]).items()}
        for t in tags
    }


def _round_like_spark(x: float, dp: int = CENT_DP) -> float:
    """Exact emulation of Spark's ``F.round(double, dp)``: HALF_UP on
    the shortest round-trip decimal representation (Spark rounds
    ``BigDecimal.valueOf(x)`` — Double.toString's shortest-repr decimal
    — with HALF_UP; Python's ``repr(float)`` is the same shortest
    correctly-rounded decimal)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


#: Largest stacked group matrix (rows × dim × 8 bytes of float64) one
#: grouped-map fit task may build. A grouped-map task holds its whole
#: group in one Python worker: the Arrow-decoded object column, this
#: matrix, and a rows × k distance matrix. The budget is Spark's default
#: per-Python-worker memory, ``spark.python.worker.memory`` = 512 MiB;
#: the stacked matrix gets half, the rest is left for the object column
#: and the distances. At dim 64 that is ~524k rows per group; SemDeDup
#: cells hold ~10·√n rows (about 250 at sf0.1, 4.5k at sf10).
CELL_FIT_MAX_BYTES = 256 * 1024 * 1024


def _tagged(df: DataFrame, tag: Column, id_col: str, emb_col: str) -> DataFrame:
    """The ``(_tag, _id, _v)`` frame the grouped-map kernel reads."""
    return df.select(
        tag.cast("int").alias("_tag"),
        F.col(id_col).alias("_id"),
        _as_double(F.col(emb_col)).alias("_v"),
    )


def _cell_fit(params, by_rank: bool):
    """The Lloyd's kernel: a grouped-map function that runs ALL rounds
    of one group's fit inside a single task, so a fit over any number of
    groups is ONE Spark job (r14: per-phase jobs were pure driver fixed
    cost at ~0.7-1 s each). ``params(tag, n)`` gives a group's
    ``(k, iters)`` from its tag and row count.

    Numerics per group, the rules of _fit_phases and _kmeans_cte:
    - seeds: the first k rows in id order whose id is a multiple of
      max(n // k, 1), n counting every row; with ``by_rank`` the ids
      are first remapped to their 0-based rank in the group (a cell
      whose members share no multiple of the stride would otherwise
      seed EMPTY). A NULL seed gives no centroid; NULL rows join none;
    - assignment: the _nearest fold;
    - update: the member mean rounded with _round_like_spark — the
      HALF_UP-on-shortest-decimal of _fit_phases' F.round(F.avg(...));
      a cluster without members drops out.
    Summation order (numpy pairwise over id-sorted members vs Spark's
    partition-ordered partial aggregates) differs below the 6-dp
    rounding, the same attested-stable class as the DuckDB oracle
    parity (tests/test_clustering.py pins kernel == phase loop).

    A group whose stacked matrix would exceed CELL_FIT_MAX_BYTES
    raises instead of exhausting the worker."""

    def fit_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        tag = int(pdf["_tag"].iloc[0])
        cn = len(pdf)
        pdf = pdf.sort_values("_id")
        vs = pdf["_v"].to_numpy()
        live = pdf["_v"].notna().to_numpy()
        dim = len(vs[live][0]) if live.any() else 0
        if cn * dim * 8 > CELL_FIT_MAX_BYTES:
            raise ValueError(
                f"k-means fit: cell {tag} holds {cn} rows × {dim} "
                f"dims ({cn * dim * 8} bytes), above CELL_FIT_MAX_BYTES "
                f"({CELL_FIT_MAX_BYTES}) — use more, smaller cells"
            )
        k, iters = (int(x) for x in params(tag, cn))
        ids = np.arange(cn) if by_rank else pdf["_id"].to_numpy()
        seeds = vs[ids % max(cn // k, 1) == 0][:k]
        cents = {
            i: np.asarray(v, dtype=np.float64)
            for i, v in enumerate(seeds)
            if v is not None
        }
        X = np.stack(vs[live]).astype(np.float64) if cents else None
        for _ in range(iters - 1 if cents else 0):
            cids, C = _centroid_matrix(cents)
            nearest = _nearest(X, cids, C)[0]
            cents = {
                int(c): np.array(
                    [_round_like_spark(v) for v in X[nearest == c].mean(axis=0)]
                )
                for c in np.unique(nearest)
            }
        fids = sorted(cents)
        return pd.DataFrame(
            {
                "_tag": pd.Series([tag] * len(fids), dtype="int32"),
                "fid": pd.Series(fids, dtype="int32"),
                "cv": pd.Series(
                    [[float(x) for x in cents[c]] for c in fids], dtype=object
                ),
            }
        )

    return fit_cell


def _run_cells(tagged: DataFrame, params, by_rank: bool) -> dict[int, dict[int, list[float]]]:
    """One grouped-map job of _cell_fit over a ``_tagged`` frame:
    ``{tag: {cid: centroid}}``."""
    rows = tagged.groupBy("_tag").applyInPandas(
        _cell_fit(params, by_rank), schema="_tag int, fid int, cv array<double>"
    ).collect()
    cents: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        cents.setdefault(r["_tag"], {})[r["fid"]] = [float(x) for x in r["cv"]]
    return cents


def _fit_phases(
    df: DataFrame, k: int, iters: int, id_col: str, emb_col: str, n: int
) -> dict[int, list[float]]:
    """The scale-out Lloyd's loop, for inputs above CELL_FIT_MAX_BYTES:
    the k×dim centroid table stays on the driver; a seed job, then per
    update one distributed pass (map-only _nearest assignment, then a
    groupBy(cluster, dim) avg — a shuffle of k×dim rows, independent of
    corpus size). Same rules as _cell_fit."""
    cents = seed_centroids(df, k, id_col, emb_col, n=n)
    for _ in range(iters - 1 if cents else 0):
        rows = (
            assign_clusters(df, cents, emb_col)
            .select("cluster", F.posexplode(_as_double(F.col(emb_col))).alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), CENT_DP).alias("cv"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["cv"]
        cents = {c: [dims[d] for d in range(len(dims))] for c, dims in by_cluster.items()}
    return cents


def kmeans_fit_grouped(
    df: DataFrame,
    tag_col: str,
    k_for_count,
    iters: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    memo_df: DataFrame | None = None,
    memo_tag: str | None = None,
) -> dict[int, dict[int, list[float]]]:
    """Lloyd's over the GROUPS of one pre-tagged relation — the second
    level of a two-level (coarse → per-cell fine) fit. Every group is a
    group of the _cell_fit kernel, so the whole fit is ONE Spark job; a
    task holds one cell's vectors, never the corpus, and a cell past
    CELL_FIT_MAX_BYTES fails loudly.

    ``k_for_count`` maps a cell's row count to its fine k (e.g.
    ``lambda n: max(1, n // 100)`` keeps fine clusters ~100 vectors for
    a SemDeDup pair stage). Each cell's fit equals an individual
    kmeans_fit over the cell's rows with vec_ids remapped to their
    0-based rank within the cell (striding on the rank, not the id).

    Memoization: ``df`` is typically checkpointed (no stable plan key),
    so the caller passes ``memo_df`` — the UPSTREAM parquet-backed
    relation the tagging was derived from — plus a ``memo_tag`` naming
    the deterministic derivation (e.g. "sem_fine_k1=8_iters=3"). The
    fit is then cached per process under that pair, the same
    train-once-per-corpus-snapshot discipline as _FIT_CACHE."""
    key = None
    if memo_df is not None and memo_tag is not None:
        plan = _plan_key(memo_df)
        if plan is not None:
            key = (plan, "grouped", tag_col, iters, memo_tag, id_col, emb_col)
            hit = _FIT_CACHE.get(key)
            if hit is not None:
                return {
                    t: {cid: list(v) for cid, v in c.items()}
                    for t, c in hit.items()
                }
    cents = _run_cells(
        _tagged(df, F.col(tag_col), id_col, emb_col),
        lambda _, cn: (k_for_count(cn), iters),
        by_rank=True,
    )
    if not cents:
        raise ValueError("kmeans_fit_grouped: empty input relation")
    if key is not None:
        _FIT_CACHE[key] = cents
        return {
            t: {cid: list(v) for cid, v in c.items()} for t, c in cents.items()
        }
    return cents


def multi_encode_np(
    quantizers: dict[str, tuple[dict[int, list[float]], tuple[int, int] | None]],
    with_dist: bool = False,
):
    """ONE Arrow-batched kernel computing every quantizer's
    nearest-centroid id for a row in a single pass — the IVF-PQ encode
    (coarse + N subspace codebooks) without N separate argmin
    expressions, and the kernel behind assign_clusters. ``quantizers``
    maps output field name → (centroids, optional [lo, hi) dim slice of
    the embedding; None = full vector).

    Per quantizer the numerics are the _nearest fold, applied per
    subspace. Slicing commutes with the float32→double upcast (both
    exact), so a subspace fold sees the identical IEEE op sequence the
    oracle's sliced list_reduce produces. Returns a pandas_udf yielding
    ``struct<name:int, ...>`` in ``quantizers`` key order;
    ``with_dist=True`` adds a ``<name>_d`` double field per quantizer —
    the rounded squared distance to the chosen centroid (assign_clusters'
    dist2 column).
    """
    names = list(quantizers)
    mats = {
        name: (*_centroid_matrix(cents), span)
        for name, (cents, span) in quantizers.items()
    }
    fields = [f"{n}:int" for n in names]
    if with_dist:
        fields += [f"{n}_d:double" for n in names]
    out_type = "struct<" + ", ".join(fields) + ">"

    @F.pandas_udf(out_type)
    def _encode(s: pd.Series) -> pd.DataFrame:
        # empty Arrow batch (plausible on streaming foreachBatch
        # partitions): np.stack raises on a zero-length sequence — return
        # the correctly-typed empty frame instead
        if len(s) == 0:
            empty: dict[str, pd.Series] = {n: pd.Series(dtype="int32") for n in names}
            if with_dist:
                empty.update(
                    {f"{n}_d": pd.Series(dtype="float64") for n in names}
                )
            return pd.DataFrame(empty)
        # NULL embeddings stack to object dtype and fail deep inside the
        # fold with an opaque error — fail fast with the real cause (the
        # kernel's contract is non-null fixed-width vectors;
        # assign_clusters filters NULLs before it)
        if s.isna().any():
            raise ValueError(
                "multi_encode_np: NULL embedding in batch — the encode "
                "kernel requires non-null fixed-width vectors"
            )
        X = np.stack(s.to_numpy()).astype(np.float64)
        cols = {}
        for name, (cids, C, span) in mats.items():
            Xs = X if span is None else X[:, span[0]: span[1]]
            cols[name], d = _nearest(Xs, cids, C)
            if with_dist:
                cols[f"{name}_d"] = d
        return pd.DataFrame(cols)

    return _encode


def probe_clusters(
    df: DataFrame,
    centroids: dict[int, list[float]],
    nprobe: int = 2,
    emb_col: str = "embedding",
) -> DataFrame:
    """Multi-probe assignment: adds ``probes`` — the ``nprobe`` nearest
    centroid ids in distance order (ties on cluster id), NULL for a
    NULL embedding. A map-only Arrow-batched argsort (_probes) over the
    same rounded fold as assign_clusters, so the first probe IS the
    assigned cluster; exploding ``probes`` yields the (row,
    probe_cluster) relation an IVF search joins on. nprobe is THE
    recall/cost knob at scale: probe cost grows linearly, recall
    approaches exact as nprobe → k.

    Explode ``probes`` with explode_outer (or posexplode_outer): for a
    plain explode Catalyst infers size(probes) > 0, pushes it below the
    projection and runs the kernel twice. A NULL list's row (probe
    NULL) joins no inverted list either way."""
    cids, C = _centroid_matrix(centroids)

    @F.pandas_udf("array<int>")
    def _probe(s: pd.Series) -> pd.Series:
        out = [None] * len(s)
        live = np.flatnonzero(s.notna().to_numpy())
        if len(live):
            X = np.stack(s.iloc[live].to_numpy()).astype(np.float64)
            for i, p in zip(live, _probes(X, cids, C, nprobe)):
                out[i] = p
        return pd.Series(out)

    return df.withColumn("probes", _probe(_as_double(F.col(emb_col))))
