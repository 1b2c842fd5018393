"""IVF-PQ: the FAISS train-once / search-many discipline (Jégou et al.
2011, IndexIVFPQ — PAPERS.md), written once for every IVF-PQ entry.

This module owns the quantizer set, a ``{kind: {cid: centroid}}`` table
with ``kind`` ∈ {coarse, pq0, pq1}:

- ``train``   the coarse quantizer and both PQ subspace codebooks, as
              the tags of ONE kmeans_fit_multi call (per-tag k/iters);
- ``encode``  the 3-quantizer multi_encode_np map — cluster, code0,
              code1 in one Arrow-batched pass (``lists`` selects them);
- ``search``  multi-probe (probe_clusters), cid-keyed ADC tables,
              ``round(adt0[code0] + adt1[code1], 6)``, the top-k window.

Every centroid distance here is a reduction of clustering._dist_matrix,
the fold assign_clusters runs, so probes, codes and ADC tables round
alike (and as the DuckDB oracle's round(…, 6)).

The composed catalog entries (knn_ivfpq_adc & co.) train on every
invocation, with the fits memoized per process; the persisted index is
the production shape: trained once, encoded in one pass, and every
query afterwards touches only the artifacts:

- ``lists/``      one row per vector (vec_id, code0, code1),
                  hive-PARTITIONED by the coarse cluster id — the
                  literal on-disk inverted-list layout. A probe join on
                  ``cluster`` prunes unprobed lists at the SCAN via
                  dynamic partition pruning (asserted in
                  tests/test_plan_quality.py).
- ``centroids/``  the tiny (kind, cid, cv) quantizer table; k×dim
                  doubles, read with a driver-side collect at search
                  time.

A build is cached per process under its path, keyed on the input's
identity (clustering._plan_key: the normalized plan and the input
files with their size and mtime_ns) and the fit parameters. Repeated
searches pay the k-means fits once, and a different or rewritten input
is rebuilt instead of served stale lists. Doubles round-trip parquet
exactly, so the persisted search is bit-identical to the composed entry
and SHARES its oracle.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from backend_etl_spark.operators import clustering

#: path -> the input identity and parameters of the build it holds
_BUILT: dict[str, tuple] = {}

#: kmeans_fit_multi tag -> quantizer kind
_KINDS = {0: "pq0", 1: "pq1", 2: "coarse"}


def _spans(dim: int) -> dict[int, tuple[int, int]]:
    """The [lo, hi) dims of PQ subspace 0 and 1."""
    return {0: (0, dim // 2), 1: (dim // 2, dim)}


def train(
    emb: DataFrame,
    dim: int,
    pq_k: int,
    pq_iters: int,
    km_k: int | None = None,
    km_iters: int | None = None,
) -> dict[str, dict[int, list[float]]]:
    """Fit both PQ subspace codebooks (pq0, pq1) over ``emb``'s halves
    and, given ``km_k``, the coarse quantizer over the full vectors — the
    tags of ONE kmeans_fit_multi call: a size job, then every Lloyd
    round of every tag in one grouped-map job. Each tag is memoized
    under its own relation's kmeans_fit key, so a coarse fit another
    entry already made is not refitted."""
    dfs = {
        s: emb.select("vec_id", F.slice("embedding", lo + 1, hi - lo).alias("embedding"))
        for s, (lo, hi) in _spans(dim).items()
    }
    ks, its = {0: pq_k, 1: pq_k}, {0: pq_iters, 1: pq_iters}
    if km_k is not None:
        dfs[2], ks[2], its[2] = emb, km_k, km_iters
    fits = clustering.kmeans_fit_multi(dfs, k=ks, iters=its)
    return {_KINDS[t]: c for t, c in fits.items()}


def encode(
    quantizers: dict[str, dict[int, list[float]]], dim: int, with_dist: bool = False
) -> Column:
    """The IVF-PQ encode of the ``embedding`` column: a struct with
    ``cluster`` (coarse, full vector), ``code0``/``code1`` (pq0/pq1 over
    their halves) for the kinds in ``quantizers``, all argmins in ONE
    Arrow-batched multi_encode_np pass (no per-quantizer expression, no
    vec_id join between subspaces). ``with_dist`` adds each field's
    rounded squared distance as ``<field>_d``."""
    spans = _spans(dim)
    spec = {"cluster": ("coarse", None), "code0": ("pq0", spans[0]), "code1": ("pq1", spans[1])}
    return clustering.multi_encode_np(
        {f: (quantizers[kind], span) for f, (kind, span) in spec.items() if kind in quantizers},
        with_dist,
    )(clustering._as_double(F.col("embedding")))


def lists(df: DataFrame, quantizers: dict[str, dict[int, list[float]]], dim: int) -> DataFrame:
    """The inverted-list rows (vec_id, cluster, code0, code1) of ``df``.
    ``cluster`` is non-nullable: a probe join's inferred
    IsNotNull(cluster) would otherwise be pushed below this projection
    and run the encode kernel twice over the corpus. -1 is unreachable
    (the kernel raises on NULL vectors)."""
    enc = encode(quantizers, dim)
    return df.select(
        "vec_id",
        F.coalesce(enc["cluster"], F.lit(-1)).alias("cluster"),
        enc["code0"].alias("code0"),
        enc["code1"].alias("code1"),
    )


def residual(coarse: dict[int, list[float]]):
    """``v − C[cluster]`` as an Arrow-batched UDF of (double vector,
    cluster id): the by_residual encode's corpus side (v, its list) and
    query side (q, each probed list). IEEE subtraction, so it equals
    the oracle's list_transform elementwise."""
    cids, C = clustering._centroid_matrix(coarse)

    def _residual(v: pd.Series, cluster: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64) if len(v) else np.zeros((0, C.shape[1]))
        return pd.Series(list(X - C[np.searchsorted(cids, cluster.to_numpy())]))

    # the fit memo keys on the plan, which names a Python UDF but not
    # its closure: the name carries the centroid table's digest
    _residual.__name__ = "residual_" + hashlib.sha1(C.tobytes()).hexdigest()[:12]
    return F.pandas_udf("array<double>")(_residual)


def adc_tables(
    quantizers: dict[str, dict[int, list[float]]], dim: int, v: Column
) -> list[Column]:
    """The ADC tables ``adt0``/``adt1`` of a (few-row) vector column:
    per subspace, the whole _dist_matrix row of the vector's half
    against the codebook, as a map keyed by codeword id. Keyed, not
    positional: Lloyd's can empty a cell and drop its cid, so a
    position need not be a code; the oracle joins on the cid too."""
    spans = _spans(dim)
    mats = {s: clustering._centroid_matrix(quantizers[f"pq{s}"]) for s in spans}

    @F.pandas_udf("struct<adt0:array<double>, adt1:array<double>>")
    def _adc(s: pd.Series) -> pd.DataFrame:
        X = np.stack(s.to_numpy()).astype(np.float64) if len(s) else np.zeros((0, dim))
        return pd.DataFrame({
            f"adt{t}": list(clustering._dist_matrix(X[:, lo:hi], mats[t][1]))
            for t, (lo, hi) in spans.items()
        })

    t = _adc(clustering._as_double(v))
    return [
        F.map_from_arrays(
            F.array(*[F.lit(int(c)) for c in mats[s][0]]), t[f"adt{s}"]
        ).alias(f"adt{s}")
        for s in spans
    ]


def adc_approx() -> Column:
    """approx_dist2 = ADC lookup of both subspace codes + add."""
    return F.round(
        F.call_function("element_at", F.col("adt0"), F.col("code0"))
        + F.call_function("element_at", F.col("adt1"), F.col("code1")),
        6,
    )


def top_k(cand: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` nearest candidates by (approx_dist2,
    neighbor_id), with their 1-based ``rank``."""
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_dist2"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "approx_dist2", "rank")
    )


def search(
    index: DataFrame,
    queries: DataFrame,
    quantizers: dict[str, dict[int, list[float]]],
    dim: int,
) -> tuple[DataFrame, DataFrame]:
    """IVF-PQ search of ``queries`` (vec_id, embedding; a few rows) over
    ``index`` (``lists`` rows): each query probes its 2 nearest lists,
    carries its ADC tables, and every candidate in a probed list (itself
    excluded) scores two map lookups + an add. The probe and ADC
    kernels run on the broadcast query side only; the corpus side moves
    codes. Returns (candidates, top 3)."""
    q = clustering.probe_clusters(queries, quantizers["coarse"], nprobe=2).select(
        F.col("vec_id").alias("q_id"),
        "probes",
        *adc_tables(quantizers, dim, F.col("embedding")),
    )
    q = q.select("q_id", F.explode_outer("probes").alias("pc"), "adt0", "adt1")
    cand = (
        index.withColumnRenamed("vec_id", "neighbor_id")
        .join(
            F.broadcast(q),
            (F.col("cluster") == F.col("pc")) & (F.col("neighbor_id") != F.col("q_id")),
        )
        .select("q_id", "neighbor_id", adc_approx().alias("approx_dist2"))
    )
    return cand, top_k(cand, 3)


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    km_k: int,
    km_iters: int,
    pq_k: int,
    pq_iters: int,
    dim: int,
) -> str:
    """Train the quantizer set, encode every vector, and persist lists
    (partitioned by coarse cluster) + centroids at ``path``. Idempotent
    per process for the same input (see the module docstring)."""
    key = (clustering._plan_key(emb), km_k, km_iters, pq_k, pq_iters, dim)
    if key[0] is not None and _BUILT.get(path) == key:
        return path
    quantizers = train(emb, dim, pq_k, pq_iters, km_k, km_iters)
    # the inverted lists: one directory per coarse cell. At 100 TB this
    # write is the one full shuffle of the build (repartition by cluster
    # so each list lands as few large files, not n_tasks fragments).
    (
        lists(emb, quantizers, dim)
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "lists"))
    )
    cent_rows = [
        (kind, int(cid), [float(x) for x in cv])
        for kind in ("coarse", "pq0", "pq1")
        for cid, cv in sorted(quantizers[kind].items())
    ]
    # the centroid table is DRIVER-resident k×dim data; a
    # spark.createDataFrame round-trip costs ~5 s of pickle-path setup
    # for 16 rows, so write the parquet directly with pyarrow (Spark
    # reads it back identically — doubles round-trip exactly)
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdir = os.path.join(path, "centroids")
    os.makedirs(cdir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "kind": [r[0] for r in cent_rows],
                "cid": pa.array([r[1] for r in cent_rows], type=pa.int32()),
                "cv": pa.array(
                    [r[2] for r in cent_rows], type=pa.list_(pa.float64())
                ),
            }
        ),
        os.path.join(cdir, "part-0.parquet"),
    )
    _BUILT[path] = key
    return path


def load_centroids(
    spark: SparkSession, path: str
) -> dict[str, dict[int, list[float]]]:
    """Driver-side pull of the k×dim quantizer table (tiny by
    construction) — the search-time analogue of ``train``'s output."""
    rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    out: dict[str, dict[int, list[float]]] = {}
    for r in rows:
        out.setdefault(r["kind"], {})[int(r["cid"])] = [float(x) for x in r["cv"]]
    return out


def load_lists(spark: SparkSession, path: str) -> DataFrame:
    """The partitioned inverted lists; ``cluster`` is the partition
    column, so an equi-join probe on it dynamic-partition-prunes."""
    return spark.read.parquet(os.path.join(path, "lists"))
