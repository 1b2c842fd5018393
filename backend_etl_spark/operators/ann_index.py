"""Persisted IVF-PQ index: the FAISS train-once / search-many
discipline (Jégou et al. 2011, IndexIVFPQ — PAPERS.md) as layout at
rest.

The composed catalog entries (knn_ivfpq_adc & co.) rebuild the index —
3 k-means fits — on every invocation, which is exactness-convenient but
NOT the production shape: at 100 TB the index is trained once on a
sample, vectors are encoded in one pass, and every query afterwards
touches only the persisted artifacts. This module persists:

- ``lists/``      one row per vector (vec_id, code0, code1),
                  hive-PARTITIONED by the coarse cluster id — the
                  literal on-disk inverted-list layout. A probe join on
                  ``cluster`` prunes unprobed lists at the SCAN via
                  dynamic partition pruning (asserted in
                  tests/test_plan_quality.py).
- ``centroids/``  the tiny (kind, cid, cv) centroid/codebook table —
                  ``kind`` ∈ {coarse, pq0, pq1}; k×dim doubles, read
                  with a driver-side collect at search time (the same
                  broadcast-as-literal discipline as training).

Build is cached per (process, embeddings-path): repeated searches in a
bench/test loop pay the k-means fits once, proving search ≪ build.
Doubles round-trip parquet exactly, so the persisted search is
bit-identical to the composed entry and SHARES its oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_etl_spark.operators import clustering

_BUILT: dict[str, str] = {}


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    km_k: int,
    km_iters: int,
    pq_k: int,
    pq_iters: int,
    dim: int,
) -> str:
    """Train coarse + 2 PQ subspace quantizers, encode every vector,
    and persist lists (partitioned by coarse cluster) + centroids.
    Idempotent per process: keyed on ``path``."""
    if path in _BUILT:
        return path
    half = dim // 2
    coarse = clustering.kmeans_fit(emb, k=km_k, iters=km_iters)
    halves = {
        0: F.slice("embedding", 1, half),
        1: F.slice("embedding", half + 1, dim - half),
    }
    # both subspace quantizers are groups of one grouped-map fit job
    # (numerics identical to a fit per subspace)
    codebooks: dict[int, dict[int, list[float]]] = clustering.kmeans_fit_multi(
        {s: emb.select("vec_id", sl.alias("embedding")) for s, sl in halves.items()},
        k=pq_k,
        iters=pq_iters,
    )
    # SINGLE-PASS encode: all three argmins in ONE Arrow-batched kernel
    # (r9 — attested numerics, no 3-quantizer expression compile) — a
    # per-subspace assign-then-join-on-vec_id would shuffle the full
    # corpus once per subspace
    enc = clustering.multi_encode_np(
        {
            "cluster": (coarse, None),
            "code0": (codebooks[0], (0, half)),
            "code1": (codebooks[1], (half, dim)),
        }
    )(clustering._as_double(F.col("embedding")))
    index = emb.select(
        "vec_id",
        enc["cluster"].alias("cluster"),
        *[enc[f"code{s}"].alias(f"code{s}") for s in (0, 1)],
    )
    # the inverted lists: one directory per coarse cell. At 100 TB this
    # write is the one full shuffle of the build (repartition by cluster
    # so each list lands as few large files, not n_tasks fragments).
    (
        index.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "lists"))
    )
    cent_rows = [
        ("coarse", int(cid), [float(x) for x in cv])
        for cid, cv in sorted(coarse.items())
    ] + [
        (f"pq{s}", int(cid), [float(x) for x in cv])
        for s in sorted(codebooks)
        for cid, cv in sorted(codebooks[s].items())
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
    _BUILT[path] = path
    return path


def load_centroids(
    spark: SparkSession, path: str
) -> dict[str, dict[int, list[float]]]:
    """Driver-side pull of the k×dim centroid table (tiny by
    construction) — the search-time analogue of kmeans_fit's output."""
    rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    out: dict[str, dict[int, list[float]]] = {}
    for r in rows:
        out.setdefault(r["kind"], {})[int(r["cid"])] = [float(x) for x in r["cv"]]
    return out


def load_lists(spark: SparkSession, path: str) -> DataFrame:
    """The partitioned inverted lists; ``cluster`` is the partition
    column, so an equi-join probe on it dynamic-partition-prunes."""
    return spark.read.parquet(os.path.join(path, "lists"))
