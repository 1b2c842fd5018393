"""Parquet table loaders for the synthetic star schema.

Column pruning and predicate pushdown into the parquet scan are free as
long as callers express plans declaratively (``.select``/``.where`` on
the returned DataFrame) — verify via ``df.explain`` → ``PushedFilters``/
``ReadSchema``. At 100 TB these tables would be partitioned (e.g.
``orders`` by month of ``o_orderdate``); the loader API stays the same.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Dimensions small enough to always broadcast (the `users` control-dim
#: role from the reference, SURVEY §2.7 J1).
BROADCAST_DIMS = {"region", "nation", "customer", "supplier", "part"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet has shipped with two timestamp encodings so far;
        # normalize both to session-UTC TIMESTAMP here so downstream
        # operators (unix_micros, watermarks, as-of joins) see one type:
        #  - TIMESTAMP(NANOS): Spark's reader rejects it; read nanos as
        #    LONG and convert (integer `div`, not float division —
        #    ns-epoch exceeds double's 53-bit mantissa). DuckDB truncates
        #    ns→µs on CAST(ts AS TIMESTAMP) the same way.
        #  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
        #    TIMESTAMP_NTZ; cast to TIMESTAMP. The session runs in UTC
        #    (session.py), so the cast is a deterministic relabel and
        #    matches DuckDB's CAST(ts AS TIMESTAMP) on the same file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def input_files(df: DataFrame) -> tuple:
    """The identity of ``df``'s input: its files in path order, each
    stamped with (size, mtime_ns), so a file rewritten in place changes
    it. Non-local URIs fall back to path identity — a remote object
    store is immutable-by-convention (new snapshot = new path). Empty
    for an in-memory relation."""
    files = []
    for p in sorted(df.inputFiles()):
        local = p[len("file:"):] if p.startswith("file:") else None
        try:
            st = os.stat(local) if local else None
        except OSError:
            st = None
        files.append((p, st.st_size, st.st_mtime_ns) if st else (p,))
    return tuple(files)


def input_digest(df: DataFrame) -> str:
    """A short hex digest of ``input_files(df)``: the staging-directory
    name of a layout built from ``df``, so two inputs never share one."""
    import hashlib

    return hashlib.sha1(repr(input_files(df)).encode()).hexdigest()[:16]


_STAGING_ROOT: str | None = None


def staging_dir(*sub: str) -> str:
    """Per-process scratch root for layout-at-rest and streaming catalog
    entries. One ``mkdtemp`` per process — collision-free across
    concurrent sessions (pytest at sf0.01 vs bench at sf0.1, parallel
    test workers, other users on a shared /tmp) — cached in a module
    global so repeated invocations within a process REUSE the same
    location instead of leaking a fresh table copy per run, and removed
    at interpreter exit. Returns ``<root>/<sub...>`` (not created)."""
    global _STAGING_ROOT
    if _STAGING_ROOT is None:
        import atexit
        import tempfile

        _STAGING_ROOT = tempfile.mkdtemp(prefix="spark-graft-stage-")
        atexit.register(shutil.rmtree, _STAGING_ROOT, ignore_errors=True)
    return os.path.join(_STAGING_ROOT, *sub)


def scratch_dir(tag: str) -> str:
    """A FRESH per-invocation scratch directory under the per-process
    staging root — for streaming entries whose checkpoint/source-listing
    state must not be shared across invocations (a reused checkpoint
    would mark re-written source files processed, or double-count
    re-delivered partials). Unlike a bare mkdtemp, everything under the
    root is reclaimed at process exit, so bench/test loops don't leak a
    directory per run."""
    import tempfile

    root = staging_dir("streams")
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=root)


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register temp views so catalog queries can use ``spark.sql``."""
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 8,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist a DataFrame as a bucketed (and bucket-sorted) catalog
    table. Two tables bucketed the same way on their join key co-locate:
    the join needs NO Exchange at read time — at 100 TB this turns the
    nightly fact-to-fact join from the dominant shuffle into a local
    merge per bucket (verified by tests/test_plan_quality.py). A
    same-key window/groupBy over ONE bucketed table likewise reads
    shuffle-free (bucketed_sessionize_events).

    ``path`` makes the table external at an explicit location — use it
    from catalog entries so an untuned driver session never writes a
    ``spark-warehouse`` under its cwd."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # the in-memory catalog forgets tables across sessions but the
    # table location persists; clear a stale dir before re-creating
    loc = path
    if loc is None:
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        if warehouse.startswith("file:"):
            warehouse = warehouse[len("file:"):]
        loc = os.path.join(warehouse, name) if warehouse else None
    if loc:
        shutil.rmtree(loc, ignore_errors=True)
    w = df.write.bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.mode("overwrite").format("parquet").saveAsTable(name)


def write_partitioned(
    df: DataFrame, name: str, partition_col: str, path: str | None = None
) -> None:
    """Persist a DataFrame hive-partitioned on ``partition_col`` — the
    layout-at-rest that turns a time/tenant predicate into partition
    PRUNING (the scan never opens non-matching directories). At 100 TB
    the nightly lineitem scan with a ship-year filter reads 1/7th of the
    table by construction; tests assert PartitionFilters reaches the
    scan node."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = path
    if loc is None:
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        if warehouse.startswith("file:"):
            warehouse = warehouse[len("file:"):]
        loc = os.path.join(warehouse, name) if warehouse else None
    if loc:
        shutil.rmtree(loc, ignore_errors=True)
    w = df.write.partitionBy(partition_col)
    if path is not None:
        w = w.option("path", path)
    w.mode("overwrite").format("parquet").saveAsTable(name)
