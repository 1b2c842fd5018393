"""Idempotent dedup-append sink + watermark state.

Reproduces the reference's sink semantics Spark-first:
- ``ON CONFLICT (<natural key>) DO NOTHING`` (utils/db_helpers.py:92-301)
  becomes: dropDuplicates on the key within the batch, then a left-anti
  join against the sink's existing keys, then an append — the canonical
  Structured Streaming idempotent-sink recipe. NULLs in composite keys
  compare as equal both intra-batch (dropDuplicates) and cross-batch
  (the anti-join uses eqNullSafe), documented choice per SURVEY §7.3.
- the per-(tenant, platform) watermark columns on ``users``
  (utils/db_helpers.py:78-90) become a small ``watermarks`` state table,
  advanced only when a batch lands ≥1 row (tasks.py:198-199 guards
  ``if count:``).

Scale notes: the anti-join reads only the key columns of the sink
(column-pruned parquet scan), but of the whole key history, so its cost
grows with the sink; with an ACID table format this collapses into
MERGE. The state table is tiny
(|tenants| × |platforms|), so its merge runs on the driver: pyarrow
reads the one file, folds the updates in with max-per-key and writes a
fresh copy that is swapped in atomically (write-new+swap). No Spark job
runs for it, the way Spark's own streaming offset log is driver-written
metadata; Spark still reads the table (``read``/``get``).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _sink_exists(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def write_idempotent(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    assume_unique: bool = False,
) -> int:
    """Append `df` to parquet at `path`, skipping rows whose natural key
    already exists (effectively-once under at-least-once redelivery).
    Returns the number of rows appended.

    Scale knobs:
    - ``partition_cols``: hive-partition the sink layout (e.g. ingest
      date, or the coarse cluster of an inverted-list table).
    - ``assume_unique``: the CALLER asserts this batch is already
      key-unique (e.g. a bulk initial load keyed on a source table's
      primary key) — skips the intra-batch dropDuplicates shuffle. The
      cross-batch anti-join still runs, so redelivery safety is
      unchanged; only duplicate keys WITHIN one asserted batch would
      slip through.
    """
    batch = new_rows(df, path, key_cols, assume_unique)
    # rows-appended metric rides the write action itself (Observation =
    # accumulator-backed, SURVEY §2.6 A1's per-task count) — one pass,
    # no persist, no second job. An all-duplicate batch writes an empty
    # parquet commit, which the next read treats as zero rows.
    obs = Observation()
    batch = batch.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = batch.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    return obs.get["n"]


def new_rows(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    assume_unique: bool = False,
) -> DataFrame:
    """The dedup half of ``write_idempotent``: the rows of ``df`` whose
    natural key is neither repeated earlier in the batch nor already in
    the sink at ``path`` (``assume_unique`` as there).
    Lazy; for callers that observe or drop columns before their own
    append."""
    spark = df.sparkSession
    batch = df if assume_unique else df.dropDuplicates(key_cols)
    if _sink_exists(path):
        existing = spark.read.parquet(path)
        # eqNullSafe so cross-batch dedup matches dropDuplicates' NULL
        # semantics: a row with a NULL key column is appended once, not
        # re-appended on every redelivery (null-unsafe equality would
        # never match it against the sink's copy).
        # No distinct on the existing keys: the sink is key-unique BY
        # THIS FUNCTION'S OWN INVARIANT (every append is intra-batch
        # deduped and anti-joined against history), and a left-anti
        # probe is correct against duplicates anyway — the distinct was
        # one extra shuffle+aggregate on EVERY micro-batch (r9; at
        # 100 TB it re-aggregated the whole key history per batch).
        ex = existing.select(*key_cols).alias("__sink_ex")
        b = batch.alias("__sink_in")
        cond = None
        for k in key_cols:
            c = F.col(f"__sink_in.{k}").eqNullSafe(F.col(f"__sink_ex.{k}"))
            cond = c if cond is None else cond & c
        batch = b.join(ex, cond, "left_anti")
    return batch


def compact_sink(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    partition_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite the sink with ``target_files`` files (per partition when
    partitioned), atomically (write-new + swap, same recipe as the
    watermark table). Incremental ticks accumulate one small file per
    batch; at 100 TB unbounded small files destroy scan performance, so
    compaction is a first-class maintenance operator, run off the ingest
    path. Returns (files_before, files_after)."""
    before = len(_data_files(path))
    df = spark.read.parquet(path)
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    writer = df.repartition(target_files).write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return before, len(_data_files(path))


_ARROW_TS = pa.timestamp("us", tz="UTC")
#: the file layout of WatermarkStore.SCHEMA, as Spark reads it back
_ARROW_SCHEMA = pa.schema(
    [("tenant_id", pa.int64()), ("platform", pa.string()), ("watermark", _ARROW_TS)]
)


class WatermarkStore:
    """Tiny (tenant, platform) → max-ts state table on parquet.

    Mirrors the reference's ``last_fetched_<platform>`` columns; NULL /
    missing row = "never fetched" (the catchup trigger,
    utils/db_helpers.py:49-61)."""

    SCHEMA = "tenant_id BIGINT, platform STRING, watermark TIMESTAMP"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        if _sink_exists(self.path):
            return self.spark.read.parquet(self.path)
        return self.spark.createDataFrame([], self.SCHEMA)

    def get(self, tenant_id: int, platform: str):
        rows = (
            self.read()
            .where((F.col("tenant_id") == tenant_id) & (F.col("platform") == platform))
            .collect()
        )
        return rows[0]["watermark"] if rows else None

    def advance(self, rows: Iterable[tuple[int, str, int | None]]) -> None:
        """Merge ``(tenant_id, platform, watermark_us)`` rows into the
        table, keeping the max watermark per key; a NULL never beats a
        value. ``watermark_us`` is UTC epoch micros: a caller holding a
        datetime converts it with ``TimestampType().toInternal``, the
        rule ``createDataFrame`` applies. An empty ``rows`` writes
        nothing. Atomic-ish: write to a fresh dir, then swap, so a plan
        that still reads the old dir must have run before this call."""
        rows = list(rows)
        if not rows:
            return
        tenant_id, platform, watermark = zip(*rows)
        parts = [
            pa.table(
                [
                    pa.array(tenant_id, pa.int64()),
                    pa.array(platform, pa.string()),
                    pa.array(watermark, pa.int64()).cast(_ARROW_TS),
                ],
                schema=_ARROW_SCHEMA,
            )
        ]
        # Spark writes INT96 or TIMESTAMP_MICROS; both hold UTC instants
        for f in _data_files(self.path):
            t = pq.read_table(f, coerce_int96_timestamp_unit="us")
            parts.append(t.select(_ARROW_SCHEMA.names).cast(_ARROW_SCHEMA))
        merged = (
            pa.concat_tables(parts)
            .group_by(["tenant_id", "platform"])
            .aggregate([("watermark", "max")])  # skips NULLs
            .select(["tenant_id", "platform", "watermark_max"])
            .rename_columns(_ARROW_SCHEMA.names)
        )
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        pq.write_table(merged, os.path.join(tmp, "part-00000.parquet"))
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)


def apply_retention(spark: SparkSession, path: str, keep: Column) -> tuple[int, int]:
    """Retention / targeted delete on an append-only parquet sink: keep
    only rows matching ``keep``, rewriting atomically (write-new+swap).
    The GDPR-delete / TTL maintenance operator — append-only ingest plus
    periodic rewrite-excluding is the parquet-native answer to DELETE
    (an ACID table format turns this into a metadata operation).
    Returns (rows_before, rows_after), both observed on the rewrite."""
    obs = Observation()
    kept = (
        spark.read.parquet(path)
        .observe(obs, F.count(F.lit(1)).alias("before"), F.count_if(keep).alias("after"))
        .where(keep)
    )
    tmp = f"{path}.retain-{uuid.uuid4().hex[:8]}"
    kept.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return obs.get["before"], obs.get["after"]
