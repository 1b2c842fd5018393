"""Modern-Spark primitives the 100 TB deployment would actually run:

- ``variant_events_extract`` — semi-structured JSON via the Spark 4
  VARIANT type (``parse_json`` + ``variant_get``): the binary-encoded
  variant is decoded once at parse time and path access is a typed
  O(field) lookup, unlike ``get_json_object`` which re-parses the JSON
  text per extraction expression. At 100 TB of sparse event payloads
  this is the difference between one decode and k decodes per row.
- ``sketch_hll_datasketches_bounded`` — the JVM Apache DataSketches
  HLL family (``hll_sketch_agg`` / ``hll_union_agg``): unlike
  ``approx_count_distinct`` (whose HLL++ state is internal), these
  sketches are first-class BINARY columns — persistable, re-readable,
  and mergeable across partitions/days, which is how a 100 TB lake
  keeps per-day distinct-user sketches and serves any date-range
  cardinality by unioning ~365 small blobs instead of rescanning.
- ``layout_bucketed_colocated_join`` — the fact-to-fact join with BOTH
  sides bucketed on the join key: the SortMergeJoin consumes bucket
  layout directly, with ZERO Exchange below the join
  (tests/test_plan_quality.py asserts it). At 100 TB the nightly
  orders⋈lineitem shuffle is the single largest network event; this
  layout removes it entirely.

Engine-specific sketch estimates (DataSketches HLL) follow the
bounded-error attestation pattern of agg_approx_error_bounded: the
oracle emits the exact value and literal TRUE flags, Spark emits the
computed flags — a broken sketch surfaces as a hash mismatch rather
than hiding behind a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_etl_spark.catalog.registry import register
from backend_etl_spark.session import tune
from backend_etl_spark.sources.loader import load_table
from backend_etl_spark.streaming import drain_conf

# ---------------------------------------------------------------------------
# VARIANT semi-structured extraction
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT)                                  AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT)                                           AS sum_k,
           CAST(count(*) FILTER (
                WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
           ) AS BIGINT)                                              AS n_hi,
           CAST(count(*) FILTER (
                WHERE json_extract_string(props, '$.missing') IS NULL
           ) AS BIGINT)                                              AS n_absent
    FROM events
    GROUP BY event_type
"""


@register("variant_events_extract", oracle=_VARIANT_ORACLE)
def variant_events_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props decoded ONCE into a Spark 4 VARIANT column
    (`parse_json`), then navigated with typed `variant_get` paths —
    the modern replacement for the get_json_object twin
    (events_json_props), which re-parses the JSON text for every
    extraction expression. `try_variant_get` on an absent path shows
    the NULL-not-error semantics schema-on-read pipelines rely on.

    Scale shape: map-only parse + extraction fused into the scan
    projection, one bounded groupBy on event_type (map-side partials).
    The variant binary encoding is columnar-shreddable; at 100 TB the
    parse cost is paid once per row, not once per path reference."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    absent = F.try_variant_get(v, "$.missing", "string")
    return (
        ev.select(
            "event_type",
            k.alias("k"),
            absent.alias("absent"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count_if(F.col("k") > 50).cast("bigint").alias("n_hi"),
            F.count_if(F.col("absent").isNull()).cast("bigint").alias("n_absent"),
        )
    )


# ---------------------------------------------------------------------------
# DataSketches HLL: bounded estimate + binary-sketch mergeability
# ---------------------------------------------------------------------------

_HLL_LGK = 12  # 2^12 registers -> published RSE = 1.04 / sqrt(2^12) ~ 1.63%
_HLL_RSE = 1.04 / (2 ** (_HLL_LGK / 2))

_HLL_ORACLE = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_3rse,
           TRUE AS merged_within_3rse
    FROM events
    GROUP BY event_type
"""


@register("sketch_hll_datasketches_bounded", oracle=_HLL_ORACLE)
def sketch_hll_datasketches_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL over events.user_id per event_type —
    built twice: directly (`hll_sketch_agg`), and as FOUR disjoint
    per-shard binary sketches folded with `hll_union_agg`. Attests
    that BOTH estimates satisfy |est − exact|/exact < 3·RSE with
    RSE = 1.04/√2^lgK (the published HLL bound, Flajolet et al. 2007).
    The union is NOT attested bit-equal to the direct sketch: the
    DataSketches union operates internally at HLL_8 and its fold can
    round differently from the one-shot HLL_4 sketch once past sparse
    mode (observed at sf0.1), so the operational claim — a rollup
    served from merged per-shard blobs stays inside the error bound —
    is the one locked in. Bit-exact cross-engine mergeability is
    attested by the portable twins (sketch_loglog_merge_union).

    This is the production distinct-count path at 100 TB: per-day /
    per-partition sketch blobs persisted as BINARY, any rollup served
    by unioning blobs — the raw fact table is never rescanned. The
    portable-hash twins (sketch_loglog_*) attest the estimate itself
    cross-engine; this entry attests the JVM library path the cluster
    would really use, under the bounded pattern (sketch state is
    engine-specific, so the oracle emits exact + TRUE flags)."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")

    # two-level (r9, see agg_approx_count_distinct): distinct pairs
    # first, then count + sketch over the pairs — HLL registers are
    # duplicate-insensitive so the sketch state is identical, and no
    # sketch buffer rides the per-distinct-key partial state. NULL keys
    # dropped first: the sketches and count_distinct ignore them, a
    # bare pair count would not.
    pairs = ev.where(F.col("user_id").isNotNull()).distinct()
    direct = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", _HLL_LGK)).alias("est"),
    )
    # four disjoint shards -> four binary sketches -> one union per group;
    # at scale each shard is a day/partition whose blob was persisted
    shard = ev.withColumn("shard", F.pmod(F.col("user_id"), F.lit(4)))
    per_shard = shard.groupBy("event_type", "shard").agg(
        F.hll_sketch_agg("user_id", _HLL_LGK).alias("sk")
    )
    merged = per_shard.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    exact_d = F.col("exact_users").cast("double")
    rel_err = F.abs(F.col("est") - exact_d) / exact_d
    merged_rel_err = F.abs(F.col("merged_est") - exact_d) / exact_d
    return direct.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (rel_err < 3 * _HLL_RSE).alias("within_3rse"),
        (merged_rel_err < 3 * _HLL_RSE).alias("merged_within_3rse"),
    )


# ---------------------------------------------------------------------------
# two-sided bucketed co-located join
# ---------------------------------------------------------------------------

_COLOCATED_ORACLE = """
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
"""


def _colocated_join_frames(spark: SparkSession, sf_dir: str):
    """Write orders and lineitem bucketed on the join key and return
    the (orders, lineitem) table handles — split out so the plan test
    can assert the join subtree is Exchange-free."""
    from backend_etl_spark.sources.loader import staging_dir, write_bucketed

    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(
        ords,
        "orders_by_key",
        "o_orderkey",
        n_buckets=8,
        path=staging_dir("layout", "orders_by_key"),
    )
    write_bucketed(
        li,
        "lineitem_by_key",
        "l_orderkey",
        n_buckets=8,
        path=staging_dir("layout", "lineitem_by_key"),
    )
    return spark.table("orders_by_key"), spark.table("lineitem_by_key")


def colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The joined relation itself (pre-aggregation) — the subtree whose
    plan must contain a SortMergeJoin and ZERO Exchange."""
    o, l = _colocated_join_frames(spark, sf_dir)
    # hint forces SMJ so the zero-shuffle claim isn't satisfied trivially
    # by a broadcast at test SFs; at 100 TB neither side broadcasts anyway
    return o.hint("merge").join(l, o.o_orderkey == l.l_orderkey)


@register("layout_bucketed_colocated_join", oracle=_COLOCATED_ORACLE)
def layout_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-at-rest #4: orders AND lineitem both written bucketed
    (8 buckets, bucket-sorted) on the join key, then joined — the
    SortMergeJoin reads bucket-aligned, pre-sorted files, so there is
    NO Exchange and no per-query Sort below the join
    (tests/test_plan_quality.py asserts the subtree). The one shuffle
    left in the entry is the final 3-group aggregate.

    At 100 TB the orders⋈lineitem shuffle dominates the nightly batch
    (both sides are facts — neither broadcasts); bucketing both tables
    identically at ingest converts it into a per-bucket local merge,
    paid once at write time and amortized over every downstream join.
    Same discipline as bucketed_sessionize_events, extended to the
    TWO-SIDED case that actually moves data at scale."""
    tune(spark)
    j = colocated_join(spark, sf_dir)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


from backend_etl_spark.operators import zorder  # noqa: E402

#: 8-bit layout cells per dimension (a LAYOUT granularity, not a
#: semantic one — values alias into cells at scale and the residual
#: exact predicate always decides membership)
_ZMASK = 255
#: the attested 2-D box: users 2..9 × day-cells 16..31 (events span
#: Jan 2024 → day-of-epoch & 255 lands in 11..41, and user ids start
#: at 0, at every SF — so the box is non-empty from sf0.001 up).
#: Cover literals come from the same spread tables as both engines'
#: z expressions.
_ZBOX_U = (2, 9)
_ZBOX_D = (16, 31)
_ZLO = zorder.morton_key_py(_ZBOX_U[0], _ZBOX_D[0])
_ZHI = zorder.morton_key_py(_ZBOX_U[1], _ZBOX_D[1])
_ZBUCKET_SHIFT = 10

_ZORDER_BUILT: set[str] = set()


def _zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write events in z-order layout once per process and events
    table: zval = morton2(user_id & MASK, day8), directory-partitioned
    on the top z bits (zbucket) with each directory's file sorted by
    zval. The directory is named for the table's file identity, so a
    different or rewritten table gets its own layout."""
    from backend_etl_spark.sources.loader import input_digest, staging_dir

    ev = load_table(spark, sf_dir, "events")
    path = staging_dir("zorder", input_digest(ev))
    if path in _ZORDER_BUILT:
        return path
    staged = (
        ev.select(
            "event_id",
            "user_id",
            F.expr("unix_micros(ts) div 86400000000")
            .bitwiseAND(F.lit(_ZMASK).cast("bigint"))
            .alias("day8"),
        )
        .withColumn(
            "zval",
            zorder.morton_key(
                F.col("user_id").bitwiseAND(F.lit(_ZMASK).cast("bigint")),
                F.col("day8"),
            ),
        )
        .withColumn("zbucket", F.shiftright("zval", _ZBUCKET_SHIFT))
    )
    (
        staged.repartition("zbucket")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(path)
    )
    _ZORDER_BUILT.add(path)
    return path


_ZORDER_ORACLE = f"""
    WITH e AS (
      SELECT user_id,
             (epoch_us(ts) // 86400000000) & {_ZMASK} AS day8
      FROM events),
    z AS (
      SELECT user_id, day8,
             {zorder.morton_key_sql(f"(user_id & {_ZMASK})", "day8")} AS zval
      FROM e)
    SELECT user_id,
           CAST(day8 AS BIGINT)     AS day8,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(zval) AS BIGINT) AS z_min
    FROM z
    WHERE user_id BETWEEN {_ZBOX_U[0]} AND {_ZBOX_U[1]}
      AND day8 BETWEEN {_ZBOX_D[0]} AND {_ZBOX_D[1]}
    GROUP BY user_id, day8
"""


@register("layout_zorder_pruned_box", oracle=_ZORDER_ORACLE)
def layout_zorder_pruned_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-at-rest #5: Z-ORDER clustering (Morton interleave — the
    technique behind Delta's OPTIMIZE ZORDER BY and UB-trees,
    operators/zorder.py). events is laid out once in z ranges of
    (user cell, day cell); a 2-D box query then (1) prunes whole
    z-range DIRECTORIES via the box's Morton cover on the partition
    column (PartitionFilters — plan-asserted), (2) skips row groups
    inside surviving files via the zval min/max stats the z-sort
    produced, and (3) applies the exact residual box. ONE sort order
    buys skipping in BOTH dimensions; a user_id-only layout scans
    every file for a day-bounded query and vice versa.

    The oracle never sees the layout: it runs the plain box query over
    raw events and recomputes zval from the same bit loop — a
    hash-match PROVES the Morton cover [morton(ulo,dlo),
    morton(uhi,dhi)] is a true superset of the box (a dropped row
    would mismatch), which is the monotonicity-of-interleave argument
    made executable. At 100 TB this layout is how an events lake
    serves user×time slices without a secondary index."""
    tune(spark)
    path = _zorder_layout(spark, sf_dir)
    t = spark.read.parquet(path)
    return (
        t.where(
            (F.col("zbucket") >= F.lit(_ZLO >> _ZBUCKET_SHIFT))
            & (F.col("zbucket") <= F.lit(_ZHI >> _ZBUCKET_SHIFT))
        )
        .where(F.col("zval").between(_ZLO, _ZHI))
        .where(
            F.col("user_id").between(*_ZBOX_U)
            & F.col("day8").between(*_ZBOX_D)
        )
        .groupBy("user_id", "day8")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("zval").cast("bigint").alias("z_min"),
        )
        .select(
            "user_id",
            F.col("day8").cast("bigint").alias("day8"),
            "n_events",
            "z_min",
        )
    )


_HLL_STREAM_ORACLE = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merged_within_3rse
    FROM events
    GROUP BY event_type
"""


@register("streaming_hll_blob_merge", oracle=_HLL_STREAM_ORACLE)
def streaming_hll_blob_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-day-sketch-blob pattern end to end: events arrive as a
    multi-batch availableNow file stream; each micro-batch aggregates
    its slice into per-group DataSketches HLL BINARY blobs inside
    foreachBatch (batch_id-keyed overwrite — checkpoint replay rewrites
    the same blobs, never double-merges); the serving side folds all
    persisted blobs with `hll_union_agg` and never re-reads the event
    stream. The merged estimate is attested within 3·RSE of the exact
    distinct count (the bounded pattern — sketch state is
    engine-specific).

    The streaming twin of sketch_hll_datasketches_bounded, and the HLL
    counterpart of streaming_sketch_cms_merge: counts fold by summing
    cells, distincts fold by register max — at 100 TB/day the live
    distinct-users table reads n_batches·n_groups KB-sized blobs, not
    the raw feed. Restart safety mirrors the CMS entry; at-least-once
    source redelivery is harmless here by construction — re-observing a
    value is an HLL no-op (register max is idempotent), the property
    that makes HLL the right sketch under at-least-once delivery."""
    from backend_etl_spark.sources.loader import scratch_dir

    tune(spark)
    base = scratch_dir("hll-stream")
    src, blobs, ckpt = f"{base}/src", f"{base}/blobs", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # 2 staged files at 1 file/trigger = 2 real micro-batches — the
    # union-fold property holds at any batch split; half the per-batch
    # fixed cost (same rationale as streaming_sketch_cms_merge)
    ev.repartition(2).write.mode("overwrite").parquet(src)

    def _partial(batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy("event_type")
            .agg(F.hll_sketch_agg("user_id", _HLL_LGK).alias("sk"))
            .write.mode("overwrite")
            .parquet(f"{blobs}/batch={batch_id}")
        )

    with drain_conf(spark):
        (
            spark.readStream.schema("event_type STRING, user_id BIGINT")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_partial)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    merged = (
        spark.read.parquet(blobs)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est"))
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    exact_d = F.col("exact_users").cast("double")
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (F.abs(F.col("merged_est") - exact_d) / exact_d < 3 * _HLL_RSE).alias(
            "merged_within_3rse"
        ),
    )
