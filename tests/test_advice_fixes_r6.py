"""Regression tests for the round-5 ADVICE findings:

1. bestfit_pack_shards (operators/curation.py): the attested FFD bound
   must use LB = max(ceil(sum/cap), #big-items) — many items just over
   capacity/2 previously made within_ffd_bound spuriously False;
2. pack_bestfit_bins (catalog/llmops3.py): NULL doc text must count as
   0 tokens on the Spark side (matching the oracle's coalesce), not -1
   or NULL;
3. forget_partitioned (operators/partitioning.py): an empty affected
   set (no tombstoned key present) must be a no-op, not an isin() crash;
4. radius_cover (operators/geo.py): longitudinal range from the true
   inverse-haversine span with strictly positive slack, so exact
   integer cell spans can't leave a zero-slack boundary.
"""

import glob
import math

from pyspark.sql import functions as F

from backend_etl_spark.functions.scalars import tokens
from backend_etl_spark.operators import geo
from backend_etl_spark.operators.curation import bestfit_pack_shards
from backend_etl_spark.operators.partitioning import forget_partitioned


class TestFFDBoundLowerBound:
    def test_many_just_over_half_capacity_items(self, spark):
        # the ADVICE counterexample: 10 items of 1025, capacity 2048 —
        # BFD uses 10 bins (pairs don't fit), ceil-sum lb is only 6, and
        # 9*10 =90 > 11*6+6 =72 flagged False under the old bound. The
        # big-item term lifts LB to 10: 90 <= 11*10+6.
        df = spark.createDataFrame(
            [(0, 1025)] * 10, "shard BIGINT, n BIGINT"
        )
        row = bestfit_pack_shards(df, "shard", "n", 2048).collect()[0]
        assert row["bins_used"] == 10
        assert row["lb_bins"] == 10
        assert row["within_ffd_bound"] is True
        assert row["capacity_respected"] is True

    def test_ceil_sum_term_still_binds_small_items(self, spark):
        # all-small items: big-item count is 0, ceil-sum drives LB
        df = spark.createDataFrame(
            [(0, 100)] * 50, "shard BIGINT, n BIGINT"
        )
        row = bestfit_pack_shards(df, "shard", "n", 1000).collect()[0]
        assert row["lb_bins"] == 5  # ceil(5000/1000)
        assert row["bins_used"] == 5
        assert row["within_ffd_bound"] is True


class TestBFDNullTextTokens:
    def test_null_text_counts_zero_tokens(self, spark):
        # the exact token-count expression the pack_bestfit_bins entry
        # feeds the packer: NULL text must be 0, never NULL or -1
        cap = 2048
        n = F.least(
            F.greatest(
                F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)), F.lit(0)
            ),
            F.lit(cap),
        )
        rows = (
            spark.createDataFrame(
                [(1, None), (2, ""), (3, "a b c")], "doc_id INT, text STRING"
            )
            .select("doc_id", n.alias("n"))
            .orderBy("doc_id")
            .collect()
        )
        assert [r["n"] for r in rows] == [0, 0, 3]


class TestForgetPartitionedEmptyAffected:
    def test_no_matching_tombstone_is_noop(self, spark, tmp_path):
        root = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(i, i % 4, f"p{i}") for i in range(40)],
            "user_id BIGINT, bucket BIGINT, payload STRING",
        )
        df.write.mode("overwrite").partitionBy("bucket").parquet(root)
        before = sorted(glob.glob(f"{root}/bucket=*/part-*"))
        # tombstone keys that do not exist in the table at all
        tombstones = spark.createDataFrame(
            [(10_000,), (10_001,)], "user_id BIGINT"
        )
        forget_partitioned(spark, root, tombstones, "user_id", "bucket")
        after = sorted(glob.glob(f"{root}/bucket=*/part-*"))
        assert before == after  # byte-level no-op: no partition rewritten
        assert spark.read.parquet(root).count() == 40


class TestRadiusCoverSlack:
    def test_catalog_config_unchanged(self):
        assert geo.radius_cover(250.0, 2.5, 60.0) == (2, 1)

    def test_exact_integer_span_keeps_slack(self):
        # one full latitude cell exactly: the old ceil() returned 1 with
        # zero slack; floor+1 keeps a strictly positive margin
        _, dy = geo.radius_cover(geo.KM_PER_DEG * 1.0, 1.0, 0.0)
        assert dy == 2

    def test_true_longitudinal_span_covered_for_high_latitudes(self):
        # the planar approximation understates the span; the cover must
        # exceed the inverse-haversine truth with positive slack
        for r, cell, maxlat in [
            (250.0, 2.5, 60.0),
            (500.0, 1.0, 75.0),
            (100.0, 0.5, 80.0),
            (1000.0, 2.0, 70.0),
        ]:
            dx, dy = geo.radius_cover(r, cell, maxlat)
            s = math.sin(r / (2 * geo.EARTH_RADIUS_KM)) / math.cos(
                math.radians(maxlat)
            )
            true_span = math.degrees(2 * math.asin(min(1.0, s)))
            assert dx * cell > true_span, (r, cell, maxlat)
            assert dy * cell > r / geo.KM_PER_DEG


class TestKmeansFitMemoization:
    def test_in_memory_relations_never_cached(self, spark):
        """A LogicalRDD/LocalRelation input has no stable identity — the
        memo must refuse it (None key) rather than collide two datasets."""
        from backend_etl_spark.operators import clustering

        clustering._FIT_CACHE.clear()
        a = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(8)],
            "vec_id INT, embedding ARRAY<DOUBLE>",
        )
        b = spark.createDataFrame(
            [(i, [0.0, float(i * 3)]) for i in range(8)],
            "vec_id INT, embedding ARRAY<DOUBLE>",
        )
        ca = clustering.kmeans_fit(a, k=2, iters=2)
        cb = clustering.kmeans_fit(b, k=2, iters=2)
        # identical schemas/plans but different data: must NOT collide
        assert ca != cb
        assert len(clustering._FIT_CACHE) == 0
