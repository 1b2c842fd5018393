"""The exact-fold numpy kernels (intra-bucket cosine pair matrices)
must be BIT-IDENTICAL to the Catalyst zip_with/aggregate expression
paths they replace — same sequential IEEE fold per cell, same
half-away rounding, same lowest-id tie-break. (The nearest-centroid
kernel's parity test lives in tests/test_clustering.py.) These
tests drive both paths over the same deterministic vectors and demand
exact equality, including on manufactured ties.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from backend_etl_spark.operators import dedup, similarity


def _vecs(spark, n: int, dim: int = 16, dup_every: int = 0):
    """Deterministic pseudo-random float32 vectors via md5-derived ints
    (engine-independent, no RNG). dup_every>0 plants exact duplicates to
    force distance/cosine ties."""
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 7).cast("string").alias("label"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: (
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    (F.col("id") - (F.col("id") % dup_every))
                                    if dup_every
                                    else F.col("id"),
                                    j,
                                )
                            ),
                            1,
                            6,
                        ),
                        16,
                        10,
                    ).cast("double")
                    / F.lit(16777216.0)
                    - 0.5
                ).cast("float")
            ),
        ).alias("embedding"),
    )
    return df


@pytest.mark.parametrize("dup_every", [0, 4])
def test_np_pair_kernel_matches_catalyst_self_join(spark, dup_every):
    df = _vecs(spark, 300, dup_every=dup_every)
    e = df.select(
        "vec_id", "label", similarity.to_double("embedding").alias("v")
    ).cache()

    got = {
        (r["vec_a"], r["vec_b"], r["cosine_sim"])
        for r in dedup.intra_bucket_cosine_pairs(e, threshold=0.2).collect()
    }

    a = e.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("v").alias("va")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), "label", F.col("v").alias("vb")
    )
    sim = F.round(similarity.cosine(F.col("va"), F.col("vb")), 6)
    want = {
        (r["vec_a"], r["vec_b"], r["cosine_sim"])
        for r in a.join(b, "label")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= 0.2)
        .collect()
    }
    assert got == want
    e.unpersist()


def test_np_drop_kernel_matches_catalyst_self_join(spark):
    # stride 14 = 2 × the 7 labels: every duplicate run spans each label
    # twice, guaranteeing identical-vector pairs INSIDE buckets
    df = _vecs(spark, 300, dup_every=14)
    e = df.select(
        "vec_id",
        F.col("label").alias("cluster"),
        similarity.to_double("embedding").alias("v"),
    ).cache()

    got = {
        r["vec_id"]
        for r in dedup.intra_cluster_cosine_drops(e, threshold=0.9).collect()
    }

    a = e.select(F.col("vec_id").alias("va"), "cluster", F.col("v").alias("xv"))
    b = e.select(F.col("vec_id").alias("vb"), "cluster", F.col("v").alias("yv"))
    want = {
        r["vb"]
        for r in a.join(b, "cluster")
        .where(F.col("va") < F.col("vb"))
        .where(
            F.round(similarity.cosine(F.col("xv"), F.col("yv")), 6) >= 0.9
        )
        .select("vb")
        .distinct()
        .collect()
    }
    assert got == want and len(got) > 0
    e.unpersist()
