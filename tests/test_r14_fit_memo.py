"""The in-process k-means fit memo keys only file-backed inputs: an
in-memory relation has no stable identity and must get no key."""

from backend_etl_spark.operators import clustering as C


def test_in_memory_relation_never_memoized(spark):
    """A LogicalRDD/LocalRelation input has no stable identity — the
    memo must refuse it (None key) rather than collide two datasets."""
    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert C._plan_key(df) is None
