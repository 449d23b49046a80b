"""local_df: driver-side lists as DataFrames without Python-worker scans."""

from __future__ import annotations

from streamroom_bigdata_spark.functions.localdf import local_df


def test_empty_local_df_optimizes_to_empty_local_relation(spark):
    """An empty frame must plan as an empty LocalRelation (no task, no
    Python worker), not the LogicalRDD of an empty createDataFrame."""
    df = local_df(spark, [], "id long, rank double")
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert plan.data().isEmpty()
    assert df.schema.simpleString() == "struct<id:bigint,rank:double>"
    assert df.collect() == []
