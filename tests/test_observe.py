"""The one query runner (``observe.py``): ``job_group`` counts what the
status tracker reports for a known action, and a sample leaves no block
of the query persisted."""

from __future__ import annotations

import operator

from my_flink_1_10_2_spark.observe import job_group, sample
from my_flink_1_10_2_spark.operators.iterate import _persistent_rdd_ids, checkpoint_tracked
from my_flink_1_10_2_spark.queries import Query


def test_job_group_counts_a_known_action(spark):
    sc = spark.sparkContext
    rdd = sc.parallelize(range(10), 3)
    with job_group(spark, "observe_known") as record:
        assert sc.getLocalProperty("spark.job.description") == "observe_known"
        rdd.count()  # 1 job: 1 stage of 3 tasks
        rdd.map(lambda x: (x % 2, x)).reduceByKey(operator.add, 2).collect()  # 1 job: 3 + 2 tasks
    assert record == {"jobs": 2, "stages": 3, "tasks": 8}
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None


def test_sample_releases_the_query_checkpoints(spark):
    pinned: set[int] = set()

    def build(spark, sf_dir):
        df, ids = checkpoint_tracked(spark.range(100))
        pinned.update(ids)
        return df.selectExpr("id * 2 AS x")

    record = sample(spark, Query("observe_ckpt", build, None, "test"), "unused")
    assert pinned and not pinned & _persistent_rdd_ids(spark)
    assert record["jobs"] >= 1 and record["wall_s"] > 0
