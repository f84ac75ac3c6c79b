"""The one query runner: how a registry query is timed and accounted in
isolation.  ``bench.py``, ``tools/profile_query.py`` and
``tools/sf1_spotcheck.py`` run their queries through :func:`sample`
after one :func:`warm_up`; tests count Spark jobs through
:func:`job_group`."""

from __future__ import annotations

import contextlib
import time
import uuid

from pyspark.sql import SparkSession

from my_flink_1_10_2_spark.operators.iterate import _persistent_rdd_ids, free_checkpoints


@contextlib.contextmanager
def job_group(spark: SparkSession, name: str):
    """Run the body's Spark actions under a fresh job group described as
    ``name``; on exit clear the group and description and fill the
    yielded record with the group's ``jobs``, ``stages`` and ``tasks``
    (as the status tracker reports them)."""
    sc = spark.sparkContext
    group = f"{name}:{uuid.uuid4().hex}"
    record: dict = {}
    sc.setJobGroup(group, name)
    try:
        yield record
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in job_ids]
        stage_ids = [s for info in infos if info is not None for s in info.stageIds]
        stages = [tracker.getStageInfo(s) for s in stage_ids]
        record.update(
            jobs=len(job_ids),
            stages=len(stage_ids),
            tasks=sum(s.numTasks for s in stages if s is not None),
        )


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM and parquet footers with one small action, and spawn
    the Python UDF workers (reused across queries), so the first sample
    times the operator, not the one-time worker fork."""
    from my_flink_1_10_2_spark.queries import all_queries

    all_queries()["q_full_sort"].spark_fn(spark, sf_dir).count()
    spark.range(1000).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()


def release(spark: SparkSession) -> None:
    """Drop every block left persisted (iterative operators keep their
    final state's checkpoint) and the cache, so the next query runs
    without this one's block-manager pressure."""
    free_checkpoints(spark, _persistent_rdd_ids(spark))
    spark.catalog.clearCache()


def sample(spark: SparkSession, query, sf_dir: str) -> dict:
    """One timed run of registry ``query``: build it and write it to the
    noop sink (which computes every output column, where ``count`` would
    let the optimizer prune them), then :func:`release`.  Construction is
    inside the timed span because iterative operators run their loops
    while the query is built.  Returns the :func:`job_group` record with
    ``wall_s``."""
    with job_group(spark, query.name) as record:
        t0 = time.perf_counter()
        query.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        record["wall_s"] = time.perf_counter() - t0
    release(spark)
    return record
