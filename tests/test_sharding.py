"""Keys-only contiguous shard assignment (sources/sharding.py) — the
decide-on-keys / move-payload-once split every export writer shares."""

from __future__ import annotations

from pyspark.sql import functions as F

from my_flink_1_10_2_spark.sources.sharding import (
    assign_contiguous_shards,
    read_per_task,
)


def _expected(keys, s):
    order = {k: i for i, k in enumerate(sorted(keys))}
    return {k: order[k] // s for k in keys}


def test_matches_rank_arithmetic_exactly(spark):
    keys = [91, 3, 55, 7, 200, 42, 1, 999, 13, 70, 8, 64]
    df = spark.createDataFrame([(k, f"p{k}") for k in keys], "k long, payload string")
    out = {
        r["k"]: r["__shard"]
        for r in assign_contiguous_shards(df, "k", 5).collect()
    }
    assert out == _expected(keys, 5)


def test_boundary_key_lands_in_lower_shard(spark):
    # rank S key is the LAST sample of shard 0, not the first of shard 1
    df = spark.createDataFrame([(k,) for k in range(1, 11)], "k long")
    out = {
        r["k"]: r["__shard"]
        for r in assign_contiguous_shards(df, "k", 5).collect()
    }
    assert out == {k: (k - 1) // 5 for k in range(1, 11)}


def test_fewer_rows_than_shard_is_single_shard(spark):
    df = spark.createDataFrame([(7,), (3,)], "k long")
    out = assign_contiguous_shards(df, "k", 100).collect()
    assert {r["__shard"] for r in out} == {0}


def test_empty_input(spark):
    df = spark.createDataFrame([], "k long, payload string")
    assert assign_contiguous_shards(df, "k", 10).collect() == []


def test_string_keys(spark):
    keys = ["kiwi", "apple", "fig", "banana", "grape", "lemon", "date"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    out = {
        r["k"]: r["__shard"]
        for r in assign_contiguous_shards(df, "k", 3).collect()
    }
    assert out == _expected(keys, 3)


def test_no_checkpoint_blocks_leak(spark):
    sc = spark.sparkContext
    for r in list(sc._jsc.getPersistentRDDs().values()):
        r.unpersist()
    df = spark.createDataFrame([(k,) for k in range(37)], "k long")
    assign_contiguous_shards(df, "k", 10).collect()
    assert len(sc._jsc.getPersistentRDDs()) == 0


def test_read_per_task_decodes_each_unit_in_its_own_task(spark):
    import pandas as pd
    from pyspark.sql import types as T

    def decode(path, lo=None, hi=None):
        return pd.DataFrame({"path": [path], "lo": [lo], "hi": [hi]})

    schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("lo", T.LongType()),
        T.StructField("hi", T.LongType()),
    ])
    paths = ["/d/shard-000007.x", "/d/shard-000002.x"]
    out = read_per_task(spark, paths, schema, decode, shard_col="shard")
    assert [tuple(r) for r in out.withColumn("pid", F.spark_partition_id()).collect()] == [
        ("/d/shard-000007.x", None, None, 7, 0),
        ("/d/shard-000002.x", None, None, 2, 1),
    ]
    units = ["/d/a.x", ("/d/w.x", 0, 1 << 40), ("/d/w.x", None, None), "/d/b.x"]
    out = read_per_task(spark, units, schema, decode)
    assert out.rdd.getNumPartitions() == len(units)
    assert [tuple(r) for r in out.withColumn("pid", F.spark_partition_id()).collect()] == [
        ("/d/a.x", None, None, 0),
        ("/d/w.x", 0, 1 << 40, 1),
        ("/d/w.x", None, None, 2),
        ("/d/b.x", None, None, 3),
    ]
    assert read_per_task(spark, [], schema, decode).collect() == []
