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

    def decode(path, lo, hi):
        return pd.DataFrame({"path": [path], "lo": [lo], "hi": [hi]})

    schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("lo", T.LongType()),
        T.StructField("hi", T.LongType()),
    ])
    units = [("/d/shard-000007.x", 1, 2), ("/d/shard-000002.x", 3, 4)]
    out = read_per_task(spark, units, schema, decode, shard_col="shard")
    assert [tuple(r) for r in out.withColumn("pid", F.spark_partition_id()).collect()] == [
        ("/d/shard-000007.x", 1, 2, 7, 0),
        ("/d/shard-000002.x", 3, 4, 2, 1),
    ]
    units = [("/d/a.x", None, None), ("/d/w.x", 0, 1 << 40), ("/d/w.x", None, None), ("/d/b.x", 5, 6)]
    out = read_per_task(spark, units, schema, decode)
    assert out.rdd.getNumPartitions() == len(units)
    assert [tuple(r) for r in out.withColumn("pid", F.spark_partition_id()).collect()] == [
        ("/d/a.x", None, None, 0),
        ("/d/w.x", 0, 1 << 40, 1),
        ("/d/w.x", None, None, 2),
        ("/d/b.x", 5, 6, 3),
    ]
    assert read_per_task(spark, [], schema, decode).collect() == []


def test_read_per_task_streams_row_lists_exactly(spark):
    from pyspark.sql import types as T

    from my_flink_1_10_2_spark.sources.sharding import row_chunks

    def drain(n):
        return row_chunks((i, float("nan") if i % 2 else i / 4) for i in range(n))

    # 2500 rows stream through the kernel as three row lists
    n = 2500
    schema = T.StructType.fromDDL("i long, x double")
    out = read_per_task(spark, [(n,), (0,)], schema, drain)
    rows = out.withColumn("pid", F.spark_partition_id()).collect()
    assert [(r.i, r.pid) for r in rows] == [(i, 0) for i in range(n)]
    # a NaN stays NaN (not NULL) on the row-tuple path
    assert [r.x for r in rows][0::2] == [i / 4 for i in range(0, n, 2)]
    assert all(r.x != r.x for r in rows[1::2])
