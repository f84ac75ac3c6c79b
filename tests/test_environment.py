"""ExecutionEnvironment — the DataSet program entry (ref:
flink-java ExecutionEnvironment.java: getExecutionEnvironment,
fromCollection:647, readTextFile:438, setParallelism:263,
registerCachedFile:1003 + DistributedCache.getFile).
"""

from __future__ import annotations

from my_flink_1_10_2_spark.environment import ExecutionEnvironment


def test_sources_and_parallelism(spark, tmp_path):
    env = ExecutionEnvironment.get_execution_environment(spark)
    t = env.from_collection([(1, "a"), (2, "b")], "id long, s string")
    assert t.count() == 2

    p = tmp_path / "lines.txt"
    p.write_text("x\ny\nz\n")
    assert env.read_text_file(str(p)).count() == 3

    csv = tmp_path / "rows.csv"
    csv.write_text("id,s\n1,a\n2,b\n")
    assert env.read_csv_file(str(csv), header=True).count() == 2

    old = env.get_parallelism()
    try:
        env.set_parallelism(7)
        assert env.get_parallelism() == 7
        # the conf is the one reduce-side stages read (AQE may still
        # coalesce small shuffles below it, which is the desired
        # at-scale behavior)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        env.set_parallelism(old)


def test_shuffle_partitions_default_to_task_slots(spark):
    """The session's shuffle (and new-checkpoint state) partition count
    is its task slot count — N for local[N] — not a fixed constant, as
    the reference splits keyed state into the job's parallelism."""
    slots = spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(slots)
    assert ExecutionEnvironment(spark).get_parallelism() == slots


def test_distributed_cache_reaches_executors(spark, tmp_path):
    lookup = tmp_path / "lookup.txt"
    lookup.write_text("ONE\nTWO\nTHREE\n")
    env = ExecutionEnvironment(spark)
    env.register_cached_file(str(lookup), "words")
    resolve = env.cached_file_resolver("words")

    def attach(it):
        with open(resolve()) as fh:
            words = [w.strip() for w in fh]
        for row in it:
            yield (row.id, words[row.id % len(words)])

    out = dict(
        spark.range(6).rdd.mapPartitions(attach).collect()
    )
    assert out[0] == "ONE" and out[4] == "TWO"
    # driver-side resolution works too
    assert env.get_cached_file("words").endswith("lookup.txt")


def test_environment_accumulators(spark):
    env = ExecutionEnvironment(spark)
    c = env.accumulators.int_counter("seen")

    def count(it):
        for row in it:
            c.add(1)
        return iter(())

    spark.range(42).rdd.mapPartitions(count).count()
    assert env.accumulators.result_map()["seen"] == 42
