"""Driver-graded queries for the State Processor API (ref:
flink-libraries/flink-state-processing-api/.../Savepoint.java,
ExistingSavepoint.java, NewSavepoint.java): offline reads of a live
streaming checkpoint's keyed state, and bootstrap-then-resume of an
engine-owned operator state — each graded against batch SQL.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from my_flink_1_10_2_spark.queries import read, register
from my_flink_1_10_2_spark.streaming.stream import StreamExecutionEnvironment


@register(
    "q_state_processor_keyed_read",
    oracle="""
    SELECT event_type AS k,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_e4
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    category="state_processor",
)
def q_state_processor_keyed_read(spark, sf_dir):
    """Savepoint keyed-state read (ref: ExistingSavepoint.readKeyedState
    + KeyedStateInputFormat.java): a real Structured Streaming
    aggregation replays the events table from files (availableNow,
    multi-batch) into a checkpoint, then the checkpoint's state backend
    is read OFFLINE as a DataFrame — one row per key, the accumulator
    values as columns, key-group-parallel (partition_id in the raw
    schema).  The state the backend holds after the final batch must
    equal the batch aggregate of the whole table, bitwise."""
    from my_flink_1_10_2_spark.streaming.state_processor import (
        read_keyed_state,
        read_state_metadata,
    )

    src = read(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )
    work = tempfile.mkdtemp(prefix="fl_stateproc_")
    try:
        src.repartition(4).write.mode("overwrite").parquet(f"{work}/in")
        stream = StreamExecutionEnvironment(spark).from_files(f"{work}/in", src.schema)
        agg = stream.df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_e4").alias("v_e4"),
        )
        q = (
            agg.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        meta = read_state_metadata(spark, f"{work}/ckpt")
        if meta.where(F.col("operatorName") == "stateStoreSave").count() != 1:
            raise ValueError("expected one stateful operator in the checkpoint")
        state = read_keyed_state(spark, f"{work}/ckpt", operator_id=0)
        # value struct fields are the agg buffer slots in agg order
        key_col, cnt_col, sum_col = state.columns[:3]
        return (
            state.select(
                F.col(key_col).alias("k"),
                F.col(cnt_col).cast("bigint").alias("n_events"),
                F.col(sum_col).cast("bigint").alias("v_e4"),
            )
            .orderBy("k")
            .localCheckpoint()  # materialize before the tempdir vanishes
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_state_bootstrap_resume",
    oracle="""
    SELECT o.o_orderkey AS okey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c,
           c.c_custkey AS ckey, c.c_name AS cname
    FROM (SELECT * FROM orders WHERE o_orderkey % 50 = 0) o
    JOIN (SELECT * FROM customer WHERE c_custkey % 5 = 0) c
      ON o.o_custkey = c.c_custkey
    WHERE NOT (o.o_orderkey % 100 = 0 AND c.c_custkey % 10 = 0)
    """,
    category="state_processor",
)
def q_state_bootstrap_resume(spark, sf_dir):
    """Savepoint bootstrap + resume (ref: NewSavepoint /
    BootstrapTransformation.java: build operator state OFFLINE so the
    streaming job starts from it without replaying history): the
    retraction join's left/right StateDirs are seeded from batch
    "historical" slices (orderkey%100=0 / custkey%10=0), then ONLY the
    remaining rows stream through the join.  Bootstrapped state
    produces no output (exactly the reference's savepoint semantics) —
    the changelog therefore materializes to the full join MINUS the
    history×history pairs, which is what the oracle states.  Grades
    that seeded state both matches new stream rows and suppresses
    duplicate emission."""
    from my_flink_1_10_2_spark.streaming.retraction_join import CHANGE_COL
    from my_flink_1_10_2_spark.streaming.state_processor import (
        bootstrap_operator_state,
    )

    left = (
        read(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_custkey").alias("l_ck"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        )
    )
    right = (
        read(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select(F.col("c_custkey").alias("ckey"), F.col("c_name").alias("cname"))
    )
    hist_l = left.where(F.col("okey") % 100 == 0)
    live_l = left.where(F.col("okey") % 100 != 0)
    hist_r = right.where(F.col("ckey") % 10 == 0)
    live_r = right.where(F.col("ckey") % 10 != 0)

    work = tempfile.mkdtemp(prefix="fl_bootstrap_q_")
    try:
        state_dir = f"{work}/state"
        bootstrap_operator_state(hist_l, f"{state_dir}/left")
        bootstrap_operator_state(hist_r, f"{state_dir}/right")

        live_l.repartition(2).write.mode("overwrite").parquet(f"{work}/l")
        live_r.repartition(2).write.mode("overwrite").parquet(f"{work}/r")
        env = StreamExecutionEnvironment(spark)
        ls = env.from_files(f"{work}/l", left.schema, max_files_per_trigger=1)
        rs = env.from_files(f"{work}/r", right.schema, max_files_per_trigger=1)

        out_cols = left.columns + right.columns
        log_dir = f"{work}/changelog"

        def sink(batch_df, _bid):
            (
                batch_df.withColumn(
                    "__w",
                    F.when(F.col(CHANGE_COL) == "+I", F.lit(1)).otherwise(
                        F.lit(-1)
                    ),
                )
                .drop(CHANGE_COL)
                .write.mode("append")
                .parquet(log_dir)
            )

        rj = ls.retract_join(rs, on=[("l_ck", "ckey")], how="inner",
                             state_dir=state_dir)
        rj.run(sink)

        mult = (
            spark.read.parquet(log_dir)
            .groupBy(*out_cols)
            .agg(F.sum("__w").alias("__n"))
        )
        result = (
            mult.where(F.col("__n") > 0)
            .withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("__n"))))
            .drop("__i", "__n")
        )
        return result.select("okey", "price_c", "ckey", "cname").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
