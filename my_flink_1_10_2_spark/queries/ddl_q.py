"""Driver-graded queries for the catalog / DDL surface.

Reference: flink-sql-parser/.../ddl/SqlCreateTable.java:293 (PARTITIONED
BY), flink-table-common/.../catalog/Catalog.java (partition SPI).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from my_flink_1_10_2_spark.queries import read, register


@register(
    "q_sql_ddl_partitioned",
    oracle="""
    SELECT o_orderpriority AS prio,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    ORDER BY prio
    """,
    category="ddl",
)
def q_sql_ddl_partitioned(spark, sf_dir):
    """CREATE TABLE ... PARTITIONED BY over a hive-layout parquet copy of
    orders, queried with a filter on the partition column (ref:
    SqlCreateTable.java:293; Catalog.java partition SPI).

    The filter on ``o_orderpriority`` must prune at the *directory* level
    — the plan carries PartitionFilters, so at 100 TB the scan lists and
    reads only the 2 matching partitions out of 5, never touching the
    other files.  Revenue is aggregated in integer cents so the result is
    exact under any partial-aggregation order.
    """
    from my_flink_1_10_2_spark.session import TableEnvironment

    work = tempfile.mkdtemp(prefix="fl_ddl_part_")
    try:
        (
            read(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(os.path.join(work, "orders_part"))
        )
        env = TableEnvironment(spark)
        env.execute_sql(
            f"""CREATE TABLE orders_part (
                  o_orderkey BIGINT,
                  o_totalprice DOUBLE,
                  o_orderpriority STRING
                ) PARTITIONED BY (o_orderpriority) WITH (
                  'connector' = 'filesystem',
                  'path' = '{os.path.join(work, "orders_part")}',
                  'format' = 'parquet'
                )"""
        )
        # partition discovery filed all 5 priorities in the catalog
        n_parts = env.execute_sql("SHOW PARTITIONS orders_part").count()
        assert n_parts == 5, f"expected 5 discovered partitions, got {n_parts}"
        result = env.sql_query(
            """
            SELECT o_orderpriority AS prio,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM orders_part
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
            GROUP BY o_orderpriority
            ORDER BY prio
            """
        ).df
        # materialize before the tempdir vanishes (same pattern as the
        # streaming registry queries)
        out = spark.createDataFrame(result.toArrow(), result.schema)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_sql_insert_select",
    oracle="""
    SELECT o_orderpriority AS prio,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY prio
    """,
    category="ddl",
)
def q_sql_insert_select(spark, sf_dir):
    """INSERT INTO a DDL-registered parquet sink, then read it back (ref:
    Flink 1.10 TableEnvironment.sqlUpdate("INSERT ...") + execute() →
    BatchExecSink; positional column matching with implicit casts).

    Exercises the full job cycle: CREATE TABLE (empty, schema-first) →
    buffered sqlUpdate INSERT → execute() → query the sink.  Integer
    cents keep the equality exact under any partial-agg order."""
    from my_flink_1_10_2_spark.session import TableEnvironment

    work = tempfile.mkdtemp(prefix="fl_insert_q_")
    try:
        env = TableEnvironment(spark)
        read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
        env.execute_sql(
            f"""CREATE TABLE prio_rollup (
                  prio STRING,
                  n_orders BIGINT,
                  revenue_cents BIGINT
                ) WITH (
                  'connector' = 'filesystem',
                  'path' = '{os.path.join(work, "prio_rollup")}',
                  'format' = 'parquet'
                )"""
        )
        env.sql_update(
            """INSERT INTO prio_rollup
               SELECT o_orderpriority,
                      count(*),
                      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               FROM orders
               GROUP BY o_orderpriority"""
        )
        env.execute("rollup_job")
        result = env.sql_query(
            "SELECT prio, n_orders, revenue_cents FROM prio_rollup ORDER BY prio"
        ).df
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_time_type_roundtrip",
    oracle="""
    WITH src AS (
      SELECT event_type,
             CAST((epoch_us(ts) % 86400000000) // 1000 AS INT) AS t_ms
      FROM events
    ),
    agg AS (
      SELECT event_type,
             count(CASE WHEN t_ms >= 43200000 THEN 1 END) AS n_pm,
             min(t_ms) AS min_ms, max(t_ms) AS max_ms
      FROM src GROUP BY event_type
    )
    SELECT event_type, n_pm, min_ms, max_ms,
           printf('%02d:%02d:%02d.%03d', min_ms // 3600000,
                  (min_ms // 60000) % 60, (min_ms // 1000) % 60,
                  min_ms % 1000) AS min_time,
           printf('%02d:%02d:%02d.%03d', max_ms // 3600000,
                  (max_ms // 60000) % 60, (max_ms // 1000) % 60,
                  max_ms % 1000) AS max_time,
           min_ms AS min_ms_reparsed
    FROM agg
    """,
    category="ddl",
)
def q_time_type_roundtrip(spark, sf_dir):
    """TIME(3) round trip (SURVEY §1.2 gap; ref: flink-table-common/
    .../types/logical/TimeType.java — internally millis-of-day int, the
    same mapping used here): a DDL table with a TIME column parses and
    loads, time-of-day values aggregate as plain ints, format to the
    TIME literal 'HH:MM:SS.fff', and the literal REPARSES to the exact
    millis (min_ms_reparsed comes from the string on the engine side,
    proving the literal mapping is lossless)."""
    from my_flink_1_10_2_spark.session import TableEnvironment
    from my_flink_1_10_2_spark.types import (
        millis_to_time_string,
        time_string_to_millis,
    )

    work = tempfile.mkdtemp(prefix="fl_time_rt_")
    try:
        (
            read(spark, sf_dir, "events")
            .select(
                "event_type",
                (
                    (
                        F.unix_micros(F.col("ts").cast("timestamp"))
                        % 86_400_000_000
                    )
                    / 1000
                )
                .cast("int")
                .alias("t_ms"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(work, "times"))
        )
        env = TableEnvironment(spark)
        env.execute_sql(
            f"""CREATE TABLE time_rt (
                  event_type STRING,
                  t_ms TIME(3)
                ) WITH (
                  'connector' = 'filesystem',
                  'path' = '{os.path.join(work, "times")}',
                  'format' = 'parquet'
                )"""
        )
        agg = (
            env.sql_query("SELECT event_type, t_ms FROM time_rt")
            .to_df()
            .groupBy("event_type")
            .agg(
                F.count(F.when(F.col("t_ms") >= 43_200_000, 1)).alias("n_pm"),
                F.min("t_ms").alias("min_ms"),
                F.max("t_ms").alias("max_ms"),
            )
        )
        out = agg.select(
            "event_type",
            "n_pm",
            "min_ms",
            "max_ms",
            millis_to_time_string("min_ms").alias("min_time"),
            millis_to_time_string("max_ms").alias("max_time"),
        ).withColumn(
            # the genuine round trip: string → millis must equal the int
            "min_ms_reparsed",
            time_string_to_millis("min_time"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_descriptor_csv_rollup",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS balance_cents
    FROM customer GROUP BY c_mktsegment
    """,
    category="ddl",
)
def q_descriptor_csv_rollup(spark, sf_dir):
    """The connect() descriptor API graded e2e (ref: flink-table-common
    descriptors/ — TableEnvironment.connect(FileSystem).withFormat(Csv)
    .withSchema(Schema): the canonical Flink 1.10 program-registration
    surface): customers export to pipe-delimited CSV, mount through the
    descriptor chain, and the SQL rollup over the mounted table must
    equal the parquet source."""
    from my_flink_1_10_2_spark.descriptors import FileSystem, OldCsv, Schema
    from my_flink_1_10_2_spark.session import TableEnvironment

    work = tempfile.mkdtemp(prefix="fl_desc_csv_")
    try:
        (
            read(spark, sf_dir, "customer")
            .select(
                "c_custkey",
                "c_mktsegment",
                F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
            )
            .write.mode("overwrite")
            .option("sep", "|")
            .option("header", False)
            .csv(os.path.join(work, "cust_csv"))
        )
        env = TableEnvironment(spark)
        (
            env.connect(FileSystem().path(os.path.join(work, "cust_csv")))
            .with_format(OldCsv().field_delimiter("|"))
            .with_schema(
                Schema()
                .field("c_custkey", "BIGINT")
                .field("c_mktsegment", "STRING")
                .field("cents", "BIGINT")
            )
            .create_temporary_table("cust_desc")
        )
        out = env.sql_query(
            """
            SELECT c_mktsegment AS segment,
                   count(*) AS n,
                   sum(cents) AS balance_cents
            FROM cust_desc GROUP BY c_mktsegment
            """
        ).to_df()
        out = out.select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            F.col("balance_cents").cast("bigint").alias("balance_cents"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
