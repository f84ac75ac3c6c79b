"""Driver-graded queries for streaming-only operators.

These run a real Structured Streaming job inside the query function and
return the materialized result, so a DuckDB oracle can grade operators
whose semantics are streaming (changelogs, retractions) against the
equivalent batch SQL.  Ordered replays go through
``StreamExecutionEnvironment.from_waves``, one micro-batch per wave.

Reference: StreamingJoinOperator.java:37 (unbounded join + retractions),
RetractStreamTableSink semantics (BaseRow.java:40-47).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from my_flink_1_10_2_spark.queries import read, register
from my_flink_1_10_2_spark.sources.streaming import memory_sink, streaming_file_sink
from my_flink_1_10_2_spark.streaming.stream import Stream, StreamExecutionEnvironment

_WEEK_US = 7 * 86_400 * 1_000_000


def _epoch_wave(ts_col: str = "ts"):
    """Replay-wave key: ABSOLUTE epoch-week index (epoch_us DIV week_us,
    exact integer division — a double division would lose bits above
    2^52).  A day-of-month DIV 7 key is only event-time-ordered while
    the fixture spans one calendar month; the absolute key stays ordered
    for any span.  Staging iterates the sorted DISTINCT values, so the
    arbitrary epoch offset and the wave COUNT are both data-derived."""
    return F.expr(
        f"CAST(unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV {_WEEK_US} AS INT)"
    )


def _distinct_waves(src) -> list[int]:
    return sorted(r[0] for r in src.select("__wave").distinct().collect())


def _week_waves(src, weeks=None):
    """``src`` split on its ``__wave`` column, one DataFrame per epoch
    week of ``weeks`` (default: every week in ``src``) in event-time
    order, ``__wave`` dropped."""
    return [
        src.where(F.col("__wave") == w).drop("__wave")
        for w in (weeks if weeks is not None else _distinct_waves(src))
    ]


_FAR_US = 1_720_000_000_000_000  # an event time past every fixture row


def _click_purchase_streams(spark, sf_dir, work, sentinel=False):
    """Clicks and purchases among the first 3000 events, each side
    replayed over the same epoch weeks (a side may get empty waves),
    watermarked at 1 hour and its columns prefixed ``c_`` / ``p_``.
    ``sentinel`` ends each side with a far-future row: it advances that
    side's watermark far enough to close every pending window on the
    OTHER side."""
    src = (
        read(spark, sf_dir, "events")
        .where("event_id < 3000")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("te"),
            "event_type",
            _epoch_wave("ts").alias("__wave"),
        )
    )
    env = StreamExecutionEnvironment(spark)
    weeks = _distinct_waves(src)
    sides = []
    for side in ("click", "purchase"):
        waves = _week_waves(src.where(F.col("event_type") == side).drop("event_type"), weeks)
        if sentinel:
            waves.append(
                spark.createDataFrame(
                    [(-1, -1, _FAR_US)], "event_id long, user_id long, te long"
                ).withColumn("ts", F.timestamp_micros("te"))
            )
        s = env.from_waves(waves, f"{work}/replay_{side}").with_watermark("ts", "1 hour")
        sides.append(
            s.df.select(*[F.col(c).alias(f"{side[0]}_{c}") for c in ("event_id", "user_id", "ts", "te")])
        )
    return sides


_TS_BOUNDS = ["2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-02-01"]


def _ts_waves(src):
    """``src`` split into the four fixed ``ts`` ranges of ``_TS_BOUNDS``."""
    return [
        src.where((F.col("ts") >= lo) & (F.col("ts") < hi))
        for lo, hi in zip(_TS_BOUNDS, _TS_BOUNDS[1:])
    ]


@register(
    "q_retract_join_materialized",
    oracle="""
    SELECT o.o_orderkey AS okey, o.o_totalprice AS price,
           c.c_custkey AS ckey, c.c_name AS cname
    FROM (SELECT * FROM orders WHERE o_orderkey % 100 < 2) o
    LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 10 = 0) c
      ON o.o_custkey = c.c_custkey
    """,
    category="streaming",
)
def q_retract_join_materialized(spark, sf_dir):
    """Unbounded stream-stream LEFT join with retractions (ref:
    StreamingJoinOperator.java:37), replayed from files in micro-batches;
    the +I/-D changelog is applied to a multiset and must materialize to
    exactly the batch LEFT JOIN.

    The changelog materialization is fully distributed — this is the
    pattern to copy at 100 TB: each micro-batch appends its ±1-weighted
    rows to a parquet changelog sink (no driver collect), and the final
    table is groupBy(all columns).sum(weight) with the multiset expanded
    back by explode(sequence(1, n)) — one hash shuffle on the output
    key, never a byte through the driver."""
    from my_flink_1_10_2_spark.streaming.retraction_join import CHANGE_COL

    left = (
        read(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 < 2)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_custkey").alias("l_ck"),
            F.col("o_totalprice").alias("price"),
        )
    )
    right = (
        read(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(F.col("c_custkey").alias("ckey"), F.col("c_name").alias("cname"))
    )

    work = tempfile.mkdtemp(prefix="fl_rjoin_q_")
    try:
        left.repartition(3).write.mode("overwrite").parquet(f"{work}/l")
        right.repartition(3).write.mode("overwrite").parquet(f"{work}/r")
        env = StreamExecutionEnvironment(spark)
        ls = env.from_files(f"{work}/l", left.schema, max_files_per_trigger=1)
        rs = env.from_files(f"{work}/r", right.schema, max_files_per_trigger=1)

        out_fields = [f for f in left.schema.fields] + [
            f for f in right.schema.fields
        ]
        out_cols = [f.name for f in out_fields]
        log_dir = f"{work}/changelog"

        def sink(batch_df, _bid):
            # distributed per-batch append: +I rows weigh +1, -D rows -1
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

        rj = ls.retract_join(rs, on=[("l_ck", "ckey")], how="left")
        try:
            rj.run(sink)
        finally:
            rj.cleanup()

        mult = (
            spark.read.parquet(log_dir)
            .groupBy(*out_cols)
            .agg(F.sum("__w").alias("__n"))
        )
        assert (
            mult.where(F.col("__n") < 0).limit(1).count() == 0
        ), "negative multiplicity in changelog"
        result = (
            mult.where(F.col("__n") > 0)
            .withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("__n"))))
            .drop("__i", "__n")
        )
        # materialize distributedly before the tempdir vanishes: the
        # eager localCheckpoint pins the blocks executor-side and cuts
        # lineage to the temp parquet — no rows through the driver
        return result.select("okey", "price", "ckey", "cname").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_stream_iterate",
    oracle="""
    SELECT event_id,
           vi - 97 * ((vi + 96) // 97) AS residue
    FROM (
      SELECT event_id, CAST(ceil(value) AS BIGINT) AS vi
      FROM events WHERE event_id % 200 = 0
    )
    """,
    category="streaming",
)
def q_stream_iterate(spark, sf_dir):
    """Streaming iteration fixpoint (ref: DataStream.iterate()
    DataStream.java:534, IterativeStream.java; the reference's
    IterateExample decrements until the value leaves the loop).

    Events are replayed as micro-batches; each batch loops through the
    feedback edge subtracting 97 until the value turns non-positive, and
    exiting rows append to a distributed parquet sink.  The oracle is the
    closed form of that loop — ``vi - 97*ceil(vi/97)`` in pure integer
    arithmetic, so repeated subtraction and the one-shot formula agree
    bitwise.  All loop work is distributed DataFrame ops; exits append to
    parquet, never the driver.
    """
    src = (
        read(spark, sf_dir, "events")
        .filter(F.col("event_id") % 200 == 0)
        .select(
            "event_id", F.ceil("value").cast("bigint").alias("vi")
        )
    )
    work = tempfile.mkdtemp(prefix="fl_iter_q_")
    try:
        src.repartition(2).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        stream = env.from_files(f"{work}/src", src.schema, max_files_per_trigger=1)

        out_dir = f"{work}/exits"

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out_dir)

        stream.iterate(
            step=lambda df: df.withColumn("vi", F.col("vi") - F.lit(97)),
            feedback_predicate="vi > 0",
            emit_fn=sink,
            max_iterations=16,
        )
        result = spark.read.parquet(out_dir).select(
            "event_id", F.col("vi").alias("residue")
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_lookup_join_stream",
    oracle="""
    SELECT o.o_orderkey AS okey,
           c.c_name AS cname,
           n.n_name AS nname
    FROM (SELECT * FROM orders WHERE o_orderkey % 100 < 2) o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_acctbal > 0
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    category="streaming",
)
def q_lookup_join_stream(spark, sf_dir):
    """Streaming lookup join (ref: LookupableTableSource.java,
    LookupJoinITCase.scala): each micro-batch of the probe stream is
    enriched against a static dimension with a broadcast hash join — the
    Spark spelling of the reference's per-record lookup with an LRU cache.

    The dimension (customer⋈nation, filtered) is size-gated broadcast
    (operators/hints.dim), so at 100 TB an oversized dim degrades to a
    shuffle join instead of an executor OOM.  Batch exits append to
    parquet — nothing through the driver.
    """
    probe = (
        read(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 < 2)
        .select(F.col("o_orderkey").alias("okey"), F.col("o_custkey").alias("ck"))
    )
    dim_df = (
        read(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .join(
            read(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .select(
            F.col("c_custkey").alias("ck_dim"),
            F.col("c_name").alias("cname"),
            F.col("n_name").alias("nname"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_lkp_q_")
    try:
        probe.repartition(3).write.mode("overwrite").parquet(f"{work}/probe")
        env = StreamExecutionEnvironment(spark)
        stream = env.from_files(f"{work}/probe", probe.schema, max_files_per_trigger=1)
        out_dir = f"{work}/out"
        enriched = stream.lookup_join(
            dim_df, on=F.col("ck") == F.col("ck_dim"), how="left"
        )
        enriched.for_each_batch(
            lambda bdf, _bid: bdf.select("okey", "cname", "nname")
            .write.mode("append")
            .parquet(out_dir)
        )
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_side_output_split",
    oracle="""
    SELECT tag, count(*) AS n,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
    FROM (
      SELECT CASE WHEN event_type = 'purchase' THEN 'main' ELSE 'side' END AS tag,
             value
      FROM events WHERE event_id % 20 = 0
    )
    GROUP BY tag
    ORDER BY tag
    """,
    category="streaming",
)
def q_side_output_split(spark, sf_dir):
    """Side outputs (ref: DataStream.getSideOutput / OutputTag.java,
    ProcessFunction.Context.output): one pass over the stream routes
    purchase events to the main output and everything else to the tagged
    side output, each landing in its own sink.

    Spark spelling: the micro-batch is persisted once and filter-split —
    the two sinks share a single scan per batch (the reference's
    one-pass guarantee).  Values aggregate in integer 1e-4 units so the
    final rollup is exact under any partial-agg order.
    """
    src = (
        read(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "event_type", "value")
    )
    work = tempfile.mkdtemp(prefix="fl_sideout_q_")
    try:
        src.repartition(3).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        stream = env.from_files(f"{work}/src", src.schema, max_files_per_trigger=1)
        main_dir, side_dir = f"{work}/main", f"{work}/side"

        def sink(batch_df, _bid):
            batch_df = batch_df.persist()
            try:
                batch_df.filter(F.col("event_type") == "purchase").write.mode(
                    "append"
                ).parquet(main_dir)
                batch_df.filter(F.col("event_type") != "purchase").write.mode(
                    "append"
                ).parquet(side_dir)
            finally:
                batch_df.unpersist()

        stream.for_each_batch(sink)

        def rollup(path, tag):
            return (
                spark.read.parquet(path)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias(
                        "sum_value_e4"
                    ),
                )
                .select(F.lit(tag).alias("tag"), "n", "sum_value_e4")
            )

        result = rollup(main_dir, "main").unionAll(rollup(side_dir, "side")).orderBy("tag")
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_connected_streams_comap",
    oracle="""
    SELECT event_id, amount
    FROM (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS amount
      FROM events WHERE event_id % 40 = 0
      UNION ALL
      SELECT o_orderkey AS event_id,
             CAST(round(o_totalprice * -100) AS BIGINT) AS amount
      FROM orders WHERE o_orderkey % 200 = 0
    )
    """,
    category="streaming",
)
def q_connected_streams_comap(spark, sf_dir):
    """ConnectedStreams CoMap (ref: ConnectedStreams.java:1 map(map1,
    map2), DataStream.connect:257): two differently-typed streams share
    one downstream operator; each element is transformed by its side's
    map function (credits scaled +, debits scaled −) into a common shape.

    The Spark spelling tags each side, unions by name, and applies the
    per-side expression in one pass — a single streaming DAG, one sink,
    no state (integer cents keep the oracle exact)."""
    credits = (
        read(spark, sf_dir, "events")
        .filter(F.col("event_id") % 40 == 0)
        .select("event_id", F.col("value").alias("raw"))
    )
    debits = (
        read(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 200 == 0)
        .select(F.col("o_orderkey").alias("event_id"), F.col("o_totalprice").alias("raw"))
    )
    work = tempfile.mkdtemp(prefix="fl_comap_q_")
    try:
        credits.repartition(2).write.mode("overwrite").parquet(f"{work}/a")
        debits.repartition(2).write.mode("overwrite").parquet(f"{work}/b")
        env = StreamExecutionEnvironment(spark)
        sa = env.from_files(f"{work}/a", credits.schema, max_files_per_trigger=1)
        sb = env.from_files(f"{work}/b", debits.schema, max_files_per_trigger=1)
        out = sa.connect(sb).map(
            fn_first=F.round(F.col("raw") * 100).cast("bigint"),
            fn_second=F.round(F.col("raw") * -100).cast("bigint"),
        )
        out_dir = f"{work}/out"
        out.for_each_batch(
            lambda bdf, _bid: bdf.select(
                "event_id", F.col("co_mapped").alias("amount")
            )
            .write.mode("append")
            .parquet(out_dir)
        )
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_streaming_file_sink",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
    FROM events
    WHERE event_id % 10 = 0
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="streaming",
)
def q_streaming_file_sink(spark, sf_dir):
    """Exactly-once streaming file sink (ref: StreamingFileSink.java —
    pending→committed part-file lifecycle): the stream lands in a parquet
    directory whose ``_spark_metadata`` WAL lists only committed files,
    and the read-back must equal the batch truth exactly.

    The read back goes through the same committed-file manifest a
    downstream Spark job would use, so a torn/uncommitted part file can
    never leak into the result — the reference's exactly-once file
    guarantee, graded by the oracle."""
    src = (
        read(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select("event_id", "event_type", "value")
    )
    work = tempfile.mkdtemp(prefix="fl_fsink_q_")
    try:
        src.repartition(3).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        stream = env.from_files(f"{work}/src", src.schema, max_files_per_trigger=1)
        q = streaming_file_sink(
            stream.df,
            f"{work}/sink",
            checkpoint=f"{work}/ckpt",
            available_now=True,
        )
        q.awaitTermination()
        result = (
            spark.read.parquet(f"{work}/sink")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias(
                    "sum_value_e4"
                ),
            )
            .orderBy("event_type")
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_broadcast_state_threshold",
    oracle="""
    SELECT e.event_type, count(*) AS n
    FROM events e
    WHERE e.event_id % 10 = 0
      AND e.event_type NOT IN (
        SELECT event_type FROM events GROUP BY event_type
        HAVING sum(CAST(round(value * 100) AS BIGINT)) >
               (SELECT sum(CAST(round(value * 100) AS BIGINT)) FROM events) / 4
      )
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    category="streaming",
)
def q_broadcast_state_threshold(spark, sf_dir):
    """Broadcast state pattern (ref: DataStream.broadcast(stateDesc):430,
    BroadcastConnectedStream.java): a tiny control relation (event types
    whose total integer-cents revenue exceeds a quarter of the corpus) is
    folded into driver-held broadcast state, and every data micro-batch
    is filtered against the latest state.

    The control side stays O(#event_types) — broadcast-small by
    contract; the data side never shuffles (per-batch filter only)."""
    events = read(spark, sf_dir, "events")
    control = (
        events.groupBy("event_type")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("rev"))
        .withColumn(
            "blocked",
            F.col("rev")
            > F.lit(
                events.agg(
                    F.sum(F.round(F.col("value") * 100).cast("bigint"))
                ).first()[0]
                // 4
            ),
        )
        .filter("blocked")
        .select("event_type")
    )
    src = events.filter(F.col("event_id") % 10 == 0).select(
        "event_id", "event_type"
    )
    work = tempfile.mkdtemp(prefix="fl_bcast_q_")
    try:
        src.repartition(3).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        stream = env.from_files(f"{work}/src", src.schema, max_files_per_trigger=1)
        out_dir = f"{work}/out"

        def fold(state: dict, control_df) -> dict:
            return {r.event_type for r in control_df.collect()}

        def fn(batch_df, blocked: set, _bid):
            keep = batch_df.filter(~F.col("event_type").isin(list(blocked) or [""]))
            keep.write.mode("append").parquet(out_dir)

        stream.connect_broadcast(control, fold).process(fn)
        result = (
            spark.read.parquet(out_dir)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("event_type")
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_queryable_state",
    oracle="""
    SELECT user_id,
           count(*) AS cnt,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS total_e4
    FROM events
    WHERE event_id % 5 = 0
    GROUP BY user_id
    ORDER BY user_id
    """,
    category="streaming",
)
def q_queryable_state(spark, sf_dir):
    """Queryable state (ref: KeyedStream.asQueryableState:1005,
    flink-queryable-state/): the latest per-key streaming aggregate is
    exposed for point lookups; once the replay drains, the queryable
    snapshot must equal the batch aggregate exactly (integer 1e-4 units
    keep the sum order-insensitive).

    The snapshot read is the whole state table (complete-mode sink);
    point lookups against it are tested in tests/test_streaming.py."""
    src = (
        read(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "user_id", F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"))
    )
    work = tempfile.mkdtemp(prefix="fl_qstate_q_")
    try:
        src.repartition(3).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        keyed = env.from_files(
            f"{work}/src", src.schema, max_files_per_trigger=1
        ).key_by("user_id")
        handle = keyed.as_queryable_state(
            "q_qstate_reg",
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v_e4").alias("total_e4"),
        )
        try:
            handle.query.processAllAvailable()
            snap = handle.snapshot().orderBy("user_id")
            return spark.createDataFrame(snap.toArrow(), snap.schema)
        finally:
            handle.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_upsert_snapshot",
    oracle="""
    WITH log AS (
      SELECT o_custkey AS cust, o_orderkey AS version,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS price, o_orderdate AS odate
      FROM orders),
    latest AS (
      SELECT cust, version, op, price, odate,
             row_number() OVER (PARTITION BY cust ORDER BY version DESC) AS rn
      FROM log)
    SELECT cust, version, price, odate
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    category="streaming",
)
def q_upsert_snapshot(spark, sf_dir):
    """Upsert-changelog materialization (ref: UpsertStreamTableSink.java
    — keyed upsert/delete messages, latest-per-key wins, trailing delete
    removes the key).  The changelog derives deterministically from
    `orders`: key = o_custkey, version = o_orderkey, every 7th order is
    a delete.  One window shuffle on the key — the scale-safe MERGE
    pattern."""
    from my_flink_1_10_2_spark.operators.upsert import upsert_materialize

    log = read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("odate"),
    )
    return upsert_materialize(log, keys=["cust"], order_col="version")


@register(
    "q_table_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 5 <> 0),
    new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 3 = 0
                  THEN CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT) * 11 / 10.0) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_c,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 7 <> 0)
    SELECT COALESCE(o.k, n.k) AS k,
           CASE WHEN o.k IS NULL THEN 'I'
                WHEN n.k IS NULL THEN 'D'
                WHEN o.price_c IS DISTINCT FROM n.price_c
                  OR o.status IS DISTINCT FROM n.status THEN 'U' END AS op,
           o.price_c AS old_price_c, o.status AS old_status,
           n.price_c AS new_price_c, n.status AS new_status
    FROM old o FULL JOIN new n ON o.k = n.k
    WHERE (CASE WHEN o.k IS NULL THEN 'I'
                WHEN n.k IS NULL THEN 'D'
                WHEN o.price_c IS DISTINCT FROM n.price_c
                  OR o.status IS DISTINCT FROM n.status THEN 'U' END) IS NOT NULL
    """,
    category="streaming",
)
def q_table_diff(spark, sf_dir):
    """Snapshot diff -> changelog (the inverse of upsert materialization;
    ref: toRetractStream semantics): one full-outer hash join on the key
    classifies every key as I / D / U, unchanged keys drop out.  Old =
    orders minus every 5th key; new = orders minus every 7th key with a
    10% price bump on every 3rd.  Prices ride in integer cents (the
    repo's integer-unit float discipline) so the bump arithmetic is
    engine-exact."""
    from my_flink_1_10_2_spark.operators.upsert import table_diff

    base = read(spark, sf_dir, "orders").withColumn(
        "price_c", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    old = base.where(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"),
        "price_c",
        F.col("o_orderstatus").alias("status"),
    )
    new = base.where(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.floor(F.col("price_c") * 11 / 10.0).cast("bigint"),
        )
        .otherwise(F.col("price_c"))
        .alias("price_c"),
        F.col("o_orderstatus").alias("status"),
    )
    return table_diff(old, new, keys=["k"])


@register(
    "q_upsert_stream_materialized",
    oracle="""
    WITH log AS (
      SELECT o_custkey AS cust, o_orderkey AS version,
             CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS price
      FROM orders WHERE o_custkey % 3 = 0),
    latest AS (
      SELECT cust, version, op, price,
             row_number() OVER (PARTITION BY cust ORDER BY version DESC) AS rn
      FROM log)
    SELECT cust, version, price
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    category="streaming",
)
def q_upsert_stream_materialized(spark, sf_dir):
    """STREAMING upsert sink (ref: UpsertStreamTableSink.java): the
    changelog replays through Structured Streaming micro-batches and a
    foreachBatch sink maintains the keyed snapshot incrementally —
    collapse the batch to its latest message per key, anti-join out the
    replaced/deleted keys, union the upserts, swap snapshot versions
    (ping-pong parquet dirs; at scale the same shape lands on any
    atomically-swappable table format).  The converged snapshot must
    equal the batch window formulation exactly.

    Versions are assigned so later micro-batches carry strictly later
    versions (replay order = version order, the reference's assumption
    for ordered upsert streams)."""
    from my_flink_1_10_2_spark.operators.upsert import (
        apply_upsert_batch,
        collapse_batch,
    )

    log = (
        read(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 3 == 0)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("version"),
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("o_totalprice").alias("price"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_upsert_stream_")
    try:
        # split by version so replay order == version order
        bounds = [0, 3000, 6000, 9000, 12000, 10**9]
        stream = StreamExecutionEnvironment(spark).from_waves(
            [
                log.where((F.col("version") >= lo) & (F.col("version") < hi))
                for lo, hi in zip(bounds, bounds[1:])
            ],
            f"{work}/replay",
        )
        snap_dirs = [f"{work}/snap_a", f"{work}/snap_b"]
        state = {"cur": None, "flip": 0}

        def sink(batch_df, _bid):
            if batch_df.isEmpty():
                return
            b = collapse_batch(batch_df, ["cust"], "version")
            if state["cur"] is None:
                snapshot = spark.createDataFrame(
                    [], "cust bigint, version bigint, price double"
                )
            else:
                snapshot = spark.read.parquet(state["cur"])
            new_snap = apply_upsert_batch(snapshot, b, ["cust"])
            target = snap_dirs[state["flip"]]
            new_snap.write.mode("overwrite").parquet(target)
            state["cur"], state["flip"] = target, 1 - state["flip"]

        stream.for_each_batch(sink, f"{work}/ckpt")
        result = spark.read.parquet(state["cur"])
        return result.select("cust", "version", "price").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_topn_stream_materialized",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id,
             CAST(round(value * 10000) AS BIGINT) * 10000000 + event_id AS ord
      FROM events WHERE user_id % 7 = 0),
    ranked AS (
      SELECT user_id, event_id, ord,
             row_number() OVER (PARTITION BY user_id ORDER BY ord DESC) AS rank
      FROM src)
    SELECT user_id, CAST(rank AS INT) AS rank, event_id, ord
    FROM ranked WHERE rank <= 3
    """,
    category="streaming",
)
def q_topn_stream_materialized(spark, sf_dir):
    """Incremental streaming Top-N (ref: StreamExecRank.scala AppendFast
    / AppendOnlyTopNFunction.java:222): per-key O(n) buffers refresh
    across micro-batches; the materialized final snapshot (each key's
    last emission) must equal the batch row_number top-3.  The order
    key folds the value and the unique event id into one bigint, so the
    top-3 set is replay-order-independent and tie-free."""
    src = (
        read(spark, sf_dir, "events")
        .where(F.col("user_id") % 7 == 0)
        .select(
            "user_id",
            "event_id",
            (
                F.round(F.col("value") * 10000).cast("bigint") * F.lit(10000000)
                + F.col("event_id")
            ).alias("ord"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_topn_stream_")
    try:
        src.repartition(4).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        stream = (
            env.from_files(f"{work}/src", src.schema, max_files_per_trigger=1)
            .key_by("user_id")
            .top_n(3, "ord")
        )
        out_dir = f"{work}/emissions"

        def sink(batch_df, bid):
            (
                batch_df.withColumn("__bid", F.lit(bid))
                .write.mode("append")
                .parquet(out_dir)
            )

        stream.for_each_batch(sink, f"{work}/ckpt")
        em = spark.read.parquet(out_dir)
        from pyspark.sql import Window

        last = Window.partitionBy("user_id")
        final = (
            em.withColumn("__mx", F.max("__bid").over(last))
            .where(F.col("__bid") == F.col("__mx"))
            .select("user_id", "rank", "event_id", "ord")
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_broadcast_state_filter",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_id % 3 = 0
      AND event_type NOT IN ('click', 'view')
    """,
    category="streaming",
)
def q_broadcast_state_filter(spark, sf_dir):
    """Broadcast state pattern end-to-end (ref: DataStream.broadcast
    (stateDesc):430, BroadcastConnectedStream.java:1): a tiny control
    relation (blocked event types) folds into broadcast state; every
    data micro-batch filters against the state and appends survivors to
    a distributed sink.  The materialized union of batches must equal
    the static filter."""
    from my_flink_1_10_2_spark.streaming.stream import BroadcastConnectedStream

    data = (
        read(spark, sf_dir, "events")
        .where(F.col("event_id") % 3 == 0)
        .select("event_id", "user_id", "event_type")
    )
    control = spark.createDataFrame(
        [("click",), ("view",)], "blocked_type string"
    )
    work = tempfile.mkdtemp(prefix="fl_bcast_q_")
    try:
        data.repartition(3).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        stream = env.from_files(f"{work}/src", data.schema, max_files_per_trigger=1)

        def fold(state, control_df):
            new = dict(state)
            new.setdefault("blocked", set()).update(
                r["blocked_type"] for r in control_df.collect()
            )
            return new

        out_dir = f"{work}/out"

        def process(batch_df, state, _bid):
            blocked = sorted(state.get("blocked", ()))
            (
                batch_df.where(~F.col("event_type").isin(blocked))
                .write.mode("append")
                .parquet(out_dir)
            )

        bcs = BroadcastConnectedStream(stream, control, fold)
        q = bcs.process(process, checkpoint=f"{work}/ckpt")
        q.awaitTermination()
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_late_side_output",
    oracle="""
    WITH ns AS (
      SELECT max(ts) AS mx FROM events WHERE event_id % 13 <> 0)
    SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
    FROM events, ns
    WHERE event_id % 13 = 0 AND ts < mx - INTERVAL 1 HOUR
    """,
    category="streaming",
)
def q_late_side_output(spark, sf_dir):
    """allowedLateness + sideOutputLateData end-to-end (ref:
    WindowedStream.java:158,177): on-time traffic replays in event-time
    order, then a final straggler file arrives; rows older than the
    event-time high-water mark minus the 1-hour allowance are routed to
    the late side sink instead of silently dropping.  The materialized
    side output must equal the closed-form rule (straggler AND ts <
    max-on-time-ts - 1h)."""
    src = read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    straggler = F.col("event_id") % 13 == 0
    work = tempfile.mkdtemp(prefix="fl_late_q_")
    try:
        stream = StreamExecutionEnvironment(spark).from_waves(
            _ts_waves(src.where(~straggler)) + [src.where(straggler)],
            f"{work}/replay",
        )
        late_dir, main_dir = f"{work}/late", f"{work}/main"

        def on_time(batch_df, _bid):
            batch_df.write.mode("append").parquet(main_dir)

        def late(batch_df, _bid):
            if not batch_df.isEmpty():
                batch_df.write.mode("append").parquet(late_dir)

        stream.for_each_batch_with_late_split(
            "ts", 3600.0, on_time, late, checkpoint=f"{work}/ckpt"
        )
        out = spark.read.parquet(late_dir)
        return out.select("event_id", "user_id", "ts").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_punctuated_watermark_split",
    oracle="""
    WITH mk AS (
      SELECT max(ts) AS wm FROM events
      WHERE event_id % 17 <> 0 AND event_type = 'purchase')
    SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
    FROM events, mk
    WHERE event_id % 17 = 0 AND ts <= wm
    """,
    category="streaming",
)
def q_punctuated_watermark_split(spark, sf_dir):
    """Punctuated watermarks end-to-end (ref:
    AssignerWithPunctuatedWatermarks.java — event time advances ONLY on
    marker rows, here the 'purchase' events): on-time traffic replays in
    event-time order announcing markers, then a straggler file arrives;
    rows at or before the highest announced watermark route to the late
    side.  Materialized late side == closed-form rule (straggler AND
    ts <= max marker ts among on-time rows)."""
    src = read(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    straggler = F.col("event_id") % 17 == 0
    work = tempfile.mkdtemp(prefix="fl_punct_q_")
    try:
        stream = StreamExecutionEnvironment(spark).from_waves(
            _ts_waves(src.where(~straggler)) + [src.where(straggler)],
            f"{work}/replay",
        )
        marked = stream.df.withColumn(
            "__wm", F.when(F.col("event_type") == "purchase", F.col("ts"))
        )
        late_dir, main_dir = f"{work}/late", f"{work}/main"

        def on_time(batch_df, _bid):
            batch_df.write.mode("append").parquet(main_dir)

        def late(batch_df, _bid):
            if not batch_df.isEmpty():
                batch_df.write.mode("append").parquet(late_dir)

        Stream(marked).for_each_batch_with_punctuated_watermarks(
            "__wm", "ts", on_time, late, checkpoint=f"{work}/ckpt"
        )
        out = spark.read.parquet(late_dir)
        return out.select("event_id", "user_id", "ts").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_rowtime_sort_order",
    oracle="""
    SELECT event_id,
           CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS seq
    FROM events WHERE user_id % 11 = 0
    """,
    category="streaming",
)
def q_rowtime_sort_order(spark, sf_dir):
    """Rowtime sort graded on ORDER, not just content (ref:
    StreamExecTemporalSort.scala, RowTimeSortOperator.java): the stream
    replays in event-time-ranged files; each watermark advance emits the
    ready slice in (ts, event_id) order, and a deterministic global
    emission sequence (within-emission row_number + running offset) must
    equal the batch row_number over the full sorted relation."""
    from pyspark.sql import Window

    src = read(spark, sf_dir, "events").where(F.col("user_id") % 11 == 0).select(
        "event_id", "user_id", "ts"
    )
    work = tempfile.mkdtemp(prefix="fl_rtsort_q_")
    try:
        stream = StreamExecutionEnvironment(spark).from_waves(
            _ts_waves(src), f"{work}/replay"
        )
        out_dir = f"{work}/out"
        offset = {"n": 0}

        def emit(ready_df, _bid):
            w = Window.orderBy("ts", "event_id")
            tagged = ready_df.select(
                "event_id",
                (F.row_number().over(w) + F.lit(offset["n"])).cast("bigint").alias("seq"),
            )
            tagged.write.mode("append").parquet(out_dir)
            offset["n"] += ready_df.count()

        stream.rowtime_sort("ts", 3600.0, emit, secondary=["event_id"],
                            checkpoint=f"{work}/ckpt")
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_coprocess_shared_state",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS credit_e4,
           CAST(sum(CASE WHEN event_type = 'error'
                         THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS debit_e4,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE event_type IN ('purchase', 'error') AND user_id % 5 = 0
    GROUP BY user_id
    """,
    category="streaming",
)
def q_coprocess_shared_state(spark, sf_dir):
    """ConnectedStreams CoProcess with SHARED keyed state (ref:
    ConnectedStreams.java:1, CoProcessFunction.java): purchases credit
    and errors debit one per-user account held in a single
    applyInPandasWithState operator; the drained state snapshot must
    equal the batch per-user rollup.  Integer 1e-4 units keep the sums
    arrival-order-exact, so interleaving across micro-batches cannot
    change the answer — exactly the property shared state must have."""
    import pandas as _pd

    from my_flink_1_10_2_spark.streaming.stream import ConnectedStreams

    base = read(spark, sf_dir, "events").where(F.col("user_id") % 5 == 0)
    a = base.where(F.col("event_type") == "purchase").select(
        "user_id", F.round(F.col("value") * 10000).cast("bigint").alias("v_e4")
    )
    b = base.where(F.col("event_type") == "error").select(
        "user_id", F.round(F.col("value") * 10000).cast("bigint").alias("v_e4")
    )
    work = tempfile.mkdtemp(prefix="fl_coproc_q_")
    try:
        a.repartition(2).write.mode("overwrite").parquet(f"{work}/a")
        b.repartition(2).write.mode("overwrite").parquet(f"{work}/b")
        env = StreamExecutionEnvironment(spark)
        sa = env.from_files(f"{work}/a", a.schema, max_files_per_trigger=1)
        sb = env.from_files(f"{work}/b", b.schema, max_files_per_trigger=1)
        cs = ConnectedStreams(sa, sb)
        keyed = cs.key_by("user_id")

        def fn(key, pdf_iter, state):
            credit, debit, n = state.get if state.exists else (0, 0, 0)
            for pdf in pdf_iter:
                sides = pdf["__side"].astype("int64")
                vals = pdf["v_e4"].astype("int64")
                credit += int(vals[sides == 0].sum())
                debit += int(vals[sides == 1].sum())
                n += len(pdf)
            state.update((credit, debit, n))
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "credit_e4": [credit],
                    "debit_e4": [debit],
                    "n_events": [n],
                }
            )

        out = keyed.process(
            fn,
            state_schema="credit bigint, debit bigint, n bigint",
            output_schema="user_id bigint, credit_e4 bigint, debit_e4 bigint, n_events bigint",
        )
        _, name = out.to_memory_sink(output_mode="append")
        snap = spark.table(name)
        # the account's final snapshot = last emission per user
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (
            snap.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        return spark.createDataFrame(final.toArrow(), final.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_scd2_dimension",
    oracle="""
    WITH log AS (
      SELECT o_custkey AS cust, o_orderkey AS version,
             o_orderpriority AS attr
      FROM orders WHERE o_custkey % 10 = 0)
    SELECT cust, version AS effective_from,
           lead(version) OVER (PARTITION BY cust ORDER BY version)
             AS effective_to,
           attr,
           CASE WHEN lead(version) OVER (PARTITION BY cust ORDER BY version)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM log
    """,
    category="streaming",
)
def q_scd2_dimension(spark, sf_dir):
    """Slowly-changing-dimension type 2 built from a keyed changelog
    (the versioned-table build side of the temporal join — ref:
    TemporalRowTimeJoinOperator.java keeps exactly these validity
    intervals as state): each version's row carries
    [effective_from, effective_to) via lead() over the key, open-ended
    for the current version.  One key-partitioned window — the
    history-table materialization pattern."""
    from pyspark.sql import Window

    log = (
        read(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 10 == 0)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("version"),
            F.col("o_orderpriority").alias("attr"),
        )
    )
    w = Window.partitionBy("cust").orderBy("version")
    nxt = F.lead("version").over(w)
    return log.select(
        "cust",
        F.col("version").alias("effective_from"),
        nxt.alias("effective_to"),
        "attr",
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "q_txn_sink_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id % 4 = 0
    """,
    category="streaming",
)
def q_txn_sink_roundtrip(spark, sf_dir):
    """Two-phase-commit sink round trip (ref:
    TwoPhaseCommitSinkFunction.java:77): the stream writes through the
    transactional sink — per-batch staged writes + an atomic manifest
    commit, replayed batch ids skipped — and EVERY batch is delivered
    twice on purpose (a manual duplicate call simulating a post-commit
    replay).  The committed table must still equal the input exactly:
    exactly-once despite at-least-once delivery."""
    from my_flink_1_10_2_spark.sources.streaming import (
        TransactionalForeachBatchSink,
    )

    src = (
        read(spark, sf_dir, "events")
        .where(F.col("event_id") % 4 == 0)
        .select("event_id", "user_id", "event_type")
    )
    work = tempfile.mkdtemp(prefix="fl_txn_q_")
    try:
        src.repartition(3).write.mode("overwrite").parquet(f"{work}/src")
        env = StreamExecutionEnvironment(spark)
        stream = env.from_files(f"{work}/src", src.schema, max_files_per_trigger=1)
        out_dir = f"{work}/out"

        def write_fn(batch_df, bid):
            batch_df.write.mode("overwrite").parquet(f"{out_dir}/b{bid:05d}")

        sink = TransactionalForeachBatchSink(write_fn, f"{work}/manifest")

        def deliver_twice(batch_df, bid):
            sink(batch_df, bid)
            sink(batch_df, bid)  # replayed transaction — must be a no-op

        stream.for_each_batch(deliver_twice, f"{work}/ckpt")
        return spark.read.parquet(f"{out_dir}/b*").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_compaction_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id % 3 = 1
    """,
    category="streaming",
)
def q_compaction_roundtrip(spark, sf_dir):
    """Small-file compaction (the downstream half of the
    StreamingFileSink RollingPolicy contract — ref:
    DefaultRollingPolicy.java): a deliberately fragmented 64-part write
    is compacted to size-derived output files; rows must be preserved
    exactly.  The file-count collapse itself is asserted in
    tests/test_pipeline_ops.py."""
    from my_flink_1_10_2_spark.operators.compaction import compact_parquet_dir

    src = (
        read(spark, sf_dir, "events")
        .where(F.col("event_id") % 3 == 1)
        .select("event_id", "user_id", "event_type")
    )
    work = tempfile.mkdtemp(prefix="fl_compact_q_")
    try:
        src.repartition(64).write.mode("overwrite").parquet(f"{work}/frag")
        out = compact_parquet_dir(spark, f"{work}/frag", f"{work}/compact")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_PT_GAP_US = 86_400_000_000  # 1 day inactivity threshold


@register(
    "q_process_timer_alerts",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS te, event_id
      FROM events WHERE event_id < 3000
    ),
    g AS (
      SELECT user_id, te,
             lag(te) OVER (PARTITION BY user_id ORDER BY te, event_id) AS prev
      FROM e
    )
    SELECT user_id, prev AS gap_start_us, te AS gap_end_us, 'gap' AS kind
    FROM g WHERE prev IS NOT NULL AND te - prev > {_PT_GAP_US}
    UNION ALL
    SELECT user_id, max(te) AS gap_start_us, NULL AS gap_end_us,
           'final' AS kind
    FROM e GROUP BY user_id
    """,
    category="streaming",
)
def q_process_timer_alerts(spark, sf_dir):
    """Keyed ProcessFunction with STATE + EVENT-TIME TIMERS graded e2e
    (ref: KeyedProcessOperator.java, InternalTimerService.java,
    KeyedProcessFunction onTimer): events replay in 5 ordered weekly
    waves; per-key state carries the last-seen timestamp ACROSS
    micro-batches (a gap spanning waves is only detectable via state),
    each batch re-arms an inactivity timer at last_ts + 1 day, and two
    far-future sentinel batches advance the watermark so every pending
    timer FIRES its onTimer branch (hasTimedOut → final alert).  Output:
    one 'gap' row per >1-day silence between consecutive events, one
    'final' row per key from the timer path."""
    src = (
        read(spark, sf_dir, "events")
        .where("event_id < 3000")
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("__te"),
            _epoch_wave("ts").alias("__wave"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_ptimer_")
    try:
        # two sentinel batches: the first jumps the watermark past every
        # possible (last_ts + GAP) timer, the second gives Spark a batch
        # in which those now-expired timers fire
        sentinels = [
            spark.createDataFrame(
                [(-1, -1, far_us)], "user_id long, event_id long, __te long"
            ).withColumn("ts", F.timestamp_micros("__te"))
            for far_us in (_FAR_US, _FAR_US + 1_000_000_000)
        ]
        stream = StreamExecutionEnvironment(spark).from_waves(
            _week_waves(src) + sentinels, f"{work}/replay"
        )
        gap_us = _PT_GAP_US

        def fn(key, pdfs, state):
            import pandas as pd

            uid = key[0]
            cols = ["user_id", "gap_start_us", "gap_end_us", "kind"]
            if state.hasTimedOut:
                (last,) = state.get
                state.remove()
                yield pd.DataFrame(
                    [[uid, int(last), None, "final"]], columns=cols
                )
                return
            last = int(state.get[0]) if state.exists else None
            rows = []
            for pdf in pdfs:
                pdf = pdf.sort_values(["__te", "event_id"])
                for te in pdf["__te"]:
                    te = int(te)
                    if last is not None and te - last > gap_us:
                        rows.append([uid, last, te, "gap"])
                    last = te
            state.update((last,))
            # re-arm the inactivity timer (epoch millis)
            state.setTimeoutTimestamp(last // 1000 + gap_us // 1000)
            if rows:
                yield pd.DataFrame(rows, columns=cols)

        keyed = stream.assign_timestamps_and_watermarks("ts", "1 hour").key_by(
            "user_id"
        )
        out = keyed.process(
            fn,
            "last_ts long",
            "user_id long, gap_start_us long, gap_end_us long, kind string",
            timeout="EventTimeTimeout",
        )
        sink_dir = f"{work}/out"
        streaming_file_sink(
            out.df, sink_dir, f"{work}/ckpt", available_now=True
        ).awaitTermination()
        res = (
            spark.read.parquet(sink_dir)
            .where("user_id >= 0")
            .select("user_id", "gap_start_us", "gap_end_us", "kind")
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_stream_dedup_materialized",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5(text) AS digest,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, digest FROM d WHERE rn = 1
    """,
    category="streaming",
)
def q_stream_dedup_materialized(spark, sf_dir):
    """STREAMING exact dedup with cross-batch state (ref:
    DeduplicateKeepFirstRowFunction.java:34 on an unbounded keyed
    stream): documents replay in doc_id-ordered waves; Spark's stateful
    ``dropDuplicates`` on the content digest keeps the FIRST arrival —
    a duplicate arriving waves later must be suppressed by state, not
    by within-batch logic.  The materialized survivor set must equal
    the batch keep-first formulation exactly."""
    docs = read(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("digest")
    )
    work = tempfile.mkdtemp(prefix="fl_sdedup_")
    try:
        bounds = [0, 100, 200, 300, 400, 10**9]
        stream = StreamExecutionEnvironment(spark).from_waves(
            [
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                for lo, hi in zip(bounds, bounds[1:])
            ],
            f"{work}/replay",
        ).drop_duplicates(["digest"])  # keyed state across micro-batches
        sink = f"{work}/out"
        streaming_file_sink(
            stream.df, sink, f"{work}/ckpt", available_now=True
        ).awaitTermination()
        res = spark.read.parquet(sink).select("doc_id", "digest")
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_accumulator_metrics",
    oracle="""
    SELECT 'rows' AS metric, CAST(count(*) AS BIGINT) AS value FROM events
    UNION ALL
    SELECT 'clicks', CAST(count(*) AS BIGINT)
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'max_value_e4', CAST(max(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'null_props', CAST(count(*) AS BIGINT)
    FROM events WHERE props IS NULL
    """,
    category="streaming",
)
def q_accumulator_metrics(spark, sf_dir):
    """Accumulators graded end to end (ref: flink-core accumulators/ —
    IntCounter/Histogram/extrema added from RuntimeContext on EXECUTORS,
    merged to the driver after the action; AccumulatorHelper
    .toResultMap): a side-metrics pass over events, counted inside an
    Arrow-batched map on the executors, returned as a (metric, value)
    table that must equal the SQL formulation of the same metrics."""
    from my_flink_1_10_2_spark.operators.accumulators import (
        AccumulatorRegistry,
    )

    reg = AccumulatorRegistry(spark.sparkContext)
    rows = reg.int_counter("rows")
    clicks = reg.int_counter("clicks")
    max_v = reg.maximum("max_value_e4")
    null_props = reg.int_counter("null_props")

    def work(it):
        for pdf in it:
            rows.add(len(pdf))
            clicks.add(int((pdf["event_type"] == "click").sum()))
            if len(pdf):
                max_v.add(int(pdf["v_e4"].max()))
            null_props.add(int(pdf["props"].isna().sum()))
            yield pdf[["event_id"]]

    src = read(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "props",
        F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )
    src.mapInPandas(work, "event_id long").write.format("noop").mode(
        "overwrite"
    ).save()
    vals = [
        ("rows", int(rows.get_local_value())),
        ("clicks", int(clicks.get_local_value())),
        ("max_value_e4", int(max_v.get_local_value())),
        ("null_props", int(null_props.get_local_value())),
    ]
    return spark.createDataFrame(vals, "metric string, value bigint")


@register(
    "q_window_fold_path",
    oracle="""
    SELECT user_id % 8 AS k,
           time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
           string_agg(substr(event_type, 1, 1), ''
                      ORDER BY epoch_us(ts), event_id) AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_id < 4000
    GROUP BY 1, 2
    """,
    category="streaming",
)
def q_window_fold_path(spark, sf_dir):
    """WindowedStream.fold graded e2e (ref: WindowedStream.java fold —
    the deprecated-in-reference but still-exposed accumulating window
    function): per (key, 6h window), fold the events IN EVENT-TIME
    ORDER into a path string of event-type initials — a NON-commutative
    accumulator, so the grade pins the fold's ordering contract, not
    just its final aggregate.  The fold runs per (key, window) group in
    an Arrow batch; ordering uses a zero-padded (ts, event_id) sort key
    so ties are impossible."""
    src = (
        read(spark, sf_dir, "events")
        .where("event_id < 4000")
        .select(
            (F.col("user_id") % 8).alias("k"),
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            F.format_string(
                "%020d-%012d",
                F.unix_micros(F.col("ts").cast("timestamp")),
                F.col("event_id"),
            ).alias("__ord"),
            F.substring("event_type", 1, 1).alias("etype0"),
        )
    )
    stream = Stream(src).key_by("k").tumble("ts", "6 hours")
    stream.ts_col = "__ord"  # strictly-unique event-time order key

    def fold_fn(acc, row):
        return {
            "k": row["k"],
            "path": acc["path"] + row["etype0"],
            "n": acc["n"] + 1,
        }

    out = stream.fold(
        {"k": None, "path": "", "n": 0}, fold_fn, "k long, path string, n long"
    )
    return out.df.select(
        "k",
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "path",
        "n",
    )


@register(
    "q_distributed_cache_enrich",
    oracle="""
    WITH rates(event_type, points) AS (
      VALUES ('click', 1), ('view', 2), ('purchase', 10),
             ('signup', 25), ('logout', 0)
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(COALESCE(r.points, -1)) AS BIGINT) AS total_points
    FROM events e LEFT JOIN rates r USING (event_type)
    GROUP BY e.event_type
    """,
    category="streaming",
)
def q_distributed_cache_enrich(spark, sf_dir):
    """DistributedCache graded e2e (ref: ExecutionEnvironment
    .registerCachedFile:1003 + DistributedCache.getFile): a small
    rate-card CSV is shipped to every executor once (SparkContext
    .addFile torrent distribution) and read INSIDE the mapper via the
    executor-local path — the reference's cached-file lookup pattern —
    then the enriched aggregate must equal the plain SQL join."""
    import csv
    import os
    import tempfile

    from my_flink_1_10_2_spark.environment import ExecutionEnvironment

    env = ExecutionEnvironment(spark)
    workdir = tempfile.mkdtemp(prefix="fl_dcache_")
    rate_file = os.path.join(workdir, "rates.csv")
    with open(rate_file, "w", newline="") as f:
        w = csv.writer(f)
        w.writerows(
            [("click", 1), ("view", 2), ("purchase", 10), ("signup", 25), ("logout", 0)]
        )
    env.register_cached_file(rate_file, "rates")
    # the picklable resolver: runs executor-side through SparkFiles
    # without dragging the environment (and its driver context) along
    resolve_rates = env.cached_file_resolver("rates")

    def enrich(batches):
        import csv as _csv

        with open(resolve_rates()) as f:
            rates = {row[0]: int(row[1]) for row in _csv.reader(f)}
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            pdf["points"] = pdf["event_type"].map(lambda t: rates.get(t, -1))
            yield pdf[["event_type", "points"]]

    src = read(spark, sf_dir, "events").select("event_type")
    enriched = src.mapInPandas(enrich, "event_type string, points long")
    return enriched.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("points").cast("bigint").alias("total_points"),
    )


@register(
    "q_broadcast_set_enrich",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS balance_cents
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    category="streaming",
)
def q_broadcast_set_enrich(spark, sf_dir):
    """withBroadcastSet graded e2e (ref: DataSet.withBroadcastSet,
    RuntimeContext.getBroadcastVariable:202): the nation dimension is
    broadcast ONCE as a named set and looked up inside a rich map per
    Arrow batch — the reference's broadcast-variable enrichment idiom —
    then the rollup must equal the plain SQL join."""
    from my_flink_1_10_2_spark.table import Table

    customers = Table(
        read(spark, sf_dir, "customer").select(
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
        )
    )
    nations = Table(
        read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )

    def enrich(pdf, bc):
        lookup = {r["n_nationkey"]: r["n_name"] for r in bc["nations"]}
        pdf = pdf.copy()
        pdf["n_name"] = pdf["c_nationkey"].map(lookup)
        return pdf[["n_name", "bal_cents"]]

    enriched = customers.map_with_broadcast(
        enrich, "n_name string, bal_cents bigint", {"nations": nations}
    )
    return enriched.df.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("bal_cents").cast("bigint").alias("balance_cents"),
    )


@register(
    "q_stream_cep_materialized",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 10000) AS BIGINT) AS v,
             lead(CAST(round(value * 10000) AS BIGINT), 1)
               OVER w AS v1,
             lead(CAST(round(value * 10000) AS BIGINT), 2)
               OVER w AS v2
      FROM events WHERE event_id < 3000
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT user_id, event_id AS start_id, v AS a_val_e4
    FROM s WHERE v1 < v AND v2 > v1
    """,
    category="streaming",
)
def q_stream_cep_materialized(spark, sf_dir):
    """STREAMING CEP graded e2e (ref: flink-cep NFA + nfa/sharedbuffer/
    SharedBuffer.java — partial matches live in per-key state across
    elements): the V-shape pattern (a; b.value < a; c.value > b) runs
    over 5 ordered weekly replay waves through the tail-buffered
    applyInPandasWithState NFA — matches SPANNING wave boundaries exist
    only because the buffer carries partial matches across
    micro-batches — and the materialized match set must equal the
    batch lead-based formulation exactly."""
    from my_flink_1_10_2_spark.operators.cep import (
        Pattern,
        match_recognize_stream,
    )

    src = (
        read(spark, sf_dir, "events")
        .where("event_id < 3000")
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") * 10000).cast("bigint").alias("v"),
            F.format_string(
                "%020d-%012d",
                F.unix_micros(F.col("ts").cast("timestamp")),
                F.col("event_id"),
            ).alias("__ord"),
            _epoch_wave("ts").alias("__wave"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_scep_")
    try:
        pattern = (
            Pattern.begin("a", lambda r, c: True)
            .next("b", lambda r, c: r["v"] < c["a"][-1]["v"])
            .next("c", lambda r, c: r["v"] > c["b"][-1]["v"])
        )
        measures = {
            "user_id": lambda m: int(m["a"][0]["user_id"]),
            "start_id": lambda m: int(m["a"][0]["event_id"]),
            "a_val_e4": lambda m: int(m["a"][0]["v"]),
        }
        stream = StreamExecutionEnvironment(spark).from_waves(
            _week_waves(src), f"{work}/replay"
        )
        result = match_recognize_stream(
            stream.df,
            partition_by=["user_id"],
            ts_col="__ord",
            pattern=pattern,
            measures=measures,
            output_schema="user_id long, start_id long, a_val_e4 long",
            max_pattern_rows=3,
            after_match="skip_to_next_row",
        )
        sink = f"{work}/out"
        streaming_file_sink(
            result, sink, f"{work}/ckpt", available_now=True
        ).awaitTermination()
        res = spark.read.parquet(sink).select("user_id", "start_id", "a_val_e4")
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_socket_stream_rollup",
    oracle="""
    SELECT event_type AS line, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_id < 500 GROUP BY event_type
    """,
    category="streaming",
)
def q_socket_stream_rollup(spark, sf_dir):
    """socketTextStream graded over a REAL TCP connection (ref:
    StreamExecutionEnvironment.socketTextStream:1396 + SocketTextStream
    Function.java): an in-process server streams 500 fixture-derived
    lines over a live socket; the socket-source rollup must equal the
    SQL formulation — network-transport evidence, not a harness stub."""
    import socket
    import threading
    import time
    import uuid

    lines = [
        r.event_type
        for r in read(spark, sf_dir, "events")
        .where("event_id < 500")
        .select("event_type")
        .collect()  # 500 tiny strings — the payload the server replays
    ]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(("\n".join(lines) + "\n").encode())
            stop.wait(timeout=120)
        finally:
            conn.close()
            server.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    env = StreamExecutionEnvironment(spark)
    stream = env.socket_text_stream("127.0.0.1", port)
    name = f"sockq_{uuid.uuid4().hex[:8]}"
    q = memory_sink(stream.df, name)
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if spark.table(name).count() >= len(lines):
                break
            time.sleep(0.5)
        out = (
            spark.table(name)
            .groupBy(F.col("value").alias("line"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return out.localCheckpoint(eager=True)
    finally:
        q.stop()
        stop.set()
        t.join(timeout=10)


_TTL_US = 86_400_000_000  # 1 day of event time


@register(
    "q_state_ttl_counter",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS te
      FROM events WHERE event_id < 3000
    ),
    g AS (
      SELECT user_id, event_id, te,
             CASE WHEN lag(te) OVER w IS NOT NULL
                   AND te - lag(te) OVER w > {_TTL_US}
                  THEN 1 ELSE 0 END AS was_reset
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY te, event_id)
    ),
    s AS (
      SELECT *, sum(was_reset) OVER (PARTITION BY user_id
                ORDER BY te, event_id ROWS UNBOUNDED PRECEDING) AS seg
      FROM g
    )
    SELECT user_id, event_id, te,
           CAST(row_number() OVER (PARTITION BY user_id, seg
                                   ORDER BY te, event_id) AS BIGINT)
             AS count_after,
           CAST(was_reset AS INT) AS was_reset
    FROM s
    """,
    category="streaming",
)
def q_state_ttl_counter(spark, sf_dir):
    """Keyed STATE TTL graded e2e (ref: StateTtlConfig.java —
    OnCreateAndWrite update type, NeverReturnExpired visibility, lazy
    expiry on access; flink-runtime/.../state/ttl/TtlValueState.java):
    a per-key running counter whose state EXPIRES after one day of
    event-time inactivity — an access after the TTL sees no state and
    restarts the count (the reference's lazy cleanup path; event time
    substitutes the reference's processing-time clock so the replay is
    deterministic and SQL-checkable).

    Events replay in 5 ordered weekly waves through
    applyInPandasWithState: state (count, last_ts) must survive
    micro-batch boundaries, and a TTL expiry that straddles waves is
    only detectable via that carried state.  Output per event: the
    post-access counter and whether this access found its state
    expired — the full state-lifecycle history, not just final
    values."""
    src = (
        read(spark, sf_dir, "events")
        .where("event_id < 3000")
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("__te"),
            _epoch_wave("ts").alias("__wave"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_ttl_")
    try:
        stream = StreamExecutionEnvironment(spark).from_waves(
            _week_waves(src), f"{work}/replay"
        )
        ttl_us = _TTL_US

        def fn(key, pdfs, state):
            import pandas as pd

            uid = key[0]
            cols = ["user_id", "event_id", "te", "count_after", "was_reset"]
            count, last = (
                (int(state.get[0]), int(state.get[1]))
                if state.exists
                else (0, None)
            )
            rows = []
            for pdf in pdfs:
                pdf = pdf.sort_values(["__te", "event_id"])
                for eid, te in zip(pdf["event_id"], pdf["__te"]):
                    te = int(te)
                    reset = 0
                    if last is not None and te - last > ttl_us:
                        # lazy expiry on access: the stored value is
                        # past its TTL — treat as absent (NeverReturn
                        # Expired) and start a fresh state
                        count, reset = 0, 1
                    count += 1
                    last = te
                    rows.append([uid, int(eid), te, count, reset])
            state.update((count, last))
            if rows:
                yield pd.DataFrame(rows, columns=cols)

        keyed = stream.assign_timestamps_and_watermarks("ts", "1 hour").key_by(
            "user_id"
        )
        out = keyed.process(
            fn,
            "count long, last_ts long",
            "user_id long, event_id long, te long, count_after long, was_reset int",
        )
        sink_dir = f"{work}/out"
        streaming_file_sink(
            out.df, sink_dir, f"{work}/ckpt", available_now=True
        ).awaitTermination()
        res = spark.read.parquet(sink_dir).select(
            "user_id", "event_id", "te", "count_after", "was_reset"
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_stream_semi_anti_materialized",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS te, event_type
      FROM events WHERE event_id < 3000
    ),
    clicks AS (SELECT * FROM e WHERE event_type = 'click'),
    purch  AS (SELECT * FROM e WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.te, 'semi' AS kind
    FROM clicks c WHERE EXISTS (
      SELECT 1 FROM purch p WHERE p.user_id = c.user_id
        AND p.te BETWEEN c.te - 86400000000 AND c.te + 86400000000)
    UNION ALL
    SELECT c.event_id, c.user_id, c.te, 'anti' AS kind
    FROM clicks c WHERE NOT EXISTS (
      SELECT 1 FROM purch p WHERE p.user_id = c.user_id
        AND p.te BETWEEN c.te - 86400000000 AND c.te + 86400000000)
    """,
    category="streaming",
)
def q_stream_semi_anti_materialized(spark, sf_dir):
    """STREAM-STREAM semi and anti joins graded e2e (ref:
    StreamExecJoin.scala semi/anti branches; FlinkSemiAntiJoinJoinTransposeRule):
    clicks stream ⋉ / ▷ purchases stream on user with a ±1-day event-time
    bound.  Both sides replay in ordered waves; the semi join emits each
    matched click once, and the ANTI join can only emit a click after
    the purchase-side WATERMARK proves no in-window match can still
    arrive — a far-future sentinel wave flushes the tail, exactly the
    reference's watermark-driven state cleanup.  The materialized sets
    must equal the batch EXISTS / NOT EXISTS formulations."""
    work = tempfile.mkdtemp(prefix="fl_semianti_")
    try:
        left, right = _click_purchase_streams(spark, sf_dir, work, sentinel=True)
        results = {}
        for kind, how in (("semi", "leftSemi"), ("anti", "leftOuter")):
            joined = left.join(
                right,
                F.expr(
                    "c_user_id = p_user_id AND "
                    "p_ts BETWEEN c_ts - INTERVAL 1 DAY AND c_ts + INTERVAL 1 DAY"
                ),
                how,
            )
            if kind == "anti":
                # Spark has no stream-stream leftAnti: the standard
                # rewrite is left OUTER + right-side-NULL filter — the
                # outer join emits the NULL-padded row only once the
                # purchase watermark proves no in-window match can
                # arrive, which is exactly anti-join finalization.
                joined = joined.where(F.col("p_event_id").isNull()).select(
                    "c_event_id", "c_user_id", "c_ts", "c_te"
                )
            sink = f"{work}/out_{kind}"
            streaming_file_sink(
                joined, sink, f"{work}/ckpt_{kind}", available_now=True
            ).awaitTermination()
            results[kind] = (
                spark.read.parquet(sink)
                .where("c_event_id >= 0")
                .select(
                    F.col("c_event_id").alias("event_id"),
                    F.col("c_user_id").alias("user_id"),
                    F.col("c_te").alias("te"),
                    F.lit(kind).alias("kind"),
                )
            )
        out = results["semi"].unionAll(results["anti"])
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_stream_kmv_merged",
    oracle="""
    WITH h AS (
      SELECT DISTINCT
        (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
              AS DOUBLE) + 1.0) / power(16.0, 15) AS h
      FROM events
    ),
    topk AS (SELECT h FROM h ORDER BY h LIMIT 64)
    SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                ELSE 63.0 / max(h) END AS estimate,
           CAST(count(*) AS BIGINT) AS sketch_size
    FROM topk
    """,
    category="streaming",
)
def q_stream_kmv_merged(spark, sf_dir):
    """STREAMING KMV sketch maintenance graded e2e — the mergeability
    contract production sketches rely on (k smallest of a union = merge
    of per-batch k smallest): events replay in 5 waves; each micro-batch
    reduces ITS rows to a k-row sketch distributedly (TakeOrdered
    push-down), the k-row partial merges with the k-row carried sketch
    (2k values — the sketch IS the only driver state, O(k) by
    definition), and the final merged estimate must equal the one-shot
    batch sketch over all events BITWISE — merge order cannot matter.
    """
    from my_flink_1_10_2_spark.operators.sketch import _norm_hash

    K = 64
    src = read(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        _epoch_wave("ts").alias("__wave"),
    )
    work = tempfile.mkdtemp(prefix="fl_skmv_")
    try:
        sketch: list[float] = []  # the carried k-minimum values

        def merge_batch(batch_df, batch_id):
            nonlocal sketch
            part = [
                r["h"]
                for r in batch_df.select(_norm_hash("user_id").alias("h"))
                .dropDuplicates(["h"])
                .orderBy("h")
                .limit(K)
                .collect()
            ]
            sketch = sorted(set(sketch) | set(part))[:K]

        StreamExecutionEnvironment(spark).from_waves(
            _week_waves(src), f"{work}/replay"
        ).for_each_batch(merge_batch, f"{work}/ckpt")
        if len(sketch) < K:
            est = float(len(sketch))
        else:
            est = float(K - 1) / sketch[-1]
        return spark.createDataFrame(
            [(est, len(sketch))], "estimate double, sketch_size bigint"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_stream_interval_join_pairs",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_id < 3000 AND event_type IN ('click', 'purchase')
    )
    SELECT c.user_id AS user_id, c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM e c JOIN e p
      ON p.user_id = c.user_id AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND epoch_us(p.ts) - epoch_us(c.ts) <= 86400000000
    ORDER BY c.user_id, click_id, purchase_id
    """,
    category="streaming",
)
def q_stream_interval_join_pairs(spark, sf_dir):
    """STREAM-STREAM INNER INTERVAL JOIN graded e2e — the
    IntervalJoinOperator contract itself (ref: flink-streaming-java
    .../co/IntervalJoinOperator.java:60 processElement/cleanup): click ⋈
    purchase per user with ``p.ts ∈ [c.ts, c.ts + 1 day]``, both sides
    replaying as watermarked streams, emitted PAIRS materialized and
    compared to the batch join.

    Why the watermark cleanup is lossless here: waves are event-time
    ordered, so by the time the watermark can evict a click's state
    (right-watermark > c.ts + 1 day), every future purchase is
    necessarily PAST the join bound — eviction only discards state whose
    matches are provably impossible, which is exactly the reference's
    cleanup-timer argument."""
    work = tempfile.mkdtemp(prefix="fl_ivjoin_")
    try:
        clicks, purchases = _click_purchase_streams(spark, sf_dir, work)
        joined = clicks.join(
            purchases,
            F.expr(
                "c_user_id = p_user_id AND "
                "p_ts >= c_ts AND p_te - c_te <= 86400000000"
            ),
            "inner",
        )
        sink = f"{work}/out"
        streaming_file_sink(
            joined, sink, f"{work}/ckpt", available_now=True
        ).awaitTermination()
        out = (
            spark.read.parquet(sink)
            .select(
                F.col("c_user_id").alias("user_id"),
                F.col("c_event_id").alias("click_id"),
                F.col("p_event_id").alias("purchase_id"),
                (F.col("p_te") - F.col("c_te")).cast("bigint").alias("gap_us"),
            )
            .orderBy("user_id", "click_id", "purchase_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_stream_session_windows",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS te,
             CAST(round(value * 10000) AS BIGINT) AS v_e4
      FROM events WHERE event_id < 3000
    ),
    flagged AS (
      SELECT user_id, te, v_e4,
             CASE WHEN te - lag(te) OVER (PARTITION BY user_id ORDER BY te)
                       >= 21600000000 OR
                  lag(te) OVER (PARTITION BY user_id ORDER BY te) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    sessions AS (
      SELECT user_id, te, v_e4,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY te
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           make_timestamp(min(te)) AS session_start,
           make_timestamp(max(te) + 21600000000) AS session_end,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v_e4) AS BIGINT) AS v_sum_e4
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q_stream_session_windows(spark, sf_dir):
    """NATIVE streaming session windows graded e2e — Spark's
    ``session_window`` merging aggregation under a live watermarked
    replay (ref: flink-streaming-java .../windowing/MergingWindowSet.java
    + EventTimeSessionWindows.java:38 mergeWindows): events replay in
    epoch-week waves, 6-hour-gap sessions merge ACROSS micro-batches in
    the state store, append mode emits each session only when the
    watermark proves it can no longer grow, and a far-future sentinel
    drains the tail.  The materialized sessions must equal the batch
    gap-chain formulation exactly (session_end = last event + gap, the
    reference's window-merge contract).

    Losslessness: waves are event-time ordered, so no row is ever behind
    the 1-hour watermark and a session only finalizes when every event
    that could merge into it is provably seen."""
    src = (
        read(spark, sf_dir, "events")
        .where("event_id < 3000")
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("te"),
            F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"),
            _epoch_wave("ts").alias("__wave"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_sesswin_")
    try:
        # sentinel: watermark past every possible session end
        sent = spark.createDataFrame(
            [(-1, _FAR_US, 0)], "user_id long, te long, v_e4 long"
        ).withColumn("ts", F.timestamp_micros("te"))
        stream = StreamExecutionEnvironment(spark).from_waves(
            _week_waves(src) + [sent], f"{work}/replay"
        ).with_watermark("ts", "1 hour")
        agg = (
            stream.df.groupBy("user_id", F.session_window("ts", "6 hours"))
            .agg(
                F.min("te").alias("start_te"),
                F.max("te").alias("end_te"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("v_e4").cast("bigint").alias("v_sum_e4"),
            )
        )
        sink = f"{work}/out"
        streaming_file_sink(
            agg, sink, f"{work}/ckpt", available_now=True
        ).awaitTermination()
        out = (
            spark.read.parquet(sink)
            .where("user_id >= 0")
            .select(
                "user_id",
                F.timestamp_micros(F.col("start_te"))
                .cast("timestamp_ntz")
                .alias("session_start"),
                F.timestamp_micros(F.col("end_te") + 21_600_000_000)
                .cast("timestamp_ntz")
                .alias("session_end"),
                "n",
                "v_sum_e4",
            )
            .orderBy("user_id", "session_start")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
