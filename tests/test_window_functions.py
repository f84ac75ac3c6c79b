"""WindowedStream.reduce / fold / process / apply (ref:
flink-streaming-java/.../datastream/WindowedStream.java — ReduceFunction,
FoldFunction, ProcessWindowFunction, WindowFunction over keyed windows).
"""

from __future__ import annotations

import datetime

import pandas as pd

from my_flink_1_10_2_spark.streaming.stream import Stream


def _events(spark):
    base = datetime.datetime(2021, 1, 1)
    rows = [
        (k, base + datetime.timedelta(seconds=s), v)
        for k, s, v in [
            ("a", 0, 1.0), ("a", 30, 2.0), ("a", 70, 10.0),
            ("b", 10, 5.0), ("b", 65, 7.0), ("b", 80, 3.0),
        ]
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_window_reduce_matches_sum(spark):
    df = _events(spark)
    ws = Stream(df).key_by("k").tumble("ts", "1 minute")

    def add(a, b):
        return {"k": a["k"], "ts": b["ts"], "v": a["v"] + b["v"]}

    got = {
        (r.k, r.window_start.minute, r.v) for r in ws.reduce(add).df.collect()
    }
    assert got == {("a", 0, 3.0), ("a", 1, 10.0), ("b", 0, 5.0), ("b", 1, 10.0)}


def test_window_fold_with_initial(spark):
    df = _events(spark)
    ws = Stream(df).key_by("k").tumble("ts", "1 minute")

    def fold_fn(acc, row):
        return {"n": acc["n"] + 1, "total": acc["total"] + row["v"]}

    out = ws.fold({"n": 0, "total": 100.0}, fold_fn, "n int, total double")
    got = {(r.n, r.total) for r in out.df.collect()}
    assert got == {(2, 103.0), (1, 110.0), (1, 105.0), (2, 110.0)}

    # rows with equal ts fold in arrival order: 40 rows at ts 1, then 40
    # at ts 0, v = arrival position, so a stable ts sort folds
    # v = 40..79, 0..39 — one descent, last v 39
    base = datetime.datetime(2021, 1, 1)
    rows = [("a", base + datetime.timedelta(seconds=int(i < 40)), float(i)) for i in range(80)]
    ties = spark.createDataFrame(rows, "k string, ts timestamp, v double").coalesce(1)

    def descents_and_last(acc, row):
        return {"n": acc["n"] + (row["v"] < acc["total"]), "total": row["v"]}

    out = Stream(ties).key_by("k").tumble("ts", "1 minute").fold(
        {"n": 0, "total": -1.0}, descents_and_last, "n int, total double"
    )
    assert [(r.n, r.total) for r in out.df.collect()] == [(1, 39.0)]


def test_process_window_function_emits_many(spark):
    df = _events(spark)
    ws = Stream(df).key_by("k").tumble("ts", "1 minute")

    def topk(keys, window, pdf):
        out = pdf.nlargest(1, "v")[["k", "v"]].copy()
        out["window_end"] = window["end"]
        return out

    out = ws.process(topk, "k string, v double, window_end timestamp")
    got = {(r.k, r.v) for r in out.df.collect()}
    assert got == {("a", 2.0), ("a", 10.0), ("b", 5.0), ("b", 7.0)}


def test_apply_is_process_alias(spark):
    df = _events(spark)
    ws = Stream(df).key_by("k").tumble("ts", "1 minute")

    def count_fn(keys, window, pdf):
        return pd.DataFrame([{"k": keys[0], "n": len(pdf)}])

    got = {(r.k, r.n) for r in ws.apply(count_fn, "k string, n long").df.collect()}
    assert got == {("a", 2), ("a", 1), ("b", 1), ("b", 2)}


def test_windowall_reduce_no_key(spark):
    df = _events(spark)
    ws = Stream(df).tumble_all("ts", "1 minute")

    def add(a, b):
        return {"k": a["k"], "ts": b["ts"], "v": a["v"] + b["v"]}

    got = {(r.window_start.minute, r.v) for r in ws.reduce(add).df.collect()}
    assert got == {(0, 8.0), (1, 20.0)}


def test_partitioning_primitives(spark):
    s = Stream(spark.range(100).toDF("id"))
    assert s.shuffle(8).df.rdd.getNumPartitions() == 8
    assert s.rebalance(4).df.rdd.getNumPartitions() == 4
    assert s.rescale(2).df.rdd.getNumPartitions() == 2
    assert s.global_().df.rdd.getNumPartitions() == 1
    assert s.forward() is s
    assert s.partition_custom("id", 5).df.rdd.getNumPartitions() == 5
    assert s.project(0).df.columns == ["id"]


def test_rolling_min_by_max_by(spark):
    rows = [
        ("a", 1, 5.0), ("a", 2, 3.0), ("a", 3, 9.0),
        ("b", 1, 2.0), ("b", 2, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, seq long, v double")
    ks = Stream(df).key_by("k")
    mins = sorted(
        (r.k, r.seq, r.v) for r in ks.min_by("v", "seq").df.collect()
    )
    # per input record, the row with min v so far
    assert mins == [
        ("a", 1, 5.0), ("a", 2, 3.0), ("a", 2, 3.0),
        ("b", 1, 2.0), ("b", 1, 2.0),
    ]
    maxs = sorted(
        (r.k, r.seq, r.v) for r in ks.max_by("v", "seq").df.collect()
    )
    assert maxs == [
        ("a", 1, 5.0), ("a", 1, 5.0), ("a", 3, 9.0),
        ("b", 1, 2.0), ("b", 2, 7.0),
    ]


def test_table_stream_bridge(spark):
    """ref: StreamTableEnvironment.java:192/:325/:408 — fromDataStream /
    toAppendStream / toRetractStream."""
    from pyspark.sql import functions as F

    from my_flink_1_10_2_spark.session import TableEnvironment

    env = TableEnvironment(spark)
    s = Stream(spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string"))
    t = env.from_data_stream(s, "k", "v")
    assert t.df.columns == ["k", "v"]

    back = env.to_append_stream(t)
    assert back.df.collect() == t.df.collect()

    r = env.to_retract_stream(t)
    assert r.df.columns == ["k", "v", "__change"]
    assert all(row["__change"] for row in r.df.collect())

    # existing string-convention flags map to the boolean contract
    flagged = t.df.withColumn("__change", F.lit("-D"))
    r2 = env.to_retract_stream(flagged)
    assert all(row["__change"] is False for row in r2.df.collect())


def test_fluent_table_window_api(spark):
    """ref: Table.window + Tumble.java:47 / Slide.java:51 /
    Session.java:47 — the fluent Table-API group-window spelling."""
    import datetime

    from my_flink_1_10_2_spark.operators.windows import Session, Slide, Tumble
    from my_flink_1_10_2_spark.table import Table

    base = datetime.datetime(2021, 1, 1)
    t = Table(
        spark.createDataFrame(
            [
                ("a", base + datetime.timedelta(seconds=s), v)
                for s, v in [(0, 1.0), (30, 2.0), (70, 10.0)]
            ],
            "k string, ts timestamp, v double",
        )
    )
    out = (
        t.window(Tumble.over("1.minute").on("ts").alias("w"))
        .group_by("w", "k")
        .select("sum(v) AS total", "k", "w.start", "w.end AS wend")
    )
    rows = sorted(out.to_df().collect(), key=lambda r: r.w_start)
    assert [r.total for r in rows] == [3.0, 10.0]
    assert rows[0].wend.minute == 1 and out.to_df().columns == [
        "total", "k", "w_start", "wend",
    ]

    # sliding window: 1-minute windows every 30s — events at 0s/30s/70s
    # populate the [-30,30) [0,60) [30,90) [60,120) windows
    slid = (
        t.window(Slide.over("1.minute").every("30.seconds").on("ts").alias("w"))
        .group_by("w", "k")
        .select("count(v) AS n", "w.start")
    )
    assert slid.to_df().count() == 4

    sess = (
        t.window(Session.with_gap("35.seconds").on("ts").alias("w"))
        .group_by("w", "k")
        .select("sum(v) AS total", "w.start")
    )
    assert sorted(r.total for r in sess.to_df().collect()) == [3.0, 10.0]


def test_window_descriptor_validation(spark):
    import pytest

    from my_flink_1_10_2_spark.operators.windows import Tumble, parse_duration
    from my_flink_1_10_2_spark.table import Table

    assert parse_duration("10.minutes") == "10 minutes"
    assert parse_duration("1.hour") == "1 hours"
    assert parse_duration("500 millis") == "500 milliseconds"
    with pytest.raises(ValueError, match="unparseable"):
        parse_duration("ten minutes")

    t = Table(spark.range(1).selectExpr("current_timestamp() AS ts", "1.0 AS v"))
    with pytest.raises(ValueError, match="window alias"):
        t.window(Tumble.over("1.minute").on("ts").alias("w")).group_by("k")
    with pytest.raises(ValueError, match="on\\(|alias\\(|needs"):
        t.window(Tumble.over("1.minute")).group_by("w").select("sum(v) AS s")


def test_fluent_over_window_api(spark):
    """ref: Over.java:48 — Over.partitionBy().orderBy().preceding() with
    select('sum(v) OVER w')."""
    from my_flink_1_10_2_spark.operators.windows import UNBOUNDED_ROW, Over
    from my_flink_1_10_2_spark.table import Table

    t = Table(
        spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 4.0), ("b", 1, 10.0)],
            "k string, seq long, v double",
        )
    )
    out = (
        t.window(
            Over.partition_by("k").order_by("seq").preceding(UNBOUNDED_ROW).alias("w")
        ).select("k", "seq", "sum(v) OVER w AS run", "avg(v) OVER w AS mean")
    )
    rows = {(r.k, r.seq): (r.run, round(r.mean, 4)) for r in out.to_df().collect()}
    assert rows[("a", 3)] == (7.0, round(7 / 3, 4))
    assert rows[("b", 1)] == (10.0, 10.0)

    # bounded rows frame: last 2 rows
    out2 = (
        t.window(Over.partition_by("k").order_by("seq").preceding("1.rows").alias("w"))
        .select("k", "seq", "sum(v) OVER w AS run2")
    )
    rows2 = {(r.k, r.seq): r.run2 for r in out2.to_df().collect()}
    assert rows2[("a", 3)] == 6.0  # rows 2 and 3

    # time-interval range frame
    import datetime

    base = datetime.datetime(2021, 1, 1)
    tt = Table(
        spark.createDataFrame(
            [("a", base + datetime.timedelta(seconds=s), 1.0) for s in (0, 10, 40)],
            "k string, ts timestamp, v double",
        )
    )
    out3 = (
        tt.window(
            Over.partition_by("k").order_by("ts").preceding("15.seconds").alias("w")
        ).select("k", "ts", "count(v) OVER w AS n")
    )
    by_sec = {r.ts.second: r.n for r in out3.to_df().collect()}
    assert by_sec == {0: 1, 10: 2, 40: 1}


def test_joined_streams_fluent_window_join(spark):
    """ref: JoinedStreams.java:128/:170/:272 — windowed equi-join."""
    import datetime

    base = datetime.datetime(2021, 1, 1)
    a = Stream(spark.createDataFrame(
        [("u1", base, 1.0), ("u2", base + datetime.timedelta(seconds=70), 2.0)],
        "uid string, ts timestamp, v double",
    ))
    b = Stream(spark.createDataFrame(
        [("u1", base + datetime.timedelta(seconds=10), 10.0),
         ("u2", base + datetime.timedelta(seconds=20), 20.0)],  # different window than u2's left row
        "user string, ts2 timestamp, w double",
    ))
    out = (
        a.join(b).where("uid").equal_to("user")
        .window("ts", "ts2", "1 minute")
        .apply("uid", "v", "w")
    )
    rows = [(r.uid, r.v, r.w) for r in out.df.collect()]
    # only u1 pairs up: u2's events fall in different 1-minute windows
    assert rows == [("u1", 1.0, 10.0)]

    import pytest

    with pytest.raises(ValueError, match="equal_to"):
        a.join(b).where("uid").window("ts", "ts2", "1 minute").apply()
    with pytest.raises(ValueError, match="window"):
        a.join(b).where("uid").equal_to("user").apply()


def test_cogrouped_streams_sees_one_sided_groups(spark):
    """ref: CoGroupedStreams.java:1 — unlike join, one-sided groups
    reach the apply function."""
    import datetime

    import pandas as pd

    base = datetime.datetime(2021, 1, 1)
    a = Stream(spark.createDataFrame(
        [("u1", base, 1.0), ("u3", base, 3.0)], "uid string, ts timestamp, v double",
    ))
    b = Stream(spark.createDataFrame(
        [("u1", base, 10.0), ("u2", base, 20.0)], "uid string, ts timestamp, w double",
    ))

    def summarize(key, left, right):
        return pd.DataFrame(
            [{"uid": key[0], "n_left": len(left), "n_right": len(right)}]
        )

    out = (
        a.co_group(b).where("uid").equal_to("uid")
        .window("ts", "ts", "1 minute")
        .apply(summarize, "uid string, n_left long, n_right long")
    )
    got = {r.uid: (r.n_left, r.n_right) for r in out.df.collect()}
    assert got == {"u1": (1, 1), "u2": (0, 1), "u3": (1, 0)}


def test_joined_streams_same_key_name_unambiguous(spark):
    """Regression: where('uid').equal_to('uid') — identical key names on
    both sides (the normal Flink pattern) must yield unambiguous output."""
    import datetime

    base = datetime.datetime(2021, 1, 1)
    a = Stream(spark.createDataFrame(
        [("u1", base, 1.0)], "uid string, ts timestamp, v double"))
    b = Stream(spark.createDataFrame(
        [("u1", base, 9.0)], "uid string, ts timestamp, w double"))
    out = (
        a.join(b).where("uid").equal_to("uid")
        .window("ts", "ts", "1 minute")
        .apply("uid", "v", "w")
    )
    assert [(r.uid, r.v, r.w) for r in out.df.collect()] == [("u1", 1.0, 9.0)]
    # default output (no select) also carries no duplicate names
    out2 = (
        a.join(b).where("uid").equal_to("uid").window("ts", "ts", "1 minute").apply()
    )
    assert out2.df.columns.count("uid") == 1


def test_over_window_following_unbounded(spark):
    """Regression: following(UNBOUNDED_ROW) must mean UNBOUNDED FOLLOWING."""
    from my_flink_1_10_2_spark.operators.windows import CURRENT_ROW, UNBOUNDED_ROW, Over
    from my_flink_1_10_2_spark.table import Table

    t = Table(spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 4.0)], "k string, seq long, v double"))
    out = (
        t.window(
            Over.partition_by("k").order_by("seq")
            .preceding(CURRENT_ROW).following(UNBOUNDED_ROW).alias("w")
        ).select("seq", "sum(v) OVER w AS rest")
    )
    got = {r.seq: r.rest for r in out.to_df().collect()}
    assert got == {1: 7.0, 2: 6.0, 3: 4.0}


def test_over_window_subsecond_interval_frame(spark):
    """Regression: sub-second interval frames are exact (epoch-millis
    range ordering), not truncated to whole seconds."""
    import datetime

    from my_flink_1_10_2_spark.operators.windows import Over
    from my_flink_1_10_2_spark.table import Table

    base = datetime.datetime(2021, 1, 1)
    t = Table(spark.createDataFrame(
        [("a", base + datetime.timedelta(milliseconds=ms), 1.0)
         for ms in (0, 300, 900)],
        "k string, ts timestamp, v double"))
    out = (
        t.window(Over.partition_by("k").order_by("ts").preceding("500 millis").alias("w"))
        .select("ts", "count(v) OVER w AS n")
    )
    got = {r.ts.microsecond // 1000: r.n for r in out.to_df().collect()}
    # 300ms frame [-200,300] sees rows at 0+300; 900ms frame [400,900] sees only itself
    assert got == {0: 1, 300: 2, 900: 1}
