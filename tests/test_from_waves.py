"""``StreamExecutionEnvironment.from_waves``: the one bounded, ordered
replay.  Each wave is one micro-batch, in list order, whatever the event
times inside the waves say."""

from __future__ import annotations

import os

import pytest

from my_flink_1_10_2_spark.streaming import StreamExecutionEnvironment

# list order is the arrival order; event time (ts) and label order differ
WAVES = [
    [(30, "c"), (31, "c")],
    [(10, "z")],
    [(40, "a"), (41, "a"), (42, "a")],
    [(20, "m")],
]


def test_each_batch_holds_exactly_its_wave_in_wave_order(spark, tmp_path):
    waves = [spark.createDataFrame(rows, "ts long, label string") for rows in WAVES]
    replay = tmp_path / "replay"
    seen = []
    StreamExecutionEnvironment(spark).from_waves(waves, str(replay)).for_each_batch(
        lambda df, _bid: seen.append(sorted(tuple(r) for r in df.collect()))
    )
    assert seen == [sorted(rows) for rows in WAVES]
    names = sorted(os.listdir(replay))
    assert names == [f"part-{i:05d}.parquet" for i in range(len(WAVES))]
    mtimes = [os.stat(replay / n).st_mtime for n in names]
    assert mtimes == sorted(set(mtimes))  # strictly increasing


def test_a_wave_of_two_files_raises(spark, tmp_path):
    waves = [
        spark.createDataFrame([(1,)], "ts long"),
        spark.createDataFrame([(2,), (3,)], "ts long"),
    ]
    replay = tmp_path / "replay"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        with pytest.raises(ValueError, match="wave 1 wrote 2 files"):
            StreamExecutionEnvironment(spark).from_waves(waves, str(replay))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert os.listdir(replay) == ["part-00000.parquet"]  # only wave files
