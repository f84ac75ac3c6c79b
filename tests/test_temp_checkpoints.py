"""Streaming runs that create their own checkpoint remove it when they
end; a checkpoint the caller passes is left alone."""

from __future__ import annotations

import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from my_flink_1_10_2_spark.streaming import StreamExecutionEnvironment
from my_flink_1_10_2_spark.streaming.retraction_join import RetractionJoin


@pytest.fixture()
def events(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), src / "0.parquet")
    return str(src)


def _leftover(root, prefix):
    return sorted(p.name for p in root.iterdir() if p.name.startswith(prefix))


def test_for_each_batch_removes_its_temporary_checkpoint(spark, events, tmp_path, monkeypatch):
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    seen = []
    stream = StreamExecutionEnvironment(spark).from_files(events, "k long, v string")
    stream.for_each_batch(lambda df, bid: seen.extend(r.k for r in df.collect()))
    assert sorted(seen) == [1, 2, 3]
    assert _leftover(scratch, "fl_ckpt_") == []

    own = tmp_path / "ckpt"
    stream.for_each_batch(lambda df, bid: None, checkpoint=str(own))
    assert (own / "offsets").is_dir()  # the caller's checkpoint stays


def test_retraction_join_removes_its_temporary_checkpoint(spark, events, tmp_path, monkeypatch):
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    left = spark.readStream.schema("k long, v string").parquet(events)
    right = spark.readStream.schema("rk long, rv string").parquet(events)
    join = RetractionJoin(left, right, on=[("k", "rk")])
    try:
        join.run(lambda df, bid: df.count())
        assert _leftover(scratch, "fl_join_ckpt_") == []
        assert _leftover(scratch, "fl_ckpt_") == []
    finally:
        join.cleanup()
