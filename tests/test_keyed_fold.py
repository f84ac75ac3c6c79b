"""The keyed fold under the stateful stream operators (``KeyedStream._fold``):
running aggregates, count windows, streaming top-N and streaming CEP on a
three-wave ``from_waves`` replay with two keys.  Wave 1 holds key ``a``'s
rows out of ts order, so every answer below depends on the in-batch sort;
the expected rows are worked out by hand from the folded value orders

    a: 5 | 3, 6 | 1, 2      (ts 1 | 3, 5 | 6, 9)
    b: 2 | 6    | 1, 7      (ts 2 | 4    | 7, 8)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from my_flink_1_10_2_spark.operators.cep import Pattern, match_recognize_stream
from my_flink_1_10_2_spark.streaming import Stream, StreamExecutionEnvironment

WAVES = [
    [("a", 1, 5.0), ("b", 2, 2.0)],
    [("a", 5, 6.0), ("a", 3, 3.0), ("b", 4, 6.0)],
    [("a", 6, 1.0), ("a", 9, 2.0), ("b", 7, 1.0), ("b", 8, 7.0)],
]

RUNNING = {
    "sum": [5, 8, 14, 15, 17, 2, 8, 9, 16],
    "count": [1, 2, 3, 4, 5, 1, 2, 3, 4],
    "min": [5, 3, 3, 1, 1, 2, 2, 1, 1],
    "max": [5, 5, 6, 6, 6, 2, 6, 6, 7],
}
ROW_ORDER = [("a", 1), ("a", 3), ("a", 5), ("a", 6), ("a", 9),
             ("b", 2), ("b", 4), ("b", 7), ("b", 8)]
VALUE = {(k, ts): v for wave in WAVES for k, ts, v in wave}

COUNT_WINDOW = [("a", 0, 2, 8.0), ("a", 1, 2, 7.0), ("b", 0, 2, 8.0), ("b", 1, 2, 8.0)]
# wave 2 leaves key a's top-2 as it was, so a emits nothing there
TOP_N = [
    ("a", 1, 5.0, 1),
    ("a", 5, 6.0, 1), ("a", 1, 5.0, 2),
    ("b", 2, 2.0, 1),
    ("b", 4, 6.0, 1), ("b", 2, 2.0, 2),
    ("b", 8, 7.0, 1), ("b", 4, 6.0, 2),
]


def _stream(spark, replay, waves=WAVES):
    dfs = [spark.createDataFrame(w, "k string, ts long, v double") for w in waves]
    return StreamExecutionEnvironment(spark).from_waves(dfs, str(replay))


def _run(stream, checkpoint=None):
    got = []
    stream.for_each_batch(lambda df, _bid: got.extend(tuple(r) for r in df.collect()), checkpoint)
    return sorted(got)


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    """One staged replay; every query reads it under its own checkpoint."""
    return _stream(spark, tmp_path_factory.mktemp("keyed_fold") / "replay")


@pytest.mark.parametrize("how", sorted(RUNNING))
def test_running_agg(stream, how):
    want = [(k, ts, VALUE[k, ts], float(r)) for (k, ts), r in zip(ROW_ORDER, RUNNING[how])]
    assert _run(stream.key_by("k").running_agg("v", "ts", how)) == want


def test_count_window(stream):
    assert _run(stream.key_by("k").count_window(2, "v", "ts")) == COUNT_WINDOW


def test_count_window_all(stream):
    # one key over the ts-sorted waves: 5 2 3 | 6 6 1 | 1 7 2
    want = [(0, 3, 10.0), (1, 3, 13.0), (2, 3, 10.0)]
    assert _run(stream.count_window_all(3, "v", "ts")) == want


def test_count_window_slide(stream):
    want = [("a", 2, 2, 8.0), ("a", 4, 3, 10.0), ("b", 2, 2, 8.0), ("b", 4, 3, 14.0)]
    assert _run(stream.key_by("k").count_window_slide(3, 2, "v", "ts")) == want


def test_top_n(stream):
    assert _run(stream.key_by("k").top_n(2, "v")) == sorted(TOP_N)


def test_match_recognize_stream(stream):
    pattern = (
        Pattern.begin("a", lambda r, c: True)
        .next("b", lambda r, c: r["v"] < c["a"][-1]["v"])
        .next("c", lambda r, c: r["v"] > c["b"][-1]["v"])
    )
    measures = {
        "k": lambda m: m["a"][0]["k"],
        "start_ts": lambda m: int(m["a"][0]["ts"]),
        "a_v": lambda m: float(m["a"][0]["v"]),
    }
    out = match_recognize_stream(
        stream.df, ["k"], "ts", pattern, measures,
        "k string, start_ts long, a_v double", max_pattern_rows=3,
    )
    # both V shapes of `a` and the one of `b` span a wave boundary
    assert _run(Stream(out)) == [("a", 1, 5.0), ("a", 5, 6.0), ("b", 4, 6.0)]


@pytest.mark.parametrize(
    "op, want",
    [
        (lambda s: s.key_by("k").top_n(2, "v"), sorted(TOP_N)),
        (lambda s: s.key_by("k").count_window(2, "v", "ts"), COUNT_WINDOW),
    ],
    ids=["top_n", "count_window"],
)
def test_restart_from_checkpoint_equals_one_run(spark, tmp_path, op, want):
    """Frame state (top_n) and struct state (count_window) survive a
    restart: waves 0-1 under a checkpoint, then wave 2 staged and the
    query restarted on the same checkpoint."""
    ckpt = str(tmp_path / "ckpt")
    first = _run(op(_stream(spark, tmp_path / "replay", WAVES[:2])), ckpt)
    second = _run(op(_stream(spark, tmp_path / "replay")), ckpt)
    assert sorted(first + second) == want


def test_frame_state_codec_keeps_dtypes():
    """Frame state (top_n buffer, CEP tail) round-trips timestamps, arrays
    and nulls through its Arrow IPC bytes with the dtypes it had."""
    from my_flink_1_10_2_spark.streaming.stream import _decode_frame, _encode_frame

    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2020-01-01 00:00:00.000001", "2020-01-02 00:00:00.000000"]),
        "arr": [np.array([1.0, 2.0]), np.array([3.0])],
        "s": ["x", None],
        "n": np.array([1, 2], dtype="int64"),
    })
    for frame in (pdf, pdf.head(0)):
        back = _decode_frame(_encode_frame(frame))
        assert back.dtypes.to_dict() == frame.dtypes.to_dict()
        assert back.drop(columns="arr").equals(frame.drop(columns="arr"))
        assert [list(a) for a in back["arr"]] == [list(a) for a in frame["arr"]]
