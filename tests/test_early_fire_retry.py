"""Pinned regression: the early-fire replay must be IDEMPOTENT under
foreachBatch's at-least-once redelivery (ref contract unchanged:
ContinuousEventTimeTrigger.java onElement/onEventTime; the retry
semantics come from Structured Streaming's foreachBatch guarantee).

Round 4's driver environment redelivered micro-batches; the then
append-based accumulator double-counted panes and double-logged fires
(hash_match=false on q_early_fire_sequence/_hop).  The tests wrap the
handler the replay passes to ``Stream.for_each_batch``: one wrapper
forces every micro-batch through the handler twice, the other crashes
the query once after a chosen batch — the emission log must equal the
clean-run log exactly.  This test FAILS on the r4 append-based
implementation and passes on the overwrite-per-batch one.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.streaming.early_fire import continuous_early_fire_log
from my_flink_1_10_2_spark.streaming.stream import Stream

S = 1_000_000  # 1 second in micros

ROWS = [
    # (k, te, batch, v) — same fixture as test_early_fire.py: covers the
    # no-fire batch, the watermark-jump cascade, a late-key first fire,
    # and the end-of-input drain.
    ("a", 5 * S, 0, 1),
    ("a", 25 * S, 0, 2),
    ("a", 55 * S, 1, 4),
    ("b", 10 * S, 1, 10),
    ("a", 130 * S, 2, 8),
]


def _wrap_handler(monkeypatch, wrap):
    """Make every ``Stream.for_each_batch`` run ``wrap(fn)`` instead of
    the handler ``fn`` it is given."""
    orig = Stream.for_each_batch

    def for_each_batch(self, fn, checkpoint=None):
        return orig(self, wrap(fn), checkpoint)

    monkeypatch.setattr(Stream, "for_each_batch", for_each_batch)


def _redeliver(monkeypatch):
    """At-least-once simulation: every micro-batch reaches the handler
    twice."""

    def wrap(fn):
        def twice(batch_df, bid):
            fn(batch_df, bid)
            fn(batch_df, bid)

        return twice

    _wrap_handler(monkeypatch, wrap)


def _crash_once_after(monkeypatch, batch: int, marker: str):
    """Fail the query right after the handler has processed the
    micro-batch carrying ``batch``, the first time only (``marker``
    records that the crash happened)."""

    def wrap(fn):
        def crashing(batch_df, bid):
            fn(batch_df, bid)
            if batch_df.isEmpty() or os.path.exists(marker):
                return
            if batch_df.agg(F.max("batch")).first()[0] == batch:
                open(marker, "w").close()
                raise RuntimeError("injected mid-stream crash (test)")

        return crashing

    _wrap_handler(monkeypatch, wrap)


def _run(spark, monkeypatch, *, retry: bool, slide_us: int | None = None):
    src = spark.createDataFrame(ROWS, "k string, te long, batch long, v long")
    work = tempfile.mkdtemp(prefix="fl_ef_retry_")
    try:
        with monkeypatch.context() as m:
            if retry:
                _redeliver(m)
            log = continuous_early_fire_log(
                spark,
                src,
                work,
                ts_col="te",
                batch_col="batch",
                keys=["k"],
                value_col="v",
                size_us=60 * S,
                interval_us=20 * S,
                delay_us=10 * S,
                slide_us=slide_us,
            )
        return sorted(
            (r.k, r.window_start, r.fire_ts, r.fire_batch, r.fire_seq, r.cnt, r.v_sum)
            for r in log.collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("slide_s", [None, 20], ids=["tumbling", "sliding"])
def test_retried_batches_leave_log_unchanged(spark, monkeypatch, slide_s):
    slide_us = slide_s * S if slide_s else None
    clean = _run(spark, monkeypatch, retry=False, slide_us=slide_us)
    retried = _run(spark, monkeypatch, retry=True, slide_us=slide_us)
    assert clean  # fixture actually fires
    assert retried == clean


def test_lateness_update_log_idempotent_under_retry(spark, monkeypatch):
    """Same at-least-once pin for the allowedLateness re-emission log:
    forced double delivery must leave the (on_time + update) log
    byte-identical."""
    from my_flink_1_10_2_spark.streaming.early_fire import (
        allowed_lateness_update_log,
    )

    rows = [
        # (k, te, batch, v): window [0,60s) gets an on-time fire at
        # batch 1 and a late update at batch 2; [120,180) first-arrives
        # late (behind the watermark) and fires at arrival.
        ("a", 5 * S, 0, 1),
        ("a", 25 * S, 0, 2),
        ("b", 10 * S, 0, 10),
        ("a", 300 * S, 1, 4),
        ("a", 40 * S, 2, 8),       # late into [0,60) -> update
        ("a", 130 * S, 2, 16),     # first row of [120,180), behind wm
        ("a", 600 * S, 3, 1),
    ]

    def run(retry):
        import shutil
        import tempfile

        src = spark.createDataFrame(
            rows, "k string, te long, batch long, v long"
        )
        work = tempfile.mkdtemp(prefix="fl_late_retry_")
        try:
            with monkeypatch.context() as m:
                if retry:
                    _redeliver(m)
                log = allowed_lateness_update_log(
                    spark,
                    src,
                    work,
                    ts_col="te",
                    batch_col="batch",
                    keys=["k"],
                    value_col="v",
                    size_us=60 * S,
                    delay_us=10 * S,
                    lateness_us=600 * S,
                )
            return sorted(
                (r.k, r.window_start, r.fire_batch, r.kind, r.fire_seq,
                 r.cnt, r.v_sum)
                for r in log.collect()
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)

    clean = run(False)
    assert clean == run(True)
    # the semantics themselves: window [0,60) fires on time then updates
    a0 = [r for r in clean if r[0] == "a" and r[1] == 0]
    assert [(r[3], r[5], r[6]) for r in a0] == [("on_time", 2, 3), ("update", 3, 11)]
    # the late-first-arrival window fires once, at its arrival batch
    a120 = [r for r in clean if r[0] == "a" and r[1] == 120 * S]
    assert [(r[2], r[3], r[5]) for r in a120] == [(2, "on_time", 1)]


def test_crash_restart_resumes_from_checkpoint(spark, monkeypatch):
    """Kill the replay mid-stream (injected failure after a batch
    commits its state), restart against the SAME work dir: Structured
    Streaming resumes from the checkpoint (possibly redelivering the
    failed batch — at-least-once), and the idempotent per-batch writes
    make the final emission log identical to a clean run."""
    import shutil
    import tempfile

    from my_flink_1_10_2_spark.streaming.early_fire import (
        continuous_early_fire_log,
    )

    def run(work, fail_at):
        src = spark.createDataFrame(
            ROWS, "k string, te long, batch long, v long"
        )
        with monkeypatch.context() as m:
            if fail_at is not None:
                _crash_once_after(m, fail_at, f"{work}/crashed")
            log = continuous_early_fire_log(
                spark,
                src,
                work,
                ts_col="te",
                batch_col="batch",
                keys=["k"],
                value_col="v",
                size_us=60 * S,
                interval_us=20 * S,
                delay_us=10 * S,
            )
        return sorted(
            (r.k, r.window_start, r.fire_ts, r.fire_batch, r.fire_seq,
             r.cnt, r.v_sum)
            for r in log.collect()
        )

    clean_dir = tempfile.mkdtemp(prefix="fl_ef_clean_")
    crash_dir = tempfile.mkdtemp(prefix="fl_ef_crash_")
    try:
        clean = run(clean_dir, None)
        try:
            run(crash_dir, 1)  # crash while processing the middle batch
            raise AssertionError("injected crash did not surface")
        except Exception as ex:
            assert "injected" in str(ex) or "Query" in type(ex).__name__
        resumed = run(crash_dir, 1)  # marker exists: no second crash
        assert resumed == clean
    finally:
        shutil.rmtree(clean_dir, ignore_errors=True)
        shutil.rmtree(crash_dir, ignore_errors=True)
