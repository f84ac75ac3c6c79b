"""StateDir — bounded-growth parquet state (manifest + batch-overwrite +
fold-into-snapshot compaction), the policy behind the forever-stateful
ops (retraction join, early-fire replay).  Verdict item: a 200+-batch
replay must keep the state-dir file count bounded with the content still
exact."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.streaming.retraction_join import RetractionJoin
from my_flink_1_10_2_spark.streaming.state_dir import StateDir
from my_flink_1_10_2_spark.testing.changelog import apply_changelog


def _batch(spark, i):
    return spark.createDataFrame([(i, f"v{i}")], "k long, v string").coalesce(1)


def test_long_replay_bounded_files_exact_content(spark, tmp_path):
    """220 batches: file count stays bounded by the compaction window
    (never anywhere near 220 dirs), content equals the exact union."""
    st = StateDir(spark, str(tmp_path / "st"), "k long, v string", compact_every=16)
    max_files = 0
    for i in range(220):
        st.write_batch(_batch(spark, i), i)
        max_files = max(max_files, st.file_count())
    # bound: 16 batch dirs x (1 part + _SUCCESS) + snapshot files + manifest.
    # 220 un-compacted batches would be >= 440 files.
    assert max_files < 80, f"state files grew to {max_files}"
    assert len(st.live_dirs()) <= 16
    rows = sorted((r.k, r.v) for r in st.read().collect())
    assert rows == [(i, f"v{i}") for i in range(220)]
    assert st.applied_index() == 219


def test_redelivery_is_noop_even_after_compaction(spark, tmp_path):
    """A replayed batch whose rows were already folded into a snapshot
    must NOT re-enter the state (the double-count failure mode)."""
    st = StateDir(spark, str(tmp_path / "st"), "k long, v string", compact_every=4)
    for i in range(9):  # compactions at i=3 and i=7
        st.write_batch(_batch(spark, i), i)
    assert any(d.startswith("c") for d in st.live_dirs())
    before = sorted((r.k, r.v) for r in st.read().collect())
    for i in (2, 5, 8):  # redeliver compacted AND live batches
        st.write_batch(_batch(spark, i), i)
    assert sorted((r.k, r.v) for r in st.read().collect()) == before
    assert st.read().count() == 9


def test_orphan_dirs_are_invisible_and_cleaned(spark, tmp_path):
    """A dir not in the manifest (crash between snapshot write and
    manifest flip) is never read and is removed by the next compaction."""
    st = StateDir(spark, str(tmp_path / "st"), "k long, v string", compact_every=4)
    st.write_batch(_batch(spark, 0), 0)
    # fabricate an orphan (simulated crash remnant)
    _batch(spark, 999).write.mode("overwrite").parquet(str(tmp_path / "st" / "b99999999"))
    assert st.read().count() == 1  # orphan invisible to readers
    for i in range(1, 4):  # triggers compaction at i=3
        st.write_batch(_batch(spark, i), i)
    assert not os.path.exists(str(tmp_path / "st" / "b99999999"))
    assert st.read().count() == 4


def test_empty_state_and_validation(spark, tmp_path):
    st = StateDir(spark, str(tmp_path / "st"), "k long, v string")
    assert st.read().count() == 0
    assert st.applied_index() == -1
    with pytest.raises(ValueError, match="compact_every"):
        StateDir(spark, str(tmp_path / "x"), "k long", compact_every=1)


def test_retraction_join_compaction_matches_batch_oracle(spark, tmp_path):
    """The full streaming retraction join with an aggressive compaction
    window (every 4 batches over ~12 micro-batches): the materialized
    changelog still equals the batch outer join, and the state dirs end
    bounded."""
    n = 24
    left = spark.createDataFrame(
        [(i, i % 7, f"l{i}") for i in range(n)], "lb int, lk int, lv string"
    )
    right = spark.createDataFrame(
        [(i, (i + 3) % 7, f"r{i}") for i in range(n)], "rb int, rk int, rv string"
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left.repartition("lb").write.partitionBy("lb").parquet(ldir)
    right.repartition("rb").write.partitionBy("rb").parquet(rdir)
    lstream = (
        spark.readStream.schema("lk int, lv string, lb int")
        .option("maxFilesPerTrigger", 2)
        .parquet(ldir)
        .drop("lb")
    )
    rstream = (
        spark.readStream.schema("rk int, rv string, rb int")
        .option("maxFilesPerTrigger", 2)
        .parquet(rdir)
        .drop("rb")
    )
    rj = RetractionJoin(
        lstream,
        rstream,
        on=[("lk", "rk")],
        how="full",
        state_dir=str(tmp_path / "state"),
        compact_every=4,
    )
    collected: list[dict] = []

    def sink(df, _bid):
        collected.extend(r.asDict() for r in df.collect())

    rj.run(sink, checkpoint=str(tmp_path / "ck"))
    got = apply_changelog(collected)
    expect = sorted(
        tuple(sorted(r.asDict().items()))
        for r in left.drop("lb").join(
            right.drop("rb"), F.col("lk") == F.col("rk"), "full"
        ).collect()
    )
    assert got == expect
    # both sides' state stayed within the compaction window
    assert len(rj._stateL.live_dirs()) <= 4
    assert len(rj._stateR.live_dirs()) <= 4
    assert any(d.startswith("c") for d in rj._stateL.live_dirs() + rj._stateR.live_dirs())
    rj.cleanup()
