"""Unbounded stream-stream retraction join (ref:
StreamingJoinOperator.java:37): no watermarks, eager outer null-padding,
-D retractions on late matches.  Truth = batch join over all the data."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from my_flink_1_10_2_spark.streaming import StreamExecutionEnvironment
from my_flink_1_10_2_spark.streaming.retraction_join import CHANGE_COL
from my_flink_1_10_2_spark.testing.changelog import apply_changelog

L_SCHEMA = StructType(
    [StructField("l_key", LongType()), StructField("l_val", StringType())]
)
R_SCHEMA = StructType(
    [StructField("r_key", LongType()), StructField("r_val", StringType())]
)


@pytest.fixture(scope="module")
def join_dirs(tmp_path_factory):
    """Two file streams, one file per micro-batch.  Left key 1 arrives in
    batch 0 but its right match only in batch 1 → a left-outer join must
    emit (1, null) then retract it.  Key 4 never matches."""
    d = tmp_path_factory.mktemp("rjoin")
    ldir, rdir = d / "left", d / "right"
    ldir.mkdir(), rdir.mkdir()
    l_files = [
        [(1, "a"), (2, "b")],          # batch 0
        [(3, "c"), (4, "d")],          # batch 1
    ]
    r_files = [
        [(2, "x")],                    # batch 0: only key 2 matches
        [(1, "y"), (3, "z"), (1, "y2")],  # batch 1: late matches for 1 (x2), 3
    ]
    for i, rows in enumerate(l_files):
        pq.write_table(
            pa.table(
                {"l_key": [r[0] for r in rows], "l_val": [r[1] for r in rows]}
            ),
            ldir / f"{i}.parquet",
        )
    for i, rows in enumerate(r_files):
        pq.write_table(
            pa.table(
                {"r_key": [r[0] for r in rows], "r_val": [r[1] for r in rows]}
            ),
            rdir / f"{i}.parquet",
        )
    # FileStreamSource admits files in modification-time order; identical
    # mtimes from fast consecutive writes can reorder batches under load,
    # making the "late" match arrive first. Pin distinct, increasing mtimes.
    for base in (ldir, rdir):
        for i in range(2):
            os.utime(base / f"{i}.parquet", (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    all_l = [r for rows in l_files for r in rows]
    all_r = [r for rows in r_files for r in rows]
    return str(ldir), str(rdir), all_l, all_r


def _run(spark, join_dirs, how):
    ldir, rdir, all_l, all_r = join_dirs
    env = StreamExecutionEnvironment(spark)
    left = env.from_files(ldir, L_SCHEMA, max_files_per_trigger=1)
    right = env.from_files(rdir, R_SCHEMA, max_files_per_trigger=1)
    rows: list[dict] = []

    def sink(batch_df, _bid):
        rows.extend(r.asDict() for r in batch_df.collect())

    rj = left.retract_join(right, on=[("l_key", "r_key")], how=how)
    try:
        rj.run(sink)
    finally:
        rj.cleanup()

    batch_truth = (
        spark.createDataFrame(
            [(k, v) for k, v in all_l], L_SCHEMA
        )
        .join(
            spark.createDataFrame([(k, v) for k, v in all_r], R_SCHEMA),
            on=[F.col("l_key") == F.col("r_key")],
            how={"left": "left_outer", "right": "right_outer",
                 "full": "full_outer"}.get(how, how),
        )
        .collect()
    )
    expected = sorted(
        tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
        for r in batch_truth
    )
    return rows, expected


@pytest.mark.parametrize("how", ["inner", "left", "full"])
def test_retract_join_converges_to_batch(spark, join_dirs, how):
    rows, expected = _run(spark, join_dirs, how)
    assert apply_changelog(rows) == expected


def test_retract_join_emits_retraction_for_late_match(spark, join_dirs):
    rows, _ = _run(spark, join_dirs, "left")
    retractions = [r for r in rows if r[CHANGE_COL] == "-D"]
    # key 1's null-padded row from batch 0 must be retracted in batch 1
    assert any(r["l_key"] == 1 and r["r_val"] is None for r in retractions)
    # key 4 never matches: its null-padded row survives un-retracted
    assert all(r["l_key"] != 4 for r in retractions)


def test_retract_join_rejects_overlapping_columns(spark):
    df = spark.createDataFrame([(1, "a")], L_SCHEMA)
    from my_flink_1_10_2_spark.streaming.retraction_join import RetractionJoin

    with pytest.raises(ValueError, match="disjoint"):
        RetractionJoin(df, df, on=[("l_key", "l_key")])


@pytest.mark.parametrize("trial", range(8))
def test_retract_join_randomized_interleavings(spark, tmp_path, trial):
    """Randomized differential: random key/value streams cut into random
    micro-batch files, random join type — the applied changelog must
    equal the batch join over all the data.  Covers interleavings the
    fixed fixture can't: multi-match keys arriving across batches,
    duplicate rows, rematch-after-retract cascades, empty batches."""
    import random as _random

    rng = _random.Random(860 + trial)
    how = ["inner", "left", "right", "full"][trial % 4]
    keyspace = list(range(1, 7))  # small keyspace -> heavy key collisions
    l_rows = [
        (rng.choice(keyspace), f"l{i}") for i in range(rng.randint(1, 12))
    ]
    r_rows = [
        (rng.choice(keyspace), f"r{i}") for i in range(rng.randint(1, 12))
    ]
    if rng.random() < 0.4:  # duplicate an exact row
        l_rows.append(rng.choice(l_rows))

    def _cut(rows, n_batches):
        cuts = sorted(rng.sample(range(len(rows) + 1), min(n_batches - 1, len(rows))))
        out, prev = [], 0
        for c in [*cuts, len(rows)]:
            out.append(rows[prev:c])
            prev = c
        return out

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(), rdir.mkdir()
    l_batches = _cut(l_rows, rng.randint(2, 4))
    r_batches = _cut(r_rows, rng.randint(2, 4))
    for base, batches, kcol, vcol in (
        (ldir, l_batches, "l_key", "l_val"),
        (rdir, r_batches, "r_key", "r_val"),
    ):
        for i, rows in enumerate(batches):
            pq.write_table(
                pa.table(
                    {kcol: [r[0] for r in rows], vcol: [r[1] for r in rows]},
                    schema=pa.schema([(kcol, pa.int64()), (vcol, pa.string())]),
                ),
                base / f"{i}.parquet",
            )
            os.utime(
                base / f"{i}.parquet",
                (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
            )

    env = StreamExecutionEnvironment(spark)
    left = env.from_files(str(ldir), L_SCHEMA, max_files_per_trigger=1)
    right = env.from_files(str(rdir), R_SCHEMA, max_files_per_trigger=1)
    rows: list[dict] = []

    def sink(batch_df, _bid):
        rows.extend(r.asDict() for r in batch_df.collect())

    rj = left.retract_join(right, on=[("l_key", "r_key")], how=how)
    try:
        rj.run(sink)
    finally:
        rj.cleanup()

    from collections import Counter

    batch_truth = (
        spark.createDataFrame(l_rows, L_SCHEMA)
        .join(
            spark.createDataFrame(r_rows, R_SCHEMA),
            on=[F.col("l_key") == F.col("r_key")],
            how={"left": "left_outer", "right": "right_outer",
                 "full": "full_outer"}.get(how, how),
        )
        .collect()
    )
    # multiset compare (None-padded cells make tuple ordering partial)
    expected = Counter(
        tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
        for r in batch_truth
    )
    changelog_rows = [dict(r) for r in rows]
    acc: Counter = Counter()
    for r in changelog_rows:
        change = r.pop(CHANGE_COL)
        key = tuple(sorted(r.items(), key=lambda kv: kv[0]))
        acc[key] += 1 if change == "+I" else -1
    acc = +acc  # drop zero entries
    assert acc == expected, (
        f"trial {trial} how={how} l={l_batches} r={r_batches}\n"
        f"extra={acc - expected}\nmissing={expected - acc}"
    )
