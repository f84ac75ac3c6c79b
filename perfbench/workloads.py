"""The benchmark's workloads and their output checks.

A query workload is a fixed list of registry queries.  One operation is
one query: ``spark_fn`` to build the plan, then the noop-sink action.
The ``stream_replay`` workload replays a fixed set of event files
closed-loop through the public Stream API; one operation is one replay,
and its unit of work is the event.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_WORKLOADS = {
    # A driver-looped graph iteration (many small Spark jobs inside
    # spark_fn), a one-shot graph join and a shard export roundtrip
    # (Python workers write shards, then read them back).
    "batch": ["q_pagerank", "q_triangle_count", "q_tfrecord_roundtrip"],
}

# Driver-looped queries: the jobs their spark_fn runs are supersteps.
ITERATIVE = {"q_pagerank"}

ROUNDTRIPS = {
    "q_tfrecord_roundtrip": "tfrecord",
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# stream_replay: one replay is STREAM_FILES micro-batches of
# STREAM_BATCH_ROWS events each, cut from the seeded events table.
STREAM_FILES = 3
STREAM_BATCH_ROWS = 1000
STREAM_JITTER_S = 1800  # out-of-order displacement, below the watermark delay
STREAM_WATERMARK = "1 hour"
STREAM_WINDOW = "1 hour"


def write_stream_files(events, out: str, seed: int) -> None:
    """Cut a seeded slice of ``events`` into STREAM_FILES parquet files.

    Each event is placed by ``ts + jitter`` with jitter in
    [0, STREAM_JITTER_S), so files arrive out of order by less than the
    watermark delay and no event is late.
    """
    rng = np.random.default_rng([seed, 11])
    n = STREAM_FILES * STREAM_BATCH_ROWS
    start = int(rng.integers(0, events.num_rows - n + 1))
    part = events.slice(start, n)
    ts_us = part.column("ts").cast("int64").to_numpy()
    order = np.argsort(ts_us + rng.integers(0, STREAM_JITTER_S * 1_000_000, n), kind="stable")
    # Zoned timestamps: Spark's watermark needs TIMESTAMP, not TIMESTAMP_NTZ.
    part = part.take(order).set_column(
        1, "ts", part.column("ts").take(order).cast(pa.timestamp("us", tz="UTC"))
    )
    os.makedirs(out, exist_ok=True)
    for i in range(STREAM_FILES):
        chunk = part.slice(i * STREAM_BATCH_ROWS, STREAM_BATCH_ROWS)
        pq.write_table(chunk, os.path.join(out, f"part-{i:04d}.parquet"))


def stream_pipeline(spark, files_dir: str, schema):
    """The replayed pipeline, built only from the engine's public Stream API."""
    from pyspark.sql import functions as F

    from my_flink_1_10_2_spark.streaming.stream import StreamExecutionEnvironment

    return (
        StreamExecutionEnvironment(spark)
        .from_files(files_dir, schema, max_files_per_trigger=1)
        .with_watermark("ts", STREAM_WATERMARK)
        .key_by("user_id")
        .tumble("ts", STREAM_WINDOW)
        .aggregate(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.max("value").alias("vmax"),
        )
    )


def stream_expected(con, files_dir: str, watermark_us: int) -> list[tuple]:
    """The batch groupBy(window, user_id) over the replayed events,
    restricted to the windows the final watermark has closed."""
    rows = con.execute(
        f"""
        SELECT ws, user_id, count(*) AS n, sum(cents) AS cents, max(value) AS vmax
        FROM (
            SELECT epoch_us(date_trunc('hour', ts)) AS ws, user_id, value,
                   round(value * 100)::BIGINT AS cents
            FROM read_parquet('{files_dir}/*.parquet')
        )
        WHERE ws + 3600000000 <= {watermark_us}
        GROUP BY ws, user_id
        """
    ).fetchall()
    return sorted(rows)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b or repr(a) == repr(b)


def compare_frames(got, want) -> str | None:
    """Exact comparison of two pandas frames after sorting columns by name
    and rows by every column (the rule of scripts/exact_compare.py).
    Returns None when equal, else a one-line reason."""
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g = got[gcols].sort_values(gcols, kind="mergesort").reset_index(drop=True)
    w = want[wcols].sort_values(wcols, kind="mergesort").reset_index(drop=True)
    for c in gcols:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not _same(a, b):
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None
