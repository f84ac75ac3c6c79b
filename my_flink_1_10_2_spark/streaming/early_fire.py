"""Early-fire emission SEQUENCES on a live micro-batch stream.

The batch formulation in operators/triggers.py grades the *final* pane
contents of ContinuousEventTimeTrigger windows; this module grades the
*emission log* — which (window, boundary) panes fire, in which order,
with which contents, as the watermark advances across micro-batches —
the contract of the reference's per-element trigger machinery
(ref: flink-streaming-java/.../windowing/triggers/
ContinuousEventTimeTrigger.java:36 onElement/onEventTime re-registration,
WindowOperator.java:98 emitWindowContents).

Trigger contract reproduced (micro-batch watermark granularity):
  - onElement: the FIRST element of a (key, window) registers the next
    interval boundary after its own event timestamp
    (``t0 = ts - ts % interval + interval``).
  - onEventTime: a boundary fires when the watermark passes it; the
    trigger re-registers ``t + interval`` — so a watermark jump over
    several boundaries fires each of them (same pane contents, distinct
    fire timestamps), exactly like the reference's timer cascade.
  - A boundary already behind the watermark when the first element
    arrives fires at that batch (past event-time timers fire on the
    next watermark advance).
  - End of a bounded stream = +inf watermark: every remaining boundary
    up to the window end fires (the DataStream bounded-drain behavior).
  - The window end IS the last boundary (interval divides size), so the
    final firing is the complete pane.

The pane seen by a firing at batch ``b`` is every element of the
(key, window) that arrived in batches ``<= b`` — element accumulation,
no purging (PURGING composition is graded batch-side).

Scale shape: the per-batch work is one grouped aggregate + one
boundary-explode join over the accumulated state, all distributed; the
driver holds NO mutable state — watermarks are recomputed from the
accumulated per-batch parquet dirs, and every write overwrites a
batch-indexed subdir, so foreachBatch's at-least-once redelivery
(a retried micro-batch) reproduces identical bytes instead of
double-appending (the round-4 driver-environment failure mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.streaming.stream import StreamExecutionEnvironment

END_OF_INPUT_WM = 9_000_000_000_000_000_000  # +inf watermark (bounded drain)


def _replay(spark: SparkSession, src: DataFrame, batch_col: str, batches, work: str):
    """One micro-batch per ``batch_col`` value, in ``batches`` order."""
    waves = [src.where(F.col(batch_col) == b) for b in batches]
    return StreamExecutionEnvironment(spark).from_waves(waves, f"{work}/replay")


def continuous_early_fire_log(
    spark: SparkSession,
    src: DataFrame,
    work: str,
    *,
    ts_col: str = "te",
    batch_col: str = "batch",
    keys: list[str] | None = None,
    value_col: str = "v",
    size_us: int,
    interval_us: int,
    delay_us: int,
    slide_us: int | None = None,
    compact_every: int = 8,
) -> DataFrame:
    """Replay ``src`` (micro-units: ``ts_col``/boundaries in epoch
    MICROSECONDS so every comparison is exact integer arithmetic) one
    ``batch_col`` value per micro-batch through Structured Streaming,
    and return the early-fire emission log:

    ``(keys..., window_start, fire_ts, fire_batch, fire_seq, cnt,
    v_sum)`` — one row per (key, window, boundary) firing in emission
    order.  ``size_us % interval_us == 0`` required (aligned
    boundaries, the reference's precondition).

    ``slide_us`` switches to SLIDING windows (Flink's SlidingEventTime
    Windows): each element joins every window whose [start, start+size)
    covers it, and the trigger cascade runs per (key, window) exactly as
    for tumbling — ``slide_us`` must also be a multiple of
    ``interval_us`` so window ends stay boundary-aligned.

    A micro-batch redelivered to the foreachBatch handler (at-least-once)
    leaves the emission log byte-identical to a clean run."""
    if size_us % interval_us != 0:
        raise ValueError("interval must divide the window size")
    if slide_us is not None and slide_us % interval_us != 0:
        raise ValueError("interval must divide the slide")
    slide = slide_us or size_us
    keys = list(keys or [])
    batches = sorted(
        r[0] for r in src.select(batch_col).distinct().collect()
    )  # O(#batches) — the replay script itself
    n_batches = len(batches)
    batch_index = {b: i for i, b in enumerate(batches)}

    stream = _replay(spark, src, batch_col, batches, work)

    acc_dir, log_dir = f"{work}/acc", f"{work}/log"
    from my_flink_1_10_2_spark.streaming.state_dir import StateDir

    acc_state = StateDir(spark, acc_dir, src.schema, compact_every=compact_every)

    # Retry-proof by construction (foreachBatch is at-least-once; the
    # driver environment DID redeliver batches in round 4):
    #   - state writes go through StateDir (batch-indexed OVERWRITE +
    #     manifest; a redelivered batch is a durable no-op), which also
    #     folds the accumulated dirs into one snapshot every
    #     ``compact_every`` batches so the file count stays bounded on
    #     long replays;
    #   - the watermarks are derived from the DATA (max ts over the
    #     accumulated state, filtered by the batch COLUMN — exact even
    #     when a retry reads state that already includes this batch)
    #     plus the statically-known batch order, never from a mutable
    #     driver counter — a retry recomputes the exact same
    #     cur_wm/prev_wm.
    def on_batch(batch_df: DataFrame, _bid: int) -> None:
        if batch_df.isEmpty():
            return
        stats = batch_df.agg(
            F.max(batch_col).alias("b"), F.min(batch_col).alias("b_min")
        ).first()
        b = int(stats["b"])
        if int(stats["b_min"]) != b:
            raise RuntimeError(
                "early-fire replay invariant broken: one micro-batch "
                f"carries batch values {stats['b_min']}..{b} — the file "
                "source must deliver exactly one wave per trigger"
            )
        i = batch_index[b]

        acc_state.write_batch(batch_df, i)
        acc = acc_state.read()

        # watermark state from data, not driver memory: max event time
        # over batches <= i (cur) and < i (prev); the batch-column filter
        # (values sorted, so value order == index order) keeps both exact
        # under redelivery and across compaction snapshots.
        max_te = int(acc.agg(F.max(ts_col)).first()[0])
        cur_wm = END_OF_INPUT_WM if i == n_batches - 1 else max_te - delay_us
        if i == 0:
            prev_wm = -(2**62)
        else:
            prev_max = int(
                acc.where(F.col(batch_col) < b).agg(F.max(ts_col)).first()[0]
            )
            prev_wm = prev_max - delay_us
        # window assignment: tumbling = 1 window; sliding = every start
        # in (te - size, te] on the slide grid (size/slide windows)
        last_start = F.col(ts_col) - F.col(ts_col) % slide
        win_start = F.explode(
            F.sequence(
                last_start - size_us + slide, last_start, F.lit(slide)
            )
        ).alias("__ws")
        tagged = acc.select(*keys, ts_col, batch_col, value_col, win_start)

        # first_ts is "min ts WITHIN the earliest batch" (the first
        # PROCESSED element registers the timer), not the global min —
        # hence the two-step b0-then-filter aggregation
        b0 = tagged.groupBy(*keys, "__ws").agg(F.min(batch_col).alias("__b0"))
        first_ts = (
            tagged.join(b0, [*keys, "__ws"])
            .where(F.col(batch_col) == F.col("__b0"))
            .groupBy(*keys, "__ws", "__b0")
            .agg(F.min(ts_col).alias("__fts"))
        )
        fired = (
            first_ts.where(F.col("__b0") <= F.lit(b))
            .withColumn(
                "__t",
                F.explode(
                    F.sequence(
                        F.col("__fts") - F.col("__fts") % interval_us + interval_us,
                        F.col("__ws") + size_us,
                        F.lit(interval_us),
                    )
                ),
            )
            .where(
                (F.col("__t") <= F.lit(cur_wm))
                & ((F.col("__t") > F.lit(prev_wm)) | (F.col("__b0") == F.lit(b)))
            )
            .select(*keys, "__ws", "__t")
        )
        panes = tagged.groupBy(*keys, "__ws").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum(value_col).alias("v_sum")
        )
        log = fired.join(panes, [*keys, "__ws"]).select(
            *keys,
            F.col("__ws").alias("window_start"),
            F.col("__t").alias("fire_ts"),
            F.lit(b).cast("bigint").alias("fire_batch"),
            "cnt",
            "v_sum",
        )
        log.write.mode("overwrite").parquet(f"{log_dir}/b{i:03d}")

    stream.for_each_batch(on_batch, f"{work}/ckpt")

    from pyspark.sql import Window

    out = spark.read.parquet(*[f"{log_dir}/b{i:03d}" for i in range(n_batches)])
    seq = Window.partitionBy(*keys, "window_start").orderBy("fire_ts")
    return out.withColumn("fire_seq", F.row_number().over(seq).cast("bigint"))


def allowed_lateness_update_log(
    spark: SparkSession,
    src: DataFrame,
    work: str,
    *,
    ts_col: str = "te",
    batch_col: str = "batch",
    keys: list[str] | None = None,
    value_col: str = "v",
    size_us: int,
    delay_us: int,
    lateness_us: int,
    compact_every: int = 8,
) -> DataFrame:
    """allowedLateness UPDATE re-emissions on a live micro-batch stream
    (ref: flink-streaming-java .../windowing/WindowOperator.java:98
    isElementLate/allowedLateness + EventTimeTrigger.java): tumbling
    windows fire ON-TIME when the watermark passes the window end, then
    RE-FIRE an updated accumulated pane for every later batch that adds
    accepted late rows while ``wm < end + lateness``; rows later than
    that are DROPPED at arrival (never enter the pane).

    Returns ``(keys..., window_start, fire_batch, kind∈{'on_time',
    'update'}, fire_seq, cnt, v_sum)`` — the full re-emission log.

    Retry-proof by the same construction as
    :func:`continuous_early_fire_log`: per-batch-index OVERWRITE writes,
    watermarks derived from the accumulated data plus the static batch
    order (acceptance uses the PRE-batch watermark, the element-time
    drop test of the reference)."""
    keys = list(keys or [])
    batches = sorted(r[0] for r in src.select(batch_col).distinct().collect())
    n_batches = len(batches)
    batch_index = {b: i for i, b in enumerate(batches)}
    stream = _replay(spark, src, batch_col, batches, work)

    acc_dir, log_dir = f"{work}/acc", f"{work}/log"
    win_end = F.col(ts_col) - F.col(ts_col) % size_us + size_us
    from my_flink_1_10_2_spark.streaming.state_dir import StateDir

    acc_state = StateDir(spark, acc_dir, src.schema, compact_every=compact_every)

    def on_batch(batch_df: DataFrame, _bid: int) -> None:
        if batch_df.isEmpty():
            return
        stats = batch_df.agg(
            F.max(batch_col).alias("b"), F.min(batch_col).alias("b_min")
        ).first()
        b = int(stats["b"])
        if int(stats["b_min"]) != b:
            raise RuntimeError(
                "lateness replay invariant broken: mixed batch values "
                f"{stats['b_min']}..{b} in one micro-batch"
            )
        i = batch_index[b]
        if i == 0:
            prev_wm = -(2**62)
        else:
            # batch-column filter (not path lists): exact under
            # redelivery (state may already include batch i) and across
            # compaction snapshots
            prev_wm = int(
                acc_state.read().where(F.col(batch_col) < b)
                .agg(F.max(ts_col)).first()[0]
            ) - delay_us
        # the element-time drop test: a row whose window closed more than
        # `lateness` before the CURRENT watermark never enters state
        accepted = batch_df.where(win_end + lateness_us > F.lit(prev_wm))
        acc_state.write_batch(accepted, i)

        acc = acc_state.read()
        max_te = int(acc.agg(F.max(ts_col)).first()[0])
        cur_wm = END_OF_INPUT_WM if i == n_batches - 1 else max_te - delay_us

        tagged = acc.select(
            *keys, ts_col, batch_col, value_col, (win_end - size_us).alias("__ws")
        )
        panes = tagged.groupBy(*keys, "__ws").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_col).alias("v_sum"),
            F.min(batch_col).alias("__fa"),  # first-arrival batch value
        )
        end = F.col("__ws") + size_us
        # first firing = max(watermark-passes-end batch, first-arrival
        # batch): a window whose first row arrives AFTER the watermark
        # passed its end fires immediately at that arrival (the
        # reference's immediately-firing late timer), still its first
        # ('on_time') emission
        on_time = panes.where(
            (end <= F.lit(cur_wm))
            & ((end > F.lit(prev_wm)) | (F.col("__fa") == F.lit(b)))
        ).withColumn("kind", F.lit("on_time"))
        # windows touched by THIS batch's accepted rows — via the batch
        # column (the per-batch subdir may already be compacted away)
        batch_wins = (
            acc.where(F.col(batch_col) == b)
            .select((win_end - size_us).alias("__ws"), *keys)
            .distinct()
        )
        updates = (
            panes.join(batch_wins, [*keys, "__ws"])
            .where((end <= F.lit(prev_wm)) & (F.col("__fa") < F.lit(b)))
            .withColumn("kind", F.lit("update"))
        )
        log = on_time.unionByName(updates).select(
            *keys,
            F.col("__ws").alias("window_start"),
            F.lit(b).cast("bigint").alias("fire_batch"),
            "kind",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("v_sum").cast("bigint").alias("v_sum"),
        )
        log.write.mode("overwrite").parquet(f"{log_dir}/b{i:03d}")

    stream.for_each_batch(on_batch, f"{work}/ckpt")

    from pyspark.sql import Window

    out = spark.read.parquet(*[f"{log_dir}/b{i:03d}" for i in range(n_batches)])
    seq = Window.partitionBy(*keys, "window_start").orderBy("fire_batch")
    return out.withColumn("fire_seq", F.row_number().over(seq).cast("bigint"))
