"""DataStream-like fluent API compiled to Structured Streaming.

Reference surface → Spark mapping (SURVEY §2):
  - env.addSource / readTextFile / socketTextStream
      (StreamExecutionEnvironment.java:1517,1062,1396) → ``readStream``
  - env.fromCollection / fromElements (bounded, ordered)
      → ``from_waves``: one file per wave, one wave per micro-batch
  - DataStream.map/flatMap/filter (DataStream.java:588,632,731)
      → select/where (declarative, codegen'd)
  - assignTimestampsAndWatermarks (BoundedOutOfOrdernessTimestampExtractor.java:32)
      → ``withWatermark`` (bounded out-of-orderness is the one Spark model)
  - keyBy().window().aggregate (WindowedStream.java)
      → ``groupBy(window(...), key).agg``
  - keyBy().process(ProcessFunction) (KeyedProcessOperator.java)
      → ``applyInPandasWithState`` (timers ≈ state timeouts)
  - side outputs (SingleOutputStreamOperator.java:399)
      → filter-split in foreachBatch
  - print/addSink (DataStream.java:1001,1318)
      → writeStream sinks (console/memory/foreachBatch/files)

Retraction story: streaming group-aggs emit changelogs in the reference
(BaseRow.java:40-47 ACCUMULATE/RETRACT).  Spark's `update`/`complete`
output modes carry the same information; `with_change_flag` materializes
an explicit ``__change`` column in foreachBatch for sinks that need
deltas (SURVEY §7.2 step 6).
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.sources import streaming as _sources


def _encode_frame(pdf) -> bytes:
    """Frame-valued keyed state as one Arrow IPC stream."""
    import pyarrow as pa

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def _decode_frame(data):
    """Inverse of :func:`_encode_frame`."""
    import pyarrow as pa

    return pa.ipc.open_stream(bytes(data)).read_all().to_pandas()


def _col(e):
    return e if isinstance(e, Column) else F.expr(e)


class StreamExecutionEnvironment:
    """Streaming entry point (ref: StreamExecutionEnvironment.java)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def from_rate(self, rows_per_second: int = 100) -> "Stream":
        return Stream(_sources.rate_source(self.spark, rows_per_second))

    def from_files(self, path: str, schema, fmt: str = "parquet", max_files_per_trigger: int = 1) -> "Stream":
        """File-based source with per-trigger pacing — the test harness's
        deterministic replacement for a Kafka source."""
        return Stream(_sources.file_stream_source(self.spark, path, schema, fmt, max_files_per_trigger))

    def from_waves(self, waves: list[DataFrame], replay_dir: str) -> "Stream":
        """Bounded, ordered replay (ref: StreamExecutionEnvironment
        .fromCollection/fromElements): each DataFrame of ``waves`` arrives
        as one micro-batch, in list order, so the order of the waves — not
        the event times in them — fixes how the watermark advances.

        Wave ``i`` is staged outside ``replay_dir`` and moved in as the one
        file ``part-{i:05d}.parquet`` with mtime ``base + i``: the file
        source orders micro-batches by modification time, and copy mtimes
        can collide within one clock tick, so they are set strictly
        increasing; ``maxFilesPerTrigger=1`` then hands one file to each
        trigger.  Staging again into the same ``replay_dir`` overwrites the
        same names, so a restart from a checkpoint sees no new files.  The
        stream takes the schema of ``waves[0]``; a wave that does not write
        exactly one file raises ValueError."""
        os.makedirs(replay_dir, exist_ok=True)
        stage = tempfile.mkdtemp(prefix="fl_waves_")
        base = time.time() - 3600
        try:
            for i, wave in enumerate(waves):
                wave.coalesce(1).write.parquet(f"{stage}/{i}")
                parts = glob.glob(f"{stage}/{i}/part-*.parquet")
                if len(parts) != 1:
                    raise ValueError(f"wave {i} wrote {len(parts)} files, not one")
                dst = os.path.join(replay_dir, f"part-{i:05d}.parquet")
                shutil.move(parts[0], dst)
                os.utime(dst, (base + i, base + i))
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return self.from_files(replay_dir, waves[0].schema, max_files_per_trigger=1)

    def socket_text_stream(self, host: str, port: int) -> "Stream":
        """(ref: StreamExecutionEnvironment.socketTextStream:1396)"""
        return Stream(_sources.socket_text_stream(self.spark, host, port))


class Stream:
    """Possibly-unbounded stream (ref: DataStream.java:1)."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- row-level ----------------------------------------------------------
    def select(self, *exprs) -> "Stream":
        return Stream(self.df.select(*[_col(e) for e in exprs]))

    map = select

    def filter(self, predicate) -> "Stream":
        return Stream(self.df.filter(_col(predicate)))

    def flat_map(self, generator_expr) -> "Stream":
        """1→N via a generator expression (explode & friends)."""
        return Stream(self.df.select("*", _col(generator_expr)))

    def union(self, other: "Stream") -> "Stream":
        return Stream(self.df.unionByName(other.df))

    def join(self, other: "Stream") -> "JoinedStreams":
        """Fluent windowed stream join (ref: DataStream.join →
        JoinedStreams.java:128 where/equalTo, :170 window, :272 apply):

            a.join(b).where("uid").equal_to("user_id")
             .window("ts", "ts2", "1 minute").apply("uid", "a.v", "b.v")
        """
        return JoinedStreams(self, other)

    def co_group(self, other: "Stream") -> "CoGroupedStreams":
        """Fluent windowed coGroup (ref: DataStream.coGroup →
        CoGroupedStreams.java:1 — per key+window, BOTH groups are handed
        to the apply function, including one-sided groups)."""
        return CoGroupedStreams(self, other)

    def project(self, *fields) -> "Stream":
        """Positional or named projection (ref: DataStream.project:1278 —
        the reference selects tuple fields by index)."""
        cols = [
            self.df.columns[f] if isinstance(f, int) else f for f in fields
        ]
        return Stream(self.df.select(*cols))

    # -- physical partitioning (ref: DataStream.java shuffle:1212,
    # rebalance:1246, rescale:1270, global:1297, forward:1224,
    # partitionCustom:1137; Spark exchanges are the direct analogs) -------
    def shuffle(self, num_partitions: int | None = None) -> "Stream":
        """Random redistribution (ref: DataStream.shuffle:1212).  Spark's
        keyless repartition is round-robin rather than random — the same
        uniform-balance contract without the RNG."""
        df = self.df.repartition(num_partitions) if num_partitions else self.df.repartition()
        return Stream(df)

    def rebalance(self, num_partitions: int | None = None) -> "Stream":
        """Round-robin redistribution (ref: DataStream.rebalance:1246)."""
        return self.shuffle(num_partitions)

    def rescale(self, num_partitions: int) -> "Stream":
        """Local scale-down (ref: DataStream.rescale:1270) — `coalesce`
        merges partitions without a full shuffle, the same
        locality-preserving contract."""
        return Stream(self.df.coalesce(num_partitions))

    def global_(self) -> "Stream":
        """Everything to one task (ref: DataStream.global:1297).  The
        single-partition bottleneck is intentional there and here —
        prefer keyed ops at scale."""
        return Stream(self.df.repartition(1))

    def forward(self) -> "Stream":
        """Identity partitioning (ref: DataStream.forward:1224) — a
        no-op: Spark already chains narrow stages without an exchange."""
        return self

    def partition_custom(self, expr, num_partitions: int) -> "Stream":
        """Partition by an expression's hash (ref:
        DataStream.partitionCustom:1137)."""
        return Stream(self.df.repartition(num_partitions, _col(expr)))

    # -- event time ---------------------------------------------------------
    def assign_timestamps_and_watermarks(self, ts_col: str, max_out_of_orderness: str) -> "Stream":
        """Bounded out-of-orderness watermark (ref:
        BoundedOutOfOrdernessTimestampExtractor.java:70 — wm = maxTs − delay;
        Spark implements exactly this)."""
        return Stream(self.df.withWatermark(ts_col, max_out_of_orderness))

    with_watermark = assign_timestamps_and_watermarks

    def assign_ascending_timestamps(self, ts_col: str) -> "Stream":
        """Monotonic event time (ref: DataStream.assignAscendingTimestamps
        :894 / AscendingTimestampExtractor.java) — a zero-delay
        watermark."""
        return Stream(self.df.withWatermark(ts_col, "0 seconds"))

    # -- keyed ops ----------------------------------------------------------
    def key_by(self, *keys) -> "KeyedStream":
        return KeyedStream(self.df, list(keys))

    # -- non-keyed (windowAll) windows --------------------------------------
    # ref: DataStream.windowAll / AllWindowedStream.java:1 — window
    # assignment without a key.  Spark-first this is simply a groupBy on
    # the window column alone; unlike the reference (which funnels all
    # rows through one subtask), the partial aggregation stays
    # parallel — only |windows| rows cross the final exchange.
    def tumble_all(self, ts_col: str, size: str) -> "WindowedStream":
        """Non-keyed tumbling window (ref: DataStream.timeWindowAll:579)."""
        return WindowedStream(self.df, [], F.window(ts_col, size), ts_col)

    def hop_all(self, ts_col: str, size: str, slide: str) -> "WindowedStream":
        """Non-keyed sliding window (ref: DataStream.timeWindowAll(size, slide))."""
        return WindowedStream(self.df, [], F.window(ts_col, size, slide), ts_col)

    def session_all(self, ts_col: str, gap: str) -> "WindowedStream":
        """Non-keyed session window (ref: AllWindowedStream +
        EventTimeSessionWindows)."""
        return WindowedStream(self.df, [], F.session_window(ts_col, gap), ts_col)

    def count_window_all(self, n: int, value_col: str, ts_col: str) -> "Stream":
        """Non-keyed count window (ref: DataStream.countWindowAll:612 —
        GlobalWindows + CountTrigger(n)).  Like the reference, the
        counting is inherently serial, so rows route through a single
        constant key; use the keyed variant whenever a key exists."""
        keyed = KeyedStream(self.df.withColumn("__all", F.lit(0)), ["__all"])
        out = keyed.count_window(n, value_col, ts_col)
        return Stream(out.df.drop("__all"))

    def connect(self, other: "Stream") -> "ConnectedStreams":
        """Pair this stream with another for shared-state co-processing
        (ref: DataStream.connect:257)."""
        return ConnectedStreams(self, other)

    def connect_broadcast(
        self, control_df: DataFrame, fold: Callable[[dict, DataFrame], dict]
    ) -> "BroadcastConnectedStream":
        """Connect with a broadcast control side (ref:
        DataStream.broadcast(stateDesc):430)."""
        return BroadcastConnectedStream(self, control_df, fold)

    def drop_duplicates(self, keys: list[str], within_watermark: bool = False) -> "Stream":
        """Streaming keep-first dedup (ref:
        DeduplicateKeepFirstRowFunction.java:34).  With a watermark set,
        state is evicted as event time advances (the reference's state
        TTL); ``within_watermark`` uses Spark's
        ``dropDuplicatesWithinWatermark`` relaxation."""
        if within_watermark:
            return Stream(self.df.dropDuplicatesWithinWatermark(keys))
        return Stream(self.df.dropDuplicates(keys))

    # -- joins --------------------------------------------------------------
    def interval_join(
        self,
        other: "Stream",
        key: tuple[str, str],
        time: tuple[str, str],
        lower: str,
        upper: str,
    ) -> "Stream":
        """Stream-stream interval join (ref: TimeBoundedStreamJoin.java:52)
        — both sides must carry watermarks; Spark bounds state from the
        interval condition exactly like the reference's cleanup timers."""
        from my_flink_1_10_2_spark.operators.joins import interval_join as _ij

        return Stream(_ij(self.df, other.df, key, time, lower, upper))

    def retract_join(
        self,
        other: "Stream",
        on: list[tuple[str, str]],
        how: str = "inner",
        state_dir: str | None = None,
    ):
        """Unbounded stream-stream join with retractions (ref:
        StreamingJoinOperator.java:37) — no watermark required on either
        side; OUTER results are null-padded eagerly and retracted
        (``__change='-D'``) when a late match arrives.  Returns a
        :class:`RetractionJoin`; call ``.run(sink_fn)`` to execute."""
        from my_flink_1_10_2_spark.streaming.retraction_join import RetractionJoin

        return RetractionJoin(self.df, other.df, on, how, state_dir)

    def lookup_join(self, static_df: DataFrame, on, how: str = "left") -> "Stream":
        """Lookup (dimension) join: stream × static table (ref:
        LookupJoinRunner.java).  Spark re-plans the static side per
        micro-batch — the same freshness model as the reference's
        per-record lookup with caching; broadcast keeps it shuffle-free.
        The hint is size-gated (`operators.hints.dim`) so an
        unexpectedly large lookup table degrades to a shuffle join
        instead of an executor OOM."""
        from my_flink_1_10_2_spark.operators.hints import dim

        return Stream(self.df.join(dim(static_df), on, how))

    # -- sinks --------------------------------------------------------------
    def to_memory_sink(
        self,
        name: str | None = None,
        output_mode: str = "append",
        await_termination: bool = True,
    ):
        """Run the stream into an in-memory table (test/queryable-state
        substitute, SURVEY §2.10) using availableNow (process everything,
        then stop).  Returns (query, table_name)."""
        name = name or f"sink_{uuid.uuid4().hex[:8]}"
        q = _sources.memory_sink(self.df, name, output_mode, available_now=True)
        if await_termination:
            q.awaitTermination()
        return q, name

    def for_each_batch(self, fn: Callable[[DataFrame, int], None], checkpoint: str | None = None):
        """foreachBatch sink (ref: addSink/TwoPhaseCommitSinkFunction —
        exactly-once via Spark's checkpoint + idempotent batch writes).
        Without a ``checkpoint`` the run gets a temporary one, removed
        when the run ends."""
        writer = self.df.writeStream.foreachBatch(fn).trigger(availableNow=True)
        owned = checkpoint is None
        if owned:
            checkpoint = tempfile.mkdtemp(prefix="fl_ckpt_")
        try:
            q = writer.option("checkpointLocation", checkpoint).start()
            q.awaitTermination()
        finally:
            if owned:
                shutil.rmtree(checkpoint, ignore_errors=True)
        return q

    def _for_each_batch_split(self, is_late, mark_col, on_time_fn, late_fn, checkpoint):
        """The one late-split loop: per micro-batch, rows for which
        ``is_late(mark)`` holds go to ``late_fn``, the rest to
        ``on_time_fn``; then the mark rises to the batch's max
        ``mark_col``.  Before the first mark nothing is late.  The mark is
        one value in the foreachBatch closure (driver-side, O(1) state)."""
        mark = None

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            nonlocal mark
            batch_df = batch_df.persist()
            try:
                if mark is not None:
                    late = is_late(mark)
                    late_fn(batch_df.filter(late), batch_id)
                    on_time_fn(batch_df.filter(~late), batch_id)
                else:
                    late_fn(batch_df.limit(0), batch_id)
                    on_time_fn(batch_df, batch_id)
                mx = batch_df.agg(F.max(mark_col).alias("m")).first()["m"]
                if mx is not None and (mark is None or mx > mark):
                    mark = mx
            finally:
                batch_df.unpersist()

        return self.for_each_batch(handle, checkpoint)

    def for_each_batch_with_late_split(
        self,
        ts_col: str,
        allowed_lateness_seconds: float,
        on_time_fn: Callable[[DataFrame, int], None],
        late_fn: Callable[[DataFrame, int], None],
        checkpoint: str | None = None,
    ):
        """allowedLateness + sideOutputLateData (ref:
        WindowedStream.java:158,177): rows older than the observed
        event-time high-water mark minus the allowance are routed to
        ``late_fn`` (the dead-letter side output) instead of silently
        dropping; everything else flows to ``on_time_fn``.

        The high-water mark is the running max event time across batches
        — the same quantity Spark's watermark tracks.
        """
        import datetime as _dt

        delta = _dt.timedelta(seconds=allowed_lateness_seconds)
        return self._for_each_batch_split(
            lambda hwm: F.col(ts_col) < F.lit(hwm - delta),
            ts_col, on_time_fn, late_fn, checkpoint,
        )

    def assign_punctuated(
        self,
        assigner: "AssignerWithPunctuatedWatermarks",
        on_time_fn: Callable[[DataFrame, int], None],
        late_fn: Callable[[DataFrame, int], None],
        checkpoint: str | None = None,
    ):
        """The reference's per-record assigner API shape (ref:
        AssignerWithPunctuatedWatermarks.java — extractTimestamp +
        checkAndGetNextWatermark per element), lowered onto the
        marker-row machinery below.  The assigner's two methods return
        COLUMN expressions, so the per-record logic runs JVM-side."""
        ts = assigner.extract_timestamp(self.df)
        with_ts = self.df.withColumn("__punct_ts", ts)
        wm = assigner.check_and_get_next_watermark(
            with_ts, F.col("__punct_ts")
        )
        return Stream(
            with_ts.withColumn("__punct_wm", wm)
        ).for_each_batch_with_punctuated_watermarks(
            "__punct_wm", "__punct_ts", on_time_fn, late_fn, checkpoint
        )

    def for_each_batch_with_punctuated_watermarks(
        self,
        wm_col: str,
        ts_col: str,
        on_time_fn: Callable[[DataFrame, int], None],
        late_fn: Callable[[DataFrame, int], None],
        checkpoint: str | None = None,
    ):
        """Punctuated watermarks (ref: AssignerWithPunctuatedWatermarks
        .java — checkAndGetNextWatermark per record): event time advances
        only from MARKER rows, not from every element's timestamp.

        ``wm_col`` is a column that is non-null exactly on marker rows
        and carries the watermark they announce (build it upstream with
        ``F.when(is_marker, ts)``).  Per micro-batch, rows with
        ``ts_col`` ≤ the highest watermark announced by any PREVIOUS
        batch route to ``late_fn`` (side output); then the high-water
        mark absorbs this batch's markers.  Like the reference, a stream
        with no markers never advances event time and nothing is late.
        """
        return self._for_each_batch_split(
            lambda wm: F.col(ts_col) <= F.lit(wm),
            wm_col, on_time_fn, late_fn, checkpoint,
        )

    def rowtime_sort(
        self,
        ts_col: str,
        max_out_of_orderness_seconds: float,
        emit_fn: Callable[[DataFrame, int], None],
        secondary: list[str] | None = None,
        checkpoint: str | None = None,
    ):
        """Event-time (rowtime) sort (ref: StreamExecTemporalSort.scala,
        RowTimeSortOperator.java): buffer rows until the watermark passes
        their timestamp, then emit them in (rowtime, secondary) order;
        rows arriving behind the watermark are dropped as late.

        Spark's streaming ``orderBy`` is unsupported, so the buffer lives
        in a parquet state directory (the RocksDB analog) and each
        emission is a distributed sort of the ready slice.  Driver state
        is one timestamp (the event-time high-water mark).
        """
        import datetime as _dt

        delay = _dt.timedelta(seconds=max_out_of_orderness_seconds)
        state_root = tempfile.mkdtemp(prefix="fl_sort_state_")
        st: dict[str, object] = {"max_ts": None, "cur": None}
        order_cols = [ts_col, *(secondary or [])]

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            prev_max = st["max_ts"]
            wm_prev = None if prev_max is None else prev_max - delay
            fresh = (
                batch_df
                if wm_prev is None
                else batch_df.filter(F.col(ts_col) >= F.lit(wm_prev))
            )
            if st["cur"] is not None:
                buf = spark.read.schema(batch_df.schema).parquet(st["cur"])
                allbuf = buf.unionByName(fresh)
            else:
                allbuf = fresh
            mx = allbuf.agg(F.max(ts_col).alias("m")).first()["m"]
            if mx is None:
                return
            if prev_max is None or mx > prev_max:
                st["max_ts"] = mx
            wm = st["max_ts"] - delay
            ready = allbuf.filter(F.col(ts_col) <= F.lit(wm)).orderBy(
                *order_cols
            )
            emit_fn(ready, batch_id)
            nxt = f"{state_root}/v{batch_id}"
            allbuf.filter(F.col(ts_col) > F.lit(wm)).write.mode(
                "overwrite"
            ).parquet(nxt)
            old = st["cur"]
            st["cur"] = nxt
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)

        try:
            q = self.for_each_batch(handle, checkpoint)
            # End of a bounded stream = final +Inf watermark
            # (ref: Watermark.MAX_WATERMARK emitted on input close):
            # flush whatever is still buffered, in order.
            if st["cur"] is not None:
                rem = (
                    self.df.sparkSession.read.schema(self.df.schema)
                    .parquet(st["cur"])
                    .orderBy(*order_cols)
                )
                emit_fn(rem, -1)
            return q
        finally:
            shutil.rmtree(state_root, ignore_errors=True)

    def with_change_flag(self) -> "Stream":
        """Attach the retraction-convention column for update-mode sinks
        (ref: BaseRow.java:40-47): downstream consumers treat every row as
        an upsert keyed on the grouping columns (__change='+U')."""
        return Stream(self.df.withColumn("__change", F.lit("+U")))

    def iterate(
        self,
        step: Callable[[DataFrame], DataFrame],
        feedback_predicate,
        emit_fn: Callable[[DataFrame, int], None],
        max_iterations: int = 1000,
        checkpoint: str | None = None,
    ):
        """Streaming iterations (ref: DataStream.iterate() DataStream.java:534,
        IterativeStream.closeWith IterativeStream.java:1): records produced
        by ``step`` that satisfy ``feedback_predicate`` re-enter the loop
        head; the rest leave the iteration and reach ``emit_fn``.

        Structured Streaming's plan is an acyclic DAG, so the feedback edge
        is driven per micro-batch: each arriving batch runs ``step``
        repeatedly — matching rows feed back, non-matching rows are emitted
        — until the feedback set is empty or ``max_iterations`` is hit
        (the reference bounds loops with a feedback *timeout* instead;
        a superstep cap is the deterministic spelling of the same guard).

        Scale: the loop body is ordinary distributed DataFrame work; each
        superstep persists its feedback set (usually a small, shrinking
        fraction of the batch) and nothing ever collects to the driver.
        Lineage is cut every few supersteps with ``localCheckpoint`` —
        the same guard the batch iterators use (operators/iterate.py).
        """
        pred = (
            F.expr(feedback_predicate)
            if isinstance(feedback_predicate, str)
            else feedback_predicate
        )

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            current = batch_df
            for superstep in range(max_iterations):
                if current.isEmpty():
                    break
                out = step(current)
                fb = out.filter(pred)
                exits = out.filter(~pred)
                if superstep % 5 == 4:
                    # cut the per-superstep lineage growth (plan depth is
                    # O(supersteps) otherwise — the iterate.py guard)
                    fb = fb.localCheckpoint(eager=True)
                emit_fn(exits, batch_id)
                current = fb
            else:
                if not current.isEmpty():
                    raise RuntimeError(
                        f"iteration did not converge within {max_iterations} "
                        "supersteps (reference analog: feedback timeout)"
                    )

        return self.for_each_batch(handle, checkpoint)


class BroadcastConnectedStream:
    """Control-stream broadcast (ref: DataStream.broadcast(stateDesc)
    :430, BroadcastConnectedStream.java:1): a low-throughput control
    stream whose latest state must be visible to every task processing
    the data stream.

    Spark expression: the data stream runs in foreachBatch; each
    micro-batch first folds any new control rows into the (tiny,
    driver-held) broadcast state, then processes the data batch with a
    fresh broadcast of that state — the micro-batch analog of the
    reference's broadcast-state element ordering. State size must stay
    broadcast-small, the same contract the reference imposes.
    """

    def __init__(self, data: "Stream", control_df: DataFrame, fold: Callable[[dict, DataFrame], dict]):
        self.data = data
        self.control_df = control_df  # batch DataFrame re-read per micro-batch
        self.fold = fold
        self.state: dict = {}

    def process(self, fn: Callable[[DataFrame, dict, int], None], checkpoint: str | None = None):
        """``fn(batch_df, broadcast_state, batch_id)`` — broadcast_state
        is the folded control state as of this batch."""

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            # control side is a (small) table re-read every batch — the
            # stream-static pattern; a streaming control side would fold
            # only its new rows here instead.
            self.state = self.fold(self.state, self.control_df)
            fn(batch_df, dict(self.state), batch_id)

        return self.data.for_each_batch(handle, checkpoint)


class ConnectedStreams:
    """Two streams sharing keyed state (ref: ConnectedStreams.java:1,
    DataStream.connect:257).

    Spark expression: both inputs are tagged with ``__side`` (0 = first,
    1 = second), schemas are unified by name (missing columns null), and
    the union feeds one keyed stateful operator — so a CoProcessFunction
    sees interleaved elements of both inputs with shared per-key state,
    exactly the reference's semantics. At scale this is one shuffle of
    the unioned stream; no extra state copies."""

    SIDE = "__side"

    def __init__(self, first: "Stream", second: "Stream"):
        a = first.df.withColumn(self.SIDE, F.lit(0))
        b = second.df.withColumn(self.SIDE, F.lit(1))
        self.df = a.unionByName(b, allowMissingColumns=True)

    def key_by(self, *keys) -> "KeyedStream":
        """Keyed co-stream: downstream ``process`` receives batches whose
        rows carry ``__side`` to dispatch processElement1/processElement2
        (ref: CoProcessFunction.java)."""
        return KeyedStream(self.df, [str(k) for k in keys])

    def map(self, fn_first, fn_second) -> "Stream":
        """CoMap (ref: ConnectedStreams.map): per-side Column expressions
        merged into one output."""
        side = F.col(self.SIDE)
        out = self.df.withColumn(
            "co_mapped", F.when(side == 0, _col(fn_first)).otherwise(_col(fn_second))
        )
        return Stream(out)


class KeyedStream:
    """Stream partitioned by key (ref: KeyedStream.java:116)."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self.df = df
        self.keys = keys

    def aggregate(self, *agg_exprs) -> Stream:
        """Unbounded per-key running aggregate (ref: GroupAggFunction.java:44)
        — run in ``update``/``complete`` output mode."""
        return Stream(self.df.groupBy(*self.keys).agg(*[_col(e) for e in agg_exprs]))

    def _rolling_by(self, value_col: str, ts_col: str, agg) -> Stream:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*self.keys)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        best = agg(F.struct(*self.df.columns), F.col(value_col)).over(w)
        return Stream(self.df.select(best.alias("__best")).select("__best.*"))

    def min_by(self, value_col: str, ts_col: str) -> Stream:
        """Rolling minBy (ref: KeyedStream.minBy:1129 — for every input
        record, emit the element whose `value_col` is minimal so far).
        One window-shuffle on the keys; the frame is computed JVM-side
        (native `min_by` over a running frame)."""
        return self._rolling_by(value_col, ts_col, F.min_by)

    def max_by(self, value_col: str, ts_col: str) -> Stream:
        """Rolling maxBy (ref: KeyedStream.maxBy:1163)."""
        return self._rolling_by(value_col, ts_col, F.max_by)

    def tumble(self, ts_col: str, size: str) -> "WindowedStream":
        return WindowedStream(self.df, self.keys, F.window(ts_col, size), ts_col)

    def hop(self, ts_col: str, size: str, slide: str) -> "WindowedStream":
        return WindowedStream(self.df, self.keys, F.window(ts_col, size, slide), ts_col)

    def session(self, ts_col: str, gap: str) -> "WindowedStream":
        return WindowedStream(self.df, self.keys, F.session_window(ts_col, gap), ts_col)

    def _fold(
        self, fold, order_col: str, output_schema: str, state_schema: str | None = None, initial=None
    ) -> Stream:
        """The one keyed fold under the stateful stream operators, on
        :meth:`process` (ref: KeyedProcessOperator.java; State Management
        in Apache Flink, VLDB 2017).  Per key and micro-batch: read the
        state (``initial`` when the key has none), concatenate the batch's
        chunks once, stable-sort the rows by ``order_col``, call
        ``fold(key, state, rows) -> (state, out)``, write the state back
        and emit ``out`` when it has rows.

        Without a ``state_schema`` the state is a pandas DataFrame, stored
        as one Arrow IPC stream in a binary column, so a checkpoint does
        not depend on the pandas version that wrote it.  With one it is
        Spark struct state and the fold sees its tuple.

        Rows are sorted within a micro-batch only; across micro-batches
        they are folded in arrival order, not event-time order (the
        reference's rowtime operators hold rows until the watermark passes
        them).  Feed ordered input (``from_waves``, an ordered file
        replay) when the fold needs event-time order."""
        import pandas as pd

        def fn(key, chunks, state):
            if not state.exists:
                acc = initial
            else:
                acc = state.get if state_schema else _decode_frame(state.get[0])
            rows = pd.concat(list(chunks), ignore_index=True).sort_values(
                order_col, kind="mergesort", ignore_index=True
            )
            acc, out = fold(key, acc, rows)
            state.update(acc if state_schema else (_encode_frame(acc),))
            if len(out):
                yield out

        return self.process(fn, state_schema or "buffer binary", output_schema)

    def _schema(self, *cols: str) -> str:
        """DDL of the input columns ``cols`` (all of them when empty), in
        that order."""
        return ", ".join(
            f"{c} {self.df.schema[c].dataType.simpleString()}"
            for c in cols or self.df.columns
        )

    def running_agg(
        self, value_col: str, ts_col: str, how: str = "sum"
    ) -> Stream:
        """Streaming OVER aggregate — per-row running sum/count/min/max
        over ROWS UNBOUNDED PRECEDING in event-time order (ref:
        StreamExecOverAggregate.scala:56,
        AbstractRowTimeUnboundedPrecedingOver.java:265).

        State = the accumulator (O(1) per key); emits every input row
        extended with `running_<how>`, in ``ts_col`` order (see
        :meth:`_fold` for the order across micro-batches)."""
        import pandas as pd

        if how not in ("sum", "count", "min", "max"):
            raise ValueError(f"unsupported running aggregate: {how}")
        out_col = f"running_{how}"

        def fold(key, state, rows):
            (acc,) = state
            vals = rows[value_col].astype("float64")
            if how == "sum":
                run = vals.cumsum() + (acc or 0.0)
            elif how == "count":
                run = pd.Series(range(1, len(vals) + 1), dtype="float64") + (acc or 0.0)
            elif how == "min":
                run = vals.cummin() if acc is None else vals.cummin().clip(upper=acc)
            else:
                run = vals.cummax() if acc is None else vals.cummax().clip(lower=acc)
            rows[out_col] = run
            return (float(run.iloc[-1]),), rows

        return self._fold(
            fold, ts_col, f"{self._schema()}, {out_col} double", "acc double", (None,)
        )

    def count_window(self, n: int, value_col: str, ts_col: str) -> Stream:
        """Count-based tumbling window over the stream (ref:
        KeyedStream.countWindow:643 — GlobalWindows + CountTrigger).

        Emits (keys..., w_id, cnt, sum_value) once a key accumulates `n`
        rows, counted in ``ts_col`` order; the in-flight window (cnt,
        partial sum, window index) is the only state — O(1) per key,
        exactly the reference's count-trigger accumulator.
        """
        import pandas as pd

        cols = [*self.keys, "w_id", "cnt", "sum_value"]

        def fold(key, state, rows):
            w_id, cnt, acc = state
            out = []
            for v in rows[value_col].astype("float64"):
                cnt += 1
                acc += v
                if cnt == n:
                    out.append((*key, w_id, cnt, acc))
                    w_id, cnt, acc = w_id + 1, 0, 0.0
            return (w_id, cnt, acc), pd.DataFrame(out, columns=cols)

        return self._fold(
            fold,
            ts_col,
            f"{self._schema(*self.keys)}, w_id long, cnt long, sum_value double",
            "w_id long, cnt long, sum_value double",
            (0, 0, 0.0),
        )

    def count_window_slide(
        self, size: int, slide: int, value_col: str, ts_col: str
    ) -> Stream:
        """Sliding count window (ref: KeyedStream.countWindow(size,
        slide) KeyedStream.java:653 — GlobalWindows + CountEvictor(size)
        + CountTrigger(slide)): every ``slide`` records per key, counted
        in ``ts_col`` order, emit an aggregate over the last ``size``
        records.

        State per key is the ring buffer of the newest ``size`` values
        plus the record counter — O(size), the same bound as the
        reference's CountEvictor.  Emits (keys..., fire_seq, cnt,
        sum_value); early windows with < size rows fire too.
        """
        import pandas as pd

        cols = [*self.keys, "fire_seq", "cnt", "sum_value"]

        def fold(key, state, rows):
            pos, buf = state
            buf = list(buf)
            out = []
            for v in rows[value_col].astype("float64"):
                buf.append(float(v))
                if len(buf) > size:
                    buf.pop(0)
                pos += 1
                if pos % slide == 0:
                    out.append((*key, pos, len(buf), sum(buf)))
            return (pos, buf), pd.DataFrame(out, columns=cols)

        return self._fold(
            fold,
            ts_col,
            f"{self._schema(*self.keys)}, fire_seq long, cnt long, sum_value double",
            "pos long, buf array<double>",
            (0, []),
        )

    def as_queryable_state(
        self, name: str, *agg_exprs
    ) -> "QueryableStateHandle":
        """Queryable-state substitute (ref: KeyedStream.asQueryableState
        :1005, flink-queryable-state/): expose the latest per-key
        aggregate for point lookups from outside the job.

        The keyed aggregate runs in ``complete`` mode into an in-memory
        sink table named ``name``; :meth:`QueryableStateHandle.get` is
        the client-side point query.  (On a cluster the same surface
        would back onto a Delta/parquet sink — the memory sink is the
        local-mode analog, per SURVEY §2.10.)
        """
        agg = self.df.groupBy(*self.keys).agg(*[_col(e) for e in agg_exprs])
        query = _sources.memory_sink(agg, name, "complete")
        return QueryableStateHandle(self.df.sparkSession, name, self.keys, query)

    def top_n(self, n: int, order_col: str, desc: bool = True) -> Stream:
        """Incremental streaming Top-N per key (ref: StreamExecRank.scala:53
        AppendFast strategy — AppendOnlyTopNFunction.java:222: append-only
        input, keep a per-key n-element buffer, re-emit on change).

        State = the current top-n rows (a frame, like streaming CEP's
        tail); each micro-batch merges its rows and, when the key's top-n
        changed, emits the full refreshed snapshot with a `rank` column
        (the reference emits retract+insert pairs; consumers here take
        the latest snapshot per key — changelog semantics via
        `__change`-style convention documented in SURVEY §2.10).

        Scale: state is O(n) per key — the exact property that makes the
        reference's AppendFast strategy cheap — and only changed keys
        emit.
        """
        import pandas as pd

        def fold(key, buf, rows):
            full = rows if buf is None else pd.concat([buf, rows], ignore_index=True)
            top = full.sort_values(
                order_col, ascending=not desc, kind="mergesort", ignore_index=True
            ).head(n)
            if buf is not None and top.equals(buf):
                return buf, top.head(0)
            return top, top.assign(rank=range(1, len(top) + 1))

        return self._fold(fold, order_col, f"{self._schema()}, rank int")

    def process(self, func, state_schema, output_schema, timeout: str = "NoTimeout") -> Stream:
        """Keyed stateful ProcessFunction (ref: KeyedProcessOperator.java,
        InternalTimerService.java) → ``applyInPandasWithState``.

        ``func(key, pdf_iter, state)`` with a GroupState handle; timers map
        to state timeouts (ProcessingTimeTimeout / EventTimeTimeout).
        """
        return Stream(
            self.df.groupBy(*self.keys).applyInPandasWithState(
                func, output_schema, state_schema, "append", timeout
            )
        )


class QueryableStateHandle:
    """Client handle for :meth:`KeyedStream.as_queryable_state` — point
    queries against the latest committed per-key aggregate (ref:
    flink-queryable-state/ QueryableStateClient semantics)."""

    def __init__(self, spark, name: str, keys: list[str], query):
        self.spark = spark
        self.name = name
        self.keys = keys
        self.query = query

    def get(self, *key_values):
        """Point lookup: latest aggregate row for `key_values`, or None."""
        df = self.spark.table(self.name)
        for k, v in zip(self.keys, key_values):
            df = df.where(F.col(k) == F.lit(v))
        rows = df.collect()
        return rows[0] if rows else None

    def snapshot(self) -> DataFrame:
        """Whole-state scan (every key's latest aggregate)."""
        return self.spark.table(self.name)

    def stop(self):
        self.query.stop()


class WindowedStream:
    """Keyed windowed stream (ref: WindowedStream.java)."""

    def __init__(
        self, df: DataFrame, keys: list[str], window_col: Column, ts_col: str | None = None
    ):
        self.df = df
        self.keys = keys
        self.window_col = window_col.alias("w")
        self.ts_col = ts_col

    def aggregate(self, *agg_exprs) -> Stream:
        agg = self.df.groupBy(self.window_col, *self.keys).agg(
            *[_col(e) for e in agg_exprs]
        )
        flat = agg.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *[c for c in agg.columns if c != "w"],
        )
        return Stream(flat)

    def _grouped(self):
        return self.df.withColumn("w", self.window_col).groupBy("w", *self.keys)

    def _fold_rows(self, fold_rows, schema: str) -> Stream:
        """One row per (key, window): ``fold_rows(rows)`` of the window's
        rows as dicts, in `ts_col` order (all columns when there is no
        `ts_col`), plus window_start/window_end."""
        data_cols = self.df.columns
        ts = self.ts_col

        def run(key, pdf):
            import pandas as pd

            pdf = pdf.sort_values(ts or data_cols, kind="mergesort")
            acc = fold_rows(pdf[data_cols].to_dict("records"))
            w = pdf["w"].iloc[0]
            return pd.DataFrame([{"window_start": w["start"], "window_end": w["end"], **acc}])

        out_schema = f"window_start timestamp, window_end timestamp, {schema}"
        return Stream(self._grouped().applyInPandas(run, out_schema))

    def reduce(self, fn) -> Stream:
        """ReduceFunction over the window's rows (ref: WindowedStream.java
        reduce — pairwise fold in arrival order; here event-time order by
        the window's `ts_col`, the deterministic refinement).  `fn(a, b)`
        takes and returns row dicts with the input schema; output is one
        row per (key, window) plus window_start/window_end.

        Scale: applyInPandas per (key, window) group — groups are bounded
        by the window size, shuffled once on their natural grouping key.
        """
        schema = ", ".join(f"{c} {t}" for c, t in self.df.dtypes)
        return self._fold_rows(lambda rows: functools.reduce(fn, rows), schema)

    def fold(self, initial: dict, fn, schema: str) -> Stream:
        """Deprecated-in-reference fold (WindowedStream.java fold):
        ``fn(acc, row) -> acc`` starting from ``initial``; output columns
        = ``schema`` plus window bounds."""
        return self._fold_rows(lambda rows: functools.reduce(fn, rows, dict(initial)), schema)

    def process(self, fn, schema: str) -> Stream:
        """ProcessWindowFunction (ref: WindowedStream.java process,
        ProcessWindowFunction.java — the whole window's rows as an
        iterable plus the window metadata).  ``fn(keys: tuple, window:
        dict[start,end], pdf) -> pdf`` may emit any number of rows;
        ``schema`` describes the output columns."""
        n_keys = len(self.keys)

        def run(key, pdf):
            w = pdf["w"].iloc[0]
            window = {"start": w["start"], "end": w["end"]}
            return fn(tuple(key[1 : n_keys + 1]), window, pdf.drop(columns=["w"]))

        return Stream(self._grouped().applyInPandas(run, schema))

    def apply(self, fn, schema: str) -> Stream:
        """WindowFunction (ref: WindowedStream.java apply) — same contract
        as :meth:`process` without timer access (none exists in either
        engine's window path)."""
        return self.process(fn, schema)


class JoinedStreams:
    """ref: JoinedStreams.java:128 (where), :170 (window), :272 (apply)
    — inner equi-join of two streams within the same tumbling/sliding
    window, expressed as a native join on (key, window) so Catalyst
    plans an ordinary shuffled/broadcast hash join (plus watermark-state
    bounds when the inputs are streaming)."""

    def __init__(self, left: Stream, right: Stream):
        self.left = left
        self.right = right
        self.left_keys: list[str] = []
        self.right_keys: list[str] = []
        self._win: tuple[str, str, str, str | None] | None = None

    def where(self, *cols: str) -> "JoinedStreams":
        self.left_keys = list(cols)
        return self

    def equal_to(self, *cols: str) -> "JoinedStreams":
        self.right_keys = list(cols)
        return self

    def window(
        self, left_ts: str, right_ts: str, size: str, slide: str | None = None
    ) -> "JoinedStreams":
        self._win = (left_ts, right_ts, size, slide)
        return self

    def _windows(self, op: str) -> tuple[Column, Column]:
        """Check the keys and the window of ``op`` (join or co_group) and
        build the left and right window columns."""
        if not self.left_keys or len(self.left_keys) != len(self.right_keys):
            raise ValueError(f"{op} needs where(...) and equal_to(...) of equal arity")
        if self._win is None:
            raise ValueError(f"{op} needs window(left_ts, right_ts, size)")
        lts, rts, size, slide = self._win
        return F.window(lts, size, slide), F.window(rts, size, slide)

    def apply(self, *select_exprs) -> Stream:
        # window assignment happens as a projection on each side (the
        # reference assigns windows before the join too); the join is
        # then a plain equi-join on (keys..., window struct), which
        # Catalyst plans as an ordinary hash join.
        wl, wr = self._windows("join")
        a = self.left.df.withColumn("__wa", wl).alias("a")
        b = self.right.df.withColumn("__wb", wr).alias("b")
        cond = F.col("a.__wa") == F.col("b.__wb")
        for lk, rk in zip(self.left_keys, self.right_keys):
            cond = cond & (F.col(f"a.{lk}") == F.col(f"b.{rk}"))
        joined = a.join(b, cond)
        # keys are equal by construction — drop the right-side copies so
        # the common Flink pattern where("uid").equal_to("uid") (same
        # column name on both sides) yields unambiguous output
        for lk, rk in zip(self.left_keys, self.right_keys):
            if lk == rk:
                joined = joined.drop(F.col(f"b.{rk}"))
        if select_exprs:
            joined = joined.select(*[_col(e) for e in select_exprs])
        else:
            joined = joined.drop("__wa", "__wb")
        return Stream(joined)


class CoGroupedStreams:
    """ref: CoGroupedStreams.java:1 — unlike join, BOTH per-key window
    groups reach the apply function, including one-sided ones; backed by
    Spark's native cogroup + applyInPandas."""

    def __init__(self, left: Stream, right: Stream):
        self._j = JoinedStreams(left, right)

    def where(self, *cols: str) -> "CoGroupedStreams":
        self._j.where(*cols)
        return self

    def equal_to(self, *cols: str) -> "CoGroupedStreams":
        self._j.equal_to(*cols)
        return self

    def window(
        self, left_ts: str, right_ts: str, size: str, slide: str | None = None
    ) -> "CoGroupedStreams":
        self._j.window(left_ts, right_ts, size, slide)
        return self

    def apply(self, fn, schema: str) -> Stream:
        """``fn(key: tuple, left_pdf, right_pdf) -> pdf`` per (key,
        window) pair; `key` ends with the window Row (start/end)."""
        j = self._j
        wl, wr = j._windows("co_group")
        lg = j.left.df.withColumn("__w", wl).groupBy(*j.left_keys, "__w")
        rg = j.right.df.withColumn("__w", wr).groupBy(*j.right_keys, "__w")

        def run(key, l_pdf, r_pdf):
            return fn(
                tuple(key),
                l_pdf.drop(columns=["__w"], errors="ignore"),
                r_pdf.drop(columns=["__w"], errors="ignore"),
            )

        return Stream(lg.cogroup(rg).applyInPandas(run, schema))


class AssignerWithPunctuatedWatermarks:
    """API-shape parity with the reference's per-record punctuated
    assigner (ref: flink-streaming-java/.../functions/timestamps/
    AssignerWithPunctuatedWatermarks.java): subclass and override both
    methods with COLUMN expressions — the per-record decision runs
    JVM-side, applied through :meth:`Stream.assign_punctuated`.

    - ``extract_timestamp(df)`` → the event-time Column
      (extractTimestamp)
    - ``check_and_get_next_watermark(df, ts)`` → a Column that is
      non-null exactly on watermark-announcing records and carries the
      announced watermark (checkAndGetNextWatermark returning null =
      no watermark)
    """

    def extract_timestamp(self, df: DataFrame):
        raise NotImplementedError("override with a Column expression")

    def check_and_get_next_watermark(self, df: DataFrame, ts):
        raise NotImplementedError("override with a Column expression")
