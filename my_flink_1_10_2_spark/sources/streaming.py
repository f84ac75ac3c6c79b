"""Streaming sources & sinks (SURVEY §2.1, §2.10).

Sources map the reference's `addSource(SourceFunction)` surface
(ref: flink-streaming-java/.../StreamExecutionEnvironment.java:1517) onto
Structured Streaming's built-ins; the transactional sink reimplements the
`TwoPhaseCommitSinkFunction` idea (ref: flink-streaming-java/.../functions/
sink/TwoPhaseCommitSinkFunction.java:77) on Spark's micro-batch model:
the epoch/batchId plays the role of the transaction, and a committed-ids
manifest provides the idempotence that the reference gets from
checkpoint-coordinated commits.
"""

from __future__ import annotations

import contextlib
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from my_flink_1_10_2_spark.sources.sink_core import BatchManifest, PartitionSink


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Monotonic (timestamp, value) generator — the test-harness analog of
    a SourceFunction emitting a steady stream."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def file_stream_source(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Directory-watching source (ref: StreamExecutionEnvironment
    .readFile with FileProcessingMode.PROCESS_CONTINUOUSLY).
    `maxFilesPerTrigger` bounds per-micro-batch work — the backpressure
    knob at scale."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format(fmt)
        .load(path)
    )


def socket_text_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """TCP line source (ref: StreamExecutionEnvironment.socketTextStream
    :1396)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def memory_sink(
    df: DataFrame, query_name: str, output_mode: str = "append", available_now: bool = False
):
    """In-memory queryable sink for tests (ref analog: the reference's
    test harness collect sinks; also its queryable-state substitute,
    SURVEY §2.10).  ``available_now`` drains the source then stops;
    without it the query runs until stopped."""
    writer = df.writeStream.format("memory").queryName(query_name).outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    available_now: bool = False,
):
    """Exactly-once file sink (ref: StreamingFileSink.java bucketing +
    part-file lifecycle). Structured Streaming's file sink keeps a
    _spark_metadata WAL of committed files — readers see only committed
    data, the same guarantee the reference builds from pending/committed
    part files.  ``available_now`` drains the source then stops (the
    bounded-replay spelling used by tests and backfills)."""
    writer = (
        df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class TransactionalForeachBatchSink(BatchManifest):
    """Two-phase-commit sink on micro-batches (ref:
    TwoPhaseCommitSinkFunction.java:77).

    The reference's protocol: beginTransaction → preCommit (flush) →
    commit on checkpoint-complete, with recovery replaying commits for
    persisted-but-uncommitted transactions. Here the micro-batch is the
    transaction: ``write_fn(batch_df, batch_id)`` must stage data
    atomically (e.g. write to a batch-id-suffixed temp dir + rename);
    this class records committed batch ids in a manifest and skips
    replayed ids, making the sink idempotent across failure/restart —
    end-to-end exactly-once together with the source WAL.
    """

    def __init__(self, write_fn: Callable[[DataFrame, int], None], manifest_dir: str):
        super().__init__(manifest_dir)
        self.write_fn = write_fn

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed():
            return  # replayed transaction — already committed, skip
        self.write_fn(batch_df, batch_id)
        self._record(batch_id)

    def attach(self, df: DataFrame, checkpoint: str):
        return (
            df.writeStream.foreachBatch(self)
            .option("checkpointLocation", checkpoint)
            .start()
        )


# ---------------------------------------------------------------------------
# Kafka connector shim (ref: flink-connectors/flink-connector-kafka-base/
# src/main/java/org/apache/flink/streaming/connectors/kafka/
# FlinkKafkaConsumerBase.java, FlinkKafkaProducerBase.java; Table-API
# option spellings per flink-connectors/.../KafkaValidator.java).
#
# The sandbox has no broker, so the translation layer is a pure function
# over option dicts — unit-testable without Kafka — and the source/sink
# constructors just apply it to Spark's `format("kafka")`.
#
# Option parity table (Flink → Spark):
#   topic / topic list                  → subscribe
#   topic-pattern                       → subscribePattern
#   properties.bootstrap.servers        → kafka.bootstrap.servers
#   properties.group.id                 → kafka.group.id
#   properties.<other consumer props>   → kafka.<prop>
#   startup-mode=earliest-offset        → startingOffsets=earliest
#   startup-mode=latest-offset          → startingOffsets=latest
#   startup-mode=group-offsets          → startingOffsets={per-partition
#                                         JSON from the group's committed
#                                         offsets via OffsetFetch} (see note)
#   startup-mode=specific-offsets
#     + specific-offsets
#       "partition:0,offset:42;..."     → startingOffsets={"t":{"0":42,...}}
#   startup-mode=timestamp
#     + startup-timestamp-millis        → startingTimestamp=<millis>
#   (consumer rate limit)               → maxOffsetsPerTrigger
#   sink: topic                         → topic
#   sink: semantic=at-least-once        → (Spark's native guarantee)
#   sink: semantic=exactly-once        → NotImplementedError (no two-phase
#                                         Kafka txn sink in Spark; use an
#                                         idempotent/downstream-dedup sink)
#
# NOTE group-offsets: the reference resumes from offsets committed to the
# consumer group (FlinkKafkaConsumerBase.java STARTUP_MODE group-offsets).
# Spark does not consume group commits — offset progress lives in the
# checkpoint, which supersedes them on every restart after the first.
# For COLD START parity, `kafka_source` resolves the group's committed
# offsets over the public Kafka wire protocol (Metadata + FindCoordinator
# + OffsetFetch, jar-free — `kafka_protocol.fetch_group_offsets`) and
# emits them as a per-partition startingOffsets JSON; partitions the
# group never committed fall back to the consumer's auto.offset.reset
# (default latest), exactly the reference's semantics.  The pure option
# translator takes the resolved mapping via `group_offsets=`; without one
# it keeps Spark's `latest` default (topic-pattern subscriptions can't
# enumerate partitions up front and keep that default too).
# ---------------------------------------------------------------------------

STARTUP_MODES = (
    "earliest-offset",
    "latest-offset",
    "group-offsets",
    "specific-offsets",
    "timestamp",
)


def _parse_specific_offsets(spec: str, topic: str) -> str:
    """Flink 'partition:0,offset:42;partition:1,offset:300' →
    Spark startingOffsets JSON '{"<topic>":{"0":42,"1":300}}'."""
    parts: dict[str, int] = {}
    for entry in filter(None, (p.strip() for p in spec.split(";"))):
        m = {}
        for kv in entry.split(","):
            k, _, v = kv.strip().partition(":")
            m[k.strip()] = v.strip()
        if "partition" not in m or "offset" not in m:
            raise ValueError(
                f"malformed specific-offsets entry {entry!r} — expected "
                "'partition:<p>,offset:<o>[;...]'"
            )
        parts[m["partition"]] = int(m["offset"])
    if not parts:
        raise ValueError(f"empty specific-offsets spec: {spec!r}")
    return json.dumps({topic: parts})


def kafka_source_options(
    topic: str | list[str] | None = None,
    *,
    topic_pattern: str | None = None,
    properties: dict[str, str] | None = None,
    startup_mode: str = "group-offsets",
    specific_offsets: str | None = None,
    startup_timestamp_millis: int | None = None,
    max_offsets_per_trigger: int | None = None,
    group_offsets: dict | None = None,
) -> dict[str, str]:
    """Translate Flink Kafka consumer options to Spark `format("kafka")`
    options (pure function — see the parity table above).

    ``group_offsets`` is the resolved ``{topic: {partition: offset}}``
    mapping from :func:`kafka_protocol.fetch_group_offsets`; in
    group-offsets mode it becomes the per-partition startingOffsets JSON
    (without it the cold start stays at Spark's ``latest`` default)."""
    if (topic is None) == (topic_pattern is None):
        raise ValueError("exactly one of topic / topic_pattern is required")
    if startup_mode not in STARTUP_MODES:
        raise ValueError(
            f"unknown startup-mode {startup_mode!r}; expected one of {STARTUP_MODES}"
        )
    opts: dict[str, str] = {}
    if topic_pattern is not None:
        opts["subscribePattern"] = topic_pattern
    else:
        topics = [topic] if isinstance(topic, str) else list(topic)
        opts["subscribe"] = ",".join(topics)
    for k, v in (properties or {}).items():
        opts[f"kafka.{k}"] = str(v)
    if "kafka.bootstrap.servers" not in opts:
        raise ValueError("properties must include bootstrap.servers")
    if startup_mode == "earliest-offset":
        opts["startingOffsets"] = "earliest"
    elif startup_mode == "group-offsets" and group_offsets is not None:
        # canonical {topic: {str(partition): int(offset)}} JSON
        opts["startingOffsets"] = json.dumps(
            {
                t: {str(p): int(o) for p, o in sorted(parts.items(), key=lambda kv: int(kv[0]))}
                for t, parts in group_offsets.items()
            }
        )
    elif startup_mode in ("latest-offset", "group-offsets"):
        opts["startingOffsets"] = "latest"
    elif startup_mode == "specific-offsets":
        if specific_offsets is None:
            raise ValueError("specific-offsets startup mode needs specific_offsets")
        if topic_pattern is not None or not isinstance(topic, str):
            raise ValueError("specific-offsets requires a single topic")
        opts["startingOffsets"] = _parse_specific_offsets(specific_offsets, topic)
    elif startup_mode == "timestamp":
        if startup_timestamp_millis is None:
            raise ValueError(
                "timestamp startup mode needs startup_timestamp_millis"
            )
        opts["startingTimestamp"] = str(int(startup_timestamp_millis))
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(int(max_offsets_per_trigger))
    return opts


def kafka_sink_options(
    topic: str,
    *,
    properties: dict[str, str] | None = None,
    semantic: str = "at-least-once",
) -> dict[str, str]:
    """Translate Flink Kafka producer options to Spark writeStream
    options (ref: FlinkKafkaProducerBase.java; Semantic enum in
    FlinkKafkaProducer.java)."""
    if semantic == "exactly-once":
        raise NotImplementedError(
            "Spark's format('kafka') sink is at-least-once (no two-phase "
            "Kafka transaction commit in the built-in writer); use "
            "kafka_sink(..., semantic='exactly-once') which routes to "
            "KafkaExactlyOnceSink (foreachBatch transactional producer), "
            "or an idempotent downstream consumer"
        )
    if semantic not in ("at-least-once", "none"):
        raise ValueError(f"unknown producer semantic {semantic!r}")
    opts = {"topic": topic}
    for k, v in (properties or {}).items():
        opts[f"kafka.{k}"] = str(v)
    if "kafka.bootstrap.servers" not in opts:
        raise ValueError("properties must include bootstrap.servers")
    return opts


def kafka_source(spark: SparkSession, **kwargs) -> DataFrame:
    """Kafka source stream (ref: FlinkKafkaConsumerBase.java) — returns
    the raw Spark kafka schema (key/value binary, topic, partition,
    offset, timestamp); apply a deserialization projection downstream,
    the analog of the reference's DeserializationSchema.

    In ``group-offsets`` startup mode (the reference's default) with a
    ``group.id`` and explicit topics, the group's committed offsets are
    fetched over the wire (jar-free OffsetFetch) and pinned as the
    cold-start position — checkpointed progress still supersedes them on
    restart, matching the reference's checkpoint-beats-group-commit rule
    (FlinkKafkaConsumerBase.java, restoredState branch)."""
    resolve = kwargs.pop("resolve_group_offsets", True)
    props = kwargs.get("properties") or {}
    topic = kwargs.get("topic")
    if (
        resolve
        and kwargs.get("startup_mode", "group-offsets") == "group-offsets"
        and kwargs.get("group_offsets") is None
        and props.get("group.id")
        and topic is not None
    ):
        from .kafka_protocol import fetch_group_offsets

        topics = [topic] if isinstance(topic, str) else list(topic)
        kwargs["group_offsets"] = fetch_group_offsets(
            props["bootstrap.servers"],
            props["group.id"],
            topics,
            fallback=props.get("auto.offset.reset", "latest"),
        )
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(**kwargs))
        .load()
    )


def kafka_sink(df: DataFrame, checkpoint: str, **kwargs):
    """Kafka sink for a streaming DataFrame with `value` (and optional
    `key`) columns (ref: FlinkKafkaProducerBase.java).

    ``semantic='exactly-once'`` routes to :class:`KafkaExactlyOnceSink`
    (transactional foreachBatch producer, the FlinkKafkaProducer 2PC
    counterpart); other semantics use Spark's built-in at-least-once
    ``format("kafka")`` writer."""
    if kwargs.get("semantic") in ("exactly-once", "exactly_once"):
        kwargs.pop("semantic")
        manifest_dir = kwargs.pop("manifest_dir", os.path.join(checkpoint, "txn-manifest"))
        sink = KafkaExactlyOnceSink(manifest_dir=manifest_dir, **kwargs)
        return df.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint
        )
    return (
        df.writeStream.format("kafka")
        .options(**kafka_sink_options(**kwargs))
        .option("checkpointLocation", checkpoint)
    )


class KafkaExactlyOnceSink(BatchManifest, PartitionSink):
    """Transactional Kafka producer sink on micro-batches — the
    counterpart of the reference's two-phase-commit producer (ref:
    flink-connectors/flink-connector-kafka/src/main/java/org/apache/
    flink/streaming/connectors/kafka/FlinkKafkaProducer.java:77,
    Semantic.EXACTLY_ONCE; protocol from TwoPhaseCommitSinkFunction
    .java:77: beginTransaction → preCommit(flush) → commit on
    checkpoint-complete, abort on recovery).

    Mapping onto Spark's micro-batch model: the batch IS the
    transaction.  Each batch id gets a DETERMINISTIC ``transactional.id``
    (``<prefix>-<batch_id>``), so a crash-and-replay re-registers the
    same id and Kafka's producer fencing ABORTS the previous incomplete
    attempt before the retry re-sends — read_committed consumers never
    see the aborted attempt, hence no duplicates.  A committed-ids
    manifest (same machinery as :class:`TransactionalForeachBatchSink`)
    short-circuits replays of already-committed batches.

    The crash-window *between* broker commit and the manifest write
    (the reference closes it with resumeTransaction, a Java-client
    internals hack a plain client can't do) is closed here with a
    TRANSACTION-OUTCOME RECORD instead: every transaction also sends
    one tracking record (key = ``<batch>`` or ``<batch>-p<pid>``) to
    ``txn_topic`` INSIDE the same transaction, so its read_committed
    visibility is exactly the transaction's outcome.  On replay of a
    batch missing from the manifest, ``txn_probe()`` tells which
    transactions already committed — those are skipped, the rest
    re-send under the same fenced ``transactional.id``.  The default
    probe is UNCONDITIONAL and jar-free: a read_committed Fetch of the
    small tracking topic over the public wire protocol
    (``kafka_protocol.read_committed_keys`` — Fetch v4 with
    isolation_level=1, client-side aborted-transaction filtering), so
    the closure no longer depends on a Kafka client library being
    importable.  Per-partition resolution assumes Spark's replayed
    micro-batch reproduces the same partition indices (true for the
    deterministic sources Structured Streaming replays from).  The only
    configuration without a probe is an injected ``producer_factory``
    with neither ``bootstrap.servers`` nor an injected ``txn_probe``
    (mock-producer test harnesses); that combination keeps the
    ``graft-batch-id`` header so replays stay downstream-dedupable.

    ``producer_factory(transactional_id) -> producer`` must return an
    object with the kafka-python/confluent-kafka transactional surface:
    ``init_transactions() / begin_transaction() / send(topic, key=...,
    value=..., headers=...) / flush() / commit_transaction() /
    abort_transaction() / close()``.  The default factory uses
    kafka-python if importable and raises a loud capability gate
    otherwise (this container ships no Kafka client).
    """

    def __init__(
        self,
        topic: str,
        manifest_dir: str,
        properties: dict[str, str] | None = None,
        transactional_id_prefix: str = "spark-graft-txn",
        producer_factory: Callable[[str], object] | None = None,
        distributed: bool = True,
        txn_topic: str | None = None,
        txn_probe: Callable[[], set] | None = None,
    ):
        if producer_factory is None:
            properties = dict(properties or {})
            if "bootstrap.servers" not in properties:
                raise ValueError("properties must include bootstrap.servers")
        self.topic = topic
        self.properties = dict(properties or {})
        self.prefix = transactional_id_prefix
        self.producer_factory = producer_factory or self._default_factory
        # distributed=True opens one transaction PER PARTITION on the
        # executors (transactional.id <prefix>-<batch>-p<pid>) — the
        # reference's per-subtask producer pool; False runs the send
        # loop on the driver (tests with recording mock producers).
        self.distributed = distributed
        # transaction-outcome tracking: one record per transaction sent
        # to txn_topic INSIDE the transaction; txn_probe() returns the
        # committed tracking keys (strings) visible at read_committed.
        self.txn_topic = txn_topic or f"{topic}.graft-txn"
        self.txn_probe = txn_probe if txn_probe is not None else self._default_probe
        BatchManifest.__init__(self, manifest_dir)
        # outcome resolution is only needed for the FIRST unmanifested
        # batch after a (re)start — later batches in this process were
        # fully handled here, so no hidden committed transaction exists
        self._probe_done = False
        # transaction keys the probe found committed (skipped on replay)
        self._landed: set = set()

    def _default_probe(self) -> set:
        """read_committed scan of the (small) tracking topic → the set
        of committed transaction keys, over the public Kafka wire
        protocol (jar-free: ``kafka_protocol.read_committed_keys``,
        Fetch v4 isolation_level=1).  Unconditional whenever
        ``bootstrap.servers`` is configured — i.e. every real
        deployment; only a mock-producer harness with no brokers and no
        injected ``txn_probe`` lands in the NotImplementedError path."""
        bootstrap = self.properties.get("bootstrap.servers")
        if not bootstrap:
            raise NotImplementedError(
                "transaction-outcome probe needs bootstrap.servers or an "
                "injected txn_probe"
            )
        from my_flink_1_10_2_spark.sources.kafka_protocol import (
            read_committed_keys,
        )

        return read_committed_keys(bootstrap, self.txn_topic)

    def _default_factory(self, transactional_id: str):
        try:
            from kafka import KafkaProducer  # type: ignore
        except ImportError as exc:  # loud capability gate, not a silent stub
            raise NotImplementedError(
                "KafkaExactlyOnceSink needs a Kafka client library "
                "(kafka-python or confluent-kafka) or an injected "
                "producer_factory; none is available in this environment"
            ) from exc
        return KafkaProducer(
            bootstrap_servers=self.properties["bootstrap.servers"],
            transactional_id=transactional_id,
            enable_idempotence=True,
            acks="all",
            **{
                k.replace(".", "_"): v
                for k, v in self.properties.items()
                if k != "bootstrap.servers"
            },
        )

    def _resolved(self) -> set:
        """Committed transaction keys per the tracking topic, or an
        empty set when no probe path is available."""
        try:
            return set(self.txn_probe())
        except NotImplementedError:
            return set()

    # -- sink core hooks: one transaction per partition (or per batch on
    # the driver path, ``partition=None``) ----------------------------------

    @staticmethod
    def _txn_key(batch_id: int, partition: int | None) -> str:
        return str(batch_id) if partition is None else f"{batch_id}-p{partition}"

    def landed(self, batch_id: int, partition: int | None) -> bool:
        return self._txn_key(batch_id, partition) in self._landed

    @contextlib.contextmanager
    def open(self, batch_id: int, partition: int | None):
        """One full transaction: fence (aborting any prior incomplete
        attempt with this transactional.id), yield for the sends, append
        the outcome record to the tracking topic, flush (= preCommit),
        commit; abort on any error."""
        key = self._txn_key(batch_id, partition)
        producer = self.producer_factory(f"{self.prefix}-{key}")
        header = [("graft-batch-id", str(batch_id).encode())]
        try:
            producer.init_transactions()
            producer.begin_transaction()
            yield producer, header
            # committed atomically with the data: its read_committed
            # visibility IS the transaction outcome
            producer.send(
                self.txn_topic, key=key.encode(), value=b"committed", headers=header
            )
            producer.flush()
            producer.commit_transaction()
        except BaseException:
            try:
                producer.abort_transaction()
            finally:
                producer.close()
            raise
        producer.close()

    def encode(self, row) -> tuple:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        return d.get("key"), d["value"]

    def flush(self, records: list, conn) -> None:
        producer, header = conn
        for key, value in records:
            producer.send(self.topic, key=key, value=value, headers=header)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed():
            return  # replayed, already committed — exactly-once skip
        self._landed = set() if self._probe_done else self._resolved()
        self._probe_done = True
        if self.distributed:
            PartitionSink.__call__(self, batch_df, batch_id)
        else:
            self.write_partition(batch_df.toLocalIterator(), batch_id, None)
        self._record(batch_id)
