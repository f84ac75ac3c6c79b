"""RabbitMQ connector speaking AMQP 0-9-1 — the jar-free functional
path (ref: flink-connectors/flink-connector-rabbitmq/.../RMQSource.java,
RMQSink.java, common/RMQConnectionConfig.java).

The wire format is the PUBLIC OASIS AMQP 0-9-1 specification (the
protocol every RabbitMQ client implements).  This module implements the
minimal subset the reference connector pair needs — PLAIN handshake,
channel open, ``queue.declare``, ``basic.publish`` with content
header/body frames, ``basic.get`` + ``basic.ack`` — nothing else.

Reference-semantics parity:

- ``RMQSink`` (RMQSink.java): declares the queue non-durable /
  non-exclusive / non-auto-delete exactly like ``setupQueue()``, then
  ``basicPublish`` to the default exchange with the queue name as the
  routing key.  One connection per PARTITION (the reference's
  per-subtask channel), bodies from a serialized row or a raw
  bytes/string column (the SerializationSchema analog).
- ``rmq_drain_source`` (RMQSource.java): N competing consumers — the
  reference's parallelism model for a shared queue — each an executor
  task draining via ``basic.get`` and acking on success (the
  checkpoint-complete ack).  ``uses_correlation_id=True`` replays the
  reference's exactly-once recipe: duplicates are dropped on the
  correlation-id exactly like ``MultipleIdsMessageAcknowledgingSourceBase``'s
  message-id state, but distributed (a ``dropDuplicates`` on the id
  column instead of an operator-state hash set).

Scale shape: a RabbitMQ queue is a single logical stream; throughput
scales by competing consumers, which is precisely ``consumers=N`` here
(one connection per task, no driver hop — rows surface as an RDD and
become a DataFrame without collecting).
"""

from __future__ import annotations

import contextlib
import struct
from dataclasses import dataclass

from my_flink_1_10_2_spark.sources.sharding import read_per_task, row_chunks
from my_flink_1_10_2_spark.sources.sink_core import PartitionSink

FRAME_METHOD = 1
FRAME_HEADER = 2
FRAME_BODY = 3
FRAME_HEARTBEAT = 8
FRAME_END = 0xCE

# class/method ids (amqp0-9-1.xml)
CONNECTION_START = (10, 10)
CONNECTION_START_OK = (10, 11)
CONNECTION_TUNE = (10, 30)
CONNECTION_TUNE_OK = (10, 31)
CONNECTION_OPEN = (10, 40)
CONNECTION_OPEN_OK = (10, 41)
CONNECTION_CLOSE = (10, 50)
CONNECTION_CLOSE_OK = (10, 51)
CHANNEL_OPEN = (20, 10)
CHANNEL_OPEN_OK = (20, 11)
QUEUE_DECLARE = (50, 10)
QUEUE_DECLARE_OK = (50, 11)
BASIC_PUBLISH = (60, 40)
BASIC_GET = (60, 70)
BASIC_GET_OK = (60, 71)
BASIC_GET_EMPTY = (60, 72)
BASIC_ACK = (60, 80)

# basic-properties flag bits (spec §4.2.6.1 property flags, MSB first)
FLAG_CONTENT_TYPE = 0x8000
FLAG_DELIVERY_MODE = 0x1000
FLAG_CORRELATION_ID = 0x0400
FLAG_MESSAGE_ID = 0x0080


def _shortstr(s: str) -> bytes:
    b = s.encode()
    if len(b) > 255:
        raise ValueError("AMQP shortstr is limited to 255 bytes")
    return bytes([len(b)]) + b


def _longstr(b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + b


def _read_shortstr(buf: bytes, off: int) -> tuple[str, int]:
    n = buf[off]
    return buf[off + 1 : off + 1 + n].decode(), off + 1 + n


def frame(ftype: int, channel: int, payload: bytes) -> bytes:
    return (
        struct.pack(">BHI", ftype, channel, len(payload))
        + payload
        + bytes([FRAME_END])
    )


def method_frame(channel: int, cm: tuple[int, int], args: bytes = b"") -> bytes:
    return frame(FRAME_METHOD, channel, struct.pack(">HH", *cm) + args)


def _recv_exact(sock, n: int) -> bytes:
    out = b""
    while len(out) < n:
        chunk = sock.recv(n - len(out))
        if not chunk:
            raise ConnectionError("AMQP connection closed mid-frame")
        out += chunk
    return out


def read_frame(sock) -> tuple[int, int, bytes]:
    """Read one frame → (type, channel, payload).  Blocking, exact."""
    ftype, channel, size = struct.unpack(">BHI", _recv_exact(sock, 7))
    payload = _recv_exact(sock, size)
    if _recv_exact(sock, 1)[0] != FRAME_END:
        raise ConnectionError("AMQP frame missing end octet")
    return ftype, channel, payload


def encode_properties(
    *,
    content_type: str | None = None,
    delivery_mode: int | None = None,
    correlation_id: str | None = None,
    message_id: str | None = None,
) -> bytes:
    """Content-header basic-properties block (flags short + values in
    flag-bit order)."""
    flags = 0
    out = b""
    if content_type is not None:
        flags |= FLAG_CONTENT_TYPE
        out += _shortstr(content_type)
    if delivery_mode is not None:
        flags |= FLAG_DELIVERY_MODE
        out += bytes([delivery_mode])
    if correlation_id is not None:
        flags |= FLAG_CORRELATION_ID
        out += _shortstr(correlation_id)
    if message_id is not None:
        flags |= FLAG_MESSAGE_ID
        out += _shortstr(message_id)
    return struct.pack(">H", flags) + out


def decode_properties(buf: bytes) -> dict:
    """Inverse of :func:`encode_properties` for the four supported
    properties (unknown flag bits raise — the sink never sets them)."""
    (flags,) = struct.unpack_from(">H", buf, 0)
    off = 2
    props: dict = {}
    known = FLAG_CONTENT_TYPE | FLAG_DELIVERY_MODE | FLAG_CORRELATION_ID | FLAG_MESSAGE_ID
    if flags & ~known:
        raise ValueError(f"unsupported property flags 0x{flags:04x}")
    if flags & FLAG_CONTENT_TYPE:
        props["content_type"], off = _read_shortstr(buf, off)
    if flags & FLAG_DELIVERY_MODE:
        props["delivery_mode"] = buf[off]
        off += 1
    if flags & FLAG_CORRELATION_ID:
        props["correlation_id"], off = _read_shortstr(buf, off)
    if flags & FLAG_MESSAGE_ID:
        props["message_id"], off = _read_shortstr(buf, off)
    return props


@dataclass
class RMQConnectionConfig:
    """ref: RMQConnectionConfig.java builder surface (host/port/vhost/
    credentials/prefetch)."""

    host: str = "127.0.0.1"
    port: int = 5672
    virtual_host: str = "/"
    username: str = "guest"
    password: str = "guest"
    prefetch_count: int = 0
    connection_timeout_sec: int = 30


def _tcp_connect(host: str, port: int, timeout: float = 30.0):
    import socket

    return socket.create_connection((host, port), timeout=timeout)


class AmqpClient:
    """Minimal AMQP 0-9-1 client: PLAIN handshake on connect, one
    channel, declare/publish/get/ack.  ``connect_factory`` is injectable
    (tests run the in-process broker; production uses a TCP socket)."""

    def __init__(self, config: RMQConnectionConfig, connect_factory=None):
        self.config = config
        self.sock = (connect_factory or _tcp_connect)(config.host, config.port)
        self.frame_max = 131072
        self._handshake()
        self._channel_open()

    # -- connection negotiation (spec §2.2.4) -------------------------------

    def _expect_method(self, cm: tuple[int, int]) -> bytes:
        while True:
            ftype, _ch, payload = read_frame(self.sock)
            if ftype == FRAME_HEARTBEAT:
                continue
            if ftype != FRAME_METHOD:
                raise ConnectionError(f"expected method frame, got type {ftype}")
            got = struct.unpack_from(">HH", payload, 0)
            if got == CONNECTION_CLOSE:
                code, off = struct.unpack_from(">H", payload, 4)[0], 6
                text, _ = _read_shortstr(payload, off)
                raise ConnectionError(f"broker closed connection: {code} {text}")
            if got != cm:
                raise ConnectionError(f"expected method {cm}, got {got}")
            return payload[4:]

    def _handshake(self) -> None:
        cfg = self.config
        self.sock.sendall(b"AMQP\x00\x00\x09\x01")
        self._expect_method(CONNECTION_START)
        sasl = b"\x00" + cfg.username.encode() + b"\x00" + cfg.password.encode()
        args = (
            struct.pack(">I", 0)  # empty client-properties table
            + _shortstr("PLAIN")
            + _longstr(sasl)
            + _shortstr("en_US")
        )
        self.sock.sendall(method_frame(0, CONNECTION_START_OK, args))
        tune = self._expect_method(CONNECTION_TUNE)
        _chan_max, frame_max, _hb = struct.unpack_from(">HIH", tune, 0)
        if frame_max:
            self.frame_max = frame_max
        self.sock.sendall(
            method_frame(
                0, CONNECTION_TUNE_OK, struct.pack(">HIH", 0, self.frame_max, 0)
            )
        )
        self.sock.sendall(
            method_frame(
                0,
                CONNECTION_OPEN,
                _shortstr(cfg.virtual_host) + _shortstr("") + b"\x00",
            )
        )
        self._expect_method(CONNECTION_OPEN_OK)

    def _channel_open(self) -> None:
        self.sock.sendall(method_frame(1, CHANNEL_OPEN, _shortstr("")))
        self._expect_method(CHANNEL_OPEN_OK)

    # -- operations ----------------------------------------------------------

    def queue_declare(self, queue: str) -> int:
        """Non-durable/non-exclusive declare, exactly RMQSink.setupQueue.
        Returns the broker's message count."""
        args = struct.pack(">H", 0) + _shortstr(queue) + b"\x00" + struct.pack(">I", 0)
        self.sock.sendall(method_frame(1, QUEUE_DECLARE, args))
        body = self._expect_method(QUEUE_DECLARE_OK)
        _q, off = _read_shortstr(body, 0)
        (count,) = struct.unpack_from(">I", body, off)
        return count

    def basic_publish(
        self,
        routing_key: str,
        body: bytes,
        *,
        exchange: str = "",
        correlation_id: str | None = None,
        content_type: str | None = None,
        persistent: bool = False,
    ) -> None:
        args = (
            struct.pack(">H", 0)
            + _shortstr(exchange)
            + _shortstr(routing_key)
            + b"\x00"
        )
        props = encode_properties(
            content_type=content_type,
            delivery_mode=2 if persistent else None,
            correlation_id=correlation_id,
        )
        header = struct.pack(">HHQ", 60, 0, len(body)) + props
        chunks = [
            method_frame(1, BASIC_PUBLISH, args),
            frame(FRAME_HEADER, 1, header),
        ]
        # zero body bytes -> zero body frames (spec §4.2.3: the header's
        # body-size alone ends an empty content)
        step = self.frame_max - 8
        for i in range(0, len(body), step):
            chunks.append(frame(FRAME_BODY, 1, body[i : i + step]))
        self.sock.sendall(b"".join(chunks))

    def basic_get(self, queue: str, *, no_ack: bool = False):
        """One synchronous fetch → (delivery_tag, properties, body) or
        None when the queue is empty."""
        args = struct.pack(">H", 0) + _shortstr(queue) + (b"\x01" if no_ack else b"\x00")
        self.sock.sendall(method_frame(1, BASIC_GET, args))
        while True:
            ftype, _ch, payload = read_frame(self.sock)
            if ftype == FRAME_HEARTBEAT:
                continue
            cm = struct.unpack_from(">HH", payload, 0)
            if cm == BASIC_GET_EMPTY:
                return None
            if cm != BASIC_GET_OK:
                raise ConnectionError(f"unexpected basic.get reply {cm}")
            (tag,) = struct.unpack_from(">Q", payload, 4)
            break
        # heartbeats may interleave anywhere between frames on a real
        # broker — skip them around the content header and body
        def next_content_frame():
            while True:
                ftype, _ch, payload = read_frame(self.sock)
                if ftype != FRAME_HEARTBEAT:
                    return ftype, payload

        ftype, header = next_content_frame()
        if ftype != FRAME_HEADER:
            raise ConnectionError("expected content header after get-ok")
        _cls, _w, size = struct.unpack_from(">HHQ", header, 0)
        props = decode_properties(header[12:])
        body = b""
        while len(body) < size:
            ftype, part = next_content_frame()
            if ftype != FRAME_BODY:
                raise ConnectionError("expected content body frame")
            body += part
        return tag, props, body

    def basic_ack(self, delivery_tag: int) -> None:
        self.sock.sendall(
            method_frame(1, BASIC_ACK, struct.pack(">Q", delivery_tag) + b"\x00")
        )

    def close(self) -> None:
        try:
            self.sock.sendall(
                method_frame(
                    0,
                    CONNECTION_CLOSE,
                    struct.pack(">H", 200) + _shortstr("bye") + struct.pack(">HH", 0, 0),
                )
            )
            self._expect_method(CONNECTION_CLOSE_OK)
        except (ConnectionError, OSError):
            pass
        finally:
            self.sock.close()


class RMQSink(PartitionSink):
    """foreachBatch sink publishing rows to a RabbitMQ queue over AMQP
    0-9-1 (ref: RMQSink.java).  Rows serialize to JSON unless
    ``body_field`` names a string/binary column to publish raw (the
    SerializationSchema analog); ``correlation_id_field`` stamps the
    property the reference's exactly-once source dedups on.  One
    connection per non-empty partition; the queue is declared per
    connection (idempotent, like ``setupQueue``)."""

    def __init__(
        self,
        config: RMQConnectionConfig,
        queue: str,
        *,
        body_field: str | None = None,
        correlation_id_field: str | None = None,
        persistent: bool = False,
        connect_factory=None,
    ):
        if not queue:
            raise ValueError("a RabbitMQ queue name is required")
        self.config = config
        self.queue = queue
        self.body_field = body_field
        self.correlation_id_field = correlation_id_field
        self.persistent = persistent
        self.connect_factory = connect_factory

    @contextlib.contextmanager
    def open(self, batch_id: int, partition: int | None):
        client = AmqpClient(self.config, connect_factory=self.connect_factory)
        try:
            client.queue_declare(self.queue)
            yield client
        finally:
            client.close()

    def encode(self, row) -> tuple[bytes, str | None]:
        import json as _json

        doc = row.asDict(recursive=True)
        cid = None
        if self.correlation_id_field is not None:
            v = doc[self.correlation_id_field]
            # a NULL id stays absent; an exactly-once consumer
            # (uses_correlation_id=True) rejects id-less messages loudly
            # rather than deduping NULLs into one row
            cid = None if v is None else str(v)
        if self.body_field is not None:
            v = doc[self.body_field]
            body = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
        else:
            body = _json.dumps(doc, sort_keys=True, default=str).encode()
        return bytes(body), cid

    def flush(self, messages: list, client) -> None:
        for body, cid in messages:
            client.basic_publish(
                self.queue,
                body,
                correlation_id=cid,
                content_type=None if self.body_field else "application/json",
                persistent=self.persistent,
            )


def rmq_drain_source(
    spark,
    config: RMQConnectionConfig,
    queue: str,
    *,
    consumers: int = 4,
    uses_correlation_id: bool = False,
    ack: bool = True,
    crash_before_ack: bool = False,
    connect_factory=None,
):
    """Drain a queue with N competing consumers → DataFrame
    ``(correlation_id string, body binary)`` (ref: RMQSource.java —
    parallelism over a shared queue IS competing consumers; with
    ``uses_correlation_id`` duplicates are dropped on the id, the
    reference's exactly-once dedup state made distributed).

    Each consumer is one executor task holding its own connection and
    draining via ``basic.get`` until the queue answers get-empty,
    acking each message (the checkpoint-complete ack).  Rows never
    touch the driver.

    ``crash_before_ack`` is the failure-injection mode for exactly-once
    grading: deliveries are taken WITH ack expectation (no-ack=false),
    emitted downstream, and then the connection drops without ever
    acking — AMQP requeues every unacked delivery, so a subsequent
    drain sees genuine redeliveries (ref: RMQSource.java, acknowledge
    on checkpoint-complete; the crash window this simulates is
    emit-then-die-before-checkpoint).
    """
    cfg, q, cf = config, queue, connect_factory

    dedup = uses_correlation_id
    crash = crash_before_ack

    def deliveries():
        client = AmqpClient(cfg, connect_factory=cf)
        try:
            client.queue_declare(q)
            while True:
                got = client.basic_get(q, no_ack=(not ack) and not crash)
                if got is None:
                    return
                tag, props, body = got
                corr = props.get("correlation_id")
                if dedup and corr is None:
                    # ref: RMQSource.java — usesCorrelationId with a
                    # null id fails LOUDLY; silently deduping NULLs
                    # would collapse every id-less message into one row
                    raise ValueError(
                        "rmq_drain_source: uses_correlation_id=True but a "
                        "message arrived without a correlation id — publish "
                        "with ids or disable correlation-id dedup"
                    )
                if ack and not crash:
                    client.basic_ack(tag)
                yield (corr, bytes(body))
        finally:
            client.close()

    df = read_per_task(
        spark,
        [(i,) for i in range(consumers)],
        "correlation_id string, body binary",
        lambda _consumer: row_chunks(deliveries()),
    )
    # The drain is SIDE-EFFECTING (messages are acked and dequeued): pin
    # the rows executor-side NOW so Spark recomputation — a task retry, a
    # second action, an AQE re-plan — can never re-consume the broker.
    df = df.localCheckpoint(eager=True)
    if uses_correlation_id:
        df = df.dropDuplicates(["correlation_id"])
    return df
