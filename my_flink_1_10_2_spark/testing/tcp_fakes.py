"""TCP service emulators: a CQL native-protocol v4 server, an AMQP
0-9-1 broker and an IRC server."""

from __future__ import annotations

import hashlib
import socket
import struct
import threading

from my_flink_1_10_2_spark.sources import amqp_py as amqp
from my_flink_1_10_2_spark.sources.cassandra_cql import (
    ERR_WRITE_TIMEOUT,
    OP_BATCH,
    OP_ERROR,
    OP_READY,
    OP_RESULT,
    OP_STARTUP,
    _string,
    parse_insert,
    read_frame,
)
from my_flink_1_10_2_spark.testing.server import TcpFake


class InMemoryCqlServer(TcpFake):
    """CQL native-protocol v4 server emulator (write path): READY
    handshake + UNLOGGED BATCH decoding into the statement strings the
    executors sent over the live socket, so the sink is oracle-graded
    over a REAL TCP transport without a Cassandra install."""

    def __init__(self, fail_each_batch_once: bool = False):
        self.statements: list[str] = []
        #: upsert view — last-writer-wins per (table, first-column literal),
        #: the Cassandra primary-key semantics the sink's retry relies on
        self.upserts: dict[tuple[str, str], dict[str, str]] = {}
        #: WriteTimeout errors injected (fail_each_batch_once mode)
        self.failed_batches = 0
        self._fail_once = fail_each_batch_once
        self._seen_batches: set[bytes] = set()
        self._lock = threading.Lock()
        self._listen()

    def _handle(self, conn):
        def resp(opcode: int, body: bytes) -> bytes:
            return struct.pack(">BBhBi", 0x84, 0x00, 0, opcode, len(body)) + body

        try:
            while True:
                opcode, body = read_frame(conn)
                if opcode == OP_STARTUP:
                    conn.sendall(resp(OP_READY, b""))
                elif opcode == OP_BATCH:
                    if self._fail_once:
                        sig = hashlib.md5(body).digest()
                        with self._lock:
                            fresh = sig not in self._seen_batches
                            if fresh:
                                self._seen_batches.add(sig)
                                self.failed_batches += 1
                        if fresh:
                            # WriteTimeout per native_protocol_v4.spec §9:
                            # code, message, consistency, received,
                            # blockfor, writeType
                            err = struct.pack(">i", ERR_WRITE_TIMEOUT)
                            err += _string("Operation timed out")
                            err += struct.pack(">Hii", 0x0001, 0, 1)
                            err += _string("BATCH")
                            conn.sendall(resp(OP_ERROR, err))
                            continue
                    stmts = self._decode_batch(body)
                    with self._lock:
                        self.statements.extend(stmts)
                        for stmt in stmts:
                            table, vals = parse_insert(stmt)
                            pk = next(iter(vals.values()))
                            self.upserts[(table, pk)] = vals
                    conn.sendall(resp(OP_RESULT, struct.pack(">i", 1)))
                else:
                    err = struct.pack(">i", 0x000A)
                    err += struct.pack(">H", 0)
                    conn.sendall(resp(OP_ERROR, err))
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    @staticmethod
    def _decode_batch(body: bytes) -> list[str]:
        btype, n = struct.unpack(">BH", body[:3])
        if btype != 0x01:
            raise ValueError(f"expected UNLOGGED batch, got type {btype}")
        off = 3
        out = []
        for _ in range(n):
            if body[off] != 0:  # CQL string, not a prepared id
                raise ValueError("unexpected prepared statement in batch")
            (ln,) = struct.unpack(">i", body[off + 1 : off + 5])
            out.append(body[off + 5 : off + 5 + ln].decode())
            off += 5 + ln
            (n_values,) = struct.unpack(">H", body[off : off + 2])
            off += 2
            if n_values:
                raise ValueError("inline-literal sink should send no values")
        return out


class InMemoryAmqpBroker(TcpFake):
    """AMQP 0-9-1 broker emulator: PLAIN handshake, channel open,
    queue.declare, default-exchange basic.publish routing (routing key
    == queue), basic.get/ack with unacked redelivery tracking — the
    RabbitMQ sink AND source are graded over a REAL TCP socket without
    a broker install."""

    def __init__(self):
        self.queues: dict[str, list[tuple[dict, bytes]]] = {}
        self.acked = 0
        self.published = 0
        self._lock = threading.Lock()
        self._listen()

    def config(self, **kw) -> amqp.RMQConnectionConfig:
        return amqp.RMQConnectionConfig(host="127.0.0.1", port=self.port, **kw)

    def publish(self, queue: str, body: bytes, **props) -> None:
        """Seed a message broker-side (test convenience)."""
        with self._lock:
            self.queues.setdefault(queue, []).append((props, body))

    def _handle(self, conn):
        unacked: dict[int, tuple[str, dict, bytes]] = {}
        try:
            if amqp._recv_exact(conn, 8) != b"AMQP\x00\x00\x09\x01":
                return
            start = (
                b"\x00\x09"
                + struct.pack(">I", 0)
                + amqp._longstr(b"PLAIN")
                + amqp._longstr(b"en_US")
            )
            conn.sendall(amqp.method_frame(0, amqp.CONNECTION_START, start))
            self._expect(conn, amqp.CONNECTION_START_OK)
            conn.sendall(
                amqp.method_frame(
                    0, amqp.CONNECTION_TUNE, struct.pack(">HIH", 0, 131072, 0)
                )
            )
            self._expect(conn, amqp.CONNECTION_TUNE_OK)
            self._expect(conn, amqp.CONNECTION_OPEN)
            conn.sendall(amqp.method_frame(0, amqp.CONNECTION_OPEN_OK, amqp._shortstr("")))
            next_tag = 1
            while True:
                ftype, ch, payload = amqp.read_frame(conn)
                if ftype == amqp.FRAME_HEARTBEAT:
                    continue
                cm = struct.unpack_from(">HH", payload, 0)
                args = payload[4:]
                if cm == amqp.CHANNEL_OPEN:
                    conn.sendall(
                        amqp.method_frame(ch, amqp.CHANNEL_OPEN_OK, struct.pack(">I", 0))
                    )
                elif cm == amqp.QUEUE_DECLARE:
                    qname, off = amqp._read_shortstr(args, 2)
                    with self._lock:
                        n = len(self.queues.setdefault(qname, []))
                    conn.sendall(
                        amqp.method_frame(
                            ch,
                            amqp.QUEUE_DECLARE_OK,
                            amqp._shortstr(qname) + struct.pack(">II", n, 0),
                        )
                    )
                elif cm == amqp.BASIC_PUBLISH:
                    _ex, off = amqp._read_shortstr(args, 2)
                    rkey, off = amqp._read_shortstr(args, off)
                    htype, _hch, hdr = amqp.read_frame(conn)
                    if htype != amqp.FRAME_HEADER:
                        raise ConnectionError("publish without content header")
                    _cls, _w, size = struct.unpack_from(">HHQ", hdr, 0)
                    props = amqp.decode_properties(hdr[12:])
                    body = b""
                    while len(body) < size:
                        btype, _bch, part = amqp.read_frame(conn)
                        if btype != amqp.FRAME_BODY:
                            raise ConnectionError("publish missing body frame")
                        body += part
                    with self._lock:
                        self.queues.setdefault(rkey, []).append((props, body))
                        self.published += 1
                elif cm == amqp.BASIC_GET:
                    qname, off = amqp._read_shortstr(args, 2)
                    no_ack = bool(args[off])
                    with self._lock:
                        msgs = self.queues.setdefault(qname, [])
                        item = msgs.pop(0) if msgs else None
                        remaining = len(msgs)
                    if item is None:
                        conn.sendall(
                            amqp.method_frame(ch, amqp.BASIC_GET_EMPTY, amqp._shortstr(""))
                        )
                        continue
                    props, body = item
                    tag = next_tag
                    next_tag += 1
                    if not no_ack:
                        unacked[tag] = (qname, props, body)
                    ok = (
                        struct.pack(">Q", tag)
                        + b"\x00"
                        + amqp._shortstr("")
                        + amqp._shortstr(qname)
                        + struct.pack(">I", remaining)
                    )
                    reply = amqp.method_frame(ch, amqp.BASIC_GET_OK, ok) + amqp.frame(
                        amqp.FRAME_HEADER,
                        ch,
                        struct.pack(">HHQ", 60, 0, len(body))
                        + amqp.encode_properties(**props),
                    )
                    if body:  # zero body bytes -> zero body frames
                        reply += amqp.frame(amqp.FRAME_BODY, ch, body)
                    conn.sendall(reply)
                elif cm == amqp.BASIC_ACK:
                    (tag,) = struct.unpack_from(">Q", args, 0)
                    unacked.pop(tag, None)
                    with self._lock:
                        self.acked += 1
                elif cm == amqp.CONNECTION_CLOSE:
                    conn.sendall(amqp.method_frame(0, amqp.CONNECTION_CLOSE_OK))
                    return
                else:
                    raise ConnectionError(f"unsupported method {cm}")
        except (ConnectionError, OSError, IndexError, struct.error):
            pass
        finally:
            # unacked messages return to their queue on clean close AND
            # abrupt connection loss (broker redelivery semantics)
            with self._lock:
                for qname, props, body in unacked.values():
                    self.queues.setdefault(qname, []).append((props, body))
            conn.close()

    @staticmethod
    def _expect(conn, cm: tuple[int, int]) -> bytes:
        ftype, _ch, payload = amqp.read_frame(conn)
        if ftype != amqp.FRAME_METHOD or struct.unpack_from(">HH", payload, 0) != cm:
            raise ConnectionError(f"handshake expected {cm}")
        return payload[4:]


class InMemoryIrcServer(TcpFake):
    """Minimal IRC server emulator: registration numerics (001), PING
    mid-stream, JOIN ack, then a canned PRIVMSG feed per joiner, then a
    clean close — the wikiedits source is graded over a real TCP IRC
    conversation."""

    def __init__(self, channel: str, lines: list[str]):
        self.channel = channel
        self.lines = list(lines)
        self.joins = 0
        self.pongs = 0
        self._listen(16)

    def _handle(self, conn):
        def send(line):
            conn.sendall((line + "\r\n").encode())

        buf = b""

        def lines():
            nonlocal buf
            while True:
                while b"\r\n" in buf:
                    raw, buf = buf.split(b"\r\n", 1)
                    yield raw.decode(errors="replace")
                chunk = conn.recv(65536)
                if not chunk:
                    return
                buf += chunk

        with conn:
            nick = "anon"
            registered = False
            for line in lines():
                parts = line.split()
                if not parts:
                    continue
                cmd = parts[0].upper()
                if cmd == "NICK" and len(parts) > 1:
                    nick = parts[1]
                elif cmd == "USER" and not registered:
                    registered = True
                    send(f":server 001 {nick} :Welcome")
                elif cmd == "PONG":
                    self.pongs += 1
                elif cmd == "JOIN" and len(parts) > 1:
                    self.joins += 1
                    send(f":{nick}!user@host JOIN {parts[1]}")
                    # keepalive probe mid-stream: a correct client PONGs
                    send("PING :keepalive")
                    feeder = f":rc-pmtpa!rc@wikimedia PRIVMSG {self.channel} :"
                    for text in self.lines:
                        send(feeder + text)
                    # half-close: the client sees EOF and finishes its
                    # read loop; then drain its PONG/QUIT until its close
                    conn.shutdown(socket.SHUT_WR)
                    conn.settimeout(5.0)
                    try:
                        for tail in lines():
                            t = tail.split()
                            if t and t[0].upper() == "PONG":
                                self.pongs += 1
                    except OSError:
                        pass
                    return
                elif cmd == "QUIT":
                    return
