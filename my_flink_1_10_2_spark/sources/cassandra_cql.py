"""Cassandra sink speaking the CQL native protocol v4 — the jar-free
functional path (ref: flink-connectors/flink-connector-cassandra/.../
CassandraSink.java, CassandraRowWriteAheadSink.java, CassandraPojoSink
upsert semantics).

The wire format is the PUBLIC Apache Cassandra spec
(``doc/native_protocol_v4.spec`` in the Cassandra source tree): a 9-byte
frame header (version, flags, stream, opcode, length) followed by a
typed body.  This module implements the minimal client subset a sink
needs — STARTUP/READY handshake, SASL-PLAIN AUTH_RESPONSE, and UNLOGGED
BATCHes of INSERT statements with inline CQL literals — nothing else.

Delivery contract: INSERTs are primary-key upserts, so replayed
micro-batches converge (at-least-once, exactly the reference sink's
non-WAL mode; the WAL exactly-once mode is gated loudly in
``connectors.cassandra_sink_options``).

Scale shape: one connection per PARTITION (not per row), statements
batched ``batch_max_statements`` per frame; the driver never sees the
data.  At 1000 executors this is the same fan-out discipline as the
reference's per-subtask session.
"""

from __future__ import annotations

import contextlib
import struct

from my_flink_1_10_2_spark.sources.sink_core import PartitionSink, Rejected

# opcodes (native_protocol_v4.spec §2.4)
OP_ERROR = 0x00
OP_STARTUP = 0x01
OP_READY = 0x02
OP_AUTHENTICATE = 0x03
OP_QUERY = 0x07
OP_RESULT = 0x08
OP_BATCH = 0x0D
OP_AUTH_RESPONSE = 0x0F
OP_AUTH_SUCCESS = 0x10

# error codes (native_protocol_v4.spec §9)
ERR_WRITE_TIMEOUT = 0x1100

CONSISTENCY = {
    "ANY": 0x0000,
    "ONE": 0x0001,
    "TWO": 0x0002,
    "THREE": 0x0003,
    "QUORUM": 0x0004,
    "ALL": 0x0005,
    "LOCAL_QUORUM": 0x0006,
    "EACH_QUORUM": 0x0007,
    "LOCAL_ONE": 0x000A,
}


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">H", len(b)) + b


def _long_string(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">i", len(b)) + b


def _string_map(d: dict[str, str]) -> bytes:
    out = struct.pack(">H", len(d))
    for k, v in d.items():
        out += _string(k) + _string(v)
    return out


def frame(opcode: int, body: bytes, stream: int = 0) -> bytes:
    """A v4 REQUEST frame: version 0x04, flags 0, int16 stream id."""
    return struct.pack(">BBhBi", 0x04, 0x00, stream, opcode, len(body)) + body


def read_frame(sock) -> tuple[int, bytes]:
    """Read one RESPONSE frame → (opcode, body).  Blocking, exact."""
    header = b""
    while len(header) < 9:
        chunk = sock.recv(9 - len(header))
        if not chunk:
            raise ConnectionError("cassandra connection closed mid-frame")
        header += chunk
    _ver, _flags, _stream, opcode, length = struct.unpack(">BBhBi", header)
    body = b""
    while len(body) < length:
        chunk = sock.recv(length - len(body))
        if not chunk:
            raise ConnectionError("cassandra connection closed mid-body")
        body += chunk
    return opcode, body


def _error_text(body: bytes) -> str:
    (code,) = struct.unpack(">i", body[:4])
    (n,) = struct.unpack(">H", body[4:6])
    return f"code=0x{code:04x} {body[6 : 6 + n].decode(errors='replace')}"


def cql_literal(v) -> str:
    """Inline CQL literal for a Python value — strings quote-escaped,
    bytes as blob hex, timestamps as epoch-millis BIGINTs (the CQL
    timestamp literal form), lists recursively.  Floats use repr()
    (shortest round-trip, value-exact)."""
    import datetime as _dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # CQL's non-finite keywords are Infinity/-Infinity/NaN; Python's
        # repr emits 'inf'/'-inf' which the server rejects.
        import math as _math

        if _math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if _math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, _dt.datetime):
        # Aware values must be measured against the UTC epoch — anchoring
        # the epoch at the value's own zone shifts the millis by that
        # zone's 1970 offset.  Naive values are treated as UTC.
        if v.tzinfo is not None:
            return str(int(v.timestamp() * 1000))
        epoch = _dt.datetime(1970, 1, 1)
        return str(int((v - epoch).total_seconds() * 1000))
    if isinstance(v, _dt.date):
        return f"'{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(cql_literal(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ", ".join(f"{cql_literal(k)}: {cql_literal(x)}" for k, x in v.items())
            + "}"
        )
    return "'" + str(v).replace("'", "''") + "'"


def _tcp_connect(host: str, port: int):
    import socket

    return socket.create_connection((host, port), timeout=30)


class CassandraCqlSink(PartitionSink):
    """foreachBatch sink writing INSERT upserts over CQL native v4.

    ``connect_factory(host, port) -> socket-like`` is injectable (tests
    run an in-process protocol server; production uses a TCP socket).
    ``username``/``password`` drive the SASL-PLAIN exchange when the
    server responds AUTHENTICATE; without credentials that response
    fails loudly.
    """

    def __init__(
        self,
        host: str,
        keyspace: str,
        table: str,
        *,
        port: int = 9042,
        username: str | None = None,
        password: str | None = None,
        consistency: str = "ONE",
        batch_max_statements: int = 64,
        connect_factory=None,
        max_retries: int = 0,
        retry_delay_s: float = 0.1,
    ):
        if not host:
            raise ValueError("a Cassandra contact host is required")
        if consistency not in CONSISTENCY:
            raise ValueError(
                f"unknown consistency {consistency!r}; one of {tuple(CONSISTENCY)}"
            )
        if (username is None) != (password is None):
            raise ValueError("credentials need both username and password")
        self.host = host
        self.port = port
        self.keyspace = keyspace
        self.table = table
        self.username = username
        self.password = password
        self.consistency = CONSISTENCY[consistency]
        self.max_items = batch_max_statements
        self.connect_factory = connect_factory or _tcp_connect
        self.max_retries = max_retries
        self.retry_delay_s = retry_delay_s

    # -- protocol steps -----------------------------------------------------

    def _handshake(self, sock) -> None:
        sock.sendall(frame(OP_STARTUP, _string_map({"CQL_VERSION": "3.0.0"})))
        opcode, body = read_frame(sock)
        if opcode == OP_AUTHENTICATE:
            if self.username is None:
                raise RuntimeError(
                    "cassandra requires authentication "
                    f"({_string_body(body)}) but no credentials were given"
                )
            token = b"\x00" + self.username.encode() + b"\x00" + self.password.encode()
            sock.sendall(
                frame(OP_AUTH_RESPONSE, struct.pack(">i", len(token)) + token)
            )
            opcode, body = read_frame(sock)
            if opcode != OP_AUTH_SUCCESS:
                raise RuntimeError(
                    "cassandra authentication failed: "
                    + (_error_text(body) if opcode == OP_ERROR else hex(opcode))
                )
        elif opcode != OP_READY:
            raise RuntimeError(
                "cassandra STARTUP rejected: "
                + (_error_text(body) if opcode == OP_ERROR else hex(opcode))
            )

    def _insert_cql(self, doc: dict) -> str:
        cols = ", ".join(doc)
        vals = ", ".join(cql_literal(v) for v in doc.values())
        return (
            f"INSERT INTO {self.keyspace}.{self.table} ({cols}) VALUES ({vals})"
        )

    # -- sink core hooks ------------------------------------------------------

    @contextlib.contextmanager
    def open(self, batch_id: int, partition: int | None):
        sock = self.connect_factory(self.host, self.port)
        try:
            self._handshake(sock)
            yield sock
        finally:
            sock.close()

    def encode(self, row) -> str:
        return self._insert_cql(row.asDict(recursive=True))

    def flush(self, statements: list[str], sock) -> None:
        """Send one UNLOGGED batch.  A WriteTimeout is retryable: the
        core resends the SAME batch up to ``max_retries`` times, which
        is correct here because every statement is a primary-key upsert
        (idempotent) — the exact condition under which the public
        DataStax DefaultRetryPolicy#onWriteTimeout retries; re-applying a
        statement that already landed converges to the same row.
        Non-timeout errors stay fatal (they are not transient)."""
        body = struct.pack(">BH", 0x01, len(statements))  # UNLOGGED batch
        for stmt in statements:
            body += b"\x00" + _long_string(stmt) + struct.pack(">H", 0)
        body += struct.pack(">HB", self.consistency, 0x00)
        sock.sendall(frame(OP_BATCH, body))
        opcode, rbody = read_frame(sock)
        if opcode == OP_RESULT:
            return
        error = "cassandra BATCH failed: " + (
            _error_text(rbody) if opcode == OP_ERROR else hex(opcode)
        )
        if opcode == OP_ERROR and struct.unpack(">i", rbody[:4])[0] == ERR_WRITE_TIMEOUT:
            raise Rejected(error, statements)
        raise RuntimeError(error)


def _string_body(body: bytes) -> str:
    (n,) = struct.unpack(">H", body[:2])
    return body[2 : 2 + n].decode(errors="replace")


def parse_insert(stmt: str) -> tuple[str, dict[str, str]]:
    """Decode one ``INSERT INTO ks.table (c1, c2) VALUES (l1, l2)``
    statement (as produced by :class:`CassandraCqlSink`) back into
    (table, {column: literal-string}) — literals split at top-level
    commas, string quotes kept.  The read-back half of the emulator
    roundtrip."""
    import re as _re

    m = _re.match(r"INSERT INTO (\S+) \((.*?)\) VALUES \((.*)\)\s*$", stmt)
    if not m:
        raise ValueError(f"unparseable INSERT: {stmt[:120]!r}")
    cols = [c.strip() for c in m.group(2).split(",")]
    vals, depth, in_str, cur = [], 0, False, []
    s = m.group(3)
    i = 0
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    cur.append("''")
                    i += 2
                    continue
                in_str = False
            cur.append(ch)
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch in "([{":
            depth += 1
            cur.append(ch)
        elif ch in ")]}":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            vals.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    vals.append("".join(cur).strip())
    if len(cols) != len(vals):
        raise ValueError(f"column/value arity mismatch in {stmt[:120]!r}")
    return m.group(1), dict(zip(cols, vals))
