"""CassandraCqlSink against a live in-process CQL native-protocol v4
server (ref: CassandraSink.java upsert semantics; wire format from the
public native_protocol_v4.spec).  The server really parses frames off a
TCP socket — handshake, auth exchange, UNLOGGED BATCH decoding — so the
executor-side protocol bytes are the thing under test, mirroring
tests/test_socket_stream.py's live-TCP approach."""

from __future__ import annotations

import socket
import struct
import threading

import pytest

from my_flink_1_10_2_spark.sources.cassandra_cql import (
    OP_AUTH_RESPONSE,
    OP_AUTH_SUCCESS,
    OP_AUTHENTICATE,
    OP_BATCH,
    OP_ERROR,
    OP_READY,
    OP_RESULT,
    OP_STARTUP,
    CassandraCqlSink,
    cql_literal,
    read_frame,
)


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">H", len(b)) + b


def _resp(opcode: int, body: bytes, stream: int = 0) -> bytes:
    return struct.pack(">BBhBi", 0x84, 0x00, stream, opcode, len(body)) + body


class FakeCassandra:
    """Minimal protocol-v4 server: READY (or AUTHENTICATE) handshake,
    BATCH frames decoded into their CQL statement strings."""

    def __init__(self, auth: bool = False, fail_batches: bool = False):
        self.auth = auth
        self.fail_batches = fail_batches
        self.statements: list[str] = []
        self.tokens: list[bytes] = []
        self.connections = 0
        self.batch_attempts = 0
        self._lock = threading.Lock()
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(16)
        self.port = self._srv.getsockname()[1]
        self._stop = False
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _serve(self):
        while not self._stop:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            with self._lock:
                self.connections += 1
            threading.Thread(
                target=self._handle, args=(conn,), daemon=True
            ).start()

    def _handle(self, conn):
        try:
            while True:
                opcode, body = read_frame(conn)
                if opcode == OP_STARTUP:
                    if self.auth:
                        conn.sendall(
                            _resp(
                                OP_AUTHENTICATE,
                                _string(
                                    "org.apache.cassandra.auth.PasswordAuthenticator"
                                ),
                            )
                        )
                    else:
                        conn.sendall(_resp(OP_READY, b""))
                elif opcode == OP_AUTH_RESPONSE:
                    (n,) = struct.unpack(">i", body[:4])
                    token = body[4 : 4 + n]
                    with self._lock:
                        self.tokens.append(token)
                    if token == b"\x00flink\x00secret":
                        conn.sendall(
                            _resp(OP_AUTH_SUCCESS, struct.pack(">i", -1))
                        )
                    else:
                        conn.sendall(
                            _resp(
                                OP_ERROR,
                                struct.pack(">i", 0x0100) + _string("bad creds"),
                            )
                        )
                elif opcode == OP_BATCH:
                    stmts = self._decode_batch(body)
                    with self._lock:
                        self.statements.extend(stmts)
                        self.batch_attempts += 1
                    if self.fail_batches:
                        conn.sendall(
                            _resp(
                                OP_ERROR,
                                struct.pack(">i", 0x2200)
                                + _string("unconfigured table"),
                            )
                        )
                    else:
                        # RESULT, kind = Void (0x0001)
                        conn.sendall(_resp(OP_RESULT, struct.pack(">i", 1)))
                else:  # pragma: no cover - unexpected opcode
                    conn.sendall(
                        _resp(
                            OP_ERROR,
                            struct.pack(">i", 0x000A)
                            + _string(f"unexpected opcode {opcode}"),
                        )
                    )
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    @staticmethod
    def _decode_batch(body: bytes) -> list[str]:
        btype, n = struct.unpack(">BH", body[:3])
        assert btype == 0x01  # UNLOGGED
        off = 3
        out = []
        for _ in range(n):
            kind = body[off]
            assert kind == 0  # CQL string, not prepared id
            off += 1
            (ln,) = struct.unpack(">i", body[off : off + 4])
            off += 4
            out.append(body[off : off + ln].decode())
            off += ln
            (nvals,) = struct.unpack(">H", body[off : off + 2])
            assert nvals == 0
            off += 2
        return out

    def close(self):
        self._stop = True
        self._srv.close()


def test_cql_sink_insert_upserts_batched(spark):
    srv = FakeCassandra()
    try:
        sink = CassandraCqlSink(
            "127.0.0.1",
            "ks",
            "events",
            port=srv.port,
            batch_max_statements=3,
        )
        df = spark.createDataFrame(
            [(i, f"name-{i}", float(i) / 2) for i in range(8)],
            "id long, name string, score double",
        ).coalesce(1)
        sink(df, batch_id=0)
        stmts = sorted(srv.statements)
        assert len(stmts) == 8
        assert stmts[0] == (
            "INSERT INTO ks.events (id, name, score) VALUES (0, 'name-0', 0.0)"
        )
        assert all(s.startswith("INSERT INTO ks.events ") for s in stmts)
        assert srv.connections == 1  # one connection per partition, not per row
    finally:
        srv.close()


def test_cql_sink_sasl_plain_auth(spark):
    srv = FakeCassandra(auth=True)
    try:
        sink = CassandraCqlSink(
            "127.0.0.1",
            "ks",
            "t",
            port=srv.port,
            username="flink",
            password="secret",
        )
        df = spark.createDataFrame([(1,)], "id long").coalesce(1)
        sink(df, batch_id=0)
        assert srv.tokens == [b"\x00flink\x00secret"]
        assert len(srv.statements) == 1
    finally:
        srv.close()


def test_cql_sink_auth_required_but_missing(spark):
    srv = FakeCassandra(auth=True)
    try:
        sink = CassandraCqlSink("127.0.0.1", "ks", "t", port=srv.port)
        df = spark.createDataFrame([(1,)], "id long").coalesce(1)
        with pytest.raises(Exception, match="requires authentication"):
            sink(df, batch_id=0)
    finally:
        srv.close()


def test_cql_sink_server_error_is_loud(spark):
    srv = FakeCassandra(fail_batches=True)
    try:
        sink = CassandraCqlSink("127.0.0.1", "ks", "t", port=srv.port)
        df = spark.createDataFrame([(1,)], "id long").coalesce(1)
        with pytest.raises(Exception, match="unconfigured table"):
            sink(df, batch_id=0)
    finally:
        srv.close()


def test_cql_literals():
    import datetime

    assert cql_literal(None) == "NULL"
    assert cql_literal(True) == "true"
    assert cql_literal(42) == "42"
    assert cql_literal(0.1) == "0.1"  # repr: shortest round-trip
    assert cql_literal("o'brien") == "'o''brien'"
    assert cql_literal(b"\x01\xff") == "0x01ff"
    assert cql_literal([1, 2]) == "[1, 2]"
    assert cql_literal({"a": 1}) == "{'a': 1}"
    assert (
        cql_literal(datetime.datetime(1970, 1, 1, 0, 0, 1)) == "1000"
    )  # epoch millis


def test_cql_literal_tz_aware_uses_utc_epoch():
    """A +05:00 wall time 05:00:01 IS epoch second 1 — the epoch anchor
    must be UTC, not the value's own zone (which would encode 5 h late)."""
    import datetime

    plus5 = datetime.timezone(datetime.timedelta(hours=5))
    aware = datetime.datetime(1970, 1, 1, 5, 0, 1, tzinfo=plus5)
    assert cql_literal(aware) == "1000"
    utc = datetime.datetime(1970, 1, 1, 0, 0, 1, tzinfo=datetime.timezone.utc)
    assert cql_literal(utc) == "1000"
    # naive values are treated as UTC (unchanged)
    assert cql_literal(datetime.datetime(1970, 1, 1, 0, 0, 1)) == "1000"


def test_cql_literal_nonfinite_floats():
    """CQL spells non-finite floats Infinity/-Infinity/NaN; Python repr's
    'inf' is not a CQL keyword and fails the whole INSERT server-side."""
    assert cql_literal(float("inf")) == "Infinity"
    assert cql_literal(float("-inf")) == "-Infinity"
    assert cql_literal(float("nan")) == "NaN"
    assert cql_literal(1.5) == "1.5"


def test_cql_sink_param_validation():
    with pytest.raises(ValueError, match="contact host"):
        CassandraCqlSink("", "ks", "t")
    with pytest.raises(ValueError, match="consistency"):
        CassandraCqlSink("h", "ks", "t", consistency="MOST")
    with pytest.raises(ValueError, match="both username and password"):
        CassandraCqlSink("h", "ks", "t", username="u")


def test_cql_sink_retries_whole_batch_on_write_timeout(spark):
    from my_flink_1_10_2_spark.testing import InMemoryCqlServer

    srv = InMemoryCqlServer(fail_each_batch_once=True)
    try:
        sink = CassandraCqlSink(
            "127.0.0.1", "ks", "t", port=srv.port,
            batch_max_statements=3, max_retries=2, retry_delay_s=0.01,
        )
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, val string"
        ).coalesce(1)
        sink(df, batch_id=0)
        # 3 batches (3+3+2), each failed once then resent whole
        assert srv.failed_batches == 3
        assert len(srv.statements) == 8  # applied statements, post-retry
        assert len(srv.upserts) == 8  # idempotent: one key per source row
        assert srv.upserts[("ks.t", "5")]["val"] == "'v5'"
    finally:
        srv.close()


def test_cql_sink_write_timeout_exhausts_retries(spark):
    from my_flink_1_10_2_spark.testing import InMemoryCqlServer

    class AlwaysTimeout(InMemoryCqlServer):
        def __init__(self):
            super().__init__(fail_each_batch_once=True)
            self._seen_batches = _AlwaysFresh()

    class _AlwaysFresh(set):
        def __contains__(self, item):
            return False

    srv = AlwaysTimeout()
    try:
        sink = CassandraCqlSink(
            "127.0.0.1", "ks", "t", port=srv.port,
            max_retries=1, retry_delay_s=0.01,
        )
        df = spark.createDataFrame([(1, "a")], "id long, val string").coalesce(1)
        with pytest.raises(Exception, match="BATCH failed"):
            sink(df, batch_id=0)
        assert srv.failed_batches >= 2  # initial + exhausted retry
    finally:
        srv.close()


def test_cql_sink_nontimeout_error_not_retried(spark):
    # the legacy FakeCassandra failure (0x2200 unconfigured table) must
    # stay fatal even when retries are configured
    srv = FakeCassandra(fail_batches=True)
    try:
        sink = CassandraCqlSink(
            "127.0.0.1", "ks", "t", port=srv.port,
            max_retries=3, retry_delay_s=0.01,
        )
        df = spark.createDataFrame([(1,)], "id long").coalesce(1)
        with pytest.raises(Exception, match="unconfigured table"):
            sink(df, batch_id=0)
        assert srv.batch_attempts == 1
    finally:
        srv.close()
