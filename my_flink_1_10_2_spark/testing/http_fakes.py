"""HTTP service emulators: Elasticsearch ``_bulk``, Kinesis PutRecords,
HBase REST, Pub/Sub, NiFi Site-to-Site, a streaming line endpoint, the
Confluent schema registry, and a plain recording JSON endpoint."""

from __future__ import annotations

import hashlib
import json
import re
import threading
import zlib
from urllib.parse import parse_qs, urlparse

from my_flink_1_10_2_spark.sources.hbase_rest import _b64, _unb64
from my_flink_1_10_2_spark.sources.nifi_s2s import (
    CONFIRM_TRANSACTION,
    decode_data_packets,
    encode_data_packets,
)
from my_flink_1_10_2_spark.testing.server import HttpFake, QuietHandler


def _int_key(key: str) -> int:
    """A record key as an int, or its byte sum when it is not numeric."""
    try:
        return int(key)
    except ValueError:
        return sum(key.encode())


class InMemoryJsonHttpServer(HttpFake):
    """Records every request body (thread-safe) and answers with a fixed
    JSON response — lets the Kinesis PutRecords and Elasticsearch _bulk
    sinks be oracle-graded over REAL HTTP without the services."""

    def __init__(self, response: bytes = b"{}", status: int = 200):
        self.bodies: list[bytes] = []
        self._lock = threading.Lock()
        srv = self

        class Handler(QuietHandler):
            def do_POST(self):
                body = self._body()
                with srv._lock:
                    srv.bodies.append(body)
                self._reply(status, response, "application/json")

            do_PUT = do_POST

        self._serve_http(Handler)


class InMemoryKinesisServer(HttpFake):
    """Kinesis PutRecords endpoint with a DETERMINISTIC first-attempt
    throttle policy: a record whose PartitionKey (as int) satisfies
    ``key % throttle_mod == throttle_rem`` is rejected with a per-record
    ``ProvisionedThroughputExceededException`` the FIRST time that key
    is seen and accepted on any retry — the partial-failure shape the
    real service produces under shard throttling.  Accepted records
    accumulate in ``.records`` in arrival order (thread-safe), so a
    correct retry-only-the-failed-subset producer lands every source
    record exactly once."""

    def __init__(self, throttle_mod: int = 3, throttle_rem: int = 1):
        self.records: list[dict] = []
        self.calls = 0
        self._seen: set[str] = set()
        self._lock = threading.Lock()
        srv = self

        class Handler(QuietHandler):
            def do_POST(self):
                req = json.loads(self._body())
                results, failed = [], 0
                with srv._lock:
                    srv.calls += 1
                    for rec in req.get("Records", []):
                        key = str(rec.get("PartitionKey", ""))
                        first = key not in srv._seen
                        srv._seen.add(key)
                        if first and _int_key(key) % throttle_mod == throttle_rem:
                            failed += 1
                            results.append({
                                "ErrorCode": "ProvisionedThroughputExceededException",
                                "ErrorMessage": "Rate exceeded for shard",
                            })
                        else:
                            srv.records.append(rec)
                            results.append({
                                "SequenceNumber": str(len(srv.records)),
                                "ShardId": "shardId-000000000000",
                            })
                body = json.dumps({"FailedRecordCount": failed, "Records": results})
                self._reply(200, body.encode(), "application/x-amz-json-1.1")

        self._serve_http(Handler)


class InMemoryElasticsearchBulkServer(HttpFake):
    """ES ``_bulk`` endpoint with a DETERMINISTIC first-attempt
    rejection policy: an action whose ``_id`` (as int) satisfies
    ``id % reject_mod == reject_rem`` gets an item-level 429
    (``es_rejected_execution_exception``) the FIRST time that id is
    seen and a 201 on any retry — the bulk-queue-full shape the real
    service produces under pressure.  Every indexed doc appends to
    ``.indexed`` (thread-safe), so a correct retry-only-the-rejected
    sink indexes every source doc exactly once; a whole-payload retry
    shows up as duplicate appends."""

    def __init__(self, reject_mod: int = 3, reject_rem: int = 2):
        self.indexed: list[tuple[str, dict]] = []
        self.calls = 0
        self._seen: set[str] = set()
        self._lock = threading.Lock()
        srv = self

        class Handler(QuietHandler):
            def do_POST(self):
                lines = self._body().decode().splitlines()
                items, errors = [], False
                with srv._lock:
                    srv.calls += 1
                    for action, doc in zip(lines[0::2], lines[1::2]):
                        meta = json.loads(action)["index"]
                        _id = str(meta.get("_id", ""))
                        first = _id not in srv._seen
                        srv._seen.add(_id)
                        if first and _int_key(_id) % reject_mod == reject_rem:
                            errors = True
                            items.append({"index": {
                                "_index": meta.get("_index"), "_id": _id,
                                "status": 429,
                                "error": {
                                    "type": "es_rejected_execution_exception",
                                    "reason": "bulk queue full",
                                },
                            }})
                        else:
                            srv.indexed.append((_id, json.loads(doc)))
                            items.append({"index": {
                                "_index": meta.get("_index"), "_id": _id,
                                "status": 201,
                            }})
                body = json.dumps({"took": 1, "errors": errors, "items": items})
                self._reply(200, body.encode(), "application/json")

            do_PUT = do_POST

        self._serve_http(Handler)


class InMemoryHBaseRestServer(HttpFake):
    """HBase REST gateway emulator — an ordered {rowkey_bytes: {'cf:q':
    value_bytes}} store speaking the scanner create/next/delete and
    multi-row PUT subset of the Stargate API, so the source/sink are
    graded over a REAL HTTP transport without an HBase install."""

    def __init__(self, page_rows: int = 2, fail_each_put_once: bool = False):
        # page_rows: rows per scanner GET (small default forces the
        # client through the pagination loop)
        self.page_rows = page_rows
        self.store: dict[bytes, dict[str, bytes]] = {}
        self.scanners: dict[str, list] = {}
        self.scanner_log: list[tuple] = []  # (start, stop) per scanner
        self._next_id = [0]
        #: 503-rejected first attempts (fail_each_put_once mode)
        self.failed_puts = 0
        self._fail_once = fail_each_put_once
        self._seen_puts: set[bytes] = set()
        fake = self

        class Handler(QuietHandler):
            def do_PUT(self):
                parts = self.path.strip("/").split("/")
                if parts[-1] == "scanner":  # create scanner
                    model = json.loads(self._body())
                    start = _unb64(model["startRow"]) if "startRow" in model else b""
                    stop = _unb64(model["endRow"]) if "endRow" in model else None
                    fake.scanner_log.append((start, stop))
                    keys = sorted(
                        k for k in fake.store
                        if k >= start and (stop is None or k < stop)
                    )
                    sid = f"s{fake._next_id[0]}"
                    fake._next_id[0] += 1
                    fake.scanners[sid] = keys
                    self.send_response(201)
                    self.send_header(
                        "Location",
                        f"http://{self.headers['Host']}/{parts[0]}/scanner/{sid}",
                    )
                    self.end_headers()
                    return
                # multi-row CellSet PUT
                raw = self._body()
                if fake._fail_once:
                    sig = hashlib.md5(raw).digest()
                    if sig not in fake._seen_puts:
                        fake._seen_puts.add(sig)
                        fake.failed_puts += 1
                        return self._reply(503)
                for row in json.loads(raw)["Row"]:
                    cells = fake.store.setdefault(_unb64(row["key"]), {})
                    for c in row["Cell"]:
                        cells[_unb64(c["column"]).decode()] = _unb64(c["$"])
                self._reply(200)

            def do_GET(self):
                sid = self.path.strip("/").split("/")[-1]
                keys = fake.scanners.get(sid, [])
                if not keys:
                    return self._reply(204)
                n = fake.page_rows
                chunk, fake.scanners[sid] = keys[:n], keys[n:]
                rows = [
                    {
                        "key": _b64(k),
                        "Cell": [
                            {"column": _b64(col.encode()), "timestamp": 1, "$": _b64(v)}
                            for col, v in sorted(fake.store[k].items())
                        ],
                    }
                    for k in chunk
                ]
                self._reply(200, json.dumps({"Row": rows}).encode(), "application/json")

            def do_DELETE(self):
                fake.scanners.pop(self.path.strip("/").split("/")[-1], None)
                self._reply(200)

        self._serve_http(Handler)


class InMemoryPubSubServer(HttpFake):
    """Pub/Sub REST emulator: topic→subscription fan-out on :publish,
    lease-tracking :pull, :acknowledge.  Unacked messages return to the
    queue via :meth:`expire_leases` (the ack-deadline redelivery)."""

    def __init__(self):
        self.topics: dict[str, list[str]] = {}  # topic -> subscription names
        self.queues: dict[str, list[dict]] = {}  # subscription -> messages
        self.leased: dict[str, tuple[str, dict]] = {}  # ackId -> (sub, message)
        self.acked = 0
        self.published = 0
        self._seq = 0
        self._lock = threading.Lock()
        srv = self
        route = re.compile(
            r"^/v1/projects/([^/]+)/(topics|subscriptions)/([^/:]+):(\w+)$"
        )

        class Handler(QuietHandler):
            def do_POST(self):
                doc = json.loads(self._body() or b"{}")
                m = route.match(self.path)
                if not m:
                    return self._json(404, {"error": "no such resource"})
                _proj, kind, name, verb = m.groups()
                if (kind, verb) == ("topics", "publish"):
                    return self._json(200, srv._publish(name, doc))
                if (kind, verb) == ("subscriptions", "pull"):
                    return self._json(200, srv._pull(name, doc))
                if (kind, verb) == ("subscriptions", "acknowledge"):
                    return self._json(200, srv._ack(doc))
                return self._json(404, {"error": f"unsupported {verb}"})

            def _json(self, status: int, doc: dict):
                self._reply(status, json.dumps(doc).encode(), "application/json")

        self._serve_http(Handler)

    def create_subscription(self, topic: str, subscription: str) -> None:
        with self._lock:
            self.topics.setdefault(topic, []).append(subscription)
            self.queues.setdefault(subscription, [])

    def _publish(self, topic: str, doc: dict) -> dict:
        ids = []
        with self._lock:
            subs = self.topics.get(topic, [])
            for msg in doc.get("messages", []):
                self._seq += 1
                mid = str(self._seq)
                stored = {
                    "data": msg.get("data", ""),
                    "attributes": msg.get("attributes", {}),
                    "messageId": mid,
                }
                for s in subs:
                    self.queues[s].append(dict(stored))
                ids.append(mid)
                self.published += 1
        return {"messageIds": ids}

    def _pull(self, subscription: str, doc: dict) -> dict:
        want = int(doc.get("maxMessages", 100))
        out = []
        with self._lock:
            q = self.queues.setdefault(subscription, [])
            batch, self.queues[subscription] = q[:want], q[want:]
            for msg in batch:
                self._seq += 1
                ack_id = f"ack-{self._seq}"
                self.leased[ack_id] = (subscription, msg)
                out.append({"ackId": ack_id, "message": msg})
        return {"receivedMessages": out}

    def _ack(self, doc: dict) -> dict:
        with self._lock:
            for ack_id in doc.get("ackIds", []):
                if self.leased.pop(ack_id, None) is not None:
                    self.acked += 1
        return {}

    def expire_leases(self) -> int:
        """Return every leased-but-unacked message to its queue (the
        ack-deadline timeout) — redelivered with the SAME messageId."""
        with self._lock:
            n = len(self.leased)
            for sub, msg in self.leased.values():
                self.queues[sub].append(msg)
            self.leased.clear()
        return n


class InMemoryNiFiS2SServer(HttpFake):
    """S2S-HTTP emulator: transaction create/send/receive/confirm on one
    port that is both input (sink target) and output (source origin),
    with two-phase semantics — received data only dequeues, and sent
    data only commits, on a checksum-matching confirm."""

    def __init__(self, *, batch_packets: int = 100):
        self.queue: list[tuple[dict, bytes]] = []  # the port's flowfiles
        self.confirmed_sends = 0
        self.confirmed_receives = 0
        self._tx: dict[str, dict] = {}
        self._seq = 0
        self._lock = threading.Lock()
        self._batch = batch_packets
        srv = self
        tx_route = re.compile(
            r"^/nifi-api/data-transfer/(input-ports|output-ports)/([^/]+)"
            r"/transactions(?:/([^/?]+))?(?:/flow-files)?(?:\?(.*))?$"
        )

        class Handler(QuietHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):
                m = tx_route.match(self.path)
                if not m:
                    return self._reply(404)
                kind, _port, tx_id, _qs = m.groups()
                body = self._body()
                if tx_id is None:  # create
                    with srv._lock:
                        if kind == "output-ports" and not srv.queue:
                            return self._reply(204)
                        srv._seq += 1
                        new_id = f"tx-{srv._seq}"
                        tx = {"kind": kind, "data": b"", "leased": []}
                        if kind == "output-ports":
                            take = srv.queue[: srv._batch]
                            srv.queue = srv.queue[srv._batch :]
                            tx["leased"] = take
                            tx["data"] = encode_data_packets(take)
                        srv._tx[new_id] = tx
                    return self._reply(
                        201, b'{"transactionId": "' + new_id.encode() + b'"}'
                    )
                # send leg: stream arrives, answer its checksum
                with srv._lock:
                    tx = srv._tx.get(tx_id)
                    if tx is None or tx["kind"] != "input-ports":
                        return self._reply(404)
                    tx["data"] = body
                return self._reply(200, str(zlib.crc32(body)).encode())

            def do_GET(self):
                m = tx_route.match(self.path)
                if not m:
                    return self._reply(404)
                _kind, _port, tx_id, _qs = m.groups()
                with srv._lock:
                    tx = srv._tx.get(tx_id)
                    if tx is None or tx["kind"] != "output-ports":
                        return self._reply(404)
                    data = tx["data"]
                return self._reply(200, data)

            def do_DELETE(self):
                parsed = urlparse(self.path)
                m = tx_route.match(parsed.path)
                if not m:
                    return self._reply(404)
                _kind, _port, tx_id, _ = m.groups()
                qs = parse_qs(parsed.query)
                code = int(qs.get("responseCode", ["0"])[0])
                checksum = int(qs.get("checksum", ["-1"])[0])
                with srv._lock:
                    tx = srv._tx.pop(tx_id, None)
                    if tx is None:
                        return self._reply(404)
                    ok = code == CONFIRM_TRANSACTION and checksum == zlib.crc32(
                        tx["data"]
                    )
                    if not ok:
                        # rollback: leased flowfiles return to the port
                        if tx["kind"] == "output-ports":
                            srv.queue = tx["leased"] + srv.queue
                        return self._reply(400, b"checksum mismatch")
                    if tx["kind"] == "input-ports":
                        srv.queue.extend(decode_data_packets(tx["data"]))
                        srv.confirmed_sends += 1
                    else:
                        srv.confirmed_receives += 1
                return self._reply(200)

        self._serve_http(Handler)

    def abandon_open_transactions(self) -> int:
        """Drop every in-flight transaction WITHOUT confirm (an executor
        crash): output leases return to the queue, input data is lost
        uncommitted — the two-phase guarantee under test."""
        with self._lock:
            n = len(self._tx)
            for tx in self._tx.values():
                if tx["kind"] == "output-ports":
                    self.queue = tx["leased"] + self.queue
            self._tx.clear()
        return n


class InMemoryLineStreamServer(HttpFake):
    """Chunked-HTTP line-stream emulator: serves the given lines as a
    newline-delimited body with keep-alive blank lines interleaved (the
    streaming-API idle signal) and records request headers."""

    def __init__(self, lines: list[str], *, keepalive_every: int = 0):
        srv = self
        self.lines = list(lines)
        self.seen_headers: list[dict] = []
        self._ka = keepalive_every

        class Handler(QuietHandler):
            protocol_version = "HTTP/1.1"

            def do_GET(self):
                srv.seen_headers.append(dict(self.headers))
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()

                def chunk(b: bytes):
                    self.wfile.write(f"{len(b):x}\r\n".encode() + b + b"\r\n")

                for i, line in enumerate(srv.lines):
                    if srv._ka and i and i % srv._ka == 0:
                        chunk(b"\n")  # keep-alive
                    chunk(line.encode() + b"\n")
                self.wfile.write(b"0\r\n\r\n")

        self._serve_http(Handler)


class InMemorySchemaRegistry(HttpFake):
    """Confluent Schema Registry emulator: subject registration with
    schema-identity dedup (re-registering an identical schema returns
    the same id, per the real registry) and id lookup."""

    def __init__(self):
        self.schemas: dict[int, str] = {}
        self.subjects: dict[str, list[int]] = {}
        self._lock = threading.Lock()
        srv = self
        post_route = re.compile(r"^/subjects/([^/]+)/versions$")
        get_route = re.compile(r"^/schemas/ids/(\d+)$")

        class Handler(QuietHandler):
            def _json(self, status: int, doc: dict):
                self._reply(
                    status, json.dumps(doc).encode(),
                    "application/vnd.schemaregistry.v1+json",
                )

            def do_POST(self):
                m = post_route.match(self.path)
                if not m:
                    return self._json(404, {"error_code": 40401})
                schema_str = json.loads(self._body())["schema"]
                with srv._lock:
                    for sid, s in srv.schemas.items():
                        if s == schema_str:
                            break
                    else:
                        sid = len(srv.schemas) + 1
                        srv.schemas[sid] = schema_str
                    srv.subjects.setdefault(m.group(1), [])
                    if sid not in srv.subjects[m.group(1)]:
                        srv.subjects[m.group(1)].append(sid)
                return self._json(200, {"id": sid})

            def do_GET(self):
                m = get_route.match(self.path)
                if not m:
                    return self._json(404, {"error_code": 40401})
                with srv._lock:
                    s = srv.schemas.get(int(m.group(1)))
                if s is None:
                    return self._json(
                        404, {"error_code": 40403, "message": "Schema not found"}
                    )
                return self._json(200, {"schema": s})

        self._serve_http(Handler)
