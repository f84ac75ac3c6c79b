"""The shared sink core (sources/sink_core.py): one partition loop with
count/byte chunking, one fixed-backoff retry that re-sends only the
rejected subset, one HTTP call that returns every status."""

from __future__ import annotations

import contextlib
import json

import pytest
from pyspark.sql import Row

from my_flink_1_10_2_spark.sources.connectors import (
    ElasticsearchBulkSink,
    HBaseRestSink,
)
from my_flink_1_10_2_spark.sources.sink_core import (
    PartitionSink,
    Rejected,
    http_request,
)
from my_flink_1_10_2_spark.testing import InMemoryHBaseRestServer
from my_flink_1_10_2_spark.testing.server import HttpFake, QuietHandler


class RecordingSink(PartitionSink):
    """Items are strings sized by their length; ``reject(chunk, n)``
    names the items the n-th send rejects, or raises a fatal error."""

    def __init__(self, max_items=1000, max_bytes=None, max_retries=0, reject=None):
        self.max_items, self.max_bytes = max_items, max_bytes
        self.max_retries = max_retries
        self.reject = reject or (lambda chunk, n: [])
        self.sent: list[list[str]] = []
        self.events: list[str] = []

    @contextlib.contextmanager
    def open(self, batch_id, partition):
        self.events.append("open")
        try:
            yield "conn"
        except BaseException:
            self.events.append("abort")
            raise
        self.events.append("commit")

    def encode(self, row):
        return row

    def item_bytes(self, item):
        return len(item)

    def flush(self, chunk, conn):
        assert conn == "conn"
        self.sent.append(list(chunk))
        rejected = self.reject(chunk, len(self.sent))
        if rejected:
            raise Rejected(f"rejected {rejected}", rejected)


def _fatal(chunk, n):
    raise RuntimeError("mapping error")


CASES = {
    "count cap": (
        dict(max_items=3), list("abcdefg"),
        [list("abc"), list("def"), ["g"]], None, ["open", "commit"],
    ),
    "byte cap never exceeded": (
        dict(max_bytes=5), ["xx", "yyy", "z", "wwww", "vvvvvv"],
        [["xx", "yyy"], ["z", "wwww"], ["vvvvvv"]], None, ["open", "commit"],
    ),
    "only the rejected subset is re-sent": (
        dict(max_retries=2, reject=lambda c, n: [x for x in c if x in "bd"] if n == 1 else []),
        list("abcd"), [list("abcd"), ["b", "d"]], None, ["open", "commit"],
    ),
    "raise after max_retries": (
        dict(max_retries=2, reject=lambda c, n: list(c)),
        list("ab"), [list("ab")] * 3, Rejected, ["open", "abort"],
    ),
    "no retry without max_retries": (
        dict(reject=lambda c, n: list(c)),
        list("ab"), [list("ab")], Rejected, ["open", "abort"],
    ),
    "fatal errors are not retried": (
        dict(max_retries=3, reject=_fatal),
        list("ab"), [list("ab")], RuntimeError, ["open", "abort"],
    ),
    "empty partition opens nothing": (
        dict(max_items=2), [], [], None, [],
    ),
}


@pytest.mark.parametrize("case", list(CASES), ids=list(CASES))
def test_partition_loop(case):
    kwargs, rows, want_sent, error, want_events = CASES[case]
    sink = RecordingSink(**kwargs)
    if error is None:
        sink.write_partition(rows)
    else:
        with pytest.raises(error):
            sink.write_partition(rows)
    assert sink.sent == want_sent
    assert sink.events == want_events


def test_es_sends_once_a_request_reaches_the_byte_cap():
    """ES keeps the bulk processor's rule: a request is cut once it
    REACHES the byte cap, so it may pass the cap by one action; the
    core default never lets a chunk pass its cap."""
    bodies = []
    row = Row(v="x" * 9)
    one = len(b"".join(ElasticsearchBulkSink("h", "i").encode(row))) + 2
    sink = ElasticsearchBulkSink(
        "http://es:9200", "i", bulk_max_bytes=one + 1,
        transport=lambda url, payload: bodies.append(payload) or (200, b"{}"),
    )
    sink.write_partition([row] * 3)
    assert [b.count(b"\n") for b in bodies] == [4, 2]  # 2 actions, then 1


class _ThrottleOnceThenIndex(HttpFake):
    """An ES ``_bulk`` endpoint that answers the first request with a
    whole-request 429 and indexes every later one."""

    def __init__(self):
        self.calls, self.indexed = 0, []
        srv = self

        class Handler(QuietHandler):
            def do_POST(self):
                lines = self._body().decode().splitlines()
                srv.calls += 1
                if srv.calls == 1:
                    return self._reply(429, b'{"error": "too many requests"}')
                srv.indexed += [json.loads(doc)["id"] for doc in lines[1::2]]
                items = [{"index": {"status": 201}} for _ in lines[1::2]]
                body = json.dumps({"errors": False, "items": items}).encode()
                self._reply(200, body, "application/json")

        self._serve_http(Handler)


def test_es_default_transport_retries_a_whole_request_429(spark):
    server = _ThrottleOnceThenIndex()
    try:
        sink = ElasticsearchBulkSink(
            server.url, "docs", key_field="id",
            failure_handler="retry-rejected", retry_delay_s=0.01,
        )
        df = spark.createDataFrame([(i,) for i in range(5)], "id long").coalesce(1)
        sink(df, 0)
        assert server.calls == 2
        assert sorted(server.indexed) == list(range(5))
    finally:
        server.close()


def test_http_request_returns_error_statuses():
    server = _ThrottleOnceThenIndex()
    try:
        status, headers, body = http_request("POST", server.url + "/_bulk", {}, b"")
        assert status == 429 and b"too many" in body
        assert headers["Content-Length"] == str(len(body))
    finally:
        server.close()


def test_hbase_string_sink_default_transport():
    server = InMemoryHBaseRestServer()
    try:
        sink = HBaseRestSink(server.url, "t", "id", batch_max_rows=2)
        sink.write_partition([Row(id=i, name=f"n{i}") for i in range(3)])
        assert server.store == {
            str(i).encode(): {"cf:name": f"n{i}".encode()} for i in range(3)
        }
    finally:
        server.close()
