"""Streaming-HTTP line source / Twitter path (ref:
flink-connector-twitter/TwitterSource.java): chunked line reads,
keep-alive skipping, bearer header, multi-stream parallelism — over a
live in-process chunked HTTP endpoint."""

import json

from my_flink_1_10_2_spark.sources.http_stream import (
    http_line_stream_source,
    twitter_source,
)
from my_flink_1_10_2_spark.testing import InMemoryLineStreamServer


def test_reads_all_lines_and_skips_keepalives(spark):
    lines = [json.dumps({"i": i}) for i in range(23)]
    server = InMemoryLineStreamServer(lines, keepalive_every=3)
    try:
        df = http_line_stream_source(spark, server.url)
        got = [r.line for r in df.collect()]
        assert got == lines  # order preserved, blanks dropped
    finally:
        server.close()


def test_max_lines_bounds_the_stream(spark):
    server = InMemoryLineStreamServer([f"l{i}" for i in range(50)])
    try:
        df = http_line_stream_source(spark, server.url, max_lines=7)
        assert df.count() == 7
    finally:
        server.close()


def test_multiple_parallel_streams_get_stream_ids(spark):
    server = InMemoryLineStreamServer(["a", "b"])
    try:
        df = http_line_stream_source(spark, [server.url, server.url])
        rows = df.collect()
        assert sorted((r.stream_id, r.line) for r in rows) == [
            (0, "a"), (0, "b"), (1, "a"), (1, "b"),
        ]
    finally:
        server.close()


def test_twitter_source_sends_bearer_and_parses(spark):
    statuses = [json.dumps({"id": i, "text": f"t{i}"}) for i in range(5)]
    server = InMemoryLineStreamServer(statuses, keepalive_every=2)
    try:
        df = twitter_source(
            spark, server.url + "/2/tweets/sample/stream",
            bearer_token="secret-token",
        )
        assert df.count() == 5
        assert any(
            h.get("Authorization") == "Bearer secret-token"
            for h in server.seen_headers
        )
    finally:
        server.close()


def test_connectors_shim_delegates(spark):
    from my_flink_1_10_2_spark.sources.connectors import twitter_source as shim

    server = InMemoryLineStreamServer(["one"])
    try:
        df = shim(spark, server.url)
        assert [r.line for r in df.collect()] == ["one"]
    finally:
        server.close()
