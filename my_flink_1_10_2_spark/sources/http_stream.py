"""Streaming-HTTP line source — the jar-free functional path for the
Twitter connector (ref: flink-connectors/flink-connector-twitter/.../
TwitterSource.java).

The reference wraps the hosebird client around Twitter's public
streaming HTTP API: one long-lived chunked HTTP response carrying
newline-delimited JSON statuses, emitted downstream as raw strings
(the ``SimpleStringSchema`` default).  That transport shape — GET an
endpoint, read the chunked body line by line — is generic, so the
module exposes it as ``http_line_stream_source`` and ``twitter_source``
is the bearer-authenticated specialization.

Parallelism parity: the reference source opens ONE stream per subtask;
``streams`` here is one executor task per connection, each given the
same or distinct endpoint URLs (filtered rules / partitions of the
backfill).  Rows surface executor-side; the driver never sees bodies.
"""

from __future__ import annotations

from my_flink_1_10_2_spark.sources.sharding import read_per_task, row_chunks


def _iter_lines(url: str, headers: dict | None, max_lines: int | None):
    import urllib.request

    req = urllib.request.Request(url)
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    n = 0
    with urllib.request.urlopen(req, timeout=300) as resp:
        buf = b""
        while True:
            chunk = resp.read(8192)
            if not chunk:
                break
            buf += chunk
            while b"\n" in buf:
                line, buf = buf.split(b"\n", 1)
                line = line.strip()
                if not line:
                    continue  # keep-alive newlines per the streaming API
                yield line.decode("utf-8", errors="replace")
                n += 1
                if max_lines is not None and n >= max_lines:
                    return
        if buf.strip():
            yield buf.strip().decode("utf-8", errors="replace")


def http_line_stream_source(
    spark,
    urls,
    *,
    headers: dict | None = None,
    max_lines: int | None = None,
):
    """Read newline-delimited text over streaming HTTP → DataFrame
    ``(stream_id int, line string)``.  ``urls`` is one endpoint per
    parallel stream (a single string opens one stream).  ``max_lines``
    bounds each stream (None = run to EOF — endless for live APIs, so
    bound it in batch jobs)."""
    if isinstance(urls, str):
        urls = [urls]
    urls = list(urls)
    hdrs, cap = dict(headers or {}), max_lines

    def drain(idx, url):
        return row_chunks((idx, line) for line in _iter_lines(url, hdrs, cap))

    # A live stream read is not replayable: pin the rows executor-side
    # NOW so recomputation never re-opens the endpoint.
    return read_per_task(
        spark,
        list(enumerate(urls)),
        "stream_id int, line string",
        drain,
    ).localCheckpoint(eager=True)


def twitter_source(
    spark,
    url: str,
    *,
    bearer_token: str | None = None,
    max_lines: int | None = None,
    streams: int = 1,
):
    """ref: TwitterSource.java — the sample/filter streaming endpoint as
    newline-delimited JSON statuses, one connection per subtask, each
    status emitted as its raw string.  Returns ``(stream_id, line)``;
    parse with ``F.get_json_object``/``from_json`` downstream exactly
    like the reference's deserialization schema."""
    headers = {}
    if bearer_token:
        headers["Authorization"] = f"Bearer {bearer_token}"
    return http_line_stream_source(
        spark, [url] * streams, headers=headers, max_lines=max_lines
    )
