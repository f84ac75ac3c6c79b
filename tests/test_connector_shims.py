"""ES / Kinesis option-translation shims (ref:
ElasticsearchSinkBase.java bulk-flush options; FlinkKinesisConsumer.java +
ConsumerConfigConstants.java initial positions).  No cluster needed — the
mapping is the contract, mirroring tests/test_kafka_shim.py."""

from __future__ import annotations

import pytest

from my_flink_1_10_2_spark.sources.connectors import (
    elasticsearch_sink_options,
    kinesis_source_options,
)

# -- Elasticsearch ----------------------------------------------------------


def test_es_hosts_and_resource():
    opts = elasticsearch_sink_options(
        "http://es1:9200;https://es2:9200", "docs", document_type="page"
    )
    assert opts["es.nodes"] == "es1:9200,es2:9200"
    assert opts["es.resource"] == "docs/page"
    # default failure handler 'fail' disables retries
    assert opts["es.batch.write.retry.count"] == "0"


def test_es_hosts_list_form_and_default_type():
    opts = elasticsearch_sink_options(["http://h:9200"], "idx")
    assert opts["es.resource"] == "idx/_doc"


def test_es_upsert_mode_maps_key():
    opts = elasticsearch_sink_options("http://h:9200", "idx", key_field="user_id")
    assert opts["es.mapping.id"] == "user_id"
    assert opts["es.write.operation"] == "upsert"


def test_es_bulk_flush_options():
    opts = elasticsearch_sink_options(
        "http://h:9200",
        "idx",
        failure_handler="retry-rejected",
        bulk_flush_max_actions=500,
        bulk_flush_max_size_mb=5,
        bulk_flush_backoff_max_retries=3,
        bulk_flush_backoff_delay_millis=250,
    )
    assert opts["es.batch.size.entries"] == "500"
    assert opts["es.batch.size.bytes"] == "5mb"
    assert opts["es.batch.write.retry.count"] == "3"
    assert opts["es.batch.write.retry.wait"] == "250ms"


def test_es_rejects_silent_drop_and_bad_handler():
    with pytest.raises(NotImplementedError):
        elasticsearch_sink_options("http://h:9200", "i", failure_handler="ignore")
    with pytest.raises(ValueError):
        elasticsearch_sink_options("http://h:9200", "i", failure_handler="boom")
    with pytest.raises(ValueError):
        elasticsearch_sink_options("", "i")


# -- Kinesis ----------------------------------------------------------------


def test_kinesis_region_endpoint_and_position():
    opts = kinesis_source_options("clicks", region="eu-west-1")
    assert opts["streamName"] == "clicks"
    assert opts["endpointUrl"] == "https://kinesis.eu-west-1.amazonaws.com"
    assert opts["startingPosition"] == "latest"


def test_kinesis_explicit_endpoint_wins():
    opts = kinesis_source_options(
        "s", region="us-east-1", endpoint="http://localstack:4566"
    )
    assert opts["endpointUrl"] == "http://localstack:4566"


def test_kinesis_initial_positions():
    assert (
        kinesis_source_options("s", region="r", initial_position="TRIM_HORIZON")[
            "startingPosition"
        ]
        == "trim_horizon"
    )
    opts = kinesis_source_options(
        "s", region="r", initial_position="AT_TIMESTAMP", initial_timestamp=1700000000.0
    )
    assert opts["startingPosition"] == "at_timestamp"
    assert opts["startingTimestamp"] == "1700000000.0"
    with pytest.raises(ValueError):
        kinesis_source_options("s", region="r", initial_position="AT_TIMESTAMP")
    with pytest.raises(ValueError):
        kinesis_source_options("s", region="r", initial_timestamp=5.0)
    with pytest.raises(ValueError):
        kinesis_source_options("s", region="r", initial_position="MIDDLE")


def test_kinesis_credentials_pairing():
    opts = kinesis_source_options(
        "s", region="r", access_key_id="AK", secret_key="SK"
    )
    assert opts["awsAccessKeyId"] == "AK" and opts["awsSecretKey"] == "SK"
    with pytest.raises(ValueError):
        kinesis_source_options("s", region="r", access_key_id="AK")
    with pytest.raises(ValueError):
        kinesis_source_options("s")  # neither region nor endpoint


def test_kinesis_throttle_mapping():
    opts = kinesis_source_options("s", region="r", max_records_per_shard=5000)
    assert opts["maxFetchRecordsPerShard"] == "5000"


# -- HBase ------------------------------------------------------------------


def test_hbase_catalog_json():
    import json

    from my_flink_1_10_2_spark.sources.connectors import hbase_catalog_json

    cat = json.loads(
        hbase_catalog_json(
            "users",
            rowkey_field="user_id",
            rowkey_type="BIGINT",
            columns=[
                ("name", "info", "n", "STRING"),
                ("balance", "acct", "bal", "DOUBLE"),
            ],
            namespace="prod",
        )
    )
    assert cat["table"] == {"namespace": "prod", "name": "users"}
    assert cat["rowkey"] == "key"
    assert cat["columns"]["user_id"] == {"cf": "rowkey", "col": "key", "type": "bigint"}
    assert cat["columns"]["name"] == {"cf": "info", "col": "n", "type": "string"}
    assert cat["columns"]["balance"] == {"cf": "acct", "col": "bal", "type": "double"}


def test_hbase_catalog_rejects_bad_schema():
    import pytest as _pytest

    from my_flink_1_10_2_spark.sources.connectors import hbase_catalog_json

    with _pytest.raises(ValueError, match="unsupported HBase column type"):
        hbase_catalog_json("t", "k", "DECIMAL(10,2)", [])
    with _pytest.raises(ValueError, match="duplicate field"):
        hbase_catalog_json(
            "t", "k", "STRING", [("k", "cf", "q", "STRING")]
        )


# -- Cassandra --------------------------------------------------------------


def test_cassandra_sink_options():
    from my_flink_1_10_2_spark.sources.connectors import cassandra_sink_options

    opts = cassandra_sink_options(
        "cass1.internal", "ks", "events", port=9043, max_concurrent_requests=128
    )
    assert opts["spark.cassandra.connection.host"] == "cass1.internal"
    assert opts["spark.cassandra.connection.port"] == "9043"
    assert opts["keyspace"] == "ks" and opts["table"] == "events"
    assert opts["spark.cassandra.output.concurrent.writes"] == "128"


def test_cassandra_sink_rejects_wal_and_empty_host():
    from my_flink_1_10_2_spark.sources.connectors import cassandra_sink_options

    with pytest.raises(NotImplementedError):
        cassandra_sink_options("h", "ks", "t", write_ahead_log=True)
    with pytest.raises(ValueError):
        cassandra_sink_options("", "ks", "t")


def test_no_connector_is_silently_gated():
    """Every reference connector now has a jar-free protocol path —
    RabbitMQ via AMQP 0-9-1 (sources/amqp_py.py), Pub/Sub via REST
    (sources/pubsub_rest.py), NiFi via Site-to-Site-HTTP
    (sources/nifi_s2s.py), Twitter via streaming HTTP
    (sources/http_stream.py).  The shims must delegate, not raise."""
    import inspect

    from my_flink_1_10_2_spark.sources import connectors

    for name in ["rabbitmq_source", "pubsub_source", "nifi_source",
                 "twitter_source"]:
        src = inspect.getsource(getattr(connectors, name))
        assert "NotImplementedError" not in src, f"{name} is still gated"


# ---------------------------------------------------------------------------
# ES bulk-protocol sink (jar-free functional path)
# ---------------------------------------------------------------------------


def test_es_bulk_sink_payload_chunking_and_ids(spark, tmp_path):
    """NDJSON bulk format, deterministic _id from the key field, and
    max-actions chunking — recorded through a file transport so the
    executor-side requests are observable."""
    import functools
    import json

    from my_flink_1_10_2_spark.sources.connectors import ElasticsearchBulkSink

    out = str(tmp_path / "requests.ndjson")

    def file_transport(url, payload, out_file=None):
        with open(out_file, "ab") as f:
            f.write(b"==REQ==\n" + payload)
        return 200, b'{"errors": false, "items": []}'

    sink = ElasticsearchBulkSink(
        hosts="http://es-1:9200;http://es-2:9200",
        index="docs",
        key_field="doc_id",
        bulk_max_actions=3,
        transport=functools.partial(file_transport, out_file=out),
    )
    assert sink.url == "http://es-1:9200/_bulk"
    df = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(8)], "doc_id long, text string"
    ).coalesce(1)
    sink(df, batch_id=0)

    raw = open(out, "rb").read()
    requests = [r for r in raw.split(b"==REQ==\n") if r]
    assert len(requests) == 3  # 8 docs at 3 actions/request
    metas, docs = [], []
    for r in requests:
        lines = [json.loads(line) for line in r.splitlines() if line]
        metas += lines[0::2]
        docs += lines[1::2]
    assert [m["index"]["_id"] for m in metas] == [str(i) for i in range(8)]
    assert all(m["index"]["_index"] == "docs" for m in metas)
    assert sorted(d["doc_id"] for d in docs) == list(range(8))


def test_es_bulk_sink_retries_rejected_then_succeeds(spark, tmp_path):
    import functools

    from my_flink_1_10_2_spark.sources.connectors import ElasticsearchBulkSink

    marker = str(tmp_path / "attempts")

    def flaky_transport(url, payload, out_file=None):
        with open(out_file, "a") as f:
            f.write("x")
        attempts = len(open(out_file).read())
        if attempts == 1:
            return 429, b"rejected"
        return 200, b'{"errors": false}'

    sink = ElasticsearchBulkSink(
        hosts="http://es:9200",
        index="docs",
        failure_handler="retry-rejected",
        max_retries=3,
        retry_delay_s=0.01,
        transport=functools.partial(flaky_transport, out_file=marker),
    )
    df = spark.createDataFrame([(1,)], "doc_id long").coalesce(1)
    sink(df, batch_id=0)  # no raise: 429 then success
    assert len(open(marker).read()) == 2


def test_es_bulk_sink_fail_handler_raises(spark, tmp_path):
    from my_flink_1_10_2_spark.sources.connectors import ElasticsearchBulkSink

    def rejecting_transport(url, payload):
        return 429, b"rejected"

    sink = ElasticsearchBulkSink(
        hosts="http://es:9200",
        index="docs",
        failure_handler="fail",
        transport=rejecting_transport,
    )
    df = spark.createDataFrame([(1,)], "doc_id long").coalesce(1)
    with pytest.raises(Exception, match="bulk flush failed"):
        sink(df, batch_id=0)


def test_es_bulk_sink_rejects_ignore_handler():
    from my_flink_1_10_2_spark.sources.connectors import ElasticsearchBulkSink

    with pytest.raises(NotImplementedError, match="silent data loss"):
        ElasticsearchBulkSink(hosts="h", index="i", failure_handler="ignore")


# ---------------------------------------------------------------------------
# HBase REST sink (jar-free functional path)
# ---------------------------------------------------------------------------


def test_hbase_rest_sink_protocol(spark, tmp_path):
    """Multi-row PUT body: base64 rowkeys/columns/values, default-family
    column mapping with explicit overrides, NULL cells dropped."""
    import base64
    import functools
    import json

    from my_flink_1_10_2_spark.sources.connectors import HBaseRestSink

    out = str(tmp_path / "puts.jsonl")

    def file_transport(url, payload, out_file=None):
        with open(out_file, "a") as f:
            f.write(json.dumps({"url": url, "body": json.loads(payload)}) + "\n")
        return 200, b"{}"

    sink = HBaseRestSink(
        base_url="http://hbase-rest:8080",
        table="users",
        rowkey_field="user_id",
        column_family="d",
        columns={"email": "meta:email"},
        transport=functools.partial(file_transport, out_file=out),
    )
    df = spark.createDataFrame(
        [(1, "alice", "a@x.io"), (2, "bob", None)],
        "user_id long, name string, email string",
    ).coalesce(1)
    sink(df, batch_id=0)

    reqs = [json.loads(line) for line in open(out)]
    assert reqs[0]["url"] == "http://hbase-rest:8080/users/fakerow"
    rows = [r for req in reqs for r in req["body"]["Row"]]
    dec = lambda s: base64.b64decode(s).decode()  # noqa: E731
    by_key = {dec(r["key"]): {dec(c["column"]): dec(c["$"]) for c in r["Cell"]}
              for r in rows}
    assert by_key["1"] == {"d:name": "alice", "meta:email": "a@x.io"}
    assert by_key["2"] == {"d:name": "bob"}  # NULL email dropped


def test_hbase_rest_sink_error_raises(spark):
    from my_flink_1_10_2_spark.sources.connectors import HBaseRestSink

    sink = HBaseRestSink(
        base_url="http://h:8080",
        table="t",
        rowkey_field="id",
        transport=lambda url, payload: (503, b"unavailable"),
    )
    df = spark.createDataFrame([(1,)], "id long").coalesce(1)
    with pytest.raises(Exception, match="REST put failed"):
        sink(df, batch_id=0)


# -- Kinesis PutRecords sink (protocol-level, recording transports) ---------


def test_kinesis_put_records_chunking_and_partition_keys(spark, tmp_path):
    """PutRecords JSON body shape, base64 Data payloads, deterministic
    partition keys from the key field, 3-records-per-call chunking, and
    unsigned-mode headers — recorded through a file transport."""
    import base64
    import functools
    import json

    from my_flink_1_10_2_spark.sources.connectors import KinesisPutRecordsSink

    out = str(tmp_path / "requests.jsonl")

    def file_transport(url, headers, payload, out_file=None):
        with open(out_file, "ab") as f:
            f.write(json.dumps({"url": url, "headers": headers}).encode())
            f.write(b"\n" + payload + b"\n")
        return 200, b'{"FailedRecordCount": 0, "Records": []}'

    sink = KinesisPutRecordsSink(
        "events",
        endpoint="http://localhost:4567",
        partition_key_field="user_id",
        batch_max_records=3,
        transport=functools.partial(file_transport, out_file=out),
    )
    df = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(8)], "user_id long, text string"
    ).coalesce(1)
    sink(df, batch_id=0)

    lines = open(out, "rb").read().splitlines()
    metas = [json.loads(l) for l in lines[0::2]]
    bodies = [json.loads(l) for l in lines[1::2]]
    assert len(bodies) == 3  # 8 records at 3/call
    assert all(m["url"] == "http://localhost:4567" for m in metas)
    assert all(
        m["headers"]["X-Amz-Target"] == "Kinesis_20131202.PutRecords"
        and "Authorization" not in m["headers"]
        for m in metas
    )
    assert all(b["StreamName"] == "events" for b in bodies)
    recs = [r for b in bodies for r in b["Records"]]
    assert [r["PartitionKey"] for r in recs] == [str(i) for i in range(8)]
    docs = [json.loads(base64.b64decode(r["Data"])) for r in recs]
    assert sorted(d["user_id"] for d in docs) == list(range(8))


def test_kinesis_put_records_retries_only_failed_subset(spark, tmp_path):
    """A 200 response with per-record ErrorCodes re-sends ONLY the
    rejected records (PutRecords is not atomic — the reference
    producer's throttle behavior)."""
    import base64
    import functools
    import json

    from my_flink_1_10_2_spark.sources.connectors import KinesisPutRecordsSink

    out = str(tmp_path / "requests.jsonl")

    def flaky_transport(url, headers, payload, out_file=None):
        body = json.loads(payload)
        with open(out_file, "ab") as f:
            f.write(payload + b"\n")
        n_prior = len(open(out_file, "rb").read().splitlines())
        if n_prior == 1:  # first call: reject the middle record only
            results = [{"SequenceNumber": "1"} for _ in body["Records"]]
            results[1] = {
                "ErrorCode": "ProvisionedThroughputExceededException",
                "ErrorMessage": "slow down",
            }
            return 200, json.dumps(
                {"FailedRecordCount": 1, "Records": results}
            ).encode()
        return 200, b'{"FailedRecordCount": 0, "Records": []}'

    sink = KinesisPutRecordsSink(
        "events",
        endpoint="http://localhost:4567",
        partition_key_field="user_id",
        retry_delay_s=0.0,
        transport=functools.partial(flaky_transport, out_file=out),
    )
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(3)], "user_id long, text string"
    ).coalesce(1)
    sink(df, batch_id=0)

    bodies = [json.loads(l) for l in open(out, "rb").read().splitlines()]
    assert len(bodies) == 2
    assert len(bodies[0]["Records"]) == 3
    retried = bodies[1]["Records"]
    assert len(retried) == 1
    doc = json.loads(base64.b64decode(retried[0]["Data"]))
    assert doc["user_id"] == 1  # exactly the rejected record, in order


def test_kinesis_put_records_malformed_results_retries_full_batch(spark, tmp_path):
    """A 200 response claiming failures but with a truncated/missing
    Records array must NOT zip-drop records — the full pending list is
    retried instead (at-least-once beats silent loss)."""
    import base64
    import functools
    import json

    from my_flink_1_10_2_spark.sources.connectors import KinesisPutRecordsSink

    out = str(tmp_path / "requests.jsonl")

    def truncating_transport(url, headers, payload, out_file=None):
        with open(out_file, "ab") as f:
            f.write(payload + b"\n")
        n_prior = len(open(out_file, "rb").read().splitlines())
        if n_prior == 1:  # failures claimed, but Records array is short
            return 200, json.dumps(
                {"FailedRecordCount": 1, "Records": [{"SequenceNumber": "1"}]}
            ).encode()
        return 200, b'{"FailedRecordCount": 0, "Records": []}'

    sink = KinesisPutRecordsSink(
        "events",
        endpoint="http://localhost:4567",
        partition_key_field="user_id",
        retry_delay_s=0.0,
        transport=functools.partial(truncating_transport, out_file=out),
    )
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(3)], "user_id long, text string"
    ).coalesce(1)
    sink(df, batch_id=0)

    bodies = [json.loads(l) for l in open(out, "rb").read().splitlines()]
    assert len(bodies) == 2
    assert len(bodies[0]["Records"]) == 3
    retried = bodies[1]["Records"]
    assert len(retried) == 3  # full batch, not a zip-truncated subset
    ids = sorted(
        json.loads(base64.b64decode(r["Data"]))["user_id"] for r in retried
    )
    assert ids == [0, 1, 2]


def test_kinesis_put_records_throttle_exhausts_retries(spark, tmp_path):
    import functools
    import json

    from my_flink_1_10_2_spark.sources.connectors import KinesisPutRecordsSink

    out = str(tmp_path / "attempts")

    def throttled(url, headers, payload, out_file=None):
        with open(out_file, "a") as f:
            f.write("x")
        return 400, json.dumps(
            {"__type": "ProvisionedThroughputExceededException"}
        ).encode()

    sink = KinesisPutRecordsSink(
        "events",
        endpoint="http://localhost:4567",
        max_retries=2,
        retry_delay_s=0.0,
        transport=functools.partial(throttled, out_file=out),
    )
    df = spark.createDataFrame([(1, "a")], "user_id long, text string").coalesce(1)
    with pytest.raises(Exception, match="PutRecords failed"):
        sink(df, batch_id=0)
    assert len(open(out).read()) == 3  # initial + 2 retries


def test_kinesis_put_records_oversize_record_fails_loudly(spark):
    from my_flink_1_10_2_spark.sources.connectors import KinesisPutRecordsSink

    calls = []

    sink = KinesisPutRecordsSink(
        "events",
        endpoint="http://localhost:4567",
        transport=lambda u, h, p: calls.append(1) or (200, b"{}"),
    )
    df = spark.createDataFrame(
        [(1, "x" * (2**20 + 10))], "user_id long, text string"
    ).coalesce(1)
    with pytest.raises(Exception, match="1 MiB"):
        sink(df, batch_id=0)
    assert not calls  # rejected before any network call


def test_kinesis_put_records_sigv4_headers_deterministic():
    """SigV4 signing (published AWS algorithm): stable under a fixed
    clock, correct scope/header structure, sensitive to the payload."""
    from my_flink_1_10_2_spark.sources.connectors import KinesisPutRecordsSink

    sink = KinesisPutRecordsSink(
        "events",
        region="us-east-1",
        access_key_id="AKIDEXAMPLE",
        secret_key="wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        clock=lambda: "20150830T123600Z",
    )
    h1 = sink._headers(b'{"StreamName": "events", "Records": []}')
    h2 = sink._headers(b'{"StreamName": "events", "Records": []}')
    h3 = sink._headers(b'{"StreamName": "events", "Records": [1]}')
    assert h1 == h2
    assert h1["Authorization"] != h3["Authorization"]
    assert h1["Authorization"].startswith(
        "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20150830/us-east-1/"
        "kinesis/aws4_request, "
        "SignedHeaders=content-type;host;x-amz-date;x-amz-target, Signature="
    )
    sig = h1["Authorization"].rsplit("Signature=", 1)[1]
    assert len(sig) == 64 and all(c in "0123456789abcdef" for c in sig)
    assert h1["X-Amz-Target"] == "Kinesis_20131202.PutRecords"


def test_kinesis_put_records_param_validation():
    from my_flink_1_10_2_spark.sources.connectors import KinesisPutRecordsSink

    with pytest.raises(ValueError, match="region / endpoint"):
        KinesisPutRecordsSink("s")
    with pytest.raises(ValueError, match="BASIC credentials"):
        KinesisPutRecordsSink("s", region="us-east-1", access_key_id="only-key")
    with pytest.raises(ValueError, match="at most"):
        KinesisPutRecordsSink("s", region="us-east-1", batch_max_records=501)


# ---------------------------------------------------------------------------
# Partial-failure retry oracles (round 8): item-level rejection servers
# ---------------------------------------------------------------------------


def test_es_bulk_sink_retries_only_rejected_items(spark):
    """Item-level 429s resubmit ONLY the rejected action/source pairs
    (ref: RetryRejectedExecutionFailureHandler) — the server's append
    log sees every doc exactly once; a whole-payload retry would
    duplicate the accepted docs."""
    from my_flink_1_10_2_spark.sources.connectors import (
        ElasticsearchBulkSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryElasticsearchBulkServer

    server = InMemoryElasticsearchBulkServer(reject_mod=2, reject_rem=0)
    try:
        sink = ElasticsearchBulkSink(
            server.url, "docs", key_field="doc_id",
            failure_handler="retry-rejected", retry_delay_s=0.01,
        )
        df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
        sink(df, batch_id=0)
        ids = sorted(int(i) for i, _ in server.indexed)
        assert ids == list(range(10))  # exactly once each
        assert server.calls > 1  # at least one retry round happened
    finally:
        server.close()


def test_kinesis_sink_retries_only_throttled_records(spark):
    from my_flink_1_10_2_spark.sources.connectors import (
        KinesisPutRecordsSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryKinesisServer

    server = InMemoryKinesisServer(throttle_mod=2, throttle_rem=1)
    try:
        sink = KinesisPutRecordsSink(
            "s", endpoint=server.url, partition_key_field="doc_id",
            retry_delay_s=0.01,
        )
        df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
        sink(df, batch_id=0)
        keys = sorted(int(r["PartitionKey"]) for r in server.records)
        assert keys == list(range(10))  # exactly once each
        assert server.calls > 1
    finally:
        server.close()


def test_es_bulk_sink_nonretryable_item_error_raises(spark):
    """A 400 mapping error must fail loudly, not loop or drop."""
    import json as _json

    from my_flink_1_10_2_spark.sources.connectors import ElasticsearchBulkSink

    def transport(url, payload):
        n = len(payload.decode().splitlines()) // 2
        items = [{"index": {"status": 400,
                            "error": {"type": "mapper_parsing_exception"}}}
                 for _ in range(n)]
        return 200, _json.dumps({"errors": True, "items": items}).encode()

    sink = ElasticsearchBulkSink(
        hosts="http://es:9200", index="docs",
        failure_handler="retry-rejected", transport=transport,
    )
    df = spark.createDataFrame([(1,)], "doc_id long").coalesce(1)
    with pytest.raises(Exception, match="bulk flush failed"):
        sink(df, batch_id=0)


def test_hbase_sink_retries_whole_put_on_503(spark):
    from my_flink_1_10_2_spark.sources.hbase_rest import (
        HBaseSchema,
        HBaseTypedRestSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryHBaseRestServer

    schema = HBaseSchema("id", "BIGINT", [("val", "f", "v", "STRING")])
    server = InMemoryHBaseRestServer(fail_each_put_once=True)
    try:
        sink = HBaseTypedRestSink(
            server.url, "t", schema, batch_max_rows=3,
            max_retries=2, retry_delay_s=0.01,
        )
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, val string"
        ).coalesce(1)
        sink(df)
        assert server.failed_puts == 3  # 3 payloads (3+3+2), each failed once
        assert len(server.store) == 8  # idempotent: one rowkey per source row
    finally:
        server.close()


def test_hbase_sink_503_exhausts_retries(spark):
    from my_flink_1_10_2_spark.sources.hbase_rest import (
        HBaseSchema,
        HBaseTypedRestSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryHBaseRestServer

    class AlwaysBusy(InMemoryHBaseRestServer):
        def __init__(self):
            super().__init__(fail_each_put_once=True)
            self._seen_puts = _NeverSeen()

    class _NeverSeen(set):
        def __contains__(self, item):
            return False

    schema = HBaseSchema("id", "BIGINT", [("val", "f", "v", "STRING")])
    server = AlwaysBusy()
    try:
        sink = HBaseTypedRestSink(
            server.url, "t", schema, max_retries=1, retry_delay_s=0.01,
        )
        df = spark.createDataFrame([(1, "a")], "id long, val string").coalesce(1)
        import pytest as _pytest

        with _pytest.raises(Exception, match="status=503"):
            sink(df)
        assert server.failed_puts >= 2
        assert server.store == {}
    finally:
        server.close()


def test_hbase_sink_non_retryable_status_stays_fatal(spark):
    from my_flink_1_10_2_spark.sources.hbase_rest import (
        HBaseSchema,
        HBaseTypedRestSink,
    )

    attempts = []

    def transport(method, url, headers, body):
        attempts.append(url)
        return 400, {}, b"bad request"

    schema = HBaseSchema("id", "BIGINT", [("val", "f", "v", "STRING")])
    sink = HBaseTypedRestSink(
        "http://x", "t", schema, transport=transport,
        max_retries=3, retry_delay_s=0.01,
    )
    df = spark.createDataFrame([(1, "a")], "id long, val string").coalesce(1)
    import pytest as _pytest

    with _pytest.raises(Exception, match="status=400"):
        sink(df)
