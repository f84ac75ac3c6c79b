"""GCP Pub/Sub jar-free REST path (ref: flink-connector-gcp-pubsub/
PubSubSink.java, PubSubSource.java): publish framing, parallel pull +
ack-on-success, lease-expiry redelivery with messageId dedup — all over
a live in-process HTTP emulator."""

import base64
import json

import pytest

from my_flink_1_10_2_spark.sources.pubsub_rest import (
    PubSubRestSink,
    _http_post_json,
    pubsub_pull_source,
)
from my_flink_1_10_2_spark.testing import InMemoryPubSubServer


@pytest.fixture()
def server():
    s = InMemoryPubSubServer()
    s.create_subscription("t", "sub")
    yield s
    s.close()


def test_publish_fans_out_to_all_subscriptions(server):
    server.create_subscription("t", "sub2")
    out = _http_post_json(
        f"{server.url}/v1/projects/p/topics/t:publish",
        {"messages": [{"data": base64.b64encode(b"x").decode()}]},
    )
    assert len(out["messageIds"]) == 1
    assert len(server.queues["sub"]) == 1
    assert len(server.queues["sub2"]) == 1
    # both copies share the topic-assigned messageId
    assert server.queues["sub"][0]["messageId"] == out["messageIds"][0]


def test_unknown_resource_is_a_loud_http_error(server):
    with pytest.raises(RuntimeError, match="HTTP 404"):
        _http_post_json(f"{server.url}/v1/projects/p/topics/nope:frobnicate", {})


def test_sink_chunking_attributes_and_raw_body(spark, server):
    df = spark.createDataFrame(
        [(i, f"grp{i % 3}", f"payload-{i}") for i in range(25)],
        "id long, grp string, msg string",
    ).repartition(4)
    PubSubRestSink(
        server.url, "p", "t",
        body_field="msg", attribute_fields=("id", "grp"),
        batch_max_messages=6,
    )(df, 0)
    assert server.published == 25
    msgs = server.queues["sub"]
    decoded = sorted(base64.b64decode(m["data"]).decode() for m in msgs)
    assert decoded == sorted(f"payload-{i}" for i in range(25))
    assert all(m["attributes"]["grp"].startswith("grp") for m in msgs)


def test_sink_rejects_over_api_limit():
    with pytest.raises(ValueError, match="at most 1000"):
        PubSubRestSink("http://x", "p", "t", batch_max_messages=2000)


def test_pull_source_parallel_drain_and_ack(spark, server):
    for i in range(40):
        _http_post_json(
            f"{server.url}/v1/projects/p/topics/t:publish",
            {"messages": [{"data": base64.b64encode(str(i).encode()).decode(),
                           "attributes": {"k": str(i)}}]},
        )
    df = pubsub_pull_source(
        spark, server.url, "p", "sub", consumers=4, max_messages=7
    )
    rows = df.collect()
    assert sorted(bytes(r.body).decode() for r in rows) == sorted(
        str(i) for i in range(40)
    )
    assert rows[0].attributes["k"] is not None
    assert server.acked == 40
    assert server.queues["sub"] == [] and server.leased == {}


def test_lease_expiry_redelivers_same_message_id(spark, server):
    _http_post_json(
        f"{server.url}/v1/projects/p/topics/t:publish",
        {"messages": [{"data": base64.b64encode(b"only").decode()}]},
    )
    first = pubsub_pull_source(
        spark, server.url, "p", "sub", consumers=1, max_pulls=1, ack=False
    ).localCheckpoint()
    assert first.count() == 1
    assert server.expire_leases() == 1
    again = pubsub_pull_source(spark, server.url, "p", "sub", consumers=1)
    merged = first.unionByName(again)
    assert merged.count() == 2  # genuinely delivered twice
    assert merged.dropDuplicates(["message_id"]).count() == 1
    assert server.acked == 1


def test_connectors_shim_delegates(spark, server):
    from my_flink_1_10_2_spark.sources.connectors import pubsub_source

    _http_post_json(
        f"{server.url}/v1/projects/p/topics/t:publish",
        {"messages": [{"data": base64.b64encode(b"via-shim").decode()}]},
    )
    df = pubsub_source(spark, server.url, "p", "sub", consumers=1)
    assert [bytes(r.body) for r in df.collect()] == [b"via-shim"]

def test_connectors_shim_dedups_by_default(monkeypatch):
    """pubsub_source documents messageId dedup (the reference default) —
    the shim must pass dedup_on_message_id=True down unless the caller
    overrides it."""
    from my_flink_1_10_2_spark.sources import connectors, pubsub_rest

    seen = {}

    def fake(spark, base_url, project, subscription, **kwargs):
        seen.update(kwargs)
        return "df"

    monkeypatch.setattr(pubsub_rest, "pubsub_pull_source", fake)
    assert connectors.pubsub_source(None, "http://x", "p", "s") == "df"
    assert seen["dedup_on_message_id"] is True
    seen.clear()
    connectors.pubsub_source(None, "http://x", "p", "s",
                             dedup_on_message_id=False)
    assert seen["dedup_on_message_id"] is False
