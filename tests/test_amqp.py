"""RabbitMQ AMQP 0-9-1 jar-free path (ref: flink-connector-rabbitmq/
RMQSource.java, RMQSink.java): frame codec, client handshake, sink
publish discipline, competing-consumer drain, correlation-id dedup —
all over a live in-process broker socket."""

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from my_flink_1_10_2_spark.sources.amqp_py import (
    AmqpClient,
    RMQConnectionConfig,
    RMQSink,
    decode_properties,
    encode_properties,
    rmq_drain_source,
)
from my_flink_1_10_2_spark.testing import InMemoryAmqpBroker


@pytest.fixture()
def broker():
    b = InMemoryAmqpBroker()
    yield b
    b.close()


def test_properties_roundtrip_exhaustive():
    for props in [
        {},
        {"content_type": "application/json"},
        {"delivery_mode": 2},
        {"correlation_id": "abc-123"},
        {"content_type": "t", "delivery_mode": 1, "correlation_id": "x",
         "message_id": "m9"},
    ]:
        assert decode_properties(encode_properties(**props)) == props


@given(
    st.text(max_size=80),
    st.binary(max_size=200_000),
)
@settings(max_examples=20, deadline=None)
def test_publish_get_roundtrip_property(cid, body):
    b = InMemoryAmqpBroker()
    try:
        c = AmqpClient(b.config())
        c.queue_declare("q")
        c.basic_publish("q", body, correlation_id=cid)
        tag, props, got = c.basic_get("q")
        assert got == body
        assert props.get("correlation_id") == cid
        c.basic_ack(tag)
        assert c.basic_get("q") is None
        c.close()
    finally:
        b.close()


def test_multi_frame_body_and_redelivery(broker):
    c = AmqpClient(broker.config())
    c.queue_declare("q")
    c.basic_publish("q", b"z" * 300_000)  # > frame_max: split body frames
    tag, _props, body = c.basic_get("q")
    assert len(body) == 300_000
    c.close()  # closed WITHOUT ack -> broker re-queues
    c2 = AmqpClient(broker.config())
    got = c2.basic_get("q")
    assert got is not None and got[2] == b"z" * 300_000
    c2.basic_ack(got[0])
    assert c2.basic_get("q") is None
    c2.close()


def test_handshake_rejects_wrong_reply(broker):
    # a declare against a closed broker port fails loudly
    cfg = RMQConnectionConfig(host="127.0.0.1", port=1)  # nothing listens
    with pytest.raises(OSError):
        AmqpClient(cfg)


def test_sink_publishes_json_rows_per_partition(spark, broker):
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(20)], "id long, name string"
    ).repartition(4)
    RMQSink(broker.config(), "rows_q", correlation_id_field="id")(df, 0)
    assert broker.published == 20
    bodies = [json.loads(b.decode()) for _p, b in broker.queues["rows_q"]]
    assert sorted(d["id"] for d in bodies) == list(range(20))
    props = [p for p, _b in broker.queues["rows_q"]]
    assert all(p["content_type"] == "application/json" for p in props)
    assert sorted(int(p["correlation_id"]) for p in props) == list(range(20))


def test_sink_raw_body_field(spark, broker):
    df = spark.createDataFrame([("payload-1",), ("payload-2",)], "msg string")
    RMQSink(broker.config(), "raw_q", body_field="msg")(df, 0)
    assert sorted(b for _p, b in broker.queues["raw_q"]) == [
        b"payload-1",
        b"payload-2",
    ]


def test_drain_source_competing_consumers_and_dedup(spark, broker):
    for i in range(30):
        broker.publish(
            "in_q", json.dumps({"v": i}).encode(), correlation_id=str(i % 10)
        )
    out = rmq_drain_source(
        spark, broker.config(), "in_q", consumers=4, uses_correlation_id=True
    )
    rows = out.collect()
    assert len(rows) == 10  # 30 deliveries, 10 distinct correlation ids
    assert sorted(r.correlation_id for r in rows) == sorted(
        str(i) for i in range(10)
    )
    assert broker.acked == 30  # every delivery acked even when deduped
    assert broker.queues["in_q"] == []


def test_drain_source_without_dedup_keeps_duplicates(spark, broker):
    for i in range(6):
        broker.publish("d_q", str(i).encode(), correlation_id="same")
    out = rmq_drain_source(spark, broker.config(), "d_q", consumers=2)
    assert out.count() == 6


def test_connectors_shim_delegates(spark, broker):
    from my_flink_1_10_2_spark.sources.connectors import rabbitmq_source

    broker.publish("s_q", b"hello")
    df = rabbitmq_source(spark, broker.config(), "s_q", consumers=1)
    assert [bytes(r.body) for r in df.collect()] == [b"hello"]

def test_drain_source_rejects_idless_message_in_dedup_mode(spark, broker):
    """uses_correlation_id=True + an id-less message must fail LOUDLY
    (ref: RMQSource.java) — silently deduping NULL ids would collapse
    every id-less message into one row."""
    import pytest

    broker.publish("nc_q", b"has-id", correlation_id="a")
    broker.publish("nc_q", b"no-id")  # no correlation id
    # the eager checkpoint inside the source triggers the drain job
    with pytest.raises(Exception, match="correlation id"):
        rmq_drain_source(
            spark, broker.config(), "nc_q", consumers=1, uses_correlation_id=True
        )
