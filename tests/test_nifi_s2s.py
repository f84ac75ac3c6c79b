"""NiFi Site-to-Site-over-HTTP jar-free path (ref: flink-connector-nifi/
NiFiSource.java, NiFiSink.java, StandardNiFiDataPacket.java): data-packet
codec, two-phase transactions with CRC32 confirm, crash rollback — all
over a live in-process emulator."""

import json
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from my_flink_1_10_2_spark.sources.nifi_s2s import (
    NiFiS2SSink,
    _create_transaction,
    _http,
    decode_data_packets,
    encode_data_packets,
    nifi_s2s_source,
)
from my_flink_1_10_2_spark.testing import InMemoryNiFiS2SServer


@pytest.fixture()
def server():
    s = InMemoryNiFiS2SServer(batch_packets=5)
    yield s
    s.close()


@given(
    st.lists(
        st.tuples(
            st.dictionaries(
                st.text(min_size=1, max_size=20), st.text(max_size=40), max_size=4
            ),
            st.binary(max_size=5000),
        ),
        max_size=8,
    )
)
@settings(max_examples=40, deadline=None)
def test_data_packet_codec_roundtrip(packets):
    decoded = decode_data_packets(encode_data_packets(packets))
    assert decoded == [(a, bytes(c)) for a, c in packets]


def test_decode_rejects_truncated_stream():
    buf = encode_data_packets([({"a": "1"}, b"hello")])
    with pytest.raises(ValueError, match="truncated"):
        decode_data_packets(buf[:-2])


def test_sink_two_phase_commit_and_source_drain(spark, server):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(17)], "id long, val string"
    ).repartition(3)
    NiFiS2SSink(
        server.url, "p1", body_field="val", attribute_fields=("id",),
        batch_max_packets=4,
    )(df, 0)
    assert len(server.queue) == 17
    assert server.confirmed_sends >= 3  # at least one tx per partition
    out = nifi_s2s_source(spark, server.url, "p1", consumers=2)
    rows = out.collect()
    assert sorted(bytes(r.content).decode() for r in rows) == sorted(
        f"v{i}" for i in range(17)
    )
    assert sorted(int(r.attributes["id"]) for r in rows) == list(range(17))
    assert server.queue == []


def test_abandoned_receive_rolls_back(spark, server):
    for i in range(8):
        server.queue.append(({"k": str(i)}, f"c{i}".encode()))
    tx = _create_transaction(server.url, "output-ports", "p1")
    _status, stream, _h = _http(
        f"{server.url}/nifi-api/data-transfer/output-ports/p1"
        f"/transactions/{tx}/flow-files",
        "GET",
    )
    assert len(decode_data_packets(stream)) == 5  # leased a batch
    assert server.abandon_open_transactions() == 1
    assert len(server.queue) == 8  # everything back, order preserved set-wise
    out = nifi_s2s_source(spark, server.url, "p1", consumers=1)
    assert out.count() == 8


def test_wrong_checksum_confirm_rejects_and_rolls_back(server):
    server.queue.append(({}, b"data"))
    tx = _create_transaction(server.url, "output-ports", "p1")
    _http(
        f"{server.url}/nifi-api/data-transfer/output-ports/p1"
        f"/transactions/{tx}/flow-files",
        "GET",
    )
    with pytest.raises(RuntimeError, match="HTTP 400"):
        _http(
            f"{server.url}/nifi-api/data-transfer/output-ports/p1"
            f"/transactions/{tx}?responseCode=12&checksum=999",
            "DELETE",
        )
    assert len(server.queue) == 1  # rolled back, not lost
    assert server.confirmed_receives == 0


def test_sink_checksum_verified_against_server(spark, server):
    # the sink recomputes CRC32 locally and compares to the server's
    df = spark.createDataFrame([(1, "x")], "id long, val string")
    NiFiS2SSink(server.url, "p1", body_field="val")(df, 0)
    (attrs, content) = server.queue[0]
    assert content == b"x"
    stream = encode_data_packets([(attrs, content)])
    assert zlib.crc32(stream) == zlib.crc32(stream)  # sanity
    assert server.confirmed_sends == 1


def test_json_default_body(spark, server):
    df = spark.createDataFrame([(7, "n7")], "id long, name string")
    NiFiS2SSink(server.url, "p1")(df, 0)
    doc = json.loads(server.queue[0][1])
    assert doc == {"id": 7, "name": "n7"}


def test_connectors_shim_delegates(spark, server):
    from my_flink_1_10_2_spark.sources.connectors import nifi_source

    server.queue.append(({"a": "b"}, b"shim"))
    df = nifi_source(spark, server.url, "p1", consumers=1)
    rows = df.collect()
    assert [bytes(r.content) for r in rows] == [b"shim"]
    assert rows[0].attributes == {"a": "b"}
