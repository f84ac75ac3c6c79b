"""Confluent Schema-Registry Avro format (ref:
flink-avro-confluent-registry/ConfluentSchemaRegistryCoder.java,
ConfluentRegistryAvro{Se,De}rializationSchema.java): wire-format
framing, registry register/fetch with identity dedup, executor-side
decode — over a live in-process registry."""

import pytest

from my_flink_1_10_2_spark.sources.avro_registry import (
    SchemaRegistryClient,
    confluent_avro_decode_df,
    confluent_avro_encode_df,
    decode_confluent,
    encode_confluent,
)
from my_flink_1_10_2_spark.testing import InMemorySchemaRegistry

SCHEMA = {
    "type": "record",
    "name": "T",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
    ],
}


@pytest.fixture()
def registry():
    r = InMemorySchemaRegistry()
    yield r
    r.close()


def test_wire_format_roundtrip_and_magic_check():
    doc = {"id": 7, "name": "x"}
    frame = encode_confluent(doc, SCHEMA, 42)
    assert frame[0] == 0 and frame[1:5] == (42).to_bytes(4, "big")
    sid, back = decode_confluent(frame, lambda i: SCHEMA)
    assert (sid, back) == (42, doc)
    with pytest.raises(ValueError, match="magic"):
        decode_confluent(b"\x01" + frame[1:], lambda i: SCHEMA)
    with pytest.raises(ValueError, match="short"):
        decode_confluent(b"\x00\x00", lambda i: SCHEMA)


def test_registry_register_fetch_and_identity_dedup(registry):
    c = SchemaRegistryClient(registry.url)
    a = c.register("s-value", SCHEMA)
    b = c.register("other-value", SCHEMA)  # identical schema, same id
    assert a == b
    assert c.get_schema(a) == SCHEMA
    other = dict(SCHEMA, name="T2")
    assert c.register("s-value", other) != a
    with pytest.raises(RuntimeError, match="HTTP 404"):
        SchemaRegistryClient(registry.url).get_schema(999)


def test_dataframe_encode_decode_roundtrip(spark, registry):
    df = spark.createDataFrame(
        [(i, f"n{i}" if i % 3 else None) for i in range(50)],
        "id long, name string",
    ).repartition(4)
    framed = confluent_avro_encode_df(df, registry.url, "t-value")
    assert framed.schema.simpleString() == "struct<value:binary>"
    back = confluent_avro_decode_df(
        framed, registry.url, "id long, name string"
    )
    rows = {r.id: r.name for r in back.collect()}
    assert rows == {i: (f"n{i}" if i % 3 else None) for i in range(50)}
    # exactly one schema registered despite 4 encoding partitions
    assert len(registry.schemas) == 1
