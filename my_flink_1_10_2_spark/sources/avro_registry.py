"""Confluent Schema-Registry Avro format — the jar-free functional path
(ref: flink-formats/flink-avro-confluent-registry/.../
ConfluentRegistryAvroDeserializationSchema.java,
ConfluentRegistryAvroSerializationSchema.java,
RegistryAvroDeserializationSchema.java, ConfluentSchemaRegistryCoder.java).

Two PUBLIC surfaces compose here:

- the Confluent WIRE FORMAT: every message is ``0x00`` (magic) + a
  4-byte big-endian schema id + the bare Avro binary of the payload
  (docs.confluent.io wire-format spec — what
  ConfluentSchemaRegistryCoder.readSchema/writeSchema frames);
- the Schema Registry REST API: ``GET /schemas/ids/{id}`` returns the
  writer schema, ``POST /subjects/{s}/versions`` registers one and
  returns its id.

The Avro binary itself reuses the spec codec in ``avro_py``
(encode_value/decode_value).  Decoding is executor-side via
``mapInPandas`` with a per-partition schema cache — one registry GET
per (partition, schema id), exactly the reference's cached
``SchemaCoder`` lookups, then Arrow-batched Python decode (the honest
jar-free path; with the spark-avro + schema-registry jars on a real
cluster, swap in ``from_avro``).
"""

from __future__ import annotations

import io
import json
import struct

from my_flink_1_10_2_spark.sources.sink_core import http_request

MAGIC = 0


# -- registry client --------------------------------------------------------------


class SchemaRegistryClient:
    """Minimal Confluent Schema Registry REST client (stdlib-only so it
    runs inside executors)."""

    def __init__(self, base_url: str):
        self.base_url = base_url.rstrip("/")
        self._by_id: dict[int, dict] = {}

    def _call(self, method: str, path: str, doc: dict | None = None) -> dict:
        body = json.dumps(doc).encode() if doc is not None else None
        status, _, reply = http_request(
            method,
            self.base_url + path,
            {"Content-Type": "application/vnd.schemaregistry.v1+json"},
            body,
            timeout=30,
        )
        if not 200 <= status < 300:
            raise RuntimeError(
                f"schema registry {method} {path} failed: HTTP {status} {reply[:200]!r}"
            )
        return json.loads(reply)

    def register(self, subject: str, schema: dict) -> int:
        """POST /subjects/{subject}/versions → schema id."""
        out = self._call(
            "POST",
            f"/subjects/{subject}/versions",
            {"schema": json.dumps(schema)},
        )
        return int(out["id"])

    def get_schema(self, schema_id: int) -> dict:
        """GET /schemas/ids/{id}, cached per client (the reference's
        per-coder schema cache)."""
        if schema_id not in self._by_id:
            out = self._call("GET", f"/schemas/ids/{schema_id}")
            self._by_id[schema_id] = json.loads(out["schema"])
        return self._by_id[schema_id]


# -- wire format -------------------------------------------------------------------


def encode_confluent(doc: dict, schema: dict, schema_id: int) -> bytes:
    """dict → ``magic(1) + schema_id(4, BE) + avro-binary`` (ref:
    ConfluentSchemaRegistryCoder.writeSchema + the Avro datum write)."""
    from my_flink_1_10_2_spark.sources.avro_py import encode_value

    buf = io.BytesIO()
    buf.write(struct.pack(">bI", MAGIC, schema_id))
    encode_value(buf, schema, doc)
    return buf.getvalue()


def decode_confluent(data: bytes, get_schema) -> tuple[int, dict]:
    """``(schema_id, record)`` from one wire-format message;
    ``get_schema(id) -> avro schema dict`` supplies the writer schema
    (ref: ConfluentSchemaRegistryCoder.readSchema — loud on a bad magic
    byte, exactly like the reference's IOException)."""
    if len(data) < 5:
        raise ValueError(f"confluent frame too short: {len(data)} bytes")
    magic, schema_id = struct.unpack_from(">bI", data, 0)
    if magic != MAGIC:
        raise ValueError(f"unknown magic byte {magic} (want {MAGIC})")
    from my_flink_1_10_2_spark.sources.avro_py import decode_value

    schema = get_schema(schema_id)
    return schema_id, decode_value(io.BytesIO(data[5:]), schema)


# -- spark glue --------------------------------------------------------------------


def confluent_avro_encode_df(
    df, base_url: str, subject: str, *, out_col: str = "value"
):
    """Serialize every row to the Confluent wire format → DataFrame
    ``(<out_col> binary)`` (ref: ConfluentRegistryAvroSerializationSchema:
    register-or-fetch the subject's schema once, then frame each
    record).  The single registration happens driver-side (a control
    call, O(1)); row encoding runs in executors via mapInPandas."""
    from my_flink_1_10_2_spark.sources.avro_py import spark_to_avro_schema

    schema = spark_to_avro_schema(df.schema)
    schema_id = SchemaRegistryClient(base_url).register(subject, schema)
    cols = df.columns

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = [
                encode_confluent(
                    {c: rec[c] for c in cols}, schema, schema_id
                )
                for rec in pdf.to_dict("records")
            ]
            yield pd.DataFrame({out_col: out})

    return df.mapInPandas(encode, f"{out_col} binary")


def confluent_avro_decode_df(
    df, base_url: str, spark_schema, *, bytes_col: str = "value"
):
    """Decode a binary column of wire-format messages into typed columns
    (ref: ConfluentRegistryAvroDeserializationSchema.deserialize): each
    PARTITION holds one cached registry client — one GET per distinct
    schema id per partition — and Arrow-batches the Python decode."""
    url = base_url

    def decode(batches):
        import pandas as pd

        client = SchemaRegistryClient(url)
        for pdf in batches:
            rows = [
                decode_confluent(bytes(b), client.get_schema)[1]
                for b in pdf[bytes_col]
            ]
            if rows:  # an empty frame would carry no columns -> Arrow error
                yield pd.DataFrame(rows)

    return df.mapInPandas(decode, spark_schema)
