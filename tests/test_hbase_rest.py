"""HBase REST gateway source/sink (jar-free) — exercised against a live
in-process HTTP server speaking the public Stargate scanner/CellSet
protocol (ref: flink-connectors/flink-hbase/.../HBaseTableSource.java,
HBaseUpsertTableSink.java, HBaseTableSchema.java)."""

from __future__ import annotations

import base64
import json
import struct
import pytest

from my_flink_1_10_2_spark.sources.hbase_rest import (
    HBaseTypedRestSink,
    HBaseSchema,
    hbase_decode,
    hbase_encode,
    hbase_rest_source,
)


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode()


from my_flink_1_10_2_spark.testing import InMemoryHBaseRestServer as FakeHBaseRest


SCHEMA = HBaseSchema(
    "user_id",
    "BIGINT",
    [
        ("name", "info", "name", "STRING"),
        ("balance", "info", "bal", "DOUBLE"),
        ("active", "flags", "a", "BOOLEAN"),
        ("visits", "info", "visits", "INT"),
    ],
)


def test_bytes_codec_matches_hbase_wire_format():
    """Encodings must match org.apache.hadoop.hbase.util.Bytes so data
    written by the reference connector round-trips bit-exactly."""
    assert hbase_encode(7, "BIGINT") == struct.pack(">q", 7)
    assert hbase_encode(-3, "INT") == b"\xff\xff\xff\xfd"
    assert hbase_encode(1.5, "DOUBLE") == struct.pack(">d", 1.5)
    assert hbase_encode(True, "BOOLEAN") == b"\xff"
    assert hbase_encode(False, "BOOLEAN") == b"\x00"
    assert hbase_encode("héllo", "STRING") == "héllo".encode()
    for v, t in [(9, "INT"), (2**40, "BIGINT"), (0.1, "DOUBLE"),
                 (True, "BOOLEAN"), ("x", "STRING"), (b"\x01", "BYTES")]:
        assert hbase_decode(hbase_encode(v, t), t) == v
    with pytest.raises(ValueError, match="NULL"):
        hbase_encode(None, "INT")
    with pytest.raises(ValueError, match="unsupported"):
        hbase_encode(1, "DECIMAL")


def test_schema_validation_and_ddl():
    assert SCHEMA.spark_ddl() == (
        "user_id bigint, name string, balance double, active boolean, visits int"
    )
    with pytest.raises(ValueError, match="duplicate"):
        HBaseSchema("k", "INT", [("k", "f", "q", "STRING")])
    with pytest.raises(ValueError, match="rowkey"):
        HBaseSchema("k", "MAP", [])


def test_sink_then_source_roundtrip_distributed(spark):
    """Write through the sink, read back via range-partitioned scanners:
    values, NULL-cell omission, and one-scanner-per-split all hold."""
    fake = FakeHBaseRest()
    try:
        df = spark.createDataFrame(
            [
                (1, "ann", 10.5, True, 3),
                (2, "bob", None, False, 1),  # NULL balance → omitted cell
                (3, "cid", -2.25, True, 7),
                (4, "dee", 0.0, False, 0),
            ],
            SCHEMA.spark_ddl(),
        )
        HBaseTypedRestSink(fake.url, "users", SCHEMA, batch_max_rows=2)(df)
        # store holds Bytes-encoded cells; NULL balance wrote no cell
        assert len(fake.store) == 4
        k2 = struct.pack(">q", 2)
        assert "info:bal" not in fake.store[k2]
        assert fake.store[k2]["info:name"] == b"bob"

        out = hbase_rest_source(
            spark, fake.url, "users", SCHEMA, split_keys=[2, 4], batch=10
        )
        rows = {r.user_id: r for r in out.collect()}
        assert sorted(rows) == [1, 2, 3, 4]
        assert rows[1].name == "ann" and rows[1].balance == 10.5
        assert rows[2].balance is None and rows[2].active is False
        assert rows[3].visits == 7 and rows[3].balance == -2.25
        # three ranges → three scanners with the split boundaries
        assert len(fake.scanner_log) == 3
        stops = {s for _, s in fake.scanner_log}
        assert struct.pack(">q", 2) in stops and struct.pack(">q", 4) in stops
    finally:
        fake.close()


def test_each_scan_range_gets_its_own_task(spark):
    """split_keys=[2, 4] cut the table into three ranges; each is read by
    its own task, in range order (a hash repartition on the range id put
    ranges 0 and 2 on one task)."""
    from pyspark.sql import functions as F

    fake = FakeHBaseRest()
    try:
        df = spark.createDataFrame(
            [(k, f"u{k}", float(k), k % 2 == 0, k) for k in range(1, 6)],
            SCHEMA.spark_ddl(),
        )
        HBaseTypedRestSink(fake.url, "users", SCHEMA)(df)
        out = hbase_rest_source(spark, fake.url, "users", SCHEMA, split_keys=[2, 4])
        pids = {
            r.user_id: r.pid
            for r in out.select("user_id", F.spark_partition_id().alias("pid")).collect()
        }
        assert pids == {1: 0, 2: 1, 3: 1, 4: 2, 5: 2}
    finally:
        fake.close()


def test_source_single_range_and_empty_table(spark):
    fake = FakeHBaseRest()
    try:
        out = hbase_rest_source(spark, fake.url, "empty", SCHEMA)
        assert out.count() == 0
        assert len(fake.scanner_log) == 1
        assert fake.scanner_log[0] == (b"", None)  # full-table range
    finally:
        fake.close()


def test_sink_http_error_is_loud(spark):
    schema = HBaseSchema("k", "INT", [("v", "f", "v", "STRING")])

    def failing_transport(method, url, headers, body):
        return 500, {}, b"boom"

    sink = HBaseTypedRestSink("http://h:1", "t", schema, transport=failing_transport)
    df = spark.createDataFrame([(1, "x")], "k int, v string").coalesce(1)
    with pytest.raises(Exception, match="HBase REST batch PUT failed"):
        sink(df)
