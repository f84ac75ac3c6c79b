"""Jar-free HBase source/sink over the public HBase REST gateway.

The reference's HBase connector (ref: flink-connectors/flink-hbase/src/
main/java/org/apache/flink/addons/hbase/HBaseTableSource.java,
HBaseUpsertTableSink.java) maps a rowkey + (family, qualifier, type)
schema (HBaseTableSchema.java setRowKey/addColumn) onto scans and Puts.
This module speaks the public HBase REST ("Stargate") API instead of the
hbase-client jar — the same jar-free public-protocol discipline as the
Cassandra CQL v4 sink and the Kinesis/Elasticsearch HTTP shims:

- read:  PUT /<table>/scanner (ScannerModel JSON, startRow/endRow) →
         GET <scanner-url> (CellSet JSON, base64 cells) until 204 →
         DELETE <scanner-url>
- write: PUT /<table>/fakerow (multi-row CellSet JSON batch)

Cell bytes use the HBase ``Bytes`` wire encodings (big-endian ints,
IEEE-754 doubles, UTF-8 strings, 1-byte booleans) so data written by the
reference connector round-trips bit-exactly.

Scale shape: reads are distributed — each executor partition owns a
rowkey range (from ``split_keys``, typically the table's region
boundaries) and drives its own scanner; writes batch multi-row PUTs per
partition.  Nothing funnels through the driver.

(`connectors.py::HBaseRestSink` is the older string-cell convenience
sink — every cell UTF-8; it shares this module's CellSet PUT and differs
only in how a row is encoded.  This module is the TYPED parity path
whose bytes interoperate with the reference connector, plus the read
side.)
"""

from __future__ import annotations

import base64
import json
import struct

from pyspark.sql import DataFrame, SparkSession

from my_flink_1_10_2_spark.sources.sharding import read_per_task, row_chunks
from my_flink_1_10_2_spark.sources.sink_core import PartitionSink, Rejected, http_request

# Flink type name → (spark DDL type, encoder, decoder). Encodings match
# org.apache.hadoop.hbase.util.Bytes (public wire format).
_STRUCT_FMTS = {"INT": ">i", "INTEGER": ">i", "BIGINT": ">q", "DOUBLE": ">d", "FLOAT": ">f"}
_SPARK_TYPES = {
    "STRING": "string",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "BOOLEAN": "boolean",
    "BYTES": "binary",
}


def hbase_encode(value, flink_type: str) -> bytes:
    """Python value → HBase ``Bytes.toBytes`` wire bytes."""
    t = flink_type.upper()
    if t not in _SPARK_TYPES:
        raise ValueError(f"unsupported HBase column type {flink_type!r}")
    if value is None:
        raise ValueError("HBase cells cannot hold NULL; omit the cell instead")
    if t == "STRING":
        return str(value).encode()
    if t == "BOOLEAN":
        return b"\xff" if value else b"\x00"
    if t == "BYTES":
        return bytes(value)
    return struct.pack(_STRUCT_FMTS[t], value)


def hbase_decode(raw: bytes, flink_type: str):
    """HBase wire bytes → Python value (``Bytes.toXxx`` semantics)."""
    t = flink_type.upper()
    if t == "STRING":
        return raw.decode()
    if t == "BOOLEAN":
        return raw[0] != 0
    if t == "BYTES":
        return raw
    return struct.unpack(_STRUCT_FMTS[t], raw)[0]


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode()


def _unb64(s: str) -> bytes:
    return base64.b64decode(s)


class HBaseSchema:
    """The reference's HBaseTableSchema surface (setRowKey + addColumn):
    one typed rowkey field plus (field, family, qualifier, type) columns."""

    def __init__(
        self,
        rowkey_field: str,
        rowkey_type: str,
        columns: list[tuple[str, str, str, str]],
    ):
        if rowkey_type.upper() not in _SPARK_TYPES:
            raise ValueError(f"unsupported rowkey type {rowkey_type!r}")
        fields = {rowkey_field}
        for f, _fam, _q, t in columns:
            if f in fields:
                raise ValueError(f"duplicate field {f!r} in HBase schema")
            if t.upper() not in _SPARK_TYPES:
                raise ValueError(f"unsupported HBase column type {t!r}")
            fields.add(f)
        self.rowkey_field = rowkey_field
        self.rowkey_type = rowkey_type
        self.columns = list(columns)

    def spark_ddl(self) -> str:
        parts = [f"{self.rowkey_field} {_SPARK_TYPES[self.rowkey_type.upper()]}"]
        parts += [f"{f} {_SPARK_TYPES[t.upper()]}" for f, _fam, _q, t in self.columns]
        return ", ".join(parts)

    def cell_map(self) -> dict[str, tuple[str, str]]:
        """'family:qualifier' → (field, type)."""
        return {f"{fam}:{q}": (f, t) for f, fam, q, t in self.columns}


# -- read path ---------------------------------------------------------------


def _scan_range(
    base_url: str,
    table: str,
    schema: HBaseSchema,
    start_b64: str | None,
    stop_b64: str | None,
    batch: int,
    transport,
):
    """Drive one REST scanner over [start, stop); yield decoded rows as
    tuples in ``schema.spark_ddl()`` order."""
    model: dict = {"batch": batch, "caching": batch}
    if start_b64:
        model["startRow"] = start_b64
    if stop_b64:
        model["endRow"] = stop_b64
    status, headers, body = transport(
        "PUT",
        f"{base_url.rstrip('/')}/{table}/scanner",
        {"Content-Type": "application/json", "Accept": "application/json"},
        json.dumps(model).encode(),
    )
    if status != 201:
        raise RuntimeError(
            f"HBase REST scanner create failed (status={status}): {body[:300]!r}"
        )
    loc = {k.lower(): v for k, v in headers.items()}.get("location")
    if not loc:
        raise RuntimeError("HBase REST scanner response missing Location header")
    cells = schema.cell_map()
    fields = [schema.rowkey_field] + [f for f, *_ in schema.columns]
    try:
        while True:
            status, _, body = transport(
                "GET", loc, {"Accept": "application/json"}, None
            )
            if status == 204:
                return  # scanner exhausted
            if status != 200:
                raise RuntimeError(
                    f"HBase REST scanner read failed (status={status}): {body[:300]!r}"
                )
            for row in json.loads(body).get("Row", []):
                out = dict.fromkeys(fields)
                out[schema.rowkey_field] = hbase_decode(
                    _unb64(row["key"]), schema.rowkey_type
                )
                for cell in row.get("Cell", []):
                    col = _unb64(cell["column"]).decode()
                    if col in cells:
                        field, ftype = cells[col]
                        out[field] = hbase_decode(_unb64(cell["$"]), ftype)
                yield tuple(out.values())
    finally:
        transport("DELETE", loc, {}, None)


def hbase_rest_source(
    spark: SparkSession,
    base_url: str,
    table: str,
    schema: HBaseSchema,
    *,
    split_keys: list | None = None,
    batch: int = 1000,
    transport=None,
) -> DataFrame:
    """Distributed HBase scan over the REST gateway (ref:
    HBaseTableSource.java → TableInputFormat region splits).

    ``split_keys`` (typed rowkey values, typically the table's region
    start keys) partition the scan: each [start, stop) range is one task
    driving its own scanner — the analog of one input split per
    region.  Without splits the table is read as a single
    range (fine for dimension tables; pass splits for anything big)."""
    transport = transport or http_request
    keys = [_b64(hbase_encode(k, schema.rowkey_type)) for k in split_keys or []]
    bounds = [None, *keys, None]

    def fetch(start, stop):
        return row_chunks(_scan_range(base_url, table, schema, start, stop, batch, transport))

    return read_per_task(spark, list(zip(bounds, bounds[1:])), schema.spark_ddl(), fetch)


# -- write path ---------------------------------------------------------------


class HBaseTypedRestSink(PartitionSink):
    """Batch/foreachBatch upsert sink: multi-row CellSet PUTs (the REST
    analog of the reference's HBaseUpsertTableSink buffered Puts;
    flush-size option per HBaseWriteOptions).

    A retryable gateway status (503 region-server busy / 429 throttled —
    the REST analogs of the public HBase client's RegionTooBusy/
    CallQueueTooBig retry conditions) resends the SAME payload up to
    ``max_retries`` times.  Whole-batch retry is correct because every
    Row is a rowkey upsert (idempotent); other statuses stay fatal."""

    operation = "HBase REST batch PUT"

    def __init__(
        self,
        base_url: str,
        table: str,
        schema: HBaseSchema,
        *,
        batch_max_rows: int = 500,
        transport=None,
        max_retries: int = 0,
        retry_delay_s: float = 0.1,
    ):
        self.url = f"{base_url.rstrip('/')}/{table}/fakerow"
        self.schema = schema
        self.max_items = batch_max_rows
        self.transport = transport or http_request
        self.max_retries = max_retries
        self.retry_delay_s = retry_delay_s

    def _put(self, payload: bytes):
        status, _, body = self.transport(
            "PUT",
            self.url,
            {"Content-Type": "application/json", "Accept": "application/json"},
            payload,
        )
        return status, body

    def encode(self, row) -> dict:
        d = row.asDict()
        schema = self.schema
        cells = [
            {"column": _b64(f"{fam}:{q}".encode()), "$": _b64(hbase_encode(d[f], t))}
            for f, fam, q, t in schema.columns
            if d.get(f) is not None  # HBase has no NULL cell — omit
        ]
        return {
            "key": _b64(hbase_encode(d[schema.rowkey_field], schema.rowkey_type)),
            "Cell": cells,
        }

    def flush(self, rows: list, conn) -> None:
        status, body = self._put(json.dumps({"Row": rows}).encode())
        if status in (200, 201):
            return
        error = f"{self.operation} failed (status={status}): {body[:300]!r}"
        if status in (429, 503):
            raise Rejected(error, rows)
        raise RuntimeError(error)
