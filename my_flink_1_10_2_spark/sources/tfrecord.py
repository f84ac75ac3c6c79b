"""TFRecord source/sink — the TensorFlow training-data container, from
the public spec only (TFRecord framing + `tf.train.Example` wire format):

  record := uint64le(len) | masked_crc32c(len bytes) | payload
            | masked_crc32c(payload)
  masked_crc = rotr15(crc32c(x)) + 0xa282ead8   (mod 2^32)

`Example` protos are hand-encoded/decoded (varint + length-delimited
fields; BytesList/FloatList/Int64List), so no protobuf/tensorflow
dependency — any TF reader consumes these files and vice versa.
Shards are ``part-NNNNN.tfrecord``, written and read through the shard
kernel (:mod:`.sharding`).  The pure-Python CRC32C is table-driven
(slice-by-1) — correct and adequate for shard-at-a-time streaming here;
a production deployment swaps in a native crc32c wheel with identical
outputs.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from my_flink_1_10_2_spark.sources.sharding import (
    commit_file,
    read_per_task,
    shard_paths,
    write_shards,
)

# --------------------------------------------------------------------------
# CRC32C (Castagnoli, reflected poly 0x82F63B78) + TFRecord masking
# --------------------------------------------------------------------------


def _make_crc_table() -> list[int]:
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC_TABLE = _make_crc_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# --------------------------------------------------------------------------
# minimal protobuf wire helpers (varint + length-delimited)
# --------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def _ld(field: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def _zigzag_signed(n: int) -> int:
    # int64 values are plain varints in proto (two's complement, 10 bytes
    # when negative)
    return n & 0xFFFFFFFFFFFFFFFF


def _encode_feature(value) -> bytes:
    """Encode one Feature message from a python value."""
    if isinstance(value, (bytes, bytearray)):
        return _ld(1, _ld(1, bytes(value)))  # bytes_list.value
    if isinstance(value, str):
        return _ld(1, _ld(1, value.encode("utf-8")))
    if isinstance(value, float):
        return _ld(2, _ld(1, struct.pack("<f", value)))  # float_list packed
    if isinstance(value, int):
        return _ld(3, _ld(1, _varint(_zigzag_signed(value))))  # int64_list
    raise TypeError(f"unsupported feature value type: {type(value)}")


def encode_example(features: dict) -> bytes:
    """tf.train.Example with deterministically ordered (sorted) keys."""
    body = b""
    for key in sorted(features):
        entry = _ld(1, key.encode("utf-8")) + _ld(2, _encode_feature(features[key]))
        body += _ld(1, entry)  # Features.feature map entry
    return _ld(1, body)  # Example.features


def decode_example(buf: bytes) -> dict:
    """Decode an Example back to {key: bytes | float | int}."""

    def _fields(b: bytes):
        i = 0
        while i < len(b):
            tag, i = _read_varint(b, i)
            field, wt = tag >> 3, tag & 7
            if wt == 2:
                ln, i = _read_varint(b, i)
                yield field, b[i : i + ln]
                i += ln
            elif wt == 0:
                v, i = _read_varint(b, i)
                yield field, v
            elif wt == 5:
                yield field, b[i : i + 4]
                i += 4
            else:
                raise ValueError(f"unsupported wire type {wt}")

    out = {}
    for f1, features_msg in _fields(buf):
        if f1 != 1:
            continue
        for f2, entry in _fields(features_msg):
            if f2 != 1:
                continue
            key = val = None
            for f3, part in _fields(entry):
                if f3 == 1:
                    key = part.decode("utf-8")
                elif f3 == 2:
                    for kind, lst in _fields(part):
                        for f5, raw in _fields(lst):
                            if f5 != 1:
                                continue
                            if kind == 1:
                                val = raw
                            elif kind == 2:
                                val = struct.unpack("<f", raw[:4])[0]
                            elif kind == 3:
                                v = raw if isinstance(raw, int) else _read_varint(raw, 0)[0]
                                # two's-complement back to signed
                                val = v - (1 << 64) if v >= 1 << 63 else v
            if key is not None:
                out[key] = val
    return out


# --------------------------------------------------------------------------
# record framing
# --------------------------------------------------------------------------


def write_record(fh, payload: bytes) -> None:
    header = struct.pack("<Q", len(payload))
    fh.write(header)
    fh.write(struct.pack("<I", masked_crc32c(header)))
    fh.write(payload)
    fh.write(struct.pack("<I", masked_crc32c(payload)))


def read_records(fh):
    while True:
        header = fh.read(8)
        if not header:
            return
        if len(header) < 8:
            raise ValueError("truncated TFRecord length header")
        (length,) = struct.unpack("<Q", header)
        lc = fh.read(4)
        if len(lc) < 4:
            raise ValueError("truncated TFRecord length CRC")
        (len_crc,) = struct.unpack("<I", lc)
        if len_crc != masked_crc32c(header):
            raise ValueError("TFRecord length CRC mismatch")
        payload = fh.read(length)
        if len(payload) < length:
            raise ValueError("truncated TFRecord payload")
        pc = fh.read(4)
        if len(pc) < 4:
            raise ValueError("truncated TFRecord payload CRC")
        (crc,) = struct.unpack("<I", pc)
        if crc != masked_crc32c(payload):
            raise ValueError("TFRecord payload CRC mismatch")
        yield payload


# --------------------------------------------------------------------------
# DataFrame sink / source
# --------------------------------------------------------------------------

def write_tfrecords(
    df: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    feature_cols: list[str] | None = None,
    samples_per_shard: int = 1000,
) -> DataFrame:
    """Write Example-per-row TFRecord shards; returns the shard manifest
    (shard_id, path, n_samples, first_key, last_key, n_bytes).  Integer
    columns become Int64List, floats FloatList, strings/binary BytesList;
    the key column is always included as an int64 feature."""
    feature_cols = feature_cols or ["text"]
    cols = [key_col] + [c for c in feature_cols if c != key_col]

    def encode(pdf, shard_id):
        path = os.path.join(out_dir, f"part-{shard_id:05d}.tfrecord")
        # column-major access, not iterrows — per-row Series construction
        # dominates the encode loop otherwise
        vals = {
            c: [v.item() if hasattr(v, "item") else v for v in pdf[c].tolist()]
            for c in cols
        }
        with commit_file(path) as fh:
            for i in range(len(pdf)):
                write_record(fh, encode_example({c: vals[c][i] for c in cols}))
        return {"path": path, "n_samples": len(pdf), "n_bytes": os.path.getsize(path)}

    return write_shards(
        df, out_dir, key_col, cols, samples_per_shard, ".tfrecord", encode,
        "shard_id long, path string, n_samples long, "
        "first_key long, last_key long, n_bytes long",
    )


def read_tfrecords(
    spark: SparkSession,
    in_dir: str,
    schema: dict[str, str],
    shard_col: str | None = None,
) -> DataFrame:
    """Read TFRecord shards back; ``schema`` maps feature key -> one of
    ``long`` / ``double`` / ``string`` / ``binary``.  One task per shard
    file, CRCs verified on every record.  ``shard_col`` optionally adds
    the shard id (parsed from ``part-NNNNN.tfrecord``) as a column."""
    paths = shard_paths(in_dir, ".tfrecord")
    spark_types = {
        "long": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
    }
    out_schema = T.StructType(
        [T.StructField(k, spark_types[t]) for k, t in schema.items()]
    )
    spec = dict(schema)

    def decode(path):
        import pandas as pd

        rows = {k: [] for k in spec}
        with open(path, "rb") as fh:
            for payload in read_records(fh):
                ex = decode_example(payload)
                for k, t in spec.items():
                    v = ex.get(k)
                    if v is not None:
                        if t == "string":
                            v = v.decode("utf-8")
                        elif t == "double":
                            v = float(v)
                        elif t == "long":
                            v = int(v)
                    rows[k].append(v)
        return pd.DataFrame(rows)

    return read_per_task(spark, [(p,) for p in paths], out_schema, decode, shard_col)
