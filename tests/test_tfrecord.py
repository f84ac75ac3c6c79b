"""TFRecord source/sink (sources/tfrecord.py): CRC32C vectors, framing
validation, Example proto roundtrip, DataFrame roundtrip exactness, and
determinism.
"""
import io
import os
import shutil
import struct
import tempfile

import pytest

from my_flink_1_10_2_spark.sources.tfrecord import (
    crc32c,
    decode_example,
    encode_example,
    masked_crc32c,
    read_records,
    read_tfrecords,
    write_record,
    write_tfrecords,
)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="tfr_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_crc32c_known_vectors():
    # RFC 3720 / Castagnoli reference vectors
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43


def test_record_framing_roundtrip_and_crc_guard():
    buf = io.BytesIO()
    payloads = [b"alpha", b"", b"some longer payload \x00\xff bytes"]
    for p in payloads:
        write_record(buf, p)
    buf.seek(0)
    assert list(read_records(buf)) == payloads
    # corrupt one payload byte -> CRC error
    raw = bytearray(buf.getvalue())
    raw[12 + 2] ^= 0x01  # inside first payload (8 len + 4 crc + offset)
    with pytest.raises(ValueError, match="CRC"):
        list(read_records(io.BytesIO(bytes(raw))))


def test_truncated_stream_rejected():
    buf = io.BytesIO()
    write_record(buf, b"payload")
    with pytest.raises(ValueError, match="truncated"):
        list(read_records(io.BytesIO(buf.getvalue()[:-6])))


def test_example_proto_roundtrip_types():
    feats = {
        "doc_id": 42,
        "neg": -7,
        "score": 1.5,
        "text": "hello world",
        "blob": b"\x00\x01\xfe",
    }
    got = decode_example(encode_example(feats))
    assert got["doc_id"] == 42
    assert got["neg"] == -7
    assert got["score"] == pytest.approx(1.5)
    assert got["text"] == b"hello world"  # strings travel as BytesList
    assert got["blob"] == b"\x00\x01\xfe"


def test_example_bytes_deterministic_sorted_keys():
    a = encode_example({"b": 1, "a": 2})
    b = encode_example({"a": 2, "b": 1})
    assert a == b


def test_dataframe_roundtrip_exact(spark, workdir):
    rows = [(i, f"doc {i}", float(i) / 4) for i in range(23)]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    manifest = write_tfrecords(
        df, workdir, feature_cols=["text", "score"], samples_per_shard=10
    ).collect()
    assert sorted((r.shard_id, r.n_samples) for r in manifest) == [
        (0, 10), (1, 10), (2, 3),
    ]
    back = read_tfrecords(
        spark, workdir, {"doc_id": "long", "text": "string", "score": "double"}
    )
    got = sorted((r.doc_id, r.text, round(r.score, 4)) for r in back.collect())
    assert got == [(i, f"doc {i}", round(i / 4, 4)) for i in range(23)]


def test_reexport_into_a_used_directory_is_refused(spark, workdir):
    """A smaller export over an earlier one would leave the earlier
    higher-numbered shards for every reader to pick up (25 rows at 10
    per shard, then 5 rows: the reader returned 20 rows, not 5)."""

    def docs(n):
        return spark.createDataFrame(
            [(i, f"t{i}") for i in range(n)], "doc_id long, text string"
        )

    write_tfrecords(docs(25), workdir, samples_per_shard=10).collect()
    with pytest.raises(FileExistsError, match="part-00002.tfrecord"):
        write_tfrecords(docs(5), workdir, samples_per_shard=10)
    back = read_tfrecords(spark, workdir, {"doc_id": "long"})
    assert sorted(r.doc_id for r in back.collect()) == list(range(25))


def test_shard_files_deterministic(spark, workdir):
    import hashlib

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(12)], "doc_id long, text string"
    )
    d1, d2 = os.path.join(workdir, "a"), os.path.join(workdir, "b")
    for d in (d1, d2):
        write_tfrecords(df, d, feature_cols=["text"], samples_per_shard=5).collect()
    for f in sorted(os.listdir(d1)):
        assert (
            hashlib.md5(open(os.path.join(d1, f), "rb").read()).hexdigest()
            == hashlib.md5(open(os.path.join(d2, f), "rb").read()).hexdigest()
        )


def test_frame_layout_matches_spec():
    # Byte-level check of the framing: uint64le length, masked len CRC,
    # payload, masked payload CRC — the public TFRecord layout.
    buf = io.BytesIO()
    write_record(buf, b"xyz")
    raw = buf.getvalue()
    header = raw[:8]
    assert struct.unpack("<Q", header)[0] == 3
    assert struct.unpack("<I", raw[8:12])[0] == masked_crc32c(header)
    assert raw[12:15] == b"xyz"
    assert struct.unpack("<I", raw[15:19])[0] == masked_crc32c(b"xyz")
