"""WARC/1.0 (+ WET) source/sink — the Common Crawl container every
web-scale LLM corpus pipeline starts from, implemented from the public
ISO 28500 / WARC 1.0 specification:

  record := version line "WARC/1.0\\r\\n"
            | named headers (WARC-Type, WARC-Record-ID, WARC-Date,
              Content-Length, ...) each "Name: value\\r\\n"
            | "\\r\\n" | Content-Length payload bytes | "\\r\\n\\r\\n"

Shards are written as *multi-member gzip* files (one gzip member per
record — the Common Crawl layout that makes records independently
seekable); Python's zlib consumes concatenated members natively, and
each member is emitted with mtime=0 so shard bytes are deterministic.

WET ("WARC Encapsulated Text") is WARC with ``WARC-Type: conversion``
records whose payload is the extracted plain text — exactly what a
text-pipeline ingests.  The reader yields one row per conversion
record, skipping ``warcinfo``/``request``/``response`` records the way
a WET consumer does.

WET shards are ``part-NNNNN.warc.wet.gz``, written and read through the
shard kernel (:mod:`.sharding`), as is :func:`read_warc_gz`'s byte-range
read of external crawl files.
"""

from __future__ import annotations

import gzip
import io
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from my_flink_1_10_2_spark.sources.sharding import (
    commit_file,
    range_units,
    read_per_task,
    shard_paths,
    write_shards,
)

_CRLF = b"\r\n"


def encode_warc_record(
    warc_type: str,
    record_id: str,
    date: str,
    payload: bytes,
    extra_headers: dict[str, str] | None = None,
) -> bytes:
    """One WARC/1.0 record with deterministic header order."""
    headers = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", f"<urn:uuid:{record_id}>"),
        ("WARC-Date", date),
    ]
    for k in sorted(extra_headers or {}):
        headers.append((k, (extra_headers or {})[k]))
    headers.append(("Content-Length", str(len(payload))))
    out = bytearray(b"WARC/1.0" + _CRLF)
    for k, v in headers:
        out += f"{k}: {v}".encode("utf-8") + _CRLF
    out += _CRLF
    out += payload
    out += _CRLF + _CRLF
    return bytes(out)


def decode_warc_records(stream: bytes):
    """Yield (headers_dict, payload_bytes) for each record in a
    (decompressed) WARC stream; strict on framing."""
    i = 0
    n = len(stream)
    while i < n:
        eol = stream.index(_CRLF, i)
        version = stream[i:eol]
        if version != b"WARC/1.0":
            raise ValueError(f"bad WARC version line {version!r} at {i}")
        i = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = stream.index(_CRLF, i)
            line = stream[i:eol]
            i = eol + 2
            if not line:
                break
            name, _, value = line.decode("utf-8").partition(":")
            if not _:
                raise ValueError(f"malformed WARC header line {line!r}")
            headers[name.strip()] = value.strip()
        length = int(headers["Content-Length"])
        payload = stream[i : i + length]
        if len(payload) != length:
            raise ValueError("truncated WARC payload")
        i += length
        if stream[i : i + 4] != _CRLF + _CRLF:
            raise ValueError("missing WARC record terminator")
        i += 4
        yield headers, payload


def _gzip_member(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(data)
    return buf.getvalue()


def _gunzip_all(data: bytes) -> bytes:
    """Decompress concatenated gzip members."""
    out = bytearray()
    buf = io.BytesIO(data)
    while buf.tell() < len(data):
        with gzip.GzipFile(fileobj=buf, mode="rb") as gz:
            out += gz.read()
    return bytes(out)


def write_wet_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    uri_col: str | None = None,
    samples_per_shard: int = 200,
) -> DataFrame:
    """Write documents as WET shards (``part-NNNNN.warc.wet.gz``): a
    ``warcinfo`` record then one ``conversion`` record per row, each its
    own gzip member.  Returns the shard manifest."""
    cols = [key_col, text_col] + ([uri_col] if uri_col else [])

    def encode(pdf, shard_id):
        path = os.path.join(out_dir, f"part-{shard_id:05d}.warc.wet.gz")
        date = "2026-01-01T00:00:00Z"  # fixed: shard bytes must be deterministic
        with commit_file(path) as fh:
            info = encode_warc_record(
                "warcinfo",
                f"shard-{shard_id:05d}",
                date,
                b"software: my_flink_1_10_2_spark WET writer\r\n",
            )
            fh.write(_gzip_member(info))
            for row in pdf.itertuples():
                key = int(getattr(row, key_col))
                extra = {"WARC-Target-URI": getattr(row, uri_col)} if uri_col else {
                    "WARC-Target-URI": f"urn:doc:{key}"
                }
                rec = encode_warc_record(
                    "conversion",
                    f"doc-{key}",
                    date,
                    str(getattr(row, text_col)).encode("utf-8"),
                    extra_headers={
                        "Content-Type": "text/plain",
                        **extra,
                    },
                )
                fh.write(_gzip_member(rec))
        return {"path": path, "n_records": len(pdf), "n_bytes": os.path.getsize(path)}

    return write_shards(
        df, out_dir, key_col, cols, samples_per_shard, ".warc.wet.gz", encode,
        "shard_id long, path string, n_records long, "
        "first_key long, last_key long, n_bytes long",
    )


def read_wet_shards(
    spark: SparkSession,
    in_dir: str,
    shard_col: str | None = None,
) -> DataFrame:
    """Read WET shards back: one task per shard, one row per
    ``conversion`` record — (doc_uri, text) plus optionally the shard
    id.  warcinfo/request/response records are skipped, as a WET
    consumer does."""
    paths = shard_paths(in_dir, ".warc.wet.gz")

    def decode(path):
        import pandas as pd

        with open(path, "rb") as fh:
            stream = _gunzip_all(fh.read())
        uris, texts = [], []
        for headers, payload in decode_warc_records(stream):
            if headers.get("WARC-Type") != "conversion":
                continue
            uris.append(headers.get("WARC-Target-URI", ""))
            texts.append(payload.decode("utf-8"))
        return pd.DataFrame({"doc_uri": uris, "text": texts})

    schema = T.StructType.fromDDL("doc_uri string, text string")
    return read_per_task(spark, [(p,) for p in paths], schema, decode, shard_col)


# ---------------------------------------------------------------------------
# Splittable reads of EXTERNAL multi-member .warc.gz files (the Common
# Crawl layout: one gzip member per record, multi-GB per file).  Our own
# WET shards parallelize one-task-per-shard; a crawl archive is ONE huge
# file, so without byte-range splits a 40 GB segment would scan on a
# single task — the same wall the round-9/10 splittable Avro reader
# removed (avro_py.read_container_split), solved with the same
# architecture: scanned candidates are structurally VALIDATED, chained
# offsets are authoritative.

_GZ_MAGIC = b"\x1f\x8b\x08"

#: scanned-candidate validation refuses to inflate more than this much
#: from one member before declaring the candidate false — a true member
#: this large is indistinguishable from pathology at scan time (chained
#: members, whose offsets are exact, have no cap).
_SCAN_INFLATE_CAP = 1 << 30


def _try_member_at(fh, p: int, *, cap: int | None, chunk: int = 1 << 20,
                   pre: bytes = b""):
    """Attempt to decompress ONE gzip member starting at byte ``p`` and
    parse it as WARC.  Returns (records, consumed_bytes, tail) or None
    if the bytes at ``p`` are not a complete gzip member whose payload
    starts with ``WARC/`` — the validation that makes magic-byte
    collisions inside compressed data (the false-sync hazard of every
    marker-scanned format) harmless: a false candidate fails inflation,
    the WARC/ prefix check, or record framing, and the scan resumes.

    ``pre`` is bytes already in memory that begin at offset ``p`` (the
    previous member's decompressor tail); ``tail`` is the same for the
    NEXT member — carrying it forward means chained decodes touch each
    file byte once instead of re-reading a chunk per member (severe
    amplification when members are small, the typical WET layout)."""
    import zlib

    fh.seek(p + len(pre))
    d = zlib.decompressobj(wbits=31)
    out = bytearray()
    fed = 0
    src_pre = pre
    try:
        while not d.eof:
            if src_pre:
                data, src_pre = src_pre, b""
            else:
                data = fh.read(chunk)
            if not data:
                return None  # EOF mid-member: truncated / false candidate
            fed += len(data)
            out += d.decompress(data)
            if len(out) >= 5 and not bytes(out[:5]) == b"WARC/":
                return None
            if cap is not None and len(out) > cap:
                return None
    except zlib.error:
        return None
    consumed = fed - len(d.unused_data)
    if not bytes(out[:5]) == b"WARC/":
        return None
    try:
        records = list(decode_warc_records(bytes(out)))
    except ValueError:
        return None
    return records, consumed, d.unused_data


def _scan_member_from(fh, start: int, limit: int, fsize: int):
    """First offset in [start, limit) holding a VALIDATED member start:
    gzip magic + full-member inflate + WARC framing + one-hop end check
    (the member must end at EOF or at another gzip magic).  Returns
    (offset, records, consumed, tail) or None — ``tail`` is the
    decompressor's unused trailing bytes, carried into the next scan."""
    pos = start
    tail = b""
    base = start
    fh.seek(start)
    scan_chunk = 4 << 20
    while True:
        data = fh.read(scan_chunk)
        if not data:
            return None
        hay = tail + data
        hay_base = base - len(tail)
        at = 0
        while True:
            hit = hay.find(_GZ_MAGIC, at)
            if hit < 0:
                break
            p = hay_base + hit
            if p >= limit:
                return None
            got = _try_member_at(fh, p, cap=_SCAN_INFLATE_CAP)
            if got is not None:
                records, consumed, carry = got
                nxt = p + consumed
                peek3 = carry[:3] if len(carry) >= 3 else _peek(fh, nxt, 3)
                if nxt == fsize or peek3 == _GZ_MAGIC:
                    return p, records, consumed, carry
            at = hit + 1
        base += len(data)
        tail = hay[-(len(_GZ_MAGIC) - 1):]
        if base - len(tail) >= limit:
            return None
        fh.seek(base)


def _peek(fh, p: int, n: int) -> bytes:
    keep = fh.tell()
    fh.seek(p)
    out = fh.read(n)
    fh.seek(keep)
    return out


def read_warc_gz_split(path: str, start: int, end: int):
    """Decode the records of ONE byte-range split [start, end) of a
    multi-member .warc.gz file.  A split owns every gzip member whose
    FIRST byte lies in [start, end); the last owned member may extend
    past ``end`` (the past-sync overread rule, exactly as
    avro_py.read_container_split).  Unions of non-overlapping splits
    covering [0, fsize) therefore yield each record exactly once.

    The first member of a split is found by scanning for the gzip magic
    and validated structurally (full inflate + WARC framing + one-hop
    end check); every subsequent member starts at an EXACT offset and
    is authoritative — corrupt bytes there raise, they are never
    silently skipped.  An adversarially nested full valid member inside
    compressed payload can still fool the scan — the residual exposure
    every marker-scanned splittable format accepts."""
    fsize = os.path.getsize(path)
    records: list = []
    with open(path, "rb") as fh:
        if start == 0:
            if _peek(fh, 0, 3) != _GZ_MAGIC:
                raise ValueError(f"{path}: not a gzip file")
            p = 0
            got = _try_member_at(fh, 0, cap=None)
            if got is None:
                raise ValueError(f"{path}: corrupt leading gzip member")
            recs, consumed, carry = got
        else:
            found = _scan_member_from(fh, start, end, fsize)
            if found is None:
                return []
            p, recs, consumed, carry = found
        while True:
            records.extend(recs)
            p += consumed
            if p >= fsize or p >= end:
                break
            # chained offset: authoritative, corruption raises loudly;
            # the previous decompressor tail seeds the read (no re-read)
            got = _try_member_at(fh, p, cap=None, pre=carry)
            if got is None:
                raise ValueError(
                    f"{path}: corrupt gzip member at exact offset {p}"
                )
            recs, consumed, carry = got
    return records


def read_warc_gz(
    spark: SparkSession,
    path: str,
    *,
    split_bytes: int = 128 << 20,
    warc_types: tuple | None = None,
) -> DataFrame:
    """Read one external multi-member .warc.gz file (or a directory of
    them) with byte-range parallelism: each task decodes one
    [start, end) split via :func:`read_warc_gz_split`.  Returns
    (path, warc_type, record_id, date, target_uri, payload binary).

    ``split_bytes`` trades task granularity against scan overhead —
    128 MiB default mirrors a comfortable HDFS/S3 block; a 40 GB
    Common Crawl segment becomes ~320 independent tasks instead of 1.
    """
    files = shard_paths(path, ".gz") if os.path.isdir(path) else [path]
    splits = [
        u for f in files for u in range_units(f, os.path.getsize(f), split_bytes)
    ]
    if not splits:
        # zero-byte inputs produce zero splits; fail with the file list
        # instead of an empty result
        raise ValueError(
            f"read_warc_gz: no non-empty .warc.gz input among {files}"
        )
    wanted = warc_types

    def decode(f, lo, hi):
        rows = []
        for headers, payload in read_warc_gz_split(f, lo, hi):
            wt = headers.get("WARC-Type", "")
            if wanted and wt not in wanted:
                continue
            rows.append((
                f, wt,
                headers.get("WARC-Record-ID", ""),
                headers.get("WARC-Date", ""),
                headers.get("WARC-Target-URI", ""),
                payload,
            ))
        return rows

    schema = T.StructType.fromDDL(
        "path string, warc_type string, record_id string, date string, "
        "target_uri string, payload binary"
    )
    return read_per_task(spark, splits, schema, decode)
