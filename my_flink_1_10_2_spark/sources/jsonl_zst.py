"""zstd-compressed JSONL shard source/sink — the corpus container of
The Pile / RedPajama / Dolma releases: one JSON object per line,
whole-file zstd framing (``.jsonl.zst``).  Compression rides pyarrow's
bundled zstd streams (no extra dependency); JSON encoding is stdlib
``json`` with ``sort_keys=True`` and fixed separators so shard bytes
are deterministic and any JSONL consumer (jq, datasets, duckdb's
read_json) parses them.

Shards are ``part-NNNNN.jsonl.zst``, written and read through the shard
kernel (:mod:`.sharding`), as is the seekable variant's frame-range read.
"""

from __future__ import annotations

import json
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


def write_jsonl_zst_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    cols: list[str] | None = None,
    samples_per_shard: int = 500,
) -> DataFrame:
    """Write sorted contiguous ``part-NNNNN.jsonl.zst`` shards; returns
    the shard manifest (shard_id, path, n_records, first_key, last_key,
    raw_bytes, zst_bytes)."""
    cols = cols or list(df.columns)
    if key_col not in cols:
        cols = [key_col] + cols

    def encode(pdf, shard_id):
        import pyarrow as pa

        path = os.path.join(out_dir, f"part-{shard_id:05d}.jsonl.zst")
        raw_bytes = 0
        col_vals = {
            c: [v.item() if hasattr(v, "item") else v for v in pdf[c].tolist()]
            for c in cols
        }
        with commit_file(path) as raw, pa.output_stream(
            raw, compression="zstd"
        ) as fh:
            for i in range(len(pdf)):
                line = json.dumps(
                    {c: col_vals[c][i] for c in cols},
                    sort_keys=True,
                    separators=(",", ":"),
                    ensure_ascii=False,
                ).encode("utf-8") + b"\n"
                raw_bytes += len(line)
                fh.write(line)
        return {
            "path": path,
            "n_records": len(pdf),
            "raw_bytes": raw_bytes,
            "zst_bytes": os.path.getsize(path),
        }

    return write_shards(
        df, out_dir, key_col, cols, samples_per_shard, ".jsonl.zst", encode,
        "shard_id long, path string, n_records long, first_key long, "
        "last_key long, raw_bytes long, zst_bytes long",
    )


def decode_jsonl_zst(source, spec: dict) -> dict:
    """Decode ONE ``.jsonl.zst`` shard (path or bytes) → column lists
    keyed per ``spec`` (key -> long/double/string) — the per-shard unit
    of :func:`read_jsonl_zst_shards`, factored out so the corruption
    fuzz drives the exact production path.  Corrupt zstd frames, broken
    UTF-8, malformed JSON, and type-impossible values all surface as
    ValueError."""
    import pyarrow as pa

    try:
        if isinstance(source, (bytes, bytearray, memoryview)):
            stream = pa.input_stream(
                pa.BufferReader(bytes(source)), compression="zstd"
            )
            with stream as fh:
                text = fh.read().decode("utf-8")
        else:
            with pa.input_stream(source, compression="zstd") as fh:
                text = fh.read().decode("utf-8")
    except (pa.lib.ArrowException, OSError) as exc:
        if isinstance(exc, ValueError):
            raise
        raise ValueError(f"corrupt zstd shard: {exc}") from exc
    rows = {k: [] for k in spec}
    _decode_jsonl_lines(text, spec, rows)
    return rows


def _decode_jsonl_lines(text: str, spec: dict, rows: dict) -> None:
    """Decode decompressed jsonl text into ``rows`` (column lists) —
    the ONE line-decode loop both the shard reader and the seekable
    reader use, so they share a single error contract (malformed JSON
    raises from json.loads; non-object lines and type-impossible values
    raise ValueError)."""
    for line in text.splitlines():
        if not line:
            continue
        obj = json.loads(line)
        if not isinstance(obj, dict):
            raise ValueError(f"jsonl line is not an object: {line[:60]!r}")
        for k, t in spec.items():
            v = obj.get(k)
            if v is not None:
                try:
                    v = {"long": int, "double": float, "string": str}[t](v)
                except TypeError as exc:
                    raise ValueError(
                        f"jsonl field {k!r} not coercible to {t}: {exc}"
                    ) from exc
            rows[k].append(v)


def _spark_schema(schema: dict[str, str]) -> T.StructType:
    spark_types = {
        "long": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
    }
    return T.StructType(
        [T.StructField(k, spark_types[t]) for k, t in schema.items()]
    )


def read_jsonl_zst_shards(
    spark: SparkSession,
    in_dir: str,
    schema: dict[str, str],
    shard_col: str | None = None,
) -> DataFrame:
    """Read ``.jsonl.zst`` shards back, one task per shard; ``schema``
    maps JSON key -> ``long`` / ``double`` / ``string``."""
    paths = shard_paths(in_dir, ".jsonl.zst")
    out_schema = _spark_schema(schema)
    spec = dict(schema)

    def decode(path):
        import pandas as pd

        return pd.DataFrame(decode_jsonl_zst(path, spec))

    return read_per_task(spark, [(p,) for p in paths], out_schema, decode, shard_col)


# ---------------------------------------------------------------------------
# zstd SEEKABLE format (public spec: facebook/zstd
# contrib/seekable_format/zstd_seekable_compression_format.md): the
# payload is split into independent zstd frames, and a final SKIPPABLE
# frame carries a seek table of (compressed_size, decompressed_size)
# per frame.  Plain zstd decoders ignore skippable frames (verified:
# pyarrow's stream reads straight through them), so a seekable shard is
# still a valid .jsonl.zst to every existing consumer — but a
# byte-range reader can jump to any frame without inflating the prefix.
# This is what turns the one-huge-.jsonl.zst external corpus (a Pile /
# Dolma release file) from a one-task scan into N parallel tasks.

import struct

_SEEK_SKIP_MAGIC = 0x184D2A5E  # skippable-frame magic reserved for seek tables
_SEEK_FOOT_MAGIC = 0x8F92EAB1


def _seek_table_frame(frames) -> bytes:
    """Serialize the seek table (no per-frame checksums) as one
    skippable frame: entries then the 9-byte footer."""
    body = b"".join(struct.pack("<II", c, d) for c, d in frames)
    body += struct.pack("<IBI", len(frames), 0, _SEEK_FOOT_MAGIC)
    return struct.pack("<II", _SEEK_SKIP_MAGIC, len(body)) + body


def read_zstd_seek_table(path: str):
    """Parse a seekable file's trailing seek table →
    [(compressed_offset, compressed_size, decompressed_size)].
    Raises ValueError when the file has no seek table."""
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        if size < 17:
            raise ValueError(f"{path}: too small for a zstd seek table")
        fh.seek(size - 9)
        nframes, desc, magic = struct.unpack("<IBI", fh.read(9))
        if magic != _SEEK_FOOT_MAGIC:
            raise ValueError(f"{path}: no zstd seekable footer")
        entry = 12 if desc & 0x80 else 8
        table_size = nframes * entry + 9
        frame_start = size - 9 - nframes * entry - 8
        if frame_start < 0:
            raise ValueError(f"{path}: seek table larger than file")
        fh.seek(frame_start)
        skip_magic, frame_size = struct.unpack("<II", fh.read(8))
        if skip_magic != _SEEK_SKIP_MAGIC or frame_size != table_size:
            raise ValueError(f"{path}: malformed zstd seek-table frame")
        out = []
        off = 0
        for _ in range(nframes):
            if entry == 12:
                c, d, _crc = struct.unpack("<III", fh.read(12))
            else:
                c, d = struct.unpack("<II", fh.read(8))
            out.append((off, c, d))
            off += c
        if off != frame_start:
            raise ValueError(
                f"{path}: seek table covers {off} bytes, data is {frame_start}"
            )
        return out


def write_jsonl_zst_seekable(
    rows_iter,
    path: str,
    *,
    lines_per_frame: int = 200,
    max_frame_bytes: int = 8 << 20,
):
    """Write pre-encoded JSONL lines (an iterator of bytes, each ending
    in a newline) as one SEEKABLE .jsonl.zst file: one zstd frame per
    ``lines_per_frame`` lines (or sooner once a frame's raw size
    reaches ``max_frame_bytes`` — the seek table's sizes are 32-bit per
    spec, and small frames are what make byte-range reads cheap) + the
    trailing seek table.  Frames break on line boundaries so any frame
    decodes to whole JSON lines; a single line larger than the byte
    budget still becomes one (oversized) frame, but a line that cannot
    be represented in the 32-bit seek-table entry raises rather than
    writing an unreadable table.  Returns (n_frames, raw_bytes)."""
    import pyarrow as pa

    codec = pa.Codec("zstd")
    frames = []
    raw_bytes = 0
    with commit_file(path) as fh:
        buf = bytearray()
        n = 0

        def flush():
            nonlocal buf, n
            if not buf:
                return
            comp = codec.compress(bytes(buf), asbytes=True)
            if len(comp) > 0xFFFFFFFF or len(buf) > 0xFFFFFFFF:
                raise ValueError(
                    "zstd seekable frame exceeds the spec's 32-bit size "
                    f"field ({len(buf)} raw bytes) — lower max_frame_bytes "
                    "or split the offending line"
                )
            fh.write(comp)
            frames.append((len(comp), len(buf)))
            buf = bytearray()
            n = 0

        for line in rows_iter:
            buf += line
            raw_bytes += len(line)
            n += 1
            if n >= lines_per_frame or len(buf) >= max_frame_bytes:
                flush()
        flush()
        fh.write(_seek_table_frame(frames))
    return len(frames), raw_bytes


def read_jsonl_zst_seekable(
    spark: SparkSession,
    path: str,
    schema: dict[str, str],
    frames_per_task: int = 8,
) -> DataFrame:
    """Read ONE seekable .jsonl.zst file with frame-range parallelism:
    the driver parses only the trailing seek table, assigns contiguous
    frame ranges to tasks, and each task reads its exact byte range and
    decompresses each frame independently (sizes known, so no streaming
    state and no false-boundary hazard — the seek table is
    authoritative, like the Arrow IPC footer)."""
    table = read_zstd_seek_table(path)
    spec = dict(schema)
    ranges = range_units(path, len(table), frames_per_task)
    meta = spark.sparkContext.broadcast(table)

    def decode(f, lo, hi):
        import pandas as pd
        import pyarrow as pa

        codec = pa.Codec("zstd")
        rows = {k: [] for k in spec}
        with open(f, "rb") as fh:
            for off, csize, dsize in meta.value[lo:hi]:
                fh.seek(off)
                comp = fh.read(csize)
                if len(comp) != csize:
                    raise ValueError(f"{f}: truncated frame at offset {off}")
                try:
                    text = codec.decompress(
                        comp, decompressed_size=dsize, asbytes=True
                    ).decode("utf-8")
                except (pa.lib.ArrowException, OSError) as exc:
                    raise ValueError(
                        f"{f}: corrupt zstd frame at {off}: {exc}"
                    ) from exc
                _decode_jsonl_lines(text, spec, rows)
        return pd.DataFrame(rows)

    return read_per_task(spark, ranges, _spark_schema(schema), decode)
