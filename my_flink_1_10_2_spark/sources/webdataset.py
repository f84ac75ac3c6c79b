"""WebDataset-style tar-shard source/sink for training-data export.

The WebDataset convention (public format, webdataset.github.io; used by
img2dataset / OpenCLIP training pipelines) stores one sample as a group
of consecutive tar members sharing a basename key — ``000000000042.txt``,
``000000000042.json``, ``000000000042.bin`` — packed into fixed-size
``shard-%06d.tar`` files.  Sequential tar reads give near-disk-speed
streaming I/O for training loaders; the shard is the unit of parallelism.

Shards are written and read through the shard kernel (:mod:`.sharding`):
contiguous key ranges, one task per shard both ways.  Tar bytes are
canonical (USTAR, mtime=0, uid=gid=0, fixed mode, members sorted by
key), so re-exports of identical data are byte-identical —
content-addressable and diffable, which is how a 100 TB export is
validated without re-reading it.

No external libraries: stdlib ``tarfile`` only, interoperable with any
WebDataset reader.
"""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from my_flink_1_10_2_spark.sources.sharding import (
    commit_file,
    read_per_task,
    shard_paths,
    write_shards,
)

_KEY_WIDTH = 12  # zero-padded numeric sample keys, sorts lexically == numerically


def _member_name(key, ext: str) -> str:
    if isinstance(key, (int,)) or (hasattr(key, "item") and not isinstance(key, str)):
        return f"{int(key):0{_KEY_WIDTH}d}.{ext}"
    return f"{key}.{ext}"


def _canonical_tarinfo(name: str, size: int) -> tarfile.TarInfo:
    ti = tarfile.TarInfo(name)
    ti.size = size
    ti.mtime = 0
    ti.uid = 0
    ti.gid = 0
    ti.uname = ""
    ti.gname = ""
    ti.mode = 0o644
    return ti


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    columns: dict[str, str] | None = None,
    samples_per_shard: int = 1000,
) -> DataFrame:
    """Write ``df`` as WebDataset tar shards; returns the shard manifest.

    ``columns`` maps dataframe column -> member extension (e.g.
    ``{"text": "txt", "meta": "json", "image": "jpg"}``).  String columns
    are utf-8 encoded; binary columns are written as-is.  Samples are
    sorted by ``key_col`` and packed contiguously: shard ``i`` holds
    sample ranks ``[i*samples_per_shard, (i+1)*samples_per_shard)``.

    Manifest: (shard_id, path, n_samples, first_key, last_key, n_bytes) —
    one row per shard, n_bytes = final tar file size.
    """
    exts = dict(columns or {"text": "txt"})  # col -> ext

    def encode(pdf, shard_id):
        path = os.path.join(out_dir, f"shard-{shard_id:06d}.tar")
        # column-major access (lists), not iterrows — the per-row Series
        # construction dominates the write loop otherwise
        keys = pdf[key_col].tolist()
        cols = {col: pdf[col].tolist() for col in exts}
        with commit_file(path) as fh, tarfile.open(
            fileobj=fh, mode="w", format=tarfile.USTAR_FORMAT
        ) as tar:
            for i, key in enumerate(keys):
                for col, ext in exts.items():
                    payload = cols[col][i]
                    if payload is None:
                        continue
                    if isinstance(payload, str):
                        payload = payload.encode("utf-8")
                    else:
                        payload = bytes(payload)
                    ti = _canonical_tarinfo(_member_name(key, ext), len(payload))
                    tar.addfile(ti, io.BytesIO(payload))
        return {"path": path, "n_samples": len(pdf), "n_bytes": os.path.getsize(path)}

    return write_shards(
        df, out_dir, key_col, [key_col, *exts], samples_per_shard, ".tar", encode,
        "shard_id long, path string, n_samples long, "
        "first_key long, last_key long, n_bytes long",
    )


def parse_tar_samples(source, exts) -> dict:
    """Group the members of ONE WebDataset tar shard (path or bytes) by
    basename key → ``{stem: {ext: bytes}}`` — the per-shard unit of
    :func:`read_webdataset`, factored out so the corruption fuzz drives
    the exact production path.  Corrupt tar framing surfaces as
    ValueError (tarfile's ReadError/TarError converted); members with
    extensions not listed are skipped."""
    import io

    samples: dict[str, dict[str, bytes]] = {}
    try:
        if isinstance(source, (bytes, bytearray, memoryview)):
            tar_kw = {"fileobj": io.BytesIO(bytes(source))}
        else:
            tar_kw = {"name": source}
        with tarfile.open(mode="r", **tar_kw) as tar:
            for ti in tar:
                stem, dot, ext = ti.name.rpartition(".")
                if not dot or ext not in exts:
                    continue
                member = tar.extractfile(ti)
                if member is None:  # directory / special entry
                    continue
                data = member.read()
                if len(data) != ti.size:
                    raise ValueError(
                        f"truncated tar member {ti.name}: "
                        f"{len(data)} of {ti.size} bytes"
                    )
                samples.setdefault(stem, {})[ext] = data
    except tarfile.TarError as exc:
        raise ValueError(f"corrupt webdataset tar shard: {exc}") from exc
    return samples


def read_webdataset(
    spark: SparkSession, in_dir: str, extensions: list[str] | None = None
) -> DataFrame:
    """Read WebDataset tar shards back as (key, shard_id, <ext> binary...).

    One task per shard file; each task streams its tar sequentially and
    groups consecutive members by basename key, the WebDataset sample
    contract.  Unknown extensions are ignored unless listed.
    """
    paths = shard_paths(in_dir, ".tar")
    exts = extensions or ["txt"]

    def decode(path):
        import pandas as pd

        samples = parse_tar_samples(path, exts)
        keys = sorted(samples)
        return pd.DataFrame(
            {
                "key": [int(k) for k in keys],
                **{e: [samples[k].get(e) for k in keys] for e in exts},
            }
        )

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            *[T.StructField(e, T.BinaryType()) for e in exts],
        ]
    )
    return read_per_task(spark, [(p,) for p in paths], schema, decode, "shard_id").select(
        "key", "shard_id", *exts
    )
