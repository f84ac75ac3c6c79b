"""NumPy ``.npy`` shard source/sink for embedding matrices — the flat
binary container FAISS/ScaNN index builders and numpy/torch memmap
loaders consume.  The header is hand-rolled from the PUBLIC ``.npy``
format spec (version 1.0, as documented in numpy/lib/format.py):

  \\x93NUMPY | 0x01 0x00 | uint16le(header_len) | ascii dict padded so
  the total header is a multiple of 64 bytes, ending in '\\n' | raw
  C-order data

so the files interoperate bidirectionally with ``np.load``/``np.save``
(asserted in tests) while the writer stays dependency-light and
byte-deterministic.

Each shard is a PAIR of files — ``part-NNNNN.ids.npy`` (int64 keys) and
``part-NNNNN.emb.npy`` (n x d float32 matrix) — the layout ANN tooling
expects: ids and vectors aligned by row position.

Shards are written and read through the shard kernel (:mod:`.sharding`).
"""

from __future__ import annotations

import ast
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

_MAGIC = b"\x93NUMPY\x01\x00"


def write_npy(fh, arr) -> None:
    """Write a C-contiguous numpy array as .npy v1.0 (hand-rolled
    header; data via tobytes)."""
    import numpy as np

    arr = np.ascontiguousarray(arr)
    descr = arr.dtype.str  # e.g. '<f4', '<i8'
    if arr.dtype.hasobject:
        raise TypeError("object arrays are not writable as .npy")
    header = (
        "{'descr': %r, 'fortran_order': False, 'shape': %r, }"
        % (descr, arr.shape)
    ).encode("latin1")
    # pad with spaces so magic(8) + len(2) + header is a multiple of 64
    pad = 64 - (len(_MAGIC) + 2 + len(header) + 1) % 64
    header += b" " * pad + b"\n"
    fh.write(_MAGIC)
    fh.write(struct.pack("<H", len(header)))
    fh.write(header)
    fh.write(arr.tobytes(order="C"))


def read_npy(fh):
    """Read a .npy v1.0/2.0 file written by us or by np.save."""
    import numpy as np

    magic = fh.read(6)
    if magic != b"\x93NUMPY":
        raise ValueError("not a .npy file (bad magic)")
    version = fh.read(2)
    if len(version) < 2:
        raise ValueError("truncated .npy version bytes")
    major = version[0]
    if major == 1:
        raw = fh.read(2)
        if len(raw) < 2:
            raise ValueError("truncated .npy header length")
        (hlen,) = struct.unpack("<H", raw)
    elif major == 2:
        raw = fh.read(4)
        if len(raw) < 4:
            raise ValueError("truncated .npy header length")
        (hlen,) = struct.unpack("<I", raw)
    else:
        raise ValueError(f"unsupported .npy version {major}")
    try:
        meta = ast.literal_eval(fh.read(hlen).decode("latin1"))
        if not isinstance(meta, dict):
            raise ValueError("npy header is not a dict literal")
        if meta["fortran_order"]:
            raise ValueError("fortran-order .npy not supported")
        dtype = np.dtype(meta["descr"])
        shape = tuple(meta["shape"])
    except (SyntaxError, TypeError, KeyError) as exc:
        # corrupt header bytes must surface as the module's clean error
        raise ValueError(f"corrupt .npy header: {exc}") from exc
    if not all(isinstance(s, int) and s >= 0 for s in shape):
        raise ValueError(f"corrupt .npy shape {shape!r}")
    n_items = 1
    for s in shape:
        n_items *= s
    buf = fh.read(n_items * dtype.itemsize)
    if len(buf) != n_items * dtype.itemsize:
        raise ValueError("truncated .npy data")
    return np.frombuffer(buf, dtype=dtype).reshape(shape)


def write_npy_shards(
    emb: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    samples_per_shard: int = 100,
) -> DataFrame:
    """Export (id, vector) rows as aligned ids/emb .npy shard pairs;
    returns the manifest (shard_id, n_vecs, dim, first_key, last_key,
    ids_bytes, emb_bytes)."""

    def encode(pdf, shard_id):
        import numpy as np

        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        row = {"n_vecs": len(ids), "dim": int(mat.shape[1])}
        for kind, arr in (("ids", ids), ("emb", mat)):
            path = os.path.join(out_dir, f"part-{shard_id:05d}.{kind}.npy")
            with commit_file(path) as fh:
                write_npy(fh, arr)
            row[f"{kind}_bytes"] = os.path.getsize(path)
        return row

    return write_shards(
        emb, out_dir, id_col, [id_col, vec_col], samples_per_shard, ".npy", encode,
        "shard_id long, n_vecs long, dim long, first_key long, "
        "last_key long, ids_bytes long, emb_bytes long",
    )


def read_npy_shards(
    spark: SparkSession,
    in_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_col: str | None = None,
) -> DataFrame:
    """Read ids/emb .npy shard pairs back, one task per shard; row
    alignment between the two files is positional (verified by length)."""
    ids_paths = shard_paths(in_dir, ".ids.npy")

    def decode(ids_path):
        import pandas as pd

        emb_path = ids_path[: -len(".ids.npy")] + ".emb.npy"
        with open(ids_path, "rb") as fh:
            ids = read_npy(fh)
        with open(emb_path, "rb") as fh:
            mat = read_npy(fh)
        if len(ids) != len(mat):
            raise ValueError(
                f"shard misalignment: {len(ids)} ids vs {len(mat)} vectors"
            )
        return pd.DataFrame({id_col: ids, vec_col: [row for row in mat]})

    schema = T.StructType.fromDDL(f"{id_col} long, {vec_col} array<float>")
    return read_per_task(spark, [(p,) for p in ids_paths], schema, decode, shard_col)
