"""Arrow IPC (Feather v2) source/sink — the zero-copy interchange
container training loaders (PyTorch DataLoader via pyarrow, Polars, Ray
Data) memory-map directly.  Uses the public Arrow IPC *file* format via
pyarrow (baked into this environment), so any Arrow implementation in
any language consumes the shards and vice versa.

Shards are ``part-NNNNN.arrow``, written and read through the shard
kernel (:mod:`.sharding`); on read, record batches stream through Arrow
without row-at-a-time Python.

Ref parity: the reference's format matrix (CSV/Avro/Parquet/Sequence,
ref: flink-formats/) extended with the container modern data loaders
expect; same connector contract as the rest of ``sources/``.
"""

from __future__ import annotations

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


def write_arrow_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    cols: list[str] | None = None,
    samples_per_shard: int = 1000,
    compression: str | None = None,
) -> DataFrame:
    """Write sorted contiguous Arrow IPC file shards; returns the shard
    manifest (shard_id, path, n_samples, first_key, last_key, n_bytes,
    n_batches).  ``compression`` may be ``"zstd"`` / ``"lz4"`` / None
    (pyarrow IPC body-buffer compression)."""
    cols = cols or [c for c in df.columns]
    if key_col not in cols:
        cols = [key_col] + cols

    def encode(pdf, shard_id):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        path = os.path.join(out_dir, f"part-{shard_id:05d}.arrow")
        table = pa.Table.from_pandas(
            pdf[cols].reset_index(drop=True), preserve_index=False
        )
        options = ipc.IpcWriteOptions(compression=compression) if compression else None
        with commit_file(path) as fh, ipc.new_file(
            fh, table.schema, options=options
        ) as writer:
            writer.write_table(table)
        with pa.memory_map(path) as mm:
            n_batches = ipc.open_file(mm).num_record_batches
        return {
            "path": path,
            "n_samples": len(pdf),
            "n_bytes": os.path.getsize(path),
            "n_batches": n_batches,
        }

    return write_shards(
        df, out_dir, key_col, cols, samples_per_shard, ".arrow", encode,
        "shard_id long, path string, n_samples long, "
        "first_key long, last_key long, n_bytes long, n_batches long",
    )


def decode_arrow_file(source, want_schema_str: str | None = None):
    """Decode ONE Arrow IPC file (path or bytes) → pandas DataFrame.

    The per-shard unit of :func:`read_arrow_shards` — factored out so the
    corruption fuzz drives the exact production path.  Corrupt framing
    surfaces as ValueError (pyarrow's ArrowInvalid already is one; its
    IO-flavored errors on in-memory bytes are converted).

    The decoded table is `validate(full=True)`d BEFORE pandas
    conversion: pyarrow trusts IPC buffer metadata, and a flipped
    offset/length byte otherwise SEGFAULTS the interpreter inside
    `table_to_dataframe` (reproduced by the corruption fuzz) — at 100 TB
    scan volume that's a dead executor per corrupt shard.  Full
    validation is one extra O(data) bounds pass; cheap next to the
    Arrow->pandas copy it guards."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    try:
        if isinstance(source, (bytes, bytearray, memoryview)):
            reader = ipc.open_file(pa.BufferReader(bytes(source)))
            if want_schema_str and str(reader.schema) != want_schema_str:
                raise ValueError(f"shard schema drift: {reader.schema}")
            table = reader.read_all()
            table.validate(full=True)
            return table.to_pandas()
        with pa.memory_map(source) as mm:
            reader = ipc.open_file(mm)
            if want_schema_str and str(reader.schema) != want_schema_str:
                raise ValueError(
                    f"shard {source} schema drift: {reader.schema}"
                )
            table = reader.read_all()
            table.validate(full=True)
            return table.to_pandas()
    except (pa.lib.ArrowException, OSError) as exc:
        if isinstance(exc, ValueError):
            raise
        raise ValueError(f"corrupt arrow IPC file: {exc}") from exc


def read_arrow_shards(
    spark: SparkSession,
    in_dir: str,
    shard_col: str | None = None,
) -> DataFrame:
    """Read Arrow IPC file shards back, one task per file.  The schema is
    taken from the first shard's Arrow schema (all shards must agree —
    verified per shard on read)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    paths = shard_paths(in_dir, ".arrow")
    with pa.memory_map(paths[0]) as mm:
        arrow_schema = ipc.open_file(mm).schema
    want_schema_str = str(arrow_schema)
    return read_per_task(
        spark,
        [(p,) for p in paths],
        _spark_schema(arrow_schema),
        lambda path: decode_arrow_file(path, want_schema_str),
        shard_col,
    )


def _spark_schema(arrow_schema) -> T.StructType:
    from pyspark.sql.pandas.types import from_arrow_type

    return T.StructType(
        [T.StructField(f.name, from_arrow_type(f.type)) for f in arrow_schema]
    )


def read_arrow_file_parallel(
    spark: SparkSession,
    path: str,
    batches_per_task: int = 16,
) -> DataFrame:
    """Read ONE (possibly huge) Arrow IPC file with record-batch
    parallelism.  Unlike the marker-scanned splittable formats (Avro
    sync markers, WARC gzip magic), Arrow IPC *file* format carries a
    FOOTER with the exact offset of every record batch — so splitting
    is exact bookkeeping, no scanning, no false-positive hazard: the
    driver reads only the footer (num_record_batches), assigns
    contiguous batch ranges to tasks, and each task memory-maps the
    file and materializes just its batches (zero-copy until the pandas
    conversion).  Each task full-validates its batches before
    conversion (same segfault guard as :func:`decode_arrow_file`).

    This removes the one-task-per-file wall for externally produced
    single-file Arrow datasets; our own exports are already sharded
    (:func:`write_arrow_shards`) and use :func:`read_arrow_shards`.
    """
    import pyarrow as pa
    import pyarrow.ipc as ipc

    with pa.memory_map(path) as mm:
        reader = ipc.open_file(mm)
        n_batches = reader.num_record_batches
        arrow_schema = reader.schema
    ranges = range_units(path, n_batches, batches_per_task)

    def decode(f, lo, hi):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        with pa.memory_map(f) as mm:
            r = ipc.open_file(mm)
            tbl = pa.Table.from_batches(
                [r.get_batch(i) for i in range(lo, hi)], schema=r.schema
            )
            try:
                tbl.validate(full=True)
            except pa.lib.ArrowInvalid as exc:
                raise ValueError(
                    f"corrupt arrow batches [{lo},{hi}) in {f}: {exc}"
                ) from exc
            return tbl.to_pandas()

    return read_per_task(spark, ranges, _spark_schema(arrow_schema), decode)
