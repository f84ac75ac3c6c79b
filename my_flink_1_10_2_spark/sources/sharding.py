"""The shard-file kernel of the six export formats (webdataset / tfrecord
/ WET / jsonl.zst / arrow-ipc / npy) and the one per-task read path of
every executor-side source.  A format module keeps only its framing and
encoding, its decode function, its file name and its manifest columns.

- **write** (:func:`write_shards`): shards are contiguous key ranges
  decided on the keys alone (:func:`assign_contiguous_shards`), then ONE
  shuffle of the payload keyed on the shard id; each task sorts its
  shard by key and streams it to disk through :func:`commit_file`
  (``.inprogress`` + atomic rename — the in-progress → finished
  protocol of the reference's StreamingFileSink, so a crashed or
  retried task never leaves a half shard visible).  Sorted contiguous
  ranges are what loaders rely on for deterministic epoch order, and
  they make re-exports of identical data byte-identical whatever the
  partition count.  A directory that already holds shards of the format
  is refused before any job runs, as Spark's default save mode does: a
  smaller re-export would otherwise leave the old higher-numbered
  shards in place for every reader to pick up.
- **read** (:func:`read_per_task`): one task per input unit, one unit
  per input slice (a hash repartition could put two units on one task).
  A unit is a tuple of literals the reader gets as ``decode(*unit)``:
  ``(path,)`` for a shard file; ``(path, lo, hi)`` from
  :func:`range_units` for the WARC and Avro byte ranges, Arrow IPC
  batches and jsonl.zst frames; ``(start, stop)`` for an HBase REST
  scan; a consumer index for the live drains (Pub/Sub, RabbitMQ, NiFi,
  streaming HTTP, Wikipedia IRC), which stream their rows in chunks.

Shard assignment is the decide-on-keys / move-payload-once split
(optimization guide §8).  Packing samples into fixed-size shards by
global key rank — ``shard = (rank - 1) div samples_per_shard`` under
``ORDER BY key`` — once ran :func:`operators.rank.global_rank` over the
FULL payload rows: a range exchange of the payload, a full-payload
localCheckpoint pin, and the offsets machinery on wide rows, before the
``groupBy(shard)`` exchange into the write kernel moved the payload a
second time.  Every decision depends only on the KEY column, so the
payload only needs to travel once: rank the keys-only projection,
collect the shard BOUNDARY keys (the keys at ranks S, 2S, ... — N/S
values, metadata-scale: 8 MB per billion samples at S=1000), broadcast
them, and compute each row's shard map-side by vectorized binary
search.
"""

from __future__ import annotations

import itertools
import os
import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema


def assign_contiguous_shards(
    df: DataFrame,
    key_col: str,
    samples_per_shard: int,
    shard_col: str = "__shard",
) -> DataFrame:
    """Attach ``shard_col`` = ``(global_rank(key) - 1) div
    samples_per_shard`` (ascending key order) without ever shuffling the
    payload columns.

    ``key_col`` must be non-null and UNIQUE (the writers' sample-key
    contract; global_rank's total-order requirement made the same
    assumption).  For a key with rank ``r``, the number of boundary keys
    strictly below it is exactly ``(r - 1) div S`` — uniqueness makes
    rank order and key order isomorphic — so a left-side binary search
    over the boundaries reproduces the rank arithmetic bit-for-bit.

    Driver footprint: one ``N div S`` row collect + broadcast (the shard
    count is metadata-scale by construction — it is also the number of
    output files).
    """
    from my_flink_1_10_2_spark.operators.iterate import (
        _persistent_rdd_ids,
        free_checkpoints,
    )
    from my_flink_1_10_2_spark.operators.rank import global_rank

    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    ranked = global_rank(
        df.select(key_col), [F.asc(key_col)], rank_col="__rk"
    )
    bounds = sorted(
        r[0]
        for r in ranked.where(F.col("__rk") % samples_per_shard == 0)
        .select(key_col)
        .collect()
    )
    # the keys-only rank machinery pins a (narrow) lazy checkpoint;
    # nothing derived from it survives past the collect — release it
    free_checkpoints(spark, _persistent_rdd_ids(spark) - before)
    if not bounds:
        return df.withColumn(shard_col, F.lit(0).cast("bigint"))
    bc = spark.sparkContext.broadcast(bounds)

    @pandas_udf("long")
    def _shard_of(keys):
        import numpy as np
        import pandas as pd

        b = bc.value
        try:
            arr = np.asarray(b, dtype="int64")
            vals = keys.to_numpy(dtype="int64", copy=False)
        except (TypeError, ValueError, OverflowError):
            arr = np.asarray(b, dtype=object)
            vals = keys.to_numpy(dtype=object, copy=False)
        return pd.Series(
            np.searchsorted(arr, vals, side="left").astype("int64")
        )

    return df.withColumn(shard_col, _shard_of(F.col(key_col)))


@contextmanager
def commit_file(path: str):
    """Yield a binary file handle on ``path + ".inprogress"``; when the
    block exits cleanly the file is closed and atomically renamed onto
    ``path``.  If the block raises, the partial file keeps its
    in-progress name, which no reader lists."""
    tmp = path + ".inprogress"
    with open(tmp, "wb") as fh:
        yield fh
    os.replace(tmp, path)


def shard_paths(in_dir: str, suffix: str) -> list[str]:
    """Sorted paths of the files in ``in_dir`` ending in ``suffix``;
    raises ``FileNotFoundError`` when there are none."""
    paths = sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir) if f.endswith(suffix)
    )
    if not paths:
        raise FileNotFoundError(f"no {suffix} files under {in_dir}")
    return paths


def write_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    cols: list[str],
    samples_per_shard: int,
    suffix: str,
    encode,
    schema: str,
) -> DataFrame:
    """Export ``df[cols]`` as contiguous key-range shards; returns the
    lazy manifest DataFrame, one row per shard, with ``schema``.

    ``encode(pdf, shard_id)`` gets one shard's rows sorted by
    ``key_col``, writes its file(s) through :func:`commit_file` and
    returns the format's manifest columns as a dict; ``shard_id``,
    ``first_key`` and ``last_key`` are added here.  Raises
    ``FileExistsError`` before any Spark job runs when ``out_dir``
    already holds files ending in ``suffix``."""
    os.makedirs(out_dir, exist_ok=True)
    stale = sorted(f for f in os.listdir(out_dir) if f.endswith(suffix))
    if stale:
        raise FileExistsError(
            f"{out_dir} already holds {suffix} files ({', '.join(stale)}); "
            "export into an empty directory"
        )
    sharded = assign_contiguous_shards(
        df.select(*cols), key_col, samples_per_shard
    )

    def _write(pdf):
        import pandas as pd

        pdf = pdf.sort_values(key_col)
        shard_id = int(pdf["__shard"].iloc[0])
        keys = pdf[key_col]
        return pd.DataFrame([{
            "shard_id": shard_id,
            "first_key": int(keys.iloc[0]),
            "last_key": int(keys.iloc[-1]),
            **encode(pdf, shard_id),
        }])

    return sharded.groupBy("__shard").applyInPandas(_write, schema)


def range_units(path: str, n: int, step: int) -> list[tuple[str, int, int]]:
    """The ``(path, lo, hi)`` units that cut ``[0, n)`` of one file —
    bytes, record batches or frames — into runs of ``step``; the last
    run ends at ``n``, and ``n == 0`` gives no unit."""
    return [(path, lo, min(lo + step, n)) for lo in range(0, n, step)]


_ROW_CHUNK = 1024


def row_chunks(rows):
    """Group an iterable of row tuples into lists of at most
    ``_ROW_CHUNK``: the parts a streaming :func:`read_per_task` reader
    yields."""
    rows = iter(rows)
    while chunk := list(itertools.islice(rows, _ROW_CHUNK)):
        yield chunk


def read_per_task(
    spark: SparkSession,
    units: list,
    schema: T.StructType | str,
    decode,
    shard_col: str | None = None,
) -> DataFrame:
    """Read ``units`` with one task each, as ``schema`` (a StructType or
    a DDL string).  A unit is a tuple of literals; its task calls
    ``decode(*unit)``, which returns the unit's rows — a pandas
    DataFrame, or a list of row tuples in ``schema``'s order, which
    converts exactly (a NaN stays NaN) — or yields several of them, so a
    drain streams its rows.  ``shard_col`` appends the shard id: the
    first run of digits in the file name ``unit[0]``
    (``part-00007.tfrecord``, ``shard-000007.tar`` → 7)."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    row_schema = to_arrow_schema(schema)
    if shard_col:
        schema = T.StructType(
            [*schema.fields, T.StructField(shard_col, T.LongType())]
        )
    if not units:
        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    # The unit list stays in the JVM: a range of len(units) slices, one
    # unit per slice and in order, picks its unit out of a literal array;
    # shipping the list from the driver would run a Python task per
    # slice, and a hash repartition could put two units on one task.
    table = F.array(*[
        F.struct(*[F.lit(v).alias(f"_{i}") for i, v in enumerate(u)])
        for u in units
    ])
    unit_df = (
        spark.range(0, len(units), 1, len(units))
        .select(F.element_at(table, F.col("id").cast("int") + 1).alias("u"))
        .select("u.*")
    )

    def _read(batches):
        import pandas as pd

        for batch in batches:
            for unit in zip(*(c.to_pylist() for c in batch.columns)):
                if shard_col:
                    name = os.path.basename(unit[0])
                    shard = int(re.search(r"\d+", name).group())
                out = decode(*unit)
                for part in [out] if isinstance(out, (pd.DataFrame, list)) else out:
                    if isinstance(part, list):
                        rb = pa.RecordBatch.from_struct_array(
                            pa.array(part, pa.struct(row_schema))
                        )
                    else:
                        rb = pa.RecordBatch.from_pandas(
                            part, schema=row_schema, preserve_index=False
                        )
                    if shard_col:
                        rb = rb.append_column(
                            shard_col, pa.array([shard] * rb.num_rows, pa.int64())
                        )
                    yield rb

    return unit_df.mapInArrow(_read, schema)
