"""State Processor API — offline read / bootstrap / transform of
operator state (ref: flink-libraries/flink-state-processing-api/.../
Savepoint.java, ExistingSavepoint.java, NewSavepoint.java,
KeyedStateInputFormat.java, BootstrapTransformation.java).

The reference lets a BATCH job treat a savepoint as a queryable table
(``Savepoint.load(...).readKeyedState(uid, reader)``), build a new
savepoint from a DataSet (``Savepoint.create(...).withOperator(uid,
transformation).write(path)``), and rewrite an operator's state.  The
Spark-first mapping splits by where the state lives:

- **Structured Streaming checkpoints** (the engine-managed keyed state
  behind groupBy-aggs, dedup, stream-stream joins): Spark's PUBLIC
  ``statestore`` / ``state-metadata`` DataSource V2 readers — the exact
  analog of KeyedStateInputFormat (key-group-partitioned scans of the
  backend files).  ``read_keyed_state`` / ``read_state_metadata`` wrap
  them with the reference's navigation surface (operator selection,
  history batch selection) and flatten the key/value structs.

- **Manifest-governed parquet state** (this engine's forever-stateful
  operators: retraction join, early-fire accumulators): plain
  distributed parquet behind ``StateDir`` — ``read_operator_state``
  (ExistingSavepoint.readListState), ``bootstrap_operator_state``
  (NewSavepoint: seed state from a batch DataFrame so a streaming job
  RESUMES on top of it without replaying history), and
  ``transform_operator_state`` (ExistingSavepoint.withOperator: rewrite
  state offline — drop keys, fix values, migrate schema — flipping the
  manifest atomically so a crash mid-rewrite leaves the old state).

Scale shape: every read is a distributed scan (key-group/partition
parallel), every bootstrap/transform is a distributed write sized by
``plan_target_files``; nothing rows through the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# -- Structured Streaming checkpoint state (engine-managed) ---------------------


def read_state_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """List the stateful operators inside a streaming checkpoint —
    (operatorId, operatorName, stateStoreName, numPartitions,
    minBatchId, maxBatchId) (ref: SavepointMetadata.java: the operator
    inventory a savepoint carries)."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_keyed_state(
    spark: SparkSession,
    checkpoint: str,
    *,
    operator_id: int | None = None,
    store_name: str | None = None,
    batch_id: int | None = None,
    join_side: str | None = None,
    flatten: bool = True,
) -> DataFrame:
    """Read an operator's keyed state out of a streaming checkpoint as
    a DataFrame (ref: ExistingSavepoint.readKeyedState +
    KeyedStateReaderFunction — one row per key, the registered state
    values as columns).

    ``batch_id`` time-travels to an older retained checkpoint (the
    reference reads any savepoint, not just the newest).  With
    ``flatten`` the ``key``/``value`` structs expand to plain columns
    (key columns first), which is what a reader function would build.
    """
    reader = spark.read.format("statestore")
    if operator_id is not None:
        reader = reader.option("operatorId", operator_id)
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    if join_side is not None:
        reader = reader.option("joinSide", join_side)
    df = reader.load(checkpoint)
    if not flatten:
        return df
    key_cols = [
        F.col(f"key.{f.name}").alias(f"key_{f.name}")
        for f in df.schema["key"].dataType.fields
    ]
    val_cols = [
        F.col(f"value.{f.name}").alias(f.name)
        for f in df.schema["value"].dataType.fields
    ]
    return df.select(*key_cols, *val_cols)


# -- manifest-governed parquet operator state (engine-owned ops) -----------------


def read_operator_state(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Read a StateDir-governed operator state as a DataFrame (ref:
    ExistingSavepoint.readListState — the full state of one operator as
    a dataset).  ``schema`` is required only for an empty state."""
    from my_flink_1_10_2_spark.streaming.state_dir import StateDir

    if schema is None:
        probe = StateDir(spark, path, schema="__unused__ string")
        dirs = probe.live_dirs()
        if not dirs:
            raise ValueError(
                f"state at {path!r} is empty; pass schema= to read it"
            )
        return spark.read.parquet(*[f"{path}/{d}" for d in dirs])
    return StateDir(spark, path, schema).read()


def bootstrap_operator_state(
    df: DataFrame,
    path: str,
    *,
    compact_every: int = 16,
) -> None:
    """Seed an operator's StateDir from a batch DataFrame (ref:
    NewSavepoint / BootstrapTransformation: build state offline so the
    streaming job starts from it instead of replaying history).

    The snapshot is written as a compaction-style dir with
    ``applied = -1``: the state is LIVE (reads see it) but no stream
    batch is marked consumed, so the resumed job's batch 0 proceeds
    normally on top of the seeded rows."""
    from my_flink_1_10_2_spark.streaming.state_dir import StateDir

    state = StateDir(
        df.sparkSession, path, df.schema, compact_every=compact_every
    )
    if state.live_dirs():
        raise ValueError(
            f"state at {path!r} already exists; bootstrap only seeds fresh "
            "state (use transform_operator_state to rewrite)"
        )
    snap = "c_bootstrap"
    # the source partitioning carries through; the StateDir's periodic
    # compaction re-sizes files as batches accrue on top
    df.write.mode("overwrite").parquet(f"{state.path}/{snap}")
    state._write_manifest([snap], -1)


def transform_operator_state(
    spark: SparkSession,
    path: str,
    schema,
    fn,
) -> None:
    """Rewrite an operator's StateDir offline (ref:
    ExistingSavepoint.withOperator replacing an operator's state):
    ``fn(state_df) -> new_state_df`` — drop keys, patch values, migrate
    columns.  The rewrite lands in a fresh snapshot dir and the
    manifest flips atomically AFTER the write completes, preserving the
    applied-batch watermark — a crash mid-rewrite leaves the previous
    state fully intact."""
    import shutil

    from my_flink_1_10_2_spark.streaming.state_dir import StateDir

    state = StateDir(spark, path, schema)
    m = state._read_manifest()
    if not m["dirs"]:
        raise ValueError(f"state at {path!r} is empty; nothing to transform")
    new_df = fn(state.read())
    # the snapshot name must not collide with ANY live dir — writing
    # over one and then sweeping old dirs would delete the new state
    n = 1
    while f"c_rewrite{n}" in m["dirs"]:
        n += 1
    snap = f"c_rewrite{n}"
    new_df.write.mode("overwrite").parquet(f"{state.path}/{snap}")
    old_dirs = [d for d in m["dirs"] if d != snap]
    state._write_manifest([snap], m["applied"])
    for d in old_dirs:
        shutil.rmtree(f"{state.path}/{d}", ignore_errors=True)
