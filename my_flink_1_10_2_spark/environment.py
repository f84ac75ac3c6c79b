"""Batch entry point — the DataSet program surface (SURVEY §3.3).

Reference: flink-java/src/main/java/org/apache/flink/api/java/
ExecutionEnvironment.java — getExecutionEnvironment, fromCollection
(:647), fromElements, readTextFile (:438), readCsvFile, setParallelism
(:263), registerCachedFile (:1003), plus the accumulator lifecycle
(RuntimeContext.addAccumulator → JobExecutionResult).

DataSet ≡ Table here: every factory returns a :class:`Table`, so the
whole batch operator inventory (joins/agg/iterate/…) applies directly.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from my_flink_1_10_2_spark.table import Table


class ExecutionEnvironment:
    """ref: ExecutionEnvironment.java:1 — the bounded-input twin of
    `streaming.stream.StreamExecutionEnvironment`."""

    def __init__(self, spark: SparkSession | None = None):
        from my_flink_1_10_2_spark.session import get_spark, tune_session

        self.spark = tune_session(spark or get_spark())
        from my_flink_1_10_2_spark.operators.accumulators import AccumulatorRegistry

        self.accumulators = AccumulatorRegistry(self.spark.sparkContext)

    @classmethod
    def get_execution_environment(cls, spark: SparkSession | None = None):
        """ref: ExecutionEnvironment.getExecutionEnvironment."""
        return cls(spark)

    # -- sources (ref: :438 readTextFile, :647 fromCollection) -------------
    def from_collection(self, data, schema=None) -> Table:
        return Table(self.spark.createDataFrame(data, schema=schema))

    from_elements = from_collection

    def read_text_file(self, path: str) -> Table:
        from my_flink_1_10_2_spark.sources.batch import read_text

        return Table(read_text(self.spark, path))

    def read_csv_file(self, path: str, schema=None, **options) -> Table:
        from my_flink_1_10_2_spark.sources.batch import read_csv

        return Table(read_csv(self.spark, path, schema=schema, **options))

    # -- config (ref: :263 setParallelism) ----------------------------------
    def set_parallelism(self, parallelism: int) -> None:
        """Default operator parallelism → the shuffle-partition count,
        the knob that controls reduce-side parallelism in Spark (map-side
        parallelism follows input splits, as in the reference).
        ``get_spark`` starts it at the session's task slots.

        It also sets the state partition count of a streaming query
        started afterwards on a new checkpoint. A query restarted from
        an existing checkpoint keeps the count it was created with
        (Spark restores it from the offset log): there is no key-group
        rescale as in the reference."""
        self.spark.conf.set("spark.sql.shuffle.partitions", str(parallelism))

    def get_parallelism(self) -> int:
        return int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    # -- distributed cache (ref: :1003 registerCachedFile;
    # flink-core/.../cache/DistributedCache.java) ---------------------------
    def register_cached_file(self, file_path: str, name: str) -> None:
        """Ship a file to every executor once; UDFs retrieve it with
        :meth:`get_cached_file` (ref: DistributedCache.getFile).  Backed
        by SparkContext.addFile — torrent distribution, local disk on
        each executor, the same contract as the reference's cache."""
        if not hasattr(self, "_cached_files"):
            self._cached_files: dict[str, str] = {}
        import os

        self.spark.sparkContext.addFile(file_path)
        self._cached_files[name] = os.path.basename(file_path)

    def get_cached_file(self, name: str) -> str:
        """Executor-side path of a registered file.  Call inside UDFs —
        resolves through SparkFiles on whichever node runs the task."""
        basename = self._cached_files[name]
        from pyspark import SparkFiles

        return SparkFiles.get(basename)

    def cached_file_resolver(self, name: str):
        """A picklable resolver for UDF closures (avoids capturing the
        environment object itself)."""
        basename = self._cached_files[name]

        def resolve() -> str:
            from pyspark import SparkFiles

            return SparkFiles.get(basename)

        return resolve
