"""Catalog of the driver's test tables.

Mirrors the reference's catalog layer (ref:
flink-table/flink-table-common/.../catalog/Catalog.java) in the minimal
form this engine needs: register the deterministic parquet fixtures as
temp views so both the SQL surface and the Table API can reach them.

Scale note: views over parquet paths keep the scan lazy — Catalyst pushes
filters/column pruning into the parquet reader, and partition discovery
stays on the executor side.  Nothing here collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Inferred parquet schemas by (abspath, st_mtime_ns, st_size): inference
# runs a Spark job per read (~60 ms at sf0.1), a given schema none; a
# rewritten file gets a new key and is inferred again.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    path = os.path.abspath(path)
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as a lazy parquet scan.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark has
    no type for; with ``spark.sql.legacy.parquet.nanosAsLong`` the column
    arrives as ns-since-epoch BIGINT and is converted here to
    TIMESTAMP_NTZ at microsecond precision (rowtime semantics, ref:
    SURVEY §1.2 TIMESTAMP(3) ROWTIME).  The conversion is a cheap
    projection — pushdown/pruning on the other columns is unaffected.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # Integral `div` (not `/`): double division at ns-epoch magnitude
            # (~1.7e18) loses sub-microsecond precision.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every fixture table under ``sf_dir`` as a temp view.

    Returns the name->DataFrame mapping.  Timestamps come back as
    parquet-native (NTZ) types; session timezone is pinned to UTC by the
    session layer so event-time semantics are engine-stable.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def analyze_table(spark: SparkSession, name: str, columns: list[str] | None = None) -> None:
    """Compute catalog statistics for a saved table — table-level
    (sizeInBytes, rowCount) and optionally per-column (NDV, min/max,
    nulls) histogram-free stats.

    This is the engine's analog of the reference's precomputed TPC-DS
    statistics (ref: flink-end-to-end-tests/flink-tpcds-test/.../stats/
    TpcdsStatsProvider.java, loaded before the 103-query run): with
    stats in the catalog, CBO (spark.sql.cbo.enabled, set in session.py)
    costs join orders and picks broadcast sides from rowCount instead of
    file size, and AQE refines at runtime.  At 100 TB, run this after
    bulk loads; it is a metadata-only scan-and-aggregate job.
    """
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )
