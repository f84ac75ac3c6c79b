"""In-memory catalog: databases / tables / views / partitions / functions.

Mirrors the reference's pluggable catalog SPI (ref:
flink-table/flink-table-common/src/main/java/org/apache/flink/table/catalog/Catalog.java:1
and its default implementation GenericInMemoryCatalog in
flink-table/flink-table-api-java/.../catalog/GenericInMemoryCatalog.java)
re-expressed for Spark: the catalog itself is plain driver-side metadata
(exactly like the reference's in-memory maps — catalog metadata is tiny and
never touches executors), while every registered table resolves to a *lazy*
Spark DataFrame so scans keep pushdown / pruning / partition discovery.

Partition support maps Flink's ``CatalogPartitionSpec`` (ref:
CatalogPartitionSpec.java:1) onto hive-style directory layout
(``col=value/``) — the layout Spark's parquet source discovers natively, so
partition pruning happens at plan time with zero catalog involvement at
scale (the 100 TB path: a filter on a partition column never lists, let
alone reads, the other partitions' files).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame


class CatalogException(Exception):
    """ref: flink-table-common/.../catalog/exceptions/ (DatabaseNotExist,
    TableNotExist, PartitionNotExist, ...) collapsed to one type with a
    precise message."""


@dataclass
class CatalogDatabase:
    """ref: CatalogDatabase.java:1 — properties + comment."""

    properties: dict[str, str] = field(default_factory=dict)
    comment: str = ""


@dataclass
class CatalogTable:
    """ref: CatalogTable.java:1 — schema + partition keys + options.

    ``reader`` is a zero-arg thunk returning the lazy DataFrame; metadata
    stays driver-side, data stays an unexecuted plan.
    """

    reader: Callable[[], DataFrame]
    partition_keys: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    comment: str = ""
    is_view: bool = False


@dataclass
class CatalogPartitionSpec:
    """ref: CatalogPartitionSpec.java:1 — ordered key=value map."""

    spec: dict[str, str]

    def path_suffix(self) -> str:
        return "/".join(f"{k}={v}" for k, v in self.spec.items())


@dataclass
class CatalogFunction:
    """ref: CatalogFunction.java:1 — identifier (dotted python path here)."""

    class_name: str
    language: str = "PYTHON"


class GenericInMemoryCatalog:
    """Driver-side metadata maps, the same design as the reference's
    GenericInMemoryCatalog (all state in HashMaps; listing/altering is O(1)
    driver work regardless of data volume)."""

    def __init__(self, name: str, default_database: str = "default"):
        self.name = name
        self.default_database = default_database
        self._dbs: dict[str, CatalogDatabase] = {default_database: CatalogDatabase()}
        # (db, table) -> CatalogTable
        self._tables: dict[tuple[str, str], CatalogTable] = {}
        # (db, table) -> {partition path_suffix -> CatalogPartitionSpec}
        self._partitions: dict[tuple[str, str], dict[str, CatalogPartitionSpec]] = {}
        self._functions: dict[tuple[str, str], CatalogFunction] = {}
        # (db, table) -> {"rowCount": n, ...} (ref: catalog/stats/)
        self._stats: dict[tuple[str, str], dict[str, int]] = {}

    # -- databases (ref: Catalog.java listDatabases/createDatabase/...) -----
    def list_databases(self) -> list[str]:
        return sorted(self._dbs)

    def database_exists(self, db: str) -> bool:
        return db in self._dbs

    def get_database(self, db: str) -> CatalogDatabase:
        if db not in self._dbs:
            raise CatalogException(f"database {db} does not exist in catalog {self.name}")
        return self._dbs[db]

    def create_database(
        self, db: str, database: CatalogDatabase | None = None, ignore_if_exists: bool = False
    ) -> None:
        if db in self._dbs:
            if ignore_if_exists:
                return
            raise CatalogException(f"database {db} already exists")
        self._dbs[db] = database or CatalogDatabase()

    def drop_database(self, db: str, ignore_if_not_exists: bool = False, cascade: bool = False) -> None:
        if db not in self._dbs:
            if ignore_if_not_exists:
                return
            raise CatalogException(f"database {db} does not exist")
        tables = [t for (d, t) in self._tables if d == db]
        if tables and not cascade:
            raise CatalogException(f"database {db} is not empty: {sorted(tables)}")
        for t in tables:
            del self._tables[(db, t)]
            self._partitions.pop((db, t), None)
            self._stats.pop((db, t), None)
        del self._dbs[db]

    def alter_database(self, db: str, new: CatalogDatabase) -> None:
        self.get_database(db)
        self._dbs[db] = new

    # -- tables / views (ref: Catalog.java createTable/getTable/renameTable) -
    def _check_db(self, db: str) -> None:
        if db not in self._dbs:
            raise CatalogException(f"database {db} does not exist in catalog {self.name}")

    def list_tables(self, db: str) -> list[str]:
        self._check_db(db)
        return sorted(t for (d, t) in self._tables if d == db)

    def list_views(self, db: str) -> list[str]:
        self._check_db(db)
        return sorted(t for (d, t), ct in self._tables.items() if d == db and ct.is_view)

    def table_exists(self, db: str, table: str) -> bool:
        return (db, table) in self._tables

    def get_table(self, db: str, table: str) -> CatalogTable:
        if (db, table) not in self._tables:
            raise CatalogException(f"table {db}.{table} does not exist in catalog {self.name}")
        return self._tables[(db, table)]

    def create_table(
        self, db: str, table: str, ct: CatalogTable, ignore_if_exists: bool = False
    ) -> None:
        self._check_db(db)
        if (db, table) in self._tables:
            if ignore_if_exists:
                return
            raise CatalogException(f"table {db}.{table} already exists")
        self._tables[(db, table)] = ct

    def drop_table(self, db: str, table: str, ignore_if_not_exists: bool = False) -> None:
        if (db, table) not in self._tables:
            if ignore_if_not_exists:
                return
            raise CatalogException(f"table {db}.{table} does not exist")
        del self._tables[(db, table)]
        self._partitions.pop((db, table), None)
        self._stats.pop((db, table), None)

    def rename_table(self, db: str, table: str, new_name: str) -> None:
        ct = self.get_table(db, table)
        if (db, new_name) in self._tables:
            raise CatalogException(f"table {db}.{new_name} already exists")
        del self._tables[(db, table)]
        self._tables[(db, new_name)] = ct
        if (db, table) in self._partitions:
            self._partitions[(db, new_name)] = self._partitions.pop((db, table))
        if (db, table) in self._stats:
            self._stats[(db, new_name)] = self._stats.pop((db, table))

    def alter_table(self, db: str, table: str, new: CatalogTable) -> None:
        self.get_table(db, table)
        self._tables[(db, table)] = new

    # -- partitions (ref: Catalog.java listPartitions/createPartition/...) --
    def list_partitions(
        self, db: str, table: str, partial: "CatalogPartitionSpec | None" = None
    ) -> list[CatalogPartitionSpec]:
        ct = self.get_table(db, table)
        if not ct.partition_keys:
            raise CatalogException(f"table {db}.{table} is not partitioned")
        parts = list(self._partitions.get((db, table), {}).values())
        if partial is not None:
            parts = [
                p
                for p in parts
                if all(p.spec.get(k) == v for k, v in partial.spec.items())
            ]
        return sorted(parts, key=lambda p: p.path_suffix())

    def partition_exists(self, db: str, table: str, spec: CatalogPartitionSpec) -> bool:
        return spec.path_suffix() in self._partitions.get((db, table), {})

    def create_partition(
        self, db: str, table: str, spec: CatalogPartitionSpec, ignore_if_exists: bool = False
    ) -> None:
        ct = self.get_table(db, table)
        if list(spec.spec) != ct.partition_keys:
            raise CatalogException(
                f"partition spec {spec.spec} does not match partition keys "
                f"{ct.partition_keys} of {db}.{table}"
            )
        known = self._partitions.setdefault((db, table), {})
        if spec.path_suffix() in known:
            if ignore_if_exists:
                return
            raise CatalogException(f"partition {spec.spec} already exists")
        known[spec.path_suffix()] = spec

    def drop_partition(
        self, db: str, table: str, spec: CatalogPartitionSpec, ignore_if_not_exists: bool = False
    ) -> None:
        known = self._partitions.get((db, table), {})
        if spec.path_suffix() not in known:
            if ignore_if_not_exists:
                return
            raise CatalogException(f"partition {spec.spec} does not exist")
        del known[spec.path_suffix()]

    def discover_partitions(self, db: str, table: str) -> list[CatalogPartitionSpec]:
        """Filesystem partition discovery (ref: the filesystem connector's
        hive-layout listing; Spark does the same at scan time).  Registers
        every ``col=value`` directory under the table path as a partition.
        Driver-side directory listing of *partition* dirs only — O(number of
        partitions), never O(files)."""
        ct = self.get_table(db, table)
        path = ct.options.get("path")
        if not path or not ct.partition_keys:
            raise CatalogException(f"table {db}.{table} has no path/partition keys")

        specs: list[CatalogPartitionSpec] = []

        def walk(prefix: str, keys: list[str], acc: dict[str, str]) -> None:
            if not keys:
                specs.append(CatalogPartitionSpec(dict(acc)))
                return
            key = keys[0]
            for entry in sorted(os.listdir(prefix)):
                if entry.startswith(f"{key}=") and os.path.isdir(os.path.join(prefix, entry)):
                    acc[key] = entry.split("=", 1)[1]
                    walk(os.path.join(prefix, entry), keys[1:], acc)
                    del acc[key]

        walk(path, ct.partition_keys, {})
        for s in specs:
            self.create_partition(db, table, s, ignore_if_exists=True)
        return self.list_partitions(db, table)

    # -- functions (ref: Catalog.java createFunction/getFunction) -----------
    def list_functions(self, db: str) -> list[str]:
        self._check_db(db)
        return sorted(f for (d, f) in self._functions if d == db)

    def function_exists(self, db: str, fn: str) -> bool:
        return (db, fn) in self._functions

    def get_function(self, db: str, fn: str) -> CatalogFunction:
        if (db, fn) not in self._functions:
            raise CatalogException(f"function {db}.{fn} does not exist")
        return self._functions[(db, fn)]

    def create_function(
        self, db: str, fn: str, func: CatalogFunction, ignore_if_exists: bool = False
    ) -> None:
        self._check_db(db)
        if (db, fn) in self._functions:
            if ignore_if_exists:
                return
            raise CatalogException(f"function {db}.{fn} already exists")
        self._functions[(db, fn)] = func

    def drop_function(self, db: str, fn: str, ignore_if_not_exists: bool = False) -> None:
        if (db, fn) not in self._functions:
            if ignore_if_not_exists:
                return
            raise CatalogException(f"function {db}.{fn} does not exist")
        del self._functions[(db, fn)]

    # -- statistics (ref: Catalog.java getTableStatistics / catalog/stats/) -
    def alter_table_statistics(self, db: str, table: str, stats: dict[str, int]) -> None:
        self.get_table(db, table)
        self._stats[(db, table)] = dict(stats)

    def get_table_statistics(self, db: str, table: str) -> dict[str, int]:
        self.get_table(db, table)
        return dict(self._stats.get((db, table), {}))
