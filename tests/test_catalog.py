"""catalog.read_table: the inferred parquet schema is remembered per
file version, so a repeated read plans without an inference job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from my_flink_1_10_2_spark.catalog import read_table
from my_flink_1_10_2_spark.observe import job_group
from tests.conftest import SF_DIR


def _read(spark, sf_dir, name):
    with job_group(spark, f"read {name}") as rec:
        df = read_table(spark, sf_dir, name)
    return df, rec["jobs"]


def test_second_read_runs_no_job_and_keeps_the_schema(spark, tmp_path):
    for name in ("nation", "events"):
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path)
        first, first_jobs = _read(spark, str(tmp_path), name)
        again, again_jobs = _read(spark, str(tmp_path), name)
        assert (first_jobs, again_jobs) == (1, 0)
        assert again.schema.json() == first.schema.json()
        assert sorted(map(repr, again.collect())) == sorted(map(repr, first.collect()))


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    first, _ = _read(spark, str(tmp_path), "region")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    again, jobs = _read(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey"]
    assert (again.columns, jobs) == (["r_regionkey", "r_name"], 1)
    assert [tuple(r) for r in again.orderBy("r_regionkey").collect()] == [(0, "A"), (1, "B")]
