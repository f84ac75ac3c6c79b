"""The pure-Python Avro fallback (no spark-avro jar on the classpath).

The native data source is probed once per application: after the first
Avro read or write, later ones go straight to the path the probe chose,
so a session without the jar never plans ``format("avro")`` again (each
failed plan costs an analysis and, once the session has used
``DataFrame.observe``, an ExecutionListenerBus error in the log).  The
fallback writer stores each timestamp's UTC instant whatever the host's
zone, which is what read_avro reads back."""

from __future__ import annotations

import datetime
import time

import pytest
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from my_flink_1_10_2_spark.sources import batch


def test_second_avro_call_makes_no_native_attempt(spark, tmp_path, monkeypatch):
    df = spark.createDataFrame([(1, "a"), (2, None)], "k long, s string")
    batch.write_avro(df, str(tmp_path / "first"))
    if batch._native_avro(spark):
        pytest.skip("spark-avro is on the classpath: every call is native")

    formats = []
    for cls in (DataFrameReader, DataFrameWriter):
        orig = cls.format

        def spy(self, source, _orig=orig):
            formats.append(source)
            return _orig(self, source)

        monkeypatch.setattr(cls, "format", spy)

    batch.write_avro(df, str(tmp_path / "second"))
    back = batch.read_avro(spark, str(tmp_path / "second"))
    assert sorted(back.collect()) == sorted(df.collect())
    assert "avro" not in formats


def test_real_native_error_is_not_mistaken_for_a_missing_jar():
    assert batch._is_missing_avro_datasource(
        Exception("[DATA_SOURCE_NOT_FOUND] Failed to find the data source: avro.")
    )
    assert not batch._is_missing_avro_datasource(
        Exception("Malformed records are detected in record parsing: avro")
    )


def test_fallback_writer_stores_utc_instants_in_any_host_zone(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        # what a worker in that zone gets for 2021-01-01T00:00Z
        local = datetime.datetime.fromtimestamp(1609459200)
        assert local.hour == 19
        got = batch._utc_instants({"ts": local, "a": [local], "s": {"t": local}, "n": 1})
        want = datetime.datetime(2021, 1, 1, tzinfo=datetime.timezone.utc)
        assert got == {"ts": want, "a": [want], "s": {"t": want}, "n": 1}
    finally:
        monkeypatch.undo()
        time.tzset()
