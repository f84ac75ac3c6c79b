"""Deequ-style constraint engine (operators/quality.py): single-scan
scalar metrics, per-constraint semantics, failing rows, and the plan
shape (one aggregate pass for all scalar constraints)."""

import pytest
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.observe import job_group
from my_flink_1_10_2_spark.operators.quality import PPM, Check


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0, "X"),
            (2, "b", 20.0, "Y"),
            (3, None, 30.0, "X"),
            (4, "d", -5.0, "Z"),
            (4, "e", 40.0, "X"),  # duplicate id
        ],
        "id long, name string, score double, cat string",
    )


def _report(check):
    return {r.constraint: (r.metric_ppm, r.passed) for r in check.run().collect()}


def test_completeness_and_size(df):
    rep = _report(Check(df).has_size(5).is_complete("id").is_complete("name"))
    assert rep["size>=5"] == (5 * PPM, True)
    assert rep["complete(id)"] == (PPM, True)
    assert rep["complete(name)"] == ((4 * PPM) // 5, False)


def test_has_completeness_threshold(df):
    rep = _report(Check(df).has_completeness("name", 800_000))
    ((metric, passed),) = rep.values()
    assert metric == 800_000 and passed


def test_uniqueness_counts_all_rows_of_dup_groups(df):
    rep = _report(Check(df).is_unique("id").is_unique("id", "name"))
    assert rep["unique(id)"] == ((3 * PPM) // 5, False)  # both id=4 rows count
    assert rep["unique(id,name)"] == (PPM, True)


def test_min_max_and_contained(df):
    rep = _report(
        Check(df)
        .has_min("score", 0)
        .has_max("score", 40)
        .is_contained_in("cat", ["X", "Y"])
    )
    assert rep["min(score)>=0"] == (-5 * PPM, False)
    assert rep["max(score)<=40"] == (40 * PPM, True)
    assert rep["containedIn(cat)"] == ((4 * PPM) // 5, False)


def test_satisfies_ratio(df):
    rep = _report(
        Check(df).satisfies("score >= 10", "score_ge_10", min_ratio_ppm=800_000)
    )
    assert rep["score_ge_10"] == ((4 * PPM) // 5, True)


def test_referential_containment(spark, df):
    dim = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    rep = _report(Check(df).is_referenced_in("id", dim, "k", "dim"))
    # id=4 twice -> 2 orphan rows of 5
    assert rep["refIn(id->dim.k)"] == ((3 * PPM) // 5, False)


def test_scalar_metrics_are_one_aggregate_pass(spark, df):
    """The Deequ property: adding scalar constraints must NOT add data
    passes — 7 scalar constraints run the same number of Spark jobs as
    2 (AQE may split the one aggregation into a few stages, but the
    count cannot scale with the constraint count)."""
    def jobs_for(check, group):
        with job_group(spark, group) as record:
            check.run().collect()
        return record["jobs"]

    small = Check(df).has_size(1).is_complete("id")
    big = (
        Check(df)
        .has_size(1)
        .is_complete("id")
        .is_complete("name")
        .has_min("score", 0)
        .has_max("score", 100)
        .is_contained_in("cat", ["X", "Y", "Z"])
        .satisfies("score > 0", "pos")
    )
    assert jobs_for(big, "qual-big") == jobs_for(small, "qual-small")


def test_empty_table_reports_vacuous_truth(spark):
    empty = spark.createDataFrame([], "id long, name string")
    rep = _report(
        Check(empty).has_size(1).is_complete("name").is_unique("id")
    )
    assert rep["size>=1"] == (0, False)
    assert rep["complete(name)"] == (PPM, True)  # vacuously complete
    assert rep["unique(id)"] == (PPM, True)

def test_empty_table_contained_and_satisfies_do_not_crash(spark):
    """F.sum over zero rows is NULL — contained/satisfies must coalesce
    to 0 violations on an empty table, not crash int(None)."""
    empty = spark.createDataFrame([], "id long, cat string")
    rep = _report(
        Check(empty)
        .is_contained_in("cat", ["X", "Y"])
        .satisfies("id > 0", "pos")
    )
    assert rep["containedIn(cat)"] == (PPM, True)
    assert rep["pos"] == (PPM, True)
