"""Row/progress metrics via the Observation API (SURVEY §2.5 counters)."""

from pyspark.sql import functions as F

from etl_ender_turing_spark.operators.observe import (
    log_metrics, observed_metrics, with_row_metrics,
)


def test_observation_counts_rows_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id int, name string")
    observed, obs = with_row_metrics(df, "load_test", null_check_cols=["name"])
    assert observed.count() == 3          # the action that feeds the metrics
    got = log_metrics(obs, "load_test")
    assert got["n_rows"] == 3
    assert got["n_null_name"] == 2


def test_observed_metrics_of_a_provably_empty_input(spark):
    """Adaptive execution drops the observed node with the empty stage it
    sits in; the metrics then read as no metrics, not as an error."""
    df = spark.createDataFrame([(1, "a")], "id int, name string")
    observed, obs = with_row_metrics(df.filter(F.lit(False)), "empty_test")
    assert observed.groupBy("id").count().collect() == []
    assert observed_metrics(obs).get("n_rows", 0) == 0
