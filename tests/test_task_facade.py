"""Task facade + PipeLine surface tests (reference _task.py semantics)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spartan2_spark.task import ADPolicy, AnomalyDetection, PipeLine, Task


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_task_create_run_holoscope(spark, sf_dir):
    ev = _events(spark, sf_dir)
    task = AnomalyDetection.create(ev, ADPolicy.HoloScope, "holoscope")
    out = task.run()
    rows = out.collect()
    assert {"s_kl", "s_burst", "rrf"} <= set(out.columns)
    assert len(rows) == 5  # one row per event_type


def test_task_unknown_policy_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="Not Supported"):
        Task.create(_events(spark, sf_dir), "nope", "x")


def test_list_models():
    assert "HoloScope" in Task.list_models(ADPolicy)


def test_pipeline_chains_stages(spark, sf_dir):
    ev = _events(spark, sf_dir)
    pipe = PipeLine(
        ev,
        [
            lambda df: df.filter(F.col("value") > 10),
            (ADPolicy.IAT, {"model_name": "iat", "key_col": "user_id"}),
        ],
    )
    out = pipe.run()
    assert set(out.columns) == {"key", "cnt"}
    assert out.count() >= 0


def test_forecast_task_registered(spark):
    """The reference's ForePolicy enum is empty (forecast.py:38-41);
    the engine's facade dispatches real forecasters through it."""
    from spartan2_spark.task import Forecast, ForePolicy, Task

    df = spark.createDataFrame(
        [("k", i, 128) for i in range(8)], "key string, ts long, v long"
    )
    out = Task.create(df, ForePolicy.SES, "my_ses", depth=4, horizon=2).run()
    rows = out.collect()
    assert {r["h"] for r in rows} == {1, 2}
    assert Task.list_models(ForePolicy) == ["SES", "HoltWinters"]
    assert issubclass(Forecast, Task)
