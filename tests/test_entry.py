from __future__ import annotations

import __spark_entry__ as E


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "bucket_ts", "cnt", "vmin", "vmax", "vmean", "p95"}


def test_query_registry_consistent(spark):
    qs = E.queries()
    os_ = E.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


def test_each_query_runs_smoke(spark, sf_dir):
    for name, fn in E.queries().items():
        df = fn(spark, sf_dir)
        assert df.limit(1).count() >= 0, name
