"""batched_group_apply parity with groupBy().applyInPandas.

The carry logic (a group spanning consecutive Arrow batches of one
partition) is the part that can silently diverge, so these tests force
``spark.sql.execution.arrow.maxRecordsPerBatch`` down to 7 rows —
every multi-row group straddles batch boundaries — and assert row-set
equality with the plain grouped apply.
"""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from spartan2_spark.operators.grouped import batched_group_apply


@pytest.fixture()
def tiny_batches(spark):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    yield spark
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_parity_groups_straddle_batches(tiny_batches):
    spark = tiny_batches
    # group sizes 1..40 so many groups are far larger than the 7-row
    # Arrow batch and must be reassembled from carries
    rows = [(g, i, (g * 31 + i * 7) % 101) for g in range(25) for i in range(g + 1)]
    df = spark.createDataFrame(rows, "g long, i long, v long").repartition(5)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i", kind="mergesort")
        return pd.DataFrame(
            {
                "g": [int(pdf["g"].iloc[0])],
                "n": [len(pdf)],
                "vsum": [int(pdf["v"].sum())],
                "vfirst": [int(pdf["v"].iloc[0])],
            }
        )

    schema = "g long, n long, vsum long, vfirst long"
    want = _rowset(df.groupBy("g").applyInPandas(kernel, schema))
    got = _rowset(batched_group_apply(df, ["g"], kernel, schema, order=("i",)))
    assert got == want
    # every group must appear exactly once (carry flushed once)
    assert len(got) == 25


def test_parity_multi_key_and_expanding_kernel(tiny_batches):
    spark = tiny_batches
    rows = [
        (g % 4, f"k{g}", i) for g in range(12) for i in range((g % 5) + 3)
    ]
    df = spark.createDataFrame(rows, "a long, b string, i long")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i", kind="mergesort").reset_index(drop=True)
        return pd.DataFrame(
            {
                "a": pdf["a"],
                "b": pdf["b"],
                "rank_in_group": range(len(pdf)),
                "i": pdf["i"],
            }
        )

    schema = "a long, b string, rank_in_group long, i long"
    want = _rowset(df.groupBy("a", "b").applyInPandas(kernel, schema))
    got = _rowset(batched_group_apply(df, ["a", "b"], kernel, schema, order=("i",)))
    assert got == want


def test_empty_input_and_empty_kernel_output(tiny_batches):
    spark = tiny_batches
    df = spark.createDataFrame([(1, 2)], "g long, v long").filter(F.col("g") > 5)

    def kernel(pdf):
        return pd.DataFrame({"g": [], "n": []})

    assert batched_group_apply(df, ["g"], kernel, "g long, n long").count() == 0

    df2 = spark.createDataFrame([(1, 2), (2, 3)], "g long, v long")
    # kernel drops odd groups entirely -> empty frames must not emit
    def kernel2(pdf):
        if int(pdf["g"].iloc[0]) % 2:
            return pd.DataFrame({"g": pd.Series([], dtype="int64"), "n": pd.Series([], dtype="int64")})
        return pd.DataFrame({"g": [int(pdf["g"].iloc[0])], "n": [len(pdf)]})

    got = _rowset(batched_group_apply(df2, ["g"], kernel2, "g long, n long"))
    assert got == [(2, 1)]


def test_whole_batch_parity(tiny_batches):
    spark = tiny_batches
    rows = [(g, i, (g * 13 + i * 3) % 17) for g in range(20) for i in range(g + 1)]
    df = spark.createDataFrame(rows, "g long, i long, v long")

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i", kind="mergesort")
        return pd.DataFrame(
            {"g": [int(pdf["g"].iloc[0])], "vsum": [int(pdf["v"].sum())]}
        )

    import numpy as np

    def whole(pdf: pd.DataFrame) -> pd.DataFrame:
        kv = pdf["g"].to_numpy()
        vv = pdf["v"].to_numpy()
        change = np.flatnonzero(kv[1:] != kv[:-1]) + 1
        bounds = np.concatenate(([0], change, [len(kv)]))
        return pd.DataFrame(
            {
                "g": [int(kv[a]) for a in bounds[:-1]],
                "vsum": [
                    int(vv[a:b].sum()) for a, b in zip(bounds[:-1], bounds[1:])
                ],
            }
        )

    schema = "g long, vsum long"
    want = _rowset(df.groupBy("g").applyInPandas(per_group, schema))
    got = _rowset(
        batched_group_apply(
            df, ["g"], whole, schema, order=("i",), whole_batch=True
        )
    )
    assert got == want and len(got) == 20


def test_null_key_group_parity(tiny_batches):
    """Null keys form ONE group, matching groupBy().applyInPandas —
    not silently dropped (pandas dropna) nor singleton-flushed."""
    spark = tiny_batches
    rows = [(None if i % 3 == 0 else f"k{i % 4}", i) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, i long").repartition(3)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["g"].iloc[0]
        return pd.DataFrame(
            {
                "g": [None if pd.isna(key) else key],
                "n": [len(pdf)],
                "isum": [int(pdf["i"].sum())],
            }
        )

    schema = "g string, n long, isum long"

    def rowset(res):
        return sorted((tuple(r) for r in res.collect()),
                      key=lambda t: (t[0] is None, t))

    want = rowset(df.groupBy("g").applyInPandas(kernel, schema))
    got = rowset(batched_group_apply(df, ["g"], kernel, schema, order=("i",)))
    assert got == want
    # the null-key group exists and is a single row
    assert sum(1 for r in got if r[0] is None) == 1
