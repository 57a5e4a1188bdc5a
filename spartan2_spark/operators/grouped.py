"""Partition-batched grouped-apply: the many-small-groups fast path.

``df.groupBy(k).applyInPandas(kernel, schema)`` pays a fixed per-GROUP
cost — one Arrow slice, one Python invocation, one result frame per
group. With millions of tiny series (one url's tier points are often a
few dozen rows; the events table has thousands of short user series)
that fixed cost dominates the kernel arithmetic by 10-100x: profiling
the subspace scorer at sf0.1 showed ~2 ms/group of Spark overhead
against 0.08 ms/group of numpy work.

``batched_group_apply`` keeps the SAME per-group kernel contract but
amortizes the overhead: hash-repartition on the key, secondary-sort
each partition by (key, order), stream the partition through
``mapInPandas``, and cut groups with a pandas groupby INSIDE each Arrow
batch — per-call cost is paid per ~10k-row Arrow batch, not per group.
This is the layout a 1000-executor job wants too: one shuffle on the
group key (identical to what groupBy().applyInPandas performs), then
strictly sequential batch streaming with no per-group round trips.

A group may span consecutive Arrow batches of the same partition
(``spark.sql.execution.arrow.maxRecordsPerBatch`` boundaries, default
10k rows), so the trailing group of every batch is held back and
re-prefixed to the next batch, flushing only when a new key appears or
the partition ends — the kernel always sees the COMPLETE group exactly
once (parity with groupBy().applyInPandas is asserted in
tests/test_grouped.py with maxRecordsPerBatch forced tiny so groups
straddle batch boundaries).

Null keys group together (parity with groupBy().applyInPandas, which
emits a null-key group): the carry comparison treats NaN == NaN and
the in-batch groupby runs with dropna=False.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

__all__ = ["batched_group_apply"]


def batched_group_apply(
    df: DataFrame,
    keys: Sequence[str],
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
    order: Sequence[str] = (),
    whole_batch: bool = False,
) -> DataFrame:
    """groupBy(*keys).applyInPandas(kernel, schema), amortized.

    ``kernel`` receives one complete group as a pandas DataFrame (all
    input columns, like applyInPandas) and returns a DataFrame matching
    ``schema``. ``order`` adds a secondary sort within each partition —
    the kernel still re-sorts if it needs a guaranteed order (arriving
    pre-sorted makes that re-sort a cheap no-op mergesort pass).
    Output row order across groups is nondeterministic, exactly like
    applyInPandas.

    ``whole_batch=True`` hands the kernel a frame holding MANY complete
    groups (sorted by keys+order, every group whole) and the kernel
    cuts groups itself — the fully-vectorized path for sub-millisecond
    per-group kernels, where even one pandas ``sort_values``/DataFrame
    construction per group dominates (profiled: a 2-column lexsort with
    a string tie column costs ~1 ms/group; numpy work 0.08 ms).
    """
    keys = list(keys)
    order = [c for c in order if c]
    srt = df.repartition(*keys).sortWithinPartitions(*keys, *order)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
            if not len(pdf):
                continue
            # Rows of the batch's final key form a contiguous suffix
            # (partition is sorted by keys): hold that suffix back in
            # case the group continues in the next Arrow batch.
            tail = np.ones(len(pdf), dtype=bool)
            for k in keys:
                col = pdf[k].to_numpy()
                eq = col == col[-1]
                if pd.isna(col[-1]):
                    # NaN != NaN; a null batch-final key must still
                    # match the null rows of its own group suffix.
                    eq = pd.isna(pdf[k]).to_numpy()
                tail &= eq
            not_tail = np.flatnonzero(~tail)
            split = int(not_tail[-1]) + 1 if len(not_tail) else 0
            head = pdf.iloc[:split]
            carry = pdf.iloc[split:].reset_index(drop=True)
            if len(head):
                if whole_batch:
                    out = kernel(head.reset_index(drop=True))
                    if len(out):
                        yield out
                else:
                    outs = [
                        out
                        for _, g in head.groupby(keys, sort=False, dropna=False)
                        for out in (kernel(g.reset_index(drop=True)),)
                        if len(out)
                    ]
                    if outs:
                        yield pd.concat(outs, ignore_index=True)
        if carry is not None and len(carry):
            out = kernel(carry)
            if len(out):
                yield out

    return srt.mapInPandas(_run, schema)
