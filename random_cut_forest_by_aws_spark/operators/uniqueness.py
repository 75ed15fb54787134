"""Uniqueness constraint via a single count aggregate (north_rule b).

One ``groupBy(key).count()`` over the key columns only. Catalyst plans it
as partial aggregation per input task, ONE exchange of the partially-
aggregated ``(key, count)`` rows, and a final aggregation — which already
contains the skew insurance an explicit salt would buy: a hot key (e.g. a
null-ish sentinel doc_id repeated 10^9 times at 10^12-row scale) is
reduced to ONE row per map task before the shuffle, so the reducer for
that key sums at most ``n_tasks`` partial counts. The task id is the
implicit salt. Near-unique keys (the other extreme) make the partial maps
as large as the task input, but the buffer is a single 8-byte count — the
cheapest aggregate there is — and Tungsten's sort-based fallback keeps it
linear; what near-unique keys must NOT pay is a second full shuffle.

Through round 5 this module shipped an explicit two-phase salted
aggregate (``groupBy(key, partition_id % S)`` then re-aggregate by key).
That plan shuffles the ~|distinct keys| partial rows TWICE; an
interleaved round-6 A/B (4 rounds, same session, identical outputs)
measured the single-aggregate form consistently faster on both bench
shapes: 2 M near-unique doc_ids 0.66 → 0.38 s min (every round faster),
600 k-row lineitem/l_orderkey 0.44 → 0.27 s (guide §2.1: remove the
shuffle outright).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def uniqueness_violations(
    df: DataFrame,
    key_cols: Sequence[str],
    count_nulls: bool = False,
) -> DataFrame:
    """Rows ``(key..., dup_count)`` for every key appearing more than once.

    Null keys are a separate constraint (null-rate in stats); by default
    they are excluded here, matching SQL UNIQUE semantics.
    """
    # NOT spread via ensure_compute_parallelism (round-6 A/B): the
    # aggregate is a cheap key-only hash map — on a single-file input
    # the round-robin exchange costs more than the parallelism buys
    # (0.51 s vs 1.12 s at 600k rows). The spread guard is reserved for
    # operators with heavy per-row compute.
    keys = [F.col(k) for k in key_cols]
    scoped = df
    if not count_nulls:
        cond = None
        for k in key_cols:
            c = F.col(k).isNotNull()
            cond = c if cond is None else (cond & c)
        scoped = df.filter(cond)
    return (
        scoped.select(*keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_verdict(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One-row summary: number of violating keys and excess rows."""
    v = uniqueness_violations(df, key_cols)
    return v.agg(
        F.count(F.lit(1)).alias("violating_keys"),
        F.coalesce(F.sum(F.col("dup_count") - 1), F.lit(0)).alias("excess_rows"),
    ).withColumn("passed", F.col("violating_keys") == 0)
