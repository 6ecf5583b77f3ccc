"""Skew handling — salted two-level aggregation (SURVEY.md §4 "skew").

The reference has no skew story (Redis shards implicitly); the north
rule requires explicit handling for Zipf-hot conversations. Two levers:

1. **salted_agg**: for per-key *aggregations*, add salt =
   pmod(xxhash64(ts-derived), n) so one hot key's rows spread over n
   reducers; phase-1 partials per (key, salt); phase-2 merge per key.
   Only mergeable partials (count/sum/min/max + HLL) flow through —
   identical decomposition to the bucketed window path.
   NOTE: Spark's hash aggregate already does map-side partials, so
   salting only pays off when a single *reduce* group is hotter than a
   task (≫ tens of millions of rows per key) — exactly the 50k-turn
   Zipf conversations of the north rule combined with per-bucket
   grouping.

2. **hot key detection**: a map-side-combined exact count picks keys above a
   row-count threshold (drives a broadcast list for plan-time routing).

Window-based ops (as-of, sliding window) need full per-key order and
cannot be salted: in batch historical a hot conversation's rows stay in
one task and sort once, since exact per-event windows and the spine
need every row. Bucket partials (``window_agg.sliding_agg_bucketed``)
bound per-key state on the streaming and online paths.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def detect_hot_keys(
    df: DataFrame, keys: Sequence[str], threshold: int
) -> DataFrame:
    """Keys whose row count exceeds ``threshold``. The count is an
    EXACT groupBy count — itself map-side combined, so one shuffle of
    pre-aggregated (key, n) rows; no approximate pass needed. Returns
    a small DataFrame to broadcast."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > threshold)
        .select(*keys)
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    fns: Sequence[str],
    n_salts: int = 32,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-level aggregate of ``value`` per key: salt → partials →
    final merge. ``fns`` ⊆ {count,sum,min,max,avg,approx_distinct_count}
    (exact distinct is not salt-mergeable without sets; use HLL).
    ``salt_source``: a column to derive the salt from; defaults to a
    hash of ALL input columns. Either way the salt is a pure function
    of row DATA, never of physical placement (spark_partition_id /
    monotonically_increasing_id vary run-to-run and made the partial
    grouping — hence double-addition order — nondeterministic).

    Determinism contract: partial sums stay in the INPUT type. Pass a
    DECIMAL/integral value for bit-exact results (decimal addition is
    order-independent; doubles are not). The cast to double happens
    once, in the final merge, so the result is a pure function of the
    data regardless of partitioning.
    """
    v = F.col(value) if isinstance(value, str) else value
    salt_of = (
        F.xxhash64(F.col(salt_source))
        if salt_source
        else F.xxhash64(*[F.col(c) for c in df.columns])
    )
    salt = F.pmod(salt_of, F.lit(n_salts))
    need_hll = "approx_distinct_count" in fns
    partial_aggs = [
        F.count(v).alias("_p_count"),
        F.sum(v).alias("_p_sum"),
        F.min(v).alias("_p_min"),
        F.max(v).alias("_p_max"),
    ]
    if need_hll:
        partial_aggs.append(F.hll_sketch_agg(v.cast("string")).alias("_p_hll"))
    partials = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*partial_aggs)

    final_aggs = []
    for fn in fns:
        if fn == "count":
            final_aggs.append(F.sum("_p_count").cast("double").alias("count"))
        elif fn == "sum":
            final_aggs.append(F.sum("_p_sum").cast("double").alias("sum"))
        elif fn == "min":
            final_aggs.append(F.min("_p_min").cast("double").alias("min"))
        elif fn == "max":
            final_aggs.append(F.max("_p_max").cast("double").alias("max"))
        elif fn == "avg":
            # cast the exact sum to double BEFORE dividing so the result
            # matches ANSI-SQL `CAST(sum(x) AS DOUBLE) / count(x)` bit-for-bit
            # (decimal division would round differently pre-cast).
            final_aggs.append(
                (F.sum("_p_sum").cast("double") / F.sum("_p_count")).alias("avg")
            )
        elif fn == "approx_distinct_count":
            final_aggs.append(
                F.hll_sketch_estimate(F.hll_union_agg("_p_hll"))
                .cast("double")
                .alias("approx_distinct_count")
            )
        else:
            raise ValueError(f"fn {fn} is not salt-mergeable")
    return partials.groupBy(*keys).agg(*final_aggs)
