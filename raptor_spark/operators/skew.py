"""Skew handling — salted two-level aggregation (SURVEY.md §4 "skew").

The reference has no skew story (Redis shards implicitly); the north
rule requires explicit handling for Zipf-hot conversations. One lever,
**salted_agg**: for per-key *aggregations*, add salt =
pmod(xxhash64(ts-derived), n) so one hot key's rows spread over n
reducers; phase-1 partials per (key, salt); phase-2 merge per key.
The partials and their merge are the bucketed window path's own
(``window_agg._partial_aggs`` / ``window_agg._merged``), merged as a
plain aggregate instead of over the bucket window.

NOTE: Spark's hash aggregate already does map-side partials, so
salting only pays off when a single *reduce* group is hotter than a
task (≫ tens of millions of rows per key) — exactly the 50k-turn Zipf
conversations of the north rule combined with per-bucket grouping.

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

from .window_agg import _merged, _partial_aggs


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    fns: Sequence[str],
    n_salts: int = 32,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-level aggregate of ``value`` per key: salt → partials →
    final merge. ``fns`` ⊆ {count,sum,min,max,avg,distinct_count,
    approx_distinct_count}; each lands in a double column named after it.
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
    partials = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*_partial_aggs(df, v, fns))
    )
    return partials.groupBy(*keys).agg(*[_merged(fn).alias(fn) for fn in fns])
