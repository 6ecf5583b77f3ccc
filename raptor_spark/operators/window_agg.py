"""Sliding-window aggregation operators (SURVEY.md §2.4 A1–A10).

Two physical strategies for the same logical op — "aggregate ``value``
over the trailing ``over`` time span per key, evaluated at each event":

1. **exact** (A7): one range-window per key ordered by event time.
   Matches the reference LabSDK replay recipe
   (``/root/reference/labsdk/raptor/replay.py:129-146`` —
   ``groupby(keys).rolling(over)`` with pandas offset windows, which
   are left-open: interval **(t − over, t]**). We reproduce that with
   ``rangeBetween(-(over_µs − 1), 0)`` over ``unix_micros(ts)``.
   One shuffle (hash by keys) + in-partition sort; no join. Right at
   any scale where a single key's rows fit a partition.

2. **bucketed two-phase** (A8/J3/T1): tumbling partial aggregates per
   (keys, bucket=floor(ts/granularity)) — the reference's Redis window
   buckets (``redis/windows.go:229-265``) / SQL window CTE
   (``pkg/querybuilder/windowed.tmpl.sql:37-71``) — then a range window
   over **bucket indices** merges ``ceil(over/granularity)`` buckets.
   avg is always merged as sum/count, never avg-of-avgs
   (``redis/windows.go:208-215``). This is the 10¹²-row path: the
   map-side combine collapses the data to ~|keys|×|buckets| rows before
   the only shuffle; the merge window runs on the collapsed table.

The mergeable partials have ONE implementation here: ``_partial_aggs``
builds the ``_p_*`` partial set and ``_merged`` turns it into each fn's
double value. ``bucket_partials``, ``skew.salted_agg`` and
``streaming.windows.stream_bucket_partials`` all produce partials
through the first; ``merge_buckets`` (``.over`` the bucket window) and
``salted_agg`` (plain groupBy aggregate) both merge through the second,
so the online and offline paths merge identically.

Both return one row per input row (exact) or per (keys, bucket)
(bucketed), with a column per aggregation fn.

Equal-timestamp semantics: the range frame is VALUE-based — all rows
sharing (keys, ts) see each other's contributions. pandas rolling (the
LabSDK replay) is positional: the first duplicate sees only itself,
which depends on input row order and is therefore not reproducible in
a distributed engine. We pin the value-based (SQL-standard,
order-deterministic) semantics; the reference's production SQL path is
also value-based per bucket. Divergence documented like J1/J2
(asof.py).
"""

from __future__ import annotations

import warnings
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .laglead import latest_per_key
from .tsutil import micros

# per-event exact distinct beyond this window span gets a warning
# steering to the bucketed HLL path (24h)
_DISTINCT_GUARD_US = 24 * 3_600_000_000


def _agg_over(fn: str, value: Column, w) -> Column:
    if fn == "count":
        return F.count(value).over(w).cast("double")
    if fn == "sum":
        return F.sum(value).over(w).cast("double")
    if fn == "min":
        return F.min(value).over(w).cast("double")
    if fn == "max":
        return F.max(value).over(w).cast("double")
    if fn == "avg":
        # sum/count decomposition (merge-safe, redis/windows.go:208-215);
        # both sides cast to double BEFORE the division so the result is
        # a single deterministic double op (decimal inputs stay exact)
        return F.sum(value).over(w).cast("double") / F.count(value).over(w).cast(
            "double"
        )
    if fn == "distinct_count":
        return F.size(F.collect_set(value).over(w)).cast("double")
    if fn == "approx_distinct_count":
        # exact via collect_set in the per-event path (reference aliases
        # approx→exact locally, types/feature.py:73-74); the bucketed
        # path uses real HLL sketches.
        return F.size(F.collect_set(value).over(w)).cast("double")
    raise ValueError(f"unknown aggregation fn {fn}")


def sliding_agg_exact(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value: Column | str,
    over_us: int,
    fns: Sequence[str],
    prefix: str = "",
) -> DataFrame:
    """Per-event trailing-window aggregates, interval (t−over, t].

    Adds one ``{prefix}{fn}`` double column per fn. NULL ``value`` rows
    do not contribute (Spark aggregates skip nulls — matches the
    reference's dropna before aggregation, replay.py:110-111).
    """
    if over_us <= 0:
        # -(over_us - 1) would build rangeBetween(1, 0) — an EMPTY
        # frame yielding count=0/NULL everywhere with no error (a
        # mis-parsed duration would look like all-zero features)
        raise ValueError(f"sliding window needs over > 0, got {over_us} µs")
    if over_us > _DISTINCT_GUARD_US and any(
        f in ("distinct_count", "approx_distinct_count") for f in fns
    ):
        # per-event collect_set buffers every distinct value in the
        # trailing window PER ROW — fine for short windows, a memory
        # cliff on long ones. The bucketed path carries mergeable HLL
        # sketches instead.
        warnings.warn(
            f"exact distinct_count over a {over_us / 3_600_000_000:.0f}h "
            "window buffers per-row value sets; use sliding_agg_bucketed "
            "(HLL partials) for windows beyond 24h",
            stacklevel=2,
        )
    v = F.col(value) if isinstance(value, str) else value
    w = (
        W.partitionBy(*keys)
        .orderBy(micros(ts_col))
        .rangeBetween(-(over_us - 1), 0)
    )
    out = df
    for fn in fns:
        out = out.withColumn(prefix + fn, _agg_over(fn, v, w))
    return out


def _partial_aggs(df: DataFrame, v: Column, fns: Sequence[str]) -> list[Column]:
    """The mergeable partial set of ``v`` — {count,sum,min,max} (the
    reference's WindowResultMap, api/state.go:32-33) plus an HLL sketch
    for approx-distinct and the exact value set for distinct — as
    ``_p_*`` aggregate columns. Every producer of partials (batch
    buckets, salted groups, streaming buckets) builds them here.

    Partial sums stay in the INPUT type: DECIMAL stays exact and
    therefore addition-order-independent (the bit-exact oracle
    contract); the single cast to double happens in ``_merged``.
    Non-numeric values (distinct over strings) get cast→null partials.
    """
    from pyspark.sql.types import NumericType

    numeric = isinstance(df.select(v.alias("_v")).schema[0].dataType, NumericType)
    pv = v if numeric else v.cast("double")
    aggs = [
        F.count(v).alias("_p_count"),
        F.sum(pv).alias("_p_sum"),
        F.min(pv).alias("_p_min"),
        F.max(pv).alias("_p_max"),
    ]
    if "approx_distinct_count" in fns:
        aggs.append(F.hll_sketch_agg(v.cast("string")).alias("_p_hll"))
    if "distinct_count" in fns:
        aggs.append(F.collect_set(v).alias("_p_set"))
    return aggs


def _merged(fn: str, w=None) -> Column:
    """Merge of ``_partial_aggs`` columns into the double value of
    ``fn`` — a window aggregate ``.over(w)`` for the sliding bucket
    merge, a plain aggregate for a groupBy (``w=None``). avg is always
    sum/count, never avg-of-avgs (redis/windows.go:208-215), both sides
    cast to double BEFORE the division so the result is one
    deterministic double op matching ``CAST(sum(x) AS DOUBLE) /
    count(x)``."""

    def agg(c: Column) -> Column:
        return c if w is None else c.over(w)

    if fn == "count":
        return agg(F.sum("_p_count")).cast("double")
    if fn == "sum":
        return agg(F.sum("_p_sum")).cast("double")
    if fn == "min":
        return agg(F.min("_p_min")).cast("double")
    if fn == "max":
        return agg(F.max("_p_max")).cast("double")
    if fn == "avg":
        return agg(F.sum("_p_sum")).cast("double") / agg(
            F.sum("_p_count")
        ).cast("double")
    if fn == "distinct_count":
        return F.size(
            F.array_distinct(F.flatten(agg(F.collect_list("_p_set"))))
        ).cast("double")
    if fn == "approx_distinct_count":
        return F.hll_sketch_estimate(agg(F.hll_union_agg("_p_hll"))).cast("double")
    raise ValueError(f"unknown aggregation fn {fn}")


def bucket_partials(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value: Column | str,
    granularity_us: int,
    fns: Sequence[str],
) -> DataFrame:
    """Phase 1: tumbling partial aggregates per (keys, bucket).

    Bucket = floor(unix_micros(ts)/granularity) — the reference's
    bucket index (api/windows.go:96-108; we keep the numeric index,
    not base-34 names). Emits the ``_partial_aggs`` set for ``fns``.
    This is a map-side-combinable groupBy → the ONLY shuffle moves
    pre-aggregated rows.
    """
    v = F.col(value) if isinstance(value, str) else value
    bucket = F.floor(micros(ts_col) / F.lit(granularity_us)).alias(
        "bucket"
    )
    return df.groupBy(*[F.col(k) for k in keys], bucket).agg(
        *_partial_aggs(df, v, fns)
    )


def merge_buckets(
    partials: DataFrame,
    keys: Sequence[str],
    over_us: int,
    granularity_us: int,
    fns: Sequence[str],
    prefix: str = "",
) -> DataFrame:
    """Phase 2: sliding merge of the trailing ``n_buckets`` partials.

    Range window over the bucket index — covers buckets
    [b − n_buckets + 1, b], the reference's alive-bucket set
    (api/windows.go:116-125). Reads the layout of ``bucket_partials``
    and ``streaming.windows.stream_bucket_partials`` alike. Emits one
    row per (keys, bucket) with a ``ts`` column at the bucket end —
    what the windowed value is *valid at* (windowed.tmpl.sql:72-81
    uses WIN_END for VALID_TILL chaining).
    """
    n_buckets = -(-over_us // granularity_us)
    w = (
        W.partitionBy(*keys)
        .orderBy(F.col("bucket"))
        .rangeBetween(-(n_buckets - 1), 0)
    )
    out = partials
    for fn in fns:
        out = out.withColumn(prefix + fn, _merged(fn, w))
    edge = (F.col("bucket") + 1) * F.lit(granularity_us)
    out = out.withColumn("ts", F.timestamp_micros(edge.cast("long")))
    return out.drop("_p_count", "_p_sum", "_p_min", "_p_max", "_p_set", "_p_hll")


def dedup_bucket_writes(
    fv: DataFrame,
    keys: Sequence[str] = ("fqn", "keys", "bucket"),
    order_col: str | None = None,
) -> DataFrame:
    """Prefer-final dedup of re-written window buckets: when the same
    (fqn, keys, bucket) was flushed both alive and dead, keep the dead
    (final) row — the batch equivalent of the reference's cleanup
    MERGE (``snowflake/create.go:36-60``: WHEN MATCHED AND
    target.bucket_active AND NOT source.bucket_active THEN DELETE).
    Expects a ``bucket_active`` boolean column (NULL sorts LAST — an
    unflagged row never beats a final one).

    Determinism among SAME-flag duplicates (a bucket re-flushed alive
    in several micro-batches): pass ``order_col`` (e.g. a flush ts /
    batch id) — the HIGHEST wins; without one, ties break on a content
    hash, so the winner is stable across runs/partitionings (the
    repo-wide exact-parity contract) even if arbitrary."""
    order = [F.col("bucket_active").asc_nulls_last()]
    if order_col is not None:
        order.append(F.col(order_col).desc_nulls_last())
    else:
        order.append(F.xxhash64(*[F.col(c) for c in fv.columns]).asc())
    return latest_per_key(fv, keys, *order)


def sliding_agg_bucketed(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value: Column | str,
    over_us: int,
    granularity_us: int,
    fns: Sequence[str],
    prefix: str = "",
) -> DataFrame:
    """Two-phase sliding aggregate: partials → merge. One row per
    (keys, bucket) with ts = bucket end."""
    p = bucket_partials(df, keys, ts_col, value, granularity_us, fns)
    return merge_buckets(p, keys, over_us, granularity_us, fns, prefix)
