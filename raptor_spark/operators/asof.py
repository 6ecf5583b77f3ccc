"""Point-in-time (as-of) join — the engine's flagship operator
(SURVEY.md §2.3 J1/J2/J4).

Logical semantics (production SQL of the reference,
``/root/reference/pkg/querybuilder/featureset.tmpl.sql:104-122``): for
each spine row (keys, ts) and each feature, take the feature value with
the **latest feature-ts ≤ spine-ts** that also satisfies
``feature-ts ≥ spine-ts − staleness``. Strictly backward-looking ⇒ zero
temporal leakage. (The LabSDK's local ``merge_asof(direction='nearest')``
— ``replay.py:358-364`` — can read ≤-tolerance *future* values; we
deliberately implement the leak-free production semantics and pin the
discrepancy in tests.)

Physical strategy — **union-merge**, not a range join: tag spine rows
and feature rows, union them, and per key take
``last(value, ignorenulls=True)`` over a window ordered by
(ts, is_spine) up to the current row. Spark executes this as ONE hash
shuffle on keys + one in-partition sort, regardless of how many feature
columns ride along — a naive range join is O(spine × history) and
explodes. All features sharing the key column join in a single pass:
each contributes a value column that is NULL on spine rows and on other
features' rows.

Skew: conversations are Zipf-hot; salting a hot key's *feature* rows
is impossible for as-of (needs full per-key order), so the skew lever
here is AQE + hashing on the key only; within a single key the sort is
O(n log n) in one task. Batch historical cannot shrink a hot key's
history first: its windows are exact per event and the spine carries
every row anyway. On a Zipf input with a 50k-turn conversation the
exact plans beat a bucketed pre-aggregation (BENCH/BASELINE.md, "Zipf
backfill: exact vs bucketed"); bucket partials
(``window_agg.sliding_agg_bucketed``) serve the streaming and online
paths, whose windows end on bucket boundaries.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .tsutil import micros


def asof_join(
    spine: DataFrame,
    feature_values: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    value_cols: Optional[Sequence[str]] = None,
    staleness_us: Optional[dict[str, int] | int] = None,
    feature_order_col: Optional[str] = None,
) -> DataFrame:
    """As-of join ``feature_values``'s value columns onto ``spine``.

    feature_values: columns = keys + [ts_col] + value_cols.
    staleness_us: per-value-column dict (or one int for all); a joined
    value is nulled when its source ts < spine ts − staleness. 0/None ⇒
    no cutoff (staleness check W4, replay.py:263-264).
    feature_order_col: optional FEATURE-side column ordering same-ts
    feature rows (e.g. an event/sequence id) — ``last()`` then
    deterministically resolves duplicate (keys, ts) feature rows to
    the highest value of this column. Without it, which duplicate wins
    is partition-order-dependent; at 10^12 rows same-µs collisions are
    certain, so pass it whenever the stream can collide.

    Same-ts semantics: a feature row AT the spine ts IS visible
    (ts ≤ spine ts), matching the reference's ``<=``.
    """
    if value_cols is None:
        value_cols = [
            c for c in feature_values.columns if c not in (*keys, ts_col)
        ]
    if isinstance(staleness_us, int) or staleness_us is None:
        staleness_us = {c: staleness_us or 0 for c in value_cols}

    spine_cols = spine.columns
    # tag: feature rows sort BEFORE spine rows at equal ts so same-ts
    # values are visible to the spine row.
    f_tagged = feature_values.select(
        *[F.col(k) for k in keys],
        F.col(ts_col),
        F.lit(0).alias("_is_spine"),
        *(
            [F.col(feature_order_col).cast("long").alias("_ford")]
            if feature_order_col
            else []
        ),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
        *[
            F.when(F.col(c).isNotNull(), micros(ts_col))
            .alias(f"_vts_{c}")
            for c in value_cols
        ],
    )
    s_tagged = spine.select(
        "*",
        F.lit(1).alias("_is_spine"),
        *([F.lit(None).cast("long").alias("_ford")] if feature_order_col else []),
        *[F.lit(None).cast(f_tagged.schema[f"_v_{c}"].dataType).alias(f"_v_{c}") for c in value_cols],
        *[F.lit(None).cast("long").alias(f"_vts_{c}") for c in value_cols],
    )
    unioned = s_tagged.unionByName(f_tagged, allowMissingColumns=True)

    order = [F.col(ts_col).asc(), F.col("_is_spine").asc()]
    if feature_order_col:
        # same-(keys, ts) feature rows resolve to the HIGHEST order
        # value; nulls (spine rows) sort last within their _is_spine
        # group, which is irrelevant since spine rows carry no values.
        order.append(F.col("_ford").asc_nulls_last())
    w = (
        W.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )

    out = unioned
    for c in value_cols:
        filled = F.last(F.col(f"_v_{c}"), ignorenulls=True).over(w)
        filled_ts = F.last(F.col(f"_vts_{c}"), ignorenulls=True).over(w)
        st = staleness_us.get(c, 0)
        if st and st > 0:
            valid = filled_ts >= micros(ts_col) - F.lit(st)
            filled = F.when(valid, filled)
        out = out.withColumn(c, filled)
    return out.filter(F.col("_is_spine") == 1).select(*spine_cols, *value_cols)
