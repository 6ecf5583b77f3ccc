"""Replay: compile a FeatureSpec over a source DataFrame into
feature-value rows — the Spark rebuild of
``/root/reference/labsdk/raptor/replay.py:78-152``.

Stages (reference recipe → Spark):
- normalize ts / keys (replay.py:106-108)     → casts
- per-row program (replay.py:110, 276-300)    → Column expr (codegen) or
                                                 vectorized pandas_udf
- None-return filter (replay.py:110-111)      → value.isNotNull()
- key encoding ';'.join (replay.py:114)       → concat_ws(';')
- long format (replay.py:117-127)             → select(lit(fqn), ...)
- windowed: rolling per key (replay.py:129-146) → sliding_agg_exact,
  melt to fqn=name+fn rows (replay.py:148-149) → stack

Output layout (the canonical feature-values relation,
``parquet/schema.go:25-51``): ``fqn:string, keys:string,
ts:timestamp, value:double|string``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..specs import FeatureSpec
from ..operators.window_agg import sliding_agg_exact
from .validate import check_value_type


def _eval_expr(df: DataFrame, expr) -> Column:
    if isinstance(expr, str):
        return F.expr(expr)
    return expr(df)


def encode_keys(df: DataFrame, keys) -> Column:
    """Keys.encode — ';'.join of key values as strings
    (types/feature.py:259-266)."""
    return F.concat_ws(";", *[F.col(k).cast("string") for k in keys])


def project_feature(source: DataFrame, spec: FeatureSpec) -> DataFrame:
    """Per-row projection stage: (keys, ts, value) rows, null values
    dropped. Keys stay as native columns (encoded later / by caller) —
    keeping them typed lets downstream ops partition on the raw key."""
    df = source
    if spec.filter:
        df = df.filter(F.expr(spec.filter))
    ts = (
        _eval_expr(df, spec.ts_expr)
        if spec.ts_expr is not None
        else F.col(spec.timestamp_col)
    ).cast("timestamp")
    value = _eval_expr(df, spec.expr)
    # P6 keys override (3-tuple return, runtime/svc.py:132-142): a
    # keys_expr re-keys the emitted row (e.g. attribute a turn's value
    # to another entity). Single expr → the only key column; a
    # sequence of exprs → one per key column (composite re-keying).
    if spec.keys_expr is not None:
        exprs = (
            list(spec.keys_expr)
            if isinstance(spec.keys_expr, (list, tuple))
            else [spec.keys_expr]
        )
        if len(exprs) != len(spec.keys):
            raise ValueError(
                f"keys_expr provides {len(exprs)} expr(s) for "
                f"{len(spec.keys)} key column(s) {spec.keys}"
            )
        key_cols = [
            _eval_expr(df, e).cast("string").alias(k)
            for e, k in zip(exprs, spec.keys)
        ]
    else:
        key_cols = [F.col(k) for k in spec.keys]
    out = df.select(
        *key_cols,
        ts.alias("ts"),
        value.alias("value"),
    )
    return out.filter(F.col("value").isNotNull())


def replay(source: DataFrame, spec: FeatureSpec) -> DataFrame:
    """FeatureSpec → long feature-values DataFrame (fqn, keys, ts,
    value): the melt of ``replay_wide`` with the keys ';'-encoded. A
    plain feature gives one row per value (fqn = the feature's, value
    of the expr's native type); a windowed one gives one row per
    aggregate fn (fqn ``name+fn``, value double, replay.py:148-149)."""
    wide = replay_wide(source, spec)
    keys = encode_keys(wide, spec.keys).alias("keys")
    if spec.aggr is None:
        return wide.select(
            F.lit(spec.fqn).alias("fqn"), keys, "ts",
            F.col(spec.name).alias("value"),
        )
    fns = spec.aggr.fns
    stack_args = ", ".join(f"'{spec.fqn}+{fn}', `{spec.name}_{fn}`" for fn in fns)
    return wide.select(
        keys, "ts", F.expr(f"stack({len(fns)}, {stack_args}) as (fqn, value)")
    ).select("fqn", "keys", "ts", "value")


def replay_wide(source: DataFrame, spec: FeatureSpec) -> DataFrame:
    """FeatureSpec → wide feature-values DataFrame: native key columns,
    ts and one column per output — ``name`` for a plain feature,
    ``name_fn`` per aggregate for a windowed one, each the exact
    per-event sliding window ending at that row (LabSDK replay parity,
    replay.py:129-146). The layout get_historical consumes."""
    proj = project_feature(source, spec)
    if spec.aggr is None:
        return proj.withColumnRenamed("value", spec.name)
    check_value_type(spec, proj.schema["value"].dataType)
    a = spec.aggr
    agged = sliding_agg_exact(
        proj, spec.keys, "ts", F.col("value"), a.over_us, a.fns,
        prefix=f"{spec.name}_",
    )
    return agged.select(
        *[F.col(k) for k in spec.keys],
        "ts",
        *[F.col(f"{spec.name}_{fn}") for fn in a.fns],
    )
