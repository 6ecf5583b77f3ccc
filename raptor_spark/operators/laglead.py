"""Lag / lead / keep_previous / validity operators (SURVEY.md §2.5).

- ``lag_versions``: W2/W6 — the one version chain: N previous values
  of a column per key, the Spark realization of the reference's
  keep_previous ring buffer
  (``/root/reference/internal/plugins/providers/state/redis/primitives.go:112-135``)
  and the ``@-N`` selector getter
  (``/root/reference/labsdk/raptor/replay.py:246-261``): at a query
  time, version N = the N-th newest value ≤ ts, **invalid when its ts <
  ts_of_latest − N·over** (the age guard). ``with_lags`` and every
  keep_previous of ``plans/historical.py`` call it.
- ``with_leads``: forward-looking turn features (north rule) — label
  engineering only; never joined as-of backward, so leakage-safe by
  construction when used on the label side.
- ``with_valid_till``: W1 — value expiry = min(next value's ts,
  ts + staleness) (``pkg/querybuilder/primitive.tmpl.sql:3-20``).
- ``with_freshness_flag``: W5 — fresh = (asof_ts − value_ts) < freshness
  (``redis/primitives.go:99``).

All are single-window ops: one hash shuffle on keys, sort by ts.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .tsutil import micros, micros_sql


def _key_order(ts_col: str, tiebreak: Optional[str]) -> list[Column]:
    return [F.col(c).asc() for c in (ts_col, tiebreak) if c]


def _key_window(keys: Sequence[str], ts_col: str, tiebreak: Optional[str]):
    return W.partitionBy(*keys).orderBy(*_key_order(ts_col, tiebreak))


def lag_versions(
    col: str,
    keys: Sequence[str],
    order: Sequence[Column],
    ts_us_sql: str,
    versions: int,
    over_us: int = 0,
    updates_only: bool = False,
    prefix: Optional[str] = None,
) -> list[Column]:
    """The ``{prefix}_prev{n}`` columns (n=1..versions) of ``col`` per
    ``keys`` in ``order``: prev-n is the n-th previous value, NULL when
    its row's ts (``ts_us_sql``, epoch µs) is older than the current
    row's − n·``over_us`` (the age guard, replay.py:256-259; 0 = none).

    updates_only: count only the rows where ``col`` is non-null
    (``lag … IGNORE NULLS``), same-``order`` ties updates-first."""
    c = f"`{col}`"
    ts, ignore, tie = ts_us_sql, "", []
    if updates_only:
        ts = f"CASE WHEN {c} IS NOT NULL THEN {ts_us_sql} END"
        ignore, tie = " ignore nulls", [F.col(col).isNull()]
    w = W.partitionBy(*keys).orderBy(*order, *tie)
    prefix = prefix if prefix is not None else col
    out = []
    for n in range(1, versions + 1):
        lagged = F.expr(f"lag({c}, {n}){ignore}").over(w)
        if over_us > 0:
            lag_ts = F.expr(f"lag({ts}, {n}){ignore}").over(w)
            guard = lag_ts >= F.expr(ts_us_sql) - F.lit(n * over_us)
            lagged = F.when(guard, lagged)
        out.append(lagged.alias(f"{prefix}_prev{n}"))
    return out


def with_lags(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    col: str,
    versions: int,
    over_us: int = 0,
    tiebreak: Optional[str] = None,
    prefix: Optional[str] = None,
) -> DataFrame:
    """Add ``{col}_prev{n}`` (n=1..versions) per key in (ts, tiebreak)
    order, with the reference age guard (``lag_versions``)."""
    prefix = prefix if prefix is not None else col
    lags = lag_versions(
        col, keys, _key_order(ts_col, tiebreak),
        micros_sql(ts_col), versions, over_us or 0, prefix=prefix,
    )
    return df.withColumns({f"{prefix}_prev{n}": c for n, c in enumerate(lags, 1)})


def with_leads(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    col: str,
    versions: int = 1,
    tiebreak: Optional[str] = None,
    prefix: Optional[str] = None,
) -> DataFrame:
    """Add ``{col}_next{n}`` (n=1..versions) per key in ts order."""
    w = _key_window(keys, ts_col, tiebreak)
    prefix = prefix if prefix is not None else col
    out = df
    for n in range(1, versions + 1):
        out = out.withColumn(f"{prefix}_next{n}", F.lead(F.col(col), n).over(w))
    return out


def with_valid_till(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    staleness_us: int,
    tiebreak: Optional[str] = None,
    out_col: str = "valid_till",
) -> DataFrame:
    """valid_till = least(next ts per key, ts + staleness); NULL next ⇒
    ts + staleness (staleness 0 ⇒ open-ended until next)."""
    w = _key_window(keys, ts_col, tiebreak)
    nxt = F.lead(micros(ts_col)).over(w)
    if staleness_us and staleness_us > 0:
        exp = micros(ts_col) + F.lit(staleness_us)
        v = F.least(F.coalesce(nxt, exp), exp)
    else:
        v = nxt
    return df.withColumn(out_col, F.timestamp_micros(v))


def with_freshness_flag(
    df: DataFrame,
    value_ts: Column | str,
    asof_ts: Column | str,
    freshness_us: int,
    out_col: str = "fresh",
) -> DataFrame:
    vt = F.col(value_ts) if isinstance(value_ts, str) else value_ts
    at = F.col(asof_ts) if isinstance(asof_ts, str) else asof_ts
    return df.withColumn(
        out_col,
        (micros(at) - micros(vt)) < F.lit(freshness_us),
    )


def latest_per_key(
    df: DataFrame, keys: Sequence[str], *order_cols: Column
) -> DataFrame:
    """W3: top-1 row per key (featureset.tmpl.sql:90,99) — the first row
    of each key under ``order_cols`` (newest first: ``F.col("ts").desc()``
    then the tie-breaks) via row_number, no global sort. The one
    top-1-per-key window: the online store's latest value and the
    bucket-write dedup are calls to it."""
    w = W.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
