"""FeatureSet.get_historical — point-in-time training-set assembly.

Spark rebuild of the reference's historical query
(``/root/reference/pkg/querybuilder/featureset.tmpl.sql`` — spine CTE +
per-feature CTEs + chained backward as-of LEFT JOINs, lines 104-122) and
the LabSDK's ``new_historical_get``
(``/root/reference/labsdk/raptor/replay.py:303-366``).

Physical design: ALL features that share the entity key are merged in
ONE union-merge pass (see ``operators/asof.py``) — a single hash
shuffle on the key + one in-partition sort carries every feature
column, vs. the reference SQL's N chained range joins. Features are
replayed independently (each an embarrassingly parallel scan +
window), then unioned by name.

Time-range handling (M2/M7): when (since, until) are given, feature
inputs are padded back by each feature's staleness
(``fs.go:63-69`` BeforePadding) so windows at the range start are
complete; padding rows are dropped after the merge (``data`` vs
``base`` CTE, featureset.tmpl.sql:51).

keep_previous (W2): realized plan-side — the feature-values stream is
pre-lagged per key (lag N of value & ts + age guard,
replay.py:246-261) and the lagged columns ride the same union-merge.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F, Window as W

from ..operators.tsutil import micros

from ..specs import FeatureSetSpec, FeatureSpec
from .replay import replay_wide


def _lag_feature_values(
    fv: DataFrame, spec: FeatureSpec, value_cols: Sequence[str]
) -> tuple[DataFrame, list[str]]:
    """Materialize keep_previous versions on the feature-values stream
    (lag over the value history per key) — PACKED into ONE struct
    column ``_kp_<name>`` per feature rather than separate columns.

    The pack is what keeps versions PIT-consistent through the as-of
    merge: ``asof_join`` forward-fills each column independently with
    ``last(ignorenulls)``, so a separate prev column whose age guard
    nulled it AT the latest update would be "filled past" — the join
    would resurrect an older update's (younger-at-the-time) version,
    e.g. prev1 = the value from TWO updates back, disagreeing with the
    fused plan and the reference's latest-update-anchored versioning
    (caught by review r3, runtime-confirmed). A struct is non-null at
    every update row even when its FIELDS are guard-nulled, so the
    fill always lands on the same winning row as the base value.
    Unpacked after the join by ``_unpack_kp``."""
    kp = spec.keep_previous
    if kp is None:
        return fv, list(value_cols)
    w = W.partitionBy(*spec.keys).orderBy(F.col("ts").asc())
    fields = []
    for n in range(1, kp.versions + 1):
        lag_ts = F.lag(micros("ts"), n).over(w)
        guard = (
            lag_ts >= micros("ts") - F.lit(n * kp.over_us)
            if kp.over_us > 0
            else F.lit(True)
        )
        for c in value_cols:
            fields.append(
                F.when(guard, F.lag(F.col(c), n).over(w)).alias(f"{c}_prev{n}")
            )
    pack = f"_kp_{spec.name}"
    out = fv.select("*", F.struct(*fields).alias(pack))
    return out, list(value_cols) + [pack]


def _unpack_kp(df: DataFrame) -> DataFrame:
    """Expand ``_kp_*`` struct columns (see ``_lag_feature_values``)
    into their prev-version fields, in place."""
    if not any(c.startswith("_kp_") for c in df.columns):
        return df
    cols = []
    for c in df.columns:
        if c.startswith("_kp_"):
            for fld in df.schema[c].dataType.fieldNames():
                cols.append(F.col(f"`{c}`.`{fld}`").alias(fld))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def _kp_pad_us(spec: FeatureSpec) -> int:
    """Extra history (µs) a since-bounded scan must keep so the
    keep_previous version chain at the range start is complete.
    Unbounded version lookback (over=0) cannot be finitely padded —
    raising beats silently serving null/short version chains near the
    boundary."""
    kp = spec.keep_previous
    if kp is None:
        return 0
    if kp.over_us <= 0:
        raise ValueError(
            f"feature '{spec.name}': keep_previous with over=0 (unbounded "
            "version lookback) cannot be combined with a since= time-range "
            "scan — any finite padding could drop the previous versions. "
            "Use over>0 or since=None."
        )
    return kp.versions * kp.over_us


def _expr_total(spec: FeatureSpec) -> bool:
    """True when the feature's value is non-null at EVERY source row —
    no ``filter`` and the expr itself has no null paths (a compiled
    handler with `return None` sets ``expr_may_be_null``). Total exprs
    skip the publish/forward-fill machinery in the fused plan."""
    return spec.filter is None and not spec.expr_may_be_null


def _fusible(spec: FeatureSpec, keys, ts_col: str) -> bool:
    """A feature can join the single-pass fused plan when it reads the
    shared source verbatim (same keys/ts, no re-keying) — filters are
    fused via conditional aggregates; filtered keep_previous via
    ``lag IGNORE NULLS`` (n-th previous update row, not n-th previous
    source row). keep_previous on an AGGREGATED feature would need a
    lag over a window column (a second pass) — general path only."""
    return (
        tuple(spec.keys) == tuple(keys)
        and spec.timestamp_col == ts_col
        and spec.keys_expr is None
        and spec.ts_expr is None
        and not (spec.keep_previous is not None and spec.aggr is not None)
    )


def get_historical_fused(
    source: DataFrame,
    fs: FeatureSetSpec,
    since: Optional[dt.datetime] = None,
    until: Optional[dt.datetime] = None,
) -> DataFrame:
    """Single-pass fused historical plan — the scale path when every
    feature derives from ONE source and the spine is that source's
    rows (the transcript backfill shape).

    Instead of replaying each feature and union-merging (~4x the rows
    through one giant sort), ALL features become window expressions
    over one scan: ONE hash shuffle on the key + ONE in-partition sort
    serve every feature column (consecutive WindowExecs reuse the
    child's ordering; only distinct frame specs differ).

    PIT semantics preserved exactly (same output as the union-merge
    path, pinned by tests):
    - windowed feature value at t = window anchored at the LAST
      feature row ts' <= t (as-of-last-update, the reference's
      featureset.tmpl.sql:104-122 join semantics) — realized as
      publish-at-update + last(ignorenulls) forward-fill;
    - staleness cutoff via the last-update timestamp guard (W4);
    - implicit None-filter: conditional exprs keep null rows out of
      every aggregate (Spark aggs skip nulls);
    - keep_previous = plain lag (every row is an update for unfiltered
      exprs) with the reference age guard (replay.py:256-259).
    """
    from pyspark.sql import Window as W

    from ..operators.window_agg import _agg_over
    from .replay import _eval_expr

    key_feature = fs.resolve_key_feature()
    keys, ts_col = key_feature.keys, "ts"

    df = source
    if since is not None:
        pad_us = max(
            f.effective_staleness_us + _kp_pad_us(f) for f in fs.features
        )
        df = df.filter(
            F.col(ts_col) >= F.lit(since - dt.timedelta(microseconds=pad_us))
        )
    if until is not None:
        df = df.filter(F.col(ts_col) <= F.lit(until))

    # EARLY PROJECTION: evaluate every per-row expr BEFORE the shuffle
    # so the Exchange carries (keys, ts, small typed values) — never the
    # raw payload columns (text is 100-1000 B/row; the windows only
    # need the derived doubles). Catalyst cannot prune this itself
    # because the exprs sit inside window functions.
    proj = [F.col(k) for k in keys] + [F.col(ts_col)]
    vname: dict[str, str] = {}
    for i, spec in enumerate(fs.features):
        v = _eval_expr(df, spec.expr)
        if spec.filter:
            v = F.when(F.expr(spec.filter), v)
        vname[spec.name] = f"_v_{i}"
        proj.append(v.alias(f"_v_{i}"))
    df = df.select(*proj)

    tsu = micros(ts_col)
    # RANGE fill frame, not ROWS: a spine row must see a same-ts update
    # regardless of physical tie order (the union-merge path gets this
    # from its (ts, _is_spine) sort; here spine and update are source
    # rows on one stream, and a rows-frame would make same-ts
    # visibility depend on arbitrary intra-tie ordering — caught by
    # the adversarial exact-gate run). Among MULTIPLE same-ts updates
    # of one feature the winner stays tie-ambiguous in any engine.
    #
    # Measured note (r3): a per-feature updates-first tie sort
    # (orderBy(tsu, v.isNull()) + ROWS frames) is exactly equivalent
    # and removes the range-bound evaluation, but needs a SECOND
    # WindowExec below the orderBy(tsu) sliding aggregates — a
    # same-JVM alternating A/B at 48M turns put that design ~15-20%
    # SLOWER than the single-WindowExec RANGE plan (BENCH/BASELINE.md
    # r3), so RANGE fill + one WindowExec stays. The
    # tie ordering IS used below for the filtered keep_previous lag
    # chains, whose `lag IGNORE NULLS` walk has no tie-aware frame
    # equivalent and was order-dependent without it (ADVICE r2).
    rows_w = (
        W.partitionBy(*keys).orderBy(tsu).rangeBetween(W.unboundedPreceding, 0)
    )
    lag_w = W.partitionBy(*keys).orderBy(tsu)

    out_cols: list = []
    key_value = None
    for spec in fs.features:
        v = F.col(vname[spec.name])
        if spec.aggr is not None:
            a = spec.aggr
            rw = (
                W.partitionBy(*keys)
                .orderBy(tsu)
                .rangeBetween(-(a.over_us - 1), 0)
            )
            if _expr_total(spec):
                # total expr: every row is an update → the anchored
                # window IS the as-of value; no fill/guard machinery
                # (halves the buffered window columns). Unfiltered
                # exprs are assumed total — express None-semantics via
                # ``filter``, which takes the publish/fill path below.
                for fn in a.fns:
                    out_cols.append(
                        _agg_over(fn, v, rw).alias(f"{spec.name}_{fn}")
                    )
                continue
            upd_ts = F.last(F.when(v.isNotNull(), tsu), ignorenulls=True).over(
                rows_w
            )
            guard = upd_ts >= tsu - F.lit(a.over_us)
            for fn in a.fns:
                anchored = _agg_over(fn, v, rw)
                published = F.when(v.isNotNull(), anchored)
                filled = F.last(published, ignorenulls=True).over(rows_w)
                out_cols.append(
                    F.when(guard, filled).alias(f"{spec.name}_{fn}")
                )
        else:
            st = spec.effective_staleness_us
            if not _expr_total(spec):
                filled = F.last(v, ignorenulls=True).over(rows_w)
                upd_ts = F.last(
                    F.when(v.isNotNull(), tsu), ignorenulls=True
                ).over(rows_w)
                col = (
                    F.when(upd_ts >= tsu - F.lit(st), filled) if st > 0 else filled
                )
            else:
                col = v
            out_cols.append(col.alias(spec.name))
            if spec is key_feature:
                # spine membership = the key feature has a value AT
                # this row (raw expr non-null, fs.go:35-49) — NOT the
                # forward-filled column, which would admit every row
                # after the first update
                key_value = v
            kp = spec.keep_previous
            if kp is not None:
                vn = vname[spec.name]
                # update-row ts, null on non-update rows (same null mask
                # as the value itself) — lets IGNORE NULLS walk updates
                vts_sql = (
                    f"CASE WHEN {vn} IS NOT NULL THEN "
                    f"unix_micros(cast({ts_col} as timestamp)) END"
                )
                # filtered kp: the IGNORE-NULLS lag walk must count a
                # same-ts update (the RANGE fill above sees it, so the
                # version chain must too) — order ties UPDATES-FIRST
                # per feature. Deterministic under the at-most-one-
                # update-per-(key,ts,feature) contract; adds one
                # Window pass only for feature sets that HAVE a
                # filtered kp (ADVICE r2 fix).
                tie_w = W.partitionBy(*keys).orderBy(tsu, v.isNull())
                for n in range(1, kp.versions + 1):
                    if _expr_total(spec):
                        # total expr: every row is an update → plain lag
                        lagged = F.lag(v, n).over(lag_w)
                        if kp.over_us > 0:
                            lag_ts = F.lag(tsu, n).over(lag_w)
                            lagged = F.when(
                                lag_ts >= tsu - F.lit(n * kp.over_us), lagged
                            )
                    else:
                        # filtered expr: versions count UPDATE rows. At a
                        # row the latest update is itself (v non-null) or
                        # strictly earlier (v null; same-ts updates sort
                        # BEFORE this row in tie_w, so the walk sees
                        # them) — the n-th version before the latest is
                        # the n-th / (n+1)-th previous non-null.
                        def _ign(sql: str, off: int, _w=tie_w):
                            return F.expr(
                                f"lag({sql}, {off}) ignore nulls"
                            ).over(_w)

                        lagged = F.when(v.isNotNull(), _ign(vn, n)).otherwise(
                            _ign(vn, n + 1)
                        )
                        if kp.over_us > 0:
                            pts = F.when(
                                v.isNotNull(), _ign(vts_sql, n)
                            ).otherwise(_ign(vts_sql, n + 1))
                            anchor = F.last(
                                F.when(v.isNotNull(), tsu), ignorenulls=True
                            ).over(rows_w)
                            lagged = F.when(
                                pts >= anchor - F.lit(n * kp.over_us), lagged
                            )
                    out_cols.append(lagged.alias(f"{spec.name}_prev{n}"))

    out = df.select(
        *keys,
        F.col(ts_col),
        *out_cols,
        *( [key_value.isNotNull().alias("_spine")] if key_value is not None else [] ),
    )
    # spine = rows where the key feature's RAW expr is non-null
    # (fs.go:35-49)
    if key_value is not None:
        out = out.filter(F.col("_spine")).drop("_spine")
    if since is not None:
        out = out.filter(F.col(ts_col) >= F.lit(since))
    return out


def historical_from_store(
    catalog,
    table: str,
    fs: FeatureSetSpec,
    spine: DataFrame,
    since: Optional[dt.datetime] = None,
    until: Optional[dt.datetime] = None,
    value_types: Optional[dict[str, str]] = None,
) -> DataFrame:
    """PIT training set read from the MATERIALIZED feature-values store
    instead of recomputing from the source — the reference's production
    historical query shape (featureset.tmpl.sql: per-feature CTEs over
    the features table, joined on encoded KEYS onto the key feature).

    Each feature's rows come from a partition-pruned scan of its fqn
    dirs (Catalog.read_feature_values); all features union-merge into
    ONE as-of pass on the ENCODED key string (f.KEYS = key.KEYS —
    heterogeneous entities welcome, the encoding carries them). The
    spine must contain every feature's raw key columns; its keys are
    encoded with the same ';'.join.

    value_types: per-feature stored value type (default 'double' — the
    type of every windowed value and the common primitive case).
    """
    from ..operators.asof import asof_join
    from .replay import encode_keys

    ts_col = "ts"
    staleness: dict[str, int] = {}
    # family (key tuple) → (frames, value cols): features sharing an
    # entity share one union-merge pass on the encoded key string
    families: dict[tuple[str, ...], tuple[list[DataFrame], list[str]]] = {}
    for spec in fs.features:
        if spec.derived_inputs is not None:
            continue
        vt = (value_types or {}).get(spec.name, "double")
        if spec.aggr is not None:
            fqn_cols = [
                (f"{spec.fqn}+{fn}", f"{spec.name}_{fn}") for fn in spec.aggr.fns
            ]
        else:
            fqn_cols = [(spec.fqn, spec.name)]
        df = catalog.read_feature_values(table, [f for f, _ in fqn_cols], vt)
        if since is not None:
            pad_us = spec.effective_staleness_us + _kp_pad_us(spec)
            lo = since - dt.timedelta(microseconds=pad_us)
            df = df.filter(F.col(ts_col) >= F.lit(lo))
        if until is not None:
            df = df.filter(F.col(ts_col) <= F.lit(until))
        fv = df.select(
            F.col("keys").alias("_keys"),
            F.col(ts_col),
            *[
                F.when(F.col("fqn") == f, F.col("value")).alias(c)
                for f, c in fqn_cols
            ],
        )
        pack_cols: list[str] = []
        if spec.keep_previous is not None:
            # keep_previous from the STORE: the per-fqn rows ARE the
            # update stream, so version n = n-th previous non-null of
            # the column (rows for sibling fqns of one feature
            # interleave → IGNORE NULLS; ties sort updates-first like
            # the fused plan). Versions are PACKED into a struct per
            # column, non-null exactly at the column's own update rows,
            # so the as-of forward-fill carries (value, prev*) as ONE
            # consistent PIT version — a guard-expired prev stays
            # expired instead of being filled past from an older update
            # (see _lag_feature_values).
            kp = spec.keep_previous
            tsu_c = micros(ts_col)
            pack_exprs = []
            for _, c in fqn_cols:
                tie_w = W.partitionBy("_keys").orderBy(
                    tsu_c, F.col(c).isNull()
                )
                c_ts_sql = (
                    f"CASE WHEN `{c}` IS NOT NULL THEN "
                    f"unix_micros(cast({ts_col} as timestamp)) END"
                )
                fields = []
                for n in range(1, kp.versions + 1):
                    lagged = F.expr(f"lag(`{c}`, {n}) ignore nulls").over(
                        tie_w
                    )
                    if kp.over_us > 0:
                        lag_ts = F.expr(
                            f"lag({c_ts_sql}, {n}) ignore nulls"
                        ).over(tie_w)
                        lagged = F.when(
                            lag_ts >= tsu_c - F.lit(n * kp.over_us), lagged
                        )
                    fields.append(lagged.alias(f"{c}_prev{n}"))
                pack_exprs.append(
                    F.when(F.col(c).isNotNull(), F.struct(*fields)).alias(
                        f"_kp_{c}"
                    )
                )
                pack_cols.append(f"_kp_{c}")
            fv = fv.select("*", *pack_exprs)
        missing = [k for k in spec.keys if k not in spine.columns]
        if missing:
            raise ValueError(
                f"spine lacks key column(s) {missing} for feature "
                f"'{spec.name}'"
            )
        frames, cols = families.setdefault(tuple(spec.keys), ([], []))
        frames.append(fv)
        st = spec.effective_staleness_us
        for _, c in fqn_cols:
            staleness[c] = st
            cols.append(c)
        for c in pack_cols:
            # prev versions carry their own age guard (no W4 cutoff)
            staleness[c] = 0
            cols.append(c)

    out = _in_range(spine, ts_col, since, until)
    for fam_keys, (frames, cols) in families.items():
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f, allowMissingColumns=True)
        tagged = out.withColumn("_keys", encode_keys(out, fam_keys))
        out = _unpack_kp(
            asof_join(
                tagged, merged, keys=["_keys"], ts_col=ts_col,
                value_cols=cols,
                staleness_us={c: staleness[c] for c in cols},
            ).drop("_keys")
        )

    derived = fs.derived_topo()
    if derived:
        from .replay import _eval_expr

        for spec in derived:
            out = out.withColumn(spec.name, _eval_expr(out, spec.expr))
    return out


def _in_range(
    spine: DataFrame,
    ts_col: str,
    since: Optional[dt.datetime],
    until: Optional[dt.datetime],
) -> DataFrame:
    """Spine rows with ``since <= ts <= until``. Filtered BEFORE the
    as-of joins: feature sources are cut to that range (less the
    lookback pad), so a row outside it would silently read truncated
    history."""
    if since is not None:
        spine = spine.filter(F.col(ts_col) >= F.lit(since))
    if until is not None:
        spine = spine.filter(F.col(ts_col) <= F.lit(until))
    return spine


def get_historical(
    source: DataFrame,
    fs: FeatureSetSpec,
    spine: Optional[DataFrame] = None,
    since: Optional[dt.datetime] = None,
    until: Optional[dt.datetime] = None,
    sources: Optional[dict[str, DataFrame]] = None,
) -> DataFrame:
    """Wide PIT training set: one row per spine (keys, ts), one column
    per feature output. ``sources`` may map feature name → its own
    source DataFrame (default: ``source`` for all).

    Spine default: the key feature's value rows (fs.go:35-49) — here,
    its (keys, ts) projection.

    The plan follows from the inputs alone: the single-pass fused plan
    when there is no explicit spine, every feature reads ``source``, the
    key feature is not windowed and every feature is ``_fusible``; the
    union-merge as-of plan otherwise.
    Both compute exact per-event windows (LabSDK replay semantics).

    Derived (sourceless) features — ``derived_inputs`` set — are
    applied over the wide frame after the base pass, in dependency
    order (J4).
    """
    derived = fs.derived_topo()
    if derived:
        base_fs = FeatureSetSpec(
            features=fs.base_features(), key_feature=fs.key_feature
        )
        out = get_historical(
            source, base_fs, spine=spine, since=since, until=until,
            sources=sources,
        )
        from .replay import _eval_expr

        for spec in derived:
            out = out.withColumn(spec.name, _eval_expr(out, spec.expr))
        return out

    if sources is not None and all(s is source for s in sources.values()):
        # every feature reads the same frame → eligible for the fused
        # single-pass plan (the decorator API always passes `sources`)
        sources = None

    key_feature = fs.resolve_key_feature()
    if (
        spine is None
        and sources is None
        and key_feature.aggr is None
        and all(_fusible(f, key_feature.keys, "ts") for f in fs.features)
    ):
        return get_historical_fused(source, fs, since=since, until=until)
    return _historical_union_merge(source, fs, spine, since, until, sources)


def _historical_union_merge(
    source: DataFrame,
    fs: FeatureSetSpec,
    spine: Optional[DataFrame] = None,
    since: Optional[dt.datetime] = None,
    until: Optional[dt.datetime] = None,
    sources: Optional[dict[str, DataFrame]] = None,
) -> DataFrame:
    """The general plan behind ``get_historical`` for a feature set
    without derived features: each feature replayed on its own, then
    union-merged onto the spine by backward as-of joins."""
    key_feature = fs.resolve_key_feature()
    keys = key_feature.keys
    ts_col = "ts"

    if spine is None:
        kf_src = (sources or {}).get(key_feature.name, source)
        spine = replay_wide(kf_src, key_feature).select(
            *keys, ts_col, *[c for c in key_feature.output_columns() if "_prev" not in c]
        )
        # the spine carries the key feature's base columns; its
        # keep_previous columns are NOT on the spine (they need the
        # lag pass) — leave them to the union-merge below
        joined_from_spine = {
            c for c in key_feature.output_columns() if "_prev" not in c
        }
    else:
        joined_from_spine = set()
    spine = _in_range(spine, ts_col, since, until)

    # union-merge all remaining features, ONE as-of pass per KEY FAMILY
    # (features sharing an entity-key tuple ride the same pass). The
    # reference's template joins every feature CTE on its encoded KEYS
    # (featureset.tmpl.sql:104-122) — heterogeneous entities are legal
    # as long as the spine row carries the foreign key columns.
    from ..operators.asof import asof_join

    families: dict[tuple[str, ...], list[tuple[FeatureSpec, list[str]]]] = {}
    for spec in fs.features:
        cols = [c for c in spec.output_columns() if c not in joined_from_spine]
        if not cols:
            continue
        families.setdefault(tuple(spec.keys), []).append((spec, cols))

    if not families:
        return spine

    def _family_feature_values(
        members: list[tuple[FeatureSpec, list[str]]], fam_keys: tuple[str, ...]
    ) -> tuple[DataFrame, list[str], dict[str, int]]:
        fv_frames: list[DataFrame] = []
        staleness: dict[str, int] = {}
        value_cols: list[str] = []
        for spec, cols in members:
            f_src = (sources or {}).get(spec.name, source)
            if since is not None:
                pad_us = spec.effective_staleness_us + _kp_pad_us(spec)
                lo = since - dt.timedelta(microseconds=pad_us)
                f_src = f_src.filter(F.col(spec.timestamp_col) >= F.lit(lo))
            if until is not None:
                f_src = f_src.filter(F.col(spec.timestamp_col) <= F.lit(until))
            fv = replay_wide(f_src, spec)
            base_cols = [c for c in fv.columns if c not in (*fam_keys, ts_col)]
            fv, all_cols = _lag_feature_values(fv, spec, base_cols)
            fv = fv.select(
                *fam_keys,
                ts_col,
                *[c for c in all_cols if c in cols or c.startswith("_kp_")],
            )
            fv_frames.append(fv)
            st = spec.effective_staleness_us
            for c in cols:
                # prev versions ride the _kp_ struct (their own age
                # guard, evaluated at the update row); the staleness
                # cutoff applies to the base value (W4).
                if "_prev" in c:
                    continue
                staleness[c] = st
                if c in fv.columns:
                    value_cols.append(c)
            pack = f"_kp_{spec.name}"
            if pack in fv.columns:
                staleness[pack] = 0
                value_cols.append(pack)
        merged = fv_frames[0]
        for f in fv_frames[1:]:
            merged = merged.unionByName(f, allowMissingColumns=True)
        return merged, value_cols, staleness

    # primary family (spine's own keys) merges directly onto the spine
    out = spine
    primary = families.pop(tuple(keys), None)
    if primary is not None:
        merged, value_cols, staleness = _family_feature_values(primary, tuple(keys))
        out = _unpack_kp(
            asof_join(
                out, merged, keys=keys, ts_col=ts_col,
                value_cols=value_cols, staleness_us=staleness,
            )
        )

    # each foreign family: as-of against the DISTINCT (family-keys, ts)
    # sub-spine — far smaller than the spine when the foreign entity is
    # coarser — then an equi-join back on (family-keys, ts). Two
    # shuffles per family instead of per feature.
    for fam_keys, members in families.items():
        missing = [k for k in fam_keys if k not in spine.columns]
        if missing:
            raise ValueError(
                f"feature(s) {[s.name for s, _ in members]} are keyed by "
                f"{fam_keys} but the spine lacks column(s) {missing}; the "
                "spine row must carry every foreign entity key it joins on "
                "(featureset.tmpl.sql joins f.KEYS = key.KEYS)"
            )
        sub_spine = out.select(*fam_keys, ts_col).distinct()
        merged, value_cols, staleness = _family_feature_values(members, fam_keys)
        fam_out = _unpack_kp(
            asof_join(
                sub_spine, merged, keys=list(fam_keys), ts_col=ts_col,
                value_cols=value_cols, staleness_us=staleness,
            )
        )
        out = out.join(fam_out, on=[*fam_keys, ts_col], how="left")

    return out
