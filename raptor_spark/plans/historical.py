"""FeatureSet.get_historical — point-in-time training-set assembly.

Spark rebuild of the reference's historical query
(``/root/reference/pkg/querybuilder/featureset.tmpl.sql`` — spine CTE +
per-feature CTEs + chained backward as-of LEFT JOINs, lines 104-122) and
the LabSDK's ``new_historical_get``
(``/root/reference/labsdk/raptor/replay.py:303-366``).

Two physical plans, chosen from the inputs:

- ``get_historical_fused`` — every feature is a window expression over
  ONE scan of the shared source (one hash shuffle + one in-partition
  sort, plus one tie-ordered sort per filtered keep_previous feature);
  the spine is the key feature's source rows.
- ``_assemble`` — the as-of plan. Each feature's value frame is read
  on its own (``replay_wide`` over its source, or a partition-pruned
  scan of the materialized store), the frames of one key family are
  unioned by name, and each family is ONE ``asof_join`` on that
  family's keys (see ``operators/asof.py``): of the whole spine for the
  key feature's family, of the distinct (keys, ts) spine rows, joined
  back, for a foreign family. It serves an explicit spine, per-feature
  ``sources``, a windowed key feature, features that cannot fuse, and
  every store read.

Time-range handling (M2/M7): when (since, until) are given, feature
inputs are padded back by each feature's staleness
(``fs.go:63-69`` BeforePadding) so windows at the range start are
complete; padding rows are dropped after the merge (``data`` vs
``base`` CTE, featureset.tmpl.sql:51).

keep_previous (W2, replay.py:246-261) is ``laglead.lag_versions`` and
the staleness cutoff (W4, replay.py:263-264) is ``asof.fill_last`` in
both plans. A value column's versions travel in a ``_kp_pack`` struct,
forward-filled like the value: on the value frame through the as-of
join, or in the fused plan's own projection for a filtered feature; a
total feature's versions are a plain lag over its rows.
"""

from __future__ import annotations

import datetime as dt
import functools
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F, Window as W

from ..operators.asof import asof_join, fill_last
from ..operators.laglead import lag_versions
from ..operators.tsutil import micros, micros_sql

from ..specs import FeatureSetSpec, FeatureSpec
from .replay import _eval_expr, encode_keys, replay_wide
from .validate import check_value_type


def _kp_pack(c: str, keys, ts_us_sql: str, kp, prefix: str) -> Column:
    """keep_previous versions of value column ``c``, PACKED into one
    struct with fields ``<prefix>_prev1..N``: ``lag_versions`` over the
    UPDATE rows of ``c`` (its non-null rows: a store read interleaves a
    feature's sibling fqns, a filtered feature is null off its filter).

    The pack keeps versions PIT-consistent through a forward fill:
    ``fill_last`` fills each column independently, so a separate prev
    column whose age guard nulled it AT the latest update would be
    "filled past" to an older update's version (caught by review r3,
    runtime-confirmed). The struct is non-null at exactly the update
    rows even when its FIELDS are guard-nulled, so the fill lands on
    the same row as the base value. ``_unpack_kp`` expands it."""
    versions = lag_versions(
        c, keys, [F.expr(ts_us_sql)], ts_us_sql, kp.versions, kp.over_us,
        updates_only=True, prefix=prefix,
    )
    return F.when(F.col(c).isNotNull(), F.struct(*versions))


def _unpack_kp(df: DataFrame) -> DataFrame:
    """Expand ``_kp_*`` struct columns (see ``_kp_pack``) into their
    prev-version fields, in place."""
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
    fused via conditional aggregates; filtered keep_previous via a
    forward-filled ``_kp_pack``. keep_previous on an AGGREGATED feature
    would need a lag over a window column (a second pass) — general
    path only."""
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
    - staleness cutoff via the last-update ts guard (``fill_last``, W4);
    - implicit None-filter: conditional exprs keep null rows out of
      every aggregate (Spark aggs skip nulls);
    - keep_previous = ``lag_versions`` with the reference age guard
      (replay.py:256-259): a plain lag for a total expr (every row is
      an update: the contract in ``specs.feature``), else the filled
      ``_kp_pack`` of the latest update.
    """
    from ..operators.window_agg import _agg_over

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
    # because the exprs sit inside window functions. The ordering key
    # ``_tsu`` is projected here once: a window nested in another (the
    # fill over a filtered aggregate) that computed its own
    # ``unix_micros(ts)`` would order by a second alias of it and plan
    # a second in-partition sort.
    proj = [F.col(k) for k in keys] + [F.col(ts_col), micros(ts_col).alias("_tsu")]
    vname: dict[str, str] = {}
    for i, spec in enumerate(fs.features):
        v = _eval_expr(df, spec.expr)
        if spec.filter:
            v = F.when(F.expr(spec.filter), v)
        vname[spec.name] = f"_v_{i}"
        proj.append(v.alias(f"_v_{i}"))
    df = df.select(*proj)
    schema = df.schema
    for i, spec in enumerate(fs.features):
        check_value_type(spec, schema[f"_v_{i}"].dataType)

    tsu = F.col("_tsu")
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
    # r3), so RANGE fill + one WindowExec stays. A filtered
    # keep_previous pack is staged in a projection of its own (Spark
    # rejects a window inside last()): its tie-ordered Window runs
    # below the RANGE fill, which reads the same sort.
    rows_w = (
        W.partitionBy(*keys).orderBy(tsu).rangeBetween(W.unboundedPreceding, 0)
    )

    def fill(value, v, staleness_us):
        return fill_last(value, rows_w, F.when(v.isNotNull(), tsu), tsu, staleness_us)

    packs: list = []
    out_cols: list = []
    key_value = None
    for i, spec in enumerate(fs.features):
        v = F.col(vname[spec.name])
        total = _expr_total(spec)
        if spec.aggr is not None:
            a = spec.aggr
            rw = (
                W.partitionBy(*keys)
                .orderBy(tsu)
                .rangeBetween(-(a.over_us - 1), 0)
            )
            if total:
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
            for fn in a.fns:
                published = F.when(v.isNotNull(), _agg_over(fn, v, rw))
                out_cols.append(
                    fill(published, v, a.over_us).alias(f"{spec.name}_{fn}")
                )
            continue
        col = v if total else fill(v, v, spec.effective_staleness_us)
        out_cols.append(col.alias(spec.name))
        if spec is key_feature:
            # spine membership = the key feature has a value AT this
            # row (raw expr non-null, fs.go:35-49) — NOT the
            # forward-filled column, which would admit every row after
            # the first update
            key_value = v
        kp = spec.keep_previous
        if kp is None:
            continue
        if total:
            out_cols += lag_versions(
                vname[spec.name], keys, [tsu], "_tsu", kp.versions,
                kp.over_us, prefix=spec.name,
            )
        else:
            # the latest update's pack, filled over the RANGE frame
            # (which sees a same-ts update)
            packs.append(
                _kp_pack(vname[spec.name], keys, "_tsu", kp, spec.name)
                .alias(f"_kp_{i}")
            )
            out_cols.append(fill(F.col(f"_kp_{i}"), v, 0).alias(f"_kp_{spec.name}"))
    if packs:
        df = df.select("*", *packs)

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
    return _unpack_kp(out)


def _assemble(
    spine: DataFrame,
    fs: FeatureSetSpec,
    read: Callable[[FeatureSpec, Optional[dt.datetime], Optional[dt.datetime]], DataFrame],
    keyed_by: Callable[[tuple[str, ...]], dict[str, Column]],
    since: Optional[dt.datetime],
    until: Optional[dt.datetime],
) -> DataFrame:
    """The as-of plan: each base feature's value frame, joined backward
    on its keys onto the spine (featureset.tmpl.sql:104-122), then the
    derived features.

    read(spec, lo, hi): the feature's value frame — its key columns,
    ``ts`` and one column per base output (``name`` or ``name_fn``),
    cut to ``lo <= ts <= hi`` (None = open) where its source can prune.
    ``lo`` is ``since`` less the staleness and the keep_previous
    lookback, so windows and version chains at the range start are
    complete.

    keyed_by(family_keys): the columns the frames of that key family
    are keyed by, each as a Column over the spine; those the spine
    lacks are added for the join and dropped after it.

    Features sharing a key tuple form a family: their frames are
    unioned by name and ride ONE ``asof_join``. The key feature's
    family joins the whole spine; a foreign family (keyed by another
    entity) joins the distinct (keys, ts) rows of the spine and
    equi-joins back, legal as long as the spine row carries its key
    columns. Outputs already on the spine are not joined again.
    """
    on_spine = set(spine.columns)
    families: dict[tuple[str, ...], tuple[list[DataFrame], dict[str, int]]] = {}
    for spec in fs.base_features():
        if set(spec.output_columns()) <= on_spine:
            continue
        missing = [k for k in spec.keys if k not in on_spine]
        if missing:
            raise ValueError(
                f"feature '{spec.name}' is keyed by {list(spec.keys)} but the "
                f"spine lacks column(s) {missing}; the spine row must carry "
                "every entity key its features join on (featureset.tmpl.sql "
                "joins f.KEYS = key.KEYS)"
            )
        lo = None
        if since is not None:
            pad_us = spec.effective_staleness_us + _kp_pad_us(spec)
            lo = since - dt.timedelta(microseconds=pad_us)
        on = list(keyed_by(tuple(spec.keys)))
        fv = read(spec, lo, until)
        base = [c for c in fv.columns if c not in (*on, "ts")]
        # the staleness cutoff applies to the base value (W4); prev
        # versions carry their own age guard inside the pack
        staleness = {
            c: spec.effective_staleness_us for c in base if c not in on_spine
        }
        if spec.keep_previous is not None:
            fv = fv.select("*", *[
                _kp_pack(c, on, micros_sql("ts"), spec.keep_previous, c).alias(f"_kp_{c}")
                for c in base
            ])
            staleness.update({f"_kp_{c}": 0 for c in base})
        frames, fam_staleness = families.setdefault(tuple(spec.keys), ([], {}))
        frames.append(fv.select(*on, "ts", *staleness))
        fam_staleness.update(staleness)

    primary = tuple(fs.resolve_key_feature().keys)
    out = _in_range(spine, "ts", since, until)
    for fam_keys, (frames, staleness) in families.items():
        on = keyed_by(fam_keys)
        tags = {c: e for c, e in on.items() if c not in out.columns}
        tagged = out.withColumns(tags)
        # a foreign family joins the DISTINCT (keys, ts) rows of the
        # spine and equi-joins back: that pass reads only the spine's
        # key and ts columns, so it runs beside the primary pass instead
        # of after it (hetero_keys at 10x: BENCH/BASELINE.md, "Foreign
        # key family: whole spine vs distinct sub-spine")
        foreign = fam_keys != primary
        target = tagged.select(*on, "ts").distinct() if foreign else tagged
        merged = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
        joined = _unpack_kp(
            asof_join(
                target, merged, keys=list(on), ts_col="ts",
                value_cols=list(staleness), staleness_us=staleness,
            )
        )
        if foreign:
            joined = tagged.join(joined, on=[*on, "ts"], how="left")
        out = joined.drop(*tags)
    return _derive(out, fs)


def _derive(out: DataFrame, fs: FeatureSetSpec) -> DataFrame:
    """Derived (sourceless) features — ``derived_inputs`` set — applied
    over the wide frame in dependency order (J4)."""
    for spec in fs.derived_topo():
        out = out.withColumn(spec.name, _eval_expr(out, spec.expr))
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
    dirs (Catalog.read_feature_values); each key family joins in ONE
    as-of pass on the ENCODED key string (f.KEYS = key.KEYS). The
    spine must contain every feature's raw key columns; its keys are
    encoded with the same ';'.join.

    value_types: per-feature stored value type (default 'double' — the
    type of every windowed value and the common primitive case).
    """

    def read(spec, lo, hi):
        if spec.aggr is not None:
            fqn_cols = [
                (f"{spec.fqn}+{fn}", f"{spec.name}_{fn}") for fn in spec.aggr.fns
            ]
        else:
            fqn_cols = [(spec.fqn, spec.name)]
        vt = (value_types or {}).get(spec.name, "double")
        df = catalog.read_feature_values(table, [f for f, _ in fqn_cols], vt)
        return _in_range(df, "ts", lo, hi).select(
            F.col("keys").alias("_keys"),
            "ts",
            *[
                F.when(F.col("fqn") == f, F.col("value")).alias(c)
                for f, c in fqn_cols
            ],
        )

    return _assemble(
        spine, fs, read, lambda keys: {"_keys": encode_keys(spine, keys)},
        since, until,
    )


def _in_range(
    df: DataFrame,
    ts_col: str,
    lo: Optional[dt.datetime],
    hi: Optional[dt.datetime],
) -> DataFrame:
    """Rows of ``df`` with ``lo <= ts <= hi`` (None = open). The spine
    is cut BEFORE the as-of joins: feature sources are cut to that
    range (less the lookback pad), so a row outside it would silently
    read truncated history."""
    if lo is not None:
        df = df.filter(F.col(ts_col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(ts_col) <= F.lit(hi))
    return df


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
    as-of plan otherwise.
    Both compute exact per-event windows (LabSDK replay semantics).

    Derived (sourceless) features — ``derived_inputs`` set — are
    applied over the wide frame after the base pass, in dependency
    order (J4).
    """
    if sources is not None and all(s is source for s in sources.values()):
        # every feature reads the same frame → eligible for the fused
        # single-pass plan (the decorator API always passes `sources`)
        sources = None

    key_feature = fs.resolve_key_feature()
    base = fs.base_features()
    if (
        spine is None
        and sources is None
        and key_feature.aggr is None
        and all(_fusible(f, key_feature.keys, "ts") for f in base)
    ):
        base_fs = FeatureSetSpec(features=base, key_feature=fs.key_feature)
        return _derive(get_historical_fused(source, base_fs, since, until), fs)
    return _historical_union_merge(source, fs, spine, since, until, sources)


def _historical_union_merge(
    source: DataFrame,
    fs: FeatureSetSpec,
    spine: Optional[DataFrame] = None,
    since: Optional[dt.datetime] = None,
    until: Optional[dt.datetime] = None,
    sources: Optional[dict[str, DataFrame]] = None,
) -> DataFrame:
    """The as-of plan over recomputed values: each feature replayed on
    its own source (``replay_wide``, native key columns) and joined
    onto the spine — by default the key feature's value rows, which
    already carry its base columns. Keys stay native: ';'-encoding
    drops NULLs, so it could merge distinct key tuples."""

    def read(spec, lo, hi):
        f_src = (sources or {}).get(spec.name, source)
        return replay_wide(_in_range(f_src, spec.timestamp_col, lo, hi), spec)

    if spine is None:
        key_feature = fs.resolve_key_feature()
        spine = replay_wide((sources or {}).get(key_feature.name, source), key_feature)
    return _assemble(
        spine, fs, read, lambda keys: {k: F.col(k) for k in keys}, since, until
    )
