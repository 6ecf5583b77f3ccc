"""Fused single-pass historical plan ≡ general union-merge plan."""

import datetime as dt

from pyspark.sql import functions as F

from raptor_spark.backfill import transcript_feature_set
from raptor_spark.plans.historical import (
    _historical_union_merge,
    get_historical,
    get_historical_fused,
)
from raptor_spark.sources.transcripts import transcripts


def _rows(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_fused_equals_general(spark):
    src = transcripts(spark, n_convs=30).cache()
    fs = transcript_feature_set()
    fused = get_historical(src, fs)  # auto-fuses
    general = _historical_union_merge(src, fs)
    assert sorted(fused.columns) == sorted(general.columns)
    assert _rows(fused) == _rows(general)


def test_fused_is_selected(spark):
    """The transcript feature set must hit the fused plan: no Union in
    the optimized plan, exactly one Exchange (one shuffle) and one
    in-partition Sort above it serving every window — the fill over the
    filtered ``tool_calls_1h`` aggregate included. (The transcript
    generator below the Exchange sorts for its own window.)"""
    src = transcripts(spark, n_convs=5)
    plan = get_historical(src, transcript_feature_set())._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Exchange") == 1
    assert plan[: plan.index("Exchange")].count("Sort [") == 1


def test_kp_filtered_is_one_sort(spark):
    """A filtered keep_previous stages its version pack one Window below
    the RANGE fill, so the pack's tie-ordered sort serves both: the
    ``kp_filtered`` query plans exactly one Exchange and one Sort."""
    from raptor_spark.queries import QUERIES

    df = QUERIES["kp_filtered"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("Sort [") == 1


def test_fused_since_until(spark):
    src = transcripts(spark, n_convs=30).cache()
    fs = transcript_feature_set()
    since = dt.datetime(2023, 11, 15, 2, 0, 0)
    until = dt.datetime(2023, 11, 15, 8, 0, 0)
    fused = get_historical(src, fs, since=since, until=until)
    general = _historical_union_merge(src, fs, since=since, until=until)
    assert _rows(fused) == _rows(general)
    ts = [r["ts"] for r in fused.select("ts").collect()]
    assert ts and all(since <= t <= until for t in ts)


def test_filtered_keep_previous_fuses_and_matches_general(spark):
    """filter + keep_previous now joins the fused plan (lag IGNORE
    NULLS walks update rows): one shuffle, same rows as the general
    union-merge path."""
    from raptor_spark.specs import FeatureSetSpec, feature

    fs = FeatureSetSpec(
        features=[
            feature("turn_len", "conv_id", "cast(length(text) as double)",
                    staleness="1h"),
            feature("last_tool_len", "conv_id", "cast(length(text) as double)",
                    staleness="2h", filter="role = 'tool'",
                    keep_previous=(2, "2h")),
            feature("last_user_len", "conv_id", "cast(length(text) as double)",
                    filter="role = 'user'",
                    keep_previous=(1, "0")),
        ],
        key_feature="turn_len",
    )
    src = transcripts(spark, n_convs=20).cache()
    fused = get_historical(src, fs)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and plan.count("Exchange") == 1
    general = _historical_union_merge(src, fs)
    assert sorted(fused.columns) == sorted(general.columns)
    assert _rows(fused) == _rows(general)


def test_same_ts_update_visible_in_fused_plan(spark):
    """A filtered feature's update AT the spine row's exact ts must be
    visible (ts' <= ts semantics) REGARDLESS of physical tie order —
    the fused plan's RANGE fill frame sees the same-ts update, and so
    does the fill of the keep_previous version pack (a plain
    ts-ordered rows-frame made it depend on arbitrary intra-tie
    ordering; caught by the adversarial exact-gate run, and an
    un-tiebroken lag chain by ADVICE r2)."""
    import datetime as dt

    from raptor_spark.specs import FeatureSetSpec, feature

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t, "c1", "purchase", 100.0),
        (2, t, "c1", "click", 7.0),       # same instant as the purchase
        (3, t - dt.timedelta(hours=1), "c1", "click", 3.0),
    ]
    fs = FeatureSetSpec(
        features=[
            feature("pid", "user", "id", filter="kind = 'purchase'"),
            feature("last_click", "user", "value",
                    staleness="2h", filter="kind = 'click'",
                    keep_previous=(1, "0")),
        ],
        key_feature="pid",
    )
    for order in ([0, 1, 2], [1, 0, 2], [2, 1, 0], [0, 2, 1], [2, 0, 1]):
        src = spark.createDataFrame(
            [rows[i] for i in order],
            "id long, ts timestamp, user string, kind string, value double",
        ).coalesce(1)
        out = get_historical(src, fs).collect()
        assert len(out) == 1, order
        # value: the same-ts click; prev1: the strictly-earlier click —
        # latest update includes the tied one, so the version chain
        # must count it (nondeterministic before the tie-order fix)
        assert out[0]["last_click"] == 7.0, order
        assert out[0]["last_click_prev1"] == 3.0, order


def test_aggregated_keep_previous_takes_general_path(spark):
    """keep_previous on an aggregated feature needs a second window
    pass — must take the general union-merge path and still compute."""
    from raptor_spark.specs import FeatureSetSpec, feature

    fs = FeatureSetSpec(
        features=[
            feature("turn_len", "conv_id", "cast(length(text) as double)",
                    staleness="1h"),
            feature("chars_1h", "conv_id", "cast(length(text) as double)",
                    aggr=["sum"], over="1h", keep_previous=(1, "0")),
        ],
        key_feature="turn_len",
    )
    src = transcripts(spark, n_convs=10)
    out = get_historical(src, fs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan  # general union-merge path
    assert out.count() == src.count()
    assert "chars_1h_sum_prev1" in out.columns
