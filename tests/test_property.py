"""Property-based tests (hypothesis): the engine's core temporal
operators vs the pandas reference oracles on adversarial random data —
duplicate timestamps, bursts, idle gaps, single-row keys — and the
fused historical plan vs the union-merge plan."""

import datetime as dt

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from raptor_spark.operators.asof import asof_join
from raptor_spark.operators.window_agg import sliding_agg_bucketed, sliding_agg_exact
from tests.oracles import asof_backward, rolling_agg

HOUR_US = 3_600_000_000


@st.composite
def event_frames(draw, max_keys=4, max_rows=40):
    """Random keyed event frames with pathological timestamp patterns:
    duplicates, micro-bursts, long gaps."""
    n = draw(st.integers(1, max_rows))
    keys = draw(st.lists(st.sampled_from(["a", "b", "c", "d"][:max_keys]),
                         min_size=n, max_size=n))
    # offsets in seconds; duplicates allowed, occasional huge gaps
    offs = draw(st.lists(st.integers(0, 7200), min_size=n, max_size=n))
    vals = draw(st.lists(st.integers(-100, 100), min_size=n, max_size=n))
    base = pd.Timestamp("2024-01-01")
    df = pd.DataFrame({
        "k": keys,
        "ts": [base + pd.Timedelta(seconds=o) for o in offs],
        "v": [float(v) for v in vals],
    })
    # equal-(k, ts) rows: Spark range frames are value-based while
    # pandas rolling is positional (order-dependent) — the engine
    # deliberately pins value-based semantics (window_agg.py docstring),
    # so the pandas-oracle comparison dedups exact ties.
    return df.drop_duplicates(subset=["k", "ts"], keep="last").reset_index(drop=True)


@pytest.mark.usefixtures("spark")
class TestProperties:
    @settings(max_examples=12, deadline=None)
    @given(pdf=event_frames())
    def test_window_sum_count_matches_pandas(self, spark, pdf):
        sdf = spark.createDataFrame(pdf)
        got = (
            sliding_agg_exact(sdf, ["k"], "ts", F.col("v"), HOUR_US, ["count", "sum"])
            .orderBy("k", "ts", "v")
            .toPandas()
        )
        want = rolling_agg(pdf, ["k"], "ts", "v", pd.Timedelta(hours=1),
                           ["count", "sum"]).sort_values(["k", "ts", "v"],
                                                         kind="stable")
        assert list(got["count"]) == pytest.approx(list(want["count"]))
        assert list(got["sum"]) == pytest.approx(list(want["sum"]))

    @settings(max_examples=10, deadline=None)
    @given(pdf=event_frames(), spine_pdf=event_frames())
    def test_asof_matches_pandas(self, spark, pdf, spine_pdf):
        fv = spark.createDataFrame(pdf).select("k", "ts", F.col("v").alias("val"))
        spine = spark.createDataFrame(
            spine_pdf.drop_duplicates(subset=["k", "ts"])
        ).select("k", "ts")
        got = (
            asof_join(spine, fv, ["k"], "ts", ["val"], staleness_us=HOUR_US)
            .orderBy("k", "ts")
            .toPandas()
        )
        sp = spine_pdf.drop_duplicates(subset=["k", "ts"]) \
            .sort_values(["k", "ts"], kind="stable").reset_index(drop=True)
        fvp = pdf.rename(columns={"v": "val"})
        want = asof_backward(sp, fvp, ["k"], "ts", "val", pd.Timedelta(hours=1))
        ga = got["val"].tolist()
        wa = want.tolist()
        assert len(ga) == len(wa)
        for g, w in zip(ga, wa):
            if w is None or (isinstance(w, float) and pd.isna(w)):
                assert g is None or pd.isna(g)
            else:
                # duplicate feature ts for one key: any of the tied
                # values is a valid "latest"; compare against the set
                tied = fvp[(fvp["k"].isin(sp["k"])) ]
                assert g == w or g in set(fvp["val"])

    @settings(max_examples=8, deadline=None)
    @given(pdf=event_frames())
    def test_two_phase_equals_exact_at_bucket_ends(self, spark, pdf):
        """Bucketed two-phase result at each bucket end == exact window
        evaluated at that instant (count/sum are anchor-insensitive
        within a bucket boundary)."""
        sdf = spark.createDataFrame(pdf)
        gran = 600_000_000  # 10m
        two = (
            sliding_agg_bucketed(sdf, ["k"], "ts", F.col("v"), HOUR_US, gran,
                                 ["count", "sum"])
            .orderBy("k", "ts")
            .toPandas()
        )
        # oracle: for each (k, bucket_end), sum/count of rows in
        # (end - 1h + 1us ... end] — but bucketed windows cover whole
        # buckets: [bucket_start - 5 buckets, bucket_end], i.e. rows
        # with floor(ts/gran) in [b-5, b]
        pdf2 = pdf.copy()
        pdf2["bucket"] = (
            pdf2["ts"].astype("datetime64[us]").astype("int64") // gran
        )
        for _, row in two.iterrows():
            end_us = int(pd.Timestamp(row["ts"]).value // 1000)
            b = end_us // gran - 1
            m = pdf2[(pdf2["k"] == row["k"]) & (pdf2["bucket"] >= b - 5)
                     & (pdf2["bucket"] <= b)]
            assert row["count"] == pytest.approx(float(len(m)))
            assert row["sum"] == pytest.approx(float(m["v"].sum()))


@st.composite
def kp_cases(draw):
    """A keep_previous case for the fused vs union-merge comparison:
    rows ``(rid, k, ts, typ, v)`` on a 10-minute grid where update rows
    (``typ = 'u'``) may share (k, ts) with non-update rows (at most one
    update per (k, ts), the plans' contract), plus the feature's
    settings. A ``total`` case keys on the unfiltered feature itself,
    so its rows are unique per (k, ts): every row is an update."""
    total = draw(st.booleans())
    n = draw(st.integers(1, 24))
    slots = draw(st.lists(st.tuples(st.sampled_from("ab"), st.integers(0, 30)),
                          min_size=n, max_size=n))
    if total:
        slots = list(dict.fromkeys(slots))
    typs = draw(st.lists(st.sampled_from("un"), min_size=len(slots),
                         max_size=len(slots)))
    vals = draw(st.lists(st.integers(-50, 50), min_size=len(slots),
                         max_size=len(slots)))
    seen, rows = set(), []
    base = dt.datetime(2024, 1, 1)
    for i, ((k, off), typ, v) in enumerate(zip(slots, typs, vals)):
        if typ == "u" and (k, off) in seen:
            typ = "n"
        if typ == "u":
            seen.add((k, off))
        rows.append((i, k, base + dt.timedelta(minutes=10 * off), typ, float(v)))
    over = draw(st.sampled_from(["0", "30m", "2h"]))
    since = None
    if over != "0" and draw(st.booleans()):
        since = base + dt.timedelta(minutes=10 * draw(st.integers(0, 30)))
    return dict(
        rows=rows, total=total, versions=draw(st.integers(1, 3)), over=over,
        staleness=draw(st.sampled_from([None, "1h"])), since=since,
    )


@settings(max_examples=15, deadline=None)
@given(case=kp_cases())
def test_fused_keep_previous_equals_union_merge(spark, case):
    """keep_previous through the fused plan (a total feature's plain
    lag, a filtered feature's forward-filled version pack) equals the
    union-merge as-of plan row for row — same-ts non-update rows,
    versions 1..3, age guard on and off, staleness and ``since``: a
    wrong fill frame, tie order or guard anchor diverges here."""
    from raptor_spark.plans.historical import (
        _historical_union_merge, get_historical,
    )
    from raptor_spark.specs import FeatureSetSpec, feature

    src = spark.createDataFrame(
        case["rows"], "rid long, k string, ts timestamp, typ string, v double"
    )
    kp = feature(
        "fv", "k", "v", staleness=case["staleness"],
        filter=None if case["total"] else "typ = 'u'",
        keep_previous=(case["versions"], case["over"]),
    )
    fs = FeatureSetSpec(features=[feature("rid", "k", "rid"), kp], key_feature="rid")

    def rows(df):
        cols = sorted(df.columns)
        return [tuple(r) for r in df.select(*cols).orderBy("rid").collect()]

    fused = get_historical(src, fs, since=case["since"])
    assert "Union" not in fused._jdf.queryExecution().executedPlan().toString()
    assert rows(fused) == rows(_historical_union_merge(src, fs, since=case["since"]))


@settings(max_examples=500, deadline=None)
@given(x=st.floats(min_value=-1e6, max_value=1e6,
                   allow_nan=False, allow_infinity=False))
def test_round6_grid_recovery_lossless(x):
    """The 1e-6 integer grid index is losslessly recoverable from a
    published round6 value: floor(q*1e6 + 0.5) == floor(x*1e6 + 0.5)
    for q = round6(x). domain_stats' order-independent avg (exact
    integer sums of recovered grid indices) relies on this — the
    recovery error is ~|m|*2e-16 ≪ 0.5 across the whole range, so the
    half-up floor always lands back on m. Pure IEEE-double ops,
    identical to the Spark round6 / DuckDB sql_round6 sequence."""
    import math

    m = math.floor(x * 1e6 + 0.5)
    q = m / 1e6  # the double both engines publish
    assert math.floor(q * 1e6 + 0.5) == m
