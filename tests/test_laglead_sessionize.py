"""lag/lead/keep_previous/valid_till + gap sessionization vs oracles."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from raptor_spark.operators.laglead import (
    latest_per_key,
    with_lags,
    with_leads,
    with_valid_till,
)
from raptor_spark.operators.sessionize import session_bounds, sessionize
from tests.oracles import keep_previous_at
from tests.oracles import sessionize as sessionize_oracle


def test_lag_lead_basic(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    got = (
        with_leads(
            with_lags(sdf, ["conv_id"], "ts", "role", 2, tiebreak="turn_idx"),
            ["conv_id"],
            "ts",
            "role",
            1,
            tiebreak="turn_idx",
        )
        .select("conv_id", "turn_idx", "role_prev1", "role_prev2", "role_next1")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    p = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    g = p.groupby("conv_id")["role"]
    exp1, exp2, expn = g.shift(1), g.shift(2), g.shift(-1)
    assert got["role_prev1"].fillna("∅").tolist() == exp1.fillna("∅").tolist()
    assert got["role_prev2"].fillna("∅").tolist() == exp2.fillna("∅").tolist()
    assert got["role_next1"].fillna("∅").tolist() == expn.fillna("∅").tolist()


def test_keep_previous_age_guard(spark):
    """Reference getter semantics (replay.py:246-261): @-1 is NULL when
    the previous value is older than ts_of_latest − 1·over."""
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 05:00:00", "2024-01-01 05:30:00"]
            ),
            "v": [1.0, 2.0, 3.0],
        }
    )
    over_us = 3600 * 1_000_000  # 1h
    sdf = spark.createDataFrame(pdf)
    got = (
        with_lags(sdf, ["k"], "ts", "v", 1, over_us=over_us)
        .orderBy("ts")
        .toPandas()
    )
    # row1: prev=1.0@00:00 but 00:00 < 05:00−1h ⇒ NULL
    # row2: prev=2.0@05:00, 05:00 ≥ 05:30−1h ⇒ valid
    assert pd.isna(got["v_prev1"][0])
    assert pd.isna(got["v_prev1"][1])
    assert got["v_prev1"][2] == 2.0
    # cross-check with the reference-recipe oracle at each row ts
    for i, row in pdf.iterrows():
        exp = keep_previous_at(
            pdf, {"k": "a"}, "ts", "v", row["ts"], 1, pd.Timedelta(hours=1)
        )
        g = got["v_prev1"][i]
        assert (pd.isna(g) and exp is None) or g == exp


def test_valid_till(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:30:00", "2024-01-01 00:00:00"]
            ),
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        with_valid_till(sdf, ["k"], "ts", 3600 * 1_000_000)
        .orderBy("k", "ts")
        .toPandas()
    )
    assert got["valid_till"].tolist() == list(
        pd.to_datetime(
            ["2024-01-01 00:30:00", "2024-01-01 01:30:00", "2024-01-01 01:00:00"]
        )
    )


def test_latest_per_key(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    got = (
        latest_per_key(
            sdf, ["conv_id"], F.col("ts").desc(), F.col("turn_idx").desc()
        )
        .select("conv_id", "turn_idx")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    exp = (
        pdf.sort_values(["conv_id", "ts", "turn_idx"])
        .groupby("conv_id")
        .tail(1)[["conv_id", "turn_idx"]]
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_sessionize_vs_oracle(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    gap_us = 30 * 60 * 1_000_000
    got = (
        sessionize(sdf, ["conv_id"], "ts", gap_us, tiebreak="turn_idx")
        .select("conv_id", "turn_idx", "session_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    p = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp_idx = sessionize_oracle(p, ["conv_id"], "ts", pd.Timedelta(minutes=30))
    assert got["session_idx"].tolist() == exp_idx.astype(int).tolist()
    # long-gap pattern: every 7th turn opens a session ⇒ >1 session/conv
    assert (
        got.groupby("conv_id")["session_idx"].max() > 0
    ).all(), "fixture should contain session breaks"
    assert got["session_id"].iloc[0] == got["conv_id"].iloc[0] + "#0"


def test_session_bounds(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    gap_us = 30 * 60 * 1_000_000
    s = sessionize(sdf, ["conv_id"], "ts", gap_us, tiebreak="turn_idx")
    got = session_bounds(s, ["conv_id"], "ts").toPandas()
    # total events preserved
    assert got["n_events"].sum() == len(pdf)
    # sessions don't overlap: end_i < start_{i+1} within a conv
    for _, grp in got.sort_values(["conv_id", "session_idx"]).groupby("conv_id"):
        starts = grp["session_start"].tolist()
        ends = grp["session_end"].tolist()
        for i in range(len(grp) - 1):
            assert ends[i] < starts[i + 1]
