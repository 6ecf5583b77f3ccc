"""End-to-end FeatureSet.get_historical vs a composed pandas oracle:
replay per feature (reference recipes) → backward as-of per spine row.
Plus the adversarial leakage probe of SURVEY.md §5."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from raptor_spark.specs import FeatureSetSpec, feature
from raptor_spark.plans.historical import get_historical
from raptor_spark.plans.replay import replay, replay_wide
from tests.oracles import asof_backward, rolling_agg

TURN_LEN = feature(
    "turn_len",
    "conv_id",
    "cast(length(text) as double)",
    staleness="30m",
)
TURNS_10M = feature(
    "turns_10m",
    "conv_id",
    "cast(1 as double)",
    aggr=["count"],
    over="10m",
    granularity="1m",
)
CHARS_1H = feature(
    "chars_1h",
    "conv_id",
    "cast(length(text) as double)",
    aggr=["sum", "avg", "max", "min"],
    over="1h",
    granularity="5m",
)
PREV_ROLE = feature("prev_role", "conv_id", "role", keep_previous=(1, "0"))


def test_replay_long_format(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    fv = replay(sdf, TURNS_10M).toPandas()
    assert set(fv.columns) == {"fqn", "keys", "ts", "value"}
    assert (fv["fqn"] == "default.turns_10m+count").all()
    assert fv["keys"].str.startswith("conv_").all()
    exp = rolling_agg(
        pdf.assign(v=1.0), ["conv_id"], "ts", "v", pd.Timedelta(minutes=10), ["count"]
    )
    got = fv.sort_values(["keys", "ts"]).reset_index(drop=True)
    exp = exp.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert np.allclose(got["value"].values, exp["count"].values)


def test_get_historical_wide(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    fs = FeatureSetSpec(features=[TURNS_10M, TURN_LEN, CHARS_1H], key_feature="turns_10m")
    wide = (
        get_historical(sdf, fs)
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    assert {"conv_id", "ts", "turns_10m_count", "turn_len", "chars_1h_sum"} <= set(
        wide.columns
    )
    # spine = every turn (count feature emits per event)
    assert len(wide) == len(pdf)

    # oracle: turn_len as-of (staleness 30m)
    exp = wide[["conv_id", "ts"]].copy()
    fvp = pdf.assign(turn_len=pdf["text"].str.len().astype(float))
    exp["turn_len"] = asof_backward(
        exp, fvp, ["conv_id"], "ts", "turn_len", pd.Timedelta(minutes=30)
    )
    a = wide["turn_len"].astype(float).values
    b = exp["turn_len"].astype(float).values
    assert np.array_equal(np.isnan(a), np.isnan(b))
    assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)])

    # oracle: chars_1h sum (windowed feature values land on their own
    # event rows, and the spine ts set == event ts set here)
    roll = rolling_agg(
        fvp, ["conv_id"], "ts", "turn_len", pd.Timedelta(hours=1), ["sum", "avg"]
    ).sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert np.allclose(wide["chars_1h_sum"].values, roll["sum"].values)
    assert np.allclose(wide["chars_1h_avg"].values, roll["avg"].values)


def test_get_historical_custom_spine_and_range(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    since = dt.datetime(2023, 11, 15, 0, 0, 0)
    until = dt.datetime(2023, 11, 16, 0, 0, 0)
    spine = sdf.filter(
        (F.col("role") == "user") & (F.col("ts") >= F.lit(since)) & (F.col("ts") <= F.lit(until))
    ).select("conv_id", "turn_idx", "ts")
    fs = FeatureSetSpec(features=[CHARS_1H], key_feature="chars_1h")
    wide = get_historical(sdf, fs, spine=spine, since=since, until=until).toPandas()
    n_expected = len(
        pdf[(pdf["role"] == "user") & (pdf["ts"] >= since) & (pdf["ts"] <= until)]
    )
    assert len(wide) == n_expected
    # window padding: features just before `since` must still be seen —
    # values at range start must not be artificially null
    assert wide["chars_1h_sum"].notna().all()


def test_heterogeneous_key_families(spark, transcripts_pair):
    """Features keyed by a DIFFERENT entity than the spine run their
    own as-of pass (per key family) and join back on (keys, ts). The
    spine must carry the foreign key column (here: role)."""
    sdf, pdf = transcripts_pair
    role_len = feature(
        "role_len", "role", "cast(length(text) as double)", staleness="30m"
    )
    fs = FeatureSetSpec(features=[TURN_LEN, role_len], key_feature="turn_len")
    spine = sdf.select("conv_id", "role", "ts")
    wide = (
        get_historical(sdf, fs, spine=spine)
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    assert {"conv_id", "role", "ts", "turn_len", "role_len"} <= set(wide.columns)
    assert len(wide) == len(pdf)
    # oracle: per-ROLE as-of of length (staleness 30m), pandas
    fvp = pdf.assign(role_len=pdf["text"].str.len().astype(float))
    exp = wide[["role", "ts"]].copy()
    exp["role_len"] = asof_backward(
        exp, fvp, ["role"], "ts", "role_len", pd.Timedelta(minutes=30)
    )
    a = wide["role_len"].astype(float).values
    b = exp["role_len"].astype(float).values
    assert np.array_equal(np.isnan(a), np.isnan(b))
    assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)])


def test_heterogeneous_key_missing_spine_column_raises(
    spark, transcripts_pair, tmp_path
):
    """Recompute and store read raise the same error when the spine
    lacks a foreign family's key column."""
    import pytest

    from raptor_spark.plans.historical import historical_from_store
    from raptor_spark.plans.replay import replay
    from raptor_spark.sources.catalog import Catalog

    sdf, _ = transcripts_pair
    role_len = feature(
        "role_len", "role", "cast(length(text) as double)", staleness="30m"
    )
    fs = FeatureSetSpec(features=[TURN_LEN, role_len], key_feature="turn_len")
    spine = sdf.select("conv_id", "ts")  # lacks 'role'
    with pytest.raises(ValueError, match="spine lacks column"):
        get_historical(sdf, fs, spine=spine)

    cat = Catalog(spark, root=str(tmp_path))
    for spec in fs.features:
        cat.write_feature_values(replay(sdf, spec), "features")
    with pytest.raises(ValueError, match="spine lacks column"):
        historical_from_store(cat, "features", fs, spine)


def test_keep_previous_in_historical(spark, transcripts_pair):
    sdf, pdf = transcripts_pair
    fs = FeatureSetSpec(features=[TURNS_10M, PREV_ROLE], key_feature="turns_10m")
    wide = (
        get_historical(sdf, fs)
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    assert "prev_role" in wide.columns and "prev_role_prev1" in wide.columns
    p = pdf.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    exp_prev = p.groupby("conv_id")["role"].shift(1)
    assert (
        wide["prev_role_prev1"].fillna("∅").tolist() == exp_prev.fillna("∅").tolist()
    )


def test_leakage_probe_historical(spark):
    """Sentinel rows at known FUTURE timestamps must not alter any
    feature vector at an earlier query time (FIXTURES.md oracle spec)."""
    base = pd.DataFrame(
        {
            "conv_id": ["c1"] * 4,
            "turn_idx": range(4),
            "role": ["user"] * 4,
            "text": ["aa", "bbbb", "cccccc", "dd"],
            "tool": [None] * 4,
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",
                    "2024-01-01 00:05:00",
                    "2024-01-01 00:10:00",
                    "2024-01-01 00:15:00",
                ]
            ),
        }
    )
    future = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [4],
            "role": ["user"],
            "text": ["X" * 1000],  # huge sentinel
            "tool": [None],
            "ts": pd.to_datetime(["2024-01-01 00:15:00.000001"]),
        }
    )
    fs = FeatureSetSpec(
        features=[TURNS_10M, TURN_LEN, CHARS_1H], key_feature="turns_10m"
    )
    w1 = (
        get_historical(spark.createDataFrame(base), fs)
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    w2 = (
        get_historical(spark.createDataFrame(pd.concat([base, future])), fs)
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    w2_trunc = w2[w2["ts"] <= base["ts"].max()].reset_index(drop=True)
    pd.testing.assert_frame_equal(w1, w2_trunc)
