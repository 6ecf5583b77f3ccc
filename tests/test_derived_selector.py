"""Derived (sourceless) features."""

import pytest
from pyspark.sql import functions as F

from raptor_spark.plans.historical import get_historical
from raptor_spark.sources.transcripts import transcripts
from raptor_spark.specs import FeatureSetSpec, feature


@pytest.fixture(scope="module")
def fs():
    return FeatureSetSpec(
        features=[
            feature("turn_len", "conv_id", "cast(length(text) as double)",
                    staleness="1h", keep_previous=(1, "1h")),
            feature("turns_10m", "conv_id", "1", aggr=["count"], over="10m"),
            # derived: expr over other features' wide columns (J4/S6)
            feature("len_per_turn", "conv_id",
                    "turn_len / turns_10m_count", inputs=["turn_len", "turns_10m"]),
            # second-order derived (depends on a derived feature)
            feature("len_per_turn_sq", "conv_id",
                    "len_per_turn * len_per_turn", inputs=["len_per_turn"]),
        ],
        key_feature="turn_len",
    )


def test_derived_values(spark, fs):
    src = transcripts(spark, n_convs=10)
    out = get_historical(src, fs)
    assert "len_per_turn" in out.columns and "len_per_turn_sq" in out.columns
    bad = out.filter(
        (F.col("len_per_turn") != F.col("turn_len") / F.col("turns_10m_count"))
        | (F.col("len_per_turn_sq") != F.col("len_per_turn") ** 2)
    ).count()
    assert bad == 0


def test_derived_cycle_raises(spark):
    fs = FeatureSetSpec(
        features=[
            feature("a", "conv_id", "1", staleness="1h"),
            feature("b", "conv_id", "c + 1", inputs=["c"]),
            feature("c", "conv_id", "b + 1", inputs=["b"]),
        ],
        key_feature="a",
    )
    with pytest.raises(ValueError, match="unresolvable"):
        get_historical(transcripts(spark, 2), fs)


def test_derived_with_window_rejected():
    with pytest.raises(ValueError, match="derived"):
        feature("x", "conv_id", "y", inputs=["y"], aggr=["sum"], over="1h")
