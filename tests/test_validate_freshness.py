"""P9 plan-build type validation and W5 freshness flag.

The type rule runs inside both PIT plans: the fused plan (no spine)
and the as-of plan (explicit spine). A bad feature set must fail
while ``get_historical`` builds, on the driver, with no Spark job."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from raptor_spark.backfill import transcript_feature_set
from raptor_spark.operators.laglead import with_freshness_flag
from raptor_spark.plans.historical import get_historical
from raptor_spark.sources.transcripts import transcripts
from raptor_spark.specs import FeatureSetSpec, feature

from tests.conftest import jobs_in_group


def _with_key(spec):
    return FeatureSetSpec(
        features=[
            feature("turn_len", "conv_id", "cast(length(text) as double)",
                    staleness="1h"),
            spec,
        ],
        key_feature="turn_len",
    )


def _build_both_plans(spark, fs, raises=None, match=None):
    """Build ``fs`` through the fused plan and through the as-of plan
    (explicit spine), requiring ``raises`` from each build when given;
    either way the build must run no Spark job."""
    src = transcripts(spark, 3)
    spine = src.select("conv_id", "ts")
    for plan, kwargs in (("fused", {}), ("asof", {"spine": spine})):
        def build():
            if raises is None:
                return get_historical(src, fs, **kwargs)
            with pytest.raises(raises, match=match):
                get_historical(src, fs, **kwargs)

        _, jobs = jobs_in_group(spark, f"p9_{plan}_{id(fs)}", build)
        assert jobs == 0, plan


def test_numeric_aggr_over_string_rejected(spark):
    bad = feature("roles_sum", "conv_id", "role", aggr=["sum"], over="1h")
    _build_both_plans(spark, _with_key(bad), TypeError, "require a numeric value")


def test_count_over_string_ok(spark):
    ok = feature("roles_cnt", "conv_id", "role",
                 aggr=["count", "distinct_count"], over="1h")
    _build_both_plans(spark, _with_key(ok))


def test_unresolvable_expr_raises_at_build(spark):
    bad = feature("oops", "conv_id", "no_such_column + 1", staleness="1h")
    _build_both_plans(spark, _with_key(bad), AnalysisException)


def test_validate_feature_set(spark):
    _build_both_plans(spark, transcript_feature_set())


def test_freshness_flag(spark):
    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "2024-01-01 10:30:00"),
         ("2024-01-01 10:00:00", "2024-01-01 12:00:00")],
        "vts string, ats string",
    ).select(
        F.to_timestamp("vts").alias("vts"), F.to_timestamp("ats").alias("ats")
    )
    out = with_freshness_flag(df, "vts", "ats", 3_600_000_000)
    flags = [r["fresh"] for r in out.orderBy("ats").collect()]
    assert flags == [True, False]
