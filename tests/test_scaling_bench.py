"""In-process test of ``tools/scaling_bench.py``'s status-store
collector, on the session's own SparkContext (no new JVM)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import jobs_in_group
from tools.scaling_bench import _stage_totals


def test_stage_totals_grow_with_a_shuffle(spark):
    jobs_in_group(spark, "stage_totals_grow",
                  spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect)
    tot = _stage_totals(spark, "stage_totals_grow")
    assert set(tot) == {"shuffle_read", "shuffle_write", "mem_spill", "disk_spill"}
    assert tot["shuffle_write"] > 0 and tot["shuffle_read"] > 0


def test_stage_totals_counts_only_its_group(spark):
    jobs_in_group(spark, "stage_totals_a",
                  spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect)
    jobs_in_group(spark, "stage_totals_b",
                  spark.range(1_000).where(F.col("id") % 3 == 0).collect)
    a = _stage_totals(spark, "stage_totals_a")
    # a later shuffle in another group adds nothing to group a's sums
    jobs_in_group(spark, "stage_totals_c",
                  spark.range(20_000).groupBy((F.col("id") % 5).alias("k")).count().collect)
    assert a["shuffle_write"] > 0
    assert _stage_totals(spark, "stage_totals_a") == a
    assert _stage_totals(spark, "stage_totals_b")["shuffle_write"] == 0
    assert _stage_totals(spark, "no_such_group") == dict.fromkeys(a, 0)
