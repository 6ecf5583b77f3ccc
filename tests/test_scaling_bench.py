"""In-process test of ``tools/scaling_bench.py``'s status-store
collector, on the session's own SparkContext (no new JVM)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.scaling_bench import _stage_totals


def test_stage_totals_grow_with_a_shuffle(spark):
    # The session's status store keeps at most spark.ui.retainedStages
    # stages; evicting old ones between the two reads lowers the sums.
    # An eviction drops at least a tenth of that limit, so it cannot hit
    # every one of three consecutive two-stage read pairs.
    for _ in range(3):
        base = _stage_totals(spark)
        spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        after = _stage_totals(spark)
        if all(after[k] >= base[k] for k in base):
            break
    assert set(after) == {"shuffle_read", "shuffle_write", "mem_spill", "disk_spill"}
    assert after["shuffle_write"] > base["shuffle_write"]
    assert all(after[k] >= base[k] for k in base), (base, after)
