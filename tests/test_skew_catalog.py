"""Skew handling (salted two-level agg on Zipf-hot conversations) and
the table-format catalog layer."""

import pytest
from pyspark.sql import functions as F

from raptor_spark.operators.skew import salted_agg
from raptor_spark.sources.catalog import Catalog, iceberg_available
from raptor_spark.sources.transcripts import transcripts


@pytest.fixture(scope="module")
def skewed(spark):
    # conv 0: 50k turns, convs 1-9: 5k, rest tiny (Zipf-like fixture)
    return transcripts(spark, n_convs=40, skew=True).cache()


class TestSkew:
    def test_salted_agg_matches_plain(self, spark, skewed):
        df = skewed.select("conv_id", F.length("text").cast("double").alias("v"))
        salted = salted_agg(df, ["conv_id"], "v", ["count", "sum", "min", "max", "avg"])
        plain = df.groupBy("conv_id").agg(
            F.count("v").cast("double").alias("count"),
            F.sum("v").cast("double").alias("sum"),
            F.min("v").cast("double").alias("min"),
            F.max("v").cast("double").alias("max"),
            (F.sum("v") / F.count("v")).cast("double").alias("avg"),
        )
        cols = ["conv_id", "count", "sum", "min", "max", "avg"]
        a = [tuple(r) for r in salted.select(*cols).orderBy("conv_id").collect()]
        b = [tuple(r) for r in plain.select(*cols).orderBy("conv_id").collect()]
        for ra, rb in zip(a, b):
            assert ra[0] == rb[0]
            for x, y in zip(ra[1:], rb[1:]):
                assert x == pytest.approx(y, rel=1e-9)

    def test_salted_partials_spread(self, spark, skewed):
        """The hot key's rows must land in multiple salt groups under
        the data-derived salt (hash of all columns)."""
        df = skewed.select(
            "conv_id", "ts", F.length("text").cast("double").alias("v")
        )
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(32))
        n_groups = (
            df.filter(F.col("conv_id") == "conv_00000000")
            .withColumn("_salt", salt)
            .select("_salt")
            .distinct()
            .count()
        )
        assert n_groups > 1

    def test_salted_agg_deterministic_across_partitioning(self, spark, skewed):
        """Bit-exact equality of DECIMAL-partial salted aggs across
        different physical layouts (the round-1 hash-gate failure mode:
        placement-derived salt + double partials drifted per run)."""
        df = skewed.select(
            "conv_id", "ts", F.length("text").cast("decimal(18,2)").alias("v")
        )
        def run(d):
            out = salted_agg(d, ["conv_id"], "v", ["sum", "avg"], salt_source="ts")
            return out.agg(
                F.bit_xor(F.xxhash64("conv_id", "sum", "avg")).alias("h")
            ).collect()[0]["h"]
        h1 = run(df)
        h2 = run(df.repartition(3))
        h3 = run(df.repartition(64, "ts").sortWithinPartitions(F.desc("ts")))
        assert h1 == h2 == h3

    def test_salted_agg_equals_bucketed_merge_on_decimal(self, spark, skewed):
        """salted_agg and sliding_agg_bucketed share one partial list and
        one merge: on the same DECIMAL input, the bucketed window whose
        span covers every row of a key (its last bucket) gives the
        salted per-key sum and avg bit for bit."""
        from raptor_spark.operators.window_agg import sliding_agg_bucketed

        df = skewed.select(
            "conv_id", "ts", (F.length("text") / 7).cast("decimal(18,6)").alias("v")
        )
        lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
        hour_us = 3_600_000_000
        span_us = int((hi - lo).total_seconds() * 1_000_000) + 2 * hour_us
        salted = salted_agg(df, ["conv_id"], "v", ["sum", "avg"], salt_source="ts")
        bucketed = sliding_agg_bucketed(
            df, ["conv_id"], "ts", "v", span_us, hour_us, ["sum", "avg"]
        )
        last = bucketed.groupBy("conv_id").agg(
            F.max_by(F.struct("sum", "avg"), "ts").alias("m")
        ).select("conv_id", "m.sum", "m.avg")
        want = {tuple(r) for r in salted.collect()}
        assert {tuple(r) for r in last.collect()} == want
        assert len(want) == 40


class TestSkewedHistorical:
    def test_fused_backfill_on_zipf_data(self, spark, skewed):
        """End-to-end PIT plan over the Zipf fixture (one 50k-turn
        conversation): completes, row-complete, fused == general."""
        from raptor_spark.backfill import transcript_feature_set
        from raptor_spark.plans.historical import (
            _historical_union_merge,
            get_historical,
        )

        fs = transcript_feature_set()
        fused = get_historical(skewed, fs)
        assert fused.count() == skewed.count()
        hot = fused.filter(F.col("conv_id") == "conv_00000000")
        assert hot.count() == 50_000
        # spot-check the hot conversation against the general path
        gen_hot = _historical_union_merge(skewed, fs).filter(
            F.col("conv_id") == "conv_00000000"
        )
        cols = sorted(fused.columns)
        a = [tuple(r) for r in hot.select(*cols).orderBy("ts").limit(2000).collect()]
        b = [tuple(r) for r in gen_hot.select(*cols).orderBy("ts").limit(2000).collect()]
        assert a == b


class TestCatalog:
    def test_parquet_roundtrip_and_prune(self, spark, tmp_path):
        src = transcripts(spark, n_convs=20)
        cat = Catalog(spark, root=str(tmp_path), n_buckets=8)
        cat.write_transcripts(src, "transcripts")
        back = cat.read("transcripts")
        assert sorted(back.columns) == sorted(src.columns)
        assert back.count() == src.count()

        # a key's bucket predicate prunes the scan to 1 of 8 bucket dirs
        # (the pbucket layout a backfill shards on, shard_col="pbucket")
        bucket = F.pmod(F.xxhash64(F.lit("conv_00000003")), F.lit(8))
        one = (
            cat.read("transcripts", with_partition_cols=True)
            .filter(F.col("pbucket") == bucket)
            .filter(F.col("conv_id") == "conv_00000003")
        )
        want = src.filter(F.col("conv_id") == "conv_00000003")
        assert one.count() == want.count()
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "pbucket" in plan

    def test_iceberg_not_available_is_detected(self, spark):
        assert not iceberg_available(spark)
        with pytest.raises(RuntimeError, match="iceberg"):
            Catalog(spark, root="/tmp/x", kind="iceberg")
