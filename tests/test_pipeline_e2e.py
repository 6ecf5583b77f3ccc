"""End-to-end production line: STREAM ingest → bucket partials →
phase-2 merge → feature-values store → (a) PIT training set via
historical_from_store, (b) online serving via OnlineStore.

The flush sentinel (one far-future row per key) advances the watermark
so every real bucket dies and is emitted — the streaming analog of the
historian's shutdown flush (collect.go:72-145)."""

import datetime as dt

from pyspark.sql import functions as F

from raptor_spark.online import OnlineStore
from raptor_spark.operators.window_agg import merge_buckets, sliding_agg_bucketed
from raptor_spark.plans.historical import historical_from_store
from raptor_spark.sources.catalog import Catalog
from raptor_spark.sources.transcripts import transcripts
from raptor_spark.specs import FeatureSetSpec, feature
from raptor_spark.streaming.windows import (
    run_stream_to_memory,
    stream_bucket_partials,
)


def _rows(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_stream_to_store_to_training_and_serving(spark, tmp_path):
    src = transcripts(spark, 8)
    events = src.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    ).cache()
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    flush_ts = max_ts + dt.timedelta(hours=3)  # > staleness+grace
    sentinel = (
        events.select("conv_id").distinct()
        .select("conv_id", F.lit(flush_ts).alias("ts"),
                F.lit(None).cast("double").alias("value"))
    )
    path = str(tmp_path / "stream_in")
    events.unionByName(sentinel).write.parquet(path)

    # 1) stream ingest → watermarked bucket partials (all real buckets
    #    die thanks to the sentinel)
    stream = spark.readStream.schema(events.schema).parquet(path)
    partials = stream_bucket_partials(
        stream, ["conv_id"], "ts", "value",
        granularity="10m", staleness="1h", grace="10m",
    )
    run_stream_to_memory(partials, "e2e_buckets")
    streamed = spark.table("e2e_buckets")

    # 2) phase-2 merge over stream-produced buckets; drop the sentinel
    #    bucket (count 0 — its only row had a null value)
    merged = merge_buckets(
        streamed,
        ["conv_id"], over_us=3_600_000_000, granularity_us=600_000_000,
        fns=["sum", "avg"],
    ).filter(F.col("ts") <= F.lit(max_ts + dt.timedelta(minutes=10)))

    # 3) long layout → feature-values store (fqn partition per output)
    cat = Catalog(spark, root=str(tmp_path / "warehouse"))
    long_fv = merged.select(
        F.expr("stack(2, 'default.chars_1h+sum', sum, "
               "'default.chars_1h+avg', avg) as (fqn, value)"),
        F.col("conv_id").cast("string").alias("keys"),
        "ts",
    ).select("fqn", "keys", "ts", "value")
    cat.write_feature_values(long_fv, "features")

    # 4a) PIT training set from the store == recompute via the batch
    #     bucketed path joined as-of (same spine)
    chars_1h = feature(
        "chars_1h", "conv_id", "value", aggr=["sum", "avg"],
        over="1h", granularity="10m",
    )
    fs = FeatureSetSpec(features=[chars_1h], key_feature="chars_1h")
    spine = events.select("conv_id", "ts")
    from_store = historical_from_store(cat, "features", fs, spine)

    batch_fv = sliding_agg_bucketed(
        events, ["conv_id"], "ts", F.col("value"),
        3_600_000_000, 600_000_000, ["sum", "avg"], prefix="chars_1h_",
    ).select("conv_id", "ts", "chars_1h_sum", "chars_1h_avg")
    from raptor_spark.operators.asof import asof_join

    recomputed = asof_join(
        spine, batch_fv, ["conv_id"], "ts",
        ["chars_1h_sum", "chars_1h_avg"],
        staleness_us=3_600_000_000,
    )
    assert _rows(from_store) == _rows(recomputed)
    assert from_store.filter(F.col("chars_1h_sum").isNotNull()).count() > 0

    # 4b) online serving from the same store: newest merged value per key
    store = OnlineStore(spark, str(tmp_path / "online"))
    store.materialize(spark.read.parquet(str(tmp_path / "warehouse/features")).drop("pday"))
    k = "conv_00000003"
    newest = (
        merged.filter(F.col("conv_id") == k)
        .orderBy(F.col("ts").desc())
        .first()
    )
    got = store.get(["default.chars_1h+sum"], k)
    assert got["default.chars_1h+sum"] == newest["sum"]
