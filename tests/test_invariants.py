"""North-rule invariants (BASELINE.json input_hint):

- per-turn TEXT equality under stable (conv_id, turn_idx) ordering —
  the engine/generator must never corrupt, reorder, or drop turns;
- feature vectors allclose per entity x timestamp (covered per-operator
  in test_historical/test_fused; here end-to-end through the sharded
  backfill driver);
- fused == general on the filtered-key-feature (events flagship) shape.
"""

import numpy as np
from pyspark.sql import functions as F

from raptor_spark.plans.historical import _historical_union_merge, get_historical
from raptor_spark.sources.transcripts import transcripts, transcripts_pandas
from raptor_spark.specs import FeatureSetSpec, feature


def test_per_turn_text_equality(spark):
    """Spark-generated transcripts == pandas twin, row-for-row under
    stable (conv_id, turn_idx) order — text byte-identical."""
    sdf = (
        transcripts(spark, 25)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pdf = transcripts_pandas(25).sort_values(
        ["conv_id", "turn_idx"], kind="stable"
    ).reset_index(drop=True)
    assert len(sdf) == len(pdf)
    assert (sdf["conv_id"] == pdf["conv_id"]).all()
    assert (sdf["turn_idx"].to_numpy() == pdf["turn_idx"].to_numpy()).all()
    assert (sdf["text"] == pdf["text"]).all()
    assert (sdf["role"] == pdf["role"]).all()
    assert (
        sdf["ts"].astype("datetime64[us]") == pdf["ts"].astype("datetime64[us]")
    ).all()


def test_pipeline_preserves_turn_text(spark):
    """Carrying text THROUGH a feature plan (text as a feature value)
    keeps every turn's text intact under stable ordering."""
    src = transcripts(spark, 12)
    fs = FeatureSetSpec(
        features=[
            feature("turn_text", "conv_id", "text", staleness="1h"),
            feature("turns_10m", "conv_id", "1", aggr=["count"], over="10m"),
        ],
        key_feature="turn_text",
    )
    out = get_historical(src, fs).orderBy("conv_id", "ts")
    orig = src.orderBy("conv_id", "ts")
    got = [r["turn_text"] for r in out.select("turn_text").collect()]
    want = [r["text"] for r in orig.select("text").collect()]
    assert got == want


def test_fused_equals_general_filtered_key(spark):
    """The events-flagship shape: filtered key feature (spine subset),
    filtered plain + filtered aggr + plain aggr features."""
    src = transcripts(spark, 20).withColumn(
        "v", F.length("text").cast("double")
    )
    fs = FeatureSetSpec(
        features=[
            feature("tool_turn", "conv_id", "turn_idx",
                    filter="role = 'tool'"),
            feature("last_user_len", "conv_id", "v",
                    staleness="1h", filter="role = 'user'"),
            feature("tool_calls_2h", "conv_id", "1", aggr=["count"],
                    over="2h", filter="role = 'tool'"),
            feature("len_30m", "conv_id", "v", aggr=["avg", "max"],
                    over="30m"),
        ],
        key_feature="tool_turn",
    )
    cols_sorted = None
    frames = {}
    for plan in (get_historical, _historical_union_merge):
        df = plan(src, fs)
        cols_sorted = sorted(df.columns)
        frames[plan] = (
            df.select(*cols_sorted).orderBy(*cols_sorted).toPandas()
        )
    a, b = frames[get_historical], frames[_historical_union_merge]
    assert len(a) == len(b) and len(a) > 0
    for c in cols_sorted:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f":
            na, nb = np.isnan(av.astype(float)), np.isnan(bv.astype(float))
            assert (na == nb).all()
            assert np.allclose(av[~na].astype(float), bv[~nb].astype(float))
        else:
            assert (av == bv).all(), c


def test_backfill_vectors_allclose_end_to_end(spark, tmp_path):
    """Sharded-driver output vectors allclose to the one-shot plan per
    (conv_id, ts) — the north rule's acceptance shape."""
    from raptor_spark.backfill import backfill, read_backfill, transcript_feature_set

    src = transcripts(spark, 15)
    fs = transcript_feature_set()
    out = str(tmp_path / "bf")
    backfill(spark, src, fs, out, n_shards=4, source_id="inv")
    cols = ["conv_id", "ts", "turn_len", "turns_10m_count",
            "tool_calls_1h_count", "turn_len_stats_30m_avg"]
    a = read_backfill(spark, out).select(*cols).orderBy("conv_id", "ts").toPandas()
    b = get_historical(src, fs).select(*cols).orderBy("conv_id", "ts").toPandas()
    assert (a["conv_id"] == b["conv_id"]).all()
    for c in cols[2:]:
        av = a[c].astype(float).to_numpy()
        bv = b[c].astype(float).to_numpy()
        na, nb = np.isnan(av), np.isnan(bv)
        assert (na == nb).all()
        assert np.allclose(av[~na], bv[~nb])
