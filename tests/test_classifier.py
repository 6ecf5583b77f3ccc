"""Trained quality classifier (functions/classifier.py): gradient
descent replayed driver-local over a bounded first-ids sample. The
DuckDB iteration replay is pinned by the quality_classifier oracle row;
here we pin the engine-independent properties: bit-determinism vs an
independent numpy replay, learnability, the bounded-sample contract,
and one Spark job per fit.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from raptor_spark.functions.classifier import (
    FEATURE_NAMES,
    fast_sigmoid,
    quality_classifier_fit,
    quality_classifier_score,
)
from tests.conftest import jobs_in_group

QUANT = 1 << 20


def _docs(spark, n=120):
    # deterministic synthetic docs: even ids are long+clean (label 1),
    # odd ids short+shouty (label 0)
    rows = []
    for i in range(n):
        if i % 2 == 0:
            rows.append((i, ("good clean prose sentence " * 15).strip(), 1))
        else:
            rows.append((i, "SPAM!!! BUY NOW!!!", 0))
    return spark.createDataFrame(rows, ["doc_id", "text", "y"])


def _round6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def _numpy_replay(texts, ys, iters=3, lr=1.0):
    """Independent replay of the training recipe in numpy — same
    round6 features, fast sigmoid, floor-quantized integer gradient
    sums, round6 updates."""

    def feats(t):
        n = len(t)
        alpha = sum(ch.isalpha() and ch.isascii() for ch in t)
        upper = sum("A" <= ch <= "Z" for ch in t)
        punct = sum(ch in ".,!?;:" for ch in t)
        return [
            1.0,
            _round6(alpha / n if n else 0.0),
            _round6(min(n / 500.0, 1.0)),
            _round6(upper / n if n else 0.0),
            _round6(punct / n if n else 0.0),
        ]

    X = np.array([feats(t) for t in texts], dtype=np.float64)
    y = np.array(ys, dtype=np.float64)
    w = np.zeros(5)
    for _ in range(iters):
        # explicit left-assoc fold — np.dot's summation order is not
        # the engine's w0*x0 + w1*x1 + … and can differ by 1 ulp
        z = np.zeros(len(y))
        for j in range(5):
            z = z + w[j] * X[:, j]
        s = 0.5 + z / (2.0 * (1.0 + np.abs(z)))
        r = s - y
        sums = np.floor(r[:, None] * X * float(QUANT)).astype(np.int64).sum(0)
        w = np.array(
            [
                _round6(w[j] - lr * (float(sums[j]) / QUANT / len(y)))
                for j in range(5)
            ]
        )
    return list(w)


class TestQualityClassifier:
    def test_weights_match_numpy_replay_bit_for_bit(self, spark):
        df = _docs(spark)
        w_spark = quality_classifier_fit(
            df, F.col("y").cast("double"), sample_n=120, iters=3
        )
        rows = sorted(
            df.select("doc_id", "text", "y").collect(),
            key=lambda r: r["doc_id"],
        )
        w_np = _numpy_replay([r["text"] for r in rows], [r["y"] for r in rows])
        assert w_spark == w_np  # exact float equality, not approx

    def test_learns_the_separable_label(self, spark):
        df = _docs(spark)
        w = quality_classifier_fit(
            df, F.col("y").cast("double"), sample_n=120, iters=3
        )
        scored = df.select(
            "y", (quality_classifier_score(w, "text") >= 0.5).alias("keep")
        ).collect()
        acc = sum((r["keep"] is True) == (r["y"] == 1) for r in scored) / len(
            scored
        )
        assert acc >= 0.95

    def test_sample_n_trains_on_prefix_only(self, spark):
        df = _docs(spark, n=100)
        # poison the ids >= 50 with flipped labels; a prefix-sample fit
        # must be unaffected
        flipped = df.withColumn(
            "y",
            F.when(F.col("doc_id") >= 50, 1 - F.col("y")).otherwise(
                F.col("y")
            ),
        )
        w_prefix = quality_classifier_fit(
            flipped, F.col("y").cast("double"), sample_n=50
        )
        w_clean = quality_classifier_fit(
            df.filter(F.col("doc_id") < 50),
            F.col("y").cast("double"),
            sample_n=100,
        )
        assert w_prefix == w_clean

    def test_fit_is_repeatable(self, spark):
        df = _docs(spark).repartition(7)
        w1 = quality_classifier_fit(df, F.col("y").cast("double"), sample_n=120)
        w2 = quality_classifier_fit(
            df.repartition(3), F.col("y").cast("double"), sample_n=120
        )
        assert w1 == w2  # partitioning-independent (quantized sums)

    def test_feature_names_shape(self, spark):
        df = _docs(spark, n=10)
        w = quality_classifier_fit(
            df, F.col("y").cast("double"), sample_n=10, iters=1
        )
        assert len(w) == len(FEATURE_NAMES)

    def test_null_rows_drop_from_gradient_and_divisor(self, spark):
        # null text / null label rows contribute to NEITHER the sums
        # NOR n — fit must equal the fit on the clean subset
        clean = _docs(spark, n=40)
        dirty = clean.unionByName(
            spark.createDataFrame(
                [(1000, None, 1), (1001, "some text here", None)],
                "doc_id long, text string, y int",
            )
        )
        w_clean = quality_classifier_fit(
            clean, F.col("y").cast("double"), sample_n=100
        )
        w_dirty = quality_classifier_fit(
            dirty, F.col("y").cast("double"), sample_n=100
        )
        assert w_clean == w_dirty

    def test_empty_training_frame_raises_clearly(self, spark):
        df = _docs(spark, n=10).filter(F.col("doc_id") < 0)
        with pytest.raises(ValueError, match="no training rows"):
            quality_classifier_fit(
                df, F.col("y").cast("double"), sample_n=10, iters=1
            )

    def test_fast_sigmoid_properties(self, spark):
        vals = [-100.0, -1.0, 0.0, 1.0, 100.0]
        df = spark.createDataFrame([(v,) for v in vals], ["z"])
        out = [
            r["s"]
            for r in df.select(fast_sigmoid(F.col("z")).alias("s"))
            .orderBy("s")
            .collect()
        ]
        assert out == sorted(out)
        assert all(0.0 < s < 1.0 for s in out)
        assert 0.5 in out  # s(0) == 0.5 exactly


def test_each_trainer_fit_runs_one_spark_job(spark):
    """Both trainers collect their bounded sample in ONE job and iterate
    on the driver — no Spark job per gradient or Lloyd step."""
    from raptor_spark.functions.similarity import kmeans_fit

    docs = _docs(spark, n=40)
    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )

    def jobs(group, fit):
        return jobs_in_group(spark, group, fit)[1]

    assert jobs(
        "fit-classifier",
        lambda: quality_classifier_fit(
            docs, F.col("y").cast("double"), sample_n=40
        ),
    ) == 1
    assert jobs(
        "fit-kmeans", lambda: kmeans_fit(emb, dim=3, sample_n=30, k=2)
    ) == 1
