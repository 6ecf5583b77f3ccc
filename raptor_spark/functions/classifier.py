"""Model-based quality filtering: a linear classifier trained on a
bounded sample with integer-quantized gradient sums — the "quality
classifier" stage of LLM data pipelines (CCNet / GPT-3 style: fit a
cheap linear model on weak labels, score the whole corpus, keep what
clears the bar).

Engine-portable determinism (the DuckDB oracle replays the identical
training iterations, same guarantees as similarity.kmeans_fit):

- features are ratios of exact integer counts (IEEE division is
  exact-input → bit-identical in every engine) plus a bounded length
  score, each round6-canonicalized;
- the link function is the ALGEBRAIC fast sigmoid
  ``s(z) = 0.5 + z / (2·(1 + |z|))`` — add/sub/mul/div/abs only, all
  IEEE-754-exact, so gradients are bit-identical across engines.
  ``exp()`` carries no cross-libm bit guarantee, which rules classic
  logistic out of an oracle-gated pipeline; the fast sigmoid has the
  same sign, monotonicity, and [0,1] range, so gradient descent
  drives the same decision boundary;
- per-iteration gradient = integer-quantized partials
  (``sum(floor(g·quant))`` — summation order can never change the
  result, same trick as kmeans_fit / salted aggs);
- weight updates use the floor-based round6 half-up canon.

100 TB shape: train on a bounded deterministic sample (first
``sample_n`` ids — orderBy+limit compiles to TakeOrderedAndProject,
never a full sort) collected in ONE Spark job; the gradient-descent
iterations replay the engine's float-op sequence driver-local over
those rows (microseconds — a Spark aggregate per iteration cost a job
each). The corpus is then scored ONCE with the trained weights as
literals (map-only, no join, no shuffle).

Reference scope: extension beyond the reference engine (brief:
quality scoring / model-based filtering for training-data pipelines).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounding import py_round6, round6
from .text import alpha_ratio, punct_ratio, upper_ratio

#: feature names in weight order; index 0 is the bias term.
FEATURE_NAMES = ("bias", "alpha_ratio", "len_score", "upper_ratio", "punct_ratio")


def quality_features(text: Column | str) -> list[Column]:
    """The classifier's feature vector (bias first), each
    round6-canonical so both engines train on identical doubles."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    return [
        F.lit(1.0),
        round6(alpha_ratio(t)),
        round6(F.least(n.cast("double") / F.lit(500.0), F.lit(1.0))),
        round6(upper_ratio(t)),
        round6(punct_ratio(t)),
    ]


def fast_sigmoid(z: Column) -> Column:
    """Algebraic sigmoid ``0.5 + z / (2·(1+|z|))`` — bit-portable
    (no exp), range (0, 1), s(0) = 0.5."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def _z(weights: list[float], xs: list[Column]) -> Column:
    """Left-associated w·x fold — the same evaluation order the SQL
    twin's ``w0*x0 + w1*x1 + …`` parses to."""
    return reduce(
        lambda a, b: a + b,
        [F.lit(float(w)) * x for w, x in zip(weights, xs)],
    )


def quality_classifier_fit(
    df: DataFrame,
    label: Column,
    sample_n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 3,
    lr: float = 1.0,
    quant: int = 1 << 20,
) -> list[float]:
    """Fit the linear quality classifier by full-batch gradient
    descent on ``label`` (a 0/1 Column over ``df``'s rows), trained on
    the first ``sample_n`` rows by ``id_col``; returns the trained
    weights (``FEATURE_NAMES`` order, round6-canonical).

    Spark computes the features and collects the sample in one job;
    the iterations run driver-local, op for op as the engine would:
    the left-associated ``w·x`` fold, the fast sigmoid,
    ``floor(r·x·quant)`` integer sums and a round6 update of
    ``w − lr·(s/quant/n)``. See the module docstring for the
    determinism rules.
    """
    n_feat = len(FEATURE_NAMES)
    # explicit null filter: a NULL text does NOT null the features
    # (ratio CASEs fall through to 0.0 and `least` skips nulls, so
    # len_score becomes 1.0) — without the filter such rows would
    # train on fabricated features; NULL labels likewise drop
    sample = (
        df.filter(F.col(text_col).isNotNull() & label.isNotNull())
        .select(
            F.col(id_col),
            label.cast("double").alias("_y"),
            *[
                x.alias(f"_x{j}")
                for j, x in enumerate(quality_features(text_col))
            ],
        )
        .orderBy(id_col)
        .limit(sample_n)
        .collect()
    )
    if not sample:
        raise ValueError(
            "quality_classifier_fit: no training rows survive the null "
            "text/label filter (empty input or all nulls) — the "
            "gradient is undefined"
        )
    rows = [([r[f"_x{j}"] for j in range(n_feat)], r["_y"]) for r in sample]
    n = len(rows)
    w = [0.0] * n_feat
    for _ in range(iters):
        sums = [0] * n_feat
        for xs, y in rows:
            z = reduce(lambda a, b: a + b, [wj * xj for wj, xj in zip(w, xs)])
            res = 0.5 + z / (2.0 * (1.0 + abs(z))) - y
            for j, x in enumerate(xs):
                sums[j] += math.floor(res * x * float(quant))
        w = [
            py_round6(w[j] - lr * (sums[j] / float(quant) / n))
            for j in range(n_feat)
        ]
    return w


def quality_classifier_score(
    weights: list[float], text: Column | str
) -> Column:
    """Per-row classifier score in (0,1) for trained ``weights`` —
    map-only (weights are literals), round6-canonical. Filter with
    ``score >= 0.5`` (the z ≥ 0 decision boundary)."""
    return round6(fast_sigmoid(_z(weights, quality_features(text))))
