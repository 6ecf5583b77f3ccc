"""Embedding-column transforms for training-data pipelines.

- ``quantize_int8``: symmetric per-vector int8 quantization (the
  standard storage/serving compression for embedding tables) with the
  reconstruction error MEASURED per vector — a 100 TB embedding store
  is quantized once and the error distribution is the acceptance
  gate, so the error must come out of the same pass.
- ``project_signed``: signed-random-projection dimensionality
  reduction (Achlioptas-style ±1 planes) — the cheap JL transform used
  to shrink embeddings before clustering / LSH. Sign matrix is
  md5-derived in Python and embedded as literals, so any engine (and
  the DuckDB oracle) reproduces it bit-for-bit from the same salt.

Everything is Catalyst expressions (transform / aggregate / zip_with;
the projection's dot products are ``similarity.dot``) over
``array<float>`` — JVM-side, map-only, ZERO shuffle at any scale; the
quantized output is ~4x smaller on the wire before any downstream
exchange. No reference analog (raptor has no embedding
ops) — training-pipeline extensions per the brief.

Expression staging note (see CLAUDE.md): ``maxabs`` is referenced by
every element-lambda downstream, so it is materialized in its own
select — expressions inlined into higher-order-function lambdas are
re-evaluated PER ELEMENT (64x for dim-64) if you let CollapseProject
inline them.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounding import round6
from .similarity import dot


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def quantize_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Symmetric int8 quantization: ``scale = max|v| / 127``,
    ``q_i = floor(v_i * 127 / max|v| + 0.5)`` (half-toward-+inf — the
    engine-portable rounding this repo uses everywhere; |q_i| <= 127
    by construction so no clamp is needed).

    Returns one row per input row:
      - ``q``      array<int>  — the quantized vector
      - ``scale6`` double      — round6(scale), the dequant multiplier
      - ``q_sum``  long        — sum of q (integer-exact parity probe)
      - ``mse6``   double      — round6(mean squared reconstruction
                                 error vs the float input)

    Zero vectors quantize to all-zero with scale 0 and mse 0. The op
    order (``v*127/maxabs``, ``q*maxabs/127``) is pinned — the DuckDB
    oracle replays the identical double-op sequence.
    """
    v = df.select(F.col(id_col), _as_double(vec_col).alias("_v"))
    m = v.select(
        id_col,
        "_v",
        F.array_max(F.transform("_v", F.abs)).alias("_maxabs"),
    )
    q = m.select(
        id_col,
        "_v",
        "_maxabs",
        F.when(
            F.col("_maxabs") > 0,
            F.transform(
                "_v",
                lambda x: F.floor(
                    x * F.lit(127.0) / F.col("_maxabs") + F.lit(0.5)
                ).cast("int"),
            ),
        )
        .otherwise(F.transform("_v", lambda x: F.lit(0)))
        .alias("q"),
    )
    err = F.aggregate(
        F.zip_with(
            "_v",
            "q",
            lambda x, qi: F.pow(
                x - qi.cast("double") * F.col("_maxabs") / F.lit(127.0),
                F.lit(2.0),
            ),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return q.select(
        id_col,
        "q",
        round6(F.col("_maxabs") / F.lit(127.0)).alias("scale6"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, qi: acc + qi.cast("long")
        ).alias("q_sum"),
        F.when(F.col("_maxabs") > 0, round6(err / F.lit(float(dim))))
        .otherwise(F.lit(0.0))
        .alias("mse6"),
    )


def signed_planes(dim: int, out_dim: int, salt: str = "rp") -> list[list[float]]:
    """``out_dim`` rows of ``dim`` signs in {-1.0, +1.0}, md5-derived
    from (salt, j, i) — deterministic across engines/runs; the oracle
    embeds the SAME literals (generated by this function) in its SQL."""
    planes: list[list[float]] = []
    for j in range(out_dim):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"rp:{salt}:{j}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def project_signed(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 8,
    salt: str = "rp",
) -> DataFrame:
    """Project ``array<float>[dim]`` down to ``out_dim`` doubles:
    ``p_j = round6((Σ_i v_i * s_ji) / sqrt(out_dim))`` with the ±1
    sign matrix from :func:`signed_planes`. Output columns
    ``p0..p{out_dim-1}``. Map-only (the sign matrix is plan literals —
    nothing is broadcast or shuffled); the left-fold sum order is the
    oracle's ``list_sum`` order.

    The sqrt(out_dim) normalizer is embedded as a single Python-double
    literal so both engines divide by the identical value.
    """
    inv = F.lit(math.sqrt(float(out_dim)))
    planes = signed_planes(dim, out_dim, salt)
    v = df.select(F.col(id_col), F.col(vec_col).alias("_v"))
    cols = []
    for j, row in enumerate(planes):
        s = ", ".join(f"{c!r}D" for c in row)
        cols.append(round6(dot("_v", f"array({s})") / inv).alias(f"p{j}"))
    return v.select(id_col, *cols)
