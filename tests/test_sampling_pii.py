"""Deterministic sampling / mixing (functions/sampling.py) and PII
masking (functions/text.py mask_pii) unit tests.

Reference has no sampling or PII stage — these are training-pipeline
extensions; semantics pinned here + by the pii_scrub /
mixture_sample oracle rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raptor_spark.functions.sampling import (
    RESOLUTION,
    hash_bucket,
    sample_mixture,
    shuffle_order,
)
from raptor_spark.functions.text import PII_PATTERNS, mask_pii


def _ids(spark, n=2000):
    return spark.range(n).withColumnRenamed("id", "doc_id")


def test_sample_mixture_rates_and_default(spark):
    df = _ids(spark).withColumn(
        "lang",
        F.when(F.col("doc_id") % 3 == 0, "en")
        .when(F.col("doc_id") % 3 == 1, "de")
        .otherwise("xx"),
    )
    out = sample_mixture(
        df, "doc_id", "lang", {"en": 1.0, "de": 0.5}, default_rate=0.0
    )
    rows = {r["stratum"]: r["n"] for r in
            out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert rows.get("en") == 667  # rate 1.0 keeps every en row
    assert "xx" not in rows  # default_rate 0 drops unlisted strata
    assert 0.5 * 667 * 0.7 < rows.get("de", 0) < 0.5 * 667 * 1.3


def test_sample_mixture_bad_rate():
    with pytest.raises(ValueError):
        sample_mixture(None, "doc_id", "lang", {"en": -0.1})


def test_hash_bucket_range_and_shuffle_order(spark):
    df = _ids(spark, 500).select(
        hash_bucket(F.col("doc_id"), "s").alias("b"),
        shuffle_order(F.col("doc_id")).alias("o"),
    )
    agg = df.agg(
        F.min("b"), F.max("b"), F.count_distinct("o").alias("d")
    ).collect()[0]
    assert 0 <= agg[0] and agg[1] < RESOLUTION
    assert agg[2] == 500  # permutation key is collision-free here


def test_mask_pii_all_kinds_and_sequential_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.co or http://x.io/a@b.co now"),
            (2, "ip 10.0.0.1 port, call +1 (555) 123-4567"),
            (3, "clean text"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in mask_pii(df).collect()}
    # URL masked first => the embedded email inside it is ONE <URL>
    assert out[1]["masked_text"] == "mail <EMAIL> or <URL> now"
    assert out[1]["n_url"] == 1 and out[1]["n_email"] == 1
    # IP masked before phone => dotted quad never counted as phone
    assert out[2]["masked_text"] == "ip <IP> port, call <PHONE>"
    assert out[2]["n_ip"] == 1 and out[2]["n_phone"] == 1
    assert out[3]["masked_text"] == "clean text"
    assert all(out[3][f"n_{k}"] == 0 for k, _, _ in PII_PATTERNS)
    assert out[4]["masked_text"] is None  # null text passes through


def test_mask_pii_plan_stays_jvm(spark):
    """No Python UDF in the plan — pure codegen regex projection."""
    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = mask_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_extract_domains(spark):
    from raptor_spark.functions.text import extract_domains

    df = spark.createDataFrame(
        [
            (1, "see https://A.Example.org/p?q=1 and http://b.io, done"),
            (2, "no links here"),
            (3, "dup http://x.io/a http://x.io/b https://x.io:8080/c"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["d"]
        for r in df.select("doc_id", extract_domains("text").alias("d")).collect()
    }
    assert rows[1] == ["a.example.org", "b.io,"]  # trailing punct kept (regex parity)
    assert rows[2] == []
    assert rows[3] == ["x.io", "x.io", "x.io"]  # port stripped, dups kept


def test_assign_split_partition_and_proportions(spark):
    from raptor_spark.functions.sampling import assign_split

    df = _ids(spark, 5000)
    out = assign_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 5000  # total partition, no drops
    assert 0.8 * 5000 * 0.9 < counts["train"] < 0.8 * 5000 * 1.1
    assert 0.1 * 5000 * 0.6 < counts["val"] < 0.1 * 5000 * 1.4
    assert 0.1 * 5000 * 0.6 < counts["test"] < 0.1 * 5000 * 1.4


def test_assign_split_stable_under_growth(spark):
    """Corpus growth never moves an existing row between splits — the
    leakage guarantee across pipeline versions."""
    from raptor_spark.functions.sampling import assign_split

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = {r["doc_id"]: r["split"] for r in
             assign_split(_ids(spark, 1000), "doc_id", splits).collect()}
    big = {r["doc_id"]: r["split"] for r in
           assign_split(_ids(spark, 3000), "doc_id", splits).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_assign_split_validation_and_degenerate(spark):
    from raptor_spark.functions.sampling import assign_split

    with pytest.raises(ValueError):
        assign_split(None, "doc_id", {"train": 0.8, "val": 0.1})
    with pytest.raises(ValueError):
        assign_split(None, "doc_id", {"train": 1.2, "val": -0.2})
    out = assign_split(_ids(spark, 100), "doc_id", {"train": 1.0})
    assert out.filter(F.col("split") != "train").count() == 0
