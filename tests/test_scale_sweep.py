"""``tools/scale_sweep.py``'s replicated copy of the sf tables, built at
sf0.001 with two replicas on the session's own SparkContext."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tools.scale_sweep import REPLICATE, STRIDE, build

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def big(spark, tmp_path_factory):
    out = build(spark, SRC, 2, str(tmp_path_factory.mktemp("sweep") / "x2"))
    return lambda t: spark.read.parquet(f"{out}/{t}.parquet")


def _src(spark, t):
    return spark.read.parquet(f"{SRC}/{t}.parquet")


@pytest.mark.parametrize("table", sorted(REPLICATE))
def test_fact_tables_double_with_distinct_ids(spark, big, table):
    src, dup = _src(spark, table), big(table)
    assert dup.count() == 2 * src.count()
    for c in REPLICATE[table][0]:
        # every id value of replica 1 is new: no collisions with replica 0
        assert dup.select(c).distinct().count() == 2 * src.select(c).distinct().count()


@pytest.mark.parametrize("table", ["nation", "region", "part", "supplier"])
def test_dimension_tables_copied_unchanged(spark, big, table):
    src, dup = _src(spark, table), big(table)
    assert dup.count() == src.count() and dup.exceptAll(src).isEmpty()


@pytest.mark.parametrize("table", sorted(REPLICATE))
def test_replica_zero_equals_source(spark, big, table):
    src = _src(spark, table)
    rep0 = big(table).where(F.col(REPLICATE[table][0][0]) < STRIDE)
    assert rep0.exceptAll(src).isEmpty() and src.exceptAll(rep0).isEmpty()


def test_replica_text_permutes_words(spark, big):
    pairs = (
        big("documents").where(F.col("doc_id") >= STRIDE)
        .select((F.col("doc_id") - STRIDE).alias("doc_id"), F.col("text").alias("t1"))
        .join(_src(spark, "documents"), "doc_id")
        .select("t1", "text", "n_chars")
        .collect()
    )
    assert len(pairs) == 500
    for r in pairs:
        assert sorted(r["t1"].split(" ")) == sorted(r["text"].split(" "))
        assert len(r["t1"]) == r["n_chars"]
        assert r["t1"] != r["text"]  # every sf0.001 doc has >= 10 words


def test_replica_embedding_permutes_components(spark, big):
    pairs = (
        big("embeddings").where(F.col("vec_id") >= STRIDE)
        .select((F.col("vec_id") - STRIDE).alias("vec_id"), F.col("embedding").alias("e1"))
        .join(_src(spark, "embeddings"), "vec_id")
        .collect()
    )
    assert len(pairs) == 500
    for r in pairs:
        assert sorted(r["e1"]) == sorted(r["embedding"])  # same norm
        assert r["e1"] != r["embedding"]
