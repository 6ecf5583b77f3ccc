"""Dedup operator guard-rails: LSH bucket cap (no OOM-shaped plan on a
giant exact-duplicate cluster), connected-components convergence, and
salted-agg determinism under repartitioning.

Reference behavior: dedup has no direct analogue in the reference (it is
an LLM-data-pipeline extension required by the brief); semantics are
pinned by the DuckDB oracles in raptor_spark/queries.py.
"""

from collections import Counter
from contextlib import contextmanager, nullcontext

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import Observation
from pyspark.sql import functions as F

from raptor_spark.functions import dedup
from raptor_spark.functions.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
)
from tests.conftest import jobs_in_group


@pytest.fixture(scope="module")
def giant_cluster(spark):
    """10k identical docs + 3 distinct near-dup docs."""
    n = 10_000
    dup = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog again and again").alias(
            "text"
        ),
    )
    extras = spark.createDataFrame(
        [
            (n + 1, "completely different text about spark catalyst optimizer rules"),
            (n + 2, "completely different text about spark catalyst optimizer rule"),
            (n + 3, "unrelated third document mentioning minhash signatures only"),
        ],
        "doc_id long, text string",
    )
    return dup.unionByName(extras).cache()


class TestLshBucketCap:
    def test_giant_bucket_dropped_and_counted(self, spark, giant_cluster):
        obs = Observation("lsh")
        pairs = minhash_lsh_pairs(
            giant_cluster, "doc_id", max_bucket=100, observation=obs
        )
        got = pairs.collect()
        # the 10k-identical cluster never reaches the quadratic pair
        # fan-out (10k docs would emit ~5*10^7 pairs per band)
        assert all(r["id_a"] >= 10_000 for r in got)
        # the near-dup pair among the extras is still found
        assert any(
            (r["id_a"], r["id_b"]) == (10_001, 10_002) for r in got
        )
        m = obs.get
        assert m["dropped_buckets"] > 0
        assert m["dropped_docs"] >= 10_000

    def test_exact_dedup_still_catches_dropped_cluster(self, spark, giant_cluster):
        reps = exact_dedup(giant_cluster, "doc_id").collect()
        giant = [r for r in reps if r["n_dups"] == 10_000]
        assert len(giant) == 1 and giant[0]["rep_id"] == 0

    def test_uncapped_keeps_everything(self, spark):
        df = spark.createDataFrame(
            [(i, "same same same text for everyone") for i in range(20)],
            "doc_id long, text string",
        )
        n = minhash_lsh_pairs(df, "doc_id", max_bucket=0).count()
        assert n == 20 * 19 // 2


@contextmanager
def _distributed(spark):
    """Broadcasts off: ``connected_components`` skips its driver path
    and runs alternating star distributed."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _components(pairs):
    return {
        (r["id"], r["cluster_rep"]) for r in connected_components(pairs).collect()
    }


def _sized(pairs):
    """The private three-column result, as a set of rows."""
    return {tuple(r) for r in dedup._components(pairs, "id_a", "id_b").collect()}


def _union_find(edges):
    """Pure-Python reference: {(id, min id of its component)}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in list(parent)}


def _union_find_sized(edges):
    """{(id, min id of its component, ids in the component)}."""
    labels = _union_find(edges)
    size = Counter(rep for _, rep in labels)
    return {(x, rep, size[rep]) for x, rep in labels}


# fixed graphs for the union-find comparison, beside the random ones
MIXED = (
    [(a, b) for a in range(5) for b in range(a + 1, 5)]  # clique
    + [(10 + i, 11 + i) for i in range(8)]               # chain
    + [(50, 51)]                                         # edge
    + [(60, 61), (61, 62), (60, 62)]                     # triangle
    + [(70, 70), (4, 4), (80, 80)]                       # self-pairs
)
# canonical edge set is empty: the star rounds observe an empty plan
SELF_PAIRS_ONLY = [(3, 3)]


class TestConnectedComponents:
    def test_chain_converges(self, spark):
        # path graph 0-1-2-...-9: one component, rep 0
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "id_a long, id_b long"
        )
        assert _components(pairs) == {(i, 0) for i in range(10)}

    def test_high_diameter_matches_union_find(self, spark):
        """Path graph of diameter 60 plus a 3-node path, on the
        distributed path: every node gets its component minimum."""
        edges = [(i, i + 1) for i in range(60)] + [(100, 101), (101, 102)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        with _distributed(spark):
            assert _components(pairs) == _union_find(edges)

    def test_round_cap_raises(self, spark, monkeypatch):
        """Star never stops short: a cap too small to see two equal
        rounds raises instead of returning partial labels."""
        from raptor_spark.functions import dedup

        monkeypatch.setattr(dedup, "_STAR_MAX_ROUNDS", 1)
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        with _distributed(spark), pytest.raises(RuntimeError, match="1 rounds"):
            connected_components(pairs)

    @settings(max_examples=12, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=40
        )
    )
    @example(edges=MIXED)
    @example(edges=SELF_PAIRS_ONLY)
    def test_paths_match_union_find(self, spark, edges):
        """Random graphs — duplicate and reversed pairs, self-pairs,
        disconnected pieces, the empty graph — plus a mixed graph
        (clique, chain, edge, triangle, self-pairs) and a self-pairs-only
        graph: the driver path, the distributed path and a union-find
        reference agree on every label and cluster size."""
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        local = _sized(pairs)
        with _distributed(spark):
            dist = _sized(pairs)
        assert local == dist == _union_find_sized(edges)

    @pytest.mark.parametrize("distributed", [False, True])
    def test_duplicate_reversed_and_self_pairs(self, spark, distributed):
        """Pairs repeated, reversed and self-paired reach both paths raw;
        each returns the union-find labels and cluster sizes, and the
        public result is their two-column projection."""
        edges = [(2, 1), (1, 2), (1, 2), (3, 2), (2, 3), (3, 3), (9, 9),
                 (6, 5), (5, 6), (5, 5)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        want = _union_find_sized(edges)
        with _distributed(spark) if distributed else nullcontext():
            assert _sized(pairs) == want
            assert _components(pairs) == {(x, rep) for x, rep, _ in want}
        assert (1, 1, 3) in want and (9, 9, 1) in want and (6, 5, 2) in want

    @pytest.mark.parametrize("distributed", [False, True])
    def test_empty_pairs(self, spark, distributed):
        """No pairs, from a literal and from a filter after a shuffle
        join (a plan AQE proves empty at run time): an empty result
        with the id type, on both paths."""
        literal = spark.createDataFrame([], "id_a long, id_b long")
        left = spark.range(50).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        right = spark.range(100, 150).select(F.col("id").alias("id_a"))
        joined = left.join(right.repartition(3), "id_a").where(F.col("id_b") > 0)
        for pairs in (literal, joined):
            with _distributed(spark) if distributed else nullcontext():
                out = connected_components(pairs)
            assert out.collect() == []
            assert out.schema.simpleString() == "struct<id:bigint,cluster_rep:bigint>"

    @pytest.mark.parametrize("distributed", [False, True])
    def test_pairs_plan_runs_once_per_path(self, spark, distributed):
        """Each path runs the upstream pair plan (here a UDF-projected
        scan joined to another) exactly once: the UDF's row counter
        reads the input size after the result is built and read."""
        calls = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def counted(x):
            calls.add(1)
            return x

        left = spark.range(6).select(
            F.col("id").alias("k"), counted("id").alias("id_a")
        )
        right = spark.range(6).select(
            F.col("id").alias("k"), ((F.col("id") + 1) % 3).alias("id_b")
        )
        pairs = left.join(right, "k")  # (0,1) (1,2) (2,0) (3,1) (4,2) (5,0)
        with _distributed(spark) if distributed else nullcontext():
            got = _components(pairs)
        assert got == {(i, 0) for i in range(6)}
        assert calls.value == 6

    def test_job_counts_per_path(self, spark):
        """On a small graph the driver path runs the pair checkpoint
        (one job: no shuffle runs before it) and one collect. With
        broadcasts off the same checkpoint is followed by two star
        rounds of 8 jobs each (the second observes the first's checksum
        unchanged); the count repeats exactly from run to run."""
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
        )

        def jobs(group):
            return jobs_in_group(spark, group, lambda: connected_components(pairs))[1]

        assert jobs("cc-driver-path") == 2
        with _distributed(spark):
            assert jobs("cc-distributed-path") == 17
