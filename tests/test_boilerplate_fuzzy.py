"""Cross-doc boilerplate segment removal + end-to-end fuzzy dedup.

Reference behavior: both extend the reference (LLM-data-pipeline ops
required by the brief); semantics pinned by the DuckDB oracles in
raptor_spark/queries.py (boilerplate_scrub, fuzzy_dedup) and the edge
cases here.
"""

from pyspark.sql import functions as F

from raptor_spark.functions.dedup import fuzzy_dedup_corpus
from raptor_spark.functions.text import remove_boilerplate_segments
from tests.test_dedup import _distributed

BOILER = "terms of service apply"  # 4 tokens


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestBoilerplateScrub:
    def test_shared_segment_removed_everywhere(self, spark):
        # seg_tokens=2: "terms of" + "service apply" land on segment
        # boundaries in docs whose unique prefix is 2 tokens long
        rows = [
            (1, "alpha beta terms of service apply"),
            (2, "gamma delta terms of service apply"),
            (3, "epsilon zeta terms of service apply"),
            (4, "unique words only here nothing shared"),
        ]
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_segments(
                _docs(spark, rows), seg_tokens=2, max_docs=2
            ).collect()
        }
        assert len(out) == 4
        # docs 1-3 share "terms of" and "service apply" (3 docs > 2)
        for i, prefix in ((1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")):
            assert out[i]["n_segments"] == 3
            assert out[i]["n_removed"] == 2
            assert out[i]["clean_text"] == prefix
        assert out[4]["n_removed"] == 0
        assert out[4]["clean_text"] == rows[3][1]

    def test_fully_boilerplate_doc_survives_empty(self, spark):
        rows = [(i, BOILER) for i in range(1, 5)]
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_segments(
                _docs(spark, rows), seg_tokens=4, max_docs=2
            ).collect()
        }
        assert len(out) == 4
        for i in range(1, 5):
            assert out[i]["n_segments"] == 1
            assert out[i]["n_removed"] == 1
            assert out[i]["clean_text"] == ""

    def test_order_preserved_and_partial_tail_segment(self, spark):
        # 5 tokens at seg_tokens=2 -> 3 segments, last is 1 token
        rows = [
            (1, "aa bb cc dd ee"),
            (2, "aa bb xx yy zz"),
            (3, "aa bb qq rr ss"),
        ]
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_segments(
                _docs(spark, rows), seg_tokens=2, max_docs=2
            ).collect()
        }
        # only "aa bb" crosses the 3-doc bar
        assert out[1]["n_segments"] == 3
        assert out[1]["n_removed"] == 1
        assert out[1]["clean_text"] == "cc dd ee"

    def test_null_and_empty_text(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "   "), (4, "real words here")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_segments(
                df, seg_tokens=2, max_docs=2
            ).collect()
        }
        assert len(out) == 4  # nothing dropped
        for i in (1, 2, 3):
            assert out[i]["n_segments"] == 1  # the single '' segment
            assert out[i]["n_removed"] == 1  # '' occurs in 3 docs > 2
            assert out[i]["clean_text"] == ""
        assert out[4]["clean_text"] == "real words here"


class TestFuzzyDedup:
    def test_clique_collapses_to_min_id(self, spark):
        text = "the quick brown fox jumps over the lazy dog again today"
        rows = [(i, text) for i in (10, 11, 12)] + [
            (20, "completely different content about spark window functions"),
            (21, "another unrelated document mentioning vectors and joins"),
        ]
        out = {
            r["doc_id"]: r["cluster_size"]
            for r in fuzzy_dedup_corpus(_docs(spark, rows), "doc_id").collect()
        }
        assert out == {10: 3, 20: 1, 21: 1}

    def test_no_dups_is_identity(self, spark):
        rows = [
            (1, "spark plans shuffle exchange partition pruning scan"),
            (2, "duckdb oracle recursive closure components labels"),
        ]
        out = {
            r["doc_id"]: r["cluster_size"]
            for r in fuzzy_dedup_corpus(_docs(spark, rows), "doc_id").collect()
        }
        assert out == {1: 1, 2: 1}

    def test_semantic_dedup_collapses_parallel_vectors(self, spark):
        from raptor_spark.functions.similarity import semantic_dedup_corpus

        # 1, 2, 3 are scalar multiples (cos = 1.0); 10, 11 are
        # orthogonal to them and to each other
        rows = [
            (1, [1.0, 2.0, 0.0, 0.0]),
            (2, [2.0, 4.0, 0.0, 0.0]),
            (3, [0.5, 1.0, 0.0, 0.0]),
            (10, [0.0, 0.0, 3.0, 0.0]),
            (11, [0.0, 0.0, 0.0, 5.0]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        out = {
            r["vec_id"]: r["cluster_size"]
            for r in semantic_dedup_corpus(
                df, dim=4, threshold=0.9, n_planes=2
            ).collect()
        }
        assert out == {1: 3, 10: 1, 11: 1}

    def test_corpus_join_is_broadcast(self, spark):
        import re

        def plan(rows):
            return fuzzy_dedup_corpus(
                _docs(spark, rows), "doc_id"
            )._jdf.queryExecution().executedPlan().toString()

        rows = [(i, f"doc number {i} content words") for i in range(6)]
        dup = "the quick brown fox jumps over the lazy dog again today"
        # the corpus-side filter must be ONE BROADCAST left join, never
        # a corpus shuffle: the driver-path CC result is a local relation
        # whose size Spark knows, so it is broadcast without a hint
        with_dups = rows + [(6, dup), (7, dup)]
        final = plan(with_dups).split("== Initial Plan ==")[0]
        assert re.search(r"BroadcastHashJoin .*LeftOuter", final)
        assert final.count("Join ") == 1
        # no duplicates: the CC result is an empty local relation and
        # the optimizer drops the filter join, so nothing is exchanged
        assert "Exchange" not in plan(rows)

    def test_no_forced_broadcast_when_broadcasts_off(self, spark):
        """With broadcasts off, CC runs distributed and nothing forces
        a broadcast of its (node-set sized) output: the executed plan
        has no BroadcastExchange, and the rows equal the default run's."""
        text = "the quick brown fox jumps over the lazy dog again today"
        rows = [(i, text) for i in (10, 11, 12)] + [
            (20, "completely different content about spark window functions"),
        ]
        docs = _docs(spark, rows)
        want = set(fuzzy_dedup_corpus(docs, "doc_id").collect())
        with _distributed(spark):
            out = fuzzy_dedup_corpus(docs, "doc_id")
            got = set(out.collect())
            plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "BroadcastExchange" not in plan
        assert got == want == {(10, 3), (20, 1)}


class TestTokenizeCorpus:
    def test_rank_ids_and_oov(self, spark):
        from raptor_spark.functions.text import tokenize_corpus

        rows = [
            (1, "aa aa aa bb bb cc"),
            (2, "aa bb cc dd"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r
            for r in tokenize_corpus(df, vocab_size=3).collect()
        }
        # freq: aa=4, bb=3, cc=2, dd=1 -> vocab ids aa=1 bb=2 cc=3; dd OOV->0
        assert out[1]["token_ids"] == [1, 1, 1, 2, 2, 3]
        assert out[2]["token_ids"] == [1, 2, 3, 0]
        assert out[1]["n_tokens"] == 6

    def test_tie_break_is_lexical(self, spark):
        from raptor_spark.functions.text import tokenize_corpus

        df = spark.createDataFrame(
            [(1, "zz yy zz yy xx")], ["doc_id", "text"]
        )
        out = tokenize_corpus(df, vocab_size=2).collect()[0]
        # yy and zz tie at 2; lexical tie-break ranks yy=1, zz=2; xx OOV
        assert out["token_ids"] == [2, 1, 2, 1, 0]
