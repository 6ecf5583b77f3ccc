"""HLL approx-distinct window accuracy and bucket-write dedup (J6)."""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from raptor_spark.operators.window_agg import (
    dedup_bucket_writes,
    sliding_agg_bucketed,
)


def test_approx_distinct_tracks_exact(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    H = 3_600_000_000
    approx = sliding_agg_bucketed(
        ev, ["user_id"], "ts", "event_type", 6 * H, H // 2,
        ["approx_distinct_count", "distinct_count"],
    )
    bad = approx.filter(
        (F.col("approx_distinct_count") - F.col("distinct_count")).cast("double")
        / F.greatest(F.col("distinct_count"), F.lit(1.0)) > 0.05
    ).count()
    assert bad == 0  # HLL within 5% of exact at these cardinalities


def test_dedup_bucket_writes(spark):
    rows = [
        # same bucket flushed alive then dead: dead (final) must win
        ("f1", "k1", 10, True, 3.0),
        ("f1", "k1", 10, False, 5.0),
        # only-alive bucket survives as-is
        ("f1", "k1", 11, True, 7.0),
        # different key untouched
        ("f1", "k2", 10, False, 1.0),
    ]
    fv = spark.createDataFrame(
        rows, "fqn string, keys string, bucket long, bucket_active boolean, value double"
    )
    out = {
        (r["fqn"], r["keys"], r["bucket"]): r
        for r in dedup_bucket_writes(fv).collect()
    }
    assert len(out) == 3
    assert out[("f1", "k1", 10)]["value"] == 5.0
    assert out[("f1", "k1", 10)]["bucket_active"] is False
    assert out[("f1", "k1", 11)]["value"] == 7.0


def test_dedup_bucket_writes_deterministic_ties(spark):
    """Same-flag duplicates (a bucket re-flushed alive in several
    micro-batches) must resolve identically across runs/partitionings;
    a NULL bucket_active row never beats the final one; order_col
    (flush order) makes the HIGHEST flush win (review r3)."""
    rows = [
        ("f1", "k1", 10, True, 3.0, 1),
        ("f1", "k1", 10, True, 4.0, 2),
        ("f1", "k1", 10, True, 2.0, 3),
        ("f1", "k2", 10, None, 9.0, 1),
        ("f1", "k2", 10, False, 5.0, 2),
    ]
    schema = ("fqn string, keys string, bucket long, bucket_active boolean,"
              " value double, flush int")
    a = spark.createDataFrame(rows, schema).repartition(4)
    b = spark.createDataFrame(list(reversed(rows)), schema).coalesce(1)
    ga = {(r["keys"],): r["value"] for r in dedup_bucket_writes(a).collect()}
    gb = {(r["keys"],): r["value"] for r in dedup_bucket_writes(b).collect()}
    assert ga == gb  # content-hash tiebreak → layout-independent
    assert gb[("k2",)] == 5.0  # final (False) beats NULL flag
    # explicit flush order: last flush wins among alive duplicates
    gc = {
        (r["keys"],): r["value"]
        for r in dedup_bucket_writes(a, order_col="flush").collect()
    }
    assert gc[("k1",)] == 2.0 and gc[("k2",)] == 5.0


@st.composite
def flush_logs(draw, max_rows=30):
    """Bucket writes in random order: (keys, bucket, alive, flush_seq,
    value) with flush_seq a permutation, so every flush is distinct."""
    n = draw(st.integers(1, max_rows))
    ids = st.lists(st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 2),
                             st.booleans()), min_size=n, max_size=n)
    seqs = draw(st.permutations(range(n)))
    return [(k, b, alive, seq, float(i))
            for i, ((k, b, alive), seq) in enumerate(zip(draw(ids), seqs))]


def merge_replay(log):
    """The reference's cleanup MERGE applied one flush at a time, in
    flush order: a dead (final) source deletes a matched alive target
    and is inserted; a same-flag source replaces the target (highest
    flush wins); an alive source never reopens a dead target."""
    target = {}
    for k, b, alive, seq, val in sorted(log, key=lambda r: r[3]):
        cur = target.get((k, b))
        if cur is None or cur[0] == alive or (cur[0] and not alive):
            target[(k, b)] = (alive, seq, val)
    return target


class TestDedupBucketWritesIsMerge:
    @settings(max_examples=25, deadline=None)
    @given(log=flush_logs(), parts=st.integers(1, 4))
    def test_matches_sequential_merge(self, spark, log, parts):
        fv = spark.createDataFrame(
            [("f", k, b, alive, seq, val) for k, b, alive, seq, val in log],
            "fqn string, keys string, bucket long, bucket_active boolean,"
            " flush long, value double",
        ).repartition(parts)
        got = {
            (r["keys"], r["bucket"]): (r["bucket_active"], r["flush"], r["value"])
            for r in dedup_bucket_writes(fv, order_col="flush").collect()
        }
        assert got == merge_replay(log)


def test_sliding_agg_exact_rejects_empty_window(spark):
    import pytest

    from raptor_spark.operators.window_agg import sliding_agg_exact

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ValueError, match="over > 0"):
        sliding_agg_exact(ev, ["user_id"], "ts", F.col("value"), 0, ["count"])
