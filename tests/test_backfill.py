"""Backfill driver: per-shard lineage, injected-failure resume, and
equivalence with the one-shot historical plan."""

import json
import os

import pytest

from raptor_spark.backfill import (
    backfill,
    committed_shards,
    plan_hash,
    read_backfill,
    transcript_feature_set,
)
from raptor_spark.plans.historical import get_historical
from raptor_spark.sources.transcripts import transcripts

N_CONVS = 40
N_SHARDS = 6


def _collect_sorted(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


@pytest.fixture(scope="module")
def src(spark):
    return transcripts(spark, n_convs=N_CONVS).cache()


def test_backfill_matches_oneshot(spark, src, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bf_full"))
    fs = transcript_feature_set()
    res = backfill(spark, src, fs, out, n_shards=N_SHARDS, source_id="t")
    assert res.shards_run == N_SHARDS and res.shards_skipped == 0
    got = _collect_sorted(read_backfill(spark, out))
    want = _collect_sorted(get_historical(src, fs))
    assert got == want
    # lineage: every shard committed, rows add up
    recs = [
        json.loads(open(os.path.join(out, "_lineage", f)).read())
        for f in sorted(os.listdir(os.path.join(out, "_lineage")))
        if f.startswith("shard-")
    ]
    assert len(recs) == N_SHARDS
    assert all(r["status"] == "committed" for r in recs)
    assert sum(r["input_rows"] for r in recs) == src.count()
    assert sum(r["output_rows"] for r in recs) == len(got)


def test_backfill_resume_after_failure(spark, src, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bf_resume"))
    fs = transcript_feature_set()
    with pytest.raises(RuntimeError, match="injected failure"):
        backfill(spark, src, fs, out, n_shards=N_SHARDS, source_id="t",
                 fail_after_shard=2)
    ph = plan_hash(fs, N_SHARDS, "t")
    done = committed_shards(out, ph)
    assert done == {0, 1, 2}
    # resume: only remaining shards run; result identical to one-shot
    res = backfill(spark, src, fs, out, n_shards=N_SHARDS, source_id="t")
    assert res.shards_skipped == 3 and res.shards_run == N_SHARDS - 3
    got = _collect_sorted(read_backfill(spark, out))
    want = _collect_sorted(get_historical(src, fs))
    assert got == want


def test_backfill_bucketed_mode(spark, src, tmp_path_factory):
    """The 10^12-scale path: bucketed two-phase windows through the
    sharded driver, equal to the one-shot bucketed plan."""
    out = str(tmp_path_factory.mktemp("bf_bkt"))
    fs = transcript_feature_set()
    res = backfill(spark, src, fs, out, n_shards=3, source_id="t",
                   mode="bucketed")
    assert res.shards_run == 3
    got = _collect_sorted(read_backfill(spark, out))
    want = _collect_sorted(get_historical(src, fs, mode="bucketed"))
    assert got == want


def test_backfill_incremental_recomputes_changed_shards(spark, tmp_path_factory):
    """Data-aware resume: append new conversations → only the shards
    whose input fingerprint moved recompute; final output equals a
    fresh full run."""
    out = str(tmp_path_factory.mktemp("bf_incr"))
    fs = transcript_feature_set()
    small = transcripts(spark, n_convs=20)
    res1 = backfill(spark, small, fs, out, n_shards=N_SHARDS, source_id="t",
                    incremental=True)
    assert res1.shards_run == N_SHARDS
    # grow the source: convs 20..29 are NEW; 0..19 byte-identical
    grown = transcripts(spark, n_convs=30)
    res2 = backfill(spark, grown, fs, out, n_shards=N_SHARDS, source_id="t",
                    incremental=True)
    assert res2.shards_run >= 1          # shards with new convs
    assert res2.shards_skipped >= 1      # untouched shards skipped
    assert res2.shards_run + res2.shards_skipped == N_SHARDS
    got = _collect_sorted(read_backfill(spark, out))
    want = _collect_sorted(get_historical(grown, fs))
    assert got == want


def test_backfill_pbucket_sharding_prunes_and_matches(spark, src, tmp_path_factory):
    """Catalog-laid-out source + shard_col=pbucket: each shard's scan
    carries a PartitionFilter on pbucket (reads ~1/n of the files
    instead of re-scanning the full source per shard), the shard
    assignment equals key-hash sharding (n_buckets % n_shards == 0),
    and a key-hash checkpoint resumes under pbucket sharding."""
    from pyspark.sql import functions as F

    from raptor_spark.sources.catalog import Catalog

    root = str(tmp_path_factory.mktemp("cat"))
    cat = Catalog(spark, root=root, n_buckets=2 * N_SHARDS)
    cat.write_transcripts(src, "transcripts")
    laid_out = cat.read("transcripts", with_partition_cols=True)

    out = str(tmp_path_factory.mktemp("bf_pb"))
    fs = transcript_feature_set()
    res = backfill(spark, laid_out, fs, out, n_shards=N_SHARDS,
                   shard_col="pbucket", source_id="t")
    assert res.shards_run == N_SHARDS

    # the shard predicate must reach the scan as a PartitionFilter
    shard0 = laid_out.filter(
        F.pmod(F.col("pbucket").cast("long"), F.lit(N_SHARDS)) == 0
    )
    plan = shard0._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "pbucket" in pf.group(1)

    got = _collect_sorted(read_backfill(spark, out))
    want = _collect_sorted(get_historical(src, fs))
    assert got == want

    # same assignment as key-hash sharding → a resume run WITHOUT
    # shard_col skips every committed shard
    res2 = backfill(spark, src, fs, out, n_shards=N_SHARDS, source_id="t")
    assert res2.shards_skipped == N_SHARDS and res2.shards_run == 0


def test_backfill_plan_change_invalidates(spark, src, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bf_inval"))
    fs = transcript_feature_set()
    backfill(spark, src, fs, out, n_shards=2, source_id="t")
    # different source_id → different plan hash → full recompute
    res = backfill(spark, src, fs, out, n_shards=2, source_id="t2")
    assert res.shards_skipped == 0 and res.shards_run == 2


def test_backfill_null_shard_col_raises(spark, tmp_path_factory):
    """Rows with a NULL shard assignment (null shard_col value) match
    NO shard filter and would silently vanish — backfill must refuse.
    (A null KEY is fine: xxhash64(NULL) hashes the null deterministically
    and the row lands in a real shard.) Review r3."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [
            ("c1", 0, "user", "hi", None, dt.datetime(2024, 1, 1)),
            ("c2", 0, "user", "lost", None, dt.datetime(2024, 1, 1)),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).withColumn(
        "pb",
        F.when(F.col("conv_id") == "c1", F.lit(0)).otherwise(
            F.lit(None).cast("long")
        ),
    )
    out = str(tmp_path_factory.mktemp("bf_null"))
    with pytest.raises(ValueError, match="NULL shard assignment"):
        backfill(spark, src, transcript_feature_set(), out, n_shards=2,
                 shard_col="pb", source_id="t")


def test_plan_hash_stable_and_sensitive():
    """Checkpoint identity must be process-stable for compiled handlers
    (str(callable) embeds a memory address → resume never matched
    across restarts) and must move when keys_expr/ts_expr change
    (review r3)."""
    from raptor_spark.program import compile_handler
    from raptor_spark.specs import FeatureSetSpec, FeatureSpec

    def turn_len(this_row, ctx) -> float:
        return len(this_row["text"])

    prog = compile_handler(turn_len)
    fs = FeatureSetSpec(
        features=[
            FeatureSpec(name="turn_len", keys=("conv_id",), expr=prog),
        ],
        key_feature="turn_len",
    )
    h = plan_hash(fs, 4, "t")
    assert "0x" not in repr(h)
    # identity derives from the handler SOURCE, not the closure object
    prog2 = compile_handler(turn_len)
    fs2 = FeatureSetSpec(
        features=[
            FeatureSpec(name="turn_len", keys=("conv_id",), expr=prog2),
        ],
        key_feature="turn_len",
    )
    assert plan_hash(fs2, 4, "t") == h

    rekeyed = FeatureSetSpec(
        features=[
            FeatureSpec(name="turn_len", keys=("conv_id",), expr=prog,
                        keys_expr="upper(conv_id)"),
        ],
        key_feature="turn_len",
    )
    assert plan_hash(rekeyed, 4, "t") != h


def test_rerun_with_fewer_shards_prunes_stale_dirs(spark, src, tmp_path_factory):
    """A prior wider-sharded run's out-of-range shard dirs must be
    removed — read_backfill would otherwise return duplicated rows
    (review r3)."""
    out = str(tmp_path_factory.mktemp("bf_shrink"))
    fs = transcript_feature_set()
    backfill(spark, src, fs, out, n_shards=4, source_id="t")
    n4 = read_backfill(spark, out).count()
    backfill(spark, src, fs, out, n_shards=2, source_id="t")
    got = read_backfill(spark, out)
    assert got.count() == n4  # no duplication from stale shard dirs


def _lineage_records(out):
    lin = os.path.join(out, "_lineage")
    return [
        json.loads(open(os.path.join(lin, f)).read())
        for f in sorted(os.listdir(lin))
        if f.startswith("shard-")
    ]


def test_lineage_output_rows_match_disk(spark, src, tmp_path_factory):
    """Each shard's output_rows is observed during its own write (no
    re-read) — it must equal what that write left on disk."""
    out = str(tmp_path_factory.mktemp("bf_counts"))
    backfill(spark, src, transcript_feature_set(), out, n_shards=N_SHARDS,
             source_id="t")
    recs = _lineage_records(out)
    assert len(recs) == N_SHARDS
    for rec in recs:
        assert rec["output_rows"] == spark.read.parquet(rec["data_path"]).count()


def test_backfill_shard_failure_in_worker_thread(spark, src, tmp_path_factory):
    """One shard's write fails inside its worker thread: backfill raises,
    that shard leaves no lineage record, every record that does exist is
    committed, and a clean rerun resumes to the one-shot result. The
    stats pass prunes ``text``, so only the bad conversation's shard
    evaluates the raise_error."""
    from pyspark.sql import functions as F

    bad = "conv_00000007"
    bad_shard = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(bad)), F.lit(N_SHARDS)).alias("k"))
        .first()["k"]
    )
    poisoned = src.withColumn(
        "text",
        F.when(F.col("conv_id") == bad, F.raise_error(F.lit("poisoned shard")))
        .otherwise(F.col("text")),
    )
    out = str(tmp_path_factory.mktemp("bf_shard_fail"))
    fs = transcript_feature_set()
    with pytest.raises(Exception, match="poisoned shard"):
        backfill(spark, poisoned, fs, out, n_shards=N_SHARDS, source_id="t")
    recs = _lineage_records(out)
    assert bad_shard not in {r["shard"] for r in recs}
    assert all(r["status"] == "committed" for r in recs)

    res = backfill(spark, src, fs, out, n_shards=N_SHARDS, source_id="t")
    assert res.shards_run >= 1
    assert res.shards_run + res.shards_skipped == N_SHARDS
    assert bad_shard in committed_shards(out, plan_hash(fs, N_SHARDS, "t"))
    got = _collect_sorted(read_backfill(spark, out))
    want = _collect_sorted(get_historical(src, fs))
    assert got == want


def test_backfill_shard_jobs_carry_caller_job_group(spark, src, tmp_path_factory):
    """Shard jobs run on worker threads but must carry the caller's job
    group (cancelJobGroup and group-scoped counters rely on it). The
    count is pinned: 2 jobs for the stats pass plus 2 per shard (its
    write, with no re-read of the output to count rows)."""
    sc = spark.sparkContext
    src.count()  # cache materialised outside the group
    group = "bf-job-group-test"
    out = str(tmp_path_factory.mktemp("bf_group"))
    sc.setJobGroup(group, "backfill job-group propagation")
    try:
        backfill(spark, src, transcript_feature_set(), out, n_shards=N_SHARDS,
                 source_id="t")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store fed async
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 2 + 2 * N_SHARDS
