"""Backfill driver: per-shard lineage, injected-failure resume, and
equivalence with the one-shot historical plan."""

import json
import math
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
from tests.conftest import jobs_in_group

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


def test_backfill_union_merge_plan(spark, src, tmp_path_factory):
    """A feature set the fused plan refuses (keep_previous on an
    aggregated feature) backfills through the union-merge plan, which
    reads the source in several branches: the observed input count
    still equals the source rows, and the output equals the one-shot
    plan."""
    from raptor_spark.specs import FeatureSetSpec, feature

    fs = FeatureSetSpec(
        features=[
            feature("turn_len", "conv_id", "cast(length(text) as double)",
                    staleness="1h"),
            feature("chars_1h", "conv_id", "cast(length(text) as double)",
                    aggr=["sum"], over="1h", keep_previous=(1, "0")),
        ],
        key_feature="turn_len",
    )
    oneshot = get_historical(src, fs)
    assert "Union" in oneshot._jdf.queryExecution().executedPlan().toString()
    out = str(tmp_path_factory.mktemp("bf_union"))
    res = backfill(spark, src, fs, out, n_shards=3, source_id="t")
    assert res.shards_run == 3
    assert _collect_sorted(read_backfill(spark, out)) == _collect_sorted(oneshot)
    assert sum(r["input_rows"] for r in _lineage_records(out)) == src.count()


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
    """One shard's rows fail inside its wave's write: backfill raises,
    that shard (and the rest of its wave) leaves no lineage record,
    every record that does exist is committed, and a clean rerun
    resumes to the one-shot result. Only the bad conversation's wave
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
    """Shard jobs must carry the caller's job group (cancelJobGroup and
    group-scoped counters rely on it). The count is pinned: 2 jobs per
    wave of up to defaultParallelism shards (its one partitioned write,
    with no stats pass and no re-read of the output to count rows)."""
    src.count()  # cache materialised outside the group
    out = str(tmp_path_factory.mktemp("bf_group"))
    _, n_jobs = jobs_in_group(
        spark, "bf-job-group-test",
        lambda: backfill(spark, src, transcript_feature_set(), out,
                         n_shards=N_SHARDS, source_id="t"),
    )
    assert n_jobs == 2 * math.ceil(N_SHARDS / spark.sparkContext.defaultParallelism)


def test_backfill_empty_shards_and_stale_dirs(spark, tmp_path_factory):
    """More shards than conversations: empty shards commit with
    output_rows == 0, and a resume=False rerun over a different subset
    replaces every shard dir — including ones whose new output is
    empty — so no stale rows survive."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("bf_empty"))
    fs = transcript_feature_set()
    convs = transcripts(spark, n_convs=6)
    first = convs.filter(F.col("conv_id") < "conv_00000003")
    second = convs.filter(F.col("conv_id") >= "conv_00000003")
    backfill(spark, first, fs, out, n_shards=8, source_id="t")
    res = backfill(spark, second, fs, out, n_shards=8, source_id="t",
                   resume=False)
    assert res.shards_run == 8
    got = _collect_sorted(read_backfill(spark, out))
    assert got == _collect_sorted(get_historical(second, fs))
    recs = _lineage_records(out)
    assert len(recs) == 8 and all(r["status"] == "committed" for r in recs)
    empty = [r for r in recs if not os.path.isdir(r["data_path"])]
    assert empty and all(r["output_rows"] == 0 for r in empty)
    assert sum(r["output_rows"] for r in recs) == len(got)
    assert sum(r["input_rows"] for r in recs) == second.count()
    again = backfill(spark, second, fs, out, n_shards=8, source_id="t")
    assert again.shards_skipped == 8 and again.shards_run == 0


def test_backfill_shard_col_mismatch_raises(spark, src, tmp_path_factory):
    """A shard_col that disagrees with key hashing (n_buckets % n_shards
    != 0) is refused before anything is committed."""
    from raptor_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path_factory.mktemp("cat3")), n_buckets=3)
    cat.write_transcripts(src, "transcripts")
    laid_out = cat.read("transcripts", with_partition_cols=True)
    out = str(tmp_path_factory.mktemp("bf_mismatch"))
    with pytest.raises(ValueError, match="differs from key hashing"):
        backfill(spark, laid_out, transcript_feature_set(), out, n_shards=2,
                 shard_col="pbucket", source_id="t")
    lin = os.path.join(out, "_lineage")
    assert not os.path.isdir(lin) or not os.listdir(lin)


def test_backfill_rekeyed_key_feature_raises(spark, src, tmp_path):
    """A key feature re-keyed by keys_expr would hash output rows into
    shards other than their input rows' — refused before any write."""
    from raptor_spark.specs import FeatureSetSpec, FeatureSpec

    fs = FeatureSetSpec(
        features=[
            FeatureSpec(name="turn_len", keys=("conv_id",),
                        expr="cast(length(text) as double)",
                        keys_expr="upper(conv_id)"),
        ],
        key_feature="turn_len",
    )
    with pytest.raises(ValueError, match="keys_expr"):
        backfill(spark, src, fs, str(tmp_path), n_shards=2, source_id="t")
    assert not os.listdir(tmp_path)


def test_backfill_incremental_shard_col_null_raises(spark, tmp_path_factory):
    """An incremental shard_col run validates the source even when every
    shard is committed: grown rows with a NULL pbucket must raise."""
    from pyspark.sql import functions as F

    def with_pbucket(df):
        return df.withColumn(
            "pbucket",
            F.when(F.col("conv_id") < "conv_00000020",
                   F.pmod(F.xxhash64("conv_id"), F.lit(2 * N_SHARDS))),
        )

    out = str(tmp_path_factory.mktemp("bf_incr_null"))
    fs = transcript_feature_set()
    small = with_pbucket(transcripts(spark, n_convs=20))
    res = backfill(spark, small, fs, out, n_shards=N_SHARDS,
                   shard_col="pbucket", source_id="t", incremental=True)
    assert res.shards_run == N_SHARDS
    grown = with_pbucket(transcripts(spark, n_convs=30))
    with pytest.raises(ValueError, match="NULL shard assignment"):
        backfill(spark, grown, fs, out, n_shards=N_SHARDS,
                 shard_col="pbucket", source_id="t", incremental=True)
