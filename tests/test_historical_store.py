"""historical_from_store: the production-shaped historical query — PIT
training set read from the MATERIALIZED feature-values table
(partition-pruned per-fqn scans, joined on encoded KEYS), equal to the
recompute-from-source path."""

import pytest
from pyspark.sql import functions as F

from raptor_spark.plans.historical import get_historical, historical_from_store
from raptor_spark.plans.replay import replay
from raptor_spark.sources.catalog import Catalog
from raptor_spark.sources.transcripts import transcripts
from raptor_spark.specs import FeatureSetSpec, feature


def _rows(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_store_read_equals_recompute(spark, tmp_path):
    src = transcripts(spark, 10).cache()
    turn_len = feature(
        "turn_len", "conv_id", "cast(length(text) as double)", staleness="30m"
    )
    chars_1h = feature(
        "chars_1h", "conv_id", "cast(length(text) as double)",
        aggr=["sum", "avg"], over="1h",
    )
    fs = FeatureSetSpec(features=[turn_len, chars_1h], key_feature="turn_len")

    cat = Catalog(spark, root=str(tmp_path))
    for spec in fs.features:
        cat.write_feature_values(replay(src, spec), "features")

    spine = src.filter(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    from_store = historical_from_store(cat, "features", fs, spine)
    recomputed = get_historical(src, fs, spine=spine)
    assert sorted(from_store.columns) == sorted(recomputed.columns)
    assert _rows(from_store) == _rows(recomputed)

    # the per-feature scan is partition-pruned to its fqn dirs
    one = cat.read_feature_values("features", ["default.turn_len"])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "fqn" in plan and "PartitionFilters" in plan


def test_explicit_spine_respects_since_until(spark, tmp_path):
    """An explicit spine is cut to since <= ts <= until on both the
    recompute and the store path. Feature sources are cut to that
    range (less the lookback pad), so a spine row outside it used to
    come back with truncated history: NULL or partial features before
    `since`, features missing updates after `until`."""
    src = transcripts(spark, 10).cache()
    turn_len = feature(
        "turn_len", "conv_id", "cast(length(text) as double)", staleness="30m"
    )
    chars_1h = feature(
        "chars_1h", "conv_id", "cast(length(text) as double)",
        aggr=["sum", "avg"], over="1h",
    )
    fs = FeatureSetSpec(features=[turn_len, chars_1h], key_feature="turn_len")

    cat = Catalog(spark, root=str(tmp_path))
    for spec in fs.features:
        cat.write_feature_values(replay(src, spec), "features")

    spine = src.filter(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    lo, hi = spine.agg(F.min("ts"), F.max("ts")).first()
    since, until = lo + (hi - lo) / 2, lo + (hi - lo) * 3 / 4
    in_range = (F.col("ts") >= F.lit(since)) & (F.col("ts") <= F.lit(until))
    want = _rows(get_historical(src, fs, spine=spine).filter(in_range))
    assert 0 < len(want) < spine.count()

    recomputed = get_historical(src, fs, spine=spine, since=since, until=until)
    from_store = historical_from_store(
        cat, "features", fs, spine, since=since, until=until
    )
    assert _rows(recomputed) == want
    assert _rows(from_store) == want


def test_store_read_keep_previous_equals_recompute(spark, tmp_path):
    """keep_previous from the store: version columns are lagged over
    the materialized per-fqn update stream — equal to the
    recompute-from-source path (silently dropped before ADVICE r2)."""
    src = transcripts(spark, 10).cache()
    turn_len = feature(
        "turn_len", "conv_id", "cast(length(text) as double)",
        staleness="30m", keep_previous=(2, "1h"),
    )
    fs = FeatureSetSpec(features=[turn_len], key_feature="turn_len")

    cat = Catalog(spark, root=str(tmp_path))
    cat.write_feature_values(replay(src, turn_len), "features")

    spine = src.filter(F.col("role") == "user").select("conv_id", "ts")
    from_store = historical_from_store(cat, "features", fs, spine)
    recomputed = get_historical(src, fs, spine=spine)
    assert "turn_len_prev1" in from_store.columns
    assert "turn_len_prev2" in from_store.columns
    assert sorted(from_store.columns) == sorted(recomputed.columns)
    assert _rows(from_store) == _rows(recomputed)


@pytest.mark.parametrize(
    "case", ["kp_aggregated", "kp_foreign_family", "since_until", "duplicate_spine"]
)
def test_store_read_equals_recompute_cases(spark, tmp_path, case):
    """Store read ≡ recompute on what both paths share: keep_previous
    on an aggregated feature and on a feature of a foreign key family
    (keyed by role, not by the spine's conv_id), a since/until range
    (padded by the staleness and the version lookback), and a spine
    that holds every row twice."""
    src = transcripts(spark, 10).cache()
    turn_len = feature(
        "turn_len", "conv_id", "cast(length(text) as double)", staleness="30m"
    )
    chars_1h = feature(
        "chars_1h", "conv_id", "cast(length(text) as double)",
        aggr=["sum", "avg"], over="1h", keep_previous=(2, "1h"),
    )
    role_len = feature(
        "role_len", "role", "cast(length(text) as double)",
        staleness="30m", keep_previous=(2, "1h"),
    )
    other = role_len if case == "kp_foreign_family" else chars_1h
    fs = FeatureSetSpec(features=[turn_len, other], key_feature="turn_len")

    cat = Catalog(spark, root=str(tmp_path))
    for spec in fs.features:
        cat.write_feature_values(replay(src, spec), "features")

    spine = src.select("conv_id", "role", "ts")
    if case == "duplicate_spine":
        spine = spine.unionAll(spine)
    rng = {}
    if case == "since_until":
        lo, hi = spine.agg(F.min("ts"), F.max("ts")).first()
        rng = {"since": lo + (hi - lo) / 2, "until": lo + (hi - lo) * 3 / 4}

    from_store = historical_from_store(cat, "features", fs, spine, **rng)
    recomputed = get_historical(src, fs, spine=spine, **rng)
    assert sorted(from_store.columns) == sorted(recomputed.columns)
    want = _rows(recomputed)
    assert 0 < len(want)
    assert _rows(from_store) == want


def test_kp_guard_expiry_not_resurrected(spark, tmp_path):
    """An age-guard-EXPIRED prev version must stay None through the
    as-of merge: updates 1.0@00:00, 2.0@00:30, 3.0@03:00 with
    keep_previous=(1, '1h') — at a spine row @03:30 the latest update
    (3.0) has prev1 expired (2.0 is 2.5h older). A per-column
    ignorenulls fill used to reach PAST that null to the 00:30 row and
    serve ITS prev1 (1.0 — two versions back); the _kp_ struct pack
    keeps versions pinned to the winning update row (review r3,
    runtime-confirmed). Same contract for the store read."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = spark.createDataFrame(
        [
            ("u1", t0, 1.0),
            ("u1", t0 + dt.timedelta(minutes=30), 2.0),
            ("u1", t0 + dt.timedelta(hours=3), 3.0),
        ],
        "user string, ts timestamp, value double",
    )
    spec = feature("val", "user", "value", staleness="12h",
                   keep_previous=(1, "1h"))
    fs = FeatureSetSpec(features=[spec], key_feature="val")
    spine = spark.createDataFrame(
        [("u1", t0 + dt.timedelta(hours=3, minutes=30))],
        "user string, ts timestamp",
    )
    got = get_historical(src, fs, spine=spine).collect()
    assert len(got) == 1
    assert got[0]["val"] == 3.0
    assert got[0]["val_prev1"] is None  # expired, NOT resurrected 1.0

    cat = Catalog(spark, root=str(tmp_path))
    cat.write_feature_values(replay(src, spec), "features")
    got_store = historical_from_store(cat, "features", fs, spine).collect()
    assert len(got_store) == 1
    assert got_store[0]["val"] == 3.0
    assert got_store[0]["val_prev1"] is None


def test_unbounded_kp_with_since_raises(spark, tmp_path):
    """keep_previous over=0 (unbounded lookback) + since= cannot be
    finitely padded — must raise, not silently truncate the chain."""
    import datetime as dt

    import pytest

    src = transcripts(spark, 3)
    spec = feature("turn_len", "conv_id", "cast(length(text) as double)",
                   keep_previous=(1, "0"))
    fs = FeatureSetSpec(features=[spec], key_feature="turn_len")
    with pytest.raises(ValueError, match="unbounded"):
        get_historical(src, fs, since=dt.datetime(2023, 11, 15)).collect()


def test_store_read_heterogeneous_families(spark, tmp_path):
    src = transcripts(spark, 8).cache()
    turn_len = feature(
        "turn_len", "conv_id", "cast(length(text) as double)", staleness="30m"
    )
    role_len = feature(
        "role_len", "role", "cast(length(text) as double)", staleness="30m"
    )
    fs = FeatureSetSpec(features=[turn_len, role_len], key_feature="turn_len")

    cat = Catalog(spark, root=str(tmp_path))
    for spec in fs.features:
        cat.write_feature_values(replay(src, spec), "features")

    spine = src.select("conv_id", "role", "ts")
    from_store = historical_from_store(cat, "features", fs, spine)
    recomputed = get_historical(src, fs, spine=spine)
    assert _rows(from_store) == _rows(recomputed)
