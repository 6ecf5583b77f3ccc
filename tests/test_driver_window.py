"""Driver-contract window policy: the per-round correctness gate only
checks the FIRST 50 entries of queries() (verified round 3: the keys of
CORRECTNESS_r03.json are exactly registration-order positions 0-49).
These tests pin the registration-order invariants so a refactor cannot
silently push a never-driver-checked query out of the window, and keep
bench.py's printed line inside the driver's tail-capture budget."""

from __future__ import annotations

import json

from raptor_spark.queries import QUERIES, ORACLE_SQL

DRIVER_WINDOW = 50

# Queries the driver has never hash-checked (no CORRECTNESS_r{N} green
# row yet). They MUST sit inside the window until one shows them green.
NEVER_CHECKED = {
    "bucket_merge_dedup",  # added round 5
    "rest_enrich",  # added round 5 (S5 REST source over file:// URLs)
}

# Last driver-green in CORRECTNESS_r03 (rotated out for round 4, aged
# two rounds) — the round-5 rotation brings them back in so no query's
# most recent driver-green row ages past 2 rounds (VERDICT r4 item 5).
LAST_GREEN_R3 = {
    "pit_asof_join", "two_phase_1h_10m", "salted_user_stats",
    "window_count_1h", "window_multi_24h", "window_distinct_6h",
    "lag_lead", "keep_previous_age_guard", "sessionize_30m",
    "session_stats_30m", "valid_till_1h", "latest_per_key",
    "dedup_exact", "text_stats", "lang_id", "minhash_lsh",
    "ngram_jaccard", "dup_clusters", "simhash_dedup", "token_freq",
    "domain_stats", "repetition",
}

# Plans materially changed in round 5 — their r4 green rows describe
# old code, so they must be re-checked this round.
CHANGED_IN_R5 = {
    "profile_docs", "lsh_verify", "repeated_span_scrub",
    "boilerplate_scrub", "url_dedup", "ann_ivf_kmeans",
    "store_read_pit", "bloom_dedup",
}

# rows-only by design (accuracy gated by the companion hll_accuracy row)
NO_ORACLE_OK = {"window_approx_distinct_6h"}


def test_never_checked_queries_inside_driver_window():
    window = set(list(QUERIES)[:DRIVER_WINDOW])
    for group, names in (
        ("never-driver-checked", NEVER_CHECKED),
        ("aged-2-rounds (last green r3)", LAST_GREEN_R3),
        ("changed-in-r5", CHANGED_IN_R5),
    ):
        missing = names - window
        assert not missing, (
            f"{group} queries outside the first {DRIVER_WINDOW} "
            f"registration slots: {sorted(missing)}"
        )


def test_every_query_has_oracle_or_is_pinned_rows_only():
    missing = set(QUERIES) - set(ORACLE_SQL) - NO_ORACLE_OK
    assert not missing, f"queries without an oracle twin: {sorted(missing)}"
    stale = set(ORACLE_SQL) - set(QUERIES)
    assert not stale, f"oracles without a query: {sorted(stale)}"


def test_entry_module_exports_registration_order():
    import __spark_entry__ as entry

    assert list(entry.queries()) == list(QUERIES)
    assert set(entry.oracle_sql()) == set(ORACLE_SQL)


def test_bench_printed_line_budget():
    """Reconstruct the worst-case printed bench line (every HEADLINE
    query at a pessimistic 3-digit-seconds time) and assert it fits the
    driver's tail-capture window. Round 3's 3.6 KB line was truncated
    mid-object -> BENCH_r03 parsed:null; this pins the fix."""
    import bench

    times = {name: 999.999 for name in bench.HEADLINE}
    line = bench.build_line(times, 99999.999, "0.1", 9999999.9, 32)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == 99999.999
    assert parsed["backfill_turns_per_sec"] == 9999999.9
    assert parsed["queries"]  # at least the slowest entries survive


def test_bench_contended_flag_two_sided():
    """Contention is flagged in BOTH directions: post-pass flagship
    re-time much slower (box slowed mid-run) OR much faster (box was
    contended during the timed pass — the r4 driver scenario)."""
    import bench

    times = {"backfill_wide": 1.0}
    for drift, want in ((2.0, True), (0.5, True), (1.0, False), (None, False)):
        line = bench.build_line(dict(times), 1.0, "0.1", 1000.0, 32, drift)
        assert json.loads(line)["contended"] is want, drift


def test_derived_query_lists_name_catalog_queries():
    """The lists that pick queries out of the catalog (the headline
    exclusions, the plan-audit notes and its bounded-window set) name
    only QUERIES keys, so none of them can drift from the catalog."""
    import bench
    from tools import plan_audit

    for name, listed in (
        ("bench.NOT_HEADLINE", bench.NOT_HEADLINE),
        ("plan_audit.NOTES", plan_audit.NOTES),
        ("plan_audit.BOUNDED_WINDOW", plan_audit.BOUNDED_WINDOW),
    ):
        stale = set(listed) - set(QUERIES)
        assert not stale, f"{name} names no catalog query: {sorted(stale)}"
