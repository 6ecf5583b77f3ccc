"""REST enrichment source (S5) — exercised for real over file:// URLs
(urllib serves file and http through the same fetch path; no network
exists in this sandbox). Reference contract:
internal/plugins/builders/rest/rest.go:41-66 (url/method/body/headers
config, retrying cached client, aggregation rejected)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from raptor_spark.sources.rest import (
    RestSourceConfig,
    reject_aggr,
    rest_enrich,
    url_expr,
)


def _fixture_dir(tmp_path, rows):
    d = tmp_path / "users"
    d.mkdir()
    for key, payload in rows.items():
        (d / f"{key}.json").write_text(json.dumps(payload))
    return d


def test_url_expr_templating(spark):
    df = spark.createDataFrame([(7, "us")], "user_id int, region string")
    url = df.select(
        url_expr(
            "http://h/users/{key:user_id}/r/{key:region}?all={keys}",
            ["user_id", "region"],
        ).alias("u")
    ).first()["u"]
    assert url == "http://h/users/7/r/us?all=7;us"


def test_url_expr_unknown_key_raises():
    with pytest.raises(ValueError, match="unknown key"):
        url_expr("http://h/{key:nope}", ["user_id"])


def test_reject_aggr_mirrors_reference():
    reject_aggr([])
    with pytest.raises(ValueError, match="aggregation is not supported"):
        reject_aggr(["sum"])


def test_rest_enrich_file_urls(spark, tmp_path):
    d = _fixture_dir(
        tmp_path,
        {1: {"plan": "pro", "score": 9}, 2: {"plan": "free", "score": 3}},
    )
    spine = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d")],
        "user_id int, event string",
    )
    out = rest_enrich(
        spine,
        RestSourceConfig(url=f"file://{d}/{{key:user_id}}.json"),
        "plan string, score int",
        ["user_id"],
    ).orderBy("event")
    rows = [r.asDict() for r in out.collect()]
    assert [r["plan"] for r in rows] == ["pro", "pro", "free", None]
    assert [r["score"] for r in rows] == [9, 9, 3, None]
    # every enriched row carries the response status; null-key rows none
    assert [r["rest_status"] for r in rows] == [200, 200, 200, None]


def test_rest_enrich_fetches_each_distinct_key_once(spark, tmp_path):
    """The spine references each key many times; the fetch layer must
    see each URL once (distinct-before-fetch + per-executor cache).
    Counted via marker files — executors share this machine."""
    d = _fixture_dir(tmp_path, {k: {"v": k * 10} for k in range(4)})
    marks = tmp_path / "marks"
    marks.mkdir()
    mark_dir = str(marks)

    def counting_fetch(url, cfg):
        import urllib.request

        name = url.rsplit("/", 1)[-1]
        open(os.path.join(mark_dir, f"{name}.{os.getpid()}.{os.urandom(4).hex()}"), "w").close()
        with urllib.request.urlopen(url, timeout=5) as r:
            return 200, r.read().decode()

    spine = spark.createDataFrame(
        [(i % 4,) for i in range(400)], "user_id int"
    ).repartition(8)
    out = rest_enrich(
        spine,
        RestSourceConfig(url=f"file://{d}/{{key:user_id}}.json", fetch_partitions=2),
        "v int",
        ["user_id"],
        fetcher=counting_fetch,
    )
    assert out.where(F.col("v") == F.col("user_id") * 10).count() == 400
    # distinct() bounds the fetch set at 4 urls; the TTL cache may save
    # repeats within a worker but workers don't share caches — the hard
    # invariant is fetches <= distinct keys (never per spine row)
    assert len(os.listdir(mark_dir)) <= 4


def test_rest_fetch_retries_then_raises(spark, tmp_path):
    attempts = tmp_path / "attempts"
    attempts.mkdir()
    a_dir = str(attempts)

    def failing_fetch(url, cfg):
        open(os.path.join(a_dir, os.urandom(6).hex()), "w").close()
        raise RuntimeError("boom")

    spine = spark.createDataFrame([(1,)], "user_id int")
    with pytest.raises(Exception, match="boom|REST fetch failed|PythonException"):
        rest_enrich(
            spine,
            RestSourceConfig(url="http://127.0.0.1:9/x/{key:user_id}", retries=2),
            "v int",
            ["user_id"],
            fetcher=failing_fetch,
        ).collect()


def test_rest_enrich_malformed_payload_yields_null_fields(spark, tmp_path):
    d = tmp_path / "users"
    d.mkdir()
    (d / "1.json").write_text("NOT JSON {{{")
    spine = spark.createDataFrame([(1,)], "user_id int")
    row = rest_enrich(
        spine,
        RestSourceConfig(url=f"file://{d}/{{key:user_id}}.json"),
        "plan string, score int",
        ["user_id"],
    ).first()
    # the fetch succeeded (status 200); from_json nulls the fields
    assert row["rest_status"] == 200
    assert row["plan"] is None and row["score"] is None

    # on purpose, a malformed payload reads exactly like a sparse one
    def fake_fetch(url, cfg):
        return 200, "{not json" if url.endswith("/1") else "{}"

    spine = spark.createDataFrame([(1,), (2,)], "user_id int")
    rows = rest_enrich(
        spine,
        RestSourceConfig(url="http://h/users/{key:user_id}"),
        "plan string, score int",
        ["user_id"],
        fetcher=fake_fetch,
    ).orderBy("user_id").collect()
    assert [r.asDict() for r in rows] == [
        {"user_id": 1, "rest_status": 200, "plan": None, "score": None},
        {"user_id": 2, "rest_status": 200, "plan": None, "score": None},
    ]


def test_rest_enrich_plan_broadcasts_enrichment(spark, tmp_path):
    """The final (post-AQE) plan broadcasts the enrichment frame."""
    d = _fixture_dir(tmp_path, {1: {"v": 1}})
    spine = spark.createDataFrame([(1,)], "user_id int")
    out = rest_enrich(
        spine,
        RestSourceConfig(url=f"file://{d}/{{key:user_id}}.json"),
        "v int",
        ["user_id"],
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_rest_enrich_never_shuffles_a_large_spine(spark, tmp_path):
    """A parquet spine whose size estimate is past the broadcast
    threshold but that holds only 3 keys: the optimizer's estimate of
    the enrichment frame scales with the spine, so without the
    broadcast hint the join would be planned as a shuffle join and
    the spine shuffle-written before AQE could demote it. The spine
    (left) side of the executed join must hold no exchange."""
    d = _fixture_dir(tmp_path, {k: {"v": k} for k in range(3)})
    path = str(tmp_path / "spine")
    spark.range(20_000).select(
        (F.col("id") % 3).cast("int").alias("user_id"), F.col("id").alias("x")
    ).write.parquet(path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")  # the spine's parquet files are larger
    try:
        out = rest_enrich(
            spark.read.parquet(path),
            RestSourceConfig(url=f"file://{d}/{{key:user_id}}.json"),
            "v int",
            ["user_id"],
        )
        assert out.where(F.col("v") == F.col("user_id")).count() == 20_000
        out.collect()
        final = out._jdf.queryExecution().executedPlan().executedPlan()
    finally:
        spark.conf.set(key, old)
    joins = [n for n in _nodes(final) if n.nodeName().endswith("Join")]
    assert len(joins) == 1, [n.nodeName() for n in joins]
    spine_side = joins[0].left().toString()
    for shuffle in ("Exchange", "QueryStage", "ShuffleRead"):
        assert shuffle not in spine_side, spine_side


def _nodes(plan):
    """Every node of a JVM physical plan, pre-order, looking inside
    AQE's query stages (leaves whose stage plan is ``plan()``)."""
    yield plan
    if plan.nodeName().endswith("QueryStage"):
        yield from _nodes(plan.plan())
        return
    it = plan.children().iterator()
    while it.hasNext():
        yield from _nodes(it.next())


def test_rest_enrich_spine_column_collision_raises(spark, tmp_path):
    d = _fixture_dir(tmp_path, {1: {"plan": "pro"}})
    cfg = RestSourceConfig(url=f"file://{d}/{{key:user_id}}.json")
    for clash in ("plan", "rest_status", "PLAN"):
        spine = spark.createDataFrame([(1, "x")], f"user_id int, {clash} string")
        with pytest.raises(ValueError, match="collide"):
            rest_enrich(spine, cfg, "plan string", ["user_id"])
    # a non-clashing extra spine column still enriches
    spine = spark.createDataFrame([(1, "x")], "user_id int, event string")
    assert rest_enrich(spine, cfg, "plan string", ["user_id"]).first()["plan"] == "pro"


def test_http_fetch_retries_connection_errors_n_times(monkeypatch):
    """Driver-side: the retry loop in _http_fetch itself (injected
    fetchers bypass it, so this is the only coverage of backoff/give-up)."""
    import urllib.request

    from raptor_spark.sources import rest as rest_mod

    calls = []

    def boom(*a, **kw):
        calls.append(1)
        raise ConnectionError("nope")

    monkeypatch.setattr(urllib.request, "urlopen", boom)
    monkeypatch.setattr(rest_mod.time, "sleep", lambda s: None)
    cfg = RestSourceConfig(url="http://x/", retries=3)
    with pytest.raises(RuntimeError, match="failed after 3 attempts"):
        rest_mod._http_fetch("http://x/1", cfg)
    assert len(calls) == 3


def test_http_fetch_retries_5xx_and_returns_last(monkeypatch):
    import urllib.error

    from raptor_spark.sources import rest as rest_mod

    calls = []

    def flaky(url, timeout=None):
        calls.append(1)
        raise urllib.error.HTTPError(url, 503, "busy", {}, __import__("io").BytesIO(b"over capacity"))

    import urllib.request

    monkeypatch.setattr(urllib.request, "urlopen", flaky)
    monkeypatch.setattr(rest_mod.time, "sleep", lambda s: None)
    status, text = rest_mod._http_fetch("http://x/2", RestSourceConfig(url="http://x/", retries=2))
    assert (status, text) == (503, "over capacity")
    assert len(calls) == 2  # the 503 WAS retried


def test_transient_status_never_cached():
    from raptor_spark.sources import rest as rest_mod

    seq = iter([(503, "busy"), (200, "ok")])

    def two_step(url, cfg):
        return next(seq)

    cfg = RestSourceConfig(url="http://x/")
    assert rest_mod._cached_fetch("http://x/3", cfg, two_step) == (503, "busy")
    # the 503 must NOT have been pinned for the TTL — next call refetches
    assert rest_mod._cached_fetch("http://x/3", cfg, two_step) == (200, "ok")


def test_cache_key_includes_request_shape():
    from raptor_spark.sources import rest as rest_mod

    def fetch_a(url, cfg):
        return 200, "A"

    def fetch_b(url, cfg):
        return 200, "B"

    get = RestSourceConfig(url="http://x/", method="GET")
    post = RestSourceConfig(url="http://x/", method="POST", body="q=1")
    assert rest_mod._cached_fetch("http://x/4", get, fetch_a) == (200, "A")
    # same URL, different method/body -> different cache slot
    assert rest_mod._cached_fetch("http://x/4", post, fetch_b) == (200, "B")
    # same URL+cfg, different fetcher -> different cache slot
    assert rest_mod._cached_fetch("http://x/4", get, fetch_b) == (200, "B")


def test_cache_key_distinguishes_closures_with_one_qualname():
    import pickle

    from pyspark import cloudpickle

    from raptor_spark.sources import rest as rest_mod

    calls = []

    def make(payload):
        def fetch(url, cfg):
            calls.append(payload)
            return 200, payload
        return fetch

    a, b = make("A"), make("B")
    assert a.__qualname__ == b.__qualname__
    ka, kb = rest_mod._fetcher_key(a), rest_mod._fetcher_key(b)
    assert ka != kb
    # a task's unpickled copy of a fetcher keys like the original, so
    # the cache hits across tasks
    assert rest_mod._fetcher_key(pickle.loads(cloudpickle.dumps(a))) == ka
    cfg = RestSourceConfig(url="http://x/")
    assert rest_mod._cached_fetch("http://x/5", cfg, a, ka) == (200, "A")
    assert rest_mod._cached_fetch("http://x/5", cfg, b, kb) == (200, "B")
    assert rest_mod._cached_fetch("http://x/5", cfg, a, ka) == (200, "A")
    assert calls == ["A", "B"]


def test_cache_accepts_unhashable_fetcher():
    from raptor_spark.sources import rest as rest_mod

    class Fetch:
        def __init__(self, payload):
            self.payload = payload

        def __eq__(self, other):  # defines __eq__ only: unhashable
            return isinstance(other, Fetch) and other.payload == self.payload

        def __call__(self, url, cfg):
            return 200, self.payload

    cfg = RestSourceConfig(url="http://x/")
    assert rest_mod._cached_fetch("http://x/6", cfg, Fetch("C")) == (200, "C")
    assert rest_mod._cached_fetch("http://x/6", cfg, Fetch("D")) == (200, "D")


def test_missing_file_maps_to_404_not_crash(spark, tmp_path):
    """file:// and http must share error semantics: a missing
    enrichment document is a 404 row with null fields, never a
    job-aborting task failure."""
    d = _fixture_dir(tmp_path, {1: {"v": 10}})  # key 2 has no file
    spine = spark.createDataFrame([(1,), (2,)], "user_id int")
    rows = {
        r["user_id"]: r.asDict()
        for r in rest_enrich(
            spine,
            RestSourceConfig(url=f"file://{d}/{{key:user_id}}.json"),
            "v int",
            ["user_id"],
        ).collect()
    }
    assert rows[1]["rest_status"] == 200 and rows[1]["v"] == 10
    assert rows[2]["rest_status"] == 404 and rows[2]["v"] is None


def test_feature_over_rest_source_rejects_aggregation(spark):
    from raptor_spark import api

    @api.data_source(
        training_data=None, keys="user_id", timestamp="ts",
        production_config=RestSourceConfig(url="http://x/{key:user_id}"),
    )
    class Users:
        user_id: int
        ts: object
        plan: str

    with pytest.raises(ValueError, match="aggregation is not supported"):
        @api.feature(keys="user_id", data_source=Users)
        @api.aggregation(function="count", over="1h")
        def plan_count(this_row, ctx) -> int:
            return 1

    # the plain (non-aggregated) enrichment feature still builds
    @api.feature(keys="user_id", data_source=Users)
    def plan_feature(this_row, ctx) -> str:
        return this_row["plan"]
