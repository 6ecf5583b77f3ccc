"""REST enrichment source (S5): per-key HTTP fetch, Spark-first.

Reference behavior: the ``rest`` builder fetches a URL per feature
request — config ``url``/``method``/``body``/``headers`` with
``{key:<name>}`` / ``{keys}`` templating, a retrying HTTP client
behind a 15-minute LRU response cache, and aggregations explicitly
rejected (``/root/reference/internal/plugins/builders/rest/rest.go``
:41-66, 57 — ``httpMemoryCache = lrucache.New(500MB, 15min)``; config
surface ``labsdk/raptor/types/dsrc_config_stubs/rest.py:22-36``).

Spark-first realization for batch backfill:

1. **Fetch each DISTINCT key tuple once, never per spine row** — the
   spine is deduplicated to its key set before any HTTP happens, so
   the fan-out is bounded by |distinct keys| no matter how many
   billions of rows reference them.
2. The URL is templated **JVM-side** (``url_expr`` compiles the
   ``{key:col}`` placeholders to one ``concat`` Column) — only the
   fetch itself crosses into Python, as an Arrow-batched
   ``mapInPandas`` loop with retry/backoff and a per-executor TTL
   response cache (the reference's httpcache analog; the module-level
   dict survives across batches inside one Python worker).
3. Responses parse with ``from_json`` into the declared schema and
   **broadcast-join back to the spine** (the enrichment frame is
   |distinct keys| rows). The broadcast is a hint, not left to the
   optimizer: Spark picks the join before anything runs, from a size
   estimate of the enrichment frame that scales with the spine, so
   without the hint a large spine would be shuffled for the join.

No network exists in this sandbox: tests and the driver query
exercise the identical code path through ``file://`` URLs (urllib
serves both schemes; method/headers are HTTP-only and ignored for
files) plus an injectable ``fetcher`` for fault cases.
"""

from __future__ import annotations

import hashlib
import re
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PLACEHOLDER = re.compile(r"\{key:([^}]+)\}|\{keys\}")

# per-executor response cache: url -> (fetched_at_monotonic, status, text)
_RESPONSE_CACHE: dict[str, tuple[float, int, str]] = {}
_CACHE_MAX_ENTRIES = 10_000


@dataclass(frozen=True)
class RestSourceConfig:
    """Config surface mirroring the reference's RestConfig
    (dsrc_config_stubs/rest.py:30-36): url template + method + body +
    headers, plus the client knobs the Go plugin hardcodes."""

    url: str
    method: str = "GET"
    body: str = ""
    headers: tuple[tuple[str, str], ...] = ()
    timeout_s: float = 10.0
    retries: int = 3
    backoff_s: float = 0.2
    cache_ttl_s: float = 900.0  # reference: 15-minute response cache
    # distinct-key fetch parallelism (HTTP politeness knob); 0 = leave
    # the keys frame's natural partitioning
    fetch_partitions: int = 0


def reject_aggr(aggrs: list | tuple) -> None:
    """The reference refuses windowed aggregation over a REST source
    (rest.go:64-66) — enrichment is a point lookup, not an event
    stream; mirror that contract loudly."""
    if aggrs:
        raise ValueError("aggregation is not supported for `rest` sources")


def url_expr(template: str, key_cols: list[str]) -> Column:
    """Compile the URL template to ONE JVM-side concat Column.

    ``{key:<col>}`` substitutes that key column; ``{keys}`` substitutes
    every key column ';'-joined (the engine's composite-key encoding,
    plans/replay.py P3). The reference substitutes ``{keys}`` in
    ``url.Values`` encoding (``name=value&...``) instead; a template
    that needs that form spells it with ``{key:<col>}`` placeholders.
    Unknown key names raise at build time.
    """
    parts: list[Column] = []
    pos = 0
    for m in _PLACEHOLDER.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        col = m.group(1)
        if col is None:  # {keys}
            parts.append(F.concat_ws(";", *[F.col(k).cast("string") for k in key_cols]))
        else:
            if col not in key_cols:
                raise ValueError(
                    f"url template references unknown key {col!r}; "
                    f"declared keys: {key_cols}"
                )
            parts.append(F.col(col).cast("string"))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit(template)


_RETRYABLE_STATUS = {429, 500, 502, 503, 504}


def _http_fetch(url: str, cfg: RestSourceConfig) -> tuple[int, str]:
    """Default fetcher: urllib with retry/backoff. Retries cover
    connection-level failures AND retryable HTTP statuses (429/5xx) —
    the reference client is retryablehttp, which does the same. A
    non-retryable response (2xx/3xx/4xx) IS the answer. A missing
    file:// resource maps to 404 so error semantics match HTTP (a
    missing enrichment document must not abort the backfill). Raises
    only after cfg.retries connection-level failures."""
    import urllib.error
    import urllib.request

    last_exc: Exception | None = None
    last_resp: tuple[int, str] | None = None
    for attempt in range(max(1, cfg.retries)):
        try:
            if url.startswith("file:"):
                # file scheme: method/headers/body are HTTP-only
                try:
                    with urllib.request.urlopen(url, timeout=cfg.timeout_s) as r:
                        return 200, r.read().decode("utf-8")
                except urllib.error.URLError as e:
                    if isinstance(getattr(e, "reason", None), FileNotFoundError):
                        return 404, ""  # same semantics as HTTP not-found
                    raise
            req = urllib.request.Request(
                url,
                data=cfg.body.encode("utf-8") if cfg.body else None,
                headers=dict(cfg.headers),
                method=cfg.method,
            )
            with urllib.request.urlopen(req, timeout=cfg.timeout_s) as r:
                resp = (r.status, r.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            resp = (e.code, e.read().decode("utf-8", errors="replace"))
        except Exception as e:  # connection-level: retry with backoff
            last_exc = e
            if attempt + 1 < max(1, cfg.retries):
                time.sleep(cfg.backoff_s * (2**attempt))
            continue
        if resp[0] not in _RETRYABLE_STATUS:
            return resp
        last_resp = resp  # transient server error: retry, keep last
        if attempt + 1 < max(1, cfg.retries):
            time.sleep(cfg.backoff_s * (2**attempt))
    if last_resp is not None:  # persistent 5xx after retries IS an answer
        return last_resp
    raise RuntimeError(f"REST fetch failed after {cfg.retries} attempts: {url}") from last_exc


def _fetcher_key(fetcher) -> str:
    """Digest of the pickled fetcher: a module-level function pickles
    by reference, a closure by value with its code and captured cells.
    Two closures that share a ``__qualname__`` but capture different
    payloads get different keys, while every task's unpickled copy of
    one fetcher gets the same key, so the cache still hits across tasks.
    Unhashable callables key fine too."""
    from pyspark import cloudpickle

    return hashlib.sha256(cloudpickle.dumps(fetcher)).hexdigest()


def _cache_key(url: str, cfg: RestSourceConfig, fetcher_key: str) -> tuple:
    # the response depends on the whole request shape, not the URL
    # alone — two configs POSTing different bodies to one URL (or two
    # different injected fetchers) must not serve each other's cached
    # payloads
    return (url, cfg.method, cfg.body, cfg.headers, fetcher_key)


def _cached_fetch(
    url: str,
    cfg: RestSourceConfig,
    fetcher: Callable[[str, RestSourceConfig], tuple[int, str]],
    fetcher_key: str | None = None,
) -> tuple[int, str]:
    """``fetcher(url, cfg)`` through the TTL cache. ``fetch_urls``
    passes ``fetcher_key`` computed once on the driver; without it the
    key is taken from ``fetcher`` on this call."""
    now = time.monotonic()
    key = _cache_key(url, cfg, fetcher_key or _fetcher_key(fetcher))
    hit = _RESPONSE_CACHE.get(key)
    if hit is not None and now - hit[0] <= cfg.cache_ttl_s:
        return hit[1], hit[2]
    status, text = fetcher(url, cfg)
    if status in _RETRYABLE_STATUS:
        return status, text  # never pin a transient error for a TTL
    if len(_RESPONSE_CACHE) >= _CACHE_MAX_ENTRIES:
        # opportunistic TTL sweep, then FIFO-ish trim if still full
        for k in [k for k, v in _RESPONSE_CACHE.items() if now - v[0] > cfg.cache_ttl_s]:
            _RESPONSE_CACHE.pop(k, None)
        while len(_RESPONSE_CACHE) >= _CACHE_MAX_ENTRIES:
            _RESPONSE_CACHE.pop(next(iter(_RESPONSE_CACHE)))
    _RESPONSE_CACHE[key] = (now, status, text)
    return status, text


def fetch_urls(
    keys_with_url: DataFrame,
    cfg: RestSourceConfig,
    fetcher: Callable[[str, RestSourceConfig], tuple[int, str]] | None = None,
) -> DataFrame:
    """Fetch every row's ``_url`` (already templated JVM-side), adding
    ``_status int`` + ``_payload string``. mapInPandas — one Python
    loop per Arrow batch, cache shared across batches per executor."""
    import pandas as pd

    fetch = fetcher or _http_fetch
    fetch_key = _fetcher_key(fetch)
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in keys_with_url.schema.fields]
        + ["_status int", "_payload string"]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            statuses, payloads = [], []
            for url in pdf["_url"]:
                if url is None:
                    statuses.append(None)
                    payloads.append(None)
                    continue
                status, text = _cached_fetch(str(url), cfg, fetch, fetch_key)
                statuses.append(status)
                payloads.append(text)
            out = pdf.copy()
            out["_status"] = pd.array(statuses, dtype="Int64")
            out["_payload"] = payloads
            yield out

    return keys_with_url.mapInPandas(run, schema=out_schema)


def rest_enrich(
    df: DataFrame,
    cfg: RestSourceConfig,
    schema: str,
    key_cols: list[str],
    fetcher: Callable[[str, RestSourceConfig], tuple[int, str]] | None = None,
) -> DataFrame:
    """Enrich ``df`` with the JSON fields of the per-key REST response.

    Plan shape (the 100 TB contract): ONE distinct over the key
    columns bounds every HTTP call; the fetch output is |distinct
    keys| rows and broadcast-joins back, so the corpus itself is never
    shuffled for enrichment. The broadcast is forced because the
    optimizer's size estimate of that frame scales with the spine (the
    key count is unknown until the fetch runs); a key set too large to
    broadcast is not handled. NULL keys are left un-enriched (no URL
    to build), mirroring the engine's null-key handling elsewhere.
    ``{keys}`` in the URL is ';'-joined,
    not the reference's ``url.Values`` encoding (see ``url_expr``).

    Raises ``ValueError`` at build time when a spine column other than
    ``key_cols`` shares its name with ``rest_status`` or a field of
    ``schema`` (the joined frame would carry it twice).
    """
    keys = (
        df.select(*key_cols)
        .na.drop("any", subset=key_cols)
        .distinct()
        .withColumn("_url", url_expr(cfg.url, key_cols))
    )
    if cfg.fetch_partitions > 0:
        keys = keys.repartition(cfg.fetch_partitions)
    fetched = fetch_urls(keys, cfg, fetcher)
    enriched = fetched.select(
        *key_cols,
        F.col("_status").alias("rest_status"),
        F.from_json(F.col("_payload"), schema).alias("_e"),
    ).select(*key_cols, "rest_status", "_e.*")
    added = {c.lower() for c in enriched.columns if c not in key_cols}
    clash = sorted(c for c in df.columns if c not in key_cols and c.lower() in added)
    if clash:
        raise ValueError(
            f"spine columns {clash} collide with the enrichment columns "
            f"{sorted(added)}; rename or drop them before rest_enrich"
        )
    return df.join(F.broadcast(enriched), on=key_cols, how="left")
