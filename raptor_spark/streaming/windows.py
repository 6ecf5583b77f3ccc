"""Structured-Streaming bucket maintenance — the online half of the
two-phase windowed aggregation (SURVEY.md §2.7 T1-T4).

Reference semantics being reproduced (Spark-first, no Redis):

- T1 bucket naming: events land in ``granularity``-sized tumbling
  buckets (``/root/reference/api/windows.go:96-108``) →
  ``F.window(ts, granularity)``.
- T2 alive vs dead buckets + DeadGracePeriod: a bucket stops accepting
  updates ``staleness + grace`` after its end
  (``api/windows.go:27-29,116-138``) → ``withWatermark(ts,
  staleness + grace)`` with append output: Spark emits a bucket row
  exactly when it dies — the streaming analog of the historian's
  ``bucket_active=false`` flush (``internal/historian/collect.go:72-145``).
- T3 incremental partial update (WindowAdd HINCRBY / lua min-max,
  ``redis/windows.go:229-265``) → Spark's stateful partial agg holds
  {count,sum,min,max} per (keys, bucket) and updates per micro-batch;
  the partial list is the batch path's own
  (``operators.window_agg._partial_aggs``).
- T4 late data: rows older than the watermark are dropped from state —
  the retrospective path (``engine_pipeline.go:153-157``); in batch
  backfill they are naturally included.

The emitted rows are phase-1 partials in the batch bucket layout
(numeric ``bucket`` index, ``_p_*`` columns), so the phase-2
range-window merge (``operators.window_agg.merge_buckets``) reads them
directly — identically over batch- or stream-produced buckets.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..durations import duration_to_interval_str as _us_to_interval
from ..durations import parse_duration_us
from ..operators.window_agg import _partial_aggs


def stream_bucket_partials(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    granularity: str | int = "10m",
    staleness: str | int = "1h",
    grace: str | int = "10m",
) -> DataFrame:
    """Streaming phase-1: per (keys, bucket) partial {count,sum,min,max}
    with watermark = staleness + grace (bucket TTL, api/windows.go:110-113).

    Groups by ``F.window(ts)`` — the event-time window append mode needs
    to tie a bucket to the watermark — then projects to the batch
    layout of ``window_agg.bucket_partials``: numeric ``bucket`` index
    and ``_p_*`` partials. Works on a streaming OR batch DataFrame
    (same plan; watermark is a no-op in batch) — the two-phase merge
    downstream cannot tell which produced the buckets.
    """
    gran_us = parse_duration_us(granularity)
    wm_us = parse_duration_us(staleness) + parse_duration_us(grace)
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, _us_to_interval(wm_us))
    return (
        src.groupBy(
            *[F.col(k) for k in keys],
            F.window(F.col(ts_col), _us_to_interval(gran_us)).alias("_w"),
        )
        .agg(*_partial_aggs(src, F.col(value_col), ()))
        .select(
            *keys,
            # FLOOR division, matching bucket_partials' floor(µs/g) — a
            # float-divide + cast('long') TRUNCATES toward zero and would
            # disagree on pre-epoch (negative-µs) timestamps
            F.floor(F.unix_micros(F.col("_w.start")) / F.lit(gran_us)).alias(
                "bucket"
            ),
            "_p_count", "_p_sum", "_p_min", "_p_max",
        )
    )


def run_stream_to_memory(partials: DataFrame, table_name: str) -> None:
    """Drain a streaming plan into an in-memory sink in append mode with
    availableNow (process-everything-then-stop) — the test/backfill
    trigger; production uses a real sink + continuous trigger."""
    q = (
        partials.writeStream.outputMode("append")
        .format("memory")
        .queryName(table_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
