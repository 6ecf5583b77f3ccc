"""Online feature store analog (S10 / SURVEY §3.3) — batch/stream
materialization of the LATEST feature vector per entity key.

The reference serves online gets from Redis state maintained by the
runtime (``/root/reference/internal/plugins/providers/state/redis``,
``/root/reference/runtime/runtime/svc.py`` get path): per (fqn, keys)
the freshest value wins, and a value older than the feature's
``max_stale`` serves as None (``labsdk/raptor/types/feature.py:73-74``
freshness semantics). Spark-first analog:

- ``materialize``: collapse a feature-values frame (the canonical
  (fqn, keys, ts, value) long relation from ``plans.replay``) to the
  newest row per (fqn, keys) — one hash shuffle, ``max_by``-style via
  the existing latest-per-key window — written as parquet partitioned
  by fqn (per-feature file pruning, the reference's per-FQN Redis
  keyspace analog).
- ``upsert``: append new feature values; reads re-collapse to latest
  (log-structured — compaction happens on ``compact()``; a real
  deployment maps this to Iceberg MERGE or a KV sink).
- ``get``: the serving call — latest values for one entity across
  requested features, with the staleness cutoff applied at read time
  against ``as_of`` (event-time now).
- ``upsert_stream``: Structured Streaming sink via foreachBatch —
  each micro-batch appends its rows; the same read path serves them.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.laglead import latest_per_key


class OnlineStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- write ---------------------------------------------------------
    def materialize(self, fv: DataFrame, gen: int = 0) -> None:
        """Collapse to latest per (fqn, keys) and overwrite the store,
        partitioned by fqn. fv: the canonical long relation (fqn, keys,
        ts, value). ``gen``: write generation (see ``upsert``)."""
        self._latest(self._with_gen(fv, gen)).write.mode("overwrite").partitionBy(
            "fqn"
        ).parquet(self.path)

    def upsert(self, fv: DataFrame, gen: int = 1) -> None:
        """Log-structured append — newest row wins at read time.
        ``gen`` is the WRITE GENERATION: two rows at the same event ts
        resolve to the higher generation (the Redis SET last-write-wins
        analog — without it a same-ts correction could lose the tie).
        Callers doing repeated upserts should pass increasing gens;
        within one generation same-ts ties resolve value-desc
        (deterministic)."""
        self._with_gen(fv, gen).write.mode("append").partitionBy(
            "fqn"
        ).parquet(self.path)

    def upsert_stream(self, fv_stream: DataFrame, checkpoint: str):
        """Streaming upsert: every micro-batch appends its rows (the
        streaming analog of the runtime's per-event Redis SET); the
        micro-batch id orders generations, so a later batch's same-ts
        write wins."""
        return (
            fv_stream.writeStream.foreachBatch(
                lambda batch, bid: self.upsert(batch, gen=bid + 1)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    @staticmethod
    def _with_gen(fv: DataFrame, gen: int) -> DataFrame:
        if "_gen" in fv.columns:
            return fv
        return fv.withColumn("_gen", F.lit(int(gen)))

    def compact(self) -> None:
        """Rewrite the log to one row per (fqn, keys) — the cleanup
        MERGE analog (snowflake/create.go:36-60). Writes to a temp dir
        then swaps: cache() is NOT a durability guarantee (an evicted/
        lost partition would recompute from the source path mid-
        overwrite and find the files already deleted)."""
        import shutil

        self._recover()
        tmp = self.path.rstrip("/") + ".compact.tmp"
        self._latest(self.spark.read.parquet(self.path)).write.mode(
            "overwrite"
        ).partitionBy("fqn").parquet(tmp)
        old = self.path.rstrip("/") + ".compact.old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(self.path, old)
        os.replace(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)

    def _recover(self) -> None:
        """Heal a compact() interrupted between its two renames: the
        store path is briefly absent while the pre-compact copy sits at
        .compact.old — restore it so readers never see a missing store
        (the .tmp result, if complete, is discarded: the old data is
        equivalent, just uncompacted)."""
        old = self.path.rstrip("/") + ".compact.old"
        if not os.path.exists(self.path) and os.path.isdir(old):
            os.replace(old, self.path)

    # -- read ----------------------------------------------------------
    def _latest(self, fv: DataFrame) -> DataFrame:
        # deterministic tie rule: newest ts, then highest write
        # generation (last-write-wins for same-ts corrections), then
        # greatest value — ties must resolve identically on every
        # run/engine (row_number over ts alone is physical-order luck)
        gen = F.col("_gen") if "_gen" in fv.columns else F.lit(0)
        return latest_per_key(
            fv, ["fqn", "keys"], F.col("ts").desc(), gen.desc(),
            F.col("value").desc(),
        )

    def read_latest(self, fqns: Optional[Sequence[str]] = None) -> DataFrame:
        self._recover()
        df = self.spark.read.parquet(self.path)
        if fqns:
            df = df.filter(F.col("fqn").isin(list(fqns)))  # partition prune
        return self._latest(df).drop("_gen")

    def get(
        self,
        fqns: Sequence[str],
        keys: str,
        as_of: Optional[dt.datetime] = None,
        staleness_us: Optional[dict[str, int]] = None,
    ) -> dict[str, object]:
        """Serving read: {fqn: value} for one encoded entity key.
        A value older than its feature's staleness (relative to
        ``as_of``) serves as None (feature.py:73-74); missing features
        serve as None."""
        df = self.read_latest(fqns).filter(F.col("keys") == keys)
        rows = {r["fqn"]: r for r in df.collect()}
        out: dict[str, object] = {}
        for fqn in fqns:
            r = rows.get(fqn)
            if r is None:
                out[fqn] = None
                continue
            st = (staleness_us or {}).get(fqn, 0)
            if st and as_of is not None:
                age = (as_of - r["ts"]).total_seconds() * 1e6
                if age > st:
                    out[fqn] = None
                    continue
            out[fqn] = r["value"]
        return out


def online_from_historical(
    store: OnlineStore, fv_frames: Sequence[DataFrame]
) -> None:
    """Bootstrap the online table from replayed feature-values frames
    (the reference's historical→online backfill path)."""
    merged = fv_frames[0]
    for f in fv_frames[1:]:
        merged = merged.unionByName(f)
    store.materialize(merged)
