"""The benchmark workloads. Each one loads a different layer of
``raptor_spark`` (see README.md for why each was chosen, what the seed
varies, and where the spine and streaming layers are measured).

A workload object has:
- ``span``: the name of the timed call's span;
- ``warmup_calls``: untimed calls ``setup()`` makes;
- ``setup()``: make the inputs and warm the JVM up; not timed;
- ``call(rep, traced)``: the timed call; returns what ``check`` needs;
- ``check(out)``: correctness, outside the timed region;
- ``units``: input units one call processes (for ``throughput_per_s``);
- ``out_rows(out)``: rows the call produced;
- ``layers(traced_outs, trace_attempt)``: per-layer metrics for the
  traced run;
- optionally ``call_s(walls)``, when the end-to-end call time is not the
  median of the call walls.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from measure import median

# Sized so that one run, JVM start and warm-up included, stays under a
# minute on a 4-vCPU host: 4 + 22 x 2 runs must fit in 57 minutes.
# After a cold first call, calls keep getting faster for a few more
# (driver-side JIT), so each workload makes ``warmup_calls`` untimed
# calls first; the timed calls then come from the flat part of the curve.
TURN_CONVS = 12_500          # ~300k turns (turn counts cycle 8..40)
TURN_FILES = 8
N_SHARDS = 4
SPINE_FRACTION = 0.10
STREAM_CONVS = 1_000         # ~24k events
STREAM_FILES = 16
STREAM_FILES_PER_TRIGGER = 4  # -> 4 micro-batches per drain
SESSION_GAP_US = 30 * 60 * 1_000_000
CORPUS_QUERIES = ["semantic_dedup"]
CORPUS_TABLES = ["embeddings"]


def force(df) -> tuple[int, int]:
    """(rows, bit_xor(xxhash64(*cols))) in one aggregate; a plain count
    would let Catalyst prune every column."""
    r = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).first()
    return int(r[0]), int(r[1] or 0)


def write_turns(path: str, seed: int, n_convs: int = TURN_CONVS) -> pd.DataFrame:
    """The transcript table from the repo's arithmetic generator, as
    ``TURN_FILES`` parquet files (conversation ranges). The seed
    shuffles the row order inside each file; no output depends on it."""
    from raptor_spark.sources.transcripts import transcripts_pandas

    pdf = transcripts_pandas(n_convs)
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")  # -> Spark TIMESTAMP, not NTZ
    rng = np.random.default_rng(seed)
    os.makedirs(path)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), TURN_FILES)):
        part = pdf.iloc[rng.permutation(chunk)]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{i:03d}.parquet"),
            compression="zstd", coerce_timestamps="us",
        )
    return pdf


class FlagshipBackfill:
    """transcript_feature_set() through backfill(): fused single-pass
    plan, sharded parquet writes and lineage records."""

    span = "backfill.backfill"
    warmup_calls = 3  # after the cold get_historical of setup()

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        from raptor_spark.backfill import transcript_feature_set
        from raptor_spark.plans.historical import get_historical

        ctx = self.ctx
        self.fs = transcript_feature_set()
        pdf = write_turns(os.path.join(ctx.work, "turns"), ctx.seed)
        self.units = len(pdf)
        self.turn_keys = pdf[["conv_id", "ts"]]
        self.src = ctx.spark.read.parquet(os.path.join(ctx.work, "turns"))
        hist = get_historical(self.src, self.fs)
        self.cols = hist.columns
        # warm-up 1 + the reference the backfilled output must equal
        self.ref = force(hist)
        if self.ref[0] != self.units:
            raise RuntimeError(f"get_historical rows {self.ref[0]} != {self.units}")
        # then the shard/commit loop itself, until the JIT has settled
        for rep in range(self.warmup_calls):
            res = self.call(f"warm-{rep}", False)
            if not self.check(res):
                raise RuntimeError("warm-up backfill failed its check")
            shutil.rmtree(res.out_dir)

    def call(self, rep, traced):
        from raptor_spark.backfill import backfill

        out_dir = os.path.join(self.ctx.work, f"bf-{rep}")
        return backfill(self.ctx.spark, self.src, self.fs, out_dir,
                        n_shards=N_SHARDS, source_id="turns")

    def check(self, res) -> bool:
        from raptor_spark.backfill import read_backfill

        got = force(read_backfill(self.ctx.spark, res.out_dir).select(*self.cols))
        ok = (res.shards_run == N_SHARDS and res.output_rows == self.units
              and got == self.ref)
        self.last = res
        return ok

    def out_rows(self, res) -> int:
        return res.output_rows

    def layers(self, traced_outs, trace_attempt):
        """historical.* time get_historical alone (no writes); the
        backfill.* split comes from the lineage records of the traced
        calls; resume_s re-runs the last call on its committed dir."""
        import json

        from raptor_spark.backfill import backfill
        from raptor_spark.plans.historical import get_historical

        ctx = self.ctx
        with ctx.tracer.span("historical.get_historical"):
            with ctx.tracer.span("historical.build"):
                t0 = time.perf_counter()
                df = get_historical(self.src, self.fs)
                build = time.perf_counter() - t0
            with ctx.tracer.span("historical.exec"):
                t0 = time.perf_counter()
                got = force(df)
                exec_s = time.perf_counter() - t0
        trace_attempt(got == self.ref)
        pre, p50, mx = [], [], []
        for res in traced_outs:
            lin = os.path.join(res.out_dir, "_lineage")
            walls = []
            for name in sorted(os.listdir(lin)):
                if name.startswith("shard-"):
                    with open(os.path.join(lin, name)) as f:
                        walls.append(json.load(f)["wall_s"])
            pre.append(res.wall_s - sum(walls))
            p50.append(median(walls))
            mx.append(max(walls))
        with ctx.tracer.span("backfill.resume"):
            t0 = time.perf_counter()
            again = backfill(ctx.spark, self.src, self.fs, self.last.out_dir,
                             n_shards=N_SHARDS, source_id="turns")
            resume = time.perf_counter() - t0
        trace_attempt(again.shards_skipped == N_SHARDS and again.shards_run == 0)
        return {
            **spine_probe(ctx, self.src, self.fs, self.turn_keys, trace_attempt),
            **stream_probe(ctx, trace_attempt),
            "historical.build_s": build,
            "historical.exec_s": exec_s,
            "backfill.wall_s": median([r.wall_s for r in traced_outs]),
            "backfill.preshard_s": median(pre),
            "backfill.shard_p50_s": median(p50),
            "backfill.shard_max_s": median(mx),
            "backfill.resume_s": resume,
        }


def spine_probe(ctx, src, fs, turns: pd.DataFrame, trace_attempt) -> dict:
    """get_historical against a label spine — the union-merge path
    (replay_wide per feature, then asof_join) that the fused backfill
    bypasses — and each operator of that path on the same source:
    replay_wide per feature, asof_join of the spine onto the merged
    feature values (both cached first), sliding_agg_exact, with_lags.
    Runs only in the traced run of flagship_backfill (see README.md)."""
    from raptor_spark.operators.asof import asof_join
    from raptor_spark.operators.laglead import with_lags
    from raptor_spark.operators.window_agg import sliding_agg_exact
    from raptor_spark.plans.historical import get_historical
    from raptor_spark.plans.replay import replay_wide

    tr = ctx.tracer
    rng = np.random.default_rng([ctx.seed, 1])
    n = int(len(turns) * SPINE_FRACTION)
    idx = np.sort(rng.choice(len(turns), size=n, replace=False))
    # label time = a turn's time plus 1..9 s: later than the turn and
    # earlier than the next one (gaps are >= 10 s)
    offs = pd.to_timedelta(rng.integers(1, 10, size=n), unit="s")
    labels = pd.DataFrame({
        "conv_id": turns["conv_id"].iloc[idx].to_numpy(),
        "ts": turns["ts"].iloc[idx].reset_index(drop=True) + offs,
    })
    sdir = os.path.join(ctx.work, "spine")
    os.makedirs(sdir)
    pq.write_table(pa.Table.from_pandas(labels, preserve_index=False),
                   os.path.join(sdir, "part-000.parquet"), coerce_timestamps="us")
    spine = ctx.spark.read.parquet(sdir)

    def pit(on):
        with tr.span("historical.spine_call", on=on):
            df = get_historical(src, fs, spine=spine)
            with tr.span("historical.spine_exec", on=on):
                return force(df)

    ref = pit(False)  # warm-up; the timed call must repeat its hash
    trace_attempt(pit(True) == ref and ref[0] == n)

    replay_s, frames = 0.0, []
    for spec in fs.features:
        with tr.span("replay.replay_wide"):
            t0 = time.perf_counter()
            fv = replay_wide(src, spec)
            force(fv)
            replay_s += time.perf_counter() - t0
        frames.append(fv)
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f, allowMissingColumns=True)
    value_cols = [c for c in merged.columns if c not in ("conv_id", "ts")]
    merged, cached_spine = merged.cache(), spine.cache()
    merged.count()
    cached_spine.count()
    with tr.span("asof.asof_join"):
        t0 = time.perf_counter()
        rows, _ = force(asof_join(cached_spine, merged, keys=["conv_id"],
                                  ts_col="ts", value_cols=value_cols))
        asof_s = time.perf_counter() - t0
    trace_attempt(rows == n)
    merged.unpersist()
    cached_spine.unpersist()
    turn_len = src.select(
        "conv_id", "ts", F.length("text").cast("double").alias("turn_len"))
    with tr.span("window_agg.sliding_agg_exact"):
        t0 = time.perf_counter()
        rows, _ = force(sliding_agg_exact(turn_len, ["conv_id"], "ts", "turn_len",
                                          SESSION_GAP_US, ["avg", "max"]))
        window_s = time.perf_counter() - t0
    with tr.span("laglead.with_lags"):
        t0 = time.perf_counter()
        rows2, _ = force(with_lags(turn_len, ["conv_id"], "ts", "turn_len", 2,
                                   over_us=2 * SESSION_GAP_US))
        lags_s = time.perf_counter() - t0
    trace_attempt(rows == rows2 == len(turns))
    return {
        "historical.spine_rows_per_s": n / median(tr.durations("historical.spine_call")),
        "historical.spine_exec_s": median(tr.durations("historical.spine_exec")),
        "replay.replay_wide_s": replay_s,
        "asof.asof_join_s": asof_s,
        "window_agg.sliding_agg_exact_s": window_s,
        "laglead.with_lags_s": lags_s,
    }


def stream_probe(ctx, trace_attempt) -> dict:
    """streaming.sessionize_stream (applyInPandasWithState), drained
    with availableNow over a fixed backlog of parquet files, and the
    batch operator over the same events as its baseline. Runs only in
    the traced run of flagship_backfill (see README.md)."""
    from raptor_spark.operators.sessionize import sessionize
    from raptor_spark.sources.transcripts import transcripts_pandas
    from raptor_spark.streaming.sessionize_stream import sessionize_stream

    spark, tr = ctx.spark, ctx.tracer
    ev = transcripts_pandas(STREAM_CONVS)[["conv_id", "turn_idx", "ts"]]
    ev["ts"] = ev["ts"].dt.tz_localize("UTC")
    ev = ev.sort_values(["ts", "conv_id"], kind="stable")
    # files are consecutive event-time slices, so no micro-batch holds
    # rows older than the watermark the previous one set; the seed
    # orders the files inside each trigger's group and the rows inside
    # each file, neither of which may change the output
    rng = np.random.default_rng([ctx.seed, 2])
    src_dir = os.path.join(ctx.work, "events")
    os.makedirs(src_dir)
    slices = np.array_split(np.arange(len(ev)), STREAM_FILES)
    t_base = time.time() - 3600
    for g in range(0, STREAM_FILES, STREAM_FILES_PER_TRIGGER):
        order = g + rng.permutation(STREAM_FILES_PER_TRIGGER)
        for pos, k in enumerate(order):
            path = os.path.join(src_dir, f"slice-{k:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(ev.iloc[rng.permutation(slices[k])],
                                     preserve_index=False),
                path, coerce_timestamps="us")
            mt = t_base + g + pos  # the file source reads in mtime order
            os.utime(path, (mt, mt))
    events = spark.read.parquet(src_dir)
    batch = sessionize(events, ["conv_id"], "ts", SESSION_GAP_US).select(
        "conv_id", "turn_idx", "session_idx")
    ref = force(batch)

    def drain(rep):
        name = f"sessions_{rep}"
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER)
                  .parquet(src_dir))
        with tr.span("sessionize_stream.drain", on=rep > 0):
            q = (sessionize_stream(stream, gap="30m", watermark="2 hours")
                 .writeStream.outputMode("append").format("memory")
                 .queryName(name)
                 .option("checkpointLocation",
                         os.path.join(ctx.work, f"ckpt-{rep}"))
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
        got = force(spark.table(name).select("conv_id", "turn_idx", "session_idx"))
        spark.catalog.dropTempView(name)
        return got == ref, q.recentProgress

    drain(0)  # warm-up
    ok, progress = drain(1)
    trace_attempt(ok)
    with tr.span("sessionize.batch"):
        t0 = time.perf_counter()
        got = force(batch)
        batch_s = time.perf_counter() - t0
    trace_attempt(got == ref)

    def p50(key):
        return median([p["durationMs"].get(key, 0) / 1e3 for p in progress])

    def state_max(key):
        return max(sum(op[key] for op in p["stateOperators"]) for p in progress)

    return {
        "sessionize_stream.events_per_s": len(ev) / median(
            tr.durations("sessionize_stream.drain")),
        "sessionize_stream.batches": len(progress),
        "sessionize_stream.trigger_p50_s": p50("triggerExecution"),
        "sessionize_stream.add_batch_p50_s": p50("addBatch"),
        "sessionize_stream.wal_commit_p50_s": p50("walCommit"),
        "sessionize_stream.state_rows": state_max("numRowsTotal"),
        "sessionize_stream.state_mem_mb": state_max("memoryUsedBytes") / 1e6,
        "sessionize.batch_events_per_s": len(ev) / batch_s,
    }


class CorpusDedup:
    """Catalog queries from functions/ at sf0.1, where driver-side jobs
    while the DataFrame is built dominate. One call = one pass over
    CORPUS_QUERIES; build = QUERIES[q](spark, sf), execute = collect."""

    span = "queries.pass"
    warmup_calls = 4  # passes 2-4 are still 10-40% slower than later ones

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        self.sf = os.path.join(self.ctx.root, "perfbench", "data", "sf0.1")
        self.units = len(CORPUS_QUERIES)
        self.oracle = {}
        self.passes = []
        for rep in range(self.warmup_calls):
            if not self.check(self.call(f"warm-{rep}", False)):
                raise RuntimeError("warm-up corpus pass failed its check")
        self.passes.clear()

    def call(self, rep, traced):
        from raptor_spark.queries import QUERIES

        ctx, out = self.ctx, {}
        for q in CORPUS_QUERIES:
            with ctx.tracer.span(f"{q}.build", on=traced), \
                    ctx.counters.group(f"{ctx.group}/{q}/build", on=traced):
                t0 = time.perf_counter()
                df = QUERIES[q](ctx.spark, self.sf)
                t1 = time.perf_counter()
            with ctx.tracer.span(f"{q}.exec", on=traced), \
                    ctx.counters.group(f"{ctx.group}/{q}/exec", on=traced):
                pdf = df.toPandas()
                t2 = time.perf_counter()
            out[q] = (t1 - t0, t2 - t1, pdf, f"{ctx.group}/{q}")
        self.passes.append(out)
        return out

    def check(self, out) -> bool:
        from tools.check_oracles import compare

        ok = True
        for q, (_, _, pdf, _) in out.items():
            problems = compare(q, pdf, self._oracle(q), exact=True)
            if problems:
                print(f"corpus_dedup {q}: {problems}", file=sys.stderr)
                ok = False
        return ok

    def _oracle(self, q) -> pd.DataFrame:
        """ORACLE_SQL[q] on DuckDB over the same tables. The tables and
        the SQL are fixed in a checkout, so the answer is kept under the
        work root, keyed by both, and computed once per checkout."""
        if q in self.oracle:
            return self.oracle[q]
        import duckdb

        from raptor_spark.queries import ORACLE_SQL

        h = hashlib.sha256(ORACLE_SQL[q].encode())
        for t in CORPUS_TABLES:
            with open(os.path.join(self.sf, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        cache = os.path.join(self.ctx.cache, f"oracle-{q}-{h.hexdigest()[:16]}.pkl")
        if os.path.exists(cache):
            pdf = pd.read_pickle(cache)
        else:
            con = duckdb.connect()
            for t in CORPUS_TABLES:
                path = os.path.join(self.sf, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            pdf = con.sql(ORACLE_SQL[q]).df()
            con.close()
            os.makedirs(self.ctx.cache, exist_ok=True)
            pdf.to_pickle(cache + ".tmp")
            os.replace(cache + ".tmp", cache)
        self.oracle[q] = pdf
        return pdf

    def call_s(self, walls) -> float:
        """Sum over the query set of each query's median (build +
        execute) across passes."""
        return sum(median([p[q][0] + p[q][1] for p in self.passes])
                   for q in CORPUS_QUERIES)

    def out_rows(self, out) -> int:
        return sum(len(v[2]) for v in out.values())

    def layers(self, traced_outs, trace_attempt):
        read = self.ctx.counters.read
        m = {}
        for q in CORPUS_QUERIES:
            m[f"{q}.build_s"] = median([o[q][0] for o in traced_outs])
            m[f"{q}.exec_s"] = median([o[q][1] for o in traced_outs])
            m[f"{q}.build_jobs"] = median(
                [read(o[q][3] + "/build")["jobs"] for o in traced_outs])
        m["queries.build_s"] = sum(m[f"{q}.build_s"] for q in CORPUS_QUERIES)
        m["queries.exec_s"] = sum(m[f"{q}.exec_s"] for q in CORPUS_QUERIES)
        m["queries.jobs"] = median(
            [sum(read(o[q][3])["jobs"] for q in CORPUS_QUERIES) for o in traced_outs])
        return m


WORKLOADS = {
    "flagship_backfill": FlagshipBackfill,
    "corpus_dedup": CorpusDedup,
}
