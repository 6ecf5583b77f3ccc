"""Checkpoint-resumable PIT backfill driver (north rule).

Shards the entity-key space by ``pmod(xxhash64(key), n_shards)`` and
runs the full historical feature plan (``plans.historical.get_historical``)
per shard, up to ``defaultParallelism`` shards in flight at once, each
committing its own output parquet + a lineage record (commits can land
out of shard order). A killed run loses only its in-flight shards and
resumes by skipping committed ones — output is byte-stable because
sharding is deterministic on the key and every feature window is
contained within one key (a conversation never spans shards).

Reference parity: the reference's historian commits per-bucket parquet
files and dedupes re-handled buckets via a TTL cache
(``/root/reference/internal/historian/write.go:26-49``,
``collect.go:108-119``); our shard manifest plays that role, with the
plan-hash guarding against resuming across a changed feature plan
(analog of the program checksum cache, ``runtime/svc.py:55-64``).

Lineage record per shard (JSON, atomically renamed into place):
``{shard, input_rows, output_rows, wall_s, plan_hash, status}`` —
the per-partition row-count/latency metrics the north rule requires.
``output_rows`` is observed during the shard's own write; shard
``wall_s`` values overlap, so their sum can exceed the run's ``wall_s``.

Run via spark-submit (``--py-files raptor_spark.zip``)::

    spark-submit --master local[32] --py-files raptor_spark.zip \
        -m raptor_spark.backfill -- --n-convs 5000 --out /tmp/bf

or ``python -m raptor_spark.backfill --n-convs 5000 --out /tmp/bf``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .plans.historical import get_historical
from .specs import FeatureSetSpec, feature


# ------------------------------------------------------------ lineage io

def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _shard_record_path(out_dir: str, shard: int) -> str:
    return os.path.join(_lineage_dir(out_dir), f"shard-{shard:05d}.json")


def _write_atomic(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)  # atomic on POSIX → commit point


def _expr_id(e) -> str:
    """PROCESS-STABLE identity for a spec expression. ``str(callable)``
    embeds a memory address, which would change every process and make
    a killed run's checkpoint never match on restart (resume silently
    recomputing everything); compiled programs carry their handler
    source, plain callables fall back to their own source text or
    qualified name."""
    if e is None or isinstance(e, (str, int, float, bool)):
        return repr(e)
    if isinstance(e, (list, tuple)):
        return "[" + ",".join(_expr_id(x) for x in e) + "]"
    src = getattr(e, "source", None)  # CompiledProgram
    if src:
        return f"prog:{src}"
    import inspect

    try:
        return "src:" + inspect.getsource(e)
    except (OSError, TypeError):
        return (
            f"fn:{getattr(e, '__module__', '?')}."
            f"{getattr(e, '__qualname__', type(e).__name__)}"
        )


def plan_hash(
    fs: FeatureSetSpec,
    n_shards: int,
    source_id: str,
    shard_expr_id: str = "key-hash",
) -> str:
    """Checkpoint identity: feature plan + sharding (count AND the
    shard-ASSIGNMENT expression — a ``shard_col`` run whose column
    partitions keys differently from key-hashing must not share
    identity with it, ADVICE r2) + source. Changing any of these
    invalidates prior shard commits. Every output-changing spec field
    participates (keys_expr/ts_expr re-key rows; namespace changes the
    fqn; derived_inputs change the DAG — review r3)."""
    spec_repr = repr([
        (f.name, f.namespace, f.keys, _expr_id(f.expr), f.timestamp_col,
         _expr_id(f.keys_expr), _expr_id(f.ts_expr), f.staleness_us,
         f.freshness_us, f.aggr, f.keep_previous, f.filter,
         f.derived_inputs)
        for f in fs.features
    ])
    h = hashlib.sha256(
        f"{spec_repr}|{fs.key_feature}|{n_shards}|{shard_expr_id}|"
        f"{source_id}".encode()
    )
    return h.hexdigest()[:16]


def committed_shards(out_dir: str, phash: str) -> set[int]:
    d = _lineage_dir(out_dir)
    done: set[int] = set()
    if not os.path.isdir(d):
        return done
    for name in os.listdir(d):
        if not name.startswith("shard-") or not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue  # torn write from a killed run → recompute
        if rec.get("status") == "committed" and rec.get("plan_hash") == phash:
            done.add(int(rec["shard"]))
    return done


# -------------------------------------------------------------- driver

@dataclass
class BackfillResult:
    out_dir: str
    plan_hash: str
    shards_total: int
    shards_run: int
    shards_skipped: int
    input_rows: int      # rows processed in THIS run (skipped excluded)
    output_rows: int
    wall_s: float

    @property
    def throughput(self) -> float:
        return self.input_rows / self.wall_s if self.wall_s > 0 else 0.0


def backfill(
    spark: SparkSession,
    source: DataFrame,
    fs: FeatureSetSpec,
    out_dir: str,
    n_shards: int = 16,
    shard_key: Optional[str] = None,
    shard_col: Optional[str] = None,
    resume: bool = True,
    source_id: str = "source",
    mode: str = "exact",
    fail_after_shard: Optional[int] = None,
    incremental: bool = False,
) -> BackfillResult:
    """Run the historical plan shard-wise with per-shard commit.

    shard_key defaults to the key feature's first key column. Each shard
    filters the SOURCE on ``pmod(xxhash64(key), n_shards) == k``. A hash
    predicate prunes NOTHING in a flat parquet layout — a 16-shard run
    would read the input 16× — so when the source is catalog-laid-out,
    pass ``shard_col`` (e.g. the catalog's ``pbucket`` hive-partition
    column): the shard predicate becomes
    ``pmod(shard_col, n_shards) == k``, which Spark turns into a
    PartitionFilter, and each shard's scan touches only ~1/n_shards of
    the files. Because the catalog derives pbucket with the SAME hash
    (``pmod(xxhash64(conv_id), n_buckets)``, sources/catalog.py), the
    shard assignment is IDENTICAL to key-hash sharding whenever
    n_buckets % n_shards == 0 — a checkpointed run can switch between
    the two and resume cleanly.

    incremental=True: data-aware resume — each committed shard stores a
    cheap input FINGERPRINT (row count, max ts µs, xxhash of key+ts);
    a later run over an appended/changed source recomputes exactly the
    shards whose fingerprint moved and skips the rest. (Plain resume
    only skips by plan hash — right for a killed run over static
    input.) Fingerprints for ALL shards come from ONE full-source
    groupBy pass, not one aggregate job per shard.

    Pending shards run on ``min(pending, defaultParallelism)`` driver
    threads inheriting the caller's job group and local properties, so
    commits can land out of shard order and a kill loses at most the
    in-flight shards. If a shard raises, queued shards are cancelled,
    in-flight ones still commit, and the error propagates.

    fail_after_shard: test hook simulating a killed run — runs only the
    pending shards ≤ k, then raises (so a fresh run commits exactly
    shards 0..k; resume covered by tests).
    """
    key = shard_key or fs.resolve_key_feature().keys[0]
    ts_col = fs.resolve_key_feature().timestamp_col

    key_hash_expr = F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards))
    shard_expr = (
        F.pmod(F.col(shard_col).cast("long"), F.lit(n_shards))
        if shard_col
        else key_hash_expr
    )
    shard_expr_id = f"col:{shard_col}" if shard_col else "key-hash"
    if shard_col:
        # a shard_col run may only share checkpoint identity with
        # key-hash sharding when the ASSIGNMENTS agree (e.g. catalog
        # pbucket with n_buckets % n_shards == 0) — otherwise a resume
        # would skip shards whose key membership differs (ADVICE r2).
        # Verified on the data with one column-pruned aggregate;
        # eqNullSafe so a NULL shard assignment counts as MISMATCH
        # (plain != yields NULL, which max() would ignore — a null-
        # bearing column would silently share the key-hash identity).
        # Skipped when this run's own identity already covers every
        # shard (a fully-committed plain resume stays scan-free).
        own_done = (
            committed_shards(
                out_dir, plan_hash(fs, n_shards, source_id, shard_expr_id)
            )
            if resume
            else set()
        )
        if len(own_done) < n_shards:
            mismatch = source.select(
                F.max(
                    (~shard_expr.eqNullSafe(key_hash_expr)).cast("int")
                ).alias("m")
            ).first()["m"]
            if not mismatch:
                shard_expr_id = "key-hash"
    phash = plan_hash(fs, n_shards, source_id, shard_expr_id)
    os.makedirs(_lineage_dir(out_dir), exist_ok=True)

    # a prior run with MORE shards leaves data/shard=k dirs beyond this
    # run's range; nothing would ever overwrite them, and read_backfill
    # globs the whole data dir — stale rows would silently duplicate
    # the output (review r3). Shards < n_shards are re-committed (per-
    # shard overwrite) so only the out-of-range tail needs removal.
    import shutil

    data_root = os.path.join(out_dir, "data")
    if os.path.isdir(data_root):
        for name in os.listdir(data_root):
            if name.startswith("shard="):
                try:
                    k = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if k >= n_shards:
                    shutil.rmtree(os.path.join(data_root, name))
                    try:
                        os.remove(_shard_record_path(out_dir, k))
                    except OSError:
                        pass

    done = committed_shards(out_dir, phash) if resume else set()
    prior: dict[int, dict] = {}
    if incremental and resume:
        for k in done:
            try:
                with open(_shard_record_path(out_dir, k)) as f:
                    prior[k] = json.load(f)
            except (OSError, json.JSONDecodeError):
                pass
    t_run = time.perf_counter()

    # ONE pass over the source for every shard's row count (+ the
    # incremental fingerprint fields) — not a per-shard aggregate job.
    # Plain-resume runs with nothing left to do skip even this scan
    # (incremental always needs it: the fingerprints decide skipping).
    stats: dict[int, object] = {}
    if incremental or any(k not in done for k in range(n_shards)):
        stat_aggs = [F.count(F.lit(1)).alias("n")]
        if incremental:
            stat_aggs += [
                F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("mx"),
                F.bit_xor(F.xxhash64(F.col(key), F.col(ts_col))).alias("h"),
            ]
        stats = {
            r["_shard"]: r
            for r in source.groupBy(shard_expr.alias("_shard"))
            .agg(*stat_aggs)
            .collect()
        }
        if None in stats:
            # rows whose shard assignment is NULL (null shard_col /
            # null key) match NO shard filter — they would silently
            # vanish from the output
            raise ValueError(
                f"{stats[None]['n']} row(s) have a NULL shard assignment "
                f"({'column ' + shard_col if shard_col else 'key ' + key}) "
                "— they would be dropped by every shard filter; clean or "
                "re-key the source first"
            )

    pending = []
    for k in range(n_shards):
        st = stats.get(k)
        fp = None
        if incremental:
            fp = {
                "n": st["n"] if st else 0,
                "max_ts_us": st["mx"] if st else None,
                "hash": st["h"] if st else None,
            }
            if k in done and prior.get(k, {}).get("fingerprint") == fp:
                continue
        elif k in done:
            continue
        pending.append((k, st["n"] if st else 0, fp))
    skipped = n_shards - len(pending)
    if fail_after_shard is not None:
        pending = [p for p in pending if p[0] <= fail_after_shard]

    def run_shard(k: int, n_in: int, fp: Optional[dict]) -> int:
        t0 = time.perf_counter()
        out = get_historical(source.filter(shard_expr == k), fs, mode=mode)
        data_path = os.path.join(out_dir, "data", f"shard={k:05d}")
        obs = Observation()  # counts output rows during the write
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        out.write.mode("overwrite").parquet(data_path)
        n_out = obs.get["n"]
        _write_atomic(
            _shard_record_path(out_dir, k),
            {
                "shard": k,
                "input_rows": n_in,
                "output_rows": n_out,
                "wall_s": round(time.perf_counter() - t0, 3),
                "plan_hash": phash,
                "status": "committed",
                "data_path": data_path,
                **({"fingerprint": fp} if fp is not None else {}),
            },
        )
        return n_out

    width = min(len(pending), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=max(width, 1)) as pool:
        # wrapped per submit: each shard copies the caller's job group
        futs = [
            pool.submit(inheritable_thread_target(spark)(run_shard), *p)
            for p in pending
        ]
        try:
            out_rows = sum(f.result() for f in futs)
        except BaseException:
            pool.shutdown(cancel_futures=True)  # in-flight shards finish
            raise
    ran = len(pending)
    in_rows = sum(p[1] for p in pending)
    if fail_after_shard is not None:
        raise RuntimeError(f"injected failure after shard {fail_after_shard}")

    wall_s = time.perf_counter() - t_run
    res = BackfillResult(
        out_dir=out_dir,
        plan_hash=phash,
        shards_total=n_shards,
        shards_run=ran,
        shards_skipped=skipped,
        input_rows=in_rows,
        output_rows=out_rows,
        wall_s=round(wall_s, 3),
    )
    _write_atomic(
        os.path.join(_lineage_dir(out_dir), "_manifest.json"),
        {
            "plan_hash": phash,
            "n_shards": n_shards,
            "shards_run": ran,
            "shards_skipped": skipped,
            "input_rows": in_rows,
            "output_rows": out_rows,
            "wall_s": res.wall_s,
            "throughput_rows_per_s": round(res.throughput, 1),
        },
    )
    return res


def read_backfill(
    spark: SparkSession, out_dir: str, with_shard: bool = False
) -> DataFrame:
    """Read the committed backfill output. ``shard`` is a hive partition
    column of the layout (usable for pruning); hidden by default so the
    schema matches the logical plan's."""
    df = spark.read.parquet(os.path.join(out_dir, "data"))
    return df if with_shard else df.drop("shard")


# ----------------------------------------- flagship transcript features

def transcript_feature_set() -> FeatureSetSpec:
    """The north-rule flagship plan over the transcript table
    (conv_id, turn_idx, role, text, tool, ts): per-turn PIT vector of
    projection + windowed + lagged features."""
    return FeatureSetSpec(
        features=[
            feature("turn_len", "conv_id", "cast(length(text) as double)",
                    staleness="1h", keep_previous=(2, "1h")),
            feature("turns_10m", "conv_id", "1", aggr=["count"], over="10m"),
            feature("tool_calls_1h", "conv_id", "1", aggr=["count"],
                    over="1h", filter="role = 'tool'"),
            feature("turn_len_stats_30m", "conv_id",
                    "cast(length(text) as double)",
                    aggr=["avg", "max"], over="30m"),
        ],
        key_feature="turn_len",
    )


def main(argv: Optional[Sequence[str]] = None) -> None:
    from .session import get_spark
    from .sources.transcripts import transcripts

    p = argparse.ArgumentParser(description="PIT backfill over transcripts")
    p.add_argument("--out", required=True)
    p.add_argument("--n-convs", type=int, default=2000)
    p.add_argument("--shards", type=int, default=16)
    p.add_argument("--master", default=None)
    p.add_argument("--mode", choices=["exact", "bucketed"], default="exact")
    p.add_argument("--skew", action="store_true")
    p.add_argument("--catalog-root", default=None,
                   help="lay the transcript table out through the "
                        "partitioned catalog (bucket(conv_id), days(ts)) "
                        "and shard on its pbucket partition column — each "
                        "shard's scan partition-prunes to ~1/n of the files")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--incremental", action="store_true",
                   help="data-aware resume: recompute only shards whose "
                        "input fingerprint changed")
    args = p.parse_args(argv)

    spark = get_spark(app="raptor_backfill", master=args.master)
    try:
        src = transcripts(spark, n_convs=args.n_convs, skew=args.skew)
        shard_col = None
        if args.catalog_root:
            from .sources.catalog import Catalog

            # n_buckets a multiple of n_shards keeps the shard
            # assignment identical to key-hash sharding (resume-safe)
            cat = Catalog(spark, root=args.catalog_root,
                          n_buckets=2 * args.shards)
            if not os.path.isdir(os.path.join(args.catalog_root, "transcripts")):
                cat.write_transcripts(src, "transcripts")
            src = cat.read("transcripts", with_partition_cols=True)
            shard_col = "pbucket"
        res = backfill(
            spark,
            src,
            transcript_feature_set(),
            args.out,
            n_shards=args.shards,
            shard_col=shard_col,
            resume=not args.no_resume,
            # incremental reruns grow n_convs over the same logical
            # source — keep the checkpoint identity stable across sizes
            source_id=(
                f"transcripts:{args.skew}"
                if args.incremental
                else f"transcripts:{args.n_convs}:{args.skew}"
            ),
            incremental=args.incremental,
            mode=args.mode,
        )
        print(json.dumps({
            "out": res.out_dir,
            "shards_run": res.shards_run,
            "shards_skipped": res.shards_skipped,
            "input_rows": res.input_rows,
            "output_rows": res.output_rows,
            "wall_s": res.wall_s,
            "turns_per_sec": round(res.throughput, 1),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
