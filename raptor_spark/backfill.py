"""Checkpoint-resumable PIT backfill driver (north rule).

Shards the entity-key space by ``pmod(xxhash64(key), n_shards)`` and
runs the full historical feature plan (``plans.historical.get_historical``)
over WAVES of pending shards. A wave holds up to ``defaultParallelism``
shards (derived from the cluster, not a knob) and is ONE Spark write:
the source filtered to the wave's shards, through the plan, written
``partitionBy("shard")`` on the int shard into a staging dir. Each of
the wave's shard dirs is then moved into ``data/shard=%05d`` and its
lineage record committed. A killed run loses only its in-flight wave
and resumes by skipping committed shards — output is byte-stable
because sharding is deterministic on the key and every feature window
is contained within one key (a conversation never spans shards).

Reference parity: the reference's historian commits per-bucket parquet
files and dedupes re-handled buckets via a TTL cache
(``internal/historian/write.go:26-49``,
``collect.go:108-119``); our shard manifest plays that role, with the
plan-hash guarding against resuming across a changed feature plan
(analog of the program checksum cache, ``runtime/svc.py:55-64``).

Lineage record per shard (JSON, atomically renamed into place):
``{shard, input_rows, output_rows, wall_s, plan_hash, status}`` —
the per-partition row-count/latency metrics the north rule requires.
``input_rows`` and ``output_rows`` are observed during the wave's
write; ``wall_s`` is the WAVE's wall time, shared by its shards, so
their sum exceeds the run's ``wall_s``. The number of files in a
shard dir follows the wave's write-task count, not one per shard.

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
import shutil
import time
from dataclasses import dataclass
from typing import Optional, Sequence

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


def plan_hash(fs: FeatureSetSpec, n_shards: int, source_id: str) -> str:
    """Checkpoint identity: feature plan + shard count + source.
    Changing any of these invalidates prior shard commits. Every
    output-changing spec field participates (keys_expr/ts_expr re-key
    rows; namespace changes the fqn; derived_inputs change the DAG —
    review r3). Shard assignment is always key hashing (a ``shard_col``
    must agree with it), spelled ``key-hash`` in the hashed string so
    checkpoints written before that rule still resume."""
    spec_repr = repr([
        (f.name, f.namespace, f.keys, _expr_id(f.expr), f.timestamp_col,
         _expr_id(f.keys_expr), _expr_id(f.ts_expr), f.staleness_us,
         f.freshness_us, f.aggr, f.keep_previous, f.filter,
         f.derived_inputs)
        for f in fs.features
    ])
    h = hashlib.sha256(
        f"{spec_repr}|{fs.key_feature}|{n_shards}|key-hash|{source_id}".encode()
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
    shard_col: Optional[str] = None,
    resume: bool = True,
    source_id: str = "source",
    fail_after_shard: Optional[int] = None,
    incremental: bool = False,
) -> BackfillResult:
    """Run the historical plan wave by wave with per-shard commit.

    Shard k holds the rows with ``pmod(xxhash64(key), n_shards) == k``
    (key: the key feature's first key column). Each wave of up to
    ``defaultParallelism`` pending shards is one write; no record of a
    wave is written before its write finished, so a kill or a failing
    shard loses that wave while earlier waves stay committed.

    A hash predicate prunes NOTHING in a flat parquet layout, so each
    wave reads the whole input. For a catalog-laid-out source pass
    ``shard_col`` (e.g. its ``pbucket`` hive-partition column) as a
    pruning hint: the wave predicate ``pmod(shard_col, n_shards) IN
    (wave)`` becomes a PartitionFilter. ``shard_col`` must put every
    row in the SAME shard as key hashing — for the catalog's pbucket
    (``pmod(xxhash64(conv_id), n_buckets)``) that means
    ``n_buckets % n_shards == 0``. Whenever a write could happen, one
    aggregate checks this and raises ValueError on a NULL or
    mismatching assignment.

    incremental=True: data-aware resume — each committed shard stores a
    cheap input FINGERPRINT (row count, max ts µs, xxhash of key+ts);
    a later run over an appended/changed source recomputes exactly the
    shards whose fingerprint moved and skips the rest. (Plain resume
    only skips by plan hash — right for a killed run over static
    input.) Fingerprints for ALL shards come from ONE full-source
    groupBy pass, not one aggregate job per shard.

    fail_after_shard: test hook simulating a killed run — runs only the
    pending shards ≤ k, then raises (so a fresh run commits exactly
    shards 0..k; resume covered by tests).
    """
    kf = fs.resolve_key_feature()
    key, ts_col = kf.keys[0], kf.timestamp_col
    if kf.keys_expr is not None:
        # output rows would carry re-keyed keys that hash to other
        # shards than their input rows
        raise ValueError(
            f"backfill shards on the key column {key}; the key feature "
            "must not re-key it (keys_expr)"
        )
    key_hash = F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards))
    shard_expr = (
        F.pmod(F.col(shard_col).cast("long"), F.lit(n_shards))
        if shard_col
        else key_hash
    )
    phash = plan_hash(fs, n_shards, source_id)
    done = committed_shards(out_dir, phash) if resume else set()

    if shard_col and (incremental or len(done) < n_shards):
        bad = source.select(
            F.count_if(shard_expr.isNull()).alias("null"),
            F.count_if(shard_expr != key_hash).alias("mismatch"),
        ).first()
        if bad["null"]:
            # such rows match no wave filter: they would silently vanish
            raise ValueError(
                f"{bad['null']} row(s) have a NULL shard assignment "
                f"(column {shard_col}) — they would be dropped by every "
                "shard filter; clean or re-key the source first"
            )
        if bad["mismatch"]:
            raise ValueError(
                f"{bad['mismatch']} row(s) have a shard assignment from "
                f"column {shard_col} that differs from key hashing on "
                f"{key}; shard_col must equal pmod(xxhash64({key}), "
                "n_shards) (catalog pbucket: n_buckets % n_shards == 0)"
            )
    os.makedirs(_lineage_dir(out_dir), exist_ok=True)
    data_root = os.path.join(out_dir, "data")
    os.makedirs(data_root, exist_ok=True)

    # a prior run with MORE shards leaves data/shard=k dirs beyond this
    # run's range; nothing would ever overwrite them, and read_backfill
    # globs the whole data dir — stale rows would silently duplicate
    # the output (review r3). Shards < n_shards are re-committed (per-
    # shard replace) so only the out-of-range tail needs removal.
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

    prior: dict[int, dict] = {}
    if incremental and resume:
        for k in done:
            try:
                with open(_shard_record_path(out_dir, k)) as f:
                    prior[k] = json.load(f)
            except (OSError, json.JSONDecodeError):
                pass
    t_run = time.perf_counter()

    # incremental: ONE pass over the source fingerprints every shard —
    # the fingerprints decide which shards to skip
    fps: dict[int, dict] = {}
    if incremental:
        fps = {
            r["_shard"]: {"n": r["n"], "max_ts_us": r["mx"], "hash": r["h"]}
            for r in source.groupBy(shard_expr.alias("_shard"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("mx"),
                F.bit_xor(F.xxhash64(F.col(key), F.col(ts_col))).alias("h"),
            )
            .collect()
        }
    empty_fp = {"n": 0, "max_ts_us": None, "hash": None}
    pending = [
        k for k in range(n_shards)
        if k not in done or (
            incremental
            and prior.get(k, {}).get("fingerprint") != fps.get(k, empty_fp)
        )
    ]
    skipped = n_shards - len(pending)
    if fail_after_shard is not None:
        pending = [k for k in pending if k <= fail_after_shard]

    in_rows = out_rows = 0
    staging = os.path.join(out_dir, "_staging")
    width = spark.sparkContext.defaultParallelism
    for i in range(0, len(pending), width):
        wave = pending[i:i + width]
        t0 = time.perf_counter()
        obs_in, obs_out = Observation(), Observation()
        # each side projects the shard once, as an int, and its counts
        # (and the partitioned write) read that column; the wave filter,
        # pushed below the input's projection, evaluates it once more
        part = (
            source.withColumn("_shard", shard_expr)
            .filter(F.col("_shard").isin(wave))
            .observe(
                obs_in,
                *[F.count_if(F.col("_shard") == k).alias(str(k)) for k in wave],
            )
        )
        out = get_historical(part, fs).withColumn("shard", key_hash)
        out.observe(
            obs_out, *[F.count_if(F.col("shard") == k).alias(str(k)) for k in wave]
        ).write.partitionBy("shard").mode("overwrite").parquet(staging)
        wall_s = round(time.perf_counter() - t0, 3)
        n_out = obs_out.get
        if any(n_out.values()):
            n_in = obs_in.get
        else:
            # AQE replaces a plan over empty stages by an empty relation,
            # dropping the input observation with it: count directly
            n_in = {str(k): 0 for k in wave}
            n_in.update(
                (str(r["k"]), r["n"])
                for r in source.filter(shard_expr.isin(wave))
                .groupBy(shard_expr.alias("k"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
        for k in wave:
            data_path = os.path.join(data_root, f"shard={k:05d}")
            # staged as shard=k, committed as shard=%05d
            staged = os.path.join(staging, f"shard={k}")
            record = _shard_record_path(out_dir, k)
            # uncommit k before touching its data, and drop the old dir
            # even when k's new output is empty
            if os.path.exists(record):
                os.remove(record)
            shutil.rmtree(data_path, ignore_errors=True)
            if os.path.isdir(staged):
                os.replace(staged, data_path)
            _write_atomic(
                record,
                {
                    "shard": k,
                    "input_rows": n_in[str(k)],
                    "output_rows": n_out[str(k)],
                    "wall_s": wall_s,
                    "plan_hash": phash,
                    "status": "committed",
                    "data_path": data_path,
                    **({"fingerprint": fps.get(k, empty_fp)}
                       if incremental else {}),
                },
            )
            in_rows += n_in[str(k)]
            out_rows += n_out[str(k)]
        shutil.rmtree(staging)
    ran = len(pending)
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


def read_backfill(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the committed backfill output. ``shard``, the hive partition
    column of the layout, is dropped so the schema matches the logical
    plan's."""
    return spark.read.parquet(os.path.join(out_dir, "data")).drop("shard")


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
    p.add_argument("--skew", action="store_true")
    p.add_argument("--catalog-root", default=None,
                   help="lay the transcript table out through the "
                        "partitioned catalog (bucket(conv_id), days(ts)) "
                        "and shard on its pbucket partition column — each "
                        "wave's scan partition-prunes to its shards' files")
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
