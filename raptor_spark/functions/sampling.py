"""Deterministic sampling / data-mixing operators for training-corpus
assembly. A 100 TB pre-training run does not use ``rand()``: the mix
must be REPRODUCIBLE (same corpus + same config → bit-identical
sample, resumable across retries and partition re-executions) and
auditable per stratum. Everything here is a pure function of row
content via the engine-portable md5→bigint hash (dedup.md5_long), so
it is map-only (zero shuffle, no RNG state, no seed-per-partition
coupling), survives speculative re-execution, and the DuckDB oracle
replays it exactly.

Reference has no sampling stage — these are training-pipeline
extensions (brief §pipeline: data mixing / stratified sampling).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_long

# hash buckets per unit of sampling rate — rates snap to 1/RESOLUTION
RESOLUTION = 1_000_000


def hash_bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, RESOLUTION) from (salt, key) — md5-based
    so any engine reproduces it. Changing the salt draws a fresh
    independent sample (the salt is the 'seed')."""
    return md5_long(F.concat(F.lit(salt + "|"), key.cast("string"))) % RESOLUTION


def sample_mixture(
    df: DataFrame,
    id_col: str,
    stratum: Column | str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Stratified data mixing: keep each row with its stratum's rate
    (e.g. ``{"en": 1.0, "de": 0.3}`` up/down-weights languages into a
    training mix). Deterministic per row — one CASE expression picks
    the rate, one hash compare keeps/drops; zero shuffle at any scale.
    Rows whose stratum is absent from ``rates`` use ``default_rate``
    (0 = drop, the safe default for an explicit mix spec).

    Output = input columns + ``stratum``. Rates snap to 1/RESOLUTION.
    """
    s = F.col(stratum) if isinstance(stratum, str) else stratum
    for name, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    thresh: Column = F.lit(int(round(default_rate * RESOLUTION)))
    for name, r in rates.items():
        thresh = F.when(
            s == name, F.lit(int(round(r * RESOLUTION)))
        ).otherwise(thresh)
    return df.withColumn("stratum", s).filter(
        hash_bucket(F.col(id_col), salt) < thresh
    )


def assign_split(
    df: DataFrame,
    id_col: str,
    splits: Mapping[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row gets a
    ``split`` label by hash bucket against cumulative thresholds in
    ``splits`` insertion order (e.g. ``{"train": .8, "val": .1,
    "test": .1}``). Weights must sum to 1 (±1/RESOLUTION).

    Because the bucket is a pure function of ``id_col``, the split is
    stable under re-runs, retries, and corpus growth (a new row lands
    in its split without moving any existing row) — the property a
    100 TB training corpus needs so val/test never leak into train
    across pipeline versions. Key it on the LEAKAGE UNIT (conv_id /
    source document id, not chunk id) so derived rows of one origin
    stay in one split. Map-only; zero shuffle.
    """
    total = sum(splits.values())
    if abs(total - 1.0) > 1.0 / RESOLUTION:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if any(r < 0 for r in splits.values()):
        raise ValueError("split weights must be non-negative")
    b = hash_bucket(F.col(id_col), salt)
    expr: Column | None = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        t = int(round(acc * RESOLUTION))
        expr = (
            F.when(b < t, F.lit(name))
            if expr is None
            else expr.when(b < t, F.lit(name))
        )
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", out)


def shuffle_order(key: Column, salt: str = "shuffle") -> Column:
    """Deterministic global-shuffle sort key (training-example order
    randomization without rand()): orderBy(shuffle_order(id)) gives a
    reproducible permutation; at scale, write with
    ``repartitionByRange`` on this key so the sort is one range
    exchange, not a single-partition collapse."""
    return md5_long(F.concat(F.lit(salt + "|"), key.cast("string")))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_by: list[Column],
    n: int,
    salt_key: Column | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """Keep at most ``n`` rows per group, by rank under ``order_by``
    (pass a TOTAL order — e.g. quality desc then id — or ties make the
    survivor set partition-dependent). The standard curation cap:
    "at most N documents per domain, best quality first", so one giant
    domain cannot dominate a training mixture.

    Scale shape — a naive ``row_number() over (partition by group)``
    puts EVERY row of the hottest group through one reducer; at 10^12
    docs a single mega-domain stalls the stage. This is the salted
    two-level top-n instead (same design as operators/skew.py): pass 1
    ranks within (group, salt) — the hot group's rows spread over
    ``n_salts`` reducers — and keeps ``n`` per salt; pass 2 re-ranks
    the ≤ n·n_salts survivors per group and keeps ``n``. Both passes
    are windows over bounded-or-spread frames; correctness does not
    depend on the salt spread (pass 1 never drops a row that pass 2
    could keep: a row outranked by ≥ n rows within its own salt is
    outranked by ≥ n rows in the full group).

    ``salt_key`` (a Column) seeds the salt — pass the row's natural
    unique id; the default hashes every column (correct, but pays for
    wide rows). The salt is a pure function of row content (no rand()),
    so re-executed partitions reproduce it. Returns the input columns
    plus ``rank_in_group`` (1-based).
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    if n_salts <= 0:
        # pmod(x, 0) only fails at job runtime (ANSI DIVIDE_BY_ZERO,
        # mid-stage, no argument hint) — fail at call time instead
        raise ValueError(f"n_salts must be positive, got {n_salts}")
    reserved = {"_salt", "_rn1", "rank_in_group"} & set(df.columns)
    if reserved:
        # withColumn would silently REPLACE these (and the default
        # salt_key would then hash the replaced value) — wrong survivor
        # sets, no error. Rename before calling.
        raise ValueError(
            f"cap_per_group reserves column name(s) {sorted(reserved)}; "
            "rename them in the input"
        )
    from pyspark.sql import Window as W

    key = salt_key if salt_key is not None else F.xxhash64(*df.columns)
    salt = F.pmod(F.xxhash64(key), F.lit(n_salts))
    w1 = W.partitionBy(group_col, "_salt").orderBy(*order_by)
    pass1 = (
        df.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= n)
        .drop("_salt", "_rn1")
    )
    w2 = W.partitionBy(group_col).orderBy(*order_by)
    return (
        pass1.withColumn("rank_in_group", F.row_number().over(w2))
        .filter(F.col("rank_in_group") <= n)
    )


def sample_to_token_budget(
    df: DataFrame,
    budgets: Mapping[str, int],
    token_col: str = "n_tokens",
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "budget",
    n_blocks: int = 256,
) -> DataFrame:
    """Fill per-source TOKEN budgets deterministically: within each
    source, documents are taken in md5-hash order until the cumulative
    token count reaches that source's budget (the document that
    crosses the line is included — greedy fill). The mixture-assembly
    step "sample 30B tokens of web, 5B of code" uses; reproducible
    (no rand()), auditable via the returned running total. Sources
    absent from ``budgets`` are dropped.

    Scale shape — a naive running total is a window ordered over the
    WHOLE source (one reducer per source; a 10^11-token web crawl
    stalls the stage). This is the two-level prefix sum instead (same
    design as packing.pack_sequences): the hash key's high bits assign
    each doc to one of ``n_blocks`` ORDER-ALIGNED blocks, partial sums
    run per (source, block), block offsets come from a window over the
    tiny (source × block) frame and broadcast back, and the in-block
    running total is a window over ~1/n_blocks of the source. The
    total is a sum of BIGINTs, so the two-level grouping is exactly
    equal to the naive running total (the DuckDB oracle uses the
    naive form).

    Rows with NULL tokens or NULL source drop (their running total is
    undefined); ties in the hash key break by id. Returns the kept
    rows as ``(id_col, source_col, token_col, cum_tokens)``.
    """
    if n_blocks <= 0:
        raise ValueError(f"n_blocks must be positive, got {n_blocks}")
    from pyspark.sql import Window as W

    # md5_long is 60 bits; 2^60 // n_blocks keeps the block id an
    # exact integer divide (order-aligned: block asc == key asc)
    width = (1 << 60) // n_blocks
    budget = F.create_map(
        *[x for s, b in sorted(budgets.items()) for x in (F.lit(s), F.lit(int(b)))]
    )[F.col(source_col)]
    t = (
        df.select(
            F.col(id_col),
            F.col(source_col),
            F.col(token_col).cast("long").alias("_tok"),
            shuffle_order(F.col(id_col), salt).alias("_k"),
            budget.alias("_budget"),
        )
        .filter(F.col("_budget").isNotNull())
        .withColumn("_blk", F.expr(f"_k div {width}"))
    )
    in_w = (
        W.partitionBy(source_col, "_blk")
        .orderBy(F.col("_k").asc(), F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    t = t.withColumn("_in_cum", F.sum("_tok").over(in_w))
    # per-(source, block) totals → running offset over the BOUNDED
    # (source × n_blocks) frame, broadcast back
    off_w = (
        W.partitionBy(source_col)
        .orderBy(F.col("_blk").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = (
        t.groupBy(source_col, "_blk")
        .agg(F.sum("_tok").alias("_bs"))
        .withColumn("_off", F.sum("_bs").over(off_w) - F.col("_bs"))
        .select(source_col, "_blk", "_off")
    )
    cum = F.col("_off") + F.col("_in_cum")
    return (
        t.join(F.broadcast(offsets), [source_col, "_blk"])
        .filter(cum - F.col("_tok") < F.col("_budget"))
        .select(
            id_col,
            source_col,
            F.col("_tok").alias(token_col),
            cum.alias("cum_tokens"),
        )
    )
