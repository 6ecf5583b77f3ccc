"""Distributed sequence packing (concatenate-and-chunk) for LLM
pre-training: lay every document out on one global token stream in a
deterministic pseudo-random order, append ``eod`` separator tokens per
document, and cut the stream into fixed ``seq_len`` context windows.
The output maps each document to the sequence slices it occupies —
exactly the layout a training loader needs, with no padding waste.

The hard part at 100 TB is the GLOBAL EXCLUSIVE PREFIX SUM of token
counts: a naive ``sum().over(Window.orderBy(...))`` is a
single-partition window — the canonical scale-killer. This module does
the classic two-level scan instead, fully JVM-side:

1. ``block = okey >> (60 - log2(n_blocks))`` — the order key is a
   uniform md5 hash in [0, 2^60), so a SHIFT gives ``n_blocks``
   contiguous, balanced, deterministically-bounded order ranges. No
   ``repartitionByRange`` (whose sampled boundaries are not a pure
   function of the data), no sort needed to assign blocks.
2. Per-block token totals: one map-side-combined aggregate down to
   ``n_blocks`` rows, cumulated into exclusive block offsets on a
   frame that is TINY BY CONSTRUCTION (≤ n_blocks rows — the
   single-partition window here is over the aggregate, never the
   corpus), then broadcast.
3. Within-block exclusive cumsum: ONE hash shuffle on ``block``
   (balanced by construction), window ordered by (okey, id).
   global_offset = block_offset + local_offset — exact, independent
   of partitioning, reproducible across retries.

Reference has no packing stage — this is a training-pipeline
extension (brief §pipeline). Sizing: each block holds ~rows/n_blocks
docs; pick n_blocks so a block's doc COUNT fits a window sort
comfortably (e.g. 2^16 blocks at 100B docs → 1.5M docs/block).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import shuffle_order

# md5_long yields 15 hex digits → [0, 2^60)
_OKEY_BITS = 60


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    ntok_col: str = "n_tokens",
    seq_len: int = 2048,
    eod: int = 1,
    n_blocks: int = 1024,
    salt: str = "pack",
) -> DataFrame:
    """Pack documents into fixed-length token sequences.

    Returns one row per (document, sequence) intersection:
    ``id_col, seq_id, seq_off, doc_off, len`` — document tokens
    [doc_off, doc_off+len) land at [seq_off, seq_off+len) of sequence
    ``seq_id``. A document longer than ``seq_len`` spans several
    sequences; ``eod`` separator tokens sit between documents on the
    stream (they occupy stream positions but belong to no document —
    per full sequence, sum(len) + #eod positions == seq_len). Docs
    with ``ntok_col`` <= 0 are excluded entirely (no eod emitted).

    Deterministic: the layout is a pure function of (ids, token
    counts, salt) — same inputs give the byte-identical packing on
    any partitioning, any retry.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be > 0, got {seq_len}")
    if eod < 0:
        raise ValueError(f"eod must be >= 0, got {eod}")
    if n_blocks <= 0 or (n_blocks & (n_blocks - 1)) != 0:
        raise ValueError(f"n_blocks must be a power of 2, got {n_blocks}")
    shift = _OKEY_BITS - n_blocks.bit_length() + 1

    idc = F.col(id_col)
    base = (
        df.filter(F.col(ntok_col) > 0)
        .select(
            idc,
            F.col(ntok_col).cast("long").alias("_n"),
            shuffle_order(idc, salt).alias("_okey"),
        )
        .withColumn("_block", F.shiftrightunsigned(F.col("_okey"), shift))
        .withColumn("_span", F.col("_n") + F.lit(eod))
    )

    # (2) block totals -> exclusive block offsets. The window is over
    # the <= n_blocks-row AGGREGATE (bounded by construction), not the
    # corpus; broadcast back so step (3) needs no extra shuffle.
    tiny_w = (
        Window.orderBy("_block")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    block_off = (
        base.groupBy("_block")
        .agg(F.sum("_span").alias("_btot"))
        .select(
            "_block",
            F.coalesce(F.sum("_btot").over(tiny_w), F.lit(0)).alias("_boff"),
        )
    )

    # (3) within-block exclusive cumsum — the ONE corpus shuffle.
    local_w = (
        Window.partitionBy("_block")
        .orderBy("_okey", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        base.join(F.broadcast(block_off), "_block")
        .select(
            idc,
            "_n",
            (
                F.col("_boff")
                + F.coalesce(F.sum("_span").over(local_w), F.lit(0))
            ).alias("_off"),
        )
    )

    # map each doc onto the sequences it crosses (fan-out ~ n/seq_len)
    L = F.lit(seq_len)
    first = F.floor(F.col("_off") / L)
    last = F.floor((F.col("_off") + F.col("_n") - 1) / L)
    out = (
        placed.select(
            idc,
            "_n",
            "_off",
            F.explode(F.sequence(first, last)).alias("seq_id"),
        )
        .select(
            idc,
            "seq_id",
            (
                F.greatest(F.col("_off"), F.col("seq_id") * L)
                - F.col("seq_id") * L
            ).alias("seq_off"),
            F.greatest(
                F.lit(0), F.col("seq_id") * L - F.col("_off")
            ).alias("doc_off"),
            (
                F.least(F.col("_off") + F.col("_n"), (F.col("seq_id") + 1) * L)
                - F.greatest(F.col("_off"), F.col("seq_id") * L)
            ).alias("len"),
        )
    )
    return out

