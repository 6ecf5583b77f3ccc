"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard. Designed for 100 TB corpora:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle of
  (hash, id) pairs only (never the text), map-side combined.
- **MinHash+LSH**: shingle → k md5-derived min-hashes → band → bucket
  equi-join. All hashing uses md5 (available in both Spark and ANSI-ish
  SQL engines) so results are engine-independent and oracle-checkable.
  The only shuffle is the band-bucket groupBy; candidate verification
  joins docs back by id (broadcast when the candidate set is small).
- **SimHash**: 32-bit sign-aggregated token hashes; near-dups = equal
  simhash.
- **n-gram Jaccard**: exact set similarity on candidate pairs only —
  never all-pairs at scale; here gated by LSH buckets or blocking keys.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .rounding import round6
from .text import fingerprint


def _norm(t: Column) -> Column:
    from .text import norm_ws

    return norm_ws(t)


def md5_long(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative long (engine-portable:
    DuckDB equivalent is ('0x' || substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """One row per distinct normalized text: representative = min id,
    plus the duplicate count. Shuffles only (fingerprint, id)."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """n-gram word shingles from an ALREADY-SPLIT token array
    (distinct). Callers should stage the split in its own select:
    expressions inside a ``transform`` lambda are re-evaluated per
    element, so an embedded ``split(norm(text))`` makes shingling
    O(positions × text_len) per document, where a staged column
    attribute is read once per row (the repo's documented
    higher-order-function pitfall — this exact shape cost
    decontaminate 3× at sf0.1)."""
    k = F.size(toks) - (n - 1)
    sh = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            # ONE reference to toks per element (slice), not n
            lambda i: F.array_join(F.slice(toks, i, F.lit(n)), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return F.array_distinct(sh)


# MinHash permutation constants: perm_i(h) = (a_i*h + b_i) mod P over
# h = md5_long(shingle) mod 2^30. P < 2^30 keeps a_i*h < 2^60 (no
# bigint overflow under ANSI mode, same arithmetic in any SQL engine).
MINHASH_P = 1_073_741_789  # largest prime < 2^30
MINHASH_H_MOD = 1 << 30


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    out = []
    for i in range(k):
        a = (0x9E3779B1 * (i + 1)) % MINHASH_P or 1
        b = (0x85EBCA77 * (i + 1)) % MINHASH_P
        out.append((a, b))
    return out


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Emit all (id_a < id_b) pairs from each bucket's sorted ``ids``
    array, locally per bucket (no self-join)."""
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")


def band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash banded signatures: one row per (document, band) with
    the band's signature string — ``(_id, band, bsig)``. The shared
    first stage of every LSH consumer (`minhash_lsh_pairs`,
    `corpus_signature_store`, `dedup_against_corpus`); two documents
    are near-dup candidates iff they share a (band, bsig) key.

    Staged selects: shingle → md5-hash (expensive, once per shingle)
    → signature (cheap arithmetic). Kept as separate projections so
    the expensive arrays are evaluated once per row (CollapseProject
    refuses to inline non-cheap exprs referenced multiple times).
    Heavy per-row compute → spread rows across the cluster first
    (a freshly-scanned small table may be a single input split).
    EXPLICIT partition count: a bare repartition(col) gets
    AQE-coalesced back to one partition when the bytes are small,
    even though the per-row CPU (md5 x shingles) is the real cost."""
    if bands <= 0 or k % bands != 0:
        # k // bands would silently truncate: bands > k gives 0-row
        # bands whose signature is '' for EVERY doc (one all-pairs
        # bucket); a non-multiple quietly ignores the trailing hashes
        raise ValueError(f"k={k} must be a positive multiple of bands={bands}")
    rows = k // bands
    n_part = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.split(_norm(F.col(text_col)), " ").alias("_toks"),
        )
        .select(
            "_id",
            word_shingles_from_tokens(F.col("_toks"), shingle_n).alias("_sh"),
        )
    )
    hashed = sh.select(
        "_id",
        F.transform("_sh", lambda s: md5_long(s) % MINHASH_H_MOD).alias("_h"),
    )
    sig = hashed.select(
        "_id",
        F.array(
            *[
                F.array_min(
                    F.transform(
                        "_h", lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P
                    )
                )
                for a, b in minhash_coeffs(k)
            ]
        ).alias("_sig"),
    )
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col("_sig")[b * rows + r].cast("string") for r in range(rows)]
                        ).alias("bsig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bsig")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    max_bucket: int = 10_000,
    observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    k hashes split into ``bands`` bands of k/bands rows; docs sharing
    any band signature become a candidate pair (id_a < id_b, distinct).
    Returns (id_a, id_b, n_shared_bands).

    ``max_bucket`` caps a single LSH bucket: buckets with more than
    ``max_bucket`` docs are DROPPED (their in-bucket pair fan-out is
    quadratic — one giant exact-duplicate cluster would put an
    unbounded array and O(n²) local pairs in a single task). Docs in a
    dropped bucket are exact/near-exact dups by construction and are
    still caught by ``exact_dedup``. Pass a ``pyspark.sql.Observation``
    as ``observation`` to read the dropped-bucket count + dropped-doc
    total after the action (metrics ``dropped_buckets``,
    ``dropped_docs``) — no extra job, collected during the same pass.
    """
    if observation is not None and max_bucket <= 0:
        raise ValueError(
            "observation requires max_bucket > 0 — with no cap nothing "
            "attaches the metrics and Observation.get would block forever"
        )
    banded = band_rows(df, id_col, text_col, shingle_n, k, bands)
    # bucket-collect instead of a self-join: ONE shuffle on the band
    # signature, signatures computed once, pairs emitted locally per
    # bucket (each doc appears at most once per bucket). Size the
    # bucket list FIRST (a count aggregate, map-side combined) and drop
    # pathological buckets by count before collect_list ever builds the
    # array — the cap bounds both the array bytes and the quadratic
    # local pair fan-out.
    buckets = (
        banded.groupBy("band", "bsig")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.array_sort(F.collect_list("_id")).alias("ids"),
        )
    )
    if max_bucket > 0:
        # Spark lacks a capped collect_list, so the array is still built
        # per bucket; the filter drops giant arrays before the explode
        # stage where the quadratic pair blow-up would happen.
        if observation is not None:
            buckets = buckets.observe(
                observation,
                F.coalesce(
                    F.sum((F.col("_n") > max_bucket).cast("long")), F.lit(0)
                ).alias("dropped_buckets"),
                F.coalesce(
                    F.sum(F.when(F.col("_n") > max_bucket, F.col("_n"))), F.lit(0)
                ).alias("dropped_docs"),
            )
        buckets = buckets.filter(F.col("_n") <= max_bucket)
    buckets = buckets.filter(F.col("_n") > 1).drop("_n")
    pairs = _bucket_pairs(buckets)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def corpus_signature_store(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Build the two AGGREGATED signature stores an incremental dedup
    pipeline materializes once per corpus and reuses for every new
    batch (reference point: the reference engine's historical store is
    the same write-once/probe-many shape):

    - ``fp_store``  — ``(fp, n_docs)``: distinct exact-dedup
      fingerprints (md5 of normalized text) with their corpus
      multiplicity.
    - ``band_store`` — ``(band, bsig, n_docs)``: distinct MinHash LSH
      band signatures with per-bucket corpus counts.

    Both are pre-aggregated and NARROW (fixed-width key + one long) —
    at 100 TB of text the stores are 1-2% of corpus bytes, and probing
    them never rescans or reshuffles the corpus. Persist them
    partitioned/bucketed by their key (``fp`` / ``(band, bsig)``) so
    increment probes co-locate without an exchange.
    """
    fp_store = (
        corpus_df.select(fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    band_store = (
        band_rows(corpus_df, id_col, text_col, shingle_n, k, bands)
        .groupBy("band", "bsig")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return fp_store, band_store


def dedup_against_corpus(
    new_df: DataFrame,
    fp_store: DataFrame,
    band_store: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental dedup: flag each NEW-batch document against an
    existing corpus via its signature stores (see
    `corpus_signature_store`) — the production shape at scale, where
    the daily increment is deduped against the accumulated corpus
    without ever rescanning it.

    Per new document:

    - ``exact_dup``      — its normalized fingerprint exists in
      ``fp_store`` (an exact duplicate of some corpus doc).
    - ``n_bands_hit``    — how many of its ``bands`` LSH band
      signatures exist in ``band_store`` (0..bands; ≥1 = near-dup
      candidate, higher = more confident).
    - ``max_band_freq``  — the largest corpus bucket among its hit
      bands (how COMMON its closest corpus neighborhood is; a huge
      value signals boilerplate-like content).

    Plan shape: the new batch is the small side — its fingerprints and
    band rows broadcast to map-side probes of the stores, so neither
    store shuffles; per-doc flags come back through one aggregation of
    the (new-batch-sized) hit rows.

    Returns one row per new document:
    ``(id_col, exact_dup boolean, n_bands_hit, max_band_freq)``
    (zero-hit docs: ``(false, 0, 0)``).
    """
    new_fp = new_df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    )
    exact = (
        fp_store.join(F.broadcast(new_fp), "fp")
        .select(F.col(id_col), F.lit(True).alias("exact_dup"))
    )
    new_bands = band_rows(new_df, id_col, text_col, shingle_n, k, bands)
    near = (
        band_store.join(F.broadcast(new_bands), ["band", "bsig"])
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_bands_hit"),
            F.max("n_docs").alias("max_band_freq"),
        )
    )
    return (
        new_df.select(id_col)
        .join(F.broadcast(exact), id_col, "left")
        .join(F.broadcast(near), id_col, "left")
        .select(
            id_col,
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("n_bands_hit", F.lit(0)).alias("n_bands_hit"),
            F.coalesce("max_band_freq", F.lit(0)).alias("max_band_freq"),
        )
    )


def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Duplicate clusters from candidate pairs: connected components,
    as (id, cluster_rep = min id in the component) for every id that
    appears in a pair. Duplicate, reversed and self pairs are allowed.
    See ``_components`` for the plan."""
    return _components(pairs, a_col, b_col).select("id", "cluster_rep")


def _components(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """``connected_components`` plus ``cluster_size``, the number of
    ids in the component: (id, cluster_rep, cluster_size).

    The raw pairs, as (src, dst), are materialized ONCE by
    ``localCheckpoint`` with their row count observed on that same
    pass. Neither path needs them deduplicated or in both directions,
    so no shuffle runs before the checkpoint beyond the pair plan's
    own. The count picks the path:

    - **driver**, when ``rows × 16 B`` (two 8-byte ids) ≤ the session's
      ``spark.sql.autoBroadcastJoinThreshold``: one collect, then a
      vectorized numpy solve (``_local_components``), returned as a
      local DataFrame. The broadcast threshold is the bound because it
      is Spark's own "fits on the driver" rule — a pair set under it
      is one Spark would already ship whole to every executor for a
      join. A threshold ≤ 0 (broadcasts off) disables this path.
    - **distributed**, for anything larger: alternating large/small
      star (``_star_components``), O(log² n) rounds on any graph
      whatever its diameter, one checkpoint per round.

    Both paths return the same rows; an empty pair set gives an empty
    frame on either.
    """
    # materialize the pairs ONCE — every star round starts from them,
    # and without the checkpoint each would recompute the entire
    # upstream pipeline (e.g. the MinHash candidate pass).
    # The observation is the checkpointed plan's root, so AQE cannot
    # drop it along with an empty subtree.
    sized = Observation()
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .observe(sized, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    # the parsed long: the string conf echoes what was set ("10MB", "-1")
    conf = spark._jsparkSession.sessionState().conf()
    if sized.get["rows"] * 16 <= conf.autoBroadcastJoinThreshold():
        id_type = edges.schema["src"].dataType
        schema = StructType(
            [
                StructField("id", id_type),
                StructField("cluster_rep", id_type),
                StructField("cluster_size", LongType()),
            ]
        )
        # an Arrow table becomes a LocalRelation whose size Spark knows,
        # so joins against the result plan as broadcasts without a hint
        return spark.createDataFrame(_local_components(edges.toArrow()), schema)
    return _star_components(edges)


def _local_components(edges: pa.Table) -> pa.Table:
    """Connected components of collected pairs (src, dst) → (id,
    cluster_rep = min id in the component, cluster_size).

    Ids map to dense indices in id order (``np.unique``), so the min
    index of a component is its min id. Each pass hooks both ends of
    every pair onto the smaller of their labels (``np.minimum.at``),
    then jumps pointers (``lab = lab[lab]``) until every label is a
    root; passes repeat until one changes nothing. A label only ever
    moves to a smaller index in the same component, and at the fixpoint
    both ends of every pair share a label, so each component is
    labelled by its minimum. Duplicate and self pairs change nothing."""
    src = edges.column("src").to_numpy()
    ids, idx = np.unique(
        np.concatenate([src, edges.column("dst").to_numpy()]),
        return_inverse=True,
    )
    s, d = idx[: len(src)], idx[len(src):]
    s, d = np.concatenate([s, d]), np.concatenate([d, s])
    lab = np.arange(len(ids))
    while True:
        prev = lab.copy()
        np.minimum.at(lab, s, lab[d])
        while not np.array_equal(jumped := lab[lab], lab):
            lab = jumped
        if np.array_equal(lab, prev):
            break
    return pa.table(
        {
            "id": ids,
            "cluster_rep": ids[lab],
            "cluster_size": np.bincount(lab, minlength=len(ids))[lab],
        }
    )


# Safety cap, not a knob: alternating star needs O(log² n) rounds, and
# stopping short would return WRONG cluster labels, so hitting it raises.
_STAR_MAX_ROUNDS = 50


def _star_components(edges: DataFrame) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., SoCC 2014) over checkpointed pairs (src, dst) in
    any direction, duplicates and self pairs included: per round every
    node hooks its larger neighbors (large-star), then its smaller
    neighbors and itself (small-star), onto the minimum of its closed
    neighborhood. The fixpoint is a forest of stars whose centers are
    the component minima. Each round's canonical edge set is
    checkpointed with its checksum (count + xor of row hashes,
    order-independent) observed on that same pass; two consecutive
    equal checksums end the loop. Returns (id, cluster_rep,
    cluster_size)."""
    # canonical (hi, lo), hi > lo, self pairs dropped; the first round
    # plans this projection, and its large-star's distinct absorbs
    # duplicate and reversed pairs
    e = edges.select(
        F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
    ).where(F.col("hi") != F.col("lo"))

    def _large_star(cur: DataFrame) -> DataFrame:
        b = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            cur.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = b.groupBy("u").agg(F.min("v").alias("mv"))
        m = m.select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        out = (
            b.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(
                F.greatest("v", "m").alias("hi"), F.least("v", "m").alias("lo")
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        return out

    def _small_star(cur: DataFrame) -> DataFrame:
        # canonical edges already point large→small: group by hi
        m = cur.groupBy("hi").agg(F.min("lo").alias("m"))
        withm = cur.join(m, "hi")
        out = (
            withm.select(F.col("lo").alias("x"), F.col("m").alias("y"))
            .unionByName(withm.select(F.col("hi").alias("x"), F.col("m").alias("y")))
            .filter(F.col("x") != F.col("y"))
            .select(
                F.greatest("x", "y").alias("hi"), F.least("x", "y").alias("lo")
            )
            .distinct()
        )
        return out

    prev = None
    for _ in range(_STAR_MAX_ROUNDS):
        sums = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(
                sums,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("hi", "lo")).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        cur = sums.get
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star components did not converge in {_STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint edges are (member, center): label = center, centers and
    # isolated-in-final nodes label themselves
    nodes = edges.select(F.explode(F.array("src", "dst")).alias("id")).distinct()
    labels = nodes.join(
        e.select(F.col("hi").alias("id"), F.col("lo").alias("rep")), "id", "left"
    ).select("id", F.coalesce(F.col("rep"), F.col("id")).alias("cluster_rep"))
    return labels.withColumn(
        "cluster_size", F.count(F.lit(1)).over(W.partitionBy("cluster_rep"))
    )


def window_fingerprints_from_norm(
    t: Column, w: int = 48, stride: int = 24
) -> Column:
    """Sampled fixed-width window fingerprints over ALREADY-NORMALIZED
    text: md5-derived longs of each ``w``-char window every ``stride``
    chars (array<long>, distinct). Shared window hashes between two
    docs flag PARTIAL overlap — contained quotes / boilerplate blocks —
    which whole-doc near-dup (MinHash over the full shingle set) dilutes
    away. md5 keeps the fingerprints engine-portable (the DuckDB oracle
    reproduces them); a Rabin-Karp rolling hash would save the
    per-window rehash at stride=1, but sampled strides make the md5
    cost O(len/stride) and keep cross-engine determinism.

    Stage the normalization in its own select — a lambda-embedded
    ``_norm(text)`` re-evaluates the full-text regex per window (the
    higher-order-function pitfall)."""
    n_win = F.floor((F.length(t) - w) / F.lit(stride)) + 1
    wins = F.when(
        F.length(t) >= w,
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: md5_long(F.substring(t, (i * stride + 1).cast("int"), w)),
        ),
    ).otherwise(F.array(md5_long(t)))
    return F.array_distinct(wins)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    w: int = 48,
    stride: int = 24,
    min_shared: int = 2,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Partial-overlap candidate pairs: docs sharing ≥ ``min_shared``
    window fingerprints. One shuffle on the fingerprint value (explode
    → self-pair within each fingerprint bucket → count per pair) —
    never all-pairs; ``max_bucket`` drops degenerate fingerprints
    (e.g. a boilerplate window shared by half the corpus) exactly like
    the MinHash bucket cap. Returns (id_a, id_b, n_shared)."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    fps = (
        df.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            _norm(F.col(text_col)).alias("_nt"),
        )
        .select(
            "_id",
            F.explode(
                window_fingerprints_from_norm(F.col("_nt"), w, stride)
            ).alias("fp"),
        )
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = _bucket_pairs(buckets)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_collision_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    probe_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Test-set DECONTAMINATION: flag corpus documents that share at
    least ``threshold`` of a probe (benchmark) document's distinct
    word ``n``-grams — the standard n-gram-collision check run before
    training to keep eval data out of the corpus.

    Scale shape: the probe side is the benchmark suite (thousands of
    docs, always broadcastable); its exploded n-gram hashes broadcast
    to the corpus side, so the 100 TB corpus is ONE scan + map-side
    hash join, and the only shuffle is the (doc, probe) collision
    count — rows exist only where at least one n-gram collided.
    n-grams join on their md5-derived 60-bit longs (engine-portable,
    8-byte shuffle keys instead of long strings).

    Returns (doc_id, probe_id, shared_ngrams, probe_ngrams,
    contamination = shared/probe rounded engine-portably) filtered to
    contamination >= threshold (compared on the ROUNDED value).
    """
    def grams(df: DataFrame, idc: str, alias: str) -> DataFrame:
        # stage the split so the transform lambda reads a row
        # attribute, not an embedded split(norm(text)) per element
        return (
            df.select(
                F.col(idc).alias(alias),
                F.split(_norm(F.col(text_col)), " ").alias("_toks"),
            )
            .select(
                alias,
                F.explode(word_shingles_from_tokens(F.col("_toks"), n)).alias(
                    "_g"
                ),
            )
            .select(alias, md5_long(F.col("_g")).alias("gh"))
        )

    pg = grams(probes, probe_id_col, "probe_id")
    pn = pg.groupBy("probe_id").agg(F.count(F.lit(1)).alias("probe_ngrams"))
    hits = (
        grams(corpus, id_col, "doc_id")
        .join(F.broadcast(pg), "gh")
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    out = hits.join(F.broadcast(pn), "probe_id").select(
        "doc_id",
        "probe_id",
        "shared_ngrams",
        "probe_ngrams",
        round6(
            F.col("shared_ngrams").cast("double")
            / F.col("probe_ngrams").cast("double")
        ).alias("contamination"),
    )
    return out.filter(F.col("contamination") >= threshold)


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over blocked pairs (block_col bounds the
    quadratic blow-up; at scale feed LSH candidates instead).
    Returns (id_a, id_b, jaccard_sim)."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.split(_norm(F.col(text_col)), " ").alias("_toks"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
    ).select(
        "_id",
        word_shingles_from_tokens(F.col("_toks"), shingle_n).alias("_sh"),
        *( ["_blk"] if block_col else [] ),
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            round6(jaccard(F.col("a._sh"), F.col("b._sh"))).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def token_hashes(text: Column | str) -> Column:
    """md5_long of each distinct whitespace token — the expensive stage
    of simhash; materialize this ONCE (own select) before fanning out
    into per-bit aggregates."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.array_distinct(F.split(_norm(t), " "))
    return F.transform(toks, lambda s: md5_long(s))


def simhash_from_hashes(hashes: Column, bits: int = 32) -> Column:
    acc = []
    for i in range(bits):
        bit_sum = F.aggregate(
            hashes,
            F.lit(0),
            lambda a, h: a
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        acc.append(F.when(bit_sum > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0)))
    out = acc[0]
    for c in acc[1:]:
        out = out + c
    return out


def verify_pairs_edit_distance(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = None,
) -> DataFrame:
    """Verification stage for LSH CANDIDATE pairs: exact edit-distance
    similarity on the normalized texts. MinHash/SimHash/containment
    emit candidates with false positives; the standard pipeline shape
    is candidates -> verify -> dedup decision, and this is the verify.

    ``sim = 1 - levenshtein(a, b) / greatest(len(a), len(b))`` in
    [0, 1] (1.0 = identical; two empty docs are identical). Adds
    ``lev`` (int) and ``sim6`` (round6) to the pair rows.

    With a similarity ``threshold`` t, a pair can only pass when
    ``lev <= floor((1 - t) * max_len)``; the DP is BOUNDED to that
    band in two layers, both exactness-preserving for passing pairs:

    1. length-gap prefilter: ``|len_a - len_b| > bound`` already
       implies ``lev >= gap > bound`` — no DP at all (a pure skip:
       the banded DP would return the same -1);
    2. banded Levenshtein: Spark's three-arg ``levenshtein(a, b,
       bound)`` runs the early-exit banded DP — O(bound * len)
       instead of O(len_a * len_b) — and returns -1 past the bound.

    Failed pairs keep their row with ``lev = -1`` / ``sim6 = NULL``
    (the decision stage needs the verdict, not the exact distance of
    a failure). Without ``threshold`` the full exact DP runs.

    Scale: Levenshtein is O(len_a * len_b) per pair — NEVER run it
    all-pairs; feed it the (bounded, banded) LSH candidates only, and
    pass the pipeline's real accept threshold so the DP is banded.
    The two doc-text lookups are plain equi-joins on the doc id: at
    100 TB the pair side is small relative to the corpus, so AQE
    broadcasts it into each lookup and the corpus never shuffles.
    """
    a = docs.select(
        F.col(id_col).alias("id_a"), _norm(F.col(text_col)).alias("_ta")
    )
    b = docs.select(
        F.col(id_col).alias("id_b"), _norm(F.col(text_col)).alias("_tb")
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    denom = F.greatest(F.length("_ta"), F.length("_tb"))
    # equality short-circuit: LSH candidates are mostly EXACT dups, and
    # a byte compare is O(len) vs the O(len_a*len_b) DP — on the sf0.1
    # candidate set this cuts the verify stage ~4x with identical output
    if threshold is None:
        lev = F.when(
            F.col("_ta") == F.col("_tb"), F.lit(0)
        ).otherwise(F.levenshtein("_ta", "_tb"))
    else:
        # stage the bound in its own select so the (cheap) expr isn't
        # re-evaluated per reference inside the CASE arms
        slack = 1.0 - threshold  # Python double; oracle inlines repr()
        joined = joined.withColumn(
            "_bound", F.floor(F.lit(slack) * denom).cast("int")
        )
        lev = (
            F.when(F.col("_ta") == F.col("_tb"), F.lit(0))
            .when(
                F.abs(F.length("_ta") - F.length("_tb")) > F.col("_bound"),
                F.lit(-1),
            )
            .otherwise(F.expr("levenshtein(_ta, _tb, _bound)"))
        )
    sim = (
        F.when(lev < 0, F.lit(None).cast("double"))
        .when(denom > 0, F.lit(1.0) - lev.cast("double") / denom)
        .otherwise(F.lit(1.0))
    )
    return joined.select(
        *[c for c in pairs.columns],
        lev.alias("lev"),
        round6(sim).alias("sim6"),
    )


def keep_cluster_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Corpus filter from duplicate-candidate pairs: connected
    components over ``pairs`` (id_a, id_b), then keep ONE
    representative (min id) per cluster plus every unclustered row.

    Plan shape (100 TB): the CC stages touch only the candidate
    subgraph (a small fraction of the corpus). While the pairs are
    under the broadcast threshold that subgraph is solved on the driver
    in one collect, cluster sizes included; past it, alternating star
    runs distributed and counts its cluster sizes in one aggregate over
    its result (see ``_components``). The corpus-side filter is ONE
    left join against (id, cluster_rep, cluster_size), keeping rows
    with no cluster or that are their cluster's rep, with no hint: the
    driver path returns a local relation whose size Spark knows, so the
    join plans as a broadcast — the full corpus is ONE scan with a
    map-side probe — and the distributed path's frame, about as large
    as the candidate node set, is left to Spark's join planning instead
    of being forced into a broadcast.

    Returns one row per SURVIVING input row: ``(id_col,
    cluster_size)`` — cluster_size = number of input rows this
    survivor stands for (1 when it had no duplicate).
    """
    cc = _components(pairs, "id_a", "id_b").withColumnRenamed("id", id_col)
    rep = F.col("cluster_rep")
    return (
        df.select(id_col)
        .join(cc, id_col, "left")
        .where(rep.isNull() | (rep == F.col(id_col)))
        .select(
            id_col,
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
        )
    )


def fuzzy_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """END-TO-END fuzzy dedup — the pass a pretraining pipeline
    actually ships: MinHash-LSH candidate pairs → connected components
    → keep ONE representative (min id) per duplicate cluster, plus
    every unclustered doc. Composes ``minhash_lsh_pairs`` and
    ``keep_cluster_representatives`` (each stage independently
    oracle-gated); see the latter for the 100 TB plan shape.

    Returns one row per SURVIVING document: ``(id_col, cluster_size)``.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col=text_col, k=k, bands=bands)
    return keep_cluster_representatives(df, pairs, id_col)


def scrub_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-substring scrub — the span-level dedup of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better"), token-shingle form: every OVERLAPPING ``k``-token
    span whose exact text occurs ``min_count``+ times in the corpus
    (across documents OR stuttered inside one) is cut from every
    document, and the surviving tokens are stitched back in order.
    The paper's suffix array finds repeats of any length >= threshold;
    fixed-``k`` overlapping shingles are the shuffle-friendly
    equivalent (a repeat of length L >= k is covered by its L-k+1
    constituent shingles), trading the suffix array's global sort for
    one hash aggregate.

    Differs from ``remove_boilerplate_segments`` (non-overlapping
    segments, distinct-doc cut = template/nav-bar removal): spans here
    OVERLAP, so repeated text is removed wherever it starts, and
    within-document stutter counts toward the cut.

    Plan shape (holds at 100 TB): tokenize + shingle-hash map-side
    (md5 of each k-token slice inside ``transform``, staged in its own
    select against expression re-evaluation); ONE shuffle counts
    occurrences per 60-bit hash (partial-agg combined — within-doc
    repeats collapse map-side into the partial count); the repeated
    set joins back to the exploded (doc, start, hash) stream on the
    hash key (AQE broadcasts it when Zipf-small, plain shuffle
    otherwise — never driver-collected); covered positions are a
    per-doc ``sequence``-flatten, membership is an ``exists`` over the
    staged token array (O(tokens x covered) per doc — bounded by doc
    length, not corpus). No window anywhere. The corpus is scanned
    and spread TWICE (shingle side + output side, an explicit
    repartition each — 4 exchanges total in the audited plan): like
    ``remove_boilerplate_segments``, a second embarrassingly-parallel
    scan is cheaper at corpus scale than materializing the tokenized
    corpus; callers with a small hot input can ``.cache()`` upstream.

    Returns one row per input document:
    ``(id_col, n_spans, n_removed, clean_text)`` — ``n_spans`` =
    repeated k-shingle start positions, ``n_removed`` = tokens cut; an
    untouched doc keeps its normalized text verbatim.
    """
    from .text import norm_ws

    # heavy per-row compute (md5 x shingles) → spread rows FIRST: a
    # small freshly-scanned table may be a single input split, which
    # serializes the whole map side through one task. Explicit count —
    # a bare repartition(col) gets AQE-coalesced back to 1 when the
    # bytes are small even though per-row CPU is the real cost.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    staged = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col),
        F.split(norm_ws(F.coalesce(F.col(text_col), F.lit(""))), " ").alias(
            "_toks"
        ),
    )
    n = F.size("_toks")
    # shingle hashes staged ONCE per row (own select: the array is
    # multi-referenced below and md5-per-element is not cheap)
    sh = staged.select(
        id_col,
        "_toks",
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda j: md5_long(
                    F.concat_ws(" ", F.slice("_toks", j + 1, k))
                ),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("_sh"),
    )
    # posexplode_OUTER, then drop the empty-array null rows explicitly:
    # plain posexplode lets InferFiltersFromGenerate add a
    # ``size(_sh) > 0`` filter, and predicate pushdown carries the
    # ENTIRE md5-shingle transform below the repartition into the
    # single-split parquet scan — the whole corpus' shingle hashing
    # re-runs serially in ONE task, twice, as a filter (measured 3.6x
    # on the full query). Outer explode infers nothing; the cheap
    # isNotNull runs post-explode where it belongs.
    starts = sh.select(
        id_col, F.posexplode_outer("_sh").alias("_j", "_h")
    ).where(F.col("_h").isNotNull())
    repeated = (
        starts.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") >= min_count)
        .select("_h")
    )
    covered = (
        starts.join(repeated, "_h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("_j")).alias("_starts"))
        .select(
            id_col,
            F.size("_starts").alias("n_spans"),
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "_starts",
                        lambda s: F.sequence(s, s + k - 1),
                    )
                )
            ).alias("_cov"),
        )
    )
    # join the PRE-shingle frame: the output side only needs the token
    # array, and joining `sh` would re-run the md5-per-shingle
    # transform a second time over the whole corpus
    out = staged.join(covered, id_col, "left")
    keep = F.filter(
        "_toks", lambda t, i: ~F.array_contains("_cov", i)
    )
    return out.select(
        id_col,
        F.coalesce("n_spans", F.lit(0)).cast("int").alias("n_spans"),
        F.coalesce(F.size("_cov"), F.lit(0)).cast("int").alias("n_removed"),
        F.when(F.col("_cov").isNull(), F.concat_ws(" ", "_toks"))
        .otherwise(F.concat_ws(" ", keep))
        .alias("clean_text"),
    )
