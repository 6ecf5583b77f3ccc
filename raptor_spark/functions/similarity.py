"""Similarity search over embedding columns (array<float>).

- ``dot`` / ``norm`` / ``cosine``: native left-fold dot products
  (``zip_with`` + ``aggregate``, JVM, no Python). Each column is
  rendered as ONE Spark SQL string and parsed by a single ``F.expr``:
  built from ``Column`` objects, every ``F.lit`` and every
  higher-order-function lambda was its own py4j round trip (~10 ms per
  lambda), and one 8-plane ``lsh_signature`` made 3,144 of them — the
  vector-math operators spent more time building their plans than
  running them. The helpers therefore take SQL expressions (column
  names such as ``a._v``), not ``Column``s.
- ``cosine`` reads per-vector norms the caller projected once per
  vector (``norm``), so a scored pair costs one dot product, not three.
- ``brute_force_topk``: exact top-k neighbors for a (small) query set:
  broadcast the queries, score every corpus row, row_number per query.
  Scales linearly in corpus size — right answer for recall evaluation
  and small query sets even at 10⁹ rows (one scan, no shuffle of the
  corpus; only (query, candidate-topk) rows shuffle).
- ``lsh_bucket_topk``: the scale path — random-hyperplane LSH: sign
  bits of projections onto d pseudo-random planes (md5-derived
  deterministic coefficients) bucket the corpus; queries probe only
  their own bucket (plus multi-probe neighbors by flipping one bit).
  Approximate; recall controlled by n_planes/n_probes.
- ``embedding_neardup_pairs``: the same signatures block a self-join.
  Both sides read ONE hash exchange of the signature frame (the second
  is a ``ReusedExchange``), so every signature is computed once; a
  broadcast side would be computed again by the streamed side.
- ``semantic_dedup_corpus``: those pairs through
  ``dedup.keep_cluster_representatives``.

The folds are never unrolled into ``get(v, i)`` arithmetic: that is
bit-identical too, but 512 terms per signature overflow the 64 KB
generated-method limit and fall back to interpreted evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .rounding import py_round6, round6


def _dot_sql(a: str, b: str) -> str:
    """Left-fold ``Σ double(a_i) · double(b_i)`` from 0.0, as SQL text.
    Unequal lengths pad with NULL (``zip_with``), so a NULL element,
    a NULL array or a length mismatch gives NULL."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, t) -> acc + t)"
    )


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(f"sqrt({_dot_sql(a, a)})")


def cosine(a: str, b: str, a_norm: str, b_norm: str) -> Column:
    """``dot(a, b) / (|a|·|b|)``, 0.0 when the norm product is not
    ``> 0`` (zero or NULL vectors). ``a_norm``/``b_norm`` name the
    vectors' ``norm`` columns, projected once per vector."""
    d = f"{a_norm} * {b_norm}"
    return F.expr(
        f"CASE WHEN {d} > 0 THEN {_dot_sql(a, b)} / ({d}) ELSE 0D END"
    )


def _normed(df: DataFrame, id_col: str, vec_col: str, ids: str, v: str) -> DataFrame:
    """``(ids, v, v_n)``: the id and vector columns renamed, plus the
    vector's ``norm`` — computed once per vector, read by every pair
    the vector is scored in."""
    return df.select(F.col(id_col).alias(ids), F.col(vec_col).alias(v)).withColumn(
        f"{v}_n", norm(v)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).
    Self-matches (same id) are excluded. Ties break by neighbor id."""
    q = F.broadcast(_normed(queries, id_col, vec_col, "query_id", "_qv"))
    c = _normed(corpus, id_col, vec_col, "neighbor_id", "_cv")
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            round6(cosine("_qv", "_cv", "_qv_n", "_cv_n")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_coeff(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane coefficients in [-1, 1]
    derived from md5 — reproducible across engines/runs (the oracle SQL
    derives the same planes)."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{plane}:{j}".encode()).hexdigest()
        out.append(int(h[:15], 16) / float(16**15) * 2 - 1)
    return out


def lsh_signature(vec: str, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane signature as an int (bit i = sign of v·plane_i).
    ``vec`` is a SQL expression (a column name). A projection that is
    NULL (NULL vector, NULL element, wrong length) leaves its bit 0."""
    terms = ["0"]
    for p in range(n_planes):
        coeff = ", ".join(f"{c!r}D" for c in _plane_coeff(p, dim))
        proj = _dot_sql(vec, f"array({coeff})")
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END")
    return F.expr(" + ".join(terms))


def auto_n_planes(
    df: DataFrame, id_col: str = "vec_id", target_bucket: int = 64
) -> int:
    """Derive the LSH plane count from the corpus size: one cheap
    approx-count scan, n ≈ log2(rows / target_bucket), clamped to
    [4, 24] (2^24 buckets ≈ 16M — beyond that raise target_bucket, not
    planes). The sizing rule the 10⁹-row docstrings quote, applied
    automatically."""
    import math

    n_rows = df.select(F.approx_count_distinct(id_col).alias("n")).first()["n"]
    return max(4, min(24, math.ceil(math.log2(max(n_rows, 1) / target_bucket))))


def embedding_neardup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | None = 8,
    max_bucket: int = 0,
    target_bucket: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: only pairs
    whose random-hyperplane signatures are EQUAL are scored (one
    equi-join shuffle on the bucket id — never all-pairs), then exact
    cosine filters at ``threshold``. Returns (id_a, id_b, cos_sim).

    Scale levers (the 10⁹-row tuning):
    - ``n_planes``: bucket count is 2^n_planes — raise it so the mean
      bucket is small (n_planes ≈ log2(n_rows / target_bucket)); at
      10⁹ rows use ≥ 20 planes, not the default 8 (which caps at 256
      buckets and makes the in-bucket join quadratic).
    - ``max_bucket``: drop buckets larger than this before the
      self-join (0 = uncapped) — a degenerate bucket (e.g. zero
      vectors) otherwise puts O(n²) pairs in one task.

    ``n_planes=None`` AUTO-SIZES from the corpus: one cheap
    approx-count scan derives n ≈ log2(rows / target_bucket), clamped
    to [4, 24] — the sizing rule above applied automatically, so a
    caller who never tunes still gets ~``target_bucket``-row mean
    buckets at any corpus size instead of the demo-scale fixed 8.
    """
    if n_planes is None:
        n_planes = auto_n_planes(df, id_col, target_bucket)
    sig = _normed(df, id_col, vec_col, "_id", "_v").withColumn(
        "bucket", lsh_signature("_v", dim, n_planes)
    )
    if max_bucket > 0:
        # bucket sizes ride the same shuffle the join needs anyway
        sig = (
            sig.withColumn("_bn", F.count(F.lit(1)).over(W.partitionBy("bucket")))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    # shuffle both sides: a small signature frame would otherwise be
    # broadcast AND streamed, computing every signature twice; two
    # shuffles of one plan are one exchange (the other side reads it as
    # a ReusedExchange)
    a, b = sig.alias("a"), sig.alias("b").hint("shuffle_hash")
    return (
        a.join(b, "bucket")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            round6(cosine("a._v", "b._v", "a._v_n", "b._v_n")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def kmeans_fit(
    df: DataFrame,
    dim: int,
    sample_n: int,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1 << 20,
) -> list[list[float]]:
    """Deterministic Lloyd k-means for IVF centroids, trained on a
    bounded sample.

    The sample is the first ``sample_n`` rows by id — one
    orderBy+limit (TakeOrderedAndProject, never a full sort) collected
    in ONE Spark job. Lloyd quality needs a representative sample, not
    the corpus, so training cost is O(sample); the caller assigns the
    full corpus ONCE with the returned centroids (the 100 TB shape).
    The iterations run driver-local (``_lloyd_local``): a Spark job per
    iteration would pay a fresh codegen compile for each round's
    changed centroid literals — seconds on 256 rows of work.

    Engine-portable determinism (the ann_ivf_kmeans oracle replays the
    identical iterations in DuckDB SQL):
    - init: the first ``k`` sample vectors by id;
    - assignment: argmax cosine with ties to the LOWEST centroid id —
      raw double cosine, same left-to-right fold both engines;
    - update: per-dimension mean via EXACT integer partial sums
      (components quantized ``floor(v * quant)`` — summation order can
      never change the result), divided and round6-canonicalized;
      empty clusters keep their previous centroid.

    Returns centroids as a list indexed by centroid id.
    """
    if sample_n < k:
        raise ValueError(f"sample_n={sample_n} < k={k}")
    sample = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(sample_n)
        .collect()
    )
    if len(sample) < k:
        raise ValueError(f"kmeans_fit: need >= {k} rows, got {len(sample)}")
    vecs = [list(map(float, r["_v"])) for r in sample]
    return _lloyd_local(vecs, dim=dim, k=k, iters=iters, quant=quant)


def _lloyd_local(
    vecs: list[list[float]], dim: int, k: int, iters: int, quant: int
) -> list[list[float]]:
    """Driver-local Lloyd over a collected bounded sample, in the float-op
    sequence the DuckDB twin (``queries._kmeans_cents_sql``) runs, op
    for op:

    - row norm: ``sqrt(fold acc + x*x)`` left-to-right (``norm``);
    - cosine: ``num / (vn * cn)``, 0.0 when ``vn * cn`` is not ``> 0``
      (the ``cosine`` guard);
    - argmax with ties to the LOWEST centroid id (NaN orders greater
      than any double, as in Spark and DuckDB, via an inf key);
    - update: ``floor(x * quant)`` integer sums (order-free), then
      ``round6((s / quant) / n)`` with the same two divisions.

    IEEE binary64 both sides, identical op order → identical bits.
    """
    import math

    def _norm(v: list[float]) -> float:
        # explicit fold: builtin sum() compensates float error on
        # Python >= 3.12, which would break the op-for-op replay
        acc = 0.0
        for x in v:
            acc += x * x
        return math.sqrt(acc)

    cents = [list(vs) for vs in vecs[:k]]
    for _ in range(iters):
        cnorms = [_norm(c) for c in cents]
        sums: list[list[int]] = [[0] * dim for _ in range(k)]
        counts = [0] * k
        for row in vecs:
            vn = _norm(row)
            best_key, best_ci = None, 0
            for ci in range(k):
                d = vn * cnorms[ci]
                if d > 0:
                    num = 0.0
                    for x, y in zip(row, cents[ci]):
                        num += x * y
                    cos = num / d
                else:
                    cos = 0.0
                key = (math.inf if math.isnan(cos) else cos, -ci)
                if best_key is None or key > best_key:
                    best_key, best_ci = key, ci
            counts[best_ci] += 1
            s = sums[best_ci]
            for j, x in enumerate(row):
                s[j] += math.floor(x * quant)
        for ci in range(k):
            if counts[ci] == 0:
                continue  # empty cluster keeps its previous centroid
            n = counts[ci]
            cents[ci] = [py_round6(s / float(quant) / n) for s in sums[ci]]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: partition the corpus into inverted
    lists by nearest centroid; queries scan only their ``n_probe``
    nearest lists.

    Default centroid selection is the deterministic skeleton — the
    first ``n_centroids`` corpus vectors by id (a fixed "training
    sample"); pass ``centroids`` (e.g. from ``kmeans_fit``) to use
    trained ones — the plan shape is identical. Assignment and probing
    are exact argmin over the broadcast centroid set: one narrow corpus
    scan + one equi-join on the list id — the standard shape at 10⁹+
    rows (centroids always broadcastable; lists shard the shuffle).
    """
    if centroids is not None:
        cents_src = corpus.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "_cid int, _cent array<double>",
        )
    else:
        # first n by id (orderBy+limit → per-partition top-N merge),
        # not `id < n`: ids may be non-dense or non-numeric — a filter
        # would silently yield zero centroids and zero neighbors
        cents_src = (
            corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cent"))
            .orderBy("_cid")
            .limit(n_centroids)
        )
    cents = F.broadcast(cents_src.withColumn("_cent_n", norm("_cent")))

    def nearest_lists(df, idc, vecc, n):
        scored = df.crossJoin(cents).select(
            F.col(idc),
            F.col(vecc),
            F.col(f"{vecc}_n"),
            "_cid",
            cosine(vecc, "_cent", f"{vecc}_n", "_cent_n").alias("_sim"),
        )
        w = W.partitionBy(idc).orderBy(F.col("_sim").desc(), F.col("_cid").asc())
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n)
            .drop("_sim", "_r")
        )

    lists = nearest_lists(
        _normed(corpus, id_col, vec_col, "neighbor_id", "_cv"), "neighbor_id", "_cv", 1
    )
    probes = nearest_lists(
        _normed(queries, id_col, vec_col, "query_id", "_qv"), "query_id", "_qv", n_probe
    )
    scored = (
        lists.join(F.broadcast(probes), "_cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            round6(cosine("_qv", "_cv", "_qv_n", "_cv_n")).alias("cos_sim"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 3,
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the query's LSH
    bucket or a 1-bit-flip neighbor bucket (multi-probe). The corpus
    is bucketed ONCE (one narrow scan); the join is an equi-join on the
    bucket id — broadcastable for small query sets."""
    csig = _normed(corpus, id_col, vec_col, "neighbor_id", "_cv").withColumn(
        "bucket", lsh_signature("_cv", dim, n_planes)
    )
    qsig = _normed(queries, id_col, vec_col, "query_id", "_qv").withColumn(
        "_qsig", lsh_signature("_qv", dim, n_planes)
    )
    probes = [F.col("_qsig")] + [
        F.col("_qsig").bitwiseXOR(F.lit(1 << p)) for p in range(min(n_probes, n_planes))
    ]
    q_probed = qsig.select(
        "query_id", "_qv", "_qv_n", F.explode(F.array(*probes)).alias("bucket")
    )
    scored = (
        csig.join(F.broadcast(q_probed), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            round6(cosine("_qv", "_cv", "_qv_n", "_cv_n")).alias("cos_sim"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup_corpus(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | None = 8,
    max_bucket: int = 0,
) -> DataFrame:
    """END-TO-END semantic dedup (the SemDeDup pass): embedding-cosine
    near-dup pairs (LSH-blocked, never all-pairs) → connected
    components → keep ONE representative (min id) per semantic
    cluster plus every unclustered vector. Catches paraphrases and
    re-encodings that string-level MinHash misses; composes
    ``embedding_neardup_pairs`` with
    ``dedup.keep_cluster_representatives`` (each stage independently
    oracle-gated; see those for the 100 TB plan shape and the
    n_planes / bucket-cap scale levers — ``n_planes=None``
    auto-sizes from corpus cardinality).

    Returns one row per SURVIVING vector: ``(id_col, cluster_size)``.
    """
    from .dedup import keep_cluster_representatives

    pairs = embedding_neardup_pairs(
        df,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_planes=n_planes,
        max_bucket=max_bucket,
    )
    return keep_cluster_representatives(df, pairs, id_col)
