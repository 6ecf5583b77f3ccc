"""Lexical retrieval over the corpus: BM25 scoring / top-k search.

The standard "find the k most relevant documents for a term query"
primitive a training-data pipeline uses for targeted curation (pull
domain-relevant docs into a mix), decontamination triage, and eval-set
construction.

Plan shape (holds at 100 TB): tokens never leave the map side except
through two aggregates — per-doc length (ONE shuffle over doc_id) and
per-(doc, term) term frequency computed on rows pre-filtered to the
query terms (Catalyst pushes `token IN (...)` into the projection, so
at 10^12 tokens only matching ones shuffle). Corpus stats (N, avgdl)
ride a broadcast 1-row aggregate; document frequencies per query term
are a <= |terms|-row broadcast. Final top-k is orderBy+limit =
TakeOrderedAndProject (per-partition heaps, no global sort).

Determinism: per-term BM25 contributions are integer-quantized
(micro-units) before the per-doc sum, so the score is independent of
partitioning/execution order and the DuckDB oracle reproduces it
bit-for-bit (same trick as text.unigram_logprob). All double
constants are rendered into the oracle SQL via ``repr`` so both
engines parse the identical values.

No reference analog (raptor has no retrieval op) — training-pipeline
extension per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F, Window as W

from .rounding import round6
from .text import TOKEN_RE


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    quant: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` documents by BM25 score for a bag of query ``terms``
    (Lucene-style idf ``ln(1 + (N - df + 0.5) / (df + 0.5))``).
    Returns ``(id_col, score6, rank)``; ties broken by lowest id.
    Repeated query terms are deduplicated (bag-of-words query).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    terms = sorted(set(terms))
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    # per-doc length over ALL tokens (BM25 length normalization)
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    # term frequencies for QUERY TERMS ONLY — the isin filter runs in
    # the scan/explode stage, so non-matching tokens never shuffle
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df_t")).cast("double") + F.lit(0.5))
        / (F.col("df_t").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    score_t = (
        idf
        * (tfd * F.lit(k1 + 1.0))
        / (tfd + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dld / avgdl))
    )
    qsum = (
        scored.select(
            id_col,
            F.floor(score_t * F.lit(float(quant)) + F.lit(0.5))
            .cast("long")
            .alias("qs"),
        )
        .groupBy(id_col)
        .agg(F.sum("qs").alias("_qsum"))
    )
    top = (
        qsum.select(
            id_col,
            round6(
                F.col("_qsum").cast("double") / F.lit(float(quant))
            ).alias("score6"),
        )
        .orderBy(F.col("score6").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = W.orderBy(F.col("score6").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def bm25_sql(
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    quant: int = 1_000_000,
    table: str = "documents",
    id_col: str = "doc_id",
    token_re: str = TOKEN_RE,
) -> str:
    """DuckDB twin of :func:`bm25_topk` — identical op order, the
    double constants rendered via ``repr`` of the same Python values."""
    terms = sorted(set(terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    k1p1, k1r, br = repr(k1 + 1.0), repr(k1), repr(b)
    q = float(quant)
    return f"""
WITH toks AS (
  SELECT {id_col},
    unnest(regexp_extract_all(lower(text), '{token_re}')) AS token
  FROM {table}),
dl AS (SELECT {id_col}, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (SELECT {id_col}, token, count(*) AS tf FROM toks
       WHERE token IN ({in_list}) GROUP BY 1, 2),
df_t AS (SELECT token, count(*) AS df_t FROM tf GROUP BY 1),
scored AS (
  SELECT t.{id_col},
    CAST(floor(
      ln(1.0 + ((CAST(s.n_docs - d.df_t AS DOUBLE) + 0.5)
                / (CAST(d.df_t AS DOUBLE) + 0.5)))
      * (CAST(t.tf AS DOUBLE) * CAST({k1p1} AS DOUBLE))
      / (CAST(t.tf AS DOUBLE) + CAST({k1r} AS DOUBLE)
         * (1.0 - CAST({br} AS DOUBLE) + CAST({br} AS DOUBLE)
            * CAST(l.dl AS DOUBLE)
            / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
      * {q!r} + 0.5) AS BIGINT) AS qs
  FROM tf t JOIN df_t d ON t.token = d.token
  JOIN dl l ON t.{id_col} = l.{id_col}, stats s),
qsum AS (SELECT {id_col}, CAST(sum(qs) AS BIGINT) AS qsum
         FROM scored GROUP BY 1),
top AS (
  SELECT {id_col},
    floor((CAST(qsum AS DOUBLE) / {q!r}) * 1000000 + 0.5) / 1000000
      AS score6
  FROM qsum
  ORDER BY score6 DESC, {id_col} LIMIT {k})
SELECT {id_col}, score6,
  CAST(row_number() OVER (ORDER BY score6 DESC, {id_col}) AS INT) AS rank
FROM top
"""


def hybrid_topk(
    docs: DataFrame,
    embs: DataFrame,
    terms: list[str],
    query_vec_id: int,
    k: int = 10,
    k_lex: int = 50,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k1: float = 1.2,
    b: float = 0.75,
    quant: int = 1_000_000,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 selects ``k_lex``
    candidates, which are re-ranked by
    ``alpha · bm25/max(bm25) + (1-alpha) · cosine(embedding, query)``
    — the standard two-stage shape (cheap lexical recall over the full
    corpus, semantic precision over a bounded candidate set). Used in
    pipelines for targeted curation and semantic decontamination
    triage where pure BM25 misses paraphrases.

    Plan shape (100 TB): stage 1 is bm25_topk (tokens shuffle once,
    pre-filtered to query terms; top-k_lex via TakeOrderedAndProject).
    Stage 2 only ever touches k_lex rows: the candidate set BROADCASTS
    into the embeddings join (the corpus-sized embedding table never
    shuffles), the single query vector rides a broadcast 1-row cross
    join, and the bm25 max is a window over the bounded candidate
    frame (so the bm25 subtree executes exactly once) — every window
    here runs over <= k_lex rows by construction.

    Determinism: bm25 score6 and cos6 are round6-canonical; the blend
    folds ``alpha·bm25n + beta·cos6`` left-to-right with repr'd
    constants, so the DuckDB twin (hybrid_sql) reproduces every bit.
    Zero-norm AND MISSING embeddings score cosine 0.0 (guarded
    identically in both engines) — a candidate without an embedding
    row is still ranked by its lexical score, never dropped.

    Returns ``(id_col, score6, cos6, hybrid6, rank)`` for the top
    ``k``; ties broken by lowest id.
    """
    cand = bm25_topk(
        docs, terms, k=k_lex, id_col=id_col, text_col=text_col,
        k1=k1, b=b, quant=quant,
    ).drop("rank")
    # bm25 max over the BOUNDED k_lex candidate frame (global window,
    # <= k_lex rows by construction) — one window beats re-executing
    # the whole bm25 subtree for a 1-row aggregate
    cand = cand.withColumn(
        "_mx", F.max("score6").over(W.partitionBy())
    )
    # cand is referenced twice below (semi-probe ids + left side);
    # localCheckpoint materializes the k_lex rows once so the bm25
    # subtree executes exactly once
    cand = cand.localCheckpoint()
    from .similarity import cosine, norm

    # Point-lookup the query vector ONCE (pushed-down id filter) and
    # fail fast if absent — the broadcast cross join against an empty
    # qv would silently empty the whole result (a typo'd vec id must
    # be an error, not zero rows). The collected row becomes a 1-row
    # local frame, so the embeddings table is scanned exactly once
    # below (the candidate semi-join), not twice.
    qrows = (
        embs.filter(F.col(vec_id_col) == query_vec_id)
        .select(F.col(vec_col).alias("_qv"))
        .limit(1)
        .collect()
    )
    if not qrows:
        raise ValueError(
            f"query_vec_id={query_vec_id!r} has no row in the embedding "
            f"table ({vec_id_col})"
        )
    qv = embs.sparkSession.createDataFrame(
        qrows, schema=f"_qv {embs.schema[vec_col].dataType.simpleString()}"
    ).withColumn("_qv_n", norm("_qv"))
    cos6 = round6(cosine("_ev", "_qv", "_ev_n", "_qv_n"))
    # ONE corpus scan: broadcast-semi restricts embeddings to the
    # candidate ids, then the LEFT join keeps candidates WITHOUT an
    # embedding row (their norm is NULL, so the cosine guard scores
    # them 0.0 — the top lexical hit never silently vanishes)
    emb_c = (
        embs.join(
            F.broadcast(cand.select(id_col)),
            F.col(vec_id_col) == F.col(id_col),
            "left_semi",
        )
        .select(vec_id_col, F.col(vec_col).alias("_ev"))
        .withColumn("_ev_n", norm("_ev"))
    )
    joined = (
        cand.join(
            F.broadcast(emb_c), F.col(id_col) == F.col(vec_id_col), "left"
        )
        .crossJoin(F.broadcast(qv))
        .select(
            id_col,
            "score6",
            cos6.alias("cos6"),
            round6(
                F.lit(float(alpha)) * (F.col("score6") / F.col("_mx"))
                + F.lit(float(1.0 - alpha)) * cos6
            ).alias("hybrid6"),
        )
    )
    top = joined.orderBy(F.col("hybrid6").desc(), F.col(id_col).asc()).limit(k)
    w = W.orderBy(F.col("hybrid6").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def hybrid_sql(
    terms: list[str],
    query_vec_id: int,
    k: int = 10,
    k_lex: int = 50,
    alpha: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    quant: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`hybrid_topk` (same op order; constants
    via ``repr``)."""
    bm25 = bm25_sql(terms, k=k_lex, k1=k1, b=b, quant=quant)
    num = (
        "list_sum(list_transform(list_zip(e.embedding, q._qv), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    den = (
        "(sqrt(list_sum(list_transform(e.embedding, "
        "v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(q._qv, "
        "v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))))"
    )
    cos6 = (
        f"floor((CASE WHEN {den} > 0 THEN ({num}) / {den} "
        f"ELSE 0.0 END) * 1000000 + 0.5) / 1000000"
    )
    a_r, b_r = repr(float(alpha)), repr(float(1.0 - alpha))
    return f"""
WITH cand AS ({bm25}),
qv AS (SELECT embedding AS _qv FROM embeddings WHERE vec_id = {query_vec_id}),
mx AS (SELECT max(score6) AS _mx FROM cand),
j AS (
  SELECT c.doc_id, c.score6, {cos6} AS cos6, m._mx
  FROM cand c
  LEFT JOIN embeddings e ON e.vec_id = c.doc_id
  CROSS JOIN qv q CROSS JOIN mx m),
h AS (
  SELECT doc_id, score6, cos6,
    floor(({a_r} * (score6 / _mx) + {b_r} * cos6) * 1000000 + 0.5)
      / 1000000 AS hybrid6
  FROM j)
SELECT doc_id, score6, cos6, hybrid6,
  CAST(row_number() OVER (ORDER BY hybrid6 DESC, doc_id) AS INT) AS rank
FROM h
ORDER BY hybrid6 DESC, doc_id LIMIT {k}
"""
