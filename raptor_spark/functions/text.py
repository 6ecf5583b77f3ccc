"""Text-analysis functions for large-scale training-data pipelines:
language-ID (stopword heuristic), quality scoring, token counting,
document fingerprinting, PII masking, chunking, URL canonicalization
and boilerplate removal. The per-row functions are **native Column
expressions** and the DataFrame-level ones (``mask_pii``,
``chunk_docs``, ``tokenize_corpus``, ``remove_boilerplate_segments``)
are built from them (JVM codegen, no Python), so they run at full scan
speed over a 100 TB corpus; every formula is deliberately expressible
in ANSI SQL so the DuckDB oracle can pin it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .rounding import round6


def norm_ws(text: Column | str) -> Column:
    """Canonical text normalization shared by every identity-sensitive
    operator AND mirrored by the DuckDB oracles: lowercase, collapse
    whitespace runs to one space, trim. Change it here and in the
    oracle SQL together — fingerprint, exact/stream dedup, MinHash
    shingling, and boilerplate segmentation all key on it."""
    t = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty/blank text → 0)."""
    t = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(t)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def char_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.length(t)


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
        F.lit(0.0)
    )


def alpha_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    return _ratio(alpha, F.length(t))


def punct_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    punct = F.length(t) - F.length(F.regexp_replace(t, "[.,!?;:]", ""))
    return _ratio(punct, F.length(t))


def upper_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    upper = F.length(t) - F.length(F.regexp_replace(t, "[A-Z]", ""))
    return _ratio(upper, F.length(t))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are (en) stopword markers —
    the stopword-ratio quality signal; near-zero on keyword spam and
    non-prose."""
    t = F.col(text) if isinstance(text, str) else text
    hits = _marker_hits(t, LANG_MARKERS[lang])
    # unrounded — callers (text_stats) apply the portable round6 once
    return F.when(
        token_count(t) > 0, hits.cast("double") / token_count(t)
    ).otherwise(F.lit(0.0))


def repetition_stats_from_tokens(
    toks: Column, n: int = 3
) -> tuple[Column, Column]:
    """Intra-document n-gram repetition from an ALREADY-SPLIT token
    array: ``(n_grams, rep_ratio)`` where rep_ratio = 1 −
    distinct/total word n-grams (0 for docs shorter than n words).
    Stage the split in its own select — lambda-embedded splits
    re-evaluate per element (the repo's higher-order-function
    pitfall)."""
    k = F.size(toks) - (n - 1)
    # only referenced inside the k > 0 branch below (CaseWhen evaluates
    # branches lazily, so sequence(1, k) never sees k <= 0)
    sh = F.transform(
        F.sequence(F.lit(1), k),
        # ONE toks reference per element (slice), not n
        lambda i: F.array_join(F.slice(toks, i, F.lit(n)), " "),
    )
    n_grams = F.when(k > 0, k).otherwise(F.lit(0)).cast("int")
    ratio = F.when(
        k > 0,
        round6(
            F.lit(1.0)
            - F.size(F.array_distinct(sh)).cast("double") / k.cast("double")
        ),
    ).otherwise(F.lit(0.0))
    return n_grams, ratio


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: rewards alphabetic content
    and reasonable length, penalizes shouting and punctuation walls.
    Deterministic closed form (SQL-parity): see oracle in queries.py."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    len_score = F.least(n.cast("double") / F.lit(500.0), F.lit(1.0))
    score = (
        F.lit(0.4) * alpha_ratio(t)
        + F.lit(0.3) * len_score
        + F.lit(0.2) * (F.lit(1.0) - upper_ratio(t))
        + F.lit(0.1) * (F.lit(1.0) - F.least(punct_ratio(t) * 5, F.lit(1.0)))
    )
    return round6(score)


# tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic; counts of ' w ' occurrences decide.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "es", "una"],
}


def _marker_hits(t: Column, words: list[str]) -> Column:
    """Count of whitespace tokens that equal a marker word — split +
    filter, so ADJACENT occurrences all count. (The previous padded
    substring-replace consumed the shared boundary space: ' the the '
    counted ONE hit for two tokens, deflating stopword_ratio and
    lang_id scores on repetitive prose — review r3. Any whitespace
    separator counts now, not just a literal space.)"""
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    return F.size(F.filter(toks, lambda w: w.isin(*words))).cast("int")


def lang_id(text: Column | str) -> Column:
    """Stopword-hit language guess over LANG_MARKERS; 'und'
    (undetermined) when no marker hits. Ties break by fixed language
    order (en, de, fr, es)."""
    t = F.col(text) if isinstance(text, str) else text
    hits = {lang: _marker_hits(t, ws) for lang, ws in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    # reverse order so earlier languages win ties via later when() wrapping
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(
            out
        )
    return out


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of lowercased, whitespace-collapsed,
    trimmed text — stable under formatting noise."""
    return F.md5(norm_ws(text))


def text_stats(text_col: str = "text") -> list[Column]:
    """The standard per-document stat set, aliased for wide output."""
    t = F.col(text_col)
    return [
        token_count(t).alias("n_tokens"),
        char_count(t).alias("n_chars_computed"),
        round6(alpha_ratio(t)).alias("alpha_ratio"),
        round6(punct_ratio(t)).alias("punct_ratio"),
        round6(upper_ratio(t)).alias("upper_ratio"),
        round6(stopword_ratio(t)).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fingerprint"),
    ]


# ---------------------------------------------------------------- PII
# RE2-safe patterns (no lookaround/backrefs) so the DuckDB oracle runs
# the IDENTICAL regex: Java (Spark) and RE2 (DuckDB) agree on these.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # masked in this order — URLs first (they may embed @ or digit runs
    # that the later patterns would half-match), phones last (after IP
    # masking no dotted-quad digit run is left to confuse them)
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d() .-]{6,}\d\b", "<PHONE>"),
]


def mask_pii(df, id_col: str = "doc_id", text_col: str = "text"):
    """PII / link scrub: mask URLs / emails / IPv4s / phone-ish digit
    runs with typed placeholder tokens. Returns (id, masked_text,
    n_<kind>...), each count the number of redactions of that kind,
    measured on the text AS IT WAS when that pattern ran (sequential
    semantics: an email inside a URL is one <URL>, not an <EMAIL>).

    One staged select per pattern so each regexp chain is evaluated
    ONCE per row (a single projection would re-evaluate the growing
    replace chain inside every count — the expression-re-evaluation
    trap in CLAUDE.md). Heuristic by design: a version string
    '1.2.3.4' reads as an IP; acceptable for corpus scrubbing where
    recall beats precision."""
    cur = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    for kind, pat, token in PII_PATTERNS:
        cur = cur.select(
            id_col,
            *[c for c in cur.columns if c.startswith("n_")],
            F.size(F.regexp_extract_all(F.col("_t"), F.lit(pat), 0))
            .cast("int")
            .alias(f"n_{kind}"),
            F.regexp_replace(F.col("_t"), pat, token).alias("_t"),
        )
    return cur.withColumnRenamed("_t", "masked_text")


def chunk_docs(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 500,
    overlap: int = 100,
):
    """Split documents into fixed-width overlapping character chunks —
    the training-data segmentation step (context-window packing
    upstream of tokenization). Pure JVM exprs: chunk starts come from
    ``sequence``, slices from ``substr`` inside ``transform`` — the
    explode is the only row fan-out, no shuffle, embarrassingly
    parallel at any corpus size.

    n_chunks = max(1, ceil((len - overlap) / step)), step =
    chunk_chars - overlap — every char is covered, consecutive chunks
    share ``overlap`` chars, and an empty/short doc yields exactly one
    chunk (its whole text). Engine-portable: same IEEE ceil-of-division
    and 1-based character (not byte) slicing in DuckDB.

    Returns (id, chunk_idx, chunk, n_chunks) — one row per chunk.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    step = chunk_chars - overlap
    # null text ≡ empty doc (one empty chunk) — engines disagree on
    # greatest(1, NULL), so normalize before the arithmetic
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.greatest(
        F.lit(1),
        F.ceil((F.length(t) - F.lit(overlap)) / F.lit(float(step))).cast("int"),
    )
    return df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.struct(
                    i.cast("int").alias("chunk_idx"),
                    F.substr(
                        t, (i * step + 1).cast("int"), F.lit(chunk_chars)
                    ).alias("chunk"),
                ),
            )
        ).alias("_c"),
        n.alias("n_chunks"),
    ).select(
        id_col,
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.chunk").alias("chunk"),
        "n_chunks",
    )


URL_RE = r"https?://[^\s]+"
# host = everything after the scheme up to the first /, :, ?, or #
DOMAIN_RE = r"^https?://([^/:?#]+)"


def extract_domains(text: Column | str) -> Column:
    """Array of lower-cased domains of every URL in ``text`` (one
    entry per URL occurrence, duplicates kept — callers decide
    whether to distinct). Pure JVM regex; the curation axis for
    per-domain corpus filtering/mixing (domains are the standard
    quality stratum in web-scale pretraining sets)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.transform(
        F.regexp_extract_all(t, F.lit(URL_RE), 0),
        lambda u: F.lower(F.regexp_extract(u, DOMAIN_RE, 1)),
    )


TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def unigram_logprob(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: int = 1_000_000,
):
    """Corpus-trained unigram LM quality score (the CCNet-style
    perplexity filter, with the corpus itself as the LM): per document,
    the mean token surprisal ``-log2 p(token)`` where ``p`` is the
    corpus-wide unigram frequency. High mean surprisal = rare/garbled
    tokens; low = repetitive boilerplate — both standard cut points
    for pretraining curation.

    Plan shape (holds at 100 TB): tokenize map-side (JVM regex,
    explode), ONE shuffle to count the vocabulary, the corpus total
    re-attached via a broadcast of the 1-row aggregate (never a
    driver collect, never a global window), one equi-join
    token->count (vocab is Zipf-bounded; AQE broadcasts it when it
    fits), ONE shuffle for the per-doc sum.

    Determinism: each token's surprisal is integer-quantized to
    ``1/quant`` bits BEFORE the per-doc sum, so the aggregate is
    order-independent under any partitioning/retry, and the DuckDB
    oracle reproduces it bit-for-bit (same trick as kmeans_fit's
    quantized partial sums).

    Returns one row per document that has >= 1 token:
    ``(id_col, n_tokens, logprob6)`` with logprob6 = round6(mean bits).
    Zero-token docs are dropped (no tokens -> no LM score); callers
    needing them keep a left join on the input.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    total = counts.agg(F.sum("n_t").cast("long").alias("n_total"))
    bits = -F.log2(
        F.col("n_t").cast("double") / F.col("n_total").cast("double")
    )
    scored = counts.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(bits * F.lit(float(quant)) + F.lit(0.5))
        .cast("long")
        .alias("qbits"),
    )
    return (
        toks.join(scored, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("qbits").alias("_qsum"),
        )
        .select(
            id_col,
            "n_tokens",
            round6(
                F.col("_qsum").cast("double")
                / F.lit(float(quant))
                / F.col("n_tokens").cast("double")
            ).alias("logprob6"),
        )
    )


def tokenize_corpus(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
    unk_id: int = 0,
):
    """Corpus tokenization for training: build the vocabulary as the
    top ``vocab_size`` tokens by corpus frequency (ties broken
    lexically — deterministic under any partitioning), then emit each
    document as its id sequence (ids start at 1 in rank order;
    out-of-vocabulary tokens map to ``unk_id``). The word-level
    analog of fitting+applying a BPE tokenizer over the corpus.

    Plan shape (100 TB): tokenize map-side (JVM regex + posexplode),
    ONE shuffle counts the vocabulary (map-side combined), the
    ranking window runs over the TRUNCATED top-``vocab_size`` frame
    (bounded by construction — never the corpus), the token→id map
    broadcasts back for a map-side left join, and ONE final shuffle
    regroups ids per doc, ordered by token position inside the
    aggregate (array_sort on (pos, id) structs — no window over the
    corpus).

    Returns one row per document with ≥1 token:
    ``(id_col, n_tokens, token_ids array<int>)``. Zero-token docs are
    dropped (mirrors unigram_logprob); callers needing them keep a
    left join on the input.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), 0)
        ).alias("pos", "token"),
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    top = counts.orderBy(F.col("n_t").desc(), F.col("token").asc()).limit(
        vocab_size
    )
    # global row_number over <= vocab_size rows — bounded frame, the
    # same deliberate exception as pack_sequences' block offsets
    rank_w = F.row_number().over(
        W.orderBy(F.col("n_t").desc(), F.col("token").asc())
    )
    vocab = top.select("token", rank_w.alias("tok_id"))
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .select(
            id_col,
            "pos",
            F.coalesce(F.col("tok_id"), F.lit(unk_id))
            .cast("int")
            .alias("tok_id"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
                lambda s: s.tok_id,
            ).alias("token_ids"),
        )
    )


def remove_boilerplate_segments(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
    max_docs: int = 2,
):
    """Cross-document boilerplate removal — the line-dedup pass of
    CCNet/RefinedWeb-style curation, generalized to fixed-width token
    segments for corpora without line structure: each document is cut
    into non-overlapping ``seg_tokens``-token segments; a segment
    occurring in more than ``max_docs`` DISTINCT documents (nav bars,
    license headers, templated spans) is dropped from EVERY document,
    and the survivors are stitched back in order.

    Plan shape (holds at 100 TB): tokenize + segment map-side (JVM
    split + slice inside ``transform``, one explode — no shuffle),
    ONE shuffle to count distinct docs per segment (partial-agg
    combined), and the boilerplate set — Zipf-small, it's the >N-doc
    tail — comes back as a **broadcast left join**, so the
    corpus-sized side never shuffles for the membership test; ONE
    final shuffle regroups surviving segments per doc. Reassembly is
    ``array_sort`` on (seg_idx, seg) structs inside the aggregate —
    deterministic under any partitioning, no window, no skew pivot
    (seg_idx is unique per doc).

    The corpus is deliberately SCANNED TWICE (boiler build + flag
    side), re-running the map-side segmentation each time: at corpus
    scale, a second embarrassingly-parallel scan is cheaper than
    materializing the segmented corpus (cache/checkpoint) or shipping
    it through an extra exchange. Callers with a small, hot input can
    ``.cache()`` it upstream.

    Returns one row per input document:
    ``(id_col, n_segments, n_removed, clean_text)`` — a fully
    boilerplate document survives with ``clean_text = ''`` so callers
    can count casualties instead of silently losing rows.
    """
    staged = df.select(
        F.col(id_col),
        F.split(
            norm_ws(F.coalesce(F.col(text_col), F.lit(""))), " "
        ).alias("_toks"),
    )
    # split('', ' ') == [''] so size >= 1 and the sequence below is
    # never descending (Spark's sequence(0, -1) would yield [0, -1])
    n_seg = F.ceil(F.size("_toks") / F.lit(float(seg_tokens))).cast("int")
    # stage the segment array once; both branches below read it as a
    # row attribute (CollapseProject keeps the non-cheap multi-
    # referenced projection separate)
    seg_arr = staged.select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(
                " ",
                F.slice(
                    "_toks",
                    (i * seg_tokens + 1).cast("int"),
                    F.lit(seg_tokens),
                ),
            ),
        ).alias("_segarr"),
    )
    # OUTER explodes + explicit null drop: plain (pos)explode lets
    # InferFiltersFromGenerate add a ``size(_segarr) > 0`` filter that
    # predicate pushdown sinks into the scan, re-running the whole
    # segment transform serially pre-exchange (see
    # dedup.scrub_repeated_spans for the measured 3.6x). _segarr is
    # never empty (n_seg >= 1) so the null rows being dropped don't
    # exist — the filter only blocks the inference.
    segs = seg_arr.select(
        id_col,
        F.posexplode_outer("_segarr").alias("seg_idx", "seg"),
    ).where(F.col("seg").isNotNull())
    # distinct-docs-per-segment WITHOUT a count-distinct (which plans
    # as two exchanges): within-doc repeats collapse map-side via
    # array_distinct, so a plain count = distinct doc count and the
    # shuffle carries deduped segments only — ONE exchange
    boiler = (
        seg_arr.select(
            F.explode_outer(F.array_distinct("_segarr")).alias("seg")
        )
        .where(F.col("seg").isNotNull())
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select("seg", F.lit(True).alias("_boiler"))
    )
    flagged = segs.join(F.broadcast(boiler), "seg", "left")
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.coalesce(
            F.sum(F.when(F.col("_boiler"), F.lit(1))), F.lit(0)
        ).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                # collect_list skips NULLs: boilerplate segments simply
                # never enter the array
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_boiler").isNull(),
                            F.struct(F.col("seg_idx"), F.col("seg")),
                        )
                    )
                ),
                lambda s: s.seg,
            ),
        ).alias("clean_text"),
    )


def canonical_url(url: Column | str) -> Column:
    """Canonical form of a URL for URL-level dedup (the CCNet / Dolma
    first-pass: one document per canonical URL before any content
    hashing). Normalizations, applied in order, all pure JVM regex:

    1. strip the fragment (``#...``),
    2. drop tracking params (``utm_*``, ``gclid``, ``fbclid``) by
       splitting the query on ``&`` and filtering (NOT regex-replace:
       consecutive tracking params defeat a consumed-delimiter
       pattern, and the portable alternative — lookbehind — does not
       exist in DuckDB's RE2),
    3. lowercase scheme + host ONLY (path/query case is significant),
    4. fold ``http://`` to ``https://`` and strip a leading ``www.``,
    5. strip trailing slashes from the path.

    Mirrored by the DuckDB oracle (url_dedup) with the same
    decompose-filter-reassemble steps — change both together. Every
    step is a JVM regex / higher-order array op (map-only, no
    shuffle). Returns NULL for NULL input AND for scheme-less /
    unparseable URLs (regexp_extract yields '' on no match; folding
    those to '' would silently merge every malformed-URL document
    into ONE dedup group and drop all but one keeper). NULL alone is
    NOT sufficient — GROUP BY merges NULLs into one group too — so
    dedup consumers MUST pair this with ``canon_url IS NOT NULL``
    (q_url_dedup does), leaving content-level passes to judge
    malformed-URL docs.
    """
    u = F.col(url) if isinstance(url, str) else url
    base = F.regexp_replace(u, r"#.*$", "")
    scheme_host = F.regexp_extract(
        base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1
    )
    path = F.regexp_extract(
        base, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    qs = F.regexp_extract(base, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "")
        & ~p.rlike(r"^(utm_[^=]*|gclid|fbclid)(=|$)"),
    )
    # two literal-replacement steps (no group backrefs: Spark uses $1,
    # DuckDB \1 — literals keep the oracle SQL byte-comparable)
    head = F.regexp_replace(
        F.regexp_replace(F.lower(scheme_host), r"^http://", "https://"),
        r"^https://www\.",
        "https://",
    )
    return F.when(
        u.isNull() | (scheme_host == ""), F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            head,
            F.regexp_replace(path, r"/+$", ""),
            F.when(
                F.size(kept) > 0,
                F.concat(F.lit("?"), F.array_join(kept, "&")),
            ).otherwise(F.lit("")),
        )
    )
