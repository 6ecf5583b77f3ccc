"""Similarity-search operators: signature stability (oracle compat),
bucket cap, ANN vs brute-force recall."""

import math

import pytest
from pyspark.sql import functions as F

from raptor_spark.functions.similarity import (
    _plane_coeff,
    brute_force_topk,
    cosine,
    dot,
    embedding_neardup_pairs,
    lsh_bucket_topk,
    lsh_signature,
    norm,
)
from tests.conftest import jobs_in_group

SF_DIR = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_plane_set_zero_unchanged():
    """The planes must keep the original md5 derivation — the DuckDB
    oracle for embedding_neardup/ann_lsh reproduces exactly these
    planes."""
    import hashlib

    h = hashlib.md5(b"plane:3:7").hexdigest()
    want = int(h[:15], 16) / float(16**15) * 2 - 1
    assert _plane_coeff(3, DIM)[7] == want


def _fold(prods):
    """Left fold from 0.0 along the last axis, float64, in order
    (``np.cumsum`` adds sequentially; ``np.sum`` would pair-wise sum)."""
    import numpy as np

    zero = np.zeros(prods.shape[:-1] + (1,))
    return np.cumsum(np.concatenate([zero, prods], axis=-1), axis=-1)[..., -1]


def _bits(xs):
    import numpy as np

    return np.asarray(xs, dtype=np.float64).view(np.int64).tolist()


def test_vector_math_matches_numpy_left_fold(spark):
    """The SQL-text ``dot``/``norm``/``cosine``/``lsh_signature`` equal a
    float64 numpy replay of the same left fold bit for bit, over
    float32 vectors spanning 30 decades (where a different summation
    order or a rounded plane literal would show), plus a zero vector."""
    import numpy as np

    dim, n_planes = 16, 6
    rng = np.random.default_rng(11)
    a = (rng.normal(size=(400, dim)) * 10.0 ** rng.uniform(-15, 15, (400, 1)))
    b = rng.normal(size=(400, dim)) * 10.0 ** rng.uniform(-15, 15, (400, 1))
    a, b = a.astype(np.float32), b.astype(np.float32)
    a[0] = 0.0
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))],
        "i int, a array<float>, b array<float>",
    )
    got = (
        df.withColumn("na", norm("a"))
        .withColumn("nb", norm("b"))
        .select(
            "i", "na", "nb",
            dot("a", "b").alias("dot"),
            cosine("a", "b", "na", "nb").alias("cos"),
            lsh_signature("a", dim, n_planes).alias("sig"),
        )
        .orderBy("i")
        .toPandas()
    )
    a64, b64 = a.astype(np.float64), b.astype(np.float64)
    na, nb = np.sqrt(_fold(a64 * a64)), np.sqrt(_fold(b64 * b64))
    d = _fold(a64 * b64)
    den = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(den > 0, d / den, 0.0)
    planes = np.array([_plane_coeff(p, dim) for p in range(n_planes)])
    proj = _fold(a64[:, None, :] * planes[None, :, :])
    sig = ((proj > 0) * (1 << np.arange(n_planes))).sum(axis=1)
    assert _bits(got["na"]) == _bits(na)
    assert _bits(got["nb"]) == _bits(nb)
    assert _bits(got["dot"]) == _bits(d)
    assert _bits(got["cos"]) == _bits(cos)
    assert got["sig"].tolist() == sig.tolist()
    # the zero vector: norm 0.0, cosine 0.0 (the guard), no plane bits
    assert (got["na"][0], got["cos"][0], got["sig"][0]) == (0.0, 0.0, 0)


def test_vector_math_null_and_length_mismatch(spark):
    """``zip_with`` pads the shorter array with NULL: a NULL element, a
    NULL array or a wrong-length array makes ``dot`` NULL (and ``norm``
    of a NULL-bearing vector). ``cosine`` scores a NULL norm 0.0 (the
    guard) and a NULL dot over positive norms NULL; a NULL projection
    leaves its signature bit 0."""
    df = spark.createDataFrame(
        [
            (1, [1.0, None, 3.0], [1.0, 2.0, 3.0]),
            (2, None, [1.0, 2.0, 3.0]),
            (3, [1.0, 2.0], [1.0, 2.0, 3.0]),
        ],
        "i int, a array<float>, b array<float>",
    )
    got = (
        df.withColumn("na", norm("a"))
        .withColumn("nb", norm("b"))
        .select(
            "i", "na",
            dot("a", "b").alias("dot"),
            cosine("a", "b", "na", "nb").alias("cos"),
            lsh_signature("a", 3, 4).alias("sig"),
        )
        .orderBy("i")
        .collect()
    )
    assert [tuple(r) for r in got] == [
        (1, None, None, 0.0, 0),
        (2, None, None, 0.0, 0),
        (3, math.sqrt(5.0), None, None, 0),
    ]


@pytest.fixture(scope="module")
def uncached_sf(tmp_path_factory):
    """A copy of the sf0.001 embeddings that no test caches: Spark
    reuses no exchange of a self-join over a cached relation, and the
    ``emb`` fixture caches the original path for the whole session."""
    import shutil

    out = tmp_path_factory.mktemp("sf")
    shutil.copyfile(f"{SF_DIR}/embeddings.parquet", out / "embeddings.parquet")
    return str(out)


def test_neardup_pairs_compute_signatures_once(spark, uncached_sf):
    """The bucket self-join shuffles the signature frame once and reads
    that exchange on both sides: no side is broadcast, and the executed
    plan projects the signature once."""
    emb = spark.read.parquet(f"{uncached_sf}/embeddings.parquet")
    pairs = embedding_neardup_pairs(emb, DIM, threshold=0.3)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastExchange" not in final
    assert "ReusedExchange" in final
    assert final.count(" AS bucket#") == 1


def test_semantic_dedup_query_job_count(spark, uncached_sf):
    """A warm build + collect of the catalog's ``semantic_dedup`` runs
    exactly 5 Spark jobs: the signature shuffle, the pair checkpoint,
    the collect of the pairs for the driver CC solve, the broadcast of
    the CC result and the corpus scan that joins it."""
    from raptor_spark.queries import QUERIES

    def run():
        return QUERIES["semantic_dedup"](spark, uncached_sf).toPandas()

    run()  # the first call also pays the table's one-time read
    assert jobs_in_group(spark, "semantic-dedup", run)[1] == 5


def test_max_bucket_drops_degenerate_bucket(spark):
    """All-identical vectors land in one bucket; the cap keeps the
    O(n²) self-join away while distinct vectors still pair."""
    rows = [(i, [1.0] * DIM) for i in range(200)]
    rows += [(1000, [0.5] * 32 + [-0.5] * 32), (1001, [0.5] * 32 + [-0.5] * 32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_neardup_pairs(
        df, DIM, threshold=0.9, max_bucket=50
    ).collect()
    assert all(r["id_a"] >= 1000 for r in capped)
    assert any((r["id_a"], r["id_b"]) == (1000, 1001) for r in capped)
    uncapped_n = embedding_neardup_pairs(df, DIM, threshold=0.9).count()
    assert uncapped_n >= 200 * 199 // 2


def test_kmeans_centroids_deterministic_and_useful(spark):
    """kmeans_fit: identical centroids across physical layouts
    (quantized integer sums), and trained-IVF recall beats the
    first-k-ids skeleton on clustered data."""
    import numpy as np

    from raptor_spark.functions.similarity import ivf_topk, kmeans_fit

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, DIM))
    rows = []
    for c in range(8):
        for i in range(25):
            v = centers[c] + 0.05 * rng.normal(size=DIM)
            rows.append((c * 25 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()

    c1 = kmeans_fit(df, DIM, sample_n=200, k=8, iters=2)
    c2 = kmeans_fit(df.repartition(7), DIM, sample_n=200, k=8, iters=2)
    assert c1 == c2  # bit-exact under repartitioning

    queries = df.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=3).collect()
    }

    def recall(cents):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                df, queries, k=3, n_probe=1, n_centroids=8, centroids=cents
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_trained = recall(c1)
    r_skeleton = recall(None)
    # first-8-ids skeleton = 8 centroids from ONE cluster → poor lists;
    # trained centroids separate the clusters
    assert r_trained >= 0.9
    assert r_trained > r_skeleton


def test_lsh_topk_recall_vs_brute_force(spark):
    """Multi-probe LSH top-k recovers the exact top-k when the corpus
    HAS locality (tight clusters). Uniform-random vectors have no
    LSH-recoverable structure — there the driver oracle checks only
    implementation equivalence, so the recall claim is pinned here on
    clustered data."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, DIM))
    rows = []
    for c in range(10):
        for i in range(20):
            v = centers[c] + 0.05 * rng.normal(size=DIM)
            rows.append((c * 20 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = df.filter(F.col("vec_id") % 20 == 0)  # one per cluster
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk(df, queries, DIM, k=3, n_probes=3).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.8


def test_auto_n_planes_sizing(spark):
    """n_planes=None auto-sizes from corpus cardinality: a 20k-row
    pseudo-random corpus at target_bucket=64 derives ~log2(20000/64)≈9
    planes, and the resulting bucket-size distribution is bounded (no
    degenerate mega-bucket)."""
    from raptor_spark.functions.similarity import auto_n_planes

    n_rows, dim = 20_000, 8
    corpus = spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(1000))
                    / 499.5
                    - 1.0
                ).cast("float")
                for j in range(dim)
            ]
        ).alias("embedding"),
    ).cache()
    n = auto_n_planes(corpus, "vec_id", target_bucket=64)
    assert 8 <= n <= 10  # approx_count_distinct tolerance around 9
    sizes = (
        corpus.select(
            lsh_signature("embedding", dim, n).alias("bucket")
        )
        .groupBy("bucket")
        .count()
        .agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("nb"))
        .first()
    )
    # pseudo-random vectors → roughly balanced buckets: the largest
    # must stay a small multiple of the 64-row target
    assert sizes["mx"] <= 20 * 64
    assert sizes["nb"] >= 2 ** (n - 2)  # most buckets actually occupied
    corpus.unpersist()


def test_kmeans_sample_training(spark, emb):
    """sample_n: bounded deterministic training sample. A sample
    yields k well-formed centroids, deterministically, and sample_n < k
    is refused."""
    from raptor_spark.functions.similarity import kmeans_fit

    samp = kmeans_fit(emb, dim=DIM, k=4, iters=1, sample_n=100)
    assert len(samp) == 4 and all(len(c) == DIM for c in samp)
    assert samp == kmeans_fit(emb, dim=DIM, k=4, iters=1, sample_n=100)
    with pytest.raises(ValueError, match="sample_n"):
        kmeans_fit(emb, dim=DIM, k=8, iters=1, sample_n=4)


def test_kmeans_edge_cases_match_duckdb_twin(spark):
    """Zero vectors (cosine guard -> 0.0, lowest-cid tie) and exact
    duplicate rows must produce identical centroids in kmeans_fit's
    driver-local Lloyd and in the DuckDB twin the ann_ivf_kmeans oracle
    runs (an independent implementation of the same iterations)."""
    import duckdb

    from raptor_spark.functions.similarity import kmeans_fit
    from raptor_spark.queries import _kmeans_cents_sql

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),          # zero vector: all-cos 0 tie
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),          # exact duplicate
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-0.5, 0.25, 0.125, -1.0]),
        (5, [0.3, 0.3, 0.3, 0.3]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    local = kmeans_fit(df, dim=4, sample_n=6, k=2, iters=2)
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    twin = con.sql(
        f"WITH {_kmeans_cents_sql(k=2, iters=2, dim=4, sample_n=6)} "
        "SELECT cent FROM cents ORDER BY cid"
    ).fetchall()
    assert local == [list(c) for (c,) in twin]


@pytest.mark.parametrize("name", ["ann_ivf", "ann_ivf_kmeans"])
def test_ivf_oracle_zero_vector_centroid(spark, tmp_path, name):
    """vec_id 0 is the zero vector: one of ann_ivf's 16 centroids and
    a neighbor candidate. Its cosine is 0.0 in the engine (the
    ``cosine`` guard) and must rank there in the DuckDB twin too, above
    negative cosines — NULL sorted last built different inverted lists
    and probes, and dropped it from the top-3 of queries 101 and 103."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raptor_spark.queries import ORACLE_SQL, QUERIES
    from tools.check_oracles import compare

    rng = np.random.default_rng(7)
    vecs = [np.zeros(DIM)]
    for i in range(1, 110):
        # queries 101 and 103 point into the negative orthant, every
        # other vector into the positive one: the zero centroid is
        # their nearest list and the zero vector their second neighbor
        sign = -1.0 if i in (101, 103) else 1.0
        vecs.append(sign * rng.uniform(0.1, 1.0, DIM))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(110), pa.int64()),
            "embedding": pa.array([v.tolist() for v in vecs],
                                  pa.list_(pa.float32())),
        }),
        tmp_path / "embeddings.parquet",
    )
    got = QUERIES[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{tmp_path}/embeddings.parquet'")
    want = con.sql(ORACLE_SQL[name]).df()
    assert len(got) == 15
    assert compare(name, got, want, exact=True) == []
