"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: pure built-in functions (zip_with/aggregate in
  double precision) — the exact baseline, oracle-checked against DuckDB.
- IVF (inverted-file) ANN: deterministic hash-sharded coarse centroids,
  probe nearest cells only — the 100 TB scale path (cells are Spark
  partitions; only ~n_probe/n_cells of the data is scanned per query).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_DOT = (
    "aggregate(zip_with(cast(a.embedding as array<double>), "
    "cast(b.embedding as array<double>), (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
)
_NORM = "sqrt(aggregate(transform(cast({c}.embedding as array<double>), x -> x * x), 0D, (acc, v) -> acc + v))"


def cosine_topk_spark(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 20
) -> DataFrame:
    e = load_embeddings(spark, sf_dir)
    q = e.where(F.col("vec_id") == query_vec_id).alias("a")
    c = e.where(F.col("vec_id") != query_vec_id).alias("b")
    out = (
        c.join(F.broadcast(q))
        .withColumn(
            "cos",
            F.expr(_DOT)
            / (F.expr(_NORM.format(c="a")) * F.expr(_NORM.format(c="b"))),
        )
        .orderBy(F.round(F.col("cos"), 6).desc(), F.col("b.vec_id"))
        .limit(k)
        .select(
            F.col("b.vec_id").cast("bigint").alias("vec_id"),
            F.round("cos", 4).alias("cos"),
        )
    )
    return out


def cosine_topk_duck(query_vec_id: int = 0, k: int = 20) -> str:
    return f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {query_vec_id}
),
sc AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> {query_vec_id}
)
SELECT vec_id::BIGINT AS vec_id, round(cos, 4) AS cos FROM sc
ORDER BY round(cos, 6) DESC, vec_id LIMIT {k}
""".strip()


def embedding_neardup_spark(
    spark: SparkSession, sf_dir: str, threshold: float = 0.45
) -> DataFrame:
    """Embedding-cosine near-dup PAIRS (exact): all (a, b) with
    cosine >= threshold. Norms precompute once; the pair join is the
    correctness baseline — at 10^9 vectors use embedding_neardup_lsh
    (sign-LSH candidates → this exact verify on candidates only)."""
    e = load_embeddings(spark, sf_dir)
    n_expr = "sqrt(aggregate(transform(cast(embedding as array<double>), x -> x * x), 0D, (acc, v) -> acc + v))"
    en = e.select("vec_id", "embedding", F.expr(n_expr).alias("nrm"))
    a = en.alias("a")
    b = en.alias("b")
    dot = (
        "aggregate(zip_with(cast(a.embedding as array<double>), "
        "cast(b.embedding as array<double>), (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", F.expr(dot) / (F.col("a.nrm") * F.col("b.nrm")))
        .where(F.col("cos") >= threshold)
        .select(
            F.col("a.vec_id").cast("bigint").alias("vec_a"),
            F.col("b.vec_id").cast("bigint").alias("vec_b"),
            F.round("cos", 4).alias("cos"),
        )
        .orderBy("vec_a", "vec_b")
    )


def embedding_neardup_duck(threshold: float = 0.45) -> str:
    return f"""
WITH en AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.vec_id::BIGINT AS vec_a, b.vec_id::BIGINT AS vec_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
FROM en a JOIN en b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {threshold}
ORDER BY 1, 2
""".strip()


def embedding_neardup_lsh(
    spark: SparkSession,
    emb_df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 64,
    band_bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH (random hyperplanes)
    bands the vectors — near-identical vectors agree on almost every
    sign bit, so they share a band w.h.p. — then EXACT cosine verifies
    candidates only. One shuffle on band keys + a candidate-bounded
    join; never the all-pairs product. Deterministic planes (seeded).

    Band keys are integers `band * 2^band_bits + packed_bits` computed
    with one matmul + one reshape-dot per Arrow batch (no per-row Python);
    the DuckDB twin (dedup_embedding_lsh_verified_duck) replays the SAME
    seeded planes, so the candidate set — hence the verified output — is
    engine-independent and value-hash checkable."""
    rng = np.random.default_rng(seed)
    if dim is None:
        dim = len(emb_df.select("embedding").first()["embedding"])
    planes = rng.standard_normal((n_planes, dim))
    bc = spark.sparkContext.broadcast(planes)
    n_bands = n_planes // band_bits
    # key = band << band_bits | bits, MSB-first within the band (matches
    # the oracle's 1 << (band_bits-1 - pid % band_bits) weights)
    weights = (1 << np.arange(band_bits - 1, -1, -1)).astype(np.int64)
    band_base = (np.arange(n_bands, dtype=np.int64) << band_bits)

    @F.pandas_udf("array<bigint>")
    def band_keys(emb: pd.Series) -> pd.Series:
        m = np.array(emb.tolist(), dtype=np.float64)
        bits = ((m @ bc.value.T) >= 0).astype(np.int64)  # (n, n_planes)
        vals = bits.reshape(len(m), n_bands, band_bits) @ weights  # (n, n_bands)
        keys = vals + band_base
        return pd.Series(list(keys))

    banded = emb_df.select(
        "vec_id", "embedding", F.explode(band_keys("embedding")).alias("bk")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), (F.col("a.bk") == F.col("b.bk"))
              & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("a.embedding").alias("ea"),
            F.col("b.vec_id").alias("vec_b"), F.col("b.embedding").alias("eb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    dot = (
        "aggregate(zip_with(cast(ea as array<double>), cast(eb as array<double>), "
        "(x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    nrm = "sqrt(aggregate(transform(cast({c} as array<double>), x -> x * x), 0D, (acc, v) -> acc + v))"
    return (
        cand.withColumn(
            "cos",
            F.expr(dot) / (F.expr(nrm.format(c="ea")) * F.expr(nrm.format(c="eb"))),
        )
        .where(F.col("cos") >= threshold)
        .select(
            F.col("vec_a").cast("bigint"),
            F.col("vec_b").cast("bigint"),
            F.round("cos", 4).alias("cos"),
        )
        .orderBy("vec_a", "vec_b")
    )


_TWIN_OFFSET = 1_000_000


def augmented_embeddings_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table UNION a deterministic near-dup twin per vector
    (vec_id + 1e6, first coordinate sign-flipped — cos = 1 - 2*v0^2/|v|^2,
    ~0.97 at dim 64). Sign negation is exact in float32, so Spark and
    DuckDB derive bit-identical twins; this is the standard planted-pair
    evaluation for near-dup detection (the raw table's max pairwise cosine
    is ~0.51, below any real near-dup threshold)."""
    e = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    twin = e.select(
        (F.col("vec_id") + _TWIN_OFFSET).alias("vec_id"),
        F.expr(
            "concat(array(-embedding[0]), slice(embedding, 2, size(embedding)))"
        ).alias("embedding"),
    )
    return e.unionByName(twin)


def dedup_embedding_lsh_verified_spark(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.9,
    n_planes: int = 64,
    band_bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """THE scale-path embedding near-dup driver entry: sign-LSH banding →
    exact cosine verify on band candidates only (like
    minhash_verified_spark for MinHash). The plan never contains an
    all-pairs/cartesian product — the join is an equi-join on the band
    key (pinned by tests/test_pipeline.py::test_neardup_lsh_plan_no_cartesian).
    Reference parity target: near-duplicate detection as in
    DuplicateFilter/deduplication workflows; at 10^9 vectors the band join
    touches only colliding buckets (~n_bands rows/vector)."""
    aug = augmented_embeddings_spark(spark, sf_dir)
    return embedding_neardup_lsh(
        spark, aug, threshold=threshold, n_planes=n_planes,
        band_bits=band_bits, seed=seed, dim=64,
    )


def dedup_embedding_lsh_verified_duck(
    threshold: float = 0.9,
    n_planes: int = 64,
    band_bits: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """DuckDB twin of dedup_embedding_lsh_verified_spark. Replays the SAME
    seeded hyperplanes (np.default_rng(seed).standard_normal — emitted as
    DOUBLE literals in exponent form, cf. sql/kernel_oracle.py's length
    table) so the banded candidate set matches the Spark side exactly;
    then the identical exact-cosine verify."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    rows = ",\n".join(
        "({}, [{}]::DOUBLE[])".format(
            pid, ", ".join(f"{x:.17e}" for x in planes[pid])
        )
        for pid in range(n_planes)
    )
    bb = band_bits
    return f"""
WITH planes(pid, pv) AS (
  VALUES
{rows}
),
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_TWIN_OFFSET},
         list_concat([-embedding[1]], embedding[2:]) AS embedding
  FROM embeddings
),
bits AS (
  SELECT a.vec_id, p.pid,
         CASE WHEN list_dot_product(a.embedding::DOUBLE[], p.pv) >= 0
              THEN 1 ELSE 0 END AS b
  FROM aug a CROSS JOIN planes p
),
keys AS (
  SELECT vec_id,
         ((pid // {bb}) << {bb})
           + SUM(b * (1 << ({bb} - 1 - (pid % {bb}))))::BIGINT AS bk
  FROM bits GROUP BY vec_id, pid // {bb}
),
cand AS (
  SELECT DISTINCT ka.vec_id AS vec_a, kb.vec_id AS vec_b
  FROM keys ka JOIN keys kb ON ka.bk = kb.bk AND ka.vec_id < kb.vec_id
),
en AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM aug
)
SELECT c.vec_a::BIGINT AS vec_a, c.vec_b::BIGINT AS vec_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
FROM cand c
JOIN en a ON a.vec_id = c.vec_a
JOIN en b ON b.vec_id = c.vec_b
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {threshold}
ORDER BY 1, 2
""".strip()


def cosine_topk_many_spark(
    spark: SparkSession, sf_dir: str, query_vec_ids: tuple, k: int = 10
) -> DataFrame:
    """Batch similarity search: top-k for MANY stored query vectors in ONE
    pass over the embeddings table — the query matrix broadcasts (tiny),
    the big side streams once regardless of query count (the query-fan-in
    shape; per-query jobs would rescan the table per query)."""
    from pyspark.sql import Window

    e = load_embeddings(spark, sf_dir)
    q = (
        e.where(F.col("vec_id").isin(list(query_vec_ids)))
        .select(
            F.col("vec_id").alias("query_vec_id"),
            F.col("embedding").alias("qemb"),
        )
        .alias("a")
    )
    dot = (
        "aggregate(zip_with(cast(a.qemb as array<double>), "
        "cast(b.embedding as array<double>), (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    qnorm = "sqrt(aggregate(transform(cast(a.qemb as array<double>), x -> x * x), 0D, (acc, v) -> acc + v))"
    w = Window.partitionBy("query_vec_id").orderBy(
        F.round(F.col("cos"), 6).desc(), F.col("vec_id")
    )
    return (
        e.alias("b")
        .crossJoin(F.broadcast(q))
        .where(F.col("b.vec_id") != F.col("query_vec_id"))
        .withColumn(
            "cos",
            F.expr(dot) / (F.expr(qnorm) * F.expr(_NORM.format(c="b"))),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_vec_id",
            F.col("b.vec_id").cast("bigint").alias("vec_id"),
            F.round("cos", 4).alias("cos"),
        )
        .orderBy("query_vec_id", F.round(F.col("cos"), 6).desc(), "vec_id")
    )


def cosine_topk_many_duck(query_vec_ids: tuple, k: int = 10) -> str:
    ids = ", ".join(str(int(i)) for i in query_vec_ids)
    return f"""
WITH q AS (
  SELECT vec_id AS query_vec_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN ({ids})
),
sc AS (
  SELECT q.query_vec_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_vec_id
                               ORDER BY round(cos, 6) DESC, vec_id) AS rn
  FROM sc
)
SELECT query_vec_id, vec_id::BIGINT AS vec_id, round(cos, 4) AS cos
FROM r WHERE rn <= {k}
ORDER BY query_vec_id, round(cos, 6) DESC, vec_id
""".strip()


# --- IVF ANN: a REAL persisted index (build once, probe many) ---------------
#
# build_ann_index trains coarse centroids on a deterministic SAMPLE (not a
# limit() prefix), assigns every vector to its nearest cell in ONE pass,
# and persists the assignments PARTITIONED BY cell — so a probe reads only
# n_probe/n_cells of the files (parquet partition pruning = the inverted
# file). Queries reuse the published centroids; nothing is recomputed per
# query. This is the faiss-IVF shape expressed as Spark partitioning.

def _centroids(vecs: np.ndarray, n_cells: int, iters: int = 5) -> np.ndarray:
    """Deterministic Lloyd k-means: init = evenly-strided rows."""
    idx = np.linspace(0, len(vecs) - 1, n_cells).astype(int)
    cents = vecs[idx].copy()
    for _ in range(iters):
        d = vecs @ cents.T
        na = np.linalg.norm(vecs, axis=1, keepdims=True)
        nb = np.linalg.norm(cents, axis=1, keepdims=True).T
        assign = np.argmax(d / (na * nb + 1e-12), axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                cents[c] = vecs[m].mean(axis=0)
    return cents


def build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_cells: int = 16,
    sample_cap: int = 8192,
    seed: int = 42,
) -> dict:
    """One-time IVF index build.

    1. centroids from a seeded .sample() (uniform over the table — at
       100 TB a fraction-sample, never a limit() prefix, which is both
       non-random and a single-partition read);
    2. one distributed pass assigns every vector to argmax-cosine cell
       (Arrow-batched pandas UDF);
    3. assignments written partitionBy(cell) — the inverted file: each
       cell is its own directory, so probes are partition-pruned scans.

    Returns {"centroids": ..., "n_vecs": ..., "n_cells": ...} and writes
    centroids.npy + cells/ under out_dir."""
    import os

    e = load_embeddings(spark, sf_dir)
    # parquet count() is answered from row-group metadata (no data scan)
    n_vecs = e.count()
    frac = min(1.0, float(sample_cap) / max(n_vecs, 1))
    sample = np.array(
        e.select("embedding").sample(fraction=frac, seed=seed)
        .limit(sample_cap).toPandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    cents = _centroids(sample, n_cells)
    bc = spark.sparkContext.broadcast(cents)

    @F.pandas_udf("int")
    def cell_of(emb: pd.Series) -> pd.Series:
        m = np.array(emb.tolist(), dtype=np.float64)
        c = bc.value
        sims = (m @ c.T) / (
            np.linalg.norm(m, axis=1, keepdims=True)
            * np.linalg.norm(c, axis=1, keepdims=True).T
            + 1e-12
        )
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    os.makedirs(out_dir, exist_ok=True)
    cells_dir = os.path.join(out_dir, "cells")
    (
        e.withColumn("cell", cell_of("embedding"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(cells_dir)
    )
    np.save(os.path.join(out_dir, "centroids.npy"), cents)
    return {"n_vecs": int(n_vecs), "n_cells": int(n_cells), "cells_dir": cells_dir}


def ann_probe_topk(
    spark: SparkSession,
    ann_dir: str,
    query_vec: np.ndarray,
    k: int = 20,
    n_probe: int = 6,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Probe a built IVF index: rank cells by centroid cosine (driver-side,
    centroids are tiny), scan ONLY the probed cell partitions (pushed-down
    `cell IN (...)` prunes directories), brute-force cosine within."""
    import os

    cents = np.load(os.path.join(ann_dir, "centroids.npy"))
    qv = np.asarray(query_vec, dtype=np.float64)
    qsims = (cents @ qv) / (
        np.linalg.norm(cents, axis=1) * np.linalg.norm(qv) + 1e-12
    )
    probe = [int(c) for c in np.argsort(-qsims)[:n_probe]]
    cand = (
        spark.read.parquet(os.path.join(ann_dir, "cells"))
        .where(F.col("cell").isin(probe))
        .alias("b")
    )
    if exclude_vec_id is not None:
        cand = cand.where(F.col("b.vec_id") != int(exclude_vec_id))
    q = spark.createDataFrame(
        pd.DataFrame({"embedding": [qv.tolist()]})
    ).alias("a")
    return (
        cand.join(F.broadcast(q))
        .withColumn(
            "cos",
            F.expr(_DOT)
            / (F.expr(_NORM.format(c="a")) * F.expr(_NORM.format(c="b"))),
        )
        .orderBy(F.round(F.col("cos"), 6).desc(), F.col("b.vec_id"))
        .limit(k)
        .select(
            F.col("b.vec_id").cast("bigint").alias("vec_id"),
            F.round("cos", 4).alias("cos"),
        )
    )


_ANN_CACHE: dict = {}


def get_ann_index(spark: SparkSession, sf_dir: str, n_cells: int = 16) -> str:
    """Build-once cache of the IVF index per (sf_dir, n_cells)."""
    import tempfile

    key = (sf_dir, n_cells)
    if key not in _ANN_CACHE:
        d = tempfile.mkdtemp(prefix="sgann_")
        build_ann_index(spark, sf_dir, d, n_cells=n_cells)
        _ANN_CACHE[key] = d
    return _ANN_CACHE[key]


def ivf_topk_spark(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 20,
    n_cells: int = 16,
    n_probe: int = 6,
) -> DataFrame:
    """IVF ANN top-k for a stored vector: probe the persisted index."""
    ann_dir = get_ann_index(spark, sf_dir, n_cells=n_cells)
    e = load_embeddings(spark, sf_dir)
    qrow = e.where(F.col("vec_id") == query_vec_id).toPandas()
    qv = np.array(qrow["embedding"].iloc[0], dtype=np.float64)
    return ann_probe_topk(
        spark, ann_dir, qv, k=k, n_probe=n_probe, exclude_vec_id=query_vec_id
    )


def hybrid_rrf_spark(
    spark: SparkSession, sf_dir: str, term: str, query_vec_id: int = 0,
    n: int = 50, k: int = 10, k0: int = 60,
) -> DataFrame:
    """Hybrid lexical + vector retrieval with reciprocal-rank fusion
    (Cormack/Clarke/Büttcher RRF, the standard hybrid-search combiner):
    score(d) = Σ_lists 1/(k0 + rank_d), over the BM25 top-n for `term`
    and the cosine top-n for the query embedding (vec_id aligns with
    doc_id in the test tables). Docs present in only one list score from
    that list alone.

    Scale shape: both candidate lists are bounded top-n
    (TakeOrderedAndProject on each side), ranks come from windows over
    those tiny n-row frames, and the fusion is an n-row outer join —
    the expensive parts are exactly the two retrievals the engine
    already optimizes."""
    from pyspark.sql import Window

    from ..sql.relational import bm25_bool_spark

    lex = bm25_bool_spark(spark, sf_dir, should=(term,), k=n).withColumn(
        "r_lex",
        # one-partition window: it ranks only the <= n rows of the BM25 top-n
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
    )
    vec = cosine_topk_spark(spark, sf_dir, query_vec_id, n).withColumn(
        "r_vec",
        # one-partition window: it ranks only the <= n rows of the cosine top-n
        F.row_number().over(Window.orderBy(F.desc("cos"), F.asc("vec_id"))),
    )
    j = lex.select("doc_id", "r_lex").join(
        vec.select(F.col("vec_id").alias("doc_id"), "r_vec"), "doc_id", "outer"
    )
    out = (
        j.withColumn(
            "rrf",
            F.round(
                F.coalesce(F.lit(1.0) / (k0 + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (k0 + F.col("r_vec")), F.lit(0.0)),
                6,
            ),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(k)
    )
    # one-partition window: it ranks only the <= k fused rows of limit(k)
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return out.withColumn(
        "rank", (F.row_number().over(w) - 1).cast("bigint")
    ).select("rank", F.col("doc_id").cast("bigint").alias("doc_id"), "rrf")


def hybrid_rrf_duck(
    term: str, query_vec_id: int = 0, n: int = 50, k: int = 10, k0: int = 60
) -> str:
    from ..sql.relational import bm25_bool_duck

    return f"""
WITH lex0 AS ({bm25_bool_duck(should=(term,), k=n)}),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
  FROM lex0
),
vec0 AS ({cosine_topk_duck(query_vec_id, n)}),
vec AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY cos DESC, vec_id) AS r_vec
  FROM vec0
),
j AS (SELECT * FROM lex FULL OUTER JOIN vec USING (doc_id)),
sc AS (
  SELECT doc_id,
         round(coalesce(1.0 / ({k0} + r_lex), 0)
               + coalesce(1.0 / ({k0} + r_vec), 0), 6) AS rrf
  FROM j
)
SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) - 1 AS rank,
       doc_id::BIGINT AS doc_id, rrf
FROM sc ORDER BY rrf DESC, doc_id LIMIT {k}
""".strip()
