"""Similarity search over the embeddings table.

Brute-force cosine top-k is the correctness baseline: query set ×
corpus, dot products as higher-order array expressions (JVM codegen,
no Python), top-k via per-group window.  At 100 TB the same topology
holds with a broadcast query set — the corpus never shuffles; each
scan partition scores its rows and the only wide operation is the
per-query top-k reduction.

Exactness: a float dot product is order-dependent in IEEE double, so
each elementwise product (exact in double — 24-bit×24-bit mantissas fit
in 53) is cast to DECIMAL(38,20) and summed exactly.  Spark and DuckDB
then agree bit-for-bit, which makes ANN-vs-exact recall measurable, not
guessable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import tune_session
from cga_logs_to_kinesis_spark.sources import load_embeddings, load_table

# Summation order contract: Spark's `aggregate` and DuckDB's
# `list_reduce` both fold strictly left-to-right, so a plain double
# accumulator produces bit-identical IEEE results in both engines.
# (Decimal accumulation is NOT portable here: Spark casts double →
# decimal via the shortest string representation while DuckDB uses the
# exact binary value, so the 20th decimal digit diverges.)
def _seq_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def exact_dot(a: str, b: str) -> Column:
    """Sequential-order dot product of two float array columns."""
    prods = F.zip_with(
        F.col(a), F.col(b),
        lambda x, y: x.cast("double") * y.cast("double"))
    return _seq_sum(prods)


def exact_norm(a: str) -> Column:
    sq = F.transform(F.col(a),
                     lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_seq_sum(sq))


def q_embedding_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine report for the embedding ingest gate: every vector
    classed as missing / wrong_dim / corrupt_values / zero_norm /
    valid (mutually exclusive, priority-ordered).  This is the audit
    counterpart of ``load_embeddings``'s filter — the gate that keeps
    NULL, mis-shaped, non-finite, overlarge, and zero-norm vectors out
    of the cosine/decimal paths, where ANSI mode would otherwise throw
    mid-job (div-by-zero on a zero norm, DECIMAL overflow on ~1e30
    magnitudes).  Reads the RAW table on purpose: the report must see
    what the gate removes."""
    from cga_logs_to_kinesis_spark.schema import (
        EMBEDDING_DIM,
        EMBEDDING_MAX_ABS,
    )
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    c = F.col("embedding")
    bad_elem = F.size(F.filter(
        c, lambda x: x.isNull() | F.isnan(x)
        | (F.abs(x) > F.lit(EMBEDDING_MAX_ABS))))
    nonzero = F.size(F.filter(c, lambda x: x != 0))
    cls = (F.when(c.isNull(), "missing")
           .when(F.size(c) != EMBEDDING_DIM, "wrong_dim")
           .when(bad_elem > 0, "corrupt_values")
           .when(nonzero == 0, "zero_norm")
           .otherwise("valid"))
    return (emb.groupBy(cls.alias("validity"))
            .agg(F.count("*").alias("n_vectors"),
                 F.min("vec_id").alias("min_vec_id"),
                 F.max("vec_id").alias("max_vec_id"))
            .orderBy("validity"))


from cga_logs_to_kinesis_spark.schema import (  # noqa: E402
    EMBEDDING_DIM as _EMB_DIM,
    EMBEDDING_MAX_ABS as _EMB_MAX,
)

register(QuerySpec(
    "embedding_validity", q_embedding_validity,
    oracle=f"""
        SELECT CASE
                 WHEN embedding IS NULL THEN 'missing'
                 WHEN len(embedding) != {_EMB_DIM} THEN 'wrong_dim'
                 WHEN len(list_filter(embedding,
                      x -> x IS NULL OR isnan(x)
                           OR abs(x) > {_EMB_MAX!r})) > 0
                      THEN 'corrupt_values'
                 WHEN len(list_filter(embedding, x -> x != 0)) = 0
                      THEN 'zero_norm'
                 ELSE 'valid'
               END AS validity,
               COUNT(*) AS n_vectors,
               MIN(vec_id) AS min_vec_id,
               MAX(vec_id) AS max_vec_id
        FROM embeddings
        GROUP BY 1
        ORDER BY 1
    """,
    doc="embedding ingest-gate audit: per-failure-class vector counts "
        "(missing / wrong_dim / corrupt_values / zero_norm / valid)",
    tags=("similarity", "llm-pipeline", "quality", "north-star"),
))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k of `queries` (vec_id, embedding) vs `emb`."""
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id").alias("cand_id"),
                   F.col("embedding").alias("ce"))
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            (exact_dot("qe", "ce")
             / (exact_norm("qe") * exact_norm("ce"))).alias("cosine"))
    )
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cosine").desc(), F.col("cand_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(emb, queries, k=5)


# Shared by cosine_topk (JVM fold) and cosine_topk_fast (numpy
# sequential per-dim fold) — both compute bit-identical scores.
COSINE_TOPK_ORACLE = """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
        -- list_reduce folds left-to-right, matching Spark's aggregate()
        dots AS (
            SELECT query_id, cand_id,
                   0.0 + list_reduce(
                       list_transform(list_zip(qe, ce),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                       (acc, x) -> acc + x) AS dot
            FROM q CROSS JOIN c
            WHERE cand_id != query_id
        ),
        norms AS (
            SELECT vec_id,
                   SQRT(list_reduce(
                       list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (acc, x) -> acc + x)) AS nrm
            FROM embeddings
        )
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT d.query_id, d.cand_id,
                   d.dot / (nq.nrm * nc.nrm) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.query_id
                       ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.cand_id
                   ) AS rank
            FROM dots d
            JOIN norms nq ON d.query_id = nq.vec_id
            JOIN norms nc ON d.cand_id = nc.vec_id
        ) WHERE rank <= 5
    """

register(QuerySpec(
    "cosine_topk", q_cosine_topk,
    oracle=COSINE_TOPK_ORACLE,
    doc="brute-force exact cosine top-k (broadcast query set)",
    tags=("similarity", "north-star"),
))


# ---------------------------------------------------------------------------
# LSH-bucketed ANN: the scale path.  Random-hyperplane signatures
# (SimHash-for-cosine) put each vector in one of 2^P buckets; queries
# only score candidates in their own bucket, so the per-query work is
# corpus/2^P on average instead of the full scan.  The hyperplanes are
# pseudo-random +-1 coefficients derived from md5(plane:dim) - fully
# deterministic, identical constants compiled into the Spark plan and
# the DuckDB oracle, no stored model state to distribute.
# At 100 TB: bucket the corpus once (one narrow projection), cluster
# or Z-order the stored table by bucket, and ANN queries become
# partition-pruned scans.
# ---------------------------------------------------------------------------

import hashlib as _hashlib

EMB_DIM = 64
N_PLANES = 4       # planes per table -> 2^4 buckets
N_TABLES = 4       # independent hash tables; candidates are unioned


def _plane_coefs(plane: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic +-1.0 hyperplane from md5 - public-knowledge
    construction (Charikar SimHash), reproducible in any engine."""
    return [
        1.0 if _hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0] >= "8"
        else -1.0
        for i in range(dim)
    ]


_PLANES = [[_plane_coefs(t * N_PLANES + p) for p in range(N_PLANES)]
           for t in range(N_TABLES)]


def lsh_bucket(emb_col: str, table: int = 0) -> Column:
    """2^N_PLANES-way bucket id from hyperplane signs (one table).

    This is the pure-JVM *spec* form — the executable twin of the
    oracle SQL.  Hot paths use :func:`lsh_table_buckets_vec` instead:
    higher-order-function lambdas evaluate interpreted per element
    (~1.4 s just to bucket 2 000×64 floats at sf0.1), and unrolling
    into flat codegen arithmetic is worse (a 1 024-node expression tree
    per table blows up Janino compile time, measured 14 s).
    ``tests/test_similarity_fast.py`` pins the vectorized path to this
    one bucket-for-bucket."""
    bucket = F.lit(0)
    for p, coefs in enumerate(_PLANES[table]):
        plane = F.array(*[F.lit(c) for c in coefs])
        proj = _seq_sum(F.zip_with(
            F.col(emb_col), plane,
            lambda x, c: x.cast("double") * c))
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def lsh_table_buckets(emb_col: str) -> Column:
    """Array of (table, bucket) ids — one entry per hash table.
    Encoded as table * 2^N_PLANES + bucket so the join key is one int.
    Single-table LSH has poor recall on weakly-clustered vectors;
    unioning candidates across independent tables is the standard
    recall repair (probability of missing a true neighbor decays
    exponentially in the number of tables)."""
    return F.array(*[
        (lsh_bucket(emb_col, t) + F.lit(t * (1 << N_PLANES)))
        for t in range(N_TABLES)])


def lsh_table_buckets_vec(emb_col: str) -> Column:
    """Arrow-vectorized twin of :func:`lsh_table_buckets`.

    BIT-IDENTICAL to the JVM fold, not merely close: the accumulator
    adds one dimension at a time across the whole Arrow batch
    (``acc += E[:, i] * plane[:, i]``), so each (row, plane) projection
    performs the same left-to-right float64 additions as
    ``aggregate(zip_with(...))`` in Spark and ``list_reduce`` in
    DuckDB — no BLAS matmul, whose sum reordering could flip the sign
    of a near-zero projection and change a bucket id.  float32→float64
    widening is exact, products of float-origin doubles are the same
    doubles, so sign decisions agree everywhere.

    Why it exists: interpreted HOF lambdas cost ~1.4 s per pass over
    2 000×64 floats; this path is one vectorized pass per Arrow batch
    and keeps the bucketing a narrow map at 100 TB (no shuffle, no
    collected state — the plane matrix is a compile-time constant
    closed over by the UDF).
    """
    import pandas as pd

    try:
        import numpy as np
    except ImportError:                        # pragma: no cover
        return lsh_table_buckets(emb_col)      # JVM fallback

    flat = np.array(
        [_PLANES[t][p] for t in range(N_TABLES) for p in range(N_PLANES)],
        dtype=np.float64)                      # (16, 64)
    bits = np.array([1 << p for p in range(N_PLANES)])
    offs = np.arange(N_TABLES) * (1 << N_PLANES)

    def buckets(s):                            # pd.Series -> pd.Series
        E = np.stack(s.to_numpy()).astype(np.float64)    # (n, dim)
        acc = np.zeros((E.shape[0], flat.shape[0]))
        for i in range(flat.shape[1]):         # sequential over dims
            acc += E[:, i:i + 1] * flat[:, i]
        signs = acc > 0                        # (n, 16)
        b = ((signs.reshape(-1, N_TABLES, N_PLANES) * bits).sum(axis=2)
             + offs)
        return pd.Series(list(b.astype(np.int32)))

    return F.pandas_udf(buckets, "array<int>")(F.col(emb_col))


def cosine_vec(a_col: str, b_col: str) -> Column:
    """Arrow-vectorized cosine of two array columns, bit-identical to
    ``exact_dot/exact_norm``: the three folds (dot, |a|², |b|²)
    accumulate one dimension at a time across the batch — the same
    left-to-right float64 additions as the JVM fold and the oracle's
    ``list_reduce`` — and sqrt/division are correctly rounded in IEEE,
    so the final double matches exactly.  Same rationale as
    :func:`lsh_table_buckets_vec`: interpreted HOF lambdas cost ~100×
    a vectorized pass once pair counts grow."""
    import pandas as pd

    try:
        import numpy as np
    except ImportError:                        # pragma: no cover
        return (exact_dot(a_col, b_col)
                / (exact_norm(a_col) * exact_norm(b_col)))

    def cos(a, b):                             # two pd.Series of arrays
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        dot = np.zeros(A.shape[0])
        na = np.zeros(A.shape[0])
        nb = np.zeros(A.shape[0])
        for i in range(A.shape[1]):            # sequential over dims
            dot += A[:, i] * B[:, i]
            na += A[:, i] * A[:, i]
            nb += B[:, i] * B[:, i]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return F.pandas_udf(cos, "double")(F.col(a_col), F.col(b_col))


def _bucket_sql(emb_expr: str, table: int) -> str:
    terms = []
    for p, coefs in enumerate(_PLANES[table]):
        lit = "[" + ", ".join(repr(c) for c in coefs) + "]"
        proj = (f"list_reduce(list_transform(list_zip({emb_expr}, {lit}), "
                f"t -> CAST(t[1] AS DOUBLE) * t[2]), (a, x) -> a + x)")
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _table_buckets_sql(emb_expr: str) -> str:
    entries = ", ".join(
        f"({_bucket_sql(emb_expr, t)}) + {t * (1 << N_PLANES)}"
        for t in range(N_TABLES))
    return f"[{entries}]"


def cosine_topk_lsh(emb: DataFrame, queries: DataFrame,
                    k: int) -> DataFrame:
    """ANN top-k: score candidates sharing any hash table's bucket."""
    # Candidate generation moves only (bucket, id) pairs; the distinct
    # that unions candidates across hash tables dedups 16-byte id
    # pairs, not embedding arrays.  Arrays are joined back just once
    # per surviving pair (query side broadcast, corpus side one small
    # shuffle) before scoring.
    q_ids = (queries.select(F.col("vec_id").alias("query_id"),
                            F.explode(lsh_table_buckets_vec("embedding"))
                            .alias("bucket")))
    c_ids = (emb.select(F.col("vec_id").alias("cand_id"),
                        F.explode(lsh_table_buckets_vec("embedding"))
                        .alias("bucket")))
    pair_ids = (c_ids.join(F.broadcast(q_ids), "bucket")
                .filter(F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id")
                .distinct())
    q_arr = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("qe"))
    c_arr = emb.select(F.col("vec_id").alias("cand_id"),
                       F.col("embedding").alias("ce"))
    scored = (pair_ids
              .join(F.broadcast(q_arr), "query_id")
              .join(c_arr, "cand_id")
              .select("query_id", "cand_id",
                      cosine_vec("qe", "ce").alias("cosine")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cosine").desc(), F.col("cand_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank"))


def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    return cosine_topk_lsh(emb, emb.filter(F.col("vec_id") < 8), k=5)


register(QuerySpec(
    "cosine_topk_lsh", q_cosine_topk_lsh,
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   unnest({_table_buckets_sql("embedding")}) AS bucket
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qe, bucket
              FROM b WHERE vec_id < 8),
        pairs AS (
            SELECT DISTINCT q.query_id, c.vec_id AS cand_id,
                   q.qe, c.embedding AS ce
            FROM q JOIN b c ON q.bucket = c.bucket
            WHERE c.vec_id != q.query_id
        ),
        scored AS (
            SELECT query_id, cand_id,
                   list_reduce(list_transform(list_zip(qe, ce),
                       t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)),
                       (a, x) -> a + x)
                   / (SQRT(list_reduce(list_transform(qe,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, x) -> a + x))
                      * SQRT(list_reduce(list_transform(ce,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, x) -> a + x))) AS cosine
            FROM pairs
        )
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT query_id, cand_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    doc="multi-table LSH ANN cosine top-k (4 tables x 2^4 buckets)",
    tags=("similarity", "north-star", "lsh"),
))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-blocked: pairs are only
    scored within a bucket, so the pair count is sum(bucket_size^2/2),
    not corpus^2/2."""
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    # Candidate union dedups 16-byte id pairs, never embedding arrays
    # (a distinct over (id, id, array, array) rows shuffles the whole
    # corpus' vectors; over ids it shuffles ~nothing).  Arrays join
    # back once per surviving pair, scored by the vectorized
    # bit-identical cosine.
    b = emb.select(F.col("vec_id"),
                   F.explode(lsh_table_buckets_vec("embedding"))
                   .alias("bucket"))
    a = b.select(F.col("vec_id").alias("vec_a"), "bucket")
    c = b.select(F.col("vec_id").alias("vec_b"), "bucket")
    pair_ids = (a.join(c, "bucket")
                .filter(F.col("vec_a") < F.col("vec_b"))
                .select("vec_a", "vec_b").distinct())
    ea = emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("eb"))
    return (pair_ids
            .join(ea, "vec_a").join(eb, "vec_b")
            .select("vec_a", "vec_b",
                    cosine_vec("ea", "eb").alias("cosine"))
            .filter(F.col("cosine") >= 0.30))


register(QuerySpec(
    "dedup_embedding_cosine", q_embedding_near_dup,
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   unnest({_table_buckets_sql("embedding")}) AS bucket
            FROM embeddings
        ),
        upairs AS (
            SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
                   x.embedding AS ea, y.embedding AS eb
            FROM b x JOIN b y
              ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        ),
        pairs AS (
            SELECT vec_a, vec_b,
                   list_reduce(list_transform(
                       list_zip(ea, eb),
                       t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)),
                       (a, v) -> a + v)
                   / (SQRT(list_reduce(list_transform(ea,
                          e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)),
                          (a, v) -> a + v))
                      * SQRT(list_reduce(list_transform(eb,
                          e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)),
                          (a, v) -> a + v))) AS cosine
            FROM upairs
        )
        SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.30
    """,
    doc="embedding-cosine near-dup pairs, LSH-blocked (no cross product)",
    tags=("dedup", "similarity", "north-star", "lsh"),
))



# ---------------------------------------------------------------------------
# Arrow-vectorized fast path: numpy over mapInPandas batches.
# Scoring accumulates SEQUENTIALLY over dimensions (one vectorized
# numpy op per dim across the whole batch x query block), NOT via BLAS
# matmul: a left fold from 0.0 is bit-identical to the JVM
# aggregate() of the exact operator and to DuckDB's list_reduce, so
# this path shares cosine_topk's oracle.  BLAS would reorder the sums
# (blocked/SIMD accumulation) for ~2-3x more throughput at large dim,
# at the cost of run-to-run unverifiable results — reproducibility is
# the better trade for a correctness-gated engine, and the per-dim
# loop is still batch-vectorized (64 numpy ops per Arrow batch at
# dim=64, nothing per-row).
# ---------------------------------------------------------------------------

# cosine_topk_fast collects the query set to the driver (it is
# broadcast into every scoring task as a dense numpy block).  The
# design assumes |Q| << |corpus|; this cap turns a mistaken "score
# everything against everything" call into a loud error instead of a
# driver OOM.  |Q| x dim x 8 bytes at the cap is ~50 MB for dim=1024.
MAX_FAST_QUERIES = 5_000


def cosine_topk_fast(emb: DataFrame, queries: DataFrame,
                     k: int) -> DataFrame:
    """ANN-speed exact scoring: per-partition numpy matmul + local
    top-k, then a global k-row-per-query merge.  The corpus never
    shuffles; only |partitions| x |Q| x k candidate rows move."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select("vec_id", "embedding") \
        .limit(MAX_FAST_QUERIES + 1).collect()
    if len(q_rows) > MAX_FAST_QUERIES:
        raise ValueError(
            f"cosine_topk_fast query set exceeds {MAX_FAST_QUERIES} "
            "rows; it is collected to the driver and broadcast to every "
            "task. Use cosine_topk_lsh for large query sets.")
    q_ids = [r.vec_id for r in q_rows]
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)

    def seq_norm(m):
        # sqrt of a sequential per-dim sum of squares — same IEEE
        # order as exact_norm's fold and the oracle's list_reduce
        sq = np.zeros(m.shape[0])
        for i in range(m.shape[1]):
            sq += m[:, i] * m[:, i]
        return np.sqrt(sq)

    q_norm = seq_norm(q_mat)

    out_schema = ("query_id long, cand_id long, cosine double")

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            c_norm = seq_norm(c_mat)
            dots = np.zeros((q_mat.shape[0], c_mat.shape[0]))
            for i in range(q_mat.shape[1]):      # sequential over dims
                dots += q_mat[:, i:i + 1] * c_mat[:, i]
            sims = dots / np.outer(q_norm, c_norm)
            frames = []
            for qi, qid in enumerate(q_ids):
                row = sims[qi]
                mask = ids != qid
                cand_ids = ids[mask]
                cand_sims = row[mask]
                top = np.argsort(-cand_sims, kind="stable")[:k]
                frames.append(pd.DataFrame({
                    "query_id": qid,
                    "cand_id": cand_ids[top],
                    "cosine": cand_sims[top]}))
            if frames:
                yield pd.concat(frames)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, schema=out_schema)
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cosine").desc(), F.col("cand_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank"))


def q_cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    return cosine_topk_fast(emb, emb.filter(F.col("vec_id") < 8), k=5)


register(QuerySpec(
    "cosine_topk_fast", q_cosine_topk_fast,
    # Same query shape and bit-exact scoring as the JVM-exact operator
    # → shares its oracle verbatim.
    oracle=COSINE_TOPK_ORACLE,
    doc="Arrow/numpy-vectorized cosine top-k (throughput path, "
        "sequential per-dim folds — bit-exact vs the JVM operator)",
    tags=("similarity", "north-star", "pandas-udf"),
))


# ---------------------------------------------------------------------------
# Int8 embedding quantization (ANN memory/bandwidth reduction)
# ---------------------------------------------------------------------------
# Symmetric max-abs int8: scale = max|x|/127, q_i = clamp(round(x_i /
# scale)).  A quantized corpus is 4x smaller, which at 100 TB is the
# difference between an ANN index that fits in executor memory and one
# that spills; this operator reports the fidelity cost per vector
# (max abs error, MSE, cosine of original vs reconstruction) so the
# recall impact is measured, not guessed.  Entirely narrow per-row
# array expressions — zero shuffles at any scale.
#
# Exactness notes: rounding is floor(v + 0.5) on BOTH engines (round()
# tie semantics differ subtly across engines; floor does not), and all
# reductions are sequential left-to-right folds per the module-header
# contract.  Zero vectors (scale = 0) are excluded on both sides.

def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    df = emb.select("vec_id", "label", x.alias("x"))
    maxabs = F.array_max(F.transform(F.col("x"), F.abs))
    df = (df.withColumn("scale", maxabs / F.lit(127.0))
          .filter(F.col("scale") > 0))
    q = F.transform(
        F.col("x"),
        lambda v: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0),
                    F.floor(v / F.col("scale") + F.lit(0.5))
                    .cast("double"))))
    df = df.withColumn("recon",
                       F.transform(q, lambda qi: qi * F.col("scale")))
    err = F.zip_with(F.col("x"), F.col("recon"), lambda a, b: a - b)
    mse = (_seq_sum(F.transform(err, lambda e: e * e))
           / F.size(F.col("x")))
    max_abs_err = F.array_max(F.transform(err, F.abs))
    dot = _seq_sum(F.zip_with(F.col("x"), F.col("recon"),
                              lambda a, b: a * b))
    nx = F.sqrt(_seq_sum(F.transform(F.col("x"), lambda v: v * v)))
    nr = F.sqrt(_seq_sum(F.transform(F.col("recon"), lambda v: v * v)))
    return df.select(
        "vec_id", "label", "scale",
        max_abs_err.alias("max_abs_err"),
        mse.alias("mse"),
        (dot / (nx * nr)).alias("cos_recon"))


register(QuerySpec(
    "embedding_quantize", q_embedding_quantize,
    oracle="""
        WITH base AS (
            SELECT vec_id, label,
                   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
            FROM embeddings
        ), scaled AS (
            SELECT vec_id, label, x,
                   list_aggregate(list_transform(x, v -> abs(v)), 'max')
                       / 127.0 AS scale
            FROM base
        ), rec AS (
            SELECT vec_id, label, x, scale,
                   list_transform(x, v ->
                       greatest(-127.0, least(127.0,
                           floor(v / scale + 0.5))) * scale) AS recon
            FROM scaled
            WHERE scale > 0
        ), err AS (
            SELECT vec_id, label, scale, x, recon,
                   list_transform(list_zip(x, recon),
                       p -> p[1] - p[2]) AS e
            FROM rec
        )
        SELECT vec_id, label, scale,
               list_aggregate(list_transform(e, v -> abs(v)), 'max')
                   AS max_abs_err,
               (0.0 + list_reduce(list_transform(e, v -> v * v),
                                  (acc, v) -> acc + v)) / len(x) AS mse,
               (0.0 + list_reduce(list_transform(list_zip(x, recon),
                                      p -> p[1] * p[2]),
                                  (acc, v) -> acc + v))
               / (SQRT(0.0 + list_reduce(list_transform(x, v -> v * v),
                                         (acc, v) -> acc + v))
                  * SQRT(0.0 + list_reduce(
                        list_transform(recon, v -> v * v),
                        (acc, v) -> acc + v))) AS cos_recon
        FROM err
    """,
    doc="symmetric int8 quantization fidelity report (max-abs scale, "
        "per-vector error + cosine of reconstruction)",
    tags=("similarity", "llm-pipeline", "scalar"),
))


# ---------------------------------------------------------------------------
# SemDeDup: centroid-blocked semantic dedup
# ---------------------------------------------------------------------------
# Semantic dedup (Abbas et al. 2023, "SemDeDup") prunes documents
# whose *embeddings* nearly coincide, catching paraphrases that no
# lexical dedup sees.  Blocking is by nearest-centroid cluster, so
# pair counts are sum(cluster_size²/2), never corpus²/2; at 100 TB the
# centroid count scales with the corpus (k ~ N/target_cluster_size) to
# keep each block bounded — here k is a fixed deterministic set (the
# lowest-id vectors) so the result is oracle-checkable without
# training state.  Assignment is a broadcast cross-score (corpus never
# shuffles; k rows do), pair generation self-joins the (vec_id,
# cluster) assignment — id pairs only, arrays join back once per
# surviving pair, scored by the bit-exact Arrow cosine.

SEMDEDUP_K = 8
SEMDEDUP_THRESHOLD = 0.30

_COS_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), "
    "(acc, v) -> acc + v) "
    "/ (SQRT(list_reduce(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) "
    "* SQRT(list_reduce(list_transform({b}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)))")


def semdedup_centroids(emb: DataFrame) -> DataFrame:
    """(centroid_id, cent): the fixed blocking centroids — the first
    SEMDEDUP_K vectors by id (the oracle-checkability convention;
    production feeds trained k-means output, clustering.py:103).
    Factored out because the INCREMENTAL form persists this frame
    once as a fitted artifact (the BPE-model discipline) and every
    later batch assigns against it unchanged."""
    return (emb.filter(F.col("vec_id") < SEMDEDUP_K)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("cent")))


def semdedup_assign_with_cents(emb: DataFrame,
                               cents: DataFrame) -> DataFrame:
    """(vec_id, cluster, ccos): every vector assigned to its nearest
    centroid from a GIVEN centroid frame (ties → lowest centroid id),
    keeping the cosine to that centroid.  Row-local given the
    centroids — a vector's assignment never depends on any other
    vector, so per-batch assignments stay valid forever under the
    fixed artifact.

    The arg-max is a groupBy of ``max(struct(ccos, -centroid_id))``
    rather than a row_number window (optimization r18, guide §2.3):
    struct ordering compares ccos first, then -centroid_id, so the
    winner is exactly the window's (ccos DESC, centroid_id ASC) head
    — bit-identical ccos, deterministic ties — but the k rows per
    vector collapse MAP-SIDE in the partial aggregate instead of all
    k x N scored rows shuffling through a vec_id-keyed sort (a
    partition-key-only window has no partial aggregation; the
    functions/buckets.py argument, applied to the arg-max shape)."""
    scored = (emb.select("vec_id", "embedding")
              .crossJoin(F.broadcast(cents))
              .select("vec_id", "centroid_id",
                      cosine_vec("embedding", "cent").alias("ccos")))
    best = F.max(F.struct(
        F.col("ccos"), (-F.col("centroid_id")).alias("_ncid")))
    return (scored.groupBy("vec_id").agg(best.alias("_b"))
            .select("vec_id",
                    (-F.col("_b._ncid")).alias("cluster"),
                    F.col("_b.ccos").alias("ccos")))


def semdedup_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, cluster, ccos): every vector assigned to its nearest
    fixed centroid (ties → lowest centroid id), keeping the cosine to
    that centroid — the blocking HALF of SemDeDup, factored out so
    the pair surface and the survivor policy (which keeps the member
    FARTHEST from its centroid, the paper's diversity rule) read one
    assignment."""
    return semdedup_assign_with_cents(emb, semdedup_centroids(emb))


def semdedup_pairs_from_assign(emb: DataFrame,
                               assign: DataFrame) -> DataFrame:
    """The pair half of SemDeDup over a prebuilt assignment — lets
    the survivor queries reuse one assignment for both the pair
    surface and the keep-farthest ranking."""
    a = assign.select(F.col("vec_id").alias("vec_a"), "cluster")
    b = assign.select(F.col("vec_id").alias("vec_b"), "cluster")
    pair_ids = (a.join(b, "cluster")
                .filter(F.col("vec_a") < F.col("vec_b")))
    ea = emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("eb"))
    return (pair_ids
            .join(ea, "vec_a").join(eb, "vec_b")
            .select("cluster", "vec_a", "vec_b",
                    cosine_vec("ea", "eb").alias("cosine"))
            .filter(F.col("cosine") >= SEMDEDUP_THRESHOLD))


def semdedup_pairs(emb: DataFrame) -> DataFrame:
    """(cluster, vec_a, vec_b, cosine): the centroid-blocked semantic
    near-dup pairs at the SemDeDup threshold — shared by the pair
    report and the cross-split leakage audit so the blocking and
    threshold are one definition."""
    return semdedup_pairs_from_assign(emb, semdedup_assign(emb))


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return semdedup_pairs(load_embeddings(spark, sf_dir))


# Shared oracle CTE block ending in ``assign`` — the SQL twin of
# :func:`semdedup_assign` (fixed centroids + nearest-centroid
# assignment), composed by every SemDeDup oracle including the
# incremental form (whose pair surface is batch x seen, not a < b).
_SEMDEDUP_ASSIGN_CTES = f"""
        cents AS (
            SELECT vec_id AS centroid_id, embedding AS cent
            FROM embeddings WHERE vec_id < {SEMDEDUP_K}
        ), scored AS (
            SELECT e.vec_id, c.centroid_id,
                   {_COS_SQL.format(a="e.embedding", b="c.cent")} AS ccos
            FROM embeddings e CROSS JOIN cents c
        ), assign AS (
            SELECT vec_id, centroid_id AS cluster, ccos FROM (
                SELECT vec_id, centroid_id, ccos,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY ccos DESC, centroid_id) AS rn
                FROM scored) WHERE rn = 1
        )"""

# Shared oracle CTE block ending in ``sempairs`` — the SQL twin of
# :func:`semdedup_pairs`, composed by the pair report and the
# cross-split leakage audit.
SEMDEDUP_SQL_CTES = f"""
        {_SEMDEDUP_ASSIGN_CTES.strip()}, pairs AS (
            SELECT x.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b
            FROM assign x JOIN assign y
              ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        ), final AS (
            SELECT p.cluster, p.vec_a, p.vec_b,
                   {_COS_SQL.format(a="ea.embedding", b="eb.embedding")}
                       AS cosine
            FROM pairs p
            JOIN embeddings ea ON p.vec_a = ea.vec_id
            JOIN embeddings eb ON p.vec_b = eb.vec_id
        ), sempairs AS (
            SELECT cluster, vec_a, vec_b, cosine
            FROM final WHERE cosine >= {SEMDEDUP_THRESHOLD}
        )
"""

register(QuerySpec(
    "semdedup", q_semdedup,
    oracle=f"""
        WITH {SEMDEDUP_SQL_CTES.strip()}
        SELECT cluster, vec_a, vec_b, cosine FROM sempairs
    """,
    doc=f"SemDeDup: nearest-centroid blocking (k={SEMDEDUP_K}) + "
        "within-cluster cosine near-dup pairs",
    tags=("similarity", "llm-pipeline", "dedup", "north-star"),
))


# ---------------------------------------------------------------------------
# Semantic split leakage: paraphrase contamination ACROSS the splits
# ---------------------------------------------------------------------------
# split_leakage audits the hash split against LEXICAL near-dups
# (MinHash pairs); paraphrases that no lexical dedup sees leak
# through it.  This is the same audit one modality over: the SemDeDup
# pair surface (embedding cosine, centroid-blocked) classified by its
# members' splits — the decontamination check run between a training
# corpus and held-out evals in embedding space.  Ids line up because
# the fixture embeds document doc_ids as vec_ids (the modal_agreement
# convention).  Topology: the pair table is semdedup's (bounded by
# cluster blocking); the split is a row-local hash; one final
# (split, split)-keyed agg over pair rows.

def q_split_leakage_semantic(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        _split_of,
    )
    tune_session(spark)
    pairs = semdedup_pairs(load_embeddings(spark, sf_dir))
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (pairs
            .withColumn("split_a", _split_of(F.col("vec_a")))
            .withColumn("split_b", _split_of(F.col("vec_b")))
            .groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
            .agg(F.count("*").alias("n_pairs"),
                 F.min("vec_a").alias("example_vec_a"),
                 F.max("cosine").alias("max_cosine"))
            .withColumn("is_leak",
                        F.col("split_lo") != F.col("split_hi"))
            .orderBy("split_lo", "split_hi"))


def _split_leakage_semantic_oracle() -> str:
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        _split_sql,
    )
    return f"""
        WITH {SEMDEDUP_SQL_CTES.strip()},
        classed AS (
            SELECT cosine, vec_a,
                   {_split_sql('vec_a')} AS split_a,
                   {_split_sql('vec_b')} AS split_b
            FROM sempairs
        )
        SELECT LEAST(split_a, split_b) AS split_lo,
               GREATEST(split_a, split_b) AS split_hi,
               COUNT(*) AS n_pairs,
               MIN(vec_a) AS example_vec_a,
               MAX(cosine) AS max_cosine,
               LEAST(split_a, split_b) <> GREATEST(split_a, split_b)
                   AS is_leak
        FROM classed
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


register(QuerySpec(
    "split_leakage_semantic", q_split_leakage_semantic,
    oracle=_split_leakage_semantic_oracle(),
    doc="split_leakage one modality over: SemDeDup's embedding "
        "near-dup pairs classified by their members' hash splits — "
        "the paraphrase-contamination audit lexical dedup misses",
    tags=("similarity", "llm-pipeline", "split", "dedup",
          "north-star", "evaluation"),
))


# ---------------------------------------------------------------------------
# SemDeDup survivor selection: one representative per semantic cluster
# ---------------------------------------------------------------------------
# semdedup emits the pair REPORT; the published recipe (Abbas et al.
# 2023, "SemDeDup", §3) then keeps ONE example per group of semantic
# duplicates — the member with the LOWEST cosine to its cluster
# centroid (the most atypical representative, chosen to preserve
# diversity).  Duplicate groups are the connected components of the
# pair graph — the same pointer-doubled machinery every lexical
# family composes (dedup.connected_components) — so embedding-space
# dedup gets the same report → survivors → apply triple as the
# minhash/simhash/ngram families.  Topology at 100 TB: components run
# on the centroid-blocked pair surface (bounded, never all-pairs);
# the survivor rank is one window over the tiny label table joined to
# the assignment's ccos; apply anti-joins loser ids against documents
# (vec_id == doc_id, the fixture's modal_agreement convention) — the
# corpus never re-shuffles and embedding arrays never move past the
# pair scorer.

def _semdedup_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, component, ccos, rn): every member of a semantic
    duplicate group ranked by the keep-farthest-from-centroid rule
    (ccos ASC, ties → min vec_id); rn = 1 is the survivor.  One
    assignment feeds both the pair surface and the rank (checkpointed
    — two consumers)."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        connected_components,
    )

    emb = load_embeddings(spark, sf_dir)
    assign = semdedup_assign(emb).localCheckpoint()
    pairs = semdedup_pairs_from_assign(emb, assign)
    comp = connected_components(
        pairs.select(F.col("vec_a").alias("doc_a"),
                     F.col("vec_b").alias("doc_b")))
    members = (comp.select(F.col("doc").alias("vec_id"),
                           F.col("comp").alias("component"))
               .join(assign.select("vec_id", "ccos"), "vec_id"))
    w = Window.partitionBy("component").orderBy(
        F.col("ccos").asc(), "vec_id")
    return members.withColumn("rn", F.row_number().over(w))


def q_semdedup_survivors(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """(component, component_size, survivor_vec_id, survivor_ccos):
    each semantic duplicate group with its kept representative."""
    tune_session(spark)
    return (_semdedup_ranked(spark, sf_dir)
            .groupBy("component")
            .agg(F.count("*").alias("component_size"),
                 F.min(F.when(F.col("rn") == 1, F.col("vec_id")))
                 .alias("survivor_vec_id"),
                 F.min(F.when(F.col("rn") == 1, F.col("ccos")))
                 .alias("survivor_ccos")))


def q_semdedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving DOCUMENTS under semantic dedup: drop every
    non-survivor member of a duplicate group, pass singletons (and
    docs without a vector) through — dedup_best_survivors' shape, one
    modality over."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    losers = (_semdedup_ranked(spark, sf_dir)
              .filter(F.col("rn") > 1)
              .select(F.col("vec_id").alias("doc_id")))
    return (docs.join(losers, "doc_id", "left_anti")
            .select("doc_id", "source", "lang", "n_chars"))


# The component/rank chain shared by both survivor oracles, appended
# to SEMDEDUP_SQL_CTES (whose assign CTE carries ccos for exactly
# this consumer).
_SEMDEDUP_RANKED_SQL = """
        sym AS (
            SELECT vec_a AS a, vec_b AS b FROM sempairs
            UNION
            SELECT vec_b, vec_a FROM sempairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS vec_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        ),
        ranked AS (
            SELECT c.vec_id, c.component, aw.ccos,
                   ROW_NUMBER() OVER (PARTITION BY c.component
                       ORDER BY aw.ccos ASC, c.vec_id) AS rn
            FROM comp c JOIN assign aw ON c.vec_id = aw.vec_id
        )
"""

register(QuerySpec(
    "semdedup_survivors", q_semdedup_survivors,
    oracle=f"""
        WITH RECURSIVE {SEMDEDUP_SQL_CTES.strip()},
        {_SEMDEDUP_RANKED_SQL.strip()}
        SELECT component,
               COUNT(*) AS component_size,
               MIN(CASE WHEN rn = 1 THEN vec_id END)
                   AS survivor_vec_id,
               MIN(CASE WHEN rn = 1 THEN ccos END)
                   AS survivor_ccos
        FROM ranked
        GROUP BY component
    """,
    doc="SemDeDup survivor selection: semantic duplicate groups = "
        "connected components of the centroid-blocked pair graph; "
        "keep the member farthest from its centroid (the published "
        "diversity rule), report each group with its survivor",
    tags=("similarity", "llm-pipeline", "dedup", "north-star",
          "report", "iterative"),
))

def q_semdedup_downweight(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Soft SemDeDup: per-doc weight 1/group_size instead of dropping
    (the D4/SoftDeDup policy applied in embedding space — semantic
    duplicates carry distribution signal; see dedup_downweight's
    lexical twin).  Same component front as the survivor queries; the
    extra work is one count per group and a left join back — the
    corpus never re-shuffles its text.  ``member`` is deliberately
    NOT a forced broadcast (the bpe.py vocab-join convention): in the
    SemDeDup regime duplicate-group members are a corpus-sized
    fraction (the paper prunes up to ~50%), so the hint would OOM at
    the 100 TB topology this module targets — AQE promotes the join
    when member is actually small."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    comp = (_semdedup_ranked(spark, sf_dir)
            .select(F.col("vec_id").alias("doc_id"), "component"))
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("group_size"))
    member = comp.join(sizes, "component") \
        .select("doc_id", "group_size")
    return (docs.select("doc_id", "source")
            .join(member, "doc_id", "left")
            .select("doc_id", "source",
                    F.coalesce("group_size", F.lit(1))
                    .cast("bigint").alias("group_size"),
                    (F.lit(1.0)
                     / F.coalesce("group_size", F.lit(1))
                     .cast("double")).alias("weight"))
            .orderBy("doc_id"))


register(QuerySpec(
    "semdedup_downweight", q_semdedup_downweight,
    oracle=f"""
        WITH RECURSIVE {SEMDEDUP_SQL_CTES.strip()},
        {_SEMDEDUP_RANKED_SQL.strip()},
        sizes AS (
            SELECT component, COUNT(*) AS group_size
            FROM ranked GROUP BY component
        ),
        member AS (
            SELECT r.vec_id AS doc_id, s.group_size
            FROM ranked r JOIN sizes s USING (component)
        )
        SELECT d.doc_id, d.source,
               CAST(COALESCE(m.group_size, 1) AS BIGINT)
                   AS group_size,
               1.0 / CAST(COALESCE(m.group_size, 1) AS DOUBLE)
                   AS weight
        FROM documents d LEFT JOIN member m ON d.doc_id = m.doc_id
        ORDER BY d.doc_id
    """,
    doc="soft SemDeDup: per-doc training weight 1/group_size over "
        "the semantic duplicate groups (downweight instead of drop — "
        "the D4 policy in embedding space)",
    tags=("similarity", "llm-pipeline", "dedup", "north-star",
          "apply", "weighting", "iterative"),
))

register(QuerySpec(
    "semdedup_apply", q_semdedup_apply,
    oracle=f"""
        WITH RECURSIVE {SEMDEDUP_SQL_CTES.strip()},
        {_SEMDEDUP_RANKED_SQL.strip()}
        SELECT d.doc_id, d.source, d.lang, d.n_chars
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM ranked r
                          WHERE r.vec_id = d.doc_id AND r.rn > 1)
    """,
    doc="embedding-space dedup APPLY: drop non-survivor members of "
        "each semantic duplicate group (keep-farthest-from-centroid "
        "rule), pass singletons and vectorless docs through",
    tags=("similarity", "llm-pipeline", "dedup", "north-star",
          "apply", "iterative"),
))


# ---------------------------------------------------------------------------
# IVF-style ANN: inverted file over centroid clusters
# ---------------------------------------------------------------------------
# The other classical ANN layout besides LSH: partition the corpus by
# nearest centroid (the inverted "file"), then search each query only
# in its nprobe closest clusters.  Shares the deterministic centroid
# set with semdedup, so the cluster assignment is the same broadcast
# cross-score (corpus never shuffles for it).  Candidate generation is
# an equi-join on cluster id between the corpus assignment and the
# query probe lists — id-and-cluster rows only; embedding arrays join
# back once per candidate for scoring.  At 100 TB: k centroids ~
# N/target_cluster_size keeps every cluster bounded, and the probe
# join prunes (k - nprobe)/k of the corpus per query.

IVF_NPROBE = 2
IVF_TOPK = 5


def _nearest_clusters(df: DataFrame, cents: DataFrame,
                      id_alias: str, n: int) -> DataFrame:
    """Each vector's ``n`` closest centroids (broadcast cross-score —
    the scored side never shuffles for the scoring itself; only the
    tiny per-id top-n window does).  Shared by the IVF paths so the
    plain and SQ8-composed variants prune over the SAME inverted
    file."""
    scored = (df.select(F.col("vec_id").alias(id_alias), "embedding")
              .crossJoin(F.broadcast(cents))
              .select(id_alias, "centroid_id",
                      cosine_vec("embedding", "cent").alias("ccos")))
    w = (Window.partitionBy(id_alias)
         .orderBy(F.col("ccos").desc(), "centroid_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select(id_alias, F.col("centroid_id").alias("cluster")))


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < SEMDEDUP_K)
    cents = (emb.filter(F.col("vec_id") < SEMDEDUP_K)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("cent")))

    corpus_assign = _nearest_clusters(emb, cents, "cand_id", 1)
    probes = _nearest_clusters(queries, cents, "query_id", IVF_NPROBE)
    pair_ids = (corpus_assign.join(F.broadcast(probes), "cluster")
                .filter(F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id").distinct())
    qa = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qe"))
    ca = emb.select(F.col("vec_id").alias("cand_id"),
                    F.col("embedding").alias("ce"))
    scored = (pair_ids
              .join(F.broadcast(qa), "query_id")
              .join(ca, "cand_id")
              .select("query_id", "cand_id",
                      cosine_vec("qe", "ce").alias("cosine")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cosine").desc(), F.col("cand_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= IVF_TOPK)
            .select("query_id", "cand_id", "cosine", "rank"))


register(QuerySpec(
    "cosine_topk_ivf", q_cosine_topk_ivf,
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS cent
            FROM embeddings WHERE vec_id < {SEMDEDUP_K}
        ), corpus_scored AS (
            SELECT e.vec_id AS cand_id, c.centroid_id,
                   {_COS_SQL.format(a="e.embedding", b="c.cent")} AS ccos
            FROM embeddings e CROSS JOIN cents c
        ), corpus_assign AS (
            SELECT cand_id, centroid_id AS cluster FROM (
                SELECT cand_id, centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY cand_id
                           ORDER BY ccos DESC, centroid_id) AS rn
                FROM corpus_scored) WHERE rn = 1
        ), query_scored AS (
            SELECT q.vec_id AS query_id, c.centroid_id,
                   {_COS_SQL.format(a="q.embedding", b="c.cent")} AS ccos
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < {SEMDEDUP_K}
        ), probes AS (
            SELECT query_id, centroid_id AS cluster FROM (
                SELECT query_id, centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY ccos DESC, centroid_id) AS rn
                FROM query_scored) WHERE rn <= {IVF_NPROBE}
        ), pair_ids AS (
            SELECT DISTINCT p.query_id, a.cand_id
            FROM corpus_assign a JOIN probes p ON a.cluster = p.cluster
            WHERE a.cand_id != p.query_id
        ), scored AS (
            SELECT i.query_id, i.cand_id,
                   {_COS_SQL.format(a="qe.embedding", b="ce.embedding")}
                       AS cosine
            FROM pair_ids i
            JOIN embeddings qe ON i.query_id = qe.vec_id
            JOIN embeddings ce ON i.cand_id = ce.vec_id
        )
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT query_id, cand_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= {IVF_TOPK}
    """,
    doc=f"IVF ANN cosine top-k: nearest-centroid inverted file, "
        f"nprobe={IVF_NPROBE} cluster-pruned search",
    tags=("similarity", "north-star", "llm-pipeline"),
))


# ---------------------------------------------------------------------------
# ANN recall report: measured quality of the approximate paths
# ---------------------------------------------------------------------------
# Recall@k of each ANN variant against exact brute force, as a query
# rather than only a pytest: a user tuning tables/planes/nprobe gets a
# one-row-per-method scorecard from the engine itself.  Every input is
# deterministic (fixed hyperplanes, deterministic centroids), so the
# report is oracle-paired by composing the already-registered oracle
# SQL of the exact and ANN queries as CTEs.  Cost is the three
# pipelines themselves; the recall join moves only (query_id, cand_id)
# pairs — k rows per query — never embeddings.


def _recall_row(method: str, exact: DataFrame, ann: DataFrame) -> DataFrame:
    hits = exact.select("query_id", "cand_id").join(
        ann.select("query_id", "cand_id"),
        ["query_id", "cand_id"], "left_semi")
    return (exact.agg(F.count("*").alias("truth_pairs"))
            .crossJoin(hits.agg(F.count("*").alias("hits")))
            .select(F.lit(method).alias("method"), "truth_pairs", "hits",
                    (F.col("hits") / F.col("truth_pairs")).alias("recall")))


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    # The exact top-k feeds four consumers (two counts + two semi
    # joins); localCheckpoint materializes its k*|Q| rows once so the
    # brute-force scan doesn't recompute per consumer.
    exact = q_cosine_topk(spark, sf_dir).localCheckpoint()
    lsh = q_cosine_topk_lsh(spark, sf_dir)
    ivf = q_cosine_topk_ivf(spark, sf_dir)
    return (_recall_row("lsh", exact, lsh)
            .unionByName(_recall_row("ivf", exact, ivf)))


def _ann_recall_oracle() -> str:
    from cga_logs_to_kinesis_spark.registry import _REGISTRY
    exact = _REGISTRY["cosine_topk"].oracle
    lsh = _REGISTRY["cosine_topk_lsh"].oracle
    ivf = _REGISTRY["cosine_topk_ivf"].oracle
    method = """
        SELECT '{m}' AS method,
               (SELECT COUNT(*) FROM exact) AS truth_pairs,
               (SELECT COUNT(*) FROM exact e
                WHERE EXISTS (SELECT 1 FROM {m} a
                              WHERE a.query_id = e.query_id
                                AND a.cand_id = e.cand_id)) AS hits,
               (SELECT COUNT(*) FROM exact e
                WHERE EXISTS (SELECT 1 FROM {m} a
                              WHERE a.query_id = e.query_id
                                AND a.cand_id = e.cand_id))
               / (SELECT COUNT(*) FROM exact) AS recall
    """
    return (f"WITH exact AS ({exact}), lsh AS ({lsh}), ivf AS ({ivf})\n"
            + method.format(m="lsh") + " UNION ALL " + method.format(m="ivf"))


register(QuerySpec(
    "ann_recall_report", q_ann_recall_report,
    oracle=_ann_recall_oracle(),
    doc="recall@k scorecard of the LSH and IVF ANN paths vs exact "
        "brute-force top-k (deterministic, oracle-paired)",
    tags=("similarity", "llm-pipeline", "report"),
))


# ---------------------------------------------------------------------------
# Cross-modal agreement: do text near-dups look alike in embedding
# space?
# ---------------------------------------------------------------------------
# A curation diagnostic neither modality gives alone: pairs the
# verified MinHash near-dups (text view) with their embedding cosine
# (vector view).  Disagreement in either direction is actionable —
# text-similar / embedding-far flags a drifted or broken embedding
# model (semdedup would MISS these duplicates); the report keys
# dashboards that decide whether embedding-based dedup can be
# trusted on a new corpus snapshot.  Topology: the pair table is tiny
# (verified near-dups), so the embedding attach is two broadcast-able
# joins on ids; embeddings never self-join.

MODAL_TEXT_SIM = 0.5       # the near-dup edge threshold (dedup.py)
MODAL_COS_AGREE = 0.8      # embedding-agreement threshold


def q_modal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.operators.dedup import (
        minhash_candidates,
    )
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_embeddings(spark, sf_dir)
    pairs = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= MODAL_TEXT_SIM)
             .select("doc_a", "doc_b", "jaccard"))
    ea = emb.select(F.col("vec_id").alias("doc_a"),
                    F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("doc_b"),
                    F.col("embedding").alias("eb"))
    cosine = (exact_dot("ea", "eb")
              / (exact_norm("ea") * exact_norm("eb")))
    return (pairs.join(ea, "doc_a").join(eb, "doc_b")
            .select("doc_a", "doc_b", "jaccard",
                    cosine.alias("cosine"),
                    (cosine >= MODAL_COS_AGREE)
                    .alias("embedding_agrees"))
            .orderBy("doc_a", "doc_b"))


def _modal_agreement_oracle() -> str:
    # importing for the registration side effect: this module can be
    # imported standalone (e.g. via streaming/corpus.py's ANN sink)
    # before registry.all_queries() has pulled in dedup
    from cga_logs_to_kinesis_spark.operators import dedup  # noqa: F401
    from cga_logs_to_kinesis_spark.registry import _REGISTRY

    lsh = _REGISTRY["dedup_minhash_lsh"].oracle
    cos = """
        (0.0 + list_reduce(
             list_transform(list_zip(ea, eb),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
             (acc, x) -> acc + x))
        / (SQRT(0.0 + list_reduce(
               list_transform(ea, x -> CAST(x AS DOUBLE)
                                       * CAST(x AS DOUBLE)),
               (acc, x) -> acc + x))
           * SQRT(0.0 + list_reduce(
               list_transform(eb, x -> CAST(x AS DOUBLE)
                                       * CAST(x AS DOUBLE)),
               (acc, x) -> acc + x)))"""
    return f"""
        WITH lsh AS ({lsh}),
        pairs AS (
            SELECT doc_a, doc_b, jaccard FROM lsh
            WHERE jaccard >= {MODAL_TEXT_SIM}
        ),
        attached AS (
            SELECT p.doc_a, p.doc_b, p.jaccard,
                   a.embedding AS ea, b.embedding AS eb
            FROM pairs p
            JOIN embeddings a ON p.doc_a = a.vec_id
            JOIN embeddings b ON p.doc_b = b.vec_id
        )
        SELECT doc_a, doc_b, jaccard,
               {cos} AS cosine,
               {cos} >= {MODAL_COS_AGREE} AS embedding_agrees
        FROM attached
        ORDER BY doc_a, doc_b
    """


register(QuerySpec(
    "modal_agreement", q_modal_agreement,
    oracle=_modal_agreement_oracle(),
    doc="cross-modal consistency: verified text near-dup pairs scored "
        "by embedding cosine — text-similar/embedding-far pairs flag "
        "a drifted embedding model that semantic dedup would trust",
    tags=("similarity", "dedup", "north-star", "evaluation"),
))


# Every query above whose Spark side reads the gated load_embeddings
# gets the oracle twin of that gate (sources/tables.py::
# VALID_EMBEDDING_SQL) — on clean fixtures a no-op, on dirty data the
# pair stays hash-identical instead of silently diverging.
# embedding_validity is deliberately absent: it audits the RAW table.
from cga_logs_to_kinesis_spark.sources.tables import (  # noqa: E402
    gate_registered_oracles as _gate_oracles,
)

_gate_oracles(
    "cosine_topk", "cosine_topk_fast", "cosine_topk_lsh",
    "cosine_topk_ivf", "dedup_embedding_cosine", "embedding_quantize",
    "semdedup", "ann_recall_report", "modal_agreement",
)


# ---------------------------------------------------------------------------
# Matryoshka truncation fidelity: recall of truncated-dim retrieval
# ---------------------------------------------------------------------------
# MRL-style embedding models are trained so a PREFIX of the vector is
# itself a usable embedding; serving then stores/searches 16 or 32 of
# the 64 dims and pays 2-4x less memory and bandwidth.  Whether that
# trade is safe for a given corpus is an empirical question — this
# report answers it the same way ann_recall_report scores the ANN
# paths: brute-force top-k under each truncated width vs the full-dim
# exact top-k, as recall@k.  Vectors whose truncated prefix is
# all-zero are excluded on both sides (cosine undefined; IEEE NaN
# ranks differently per engine).
# 100 TB topology: identical to cosine_topk per width (broadcast query
# set, one corpus scan each — a real deployment scores ONE width).

TRUNC_DIMS = (16, 32)


def q_ann_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    exact = q_cosine_topk(spark, sf_dir).localCheckpoint()
    out = None
    for k_dim in TRUNC_DIMS:
        trunc = (emb.select(
            "vec_id",
            F.expr(f"slice(embedding, 1, {k_dim})").alias("embedding"))
            .filter(F.expr("size(filter(embedding, x -> x != 0)) > 0")))
        ann = cosine_topk(trunc, trunc.filter(F.col("vec_id") < 8), k=5)
        row = _recall_row(f"trunc{k_dim}", exact, ann)
        out = row if out is None else out.unionByName(row)
    return out.orderBy("method")


def _trunc_topk_sql(k_dim: int) -> str:
    """Truncated-dim twin of COSINE_TOPK_ORACLE (first k_dim dims,
    zero-prefix vectors excluded)."""
    return f"""
        WITH t AS (
            SELECT vec_id, embedding[1:{k_dim}] AS e FROM embeddings
            WHERE len(list_filter(embedding[1:{k_dim}], x -> x <> 0)) > 0
        ),
        q AS (SELECT vec_id AS query_id, e AS qe FROM t
              WHERE vec_id < 8),
        c AS (SELECT vec_id AS cand_id, e AS ce FROM t),
        dots AS (
            SELECT query_id, cand_id,
                   0.0 + list_reduce(
                       list_transform(list_zip(qe, ce),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                       (acc, x) -> acc + x) AS dot
            FROM q CROSS JOIN c
            WHERE cand_id != query_id
        ),
        norms AS (
            SELECT vec_id,
                   SQRT(list_reduce(
                       list_transform(e,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (acc, x) -> acc + x)) AS nrm
            FROM t
        )
        SELECT query_id, cand_id FROM (
            SELECT d.query_id, d.cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.query_id
                       ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.cand_id
                   ) AS rank
            FROM dots d
            JOIN norms nq ON d.query_id = nq.vec_id
            JOIN norms nc ON d.cand_id = nc.vec_id
        ) WHERE rank <= 5
    """


def _ann_truncation_oracle() -> str:
    from cga_logs_to_kinesis_spark.registry import _REGISTRY
    exact = _REGISTRY["cosine_topk"].oracle   # already gate-rewritten
    method = """
        SELECT 'trunc{k}' AS method,
               (SELECT COUNT(*) FROM exact) AS truth_pairs,
               (SELECT COUNT(*) FROM exact e
                WHERE EXISTS (SELECT 1 FROM t{k} a
                              WHERE a.query_id = e.query_id
                                AND a.cand_id = e.cand_id)) AS hits,
               (SELECT COUNT(*) FROM exact e
                WHERE EXISTS (SELECT 1 FROM t{k} a
                              WHERE a.query_id = e.query_id
                                AND a.cand_id = e.cand_id))
               / (SELECT COUNT(*) FROM exact) AS recall
    """
    withs = ", ".join(
        [f"exact AS ({exact})"]
        + [f"t{k} AS ({_trunc_topk_sql(k)})" for k in TRUNC_DIMS])
    body = " UNION ALL ".join(
        method.format(k=k) for k in TRUNC_DIMS)
    return (f"WITH {withs} SELECT * FROM ({body}) ORDER BY method")


register(QuerySpec(
    "ann_truncation_recall", q_ann_truncation_recall,
    oracle=_ann_truncation_oracle(),
    doc="Matryoshka truncation fidelity: recall@k of 16- and 32-dim "
        "prefix retrieval vs full-dim exact top-k — the measurement "
        "behind a 2-4x serving memory cut",
    tags=("similarity", "llm-pipeline", "report", "evaluation"),
))

# the truncated reads must mirror the gated Spark load, like every
# other embedding oracle (cosine_topk's CTE arrives pre-gated via
# _REGISTRY, so only the t-CTEs need the rewrite)
_gate_oracles("ann_truncation_recall")


# ---------------------------------------------------------------------------
# Incremental ANN: new vectors vs the PERSISTED bucket index
# ---------------------------------------------------------------------------
# The serving shape of embedding search at 100 TB mirrors
# dedup_minhash_incremental: the corpus's LSH buckets are computed
# ONCE and persisted; each arriving batch is bucketed, equi-joins the
# index for candidates, and scores exact cosine only on those — never
# re-bucketing the corpus and never a full scan per batch.  The
# simulated split is the same %4 convention as the incremental dedup
# family (75% "already indexed", 25% "arriving").  With 4 tables x
# 2^4 buckets the candidate fan-out is corpus/16 per table; at real
# scale raise N_PLANES so bucket size stays bounded (same knob
# discussion as cosine_topk_lsh).  batch != seen filtering is replay
# defense, exactly like minhash_incremental_from_index.

ANN_INCR_K = 3

# Structural bound on the index join: a degenerate embedding region
# (near-duplicate mass, many vectors sharing hyperplane signs) makes
# one bucket O(corpus) and the candidate join superlinear.  The cap is
# the same count-over-window filter the incremental minhash index
# applies (dedup.py::minhash_incremental_from_index) — a hot seen
# bucket is dropped wholesale, bounding per-batch-vector fan-out at
# N_TABLES x ANN_MAX_BUCKET regardless of corpus shape.  Recall on a
# capped bucket degrades gracefully (other tables still vote); the
# durable fix at scale is raising N_PLANES, but the cap is what makes
# a skewed drop survivable *tonight*.
ANN_MAX_BUCKET = 1000


def ann_incremental_from_index(seen_b: DataFrame, seen_vecs: DataFrame,
                               batch: DataFrame) -> DataFrame:
    """``seen_b``: persisted (vec_id, bucket) index; ``seen_vecs``:
    persisted (vec_id, embedding); ``batch``: arriving vectors.
    Returns per batch vector its top-ANN_INCR_K indexed neighbors."""
    from cga_logs_to_kinesis_spark.functions.buckets import (
        bucket_bounded,
    )

    # the cap itself computed skew-safely: partial-agg bucket counts +
    # equi-join (bucket_bounded), never count().over(Window(bucket)) —
    # the degenerate bucket the cap exists for must not funnel its
    # rows through one Window reducer just to be dropped
    seen_idx = bucket_bounded(
        seen_b.select(F.col("vec_id").alias("seen_vec"), "bucket"),
        ["bucket"], hi=ANN_MAX_BUCKET)
    b_ids = batch.select(
        F.col("vec_id").alias("batch_vec"),
        F.explode(lsh_table_buckets_vec("embedding")).alias("bucket"))
    cand = (b_ids.join(seen_idx, "bucket")
            .filter(F.col("batch_vec") != F.col("seen_vec"))
            .select("batch_vec", "seen_vec").distinct())
    q_arr = batch.select(F.col("vec_id").alias("batch_vec"),
                         F.col("embedding").alias("qe"))
    c_arr = seen_vecs.select(F.col("vec_id").alias("seen_vec"),
                             F.col("embedding").alias("ce"))
    w = Window.partitionBy("batch_vec")
    best = Window.partitionBy("batch_vec").orderBy(
        F.col("cosine").desc(), F.col("seen_vec"))
    return (cand
            .join(q_arr, "batch_vec")
            .join(c_arr, "seen_vec")
            .select("batch_vec", "seen_vec",
                    cosine_vec("qe", "ce").alias("cosine"))
            .withColumn("n_candidates", F.count("*").over(w))
            .withColumn("rank", F.row_number().over(best))
            .filter(F.col("rank") <= ANN_INCR_K)
            .select("batch_vec", "rank",
                    F.col("seen_vec").alias("nearest_seen"),
                    "cosine", "n_candidates"))


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    seen = emb.filter(F.col("vec_id") % 4 < 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    seen_b = seen.select(
        "vec_id",
        F.explode(lsh_table_buckets_vec("embedding")).alias("bucket"))
    return ann_incremental_from_index(
        seen_b, seen.select("vec_id", "embedding"), batch)


register(QuerySpec(
    "ann_incremental", q_ann_incremental,
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   unnest({_table_buckets_sql("embedding")}) AS bucket
            FROM embeddings
        ),
        q AS (SELECT vec_id AS batch_vec, embedding AS qe, bucket
              FROM b WHERE vec_id % 4 = 3),
        s AS (SELECT seen_vec, ce, bucket FROM (
                  SELECT vec_id AS seen_vec, embedding AS ce, bucket,
                         COUNT(*) OVER (PARTITION BY bucket) AS bn
                  FROM b WHERE vec_id % 4 < 3
              ) WHERE bn <= {ANN_MAX_BUCKET}),
        pairs AS (
            SELECT DISTINCT batch_vec, seen_vec, qe, ce
            FROM q JOIN s ON q.bucket = s.bucket
            WHERE seen_vec != batch_vec
        ),
        scored AS (
            SELECT batch_vec, seen_vec,
                   list_reduce(list_transform(list_zip(qe, ce),
                       t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)),
                       (a, x) -> a + x)
                   / (SQRT(list_reduce(list_transform(qe,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, x) -> a + x))
                      * SQRT(list_reduce(list_transform(ce,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, x) -> a + x))) AS cosine
            FROM pairs
        )
        SELECT batch_vec, rank, seen_vec AS nearest_seen, cosine,
               n_candidates
        FROM (
            SELECT batch_vec, seen_vec, cosine,
                   COUNT(*) OVER (PARTITION BY batch_vec)
                       AS n_candidates,
                   ROW_NUMBER() OVER (PARTITION BY batch_vec
                       ORDER BY cosine DESC, seen_vec) AS rank
            FROM scored
        ) WHERE rank <= {ANN_INCR_K}
    """,
    doc=f"incremental ANN: arriving vectors bucketed and scored "
        f"against the PERSISTED LSH index (top-{ANN_INCR_K} indexed "
        "neighbors each, exact cosine on candidates only) — the "
        "serving twin of dedup_minhash_incremental",
    tags=("similarity", "llm-pipeline", "north-star", "incremental",
          "lsh"),
))

_gate_oracles("ann_incremental")


# ---------------------------------------------------------------------------
# Incremental SemDeDup: new vectors vs the PERSISTED assignment
# ---------------------------------------------------------------------------
# Every lexical dedup family has an incremental form that joins a
# crawl drop against persisted state (dedup_minhash_incremental,
# setjoin_incremental, line_pipeline_from_store); this is the same
# shape in embedding space.  The key property is that nearest-centroid
# assignment under FIXED centroids is row-local (a vector's cluster
# never depends on any other vector), so the persisted state is just
# appended per-batch (vec_id, cluster, ccos) partials plus the vector
# store — no refit, no re-assignment, no corpus re-scan.  Arriving
# vectors are assigned once against the centroid artifact, candidate
# pairs form ONLY across batch x store WITHIN a cluster (the SemDeDup
# blocking, never all-pairs), and the exact Arrow cosine scores those
# candidates alone.  Per-batch work is O(|batch| + |store|/K x
# |batch|-per-cluster) — linear in the store.

def semdedup_incremental_from_assign(seen_assign: DataFrame,
                                     seen_vecs: DataFrame,
                                     batch_assign: DataFrame,
                                     batch_vecs: DataFrame) -> DataFrame:
    """``seen_assign``: persisted (vec_id, cluster, ccos) partials;
    ``seen_vecs``: persisted (vec_id, embedding); ``batch_assign`` /
    ``batch_vecs``: the arriving batch, assigned under the SAME fixed
    centroids.  Returns every batch x seen semantic near-dup pair
    (cluster, batch_vec, seen_vec, cosine >= SEMDEDUP_THRESHOLD).
    The batch_vec != seen_vec guard covers a store that already
    contains the batch's own vectors (an at-least-once replay; the
    setjoin_incremental_from_index convention)."""
    b = batch_assign.select(F.col("vec_id").alias("batch_vec"),
                            "cluster")
    s = seen_assign.select(F.col("vec_id").alias("seen_vec"),
                           "cluster")
    pair_ids = (b.join(s, "cluster")
                .filter(F.col("batch_vec") != F.col("seen_vec"))
                .select("cluster", "batch_vec", "seen_vec"))
    ea = batch_vecs.select(F.col("vec_id").alias("batch_vec"),
                           F.col("embedding").alias("ea"))
    eb = seen_vecs.select(F.col("vec_id").alias("seen_vec"),
                          F.col("embedding").alias("eb"))
    return (pair_ids
            .join(ea, "batch_vec").join(eb, "seen_vec")
            .select("cluster", "batch_vec", "seen_vec",
                    cosine_vec("ea", "eb").alias("cosine"))
            .filter(F.col("cosine") >= SEMDEDUP_THRESHOLD))


def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    # the centroid artifact is fitted ONCE over the corpus convention
    # (first SEMDEDUP_K ids) and fixed thereafter — both sides assign
    # under it, exactly as the sink reads the seeded cents_dir
    cents = semdedup_centroids(emb)
    seen = emb.filter(F.col("vec_id") % 4 < 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    return semdedup_incremental_from_assign(
        semdedup_assign_with_cents(seen, cents),
        seen.select("vec_id", "embedding"),
        semdedup_assign_with_cents(batch, cents),
        batch.select("vec_id", "embedding"))


register(QuerySpec(
    "semdedup_incremental", q_semdedup_incremental,
    oracle=f"""
        WITH {_SEMDEDUP_ASSIGN_CTES.strip()},
        pairs AS (
            SELECT b.cluster, b.vec_id AS batch_vec,
                   s.vec_id AS seen_vec
            FROM assign b JOIN assign s ON b.cluster = s.cluster
            WHERE b.vec_id % 4 = 3 AND s.vec_id % 4 < 3
        ),
        final AS (
            SELECT p.cluster, p.batch_vec, p.seen_vec,
                   {_COS_SQL.format(a="ea.embedding", b="eb.embedding")}
                       AS cosine
            FROM pairs p
            JOIN embeddings ea ON p.batch_vec = ea.vec_id
            JOIN embeddings eb ON p.seen_vec = eb.vec_id
        )
        SELECT cluster, batch_vec, seen_vec, cosine
        FROM final WHERE cosine >= {SEMDEDUP_THRESHOLD}
    """,
    doc="incremental SemDeDup: arriving vectors assigned under the "
        "fixed centroid artifact and scored ONLY against same-cluster "
        "members of the persisted assignment — the store-fed form of "
        "semdedup (new-vs-seen pairs, never all-pairs, no refit)",
    tags=("similarity", "llm-pipeline", "dedup", "north-star",
          "incremental"),
))

_gate_oracles("semdedup_incremental")


# ---------------------------------------------------------------------------
# SQ8 coarse scan + exact re-rank (scalar quantization, NOT product
# quantization — and a LINEAR coarse pass, not a pruned one)
# ---------------------------------------------------------------------------
# Honest scope: this is per-vector max-abs int8 SCALAR quantization
# (one scale per vector, no sub-space codebooks — "SQ8" in FAISS
# terms), and its coarse pass scores EVERY candidate against every
# query.  Unlike the LSH/IVF paths it prunes nothing; the 100 TB win
# is only the ~4x byte reduction of streaming int8 codes instead of
# float32 vectors through the scan, which is a legitimate serving
# trade (quantized brute force) but a different one from an index.
# The genuinely pruned composition — IVF cluster pruning with this
# same SQ8 coarse scoring and exact re-rank — is cosine_topk_ivf_sq
# below.  Recall loss is bounded by the quantization fidelity
# embedding_quantize reports (cos_recon ~0.9998 on the fixture), and
# the shortlist factor C/k covers the coarse ordering jitter.
# Deterministic end to end: floor-based rounding and sequential
# folds, so DuckDB reproduces the same shortlist AND the same final
# ranking — hash-compared, not approximately compared.

PQ_SHORTLIST = 20       # coarse candidates per query, re-ranked to k=5


def q_cosine_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    base = emb.select("vec_id", x.alias("x"))
    scale = F.array_max(F.transform(F.col("x"), F.abs)) / F.lit(127.0)
    cand = (base.withColumn("scale", scale)
            .filter(F.col("scale") > 0)
            .withColumn(
                "recon",
                F.transform(
                    F.col("x"),
                    lambda v: F.greatest(
                        F.lit(-127.0),
                        F.least(F.lit(127.0),
                                F.floor(v / F.col("scale") + F.lit(0.5))
                                .cast("double"))) * F.col("scale")))
            .select(F.col("vec_id").alias("cand_id"), "recon"))
    q = (emb.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qe")))
    coarse = (cand.join(F.broadcast(q),
                        F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      (exact_dot("qe", "recon")
                       / (exact_norm("qe") * exact_norm("recon")))
                      .alias("coarse")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("coarse").desc(), F.col("cand_id")))
    shortlist = (coarse.withColumn("crank", F.row_number().over(w))
                 .filter(F.col("crank") <= PQ_SHORTLIST)
                 .select("query_id", "cand_id"))
    # re-rank: the shortlist is C x n_queries rows — broadcast it so
    # the exact-vector fetch is a pruned broadcast join, then score
    # exactly.  (At 100 TB the exact side is a vec_id-keyed lookup;
    # everything downstream of the coarse pass touches C x q rows.)
    exact = (load_embeddings(spark, sf_dir)
             .select(F.col("vec_id").alias("cand_id"),
                     F.col("embedding").alias("ce"))
             .join(F.broadcast(shortlist), "cand_id")
             .join(F.broadcast(q), "query_id"))
    w2 = (Window.partitionBy("query_id")
          .orderBy(F.col("cosine").desc(), F.col("cand_id")))
    return (exact
            .select("query_id", "cand_id",
                    (exact_dot("qe", "ce")
                     / (exact_norm("qe") * exact_norm("ce")))
                    .alias("cosine"))
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= 5)
            .select("query_id", "cand_id", "cosine", "rank"))


register(QuerySpec(
    "cosine_topk_pq", q_cosine_topk_pq,
    oracle=f"""
        WITH base AS (
            SELECT vec_id,
                   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
            FROM embeddings
        ),
        cand AS (
            SELECT vec_id AS cand_id,
                   list_transform(x, v ->
                       greatest(-127.0, least(127.0,
                           floor(v / (list_aggregate(
                               list_transform(x, a -> abs(a)), 'max')
                               / 127.0) + 0.5)))
                       * (list_aggregate(
                           list_transform(x, a -> abs(a)), 'max')
                           / 127.0)) AS recon
            FROM base
            WHERE list_aggregate(list_transform(x, a -> abs(a)), 'max')
                  > 0
        ),
        q AS (
            SELECT vec_id AS query_id,
                   list_transform(embedding, v -> CAST(v AS DOUBLE))
                       AS qe
            FROM embeddings WHERE vec_id < 8
        ),
        coarse AS (
            SELECT query_id, cand_id,
                   (0.0 + list_reduce(
                       list_transform(list_zip(qe, recon),
                           p -> p[1] * p[2]), (acc, v) -> acc + v))
                   / (SQRT(0.0 + list_reduce(
                          list_transform(qe, v -> v * v),
                          (acc, v) -> acc + v))
                      * SQRT(0.0 + list_reduce(
                          list_transform(recon, v -> v * v),
                          (acc, v) -> acc + v))) AS coarse
            FROM cand CROSS JOIN q
            WHERE cand_id != query_id
        ),
        shortlist AS (
            SELECT query_id, cand_id FROM (
                SELECT query_id, cand_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY coarse DESC, cand_id) AS crank
                FROM coarse
            ) WHERE crank <= {PQ_SHORTLIST}
        ),
        exact AS (
            SELECT s.query_id, s.cand_id,
                   (0.0 + list_reduce(
                       list_transform(
                           list_zip(q.qe, list_transform(e.embedding,
                               v -> CAST(v AS DOUBLE))),
                           p -> p[1] * p[2]), (acc, v) -> acc + v))
                   / (SQRT(0.0 + list_reduce(
                          list_transform(q.qe, v -> v * v),
                          (acc, v) -> acc + v))
                      * SQRT(0.0 + list_reduce(
                          list_transform(list_transform(e.embedding,
                              v -> CAST(v AS DOUBLE)), v -> v * v),
                          (acc, v) -> acc + v))) AS cosine
            FROM shortlist s
            JOIN q USING (query_id)
            JOIN embeddings e ON e.vec_id = s.cand_id
        )
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT query_id, cand_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id) AS rank
            FROM exact
        ) WHERE rank <= 5
    """,
    doc=f"SQ8 coarse scan + exact re-rank: per-vector max-abs int8 "
        f"scalar quantization scores ALL candidates (linear pass, 4x "
        f"smaller codes), top-{PQ_SHORTLIST} shortlist re-ranked "
        "exactly — the pruned composition is cosine_topk_ivf_sq",
    tags=("similarity", "approx", "north-star"),
))

# PQ path reads the gated load_embeddings on the Spark side; its
# oracle gets the same gate (see the _gate_oracles block above —
# this registration sits below it, so it gates itself here).
_gate_oracles("cosine_topk_pq")


# ---------------------------------------------------------------------------
# IVF + SQ8: cluster-pruned coarse scoring + exact re-rank
# ---------------------------------------------------------------------------
# The real third scale path: compose the two halves that are each
# honest about only half the problem.  cosine_topk_ivf prunes the
# candidate set to the query's nprobe closest clusters but scores
# float32 vectors; cosine_topk_pq streams 4x-smaller int8 codes but
# scans linearly.  Here the inverted file prunes FIRST (the coarse
# pass touches only candidates assigned to probed clusters — the
# plan test pins that the cluster join precedes any cosine over the
# corpus), the survivors are scored against their SQ8 reconstructions
# (at 100 TB: int8 codes streamed per probed cluster, (k-nprobe)/k of
# the corpus never read), and a per-query shortlist is re-ranked on
# the exact vectors.  Every stage is deterministic (floor rounding,
# sequential folds, id tie-breaks), so the oracle reproduces the
# exact shortlist and ranking — hash-compared like the rest of the
# ANN family, with recall measured separately in pytest.

IVFSQ_SHORTLIST = 20    # coarse survivors per query, re-ranked to k=5

_SQ8_X = "list_transform({e}, v -> CAST(v AS DOUBLE))"
_SQ8_RECON = (
    "list_transform({x}, v -> greatest(-127.0, least(127.0, "
    "floor(v / (list_aggregate(list_transform({x}, a -> abs(a)), "
    "'max') / 127.0) + 0.5))) * (list_aggregate(list_transform({x}, "
    "a -> abs(a)), 'max') / 127.0))")


def sq8_encode(emb: DataFrame, id_alias: str) -> DataFrame:
    """(id, codes array<tinyint>, scale double): per-vector max-abs
    scalar quantization — the PERSISTABLE index form (4x smaller than
    float32).  ``codes[i] * scale`` reproduces the inline SQ8
    reconstruction bit-for-bit: the clamped floor is an exact small
    integer in double space, so the tinyint round-trip is lossless.
    (``load_embeddings`` gates out zero-norm vectors, so scale > 0.)
    """
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    return (emb.select(F.col("vec_id").alias(id_alias), x.alias("x"))
            .withColumn("scale",
                        F.array_max(F.transform(F.col("x"), F.abs))
                        / F.lit(127.0))
            .withColumn(
                "codes",
                F.transform(
                    F.col("x"),
                    lambda v: F.greatest(
                        F.lit(-127.0),
                        F.least(F.lit(127.0),
                                F.floor(v / F.col("scale") + F.lit(0.5))
                                .cast("double"))).cast("tinyint")))
            .select(id_alias, "codes", "scale"))


def sq8_recon_col() -> Column:
    """Reconstruction from (codes, scale) columns — exact doubles."""
    return F.transform(F.col("codes"),
                       lambda c: c.cast("double") * F.col("scale"))


def cosine_topk_from_ivf_index(assign: DataFrame, codes: DataFrame,
                               vecs: DataFrame, queries: DataFrame,
                               cents: DataFrame) -> DataFrame:
    """The IVF+SQ8 search over an EXPLICIT index: centroid assignments
    (``cand_id, cluster``), SQ8 codes (``cand_id, codes, scale``), and
    exact vectors (``cand_id, ce``) for the re-rank.  This is the ONE
    definition shared by the batch query (which builds the index
    inline) and any persisted-index serving path."""
    probes = _nearest_clusters(queries, cents, "query_id", IVF_NPROBE)
    # Prune BEFORE scoring: candidate ids = corpus rows whose cluster
    # is probed by the query.  This equi-join is the inverted-file
    # lookup; everything downstream touches only its output.
    pair_ids = (assign.join(F.broadcast(probes), "cluster")
                .filter(F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id").distinct())
    recon = (codes.withColumn("recon", sq8_recon_col())
             .select("cand_id", "recon"))
    qa = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qe"))
    coarse = (pair_ids.join(recon, "cand_id")
              .join(F.broadcast(qa), "query_id")
              .select("query_id", "cand_id",
                      (exact_dot("qe", "recon")
                       / (exact_norm("qe") * exact_norm("recon")))
                      .alias("coarse")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("coarse").desc(), F.col("cand_id")))
    shortlist = (coarse.withColumn("crank", F.row_number().over(w))
                 .filter(F.col("crank") <= IVFSQ_SHORTLIST)
                 .select("query_id", "cand_id"))
    exact = (vecs
             .join(F.broadcast(shortlist), "cand_id")
             .join(F.broadcast(qa), "query_id"))
    w2 = (Window.partitionBy("query_id")
          .orderBy(F.col("cosine").desc(), F.col("cand_id")))
    return (exact
            .select("query_id", "cand_id",
                    (exact_dot("qe", "ce")
                     / (exact_norm("qe") * exact_norm("ce")))
                    .alias("cosine"))
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= IVF_TOPK)
            .select("query_id", "cand_id", "cosine", "rank"))


def q_cosine_topk_ivf_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < SEMDEDUP_K)
    cents = (emb.filter(F.col("vec_id") < SEMDEDUP_K)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("cent")))
    # SQ8 reconstructions (load_embeddings gates out zero-norm
    # vectors, so scale > 0 always holds).
    return cosine_topk_from_ivf_index(
        assign=_nearest_clusters(emb, cents, "cand_id", 1),
        codes=sq8_encode(emb, "cand_id"),
        vecs=emb.select(F.col("vec_id").alias("cand_id"),
                        F.col("embedding").alias("ce")),
        queries=queries, cents=cents)


register(QuerySpec(
    "cosine_topk_ivf_sq", q_cosine_topk_ivf_sq,
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS cent
            FROM embeddings WHERE vec_id < {SEMDEDUP_K}
        ), corpus_scored AS (
            SELECT e.vec_id AS cand_id, c.centroid_id,
                   {_COS_SQL.format(a="e.embedding", b="c.cent")} AS ccos
            FROM embeddings e CROSS JOIN cents c
        ), corpus_assign AS (
            SELECT cand_id, centroid_id AS cluster FROM (
                SELECT cand_id, centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY cand_id
                           ORDER BY ccos DESC, centroid_id) AS rn
                FROM corpus_scored) WHERE rn = 1
        ), query_scored AS (
            SELECT q.vec_id AS query_id, c.centroid_id,
                   {_COS_SQL.format(a="q.embedding", b="c.cent")} AS ccos
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < {SEMDEDUP_K}
        ), probes AS (
            SELECT query_id, centroid_id AS cluster FROM (
                SELECT query_id, centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY ccos DESC, centroid_id) AS rn
                FROM query_scored) WHERE rn <= {IVF_NPROBE}
        ), pair_ids AS (
            SELECT DISTINCT p.query_id, a.cand_id
            FROM corpus_assign a JOIN probes p ON a.cluster = p.cluster
            WHERE a.cand_id != p.query_id
        ), recon AS (
            SELECT vec_id AS cand_id,
                   {_SQ8_RECON.format(
                       x=_SQ8_X.format(e="embedding"))} AS rv
            FROM embeddings
        ), coarse AS (
            SELECT i.query_id, i.cand_id,
                   {_COS_SQL.format(a="qe.embedding", b="r.rv")}
                       AS coarse
            FROM pair_ids i
            JOIN recon r ON i.cand_id = r.cand_id
            JOIN embeddings qe ON i.query_id = qe.vec_id
        ), shortlist AS (
            SELECT query_id, cand_id FROM (
                SELECT query_id, cand_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY coarse DESC, cand_id) AS crank
                FROM coarse
            ) WHERE crank <= {IVFSQ_SHORTLIST}
        ), rescored AS (
            SELECT s.query_id, s.cand_id,
                   {_COS_SQL.format(a="qe.embedding", b="ce.embedding")}
                       AS cosine
            FROM shortlist s
            JOIN embeddings qe ON s.query_id = qe.vec_id
            JOIN embeddings ce ON s.cand_id = ce.vec_id
        )
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT query_id, cand_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id) AS rank
            FROM rescored
        ) WHERE rank <= {IVF_TOPK}
    """,
    doc=f"IVF+SQ8 ANN: nprobe={IVF_NPROBE} inverted-file pruning, "
        f"int8 coarse scoring of probed candidates only, "
        f"top-{IVFSQ_SHORTLIST} shortlist re-ranked exactly — the "
        "pruned composition of cosine_topk_ivf and cosine_topk_pq",
    tags=("similarity", "approx", "north-star", "llm-pipeline"),
))

_gate_oracles("cosine_topk_ivf_sq")
