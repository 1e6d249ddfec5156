"""Training-data pipeline operators: split, sample, pack, filter,
decontaminate, scrub, centroid.

These are the corpus-preparation steps a pretraining pipeline runs
after dedup (``operators/dedup.py``) and quality scoring
(``operators/text.py``): deterministic dataset splits, stratified
downsampling, sequence packing into fixed token windows, repetition
filtering (Gopher-style), benchmark decontamination, PII scrubbing,
and per-class embedding centroids.

Every operator is expressed in narrow built-in expressions or single
keyed shuffles, and every randomized choice (split, sample) is a
*hash* decision — md5 over a salted key, identical in Spark and
DuckDB — so results are deterministic, oracle-checkable, and stable
under re-partitioning at any scale (no rand(), no seed plumbing; see
[[oracle-exactness-conventions]] style notes in functions/exact.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cga_logs_to_kinesis_spark.functions.exact import davg, davg_sql
from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import tune_session
from cga_logs_to_kinesis_spark.sources import load_embeddings, load_table


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------
# Buckets come from the first md5 byte of a salted doc key, compared
# lexicographically against hex thresholds ('cc' = 204/256 = 79.7 %
# train, 'e6' = +10.2 % val, rest test).  Hex-string comparison is
# identical across engines and immune to partitioning/order — the
# property a 100 TB split must have (a rand()-based split is neither
# reproducible nor stable under retries).

def _split_bucket() -> F.Column:
    return F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        1, 2)


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure narrow projection — no shuffle at any scale."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    b = _split_bucket()
    return docs.select(
        "doc_id", "lang",
        b.alias("bucket"),
        F.when(b < "cc", "train").when(b < "e6", "val")
        .otherwise("test").alias("split"))


register(QuerySpec(
    "split_assign", q_split_assign,
    oracle="""
        SELECT doc_id, lang,
               substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                   AS bucket,
               CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)),
                                   1, 2) < 'cc' THEN 'train'
                    WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)),
                                   1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    doc="hash-deterministic 80/10/10 train/val/test split",
    tags=("llm-pipeline", "split", "north-star"),
))


# ---------------------------------------------------------------------------
# Split leakage: near-dup contamination ACROSS train/val/test
# ---------------------------------------------------------------------------
# The reason split_assign hashes doc_id is reproducibility — but
# hash-random splitting sends near-duplicate documents to different
# splits, quietly leaking test/val signal into training (the
# benchmark-contamination failure mode, via duplicates instead of
# verbatim benchmark text).  This report classifies every VERIFIED
# near-dup pair (the dedup_minhash_lsh front, jaccard >= the component
# threshold) by its members' split pair: is_leak rows are the pairs a
# curation run must collapse (dedup before splitting) or re-split.
# Topology: the pair table is tiny (verified near-dups), the split is
# a row-local hash — two narrow joins on doc ids, one final agg.


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.operators.dedup import (
        JACCARD_EDGE_THRESHOLD,
        minhash_candidates,
    )
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD)
             .select("doc_a", "doc_b"))
    b = _split_bucket()
    split = F.when(b < "cc", "train").when(b < "e6", "val") \
        .otherwise("test")
    sa = docs.select(F.col("doc_id").alias("doc_a"),
                     split.alias("split_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"),
                     split.alias("split_b"))
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
            .agg(F.count("*").alias("n_pairs"),
                 F.min("doc_a").alias("example_doc_a"))
            .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
            .orderBy("split_lo", "split_hi"))


def _split_of(col: F.Column) -> F.Column:
    """The hash split of an arbitrary id Column (same rule as
    split_assign)."""
    b = F.substring(
        F.md5(F.concat(F.lit("split:"), col.cast("string"))), 1, 2)
    return F.when(b < "cc", "train").when(b < "e6", "val") \
        .otherwise("test")


def _split_sql(expr: str) -> str:
    """DuckDB twin of :func:`_split_of` over a SQL expression."""
    b = f"substring(md5('split:' || CAST(({expr}) AS VARCHAR)), 1, 2)"
    return (f"CASE WHEN {b} < 'cc' THEN 'train' "
            f"WHEN {b} < 'e6' THEN 'val' ELSE 'test' END")


_SPLIT_SQL = _split_sql("doc_id")


def _split_leakage_oracle() -> str:
    from cga_logs_to_kinesis_spark.operators.dedup import (
        JACCARD_EDGE_THRESHOLD,
    )
    from cga_logs_to_kinesis_spark.registry import _REGISTRY

    lsh = _REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
        WITH lsh AS ({lsh}),
        pairs AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        splits AS (
            SELECT doc_id, {_SPLIT_SQL} AS split FROM documents
        )
        SELECT LEAST(a.split, b.split) AS split_lo,
               GREATEST(a.split, b.split) AS split_hi,
               COUNT(*) AS n_pairs,
               MIN(p.doc_a) AS example_doc_a,
               LEAST(a.split, b.split) <> GREATEST(a.split, b.split)
                   AS is_leak
        FROM pairs p
        JOIN splits a ON p.doc_a = a.doc_id
        JOIN splits b ON p.doc_b = b.doc_id
        GROUP BY 1, 2
        ORDER BY split_lo, split_hi
    """


register(QuerySpec(
    "split_leakage", q_split_leakage,
    oracle=_split_leakage_oracle(),
    doc="near-dup contamination across train/val/test splits: every "
        "verified near-dup pair classed by its members' splits — "
        "is_leak pairs bleed eval signal into training (dedup before "
        "splitting, or collapse these)",
    tags=("llm-pipeline", "dedup", "split", "north-star", "evaluation"),
))


def q_split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIX for split_leakage: reassign every near-dup COMPONENT
    whole to its representative's split (the hash split of the min-id
    member — which is the component label itself), so no component
    straddles train/val/test.  Singletons keep their hash split, so
    the output is the complete post-repair assignment table, with the
    original split and a changed flag for auditing.  Topology: the
    component table is tiny (docs appearing in verified near-dup
    pairs), so the corpus-side join is broadcast-shaped; everything
    else is the row-local split hash."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        JACCARD_EDGE_THRESHOLD,
        connected_components,
        minhash_candidates,
    )
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    edges = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD))
    comp = connected_components(edges).select(
        F.col("doc").alias("doc_id"), F.col("comp").alias("component"))
    return (docs.select("doc_id")
            .join(comp, "doc_id", "left")
            .withColumn("component",
                        F.coalesce("component", F.col("doc_id")))
            .select("doc_id", "component",
                    _split_of(F.col("doc_id")).alias("original_split"),
                    _split_of(F.col("component"))
                    .alias("repaired_split"))
            .withColumn("changed",
                        F.col("original_split")
                        != F.col("repaired_split")))


def _split_repair_oracle() -> str:
    from cga_logs_to_kinesis_spark.operators.dedup import (
        JACCARD_EDGE_THRESHOLD,
    )
    from cga_logs_to_kinesis_spark.registry import _REGISTRY

    lsh = _REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
        WITH RECURSIVE lsh AS ({lsh}),
        edges AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        )
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS component,
               {_split_sql("d.doc_id")} AS original_split,
               {_split_sql("COALESCE(c.component, d.doc_id)")}
                   AS repaired_split,
               {_split_sql("d.doc_id")}
                   <> {_split_sql("COALESCE(c.component, d.doc_id)")}
                   AS changed
        FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.doc_id
    """


register(QuerySpec(
    "split_repair", q_split_repair,
    oracle=_split_repair_oracle(),
    doc="split-leakage repair: every near-dup component reassigned "
        "whole to its representative's split (complete post-repair "
        "assignment table with audit flags)",
    tags=("llm-pipeline", "dedup", "split", "north-star", "apply"),
))


def q_split_leakage_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed leak-report → repair → proof, paying LSH ONCE.

    ``split_leakage`` and ``split_repair`` each recompute the
    minhash candidate front when run separately; a real curation run
    does report-then-fix in one session, so this pipeline
    localCheckpoints the verified-pair table once and derives BOTH the
    leak classification and the component repair from it.  The output
    is the audit a curation run actually wants: every (split_lo,
    split_hi) class of near-dup pairs with its pre-repair count and
    its post-repair cross-split count — provably 0 for every class,
    because components move whole (pinned by the oracle too, which
    recomputes the repair independently).

    Scale: one LSH front (the expensive stage) instead of two; the
    pair/component tables are corpus-fraction-sized; everything after
    the checkpoint is narrow joins on doc ids plus the row-local hash
    split."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        JACCARD_EDGE_THRESHOLD,
        connected_components,
        minhash_candidates,
    )
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    # the ONE candidate front both stages share
    edges = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD)
             .select("doc_a", "doc_b")
             .localCheckpoint())
    comp = connected_components(edges)          # (doc, comp)
    repaired = comp.select(
        F.col("doc").alias("doc_id"),
        _split_of(F.col("comp")).alias("repaired"))
    orig_a = F.col("doc_a")
    orig_b = F.col("doc_b")
    classified = (
        edges
        .withColumn("split_a", _split_of(orig_a))
        .withColumn("split_b", _split_of(orig_b))
        .join(repaired.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("repaired", "rep_a"), "doc_a")
        .join(repaired.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("repaired", "rep_b"), "doc_b"))
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (classified
            .groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
            .agg(F.count("*").alias("n_pairs"),
                 F.sum((F.col("rep_a") != F.col("rep_b"))
                       .cast("bigint")).alias("n_cross_after"))
            .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
            .orderBy("split_lo", "split_hi"))


def _split_leakage_repair_oracle() -> str:
    from cga_logs_to_kinesis_spark.operators.dedup import (
        JACCARD_EDGE_THRESHOLD,
    )
    from cga_logs_to_kinesis_spark.registry import _REGISTRY

    lsh = _REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
        WITH RECURSIVE lsh AS ({lsh}),
        edges AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        ),
        rep AS (
            SELECT doc_id,
                   {_split_sql("component")} AS repaired
            FROM comp
        )
        SELECT LEAST({_split_sql("e.doc_a")}, {_split_sql("e.doc_b")})
                   AS split_lo,
               GREATEST({_split_sql("e.doc_a")}, {_split_sql("e.doc_b")})
                   AS split_hi,
               COUNT(*) AS n_pairs,
               CAST(SUM(CASE WHEN ra.repaired <> rb.repaired
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_after,
               LEAST({_split_sql("e.doc_a")}, {_split_sql("e.doc_b")})
                   <> GREATEST({_split_sql("e.doc_a")},
                               {_split_sql("e.doc_b")}) AS is_leak
        FROM edges e
        JOIN rep ra ON e.doc_a = ra.doc_id
        JOIN rep rb ON e.doc_b = rb.doc_id
        GROUP BY 1, 2
        ORDER BY split_lo, split_hi
    """


register(QuerySpec(
    "split_leakage_repair", q_split_leakage_repair,
    oracle=_split_leakage_repair_oracle(),
    doc="composed leak-report -> component repair -> proof in one "
        "plan: each cross-split near-dup pair class with its "
        "post-repair cross count (always 0 — components move whole), "
        "paying the LSH candidate front once",
    tags=("llm-pipeline", "dedup", "split", "north-star", "composed"),
))


# ---------------------------------------------------------------------------
# Stratified (per-language) deterministic sampling
# ---------------------------------------------------------------------------

SAMPLE_THRESHOLDS = {          # first-md5-byte hex cap ≈ sampling rate
    "en": "80",                # 128/256 = 50 %
    "zh": "40",                # 25 %
    "de": "20",                # 12.5 %
}
DEFAULT_THRESHOLD = "10"       # 6.25 %


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rates without a shuffle: the keep decision is a
    per-row hash compare, so sampling 100 TB is a map-only scan (the
    follow-up count is the only wide op)."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    thr = F.lit(DEFAULT_THRESHOLD)
    for lang, cap in SAMPLE_THRESHOLDS.items():
        thr = F.when(F.col("lang") == lang, cap).otherwise(thr)
    h = F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        1, 2)
    return (docs
            .filter(h < thr)
            .groupBy("lang")
            .agg(F.count("*").alias("n_sampled"),
                 F.sum("n_chars").alias("sampled_chars")))


_THR_SQL = ("CASE lang " + " ".join(
    f"WHEN '{lang}' THEN '{cap}'"
    for lang, cap in SAMPLE_THRESHOLDS.items())
    + f" ELSE '{DEFAULT_THRESHOLD}' END")

register(QuerySpec(
    "stratified_sample", q_stratified_sample,
    oracle=f"""
        SELECT lang, COUNT(*) AS n_sampled,
               CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
        FROM documents
        WHERE substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2)
              < {_THR_SQL}
        GROUP BY lang
    """,
    doc="deterministic per-language downsampling via hash compare",
    tags=("llm-pipeline", "sample"),
))


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk into fixed token windows
# ---------------------------------------------------------------------------
# The standard pretraining packer concatenates a stream's token ids and
# cuts every CHUNK_TOKENS — a document can straddle a cut.  That is
# exactly a prefix-sum: chunk ids derive from the running token count
# within each (source) stream.  One window shuffle keyed by source;
# each source packs independently, so 1000 sources = 1000-way
# parallelism at any scale (packing is inherently sequential *within*
# a stream).

CHUNK_TOKENS = 512


def _ntok() -> F.Column:
    # WS_PLUS, not an inline class: the explicit-whitespace convention
    # has ONE definition (operators/text.py) — see the \s-vs-RE2 note
    # there.
    from cga_logs_to_kinesis_spark.operators.text import WS_PLUS
    return F.size(F.split(F.trim(F.col("text")), WS_PLUS))


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum(_ntok()).over(w), F.lit(0))
    return (docs
            .select("doc_id", "source",
                    _ntok().alias("n_tokens"),
                    cum_before.alias("cum_before"))
            .select("doc_id", "source", "n_tokens",
                    (F.col("cum_before") / CHUNK_TOKENS)
                    .cast("long").alias("first_chunk"),
                    ((F.col("cum_before") + F.col("n_tokens") - 1)
                     / CHUNK_TOKENS).cast("long").alias("last_chunk"))
            .withColumn("n_chunks",
                        F.col("last_chunk") - F.col("first_chunk") + 1))


register(QuerySpec(
    "pack_chunks", q_pack_chunks,
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+'))
                       AS n_tokens
            FROM documents
        ), cums AS (
            SELECT doc_id, source, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT)
                       AS cum_before
            FROM toks
        )
        SELECT doc_id, source, n_tokens,
               cum_before // {CHUNK_TOKENS} AS first_chunk,
               (cum_before + n_tokens - 1) // {CHUNK_TOKENS}
                   AS last_chunk,
               (cum_before + n_tokens - 1) // {CHUNK_TOKENS}
                   - cum_before // {CHUNK_TOKENS} + 1 AS n_chunks
        FROM cums
    """,
    doc=f"concat-and-chunk sequence packing into {CHUNK_TOKENS}-token "
        "windows per source stream",
    tags=("llm-pipeline", "window", "north-star"),
))


# ---------------------------------------------------------------------------
# Gopher-style repetition filter
# ---------------------------------------------------------------------------
# Two repetition signals per document (Rae et al. 2021, "Scaling
# Language Models" §A1.1 data pipeline): the share of the most
# frequent token, and the fraction of duplicate 2-grams.  Both are
# higher-order array expressions over the token array — O(distinct ×
# n) inside scan-stage codegen, zero shuffles for the per-doc flags
# (the only wide op is the final summary agg).

TOP_TOKEN_MAX_SHARE = 0.10
DUP_2GRAM_MAX_RATIO = 0.60


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")
    grams = F.expr(
        "transform(sequence(1, size(_toks) - 1), "
        "i -> concat_ws(' ', slice(_toks, i, 2)))")
    top_share = F.expr(
        "array_max(transform(array_distinct(_toks), "
        "t -> size(filter(_toks, x -> x = t)))) "
        "/ cast(size(_toks) as double)")
    # Ratios are divisions of exact integers → bit-identical across
    # engines without rounding; the cross-doc mean uses the decimal
    # trick (functions/exact.py) because double += is order-dependent.
    enriched = (docs
                .withColumn("_toks", toks)
                .filter(F.size("_toks") >= 2)
                .withColumn("_grams", grams)
                .select(
                    "doc_id", "lang",
                    top_share.alias("top_token_share"),
                    (1.0 - F.size(F.array_distinct("_grams"))
                     / F.size("_grams").cast("double"))
                    .alias("dup_2gram_ratio")))
    return (enriched
            .withColumn(
                "keep",
                (F.col("top_token_share") <= TOP_TOKEN_MAX_SHARE)
                & (F.col("dup_2gram_ratio") <= DUP_2GRAM_MAX_RATIO))
            .groupBy("lang", "keep")
            .agg(F.count("*").alias("n_docs"),
                 davg("dup_2gram_ratio", "avg_dup_ratio")))


register(QuerySpec(
    "gopher_repetition", q_gopher_repetition,
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
            FROM documents
        ), feats AS (
            SELECT doc_id, lang,
                   list_max(list_transform(list_distinct(toks),
                       t -> len(list_filter(toks, x -> x = t))))
                       / CAST(len(toks) AS DOUBLE)
                       AS top_token_share,
                   1.0 - len(list_distinct(
                       list_transform(range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i+1])))
                       / CAST(len(toks) - 1 AS DOUBLE)
                       AS dup_2gram_ratio
            FROM t WHERE len(toks) >= 2
        )
        SELECT lang,
               top_token_share <= {TOP_TOKEN_MAX_SHARE}
                   AND dup_2gram_ratio <= {DUP_2GRAM_MAX_RATIO} AS keep,
               COUNT(*) AS n_docs,
               {davg_sql("dup_2gram_ratio", "avg_dup_ratio")}
        FROM feats
        GROUP BY 1, 2
    """,
    doc="Gopher-style repetition signals (top-token share, duplicate "
        "2-gram ratio) and keep/drop summary",
    tags=("llm-pipeline", "quality"),
))


# ---------------------------------------------------------------------------
# Benchmark decontamination by n-gram overlap
# ---------------------------------------------------------------------------
# Standard eval hygiene: drop training docs that share any DECON_K-gram
# with the benchmark set.  Benchmark grams are tiny (the benchmark is
# eval-sized) → broadcast them; the corpus side stays a narrow
# explode + broadcast-semi-join, so the corpus never shuffles.  Here
# every 97th doc stands in for the benchmark, and — because the
# fixture corpus is random word soup with near-zero natural long-gram
# overlap — both engines plant the same canary sentence into benchmark
# docs and every 31st training doc, so the operator provably catches
# planted contamination (same seeding technique as pii_scrub).

DECON_K = 6
_CANARY = " the quick brown fox jumps over the lazy dog tonight"

# The seeded corpus as a shared definition — Spark column + SQL CTE
# body — so the word-level operator here and the BPE-token-space one
# (bpe.py::token_ngram_decontaminate) plant the identical canary.
DECON_CANARY_SQL = f"""
            SELECT * REPLACE (
                text || CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 0
                             THEN '{_CANARY}' ELSE '' END AS text)
            FROM documents
"""


def decon_canary_seeded(docs: DataFrame) -> DataFrame:
    """``documents`` with the decontamination canary appended to every
    benchmark (% 97) and planted-contamination (% 31) doc."""
    seeded = F.concat(
        F.col("text"),
        F.when((F.col("doc_id") % 97 == 0) | (F.col("doc_id") % 31 == 0),
               F.lit(_CANARY)).otherwise(F.lit("")))
    return docs.withColumn("text", seeded)


def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = decon_canary_seeded(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")
    grams = F.expr(
        f"transform(sequence(1, size(_toks) - {DECON_K - 1}), "
        f"i -> md5(concat_ws(' ', slice(_toks, i, {DECON_K}))))")
    g = (docs
         .withColumn("_toks", toks)
         .filter(F.size("_toks") >= DECON_K)
         .select("doc_id", F.explode(F.array_distinct(grams))
                 .alias("gram")))
    bench = (g.filter(F.col("doc_id") % 97 == 0)
             .select("gram").distinct())
    return (g.filter(F.col("doc_id") % 97 != 0)
            .join(F.broadcast(bench), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared_grams")))


register(QuerySpec(
    "ngram_decontaminate", q_ngram_decontaminate,
    oracle=f"""
        WITH seeded AS ({DECON_CANARY_SQL}), g AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, len(toks) - {DECON_K - 2}),
                       i -> md5(list_aggregate(toks[i:i+{DECON_K - 1}],
                                               'string_agg', ' ')))))
                       AS gram
            FROM (SELECT doc_id,
                         regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
                  FROM seeded)
            WHERE len(toks) >= {DECON_K}
        ), bench AS (
            SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
        )
        SELECT g.doc_id, COUNT(*) AS n_shared_grams
        FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 97 <> 0
        GROUP BY g.doc_id
    """,
    doc=f"benchmark decontamination: flag docs sharing a {DECON_K}-gram "
        "with the (broadcast) benchmark set",
    tags=("llm-pipeline", "dedup", "join"),
))


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------
# regexp_replace with patterns valid in both Java regex (Spark) and
# RE2 (DuckDB).  The fixture corpus contains no PII, so both engines
# inject the same synthetic emails/IPs first — the operator under test
# is the scrub, and the oracle proves replacement parity byte-for-byte
# (md5 of the scrubbed text).  All narrow expressions: scrubbing
# 100 TB is a map-only pass.

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@mail.example.com now")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.lit(" from 10.2."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(".7 port")))
        .otherwise(F.lit("")))
    scrubbed = F.regexp_replace(
        F.regexp_replace(seeded, EMAIL_RE, "<EMAIL>"),
        IP_RE, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(seeded, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(seeded, F.lit(IP_RE)).alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"))


_SEEDED_SQL = """text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com now' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.7 port' ELSE '' END"""

register(QuerySpec(
    "pii_scrub", q_pii_scrub,
    oracle=f"""
        WITH seeded AS (SELECT doc_id, {_SEEDED_SQL} AS s FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(s, '{EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(s, '{IP_RE}')) AS n_ips,
               md5(regexp_replace(
                   regexp_replace(s, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{IP_RE}', '<IP>', 'g')) AS scrubbed_md5
        FROM seeded
    """,
    doc="PII scrub (emails, IPv4) with cross-engine replacement parity",
    tags=("llm-pipeline", "scrub"),
))


# ---------------------------------------------------------------------------
# Per-domain document caps
# ---------------------------------------------------------------------------
# Rebalancing: no single domain/source may contribute more than
# DOMAIN_CAP documents; keep the longest ones (n_chars is the quality
# proxy the fixture carries).  One window shuffle keyed by source —
# the same topology as any per-group top-k.  The rank filter compiles
# to WindowGroupLimit (plan-pinned), so every map partition prunes to
# its local top-DOMAIN_CAP per source BEFORE the exchange: the
# largest domain ships at most cap x partitions rows, not its corpus
# share.  (AQE's skew split does NOT apply to window exchanges — the
# map-side prune is what bounds the hot source here.)

DOMAIN_CAP = 15


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source")
         .orderBy(F.desc("n_chars"), "doc_id"))
    kept = (docs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= DOMAIN_CAP))
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("n_chars").alias("kept_chars"),
                 F.max("n_chars").alias("longest"),
                 F.min("n_chars").alias("shortest_kept")))


register(QuerySpec(
    "domain_cap", q_domain_cap,
    oracle=f"""
        SELECT source, COUNT(*) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
               MAX(n_chars) AS longest, MIN(n_chars) AS shortest_kept
        FROM (
            SELECT source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rk
            FROM documents
        ) WHERE rk <= {DOMAIN_CAP}
        GROUP BY source
    """,
    doc=f"per-domain rebalancing: keep the {DOMAIN_CAP} longest docs "
        "per source",
    tags=("llm-pipeline", "window"),
))


# ---------------------------------------------------------------------------
# Corpus stats report
# ---------------------------------------------------------------------------
# The one-scan health dashboard a pipeline run ends with: volume,
# token counts, exact-duplicate rate, and share of short docs, per
# language.  Distinct-text counting goes through the 16-byte md5
# digest (never the text itself) — the same digest-only-shuffle rule
# as dedup_exact.

def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .select("lang", "n_chars",
                    _ntok().alias("ntok"),
                    F.md5("text").alias("digest"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ntok").alias("total_tokens"),
                 F.sum("n_chars").alias("total_chars"),
                 F.countDistinct("digest").alias("distinct_texts"),
                 (1.0 - F.countDistinct("digest")
                  / F.count("*").cast("double")).alias("dup_rate"),
                 F.sum(F.when(F.col("ntok") < 20, 1).otherwise(0))
                 .alias("n_short")))


register(QuerySpec(
    "corpus_stats", q_corpus_stats,
    oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')))
                   AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               COUNT(DISTINCT md5(text)) AS distinct_texts,
               1.0 - COUNT(DISTINCT md5(text))
                   / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
               CAST(SUM(CASE WHEN len(regexp_split_to_array(TRIM(text),
                   '[ \\t\\n\\x0B\\f\\r]+')) < 20 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_short
        FROM documents
        GROUP BY lang
    """,
    doc="per-language corpus health report: volume, tokens, exact-dup "
        "rate, short-doc count in one scan",
    tags=("llm-pipeline", "agg"),
))


# ---------------------------------------------------------------------------
# Per-class embedding centroids
# ---------------------------------------------------------------------------
# posexplode to (label, dim, value) then one hash agg — the classic
# long-format mean that scales to any dim count and any class count
# (the shuffle key is (label, dim): perfectly uniform, no skew).
# Sums use the repo's DECIMAL(38,6) convention (functions/exact.py):
# scale 6 is the empirically-safe cross-engine double→decimal scale —
# at scale 12 Spark's shortest-repr and DuckDB's binary conversions
# round float-origin addends differently (observed at sf0.01).  The
# centroid is therefore an exact *decimal* mean at 1e-6 resolution,
# identical on both engines and order-independent at any parallelism.

_CDEC = "decimal(38,6)"


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    emb = load_embeddings(spark, sf_dir)
    return (emb
            .select("label", F.posexplode("embedding")
                    .alias("dim", "v"))
            .groupBy("label", "dim")
            .agg((F.sum(F.col("v").cast("double").cast(_CDEC))
                  .cast("double") / F.count("*")).alias("centroid"),
                 F.count("*").alias("n_vecs")))


register(QuerySpec(
    "embedding_centroids", q_embedding_centroids,
    oracle="""
        SELECT label, dim,
               CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6)))
                    AS DOUBLE) / COUNT(*) AS centroid,
               COUNT(*) AS n_vecs
        FROM (
            SELECT label,
                   unnest(range(0, len(embedding))) AS dim,
                   unnest(embedding) AS v
            FROM embeddings
        )
        GROUP BY label, dim
    """,
    doc="per-class embedding centroids via posexplode + exact-decimal "
        "mean (long format)",
    tags=("llm-pipeline", "similarity", "agg"),
))


# ---------------------------------------------------------------------------
# Token-length histogram (length-bucketed batching support)
# ---------------------------------------------------------------------------
# Batch builders group sequences by length to minimize padding; the
# planner needs the length distribution.  Fixed-width buckets keyed by
# (lang, bucket): one scan, one small agg — at 100 TB the histogram
# rows number languages x buckets, never corpus-sized.

HIST_BUCKET_TOKENS = 16
HIST_MAX_BUCKET = 15


def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(_ntok() / HIST_BUCKET_TOKENS,
                     F.lit(HIST_MAX_BUCKET)).cast("long")
    return (docs
            .groupBy("lang", bucket.alias("len_bucket"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(_ntok()).alias("bucket_tokens")))


register(QuerySpec(
    "token_length_histogram", q_token_length_histogram,
    oracle=f"""
        SELECT lang,
               LEAST(len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+'))
                     // {HIST_BUCKET_TOKENS}, {HIST_MAX_BUCKET})
                   AS len_bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')))
                   AS BIGINT) AS bucket_tokens
        FROM documents
        GROUP BY 1, 2
    """,
    doc=f"token-length histogram ({HIST_BUCKET_TOKENS}-token buckets) "
        "for length-bucketed batch planning",
    tags=("llm-pipeline", "agg"),
))


# ---------------------------------------------------------------------------
# Curriculum ordering: quality deciles within split
# ---------------------------------------------------------------------------
# Curriculum schedules feed higher-quality data later (or earlier);
# the operator assigns each doc a decile by a quality proxy within its
# split.  ntile is a per-split window — shuffle keyed by split, three
# partitions, each internally sorted once.

def q_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = q_split_assign(spark, sf_dir).join(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars"), "doc_id")
    w = (Window.partitionBy("split")
         .orderBy(F.desc("n_chars"), "doc_id"))
    dec = docs.withColumn("decile", F.ntile(10).over(w))
    return (dec.groupBy("split", "decile")
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars")))


register(QuerySpec(
    "curriculum_deciles", q_curriculum_deciles,
    oracle="""
        WITH s AS (
            SELECT doc_id, n_chars,
                   CASE WHEN substring(md5('split:'
                            || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                        WHEN substring(md5('split:'
                            || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val' ELSE 'test' END AS split
            FROM documents
        ), d AS (
            SELECT split, n_chars,
                   NTILE(10) OVER (PARTITION BY split
                       ORDER BY n_chars DESC, doc_id) AS decile
            FROM s
        )
        SELECT split, decile, COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM d GROUP BY 1, 2
    """,
    doc="curriculum schedule: quality-proxy deciles within each split",
    tags=("llm-pipeline", "window"),
))


# ---------------------------------------------------------------------------
# Passage-level exact dedup (RefinedWeb-style duplicated-span signal)
# ---------------------------------------------------------------------------
# Doc-level dedup misses boilerplate spans repeated across otherwise
# distinct pages; passage-level dedup (Penedo et al. 2023 §4.3; Lee et
# al. 2022 exact-substring dedup, at fixed granularity) measures what
# fraction of each doc is made of spans seen elsewhere.  Fixed
# 10-token passages are digested per row (md5) inside scan-stage
# codegen, so only 16-byte digests ever shuffle — never passage text.
# The dup decision needs a per-digest distinct-doc count (one keyed
# agg) joined back to the passage stream (same key, exchange reuse);
# at 100 TB every wide op here moves (digest, id) pairs only, and a
# corpus-wide hot passage fans out as plain shuffle rows that AQE can
# split — no per-bucket arrays anywhere.

PASSAGE_TOKENS = 10
DUP_FRAC_DROP_NUM = 3          # drop when n_dup * 10 > n_passages * 3
DUP_FRAC_DROP_DEN = 10         # (integer compare: no float threshold)


def passage_dup_report(passages: DataFrame) -> DataFrame:
    """(doc_id, digest) passage stream -> per-doc duplicated-span
    report — the digest-count/join/threshold tail shared by the
    fixed-window and content-defined chunkers so the dup decision
    cannot drift between them."""
    ndocs = (passages.groupBy("digest")
             .agg(F.count_distinct("doc_id").alias("n_docs")))
    per_doc = (passages.join(ndocs, "digest")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_passages"),
                    F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                    .alias("n_dup_passages")))
    return per_doc.select(
        "doc_id", "n_passages", "n_dup_passages",
        (F.col("n_dup_passages").cast("double") / F.col("n_passages"))
        .alias("dup_frac"),
        F.when(F.col("n_dup_passages") * DUP_FRAC_DROP_DEN
               > F.col("n_passages") * DUP_FRAC_DROP_NUM, "drop")
        .otherwise("keep").alias("verdict"))


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+").alias("t"))
    # Full passages only; the CASE guards sequence(1, 0), which would
    # otherwise step backwards.  Docs shorter than one passage drop out.
    passages = toks.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(t) >= {PASSAGE_TOKENS} THEN "
            f"transform(sequence(1, size(t) DIV {PASSAGE_TOKENS}), "
            f"i -> md5(array_join(slice(t, (i-1)*{PASSAGE_TOKENS}+1, "
            f"{PASSAGE_TOKENS}), ' '))) "
            "ELSE array() END")).alias("digest"))
    return passage_dup_report(passages)


# The SQL twin of :func:`passage_dup_report`: composes onto any ``p``
# relation of (doc_id, digest) passage rows.
PASSAGE_DUP_TAIL_SQL = f"""
        nd AS (
            SELECT digest, COUNT(DISTINCT doc_id) AS n_docs
            FROM p GROUP BY digest
        )
        SELECT p.doc_id,
               COUNT(*) AS n_passages,
               CAST(SUM(CASE WHEN nd.n_docs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_passages,
               CAST(SUM(CASE WHEN nd.n_docs > 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS dup_frac,
               CASE WHEN SUM(CASE WHEN nd.n_docs > 1 THEN 1 ELSE 0 END)
                         * {DUP_FRAC_DROP_DEN}
                         > COUNT(*) * {DUP_FRAC_DROP_NUM}
                    THEN 'drop' ELSE 'keep' END AS verdict
        FROM p JOIN nd USING (digest)
        GROUP BY p.doc_id
"""

register(QuerySpec(
    "passage_dedup", q_passage_dedup,
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
            FROM documents
        ), p AS (
            SELECT doc_id,
                   md5(array_to_string(list_slice(t,
                       (i-1)*{PASSAGE_TOKENS}+1, i*{PASSAGE_TOKENS}), ' '))
                       AS digest
            FROM toks,
                 unnest(range(1, 1 + len(t)//{PASSAGE_TOKENS})) AS u(i)
            WHERE len(t) >= {PASSAGE_TOKENS}
        ), {PASSAGE_DUP_TAIL_SQL.strip()}
    """,
    doc=f"passage-level exact dedup: duplicated {PASSAGE_TOKENS}-token "
        "span fraction per doc (digest-only shuffle)",
    tags=("llm-pipeline", "dedup", "north-star"),
))


# ---------------------------------------------------------------------------
# Content-defined chunking passage dedup (shift-invariant boundaries)
# ---------------------------------------------------------------------------
# passage_dedup's fixed 10-token windows break under insertion shift:
# prepend one token and EVERY downstream passage digest changes, so a
# boilerplate span shared by two pages at different offsets is never
# matched.  Content-defined chunking (the rsync/LBFS/CDC idea —
# Muthitacharoen et al., SOSP 2001) fixes this by cutting where the
# CONTENT says so: a token is a chunk boundary iff its rolling hash
# lands in a fixed residue class (here h(token) % CDC_MOD == 0, the
# window-1 Rabin-Karp case; md5 plays the rolling hash, same digest
# algebra both engines).  Boundary decisions are token-local, so an
# insertion re-digests only the chunk it lands in: every chunk after
# the next boundary is byte-identical — shift invariance, property-
# tested.  Expected chunk length is CDC_MOD tokens (geometric);
# production CDC adds min/max forced cuts to bound the tail, which
# trades EXACT invariance for bounded shift propagation — documented
# deviation, the pure form keeps the proof exact and the fixture's
# docs are bounded anyway.
#
# 100 TB: identical topology to passage_dedup — chunking is row-local
# narrow work in codegen, only 16-byte digests shuffle, the dup
# decision is one digest-keyed agg joined back (exchange reuse), AQE
# splits hot boilerplate digests.

CDC_MOD = 8     # boundary residue: expected chunk ≈ 8 tokens


def cdc_cut_positions() -> Column:
    """Cut positions (1-based, after the token) of the token array
    column ``_t``: every boundary-class token plus the array end."""
    bnd = (f"(cast(conv(substring(md5(concat('cdc:', "
           f"element_at(_t, i))), 1, 15), 16, 10) as bigint) "
           f"% {CDC_MOD}) = 0")
    return F.expr(
        f"concat(filter(sequence(1, size(_t)), i -> {bnd}), "
        f"array(size(_t)))")


def cdc_digest_array() -> Column:
    """Ordered md5 digests of the CDC chunks of ``_t`` under the cut
    list ``_cuts`` (zero-length final chunk — when the last token is
    itself a boundary — dropped)."""
    return F.expr("""
        transform(
          filter(
            transform(sequence(1, size(_cuts)),
              j -> struct(IF(j = 1, 0, element_at(_cuts, j - 1)) AS s,
                          element_at(_cuts, j) AS e)),
            c -> c.e > c.s),
          c -> md5(array_join(slice(_t, c.s + 1, c.e - c.s), ' ')))""")


def q_passage_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    passages = (
        docs
        # every non-blank doc chunks (no fixed-window minimum); blank
        # and NULL text belongs to the quarantine report
        .filter(F.length(F.trim("text")) >= 1)
        .withColumn("_t", F.split(F.trim(F.col("text")),
                                  r"[ \t\n\x0B\f\r]+"))
        .withColumn("_cuts", cdc_cut_positions())
        .select("doc_id",
                F.explode(cdc_digest_array()).alias("digest")))
    return passage_dup_report(passages)


_CDC_BND_SQL = (f"(CAST(('0x' || substr(md5('cdc:' || t[i]), 1, 15)) "
                f"AS BIGINT) % {CDC_MOD}) = 0")

register(QuerySpec(
    "passage_dedup_cdc", q_passage_dedup_cdc,
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(TRIM(text),
                       '[ \\t\\n\\x0B\\f\\r]+') AS t
            FROM documents WHERE len(TRIM(text)) >= 1
        ), cut AS (
            SELECT doc_id, t,
                   list_append(list_filter(range(1, len(t) + 1),
                       i -> {_CDC_BND_SQL}), len(t)) AS cuts
            FROM toks
        ), p AS (
            SELECT doc_id,
                   unnest(list_transform(
                       list_filter(
                           list_transform(range(1, len(cuts) + 1),
                               j -> struct_pack(
                                   s := CASE WHEN j = 1 THEN 0
                                        ELSE cuts[j - 1] END,
                                   e := cuts[j])),
                           c -> c.e > c.s),
                       c -> md5(array_to_string(
                           list_slice(t, c.s + 1, c.e), ' '))))
                       AS digest
            FROM cut
        ), {PASSAGE_DUP_TAIL_SQL.strip()}
    """,
    doc=f"passage dedup with content-defined chunk boundaries "
        f"(h(token) % {CDC_MOD} residue cuts): insertion-shift-"
        "invariant duplicated-span fraction per doc",
    tags=("llm-pipeline", "dedup", "north-star"),
))


# ---------------------------------------------------------------------------
# Source mixture weights (temperature resampling)
# ---------------------------------------------------------------------------
# Multi-source pretraining rebalances corpora by w_s ∝ n_s^α (α=0.5
# here — the multilingual temperature-sampling convention): small
# sources are upweighted relative to their raw token share.  One keyed
# agg reduces the corpus to #sources rows; the normalizing sum runs as
# a global window over that tiny aggregate (driver-scale regardless of
# corpus size).  Cross-engine exactness: sqrt is IEEE-correctly-rounded
# in both engines, but a *double* sum over sources is
# order-dependent — so the sqrt is quantized to decimal(38,6) first
# and summed as decimals (exact, order-free), then both numerator and
# denominator return to double for the division.

MIX_TOKEN_BUDGET = 1_000_000


def mixture_weight_columns(per_src: DataFrame,
                           mass_col: str = "n_tokens",
                           budget_col: str = "expected_epochs",
                           ) -> DataFrame:
    """Append (weight, ``budget_col``) to a per-group totals frame
    carrying a positive ``mass_col`` — the temperature-mixture
    algebra (w ∝ mass^0.5), shared by the batch query,
    ``streaming/corpus.py::mixture_from_store``, and the
    cluster-balanced variant (``clustering.py::cluster_mixture``,
    mass = vector count) so the decimal-sqrt normalization cannot
    drift between its uses.  Extra columns (the batch query's
    n_docs) pass through.

    ``budget_col`` names the budget-share-over-mass column: when mass
    is tokens the units are genuinely epochs (budget tokens / corpus
    tokens per group), so the default name holds; a caller whose mass
    is NOT tokens (cluster_mixture's vector counts) must rename it —
    the value is then budget-tokens-per-mass-unit, not epochs, and
    keeping the default name would mislabel the units (r15 advice)."""
    sq = (F.sqrt(F.col(mass_col).cast("double"))
          .cast("decimal(38,6)"))
    tot = F.sum(sq).over(
        Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    weight = sq.cast("double") / tot.cast("double")
    return (per_src
            .withColumn("weight", weight)
            .withColumn(budget_col,
                        (F.col("weight") * MIX_TOKEN_BUDGET)
                        / F.col(mass_col)))


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    per_src = (docs.groupBy("source")
               .agg(F.count("*").alias("n_docs"),
                    F.sum(_ntok()).alias("n_tokens")))
    return mixture_weight_columns(per_src)


register(QuerySpec(
    "mixture_weights", q_mixture_weights,
    oracle=f"""
        WITH s AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(regexp_split_to_array(TRIM(text),
                       '[ \\t\\n\\x0B\\f\\r]+'))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), q AS (
            SELECT source, n_docs, n_tokens,
                   CAST(sqrt(CAST(n_tokens AS DOUBLE))
                        AS DECIMAL(38,6)) AS sq
            FROM s
        )
        SELECT source, n_docs, n_tokens,
               CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS DOUBLE)
                   AS weight,
               (CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS DOUBLE)
                * {MIX_TOKEN_BUDGET}) / n_tokens AS expected_epochs
        FROM q
    """,
    doc="temperature-sampling source mixture weights (w ∝ tokens^0.5) "
        "+ expected epochs at a fixed token budget",
    tags=("llm-pipeline", "agg", "ratio"),
))


# ---------------------------------------------------------------------------
# Source mixture APPLY (deterministic temperature downsampling)
# ---------------------------------------------------------------------------
# The apply half of mixture_weights: realize the w ∝ tokens^0.5
# mixture by per-source Bernoulli keeps at p_s = min(1, target_s /
# n_s), target_s = w_s * (total_tokens div 2) — downsample the corpus
# to half its token volume AT the temperature mixture, so
# over-represented sources shed mass while upweighted small sources
# keep everything.  The draw is the quality_weighted_sample
# convention: salted md5 prefix vs a per-source hex cap — pure string
# comparison, cluster-layout independent, identical in both engines.
# Plan: one partial-agg per-source fold (+ the same bounded global
# window as mixture_weights, |sources| rows), then a broadcast join
# of the ~|sources|-row rate table back onto the corpus — no
# corpus-sized shuffle anywhere.  Cross-engine exactness: decimal
# sqrt sum (order-free), integer div for the budget, and the
# remaining float ops are single multiplications/divisions written as
# the identical expression tree; division by a zero/NULL token count
# uses try_divide <-> DuckDB's NULL-on-zero semantics.

MIX_DOWNSAMPLE_DEN = 2


def q_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.operators.normalize import md5_keep

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    per_src = (docs.groupBy("source")
               .agg(F.sum(_ntok()).alias("n_tokens")))
    # Weight comes from the SHARED mixture algebra (the decimal-sqrt
    # normalization, one definition for batch / store / cluster
    # variants); this apply additionally needs the corpus token total
    # over the same bounded global window.
    win = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    srcs = (mixture_weight_columns(per_src)
            .withColumn("total_tokens", F.sum("n_tokens").over(win)))
    p_keep = F.least(
        F.lit(1.0),
        F.try_divide(
            F.col("weight")
            * F.expr(f"total_tokens div {MIX_DOWNSAMPLE_DEN}"),
            F.col("n_tokens").cast("double")))
    rates = srcs.select("source", p_keep.alias("p_keep"))
    return (docs.join(F.broadcast(rates), "source", "left")
            .select("doc_id", "source", "p_keep",
                    md5_keep("mix", F.col("p_keep")).alias("kept")))


register(QuerySpec(
    "mixture_apply", q_mixture_apply,
    oracle=f"""
        WITH s AS (
            SELECT source,
                   CAST(SUM(len(regexp_split_to_array(TRIM(text),
                       '[ \\t\\n\\x0B\\f\\r]+'))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), q AS (
            SELECT source, n_tokens,
                   CAST(sqrt(CAST(n_tokens AS DOUBLE))
                        AS DECIMAL(38,6)) AS sq,
                   CAST(SUM(n_tokens) OVER () AS BIGINT)
                       AS total_tokens
            FROM s
        ), rates AS (
            SELECT source,
                   LEAST(1.0,
                         (CAST(sq AS DOUBLE)
                          / CAST(SUM(sq) OVER () AS DOUBLE))
                         * (total_tokens // {MIX_DOWNSAMPLE_DEN})
                         / CAST(n_tokens AS DOUBLE)) AS p_keep
            FROM q
        )
        SELECT d.doc_id, d.source, r.p_keep,
               substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                         1, 8)
               <= lower(lpad(hex(CAST(FLOOR(r.p_keep * 4294967295.0)
                                      AS BIGINT)), 8, '0')) AS kept
        FROM documents d LEFT JOIN rates r USING (source)
    """,
    doc="temperature-mixture apply: deterministic per-source "
        "downsampling to half the corpus token volume at the "
        "w ∝ tokens^0.5 mixture — per-source keep rates from one "
        "bounded fold, salted-md5 draws vs hex caps, broadcast rate "
        "join (no corpus-sized shuffle)",
    tags=("llm-pipeline", "sample", "apply"),
))


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage
# ---------------------------------------------------------------------------
# Vocab-size selection for tokenizer training: how much of the corpus
# does a top-N frequency vocabulary cover, and what hits OOV?  The
# corpus reduces to one row per token *type* in a skew-absorbing
# partial agg (Zipf hot keys pre-reduce map-side).  Only ranks up to
# max(VOCAB_SIZES) can contribute coverage, so the ranking never
# touches the full type table: orderBy+limit plans as a distributed
# TakeOrderedAndProject (per-partition top-k, merged on the driver)
# instead of a no-partition window that would funnel every type —
# millions at 100 TB — through a single task.  The conditional
# one-pass rollup over those 1024 rows avoids re-sorting per size.

VOCAB_SIZES = (64, 256, 1024)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.operators.dedup import normalized_text
    from cga_logs_to_kinesis_spark.session import widen_for_explode

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    types = (widen_for_explode(docs, "doc_id")
             .select(F.explode(F.split(normalized_text(), " "))
                     .alias("token"))
             .filter(F.col("token") != "")
             .groupBy("token")
             .agg(F.count("*").alias("n"))
             # consumed twice (top-k + corpus totals); materialize the
             # vocabulary-scale table once rather than re-scan the corpus
             .localCheckpoint())
    top = (types.orderBy(F.col("n").desc(), "token")
           .limit(max(VOCAB_SIZES)))
    rank = F.row_number().over(
        Window.orderBy(F.col("n").desc(), F.col("token")))
    ranked = top.withColumn("rank", rank)
    covered = [
        F.sum(F.when(F.col("rank") <= s, F.col("n")).otherwise(0))
        .alias(f"cov_{s}") for s in VOCAB_SIZES]
    corpus = types.agg(F.sum("n").alias("total"),
                       F.count("*").alias("n_types"))
    totals = ranked.agg(*covered).crossJoin(corpus)
    stack = ", ".join(f"{s}, cov_{s}" for s in VOCAB_SIZES)
    return (totals
            .select(F.expr(f"stack({len(VOCAB_SIZES)}, {stack}) "
                           "AS (vocab_size, covered_tokens)"),
                    "total", "n_types")
            .select(F.col("vocab_size").cast("long"),
                    "covered_tokens", F.col("total").alias("total_tokens"),
                    "n_types",
                    (F.col("covered_tokens").cast("double")
                     / F.col("total")).alias("coverage"),
                    (F.lit(1.0) - F.col("covered_tokens").cast("double")
                     / F.col("total")).alias("oov_rate")))


register(QuerySpec(
    "vocab_coverage", q_vocab_coverage,
    oracle=f"""
        WITH types AS (
            SELECT t.tok AS token, COUNT(*) AS n
            FROM documents,
                 UNNEST(regexp_split_to_array(
                     lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')),
                     ' ')) AS t(tok)
            WHERE t.tok != ''
            GROUP BY 1
        ), ranked AS (
            SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
            FROM types
        ), totals AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_types,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN rank <= {s} THEN n ELSE 0"
                       f" END) AS BIGINT) AS cov_{s}"
                       for s in VOCAB_SIZES)}
            FROM ranked
        )
        SELECT u.vocab_size, u.covered_tokens, total AS total_tokens,
               n_types,
               CAST(u.covered_tokens AS DOUBLE) / total AS coverage,
               1.0 - CAST(u.covered_tokens AS DOUBLE) / total AS oov_rate
        FROM totals, (VALUES {", ".join(
            f"({s}, NULL)" for s in VOCAB_SIZES)}) _dummy(vs, _),
        LATERAL (SELECT CAST(vs AS BIGINT) AS vocab_size,
                        CASE vs {" ".join(
                            f"WHEN {s} THEN cov_{s}" for s in VOCAB_SIZES)}
                        END AS covered_tokens) u
    """,
    doc="tokenizer vocab coverage/OOV at candidate vocab sizes "
        f"{VOCAB_SIZES} (one-pass conditional rollup over the type table)",
    tags=("llm-pipeline", "text", "agg"),
))


# Oracle twin of the gated load_embeddings read in embedding_centroids
# (see sources/tables.py::gate_registered_oracles).
from cga_logs_to_kinesis_spark.sources.tables import (  # noqa: E402
    gate_registered_oracles as _gate_oracles,
)

_gate_oracles("embedding_centroids")


# ---------------------------------------------------------------------------
# RAG-style sliding-window chunking (within-doc, with overlap)
# ---------------------------------------------------------------------------
# pack_chunks above is PRETRAINING packing: the corpus concatenated
# and cut every CHUNK_TOKENS, documents may straddle cuts.  Retrieval
# indexing needs the other shape: each document split into
# fixed-width windows with OVERLAP (stride < width), so no passage
# loses its context at a boundary.  nchunks = max(1,
# ceil((n - W) / S) + 1) — the standard formula that always covers
# the tail.  Entirely row-local (tokenize + bounded explode); the
# fan-out is ~n_tokens/STRIDE per doc, spread across the
# explode-parallelism width like every other row-amplifying stage.

CHUNK_WIDTH = 64
CHUNK_STRIDE = 48              # 16-token overlap between neighbors


def chunk_windows(docs: DataFrame) -> DataFrame:
    """The row-local chunking core — pure projections + a bounded
    explode, so it composes unchanged over batch AND streaming
    inputs."""
    W, S = CHUNK_WIDTH, CHUNK_STRIDE
    toks = F.split(F.trim("text"), r"[ \t\n\x0B\f\r]+")
    # integer ceil((n-W)/S)+1; the greatest(1, _) also absorbs the
    # Spark-DIV-truncates vs DuckDB-//-floors difference on the
    # negative numerator of short docs (both land at >= 1)
    nchunks = F.greatest(
        F.lit(1),
        F.expr(f"((size(_toks) - {W} + {S} - 1) DIV {S}) + 1"))
    return (docs.filter(F.col("text").isNotNull())
            .select("doc_id", toks.alias("_toks"))
            .withColumn("_nc", nchunks)
            .select("doc_id", "_toks",
                    F.posexplode(F.expr("sequence(0, _nc - 1)"))
                    .alias("chunk_idx", "_i"))
            .select(
                "doc_id", "chunk_idx",
                (F.col("chunk_idx") * S + 1).alias("start_token"),
                F.expr(f"slice(_toks, chunk_idx * {S} + 1, {W})")
                .alias("_chunk"))
            .select("doc_id", "chunk_idx", "start_token",
                    F.size("_chunk").cast("long").alias("chunk_tokens"),
                    F.md5(F.concat_ws(" ", "_chunk"))
                    .alias("chunk_digest")))


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.session import widen_for_explode
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (chunk_windows(widen_for_explode(docs))
            .orderBy("doc_id", "chunk_idx"))


register(QuerySpec(
    "chunk_overlap", q_chunk_overlap,
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(TRIM(text),
                       '[ \\t\\n\\x0B\\f\\r]+') AS t
            FROM documents
            WHERE text IS NOT NULL
        ),
        sized AS (
            SELECT doc_id, t,
                   GREATEST(1, ((len(t) - {CHUNK_WIDTH} + {CHUNK_STRIDE}
                                 - 1) // {CHUNK_STRIDE}) + 1) AS nc
            FROM toks
        ),
        chunks AS (
            SELECT doc_id, t,
                   unnest(range(0, nc)) AS chunk_idx
            FROM sized
        )
        SELECT doc_id,
               CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT)
                   AS start_token,
               CAST(len(t[(chunk_idx * {CHUNK_STRIDE} + 1):
                          (chunk_idx * {CHUNK_STRIDE} + {CHUNK_WIDTH})])
                    AS BIGINT) AS chunk_tokens,
               md5(array_to_string(
                   t[(chunk_idx * {CHUNK_STRIDE} + 1):
                     (chunk_idx * {CHUNK_STRIDE} + {CHUNK_WIDTH})], ' '))
                   AS chunk_digest
        FROM chunks
        ORDER BY doc_id, chunk_idx
    """,
    doc=f"RAG sliding-window chunking: {CHUNK_WIDTH}-token windows at "
        f"stride {CHUNK_STRIDE} (overlap "
        f"{CHUNK_WIDTH - CHUNK_STRIDE}) per document, tail always "
        "covered — the retrieval-indexing twin of pack_chunks",
    tags=("llm-pipeline", "north-star", "chunking", "rag"),
))


# ---------------------------------------------------------------------------
# Multi-pattern blocklist content filter (C4's badwords convention)
# ---------------------------------------------------------------------------
# The standard curation gate this registry still lacked (r16 verdict
# #4): drop every document containing any term of a blocklist, where
# terms are normalized TOKEN sequences — single words AND multi-token
# phrases (C4 drops pages containing any entry of the "List of Dirty,
# Naughty, Obscene or Otherwise Bad Words"; phrase entries match on
# word boundaries, not substrings, so "grape" never flags "grapes
# of wrath"-class false positives that substring scans produce).
#
# Spark shape, Aho-Corasick reconsidered for a cluster: a trie scan
# is the single-machine answer; the distributed answer is tokenize
# once and match ROW-LOCALLY — per token position, a first-token
# probe against the set of term-initial tokens (the trie's first
# level), building and checking the full n-gram string only at the
# few positions that survive (optimization r18, guide §2.3/§4.1: the
# previous shape built EVERY position's gram string and shipped the
# ~3x-tokens gram explode through a broadcast join; the matcher is a
# pure function of the row, so no join row stream is fundamentally
# required).  Membership probes compile to Catalyst In/InSet —
# a hash-set lookup per candidate at production list sizes (a few
# thousand terms), the same per-probe cost the broadcast hash join
# paid, minus building one gram string per corpus position and minus
# the corpus-tokens-sized Generate+join row stream.  Only the n-gram
# orders the blocklist actually contains are scanned (here {1, 2, 3}
# — computed from the list, not hardcoded).  The hits frame then
# carries ONLY matches (at 100 TB: hits << tokens), the report tail
# is one source-keyed partial agg, and apply is a pure row-local
# filter — zero joins, zero exchanges.
#
# The fixture corpus has no real badwords, so the list is drawn from
# the fixture vocabulary (the pii_scrub convention: the operator
# under test is the MATCHER, and the oracle proves match parity);
# "forbidden" never occurs and pins the zero-hit path.

BLOCKLIST: tuple[str, ...] = (
    "dup",                # 1-token, common
    "slow query",         # 2-token phrase
    "table scan",         # 2-token phrase
    "key order sort",     # 3-token phrase (rare: 0 hits at sf0.01)
    "forbidden",          # never occurs — the zero-hit guard
)


def blocklist_hit_grams_col(terms: tuple[str, ...] = BLOCKLIST
                            ) -> Column:
    """Array of MATCHING blocklist grams over a prebuilt ``toks``
    column — the row-local matcher shared by the batch hits frame
    (which explodes it), the gate report (which sizes it), the apply
    (which keeps size = 0).  One matcher, every face.

    Per n-gram order the blocklist contains: probe each position's
    FIRST token against the set of term-initial tokens (the trie's
    first level — In/InSet, a hash probe at production list sizes),
    build the concat'd gram string only at surviving positions, and
    confirm it against the full term set.  1-token terms skip gram
    construction entirely (a plain token filter).  The result is
    empty (never NULL — coalesced) for short or NULL-text rows, so
    ``size() = 0`` is exactly "no hit" everywhere.

    Matches the broadcast-join matcher it replaced occurrence-for-
    occurrence: same normalized token stream, same exact-string
    equality, same per-order position order.

    The whole matcher is built inside a ``transform(array(toks),
    ts -> ...)`` let-binding: every internal reference is to the
    lambda variable ``ts``, never to the ``toks`` expression itself.
    Without this, CollapseProject inlines the tokenization into every
    per-position ``element_at`` probe and the expression both
    re-tokenizes the document per position and overflows whole-stage
    codegen (no CSE in interpreted eval) — measured 15x slower on the
    apply path."""
    by_n: dict[int, list[str]] = {}
    for t in terms:
        by_n.setdefault(len(t.split()), []).append(t)

    def matcher(ts: Column) -> Column:
        arrays = []
        for n in sorted(by_n):
            tl = sorted(by_n[n])
            if n == 1:
                arrays.append(F.filter(ts, lambda t: t.isin(*tl)))
                continue
            firsts = sorted({t.split()[0] for t in tl})
            pos = F.filter(
                F.sequence(F.lit(1), F.size(ts) - (n - 1)),
                lambda i: F.element_at(ts, i).isin(*firsts))
            grams = F.transform(
                pos, lambda i: F.concat_ws(" ", F.slice(ts, i, n)))
            arrays.append(
                F.when(F.size(ts) >= n,
                       F.filter(grams, lambda g: g.isin(*tl)))
                .otherwise(F.expr("array()")))
        return F.coalesce(F.flatten(F.array(*arrays)),
                          F.expr("array()"))

    return F.element_at(
        F.transform(F.array(F.col("toks")), matcher), 1)


def blocklist_hits(docs: DataFrame,
                   terms: tuple[str, ...] = BLOCKLIST) -> DataFrame:
    """(doc_id, source, term): one row per blocklisted-term OCCURRENCE
    in each document (token-boundary matches over the normalized
    token stream).  Shared front of the report and the apply.  Pure
    map: the matcher is row-local and only MATCHES are ever exploded
    into rows (hits << tokens), so no join and no token-sized row
    stream exist in the plan (optimization r18; was explode-all-grams
    + broadcast term join)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )

    return (docs
            .withColumn("toks", norm_tokens())
            .select("doc_id", "source",
                    F.explode(blocklist_hit_grams_col(terms))
                    .alias("term")))


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_dropped, n_kept, n_hits): the per-source
    keep/drop report of the blocklist gate — n_hits counts term
    occurrences, n_dropped counts documents with at least one.

    One scan, one exchange: the per-document occurrence count is
    row-local (``size`` of the matcher array), so the whole report is
    a single source-keyed partial aggregation — no per-doc groupBy,
    no join back to documents (optimization r18: was gram explode +
    broadcast join + doc_id agg + sort-merge join + source agg)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    nh = F.size(blocklist_hit_grams_col())
    return (docs
            .withColumn("toks", norm_tokens())
            .select("source", nh.alias("nh"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(F.col("nh") > 0, 1)
                       .otherwise(0)).alias("n_dropped"),
                 F.sum(F.when(F.col("nh") > 0, 0)
                       .otherwise(1)).alias("n_kept"),
                 F.sum("nh").cast("bigint").alias("n_hits")))


def q_blocklist_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving documents: C4's drop rule applied as a pure
    row-local filter — a document survives iff its matcher array is
    empty.  Zero joins, zero exchanges (optimization r18: was hits
    explode + distinct + left-anti join)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .withColumn("toks", norm_tokens())
            .filter(F.size(blocklist_hit_grams_col()) == 0)
            .select("doc_id", "source", "lang", "n_chars"))


def _blocklist_ctes() -> str:
    """Shared oracle CTEs ending in ``hits`` (doc_id, source, term) —
    the SQL twin of :func:`blocklist_hits`."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        NORM_TOKENS_SQL,
    )

    values = ", ".join(
        f"('{t}', {len(t.split())})" for t in BLOCKLIST)
    orders = sorted({len(t.split()) for t in BLOCKLIST})
    gram_branches = " || ".join(
        f"CASE WHEN len(l) >= {n} THEN list_transform("
        f"range(1, len(l) - {n - 2}), "
        f"i -> array_to_string(l[i:i+{n - 1}], ' ')) "
        f"ELSE [] END" for n in orders)
    return f"""
        bl AS (SELECT * FROM (VALUES {values}) AS t(term, n)),
        toks AS (
            SELECT doc_id, source, {NORM_TOKENS_SQL} AS l
            FROM documents
        ),
        grams AS (
            SELECT doc_id, source,
                   unnest({gram_branches}) AS gram
            FROM toks
        ),
        hits AS (
            SELECT g.doc_id, g.source, b.term
            FROM grams g JOIN bl b ON g.gram = b.term
        )
    """


register(QuerySpec(
    "blocklist_filter", q_blocklist_filter,
    oracle=f"""
        WITH {_blocklist_ctes().strip()},
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_hits
            FROM hits GROUP BY doc_id
        )
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN p.n_hits IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN p.n_hits IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(COALESCE(p.n_hits, 0)) AS BIGINT) AS n_hits
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        GROUP BY d.source
    """,
    doc="C4-style blocklist gate report: token-boundary word AND "
        "phrase matches (broadcast gram join), per-source keep/drop "
        "counts",
    tags=("llm-pipeline", "north-star", "scrub", "report"),
))

def q_blocklist_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, n_docs, n_hits): per-term audit of the blocklist gate —
    which entries actually fire and how hard (the report you read
    before shipping a list revision; zero-hit terms stay visible so
    dead entries are explicit).  One extra agg over the shared hits
    front plus a broadcast-sized left join from the term list."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    bl = spark.createDataFrame([(t,) for t in BLOCKLIST],
                               "term string")
    per_term = (blocklist_hits(docs)
                .groupBy("term")
                .agg(F.countDistinct("doc_id").alias("n_docs"),
                     F.count("*").alias("n_hits")))
    return (bl.join(per_term, "term", "left")
            .select("term",
                    F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"))
            .orderBy("term"))


register(QuerySpec(
    "blocklist_terms", q_blocklist_terms,
    oracle=f"""
        WITH {_blocklist_ctes().strip()},
        per_term AS (
            SELECT term, COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS n_hits
            FROM hits GROUP BY term
        )
        SELECT b.term,
               CAST(COALESCE(p.n_docs, 0) AS BIGINT) AS n_docs,
               CAST(COALESCE(p.n_hits, 0) AS BIGINT) AS n_hits
        FROM bl b LEFT JOIN per_term p USING (term)
        ORDER BY b.term
    """,
    doc="per-term blocklist audit: docs and occurrences per entry, "
        "zero-hit entries included — the list-revision report",
    tags=("llm-pipeline", "north-star", "scrub", "report"),
))

register(QuerySpec(
    "blocklist_apply", q_blocklist_apply,
    oracle=f"""
        WITH {_blocklist_ctes().strip()}
        SELECT d.doc_id, d.source, d.lang, d.n_chars
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM hits h
                          WHERE h.doc_id = d.doc_id)
    """,
    doc="C4-style blocklist gate APPLY: drop every document "
        "containing any blocklisted word or phrase, token-boundary "
        "matched",
    tags=("llm-pipeline", "north-star", "scrub", "apply"),
))
