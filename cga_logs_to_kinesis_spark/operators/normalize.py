"""Corpus normalization + sampling stages of a training-data pipeline.

Three row-local / single-agg operators that sit between raw ingestion
and dedup/quality filtering:

* ``text_normalize`` — CCNet-style text canonicalization (lowercase,
  strip non-alphanumerics, collapse whitespace), the preprocessing
  step that makes downstream exact/fuzzy dedup keys stable;
* ``quality_weighted_sample`` — deterministic weighted sampling: each
  document keeps with probability proportional to a quality proxy,
  decided by comparing a salted md5 prefix against a per-row hex cap
  (no RNG state, so the decision is reproducible on any cluster
  layout and identical in the DuckDB oracle);
* ``fertility_by_lang`` — tokenizer-efficiency report: BPE-ish tokens
  per whitespace word by language (the fertility metric used to
  compare tokenizers across languages), as a ratio of exact integer
  sums.

All three are scan-bound map/agg plans: no joins, no shuffles beyond
the one aggregation exchange in ``fertility_by_lang``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.operators.text import (
    BPE_PATTERN,
    TOKEN_COUNT_SQL,
    token_count,
)
from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import tune_session
from cga_logs_to_kinesis_spark.sources import load_table


def normalize_text(col: F.Column) -> F.Column:
    """lowercase → non-alphanumerics to spaces → collapse runs → trim.

    The whitespace class is spelled out as ``[ \\t\\n\\x0B\\f\\r]``
    rather than ``\\s`` because Java's ``\\s`` includes U+000B
    (vertical tab) while RE2's does not — with ``\\s`` a document
    containing \\x0B would normalize differently in Spark vs the
    DuckDB oracle and poison any dedup key built on norm_text.  With
    the explicit class both engines see the identical character set,
    so the oracle twin below is exact (pinned by the \\x0B row in
    tests/test_null_robustness.py's nasty corpus).
    """
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9 \t\n\x0B\f\r]", " ")
    c = F.regexp_replace(c, r"[ \t\n\x0B\f\r]+", " ")
    return F.trim(c)


# Backslash escapes pass through DuckDB's plain string literals to
# RE2, which interprets \t \n \x0B \f \r itself — same bytes as the
# Java class above.
NORMALIZE_SQL = ("TRIM(regexp_replace(regexp_replace(lower(text), "
                 "'[^a-z0-9 \\t\\n\\x0B\\f\\r]', ' ', 'g'), "
                 "'[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))")


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalizes both the raw text and a deterministically-dirtied
    variant (uppercased + injected punctuation + doubled spaces) —
    the fixture text is already canonical, so the dirty column is
    what proves the regex pipeline actually rewrites."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    dirty = F.concat(F.upper(F.col("text")), F.lit("!!  "),
                     F.col("doc_id").cast("string"), F.lit("??"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        normalize_text(dirty).alias("norm_dirty"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm != F.col("text")).alias("changed"),
    )


_DIRTY_SQL = ("upper(text) || '!!  ' || CAST(doc_id AS VARCHAR) "
              "|| '??'")
_NORM_DIRTY_SQL = NORMALIZE_SQL.replace("lower(text)",
                                        f"lower({_DIRTY_SQL})")

register(QuerySpec(
    "text_normalize", q_text_normalize,
    oracle=f"""
        SELECT doc_id,
               {NORMALIZE_SQL} AS norm_text,
               {_NORM_DIRTY_SQL} AS norm_dirty,
               CAST(LENGTH(text) AS BIGINT) AS n_chars_raw,
               CAST(LENGTH({NORMALIZE_SQL}) AS BIGINT) AS n_chars_norm,
               {NORMALIZE_SQL} <> text AS changed
        FROM documents
    """,
    doc="CCNet-style text canonicalization (lowercase, strip "
        "punctuation, collapse whitespace) — the dedup-key "
        "preprocessing stage",
    tags=("text", "north-star", "normalize"),
))


# Weighted sampling: P(keep) = min(1, n_chars / 2000).  The keep
# decision compares the first 8 hex chars of a salted md5 (a uniform
# 32-bit draw) against floor(w * 0xFFFFFFFF) rendered as zero-padded
# lowercase hex — pure string comparison, no float-vs-int conversion
# ambiguity between engines.
_MAX32 = 4294967295


def md5_keep(salt: str, p: F.Column) -> F.Column:
    """Deterministic Bernoulli(p) keep decision: salted md5 prefix of
    doc_id compared against p rendered as a hex cap — a pure string
    compare, so the draw is cluster-layout independent and identical
    in both engines.  ONE definition, shared by every sampling apply
    (quality_weighted_sample, mixture_apply) so the cap rendering cannot drift between them."""
    cap_hex = F.lower(F.lpad(
        F.hex(F.floor(p * F.lit(float(_MAX32))).cast("bigint")),
        8, "0"))
    draw = F.substring(
        F.md5(F.concat(F.lit(salt + ":"),
                       F.col("doc_id").cast("string"))), 1, 8)
    return draw <= cap_hex


def weighted_sample_columns() -> dict[str, F.Column]:
    """The weight and keep-decision Columns (row-local)."""
    w = F.least(F.lit(1.0), F.col("n_chars").cast("double") / 2000.0)
    return {"weight": w, "kept": md5_keep("wsample", w)}


def q_quality_weighted_sample(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    c = weighted_sample_columns()
    return docs.select(
        "doc_id",
        "source",
        c["weight"].alias("weight"),
        c["kept"].alias("kept"),
    )


# Reused by the composed curation-pipeline oracle.
WEIGHTED_KEEP_SQL = (
    "substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "<= lower(lpad(hex(CAST(FLOOR("
    f"LEAST(1.0, n_chars / 2000.0) * {_MAX32}.0) "
    "AS BIGINT)), 8, '0'))")

register(QuerySpec(
    "quality_weighted_sample", q_quality_weighted_sample,
    oracle=f"""
        SELECT doc_id, source,
               LEAST(1.0, n_chars / 2000.0) AS weight,
               {WEIGHTED_KEEP_SQL} AS kept
        FROM documents
    """,
    doc="deterministic quality-weighted sampling: P(keep) ∝ length "
        "proxy, salted-md5 draw vs per-row hex cap (cluster-layout "
        "independent)",
    tags=("llm-pipeline", "sample", "north-star"),
))


def q_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word by language — the standard tokenizer fertility
    comparison.  Ratio of two exact integer sums, so the double
    division is deterministic across engines and partitionings."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    # NULL guard: non-ANSI size(NULL array) is -1, which would silently
    # subtract from the sum while the oracle's NULL is skipped by SUM.
    n_bpe = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)))
    return (
        docs
        .groupBy("lang")
        .agg(F.sum(n_bpe).cast("long").alias("total_bpe_tokens"),
             F.sum(token_count()).cast("long").alias("total_ws_tokens"),
             F.count("*").alias("n_docs"))
        .withColumn("fertility",
                    F.col("total_bpe_tokens").cast("double")
                    / F.col("total_ws_tokens"))
        .orderBy("lang")
    )


register(QuerySpec(
    "fertility_by_lang", q_fertility_by_lang,
    oracle=f"""
        SELECT lang,
               CAST(SUM(COALESCE(
                    len(regexp_extract_all(text, '{BPE_PATTERN}')), 0))
                    AS BIGINT) AS total_bpe_tokens,
               CAST(SUM({TOKEN_COUNT_SQL}) AS BIGINT)
                    AS total_ws_tokens,
               COUNT(*) AS n_docs,
               CAST(SUM(COALESCE(
                    len(regexp_extract_all(text, '{BPE_PATTERN}')), 0))
                    AS DOUBLE)
                 / CAST(SUM({TOKEN_COUNT_SQL}) AS BIGINT) AS fertility
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc="tokenizer fertility (BPE-ish tokens per whitespace word) by "
        "language, from exact integer sums",
    tags=("text", "agg", "tokenizer"),
))
