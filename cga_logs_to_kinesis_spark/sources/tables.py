"""Fixture-table readers.

All relational inputs come from driver-generated parquet at
``{sf_dir}/{name}.parquet`` (see TESTDATA.md at the repo root).  Readers are
plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning, and partition pruning; the only special case is
``events``, whose ``ts`` column has shipped in two physical forms
across fixture generations:

* parquet TIMESTAMP(NANOS) — rejected by Spark's vectorized reader,
  so read as int64 nanoseconds via
  ``spark.sql.legacy.parquet.nanosAsLong``;
* plain ``timestamp[us]`` (current fixtures) — arrives as
  TIMESTAMP/TIMESTAMP_NTZ and is converted back to the engine's
  canonical int64-ns ``ts``.

``load_events`` normalizes both to the same output contract: exact
int64-ns ``ts`` plus a derived TimestampType ``event_time``, so every
downstream ``ts DIV ...`` site is fixture-format-agnostic.

At 100 TB these readers are unchanged: parquet scans scale with the
file listing, filters/projections still push down to the footers, and
the ns↔timestamp derivations are codegen'd projections, not UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.schema import FIXTURE_TABLES


def _ensure_nanos_as_long(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; ``events`` gets ns-timestamp handling."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _valid_embedding_sql() -> str:
    from cga_logs_to_kinesis_spark.schema import (
        EMBEDDING_DIM,
        EMBEDDING_MAX_ABS,
    )
    return (
        f"embedding IS NOT NULL AND len(embedding) = {EMBEDDING_DIM}"
        " AND len(list_filter(embedding, x -> x IS NULL OR isnan(x)"
        f" OR abs(x) > {EMBEDDING_MAX_ABS!r})) = 0"
        " AND len(list_filter(embedding, x -> x <> 0)) > 0")


# DuckDB WHERE-clause twin of :func:`embedding_valid` — the shared
# constant every embedding oracle routes through (the NORMALIZED_SQL /
# WS_PLUS convention), so Spark's gated ``load_embeddings`` and the
# oracles agree even on fixtures containing invalid vectors.
VALID_EMBEDDING_SQL: str = _valid_embedding_sql()


def gate_embeddings_sql(sql: str) -> str:
    """Rewrite an oracle so every read of the raw ``embeddings`` view
    goes through the validity gate — the SQL twin of the Spark side's
    ``load_embeddings``.  Queries auditing the raw table
    (``embedding_validity``) must NOT route through this.

    Idempotent and loud: an already-gated read (its text is exactly
    ``FROM embeddings WHERE embedding IS NOT NULL ...``) is left
    alone, so re-gating an oracle that embeds a pre-gated CTE
    (``ann_truncation_recall``) can't double-wrap; any mention of the
    view the regex can't rewrite (comma join, quoted identifier)
    raises instead of silently shipping an ungated oracle."""
    import re
    gated = f"(SELECT * FROM embeddings WHERE {VALID_EMBEDDING_SQL})"
    marker = r"(?! WHERE embedding IS NOT NULL)"
    out = re.sub(r"\b(FROM|JOIN) embeddings\b" + marker,
                 rf"\1 {gated}", sql, flags=re.IGNORECASE)
    stray = re.search(r"\bembeddings\b" + marker, out, re.IGNORECASE)
    if stray:
        ctx = out[max(0, stray.start() - 40):stray.end() + 40]
        raise ValueError(
            "gate_embeddings_sql: raw 'embeddings' read survived the "
            f"rewrite (comma join or quoted identifier?): ...{ctx}...")
    return out


def gate_registered_oracles(*names: str) -> None:
    """Route the named registered queries' oracles through
    :func:`gate_embeddings_sql`.  Called at the end of each operator
    module for exactly the queries whose Spark side reads the gated
    ``load_embeddings`` — keeping the pairing explicit and auditable
    (every gated load ↔ a gated oracle)."""
    from dataclasses import replace

    from cga_logs_to_kinesis_spark.registry import _REGISTRY
    for n in names:
        spec = _REGISTRY[n]
        if spec.oracle:
            _REGISTRY[n] = replace(
                spec, oracle=gate_embeddings_sql(spec.oracle))


def embedding_valid(col: str = "embedding") -> F.Column:
    """True iff the vector is usable by similarity/clustering math:
    non-NULL, exactly EMBEDDING_DIM wide, every element non-NULL /
    finite / within ±EMBEDDING_MAX_ABS, and non-zero norm (cosine
    against a zero vector is undefined; in ANSI mode it would throw
    mid-job instead of at ingest).  On well-formed fixtures this is
    identically true, so oracle hashes are unchanged; on dirty data it
    quarantines the rows a real ingest gate would."""
    from cga_logs_to_kinesis_spark.schema import (
        EMBEDDING_DIM,
        EMBEDDING_MAX_ABS,
    )
    c = F.col(col)
    bad_elem = F.size(F.filter(
        c, lambda x: x.isNull() | F.isnan(x)
        | (F.abs(x) > F.lit(EMBEDDING_MAX_ABS))))
    nonzero = F.size(F.filter(c, lambda x: x != 0))
    return (c.isNotNull()
            & (F.size(c) == EMBEDDING_DIM)
            & (bad_elem == 0)
            & (nonzero > 0))


def load_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL documents ingest — the read half of
    ``export.write_training_shards_jsonl`` and the format crawls/dumps
    usually arrive in.  The schema is EXPLICIT (schema inference is a
    full extra scan at 100 TB and lets types drift per file); a
    ``shard=K/`` partitioned layout surfaces ``shard`` as an extra
    partition column, corrupt lines yield NULL rows rather than
    failures (Spark's default PERMISSIVE mode — count them via a
    ``text IS NULL`` gate, the dirty-corpus contract)."""
    from cga_logs_to_kinesis_spark.schema import DOCUMENTS
    return spark.read.schema(DOCUMENTS).json(path)


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with the validity gate applied — the loader every
    similarity/clustering operator uses, so malformed vectors can
    never reach a cosine/decimal path.  The quarantine report is the
    ``embedding_validity`` query."""
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(embedding_valid()))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with exact `ts` (int64 ns) plus derived `event_time`.

    `event_time` truncates ns → µs (TimestampType's resolution).  Exact
    time arithmetic (window bucketing, as-of comparisons) should use
    the integer `ts` column; `event_time` exists for calendar functions
    and Structured Streaming watermarks.

    The physical parquet type of `ts` has varied between fixture
    generations (TIMESTAMP(NANOS)-as-int64 vs plain timestamp[us]);
    both are normalized to this contract by branching on the scanned
    dtype, so callers never see the difference.
    """
    from pyspark.sql.types import LongType

    _ensure_nanos_as_long(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, LongType):
        # TIMESTAMP(NANOS) fixtures read as int64 ns (nanosAsLong).
        # Integer DIV, not `/`: float division of an ~1.7e18 ns value
        # loses sub-µs precision (doubles carry 53 bits).
        return df.withColumn(
            "event_time", F.timestamp_micros(F.expr("ts DIV 1000")))
    # timestamp[us] fixtures: arrives as TIMESTAMP or TIMESTAMP_NTZ.
    # Session tz is UTC (session.py), so NTZ→LTZ cast is an identity on
    # epoch micros; reconstruct the canonical int64-ns `ts` exactly.
    df = df.withColumn("event_time", F.col("ts").cast("timestamp"))
    return df.withColumn(
        "ts", F.unix_micros(F.col("event_time")) * F.lit(1000))


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = FIXTURE_TABLES) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
