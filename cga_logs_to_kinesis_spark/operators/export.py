"""Training-data export: deterministic sharded parquet writer.

The last stage of a curation pipeline materializes the corpus as N
shards that trainers stream independently.  Requirements at 100 TB:

* **deterministic placement** — the same document lands in the same
  shard on every run and any cluster layout, so incremental re-exports
  and resumed jobs don't reshuffle history.  Placement is a salted-md5
  draw (two hex chars → 0..255 → mod N), the same engine-portable
  idiom as ``split_assign``/``quality_weighted_sample`` — never
  ``spark_partition_id`` or round-robin, which depend on layout;
* **one file per shard** — ``repartition(N, shard)`` makes each shard
  a single task, so ``partitionBy("shard")`` writes one file per
  directory instead of tasks×shards small files (the small-file
  problem that kills object stores);
* **stable intra-shard order** — ``sortWithinPartitions(doc_id)``
  costs a task-local sort (no extra exchange after the repartition)
  and makes shard bytes reproducible.

``shard_assign`` (the placement decision + per-shard balance report)
is oracle-paired; the writer itself is a side effect, pinned by
``tests/test_export.py`` (round-trip completeness, one file per
shard, placement parity with the query, byte-stable re-export).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import tune_session
from cga_logs_to_kinesis_spark.sources import load_table

N_SHARDS = 16
_HEX = "0123456789abcdef"


def shard_column(n_shards: int = N_SHARDS) -> Column:
    """Deterministic shard id 0..n_shards-1 from a salted md5 of
    doc_id.  Built from instr/substring only, so the DuckDB twin is
    exact (no hex→int conversion builtin differences)."""
    h = F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    hi = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    lo = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    return ((hi * 16 + lo) % n_shards).cast("int")


def _shard_sql(n_shards: int = N_SHARDS) -> str:
    h = "md5('shard:' || CAST(doc_id AS VARCHAR))"
    return (f"CAST((((strpos('{_HEX}', substring({h}, 1, 1)) - 1) * 16 "
            f"+ (strpos('{_HEX}', substring({h}, 2, 1)) - 1)) "
            f"% {n_shards}) AS INTEGER)")


def write_training_shards(docs: DataFrame, path: str,
                          n_shards: int = N_SHARDS) -> None:
    """Materialize the corpus as ``path/shard=K/`` parquet, one file
    and one deterministic document set per shard."""
    (docs
     .withColumn("shard", shard_column(n_shards))
     .repartition(n_shards, "shard")
     # leading "shard" matters: partitionBy's writer requires data
     # sorted by the partition column and would otherwise inject its
     # own (unstable) sort, destroying the doc_id order — a sort
     # already prefixed by "shard" satisfies the requirement, so the
     # writer takes the rows as-is
     .sortWithinPartitions("shard", "doc_id")
     .write.partitionBy("shard").mode("overwrite").parquet(path))


def write_training_shards_jsonl(docs: DataFrame, path: str,
                                n_shards: int = N_SHARDS) -> None:
    """JSONL variant of :func:`write_training_shards` — one document
    per line, the format most training loaders stream without a
    parquet reader.  Identical deterministic placement and intra-shard
    doc_id order, one ``shard=K/part-*.txt`` file per shard; to_json
    keeps the serialization JVM-side (no Python in the write path)."""
    cols = docs.columns
    (docs
     .withColumn("shard", shard_column(n_shards))
     .repartition(n_shards, "shard")
     .sortWithinPartitions("shard", "doc_id")
     .select("shard",
             F.to_json(F.struct(*[F.col(c) for c in cols]))
             .alias("value"))
     .write.partitionBy("shard").mode("overwrite").text(path))


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard balance report for the export placement: every shard
    present, counts within noise of uniform (the pytest asserts the
    writer places files exactly as this query says)."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .withColumn("shard", shard_column())
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id"))
            .orderBy("shard"))


register(QuerySpec(
    "shard_assign", q_shard_assign,
    oracle=f"""
        SELECT {_shard_sql()} AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id
        FROM documents
        GROUP BY 1 ORDER BY 1
    """,
    doc="deterministic export-shard placement (salted-md5 mod N) + "
        "per-shard balance report",
    tags=("llm-pipeline", "sink", "export", "north-star"),
))


# ---------------------------------------------------------------------------
# Seeded epoch shuffle: the training order itself
# ---------------------------------------------------------------------------
# shard_assign decides WHERE a document lives; this decides WHEN the
# trainer sees it.  The epoch shuffle must be (a) uniform — adjacent
# corpus regions (one crawl, one source) must not train adjacently,
# (b) reproducible — resume-from-step needs the same permutation on
# every run and cluster layout, (c) re-drawable — a new epoch seed is
# a new permutation.  All three fall out of ordering by
# md5(epoch-seed || doc_id): the order KEY is row-local (no global
# window, no zipWithIndex — a rank column would force a
# single-partition WindowExec exactly where the corpus is largest),
# and Spark's orderBy on the key is a range-partitioned parallel
# sort, the same plan trainers' data loaders shard.  The schedule
# bucket (leading hex nibble, 16 coarse "macro-batches") is likewise
# row-local; its per-bucket source/lang mix is the interleaving
# quality check — a shuffle that left a source clumped would show a
# bucket dominated by it.

TRAIN_SEED = "epoch0"


def training_order_key(seed: str = TRAIN_SEED) -> Column:
    """The seeded permutation key — row-local, engine-portable."""
    return F.md5(F.concat(F.lit(f"order:{seed}:"),
                          F.col("doc_id").cast("string")))


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document epoch-shuffle assignment: the order key, the
    schedule bucket, and the source carried along so the trainer-side
    loader can verify interleaving."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    key = training_order_key()
    return (docs.select(
                "doc_id", "source",
                key.alias("order_key"),
                (F.instr(F.lit(_HEX), F.substring(key, 1, 1)) - 1)
                .cast("int").alias("sched_bucket"))
            .orderBy("order_key"))


def q_training_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaving quality report: per schedule bucket, volume
    and source/lang diversity.  Uniform hashing makes every bucket a
    near-proportional sample of the corpus — a clumped source (one
    crawl trained contiguously) would surface as a bucket whose
    n_sources collapses."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    key = training_order_key()
    return (docs.select(
                "source", "lang", "n_chars",
                (F.instr(F.lit(_HEX), F.substring(key, 1, 1)) - 1)
                .cast("int").alias("sched_bucket"))
            .groupBy("sched_bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("source").alias("n_sources"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum("n_chars").cast("long").alias("total_chars"))
            .orderBy("sched_bucket"))


_ORDER_KEY_SQL = ("md5('order:" + TRAIN_SEED
                  + ":' || CAST(doc_id AS VARCHAR))")
_BUCKET_SQL = (f"CAST((strpos('{_HEX}', substring({_ORDER_KEY_SQL},"
               f" 1, 1)) - 1) AS INTEGER)")

register(QuerySpec(
    "training_order", q_training_order,
    oracle=f"""
        SELECT doc_id, source,
               {_ORDER_KEY_SQL} AS order_key,
               {_BUCKET_SQL} AS sched_bucket
        FROM documents
        ORDER BY order_key
    """,
    doc=f"seeded epoch shuffle (seed '{TRAIN_SEED}'): per-doc "
        "order key md5(seed||doc_id) + 16-way schedule bucket — "
        "row-local keys, range-partitioned sort, no global window; "
        "reproducible resume and re-drawable epochs",
    tags=("llm-pipeline", "export", "north-star"),
))

register(QuerySpec(
    "training_interleave", q_training_interleave,
    oracle=f"""
        SELECT {_BUCKET_SQL} AS sched_bucket,
               COUNT(*) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1 ORDER BY 1
    """,
    doc="epoch-shuffle interleaving audit: per schedule bucket, doc "
        "volume and source/lang diversity — a clumped source would "
        "collapse a bucket's n_sources",
    tags=("llm-pipeline", "export", "audit"),
))
