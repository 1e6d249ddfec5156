"""Incremental corpus stores: batch reports folded from micro-batches.

A training-data pipeline at 100 TB doesn't re-scan the corpus per run
— new documents arrive continuously (crawl drops, upload batches).
Each store family here pairs a ``foreachBatch`` sink that writes
per-batch mergeable partials (batch_id-keyed, so a replay overwrites
its own partition) with readers that fold them into the batch
operator's exact report, and compactors that fold old partitions into
a watermark base.  ``STORE_FAMILIES`` at the end indexes them.

No registered query, daemon path or benchmark reaches this module;
only its tests do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def stream_documents(spark: SparkSession, src_dir: str,
                     schema: str | None = None) -> DataFrame:
    """File stream over a documents-shaped parquet directory."""
    schema = schema or ("doc_id long, text string, lang string, "
                        "source string, n_chars long")
    return spark.readStream.schema(schema).parquet(src_dir)


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a batch_id-keyed state store, or return ``None`` IFF the
    store has never been created (the genuine first-batch case).

    Two shapes count as "never created": the path is absent, or the
    path exists but holds NO data files — an EMPTY first micro-batch
    still runs the store write, which lays down the directory (and
    _SUCCESS) with zero parquet footers, and the next batch's read
    then fails schema inference; treating that as anything but empty
    state would wedge the stream permanently (every replay re-raises
    before the store ever gains a footer).

    Any other read failure PROPAGATES: a transient filesystem/object-
    store error or a corrupt footer mistaken for "first batch" would
    make the sink recompute from empty state and silently discard
    every partial folded so far.  Crash-and-replay is the correct
    behavior; state amnesia is not.  (The no-data-file probe below
    uses a local glob — swap for the Hadoop FS listing when the store
    lives on an object store.)"""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        klass = ""
        # getCondition is the Spark 4 name; getErrorClass its
        # deprecated 3.x alias — probe in that order so the guard
        # survives either direction of a version bump.
        for probe in ("getCondition", "getErrorClass"):
            try:
                klass = getattr(e, probe)() or ""
                break
            except Exception:
                continue
        msg = str(e)
        if "PATH_NOT_FOUND" in klass or "Path does not exist" in msg:
            return None
        if ("UNABLE_TO_INFER_SCHEMA" in klass
                or "Unable to infer schema" in msg):
            import glob as _glob
            import os as _os
            data = [p for p in _glob.glob(
                        _os.path.join(path, "**", "*"), recursive=True)
                    if _os.path.isfile(p)
                    and not _os.path.basename(p).startswith(("_", "."))]
            if not data:
                return None          # empty store: first-batch semantics
        raise


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as partition ``batch_id`` of the store at ``path``,
    replacing that partition only (dynamic partition overwrite).

    Every store write in this module goes through here, and it is
    what makes the sinks exactly-once under foreachBatch's
    at-least-once replay: a replayed batch overwrites its own
    partition instead of appending a duplicate, and a compactor
    rewrites its base partition without touching the others."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(path))


def streaming_line_dedup_intra(docs: DataFrame) -> DataFrame:
    """Within-document repeated-line removal over a document stream —
    stateless, because the computation needs only the document's own
    lines: the higher-order-function form
    (``operators/line_dedup.py::intra_dedup_columns``) probes each
    line against its in-array prefix, zero shuffle, so it composes
    over a pure stream.  An independent ALGORITHM from the batch
    query's groupBy+join — the parity test is a cross-check of both."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        intra_dedup_columns,
    )
    n_lines, n_dropped, scrubbed = intra_dedup_columns(F.col("text"))
    return docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_dropped.alias("n_dropped"),
        scrubbed.alias("scrubbed_text"))


def compact_profile_values(spark: SparkSession, values_dir: str,
                           upto_batch_id: int) -> int:
    """Compact the table-profile DISTINCT-VALUES store (see
    :func:`table_profile_sink`): the consumer is ``count_distinct`` per column, idempotent under
    duplicate rows, so a crash between the base write and the cleanup
    only leaves harmless duplicates.  The PARTIALS store does NOT get
    a compactor: its consumer SUMS null counts, which double-counts
    under duplicates (it needs a transactional swap); its per-batch partitions
    are 1 row per profiled column, so the pressure is bounded anyway.
    Run with the stream stopped."""
    return _compact_distinct_store(spark, values_dir, upto_batch_id,
                                   ["col_name", "val"])


def _compact_distinct_store(spark: SparkSession, store_dir: str,
                            upto_batch_id: int, cols: list[str]) -> int:
    """Fold per-batch partitions of a DISTINCT-consumed store into the
    batch_id=-1 base — shared by the bloom and profile-values
    compactors (both consumers are idempotent under duplicate rows,
    the property that makes the crash window harmless)."""
    import shutil

    df = spark.read.parquet(store_dir)
    old = (df.filter((F.col("batch_id") >= 0)
                     & (F.col("batch_id") <= upto_batch_id))
           .select(*cols))
    base = spark.read.parquet(store_dir) \
        .filter(F.col("batch_id") == -1).select(*cols)
    n_folded = (df.filter((F.col("batch_id") >= 0)
                          & (F.col("batch_id") <= upto_batch_id))
                .select("batch_id").distinct().count())
    if n_folded == 0:
        return 0
    # Materialize the merged set BEFORE the overwrite: the
    # batch_id=-1 base partition is both an input (``base``) and the
    # replaced output, and a lazy plan that scans the partition while
    # dynamic-overwrite replaces it can lose the base on object stores
    # (rename-less commit) or under a concurrently-reading sink.
    # localCheckpoint pins the union to executor storage so the write
    # job reads blocks, never the parquet being rewritten.  Compaction
    # still requires the stream to be STOPPED (see docstring) — the
    # checkpoint closes the self-read hazard, not concurrent appends.
    merged = (base.unionByName(old).distinct()
              .coalesce(1)
              .localCheckpoint())
    _write_batch(merged, store_dir, -1)
    # cleanup AFTER the base partition is durable; a crash here only
    # leaves harmless duplicates (see docstring)
    import os
    for name in os.listdir(store_dir):
        if not name.startswith("batch_id="):
            continue
        bid = name.split("=", 1)[1]
        if bid != "-1" and 0 <= int(bid) <= upto_batch_id:
            shutil.rmtree(os.path.join(store_dir, name))
    return n_folded


def stream_documents_jsonl_audit(spark: SparkSession, path: str,
                                 max_files_per_trigger: int | None = None,
                                 ) -> DataFrame:
    """Streaming twin of ``operators/ingest_audit.py::
    load_documents_jsonl_audit``: a PERMISSIVE JSONL file stream with
    ``_corrupt_record`` surfaced and the ``shard=K/`` layout exposed as
    a partition column — the continuously-arriving form of a crawl
    drop directory.  Reader schema/options come from the SHARED
    ``audit_read_contract`` so batch and stream can't diverge."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        audit_read_contract,
    )

    schema, options = audit_read_contract()
    reader = spark.readStream.schema(schema).options(**options)
    if max_files_per_trigger is not None:
        # a SOURCE option (backpressure knob): bounds each micro-batch
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    return reader.json(path)


def ingest_audit_sink(store_dir: str):
    """foreachBatch twin of ``q_jsonl_ingest_report``: each arriving
    micro-batch folds to per-shard PARTIAL audit rows (the same
    ``shard_audit_aggs`` expressions as the batch report — parity by
    construction) appended to a ``batch_id``-keyed parquet store.

    Every aggregate is mergeable, so
    :func:`ingest_audit_report_from_store` re-folds the partials into
    the exact whole-corpus report no matter how files were split into
    micro-batches.  EXACTLY-ONCE: the single write is a batch_id
    dynamic-overwrite partition, so a replay (crash after the write,
    before the checkpoint commit — foreachBatch's at-least-once
    window) overwrites its own partition identically; the fold sums
    each batch_id partition once.  No cross-batch read exists here at
    all (unlike the dedup sinks), so no ``batch_id < current`` filter
    is needed.  Pinned by tests/test_corpus_stream.py::
    test_ingest_audit_crash_after_write_is_exactly_once.

    100 TB shape: the audit never joins and never holds state beyond
    one micro-batch — counts fold map-side, the store grows one tiny
    row-group per (batch, shard), and a hot producer is visible in the
    fold as soon as its batch lands."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        shard_audit_aggs,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        report = (batch_df
                  .groupBy(F.col("shard").cast("bigint").alias("shard"))
                  .agg(*shard_audit_aggs()))
        _write_batch(report, store_dir, batch_id)

    return process


def ingest_audit_report_from_store(spark: SparkSession,
                                   store_dir: str) -> DataFrame:
    """Fold the per-batch partial audit rows into the whole-corpus
    per-shard report — bit-identical to ``q_jsonl_ingest_report`` over
    the same files (counts/sums add, min/max fold).  Goes through
    ``_read_store``: a never-created store is empty state."""
    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], "shard long, n_lines long, n_corrupt long, "
                "n_valid long, n_null_text long, n_missing_id long, "
                "n_chars_liars long, min_doc_id long, "
                "max_doc_id long, total_chars long")
    s = _effective_mg_summaries(s)   # watermark-aware: compacted base
    return (s.groupBy("shard")
            .agg(F.sum("n_lines").alias("n_lines"),
                 F.sum("n_corrupt").alias("n_corrupt"),
                 F.sum("n_valid").alias("n_valid"),
                 F.sum("n_null_text").alias("n_null_text"),
                 F.sum("n_missing_id").alias("n_missing_id"),
                 F.sum("n_chars_liars").alias("n_chars_liars"),
                 F.min("min_doc_id").alias("min_doc_id"),
                 F.max("max_doc_id").alias("max_doc_id"),
                 F.sum("total_chars").alias("total_chars"))
            .orderBy("shard"))


# ---------------------------------------------------------------------------
# Streaming table profile: the schema-level ingest gate run continuously
# ---------------------------------------------------------------------------

def stream_lineitem(spark: SparkSession, src_dir: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
    """File stream over a lineitem-shaped parquet drop directory —
    explicit schema (schema.LINEITEM), no inference scan."""
    from cga_logs_to_kinesis_spark.schema import LINEITEM
    reader = spark.readStream.schema(LINEITEM)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def table_profile_sink(partials_dir: str, values_dir: str):
    """foreachBatch twin of ``operators/ingest_audit.py::
    q_table_profile``: each arriving micro-batch writes (1) its
    per-column profile PARTIALS (the same ``profile_partials``
    expressions as the batch query — null counts add, min/max fold)
    and (2) its DISTINCT (col_name, value) pairs, both into
    ``batch_id``-keyed parquet stores.

    :func:`table_profile_report_from_store` then folds the partials
    and counts distinct values over the union of per-batch distinct
    sets — bit-identical to the batch profile over the same rows, no
    matter how files split into micro-batches, because both stores are
    mergeable: partial min/max/counts fold associatively, and
    set-union-then-distinct equals distinct-of-union.

    EXACTLY-ONCE: both writes are ``batch_id`` dynamic-overwrite
    partitions and neither reads across batches, so a foreachBatch
    replay (crash between the writes and the checkpoint commit)
    overwrites its own partitions identically — the ingest_audit_sink
    argument, pinned by tests/test_corpus_stream.py.

    100 TB shape: per batch the value store grows by the batch's
    distinct values only (bounded by column cardinality, not row
    count, for every gate-worthy column); swap the exact value store
    for a per-batch HLL sketch column when profiling genuinely
    unbounded key columns — the same exact-for-oracle /
    sketch-at-scale swap as the batch query documents."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        profile_partials,
        profile_value_pairs,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(profile_partials(batch_df), partials_dir, batch_id)
        _write_batch(profile_value_pairs(batch_df).distinct(),
                     values_dir, batch_id)

    return process


def table_profile_report_from_store(spark: SparkSession,
                                    partials_dir: str,
                                    values_dir: str) -> DataFrame:
    """Fold the per-batch profile partials + distinct-value sets into
    the whole-corpus per-column profile — bit-identical to
    ``q_table_profile`` over the same rows."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        finish_profile,
    )
    partials = _read_store(spark, partials_dir)
    values = _read_store(spark, values_dir)
    if partials is None or values is None:
        return spark.createDataFrame(
            [], "col_name string, n_null long, n_distinct long, "
                "min_num double, max_num double, "
                "min_str string, max_str string")
    distincts = (values.groupBy("col_name")
                 .agg(F.count_distinct("val").alias("n_distinct")))
    return finish_profile(partials.drop("batch_id"), distincts)


# ---------------------------------------------------------------------------
# Streaming heavy hitters: Misra-Gries summaries folded across batches
# ---------------------------------------------------------------------------

def heavy_hitters_sink(store_dir: str):
    """foreachBatch twin of ``operators/sketches.py::q_heavy_hitters``
    — frequent-token tracking over an unbounded document stream with
    O(K) state per partition and NO cross-batch reads at all.

    Each arriving micro-batch is tokenized by the SHARED
    ``tokenize_docs`` front and summarized by the SAME per-partition
    Misra-Gries pass as the batch query (``_mg_partitions`` — parity
    by construction); the per-partition summaries (token,
    counter-lower-bound) plus the batch token count land under the
    batch's ``batch_id`` partition.  MG summaries are MERGEABLE:
    counter values sum, and the undercount slack budgets ADD to
    < N/(K+1) total — so :func:`heavy_hitters_from_store` folds the
    store into a guaranteed SUPERSET of the true heavy hitters with
    per-token count brackets, no matter how documents split into
    batches.  Unlike the batch query there is no exact-verify pass
    (that would re-read unbounded history); the fold reports
    [cnt_lower, cnt_upper] brackets instead, and the bracket width is
    the documented price of streaming.

    EXACTLY-ONCE: the single write per batch is a batch_id
    dynamic-overwrite partition; a replayed batch re-tokenizes the
    same files into the same partitions and overwrites identically
    (the ``ingest_audit_sink`` discipline — no ``batch_id < current``
    read needed because no batch reads the store).  The store gains
    one partition set per batch; :func:`compact_heavy_hitters_store`
    folds history into a single base partition whenever the
    small-files pressure warrants, without changing any fold result.
    Pinned by tests/test_sketches.py::test_heavy_hitters_sink_*."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        MG_SUMMARY_SCHEMA,
        _mg_partitions,
        tokenize_docs,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        summary = tokenize_docs(batch_df).mapInPandas(
            _mg_partitions, MG_SUMMARY_SCHEMA)
        _write_batch(summary, store_dir, batch_id)

    return process


def _effective_mg_summaries(s: DataFrame) -> DataFrame:
    """The live rows of a heavy-hitters MG store: the newest base
    partition (most-negative ``batch_id``; ``-(upto+2)`` encodes that
    it folds every batch partition ``<= upto``) plus batch partitions
    ABOVE its fold watermark.  Encoding the watermark in the
    partition id — instead of the distinct stores' plain ``-1`` base —
    is what makes compaction crash-safe for a SUMMING consumer: a
    crash between the base write and the old-partition cleanup leaves
    stale dirs behind, and a reader that summed base + stale batches
    would double-count; here stale batches sit at or below the
    watermark and are excluded by construction, so the leftover is
    dead weight, not corruption (re-run compaction to finish the
    cleanup)."""
    min_bid = s.agg(F.min("batch_id")).first()[0]
    if min_bid is not None and min_bid < -1:
        upto = -min_bid - 2
        return s.filter((F.col("batch_id") == min_bid)
                        | (F.col("batch_id") > upto))
    return s


def _cleanup_stale_mg_dirs(store_dir: str, base_bid: int) -> int:
    """Remove batch directories a summing reader already ignores:
    older base partitions and batch partitions at or below the live
    base's fold watermark (``-base_bid - 2``).  Safe to run any time
    ``base_bid`` is the newest (most-negative) base on disk."""
    import os
    import shutil

    watermark = -base_bid - 2
    removed = 0
    for name in os.listdir(store_dir):
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid != base_bid and (bid < -1 or 0 <= bid <= watermark):
            shutil.rmtree(os.path.join(store_dir, name))
            removed += 1
    return removed


def compact_heavy_hitters_store(spark: SparkSession, store_dir: str,
                                upto_batch_id: int) -> int:
    """Fold the MG summary store's batch partitions at or below
    ``upto_batch_id`` (plus any existing base) into ONE merged base
    partition, returning the number of batch partitions folded.

    MG summaries are mergeable by construction — counters SUM per
    token and the per-slice slack budgets ADD — and the fold in
    :func:`heavy_hitters_from_store` computes its bracket from the
    TOTAL token count and the summed counters only, so folding
    partitions ahead of time changes NOTHING: fold-after-compaction
    equals fold-before, brackets identical (pinned by
    tests/test_sketches.py::test_compact_heavy_hitters_store_*).
    Without this, the store grows one partition set per micro-batch
    forever (the small-files problem; the summaries themselves are
    tiny).

    The merged base lands at ``batch_id = -(max_folded + 2)`` where
    ``max_folded`` is the HIGHEST batch id actually folded — the
    watermark is clamped to what exists, so an ``upto_batch_id``
    ahead of the stream (batches 0-2 on disk, upto=10) cannot write
    a watermark that would silently exclude batches 3..10 forever
    when they later arrive.  See :func:`_effective_mg_summaries` for
    why the watermark lives in the partition id.  Run with the
    stream stopped; a crash between the base write and the cleanup
    leaves ignored stale directories, and a RE-RUN (even one that
    finds nothing new to fold) finishes the cleanup."""
    df = _read_store(spark, store_dir)
    if df is None:
        return 0
    live = _effective_mg_summaries(df)
    fold_sel = (F.col("batch_id") < -1) | (F.col("batch_id")
                                           <= upto_batch_id)
    to_fold = live.filter(fold_sel)
    stats = (to_fold.filter(F.col("batch_id") >= 0)
             .agg(F.countDistinct("batch_id").alias("n"),
                  F.max("batch_id").alias("mx")).first())
    n_folded, max_folded = stats["n"], stats["mx"]
    if n_folded == 0:
        # Nothing new to fold — but a prior run may have crashed
        # between its base write and its cleanup, so finish the
        # cleanup the docstring promises before returning.
        min_bid = df.agg(F.min("batch_id")).first()[0]
        if min_bid is not None and min_bid < -1:
            _cleanup_stale_mg_dirs(store_dir, min_bid)
        return 0
    tokens = (to_fold.filter(F.col("token").isNotNull())
              .groupBy("token").agg(F.sum("cnt").alias("cnt"))
              .withColumn("part_tokens", F.lit(0).cast("long")))
    total = (to_fold.agg(F.sum("part_tokens").alias("pt"))
             .select(F.lit(None).cast("string").alias("token"),
                     F.lit(0).cast("long").alias("cnt"),
                     F.coalesce(F.col("pt"), F.lit(0)).cast("long")
                     .alias("part_tokens")))
    new_bid = -(max_folded + 2)
    # Materialized before the write for the same self-read reason as
    # _compact_distinct_store: the old base partition is both input
    # and (via the cleanup below) removed state.
    merged = (tokens.unionByName(total)
              .coalesce(1)
              .localCheckpoint())
    _write_batch(merged, store_dir, new_bid)
    # cleanup AFTER the new base is durable; stale dirs are ignored
    # by _effective_mg_summaries if this is interrupted
    _cleanup_stale_mg_dirs(store_dir, new_bid)
    return n_folded


def heavy_hitters_from_store(spark: SparkSession,
                             store_dir: str) -> DataFrame:
    """Fold the persisted MG summaries into the heavy-hitter CANDIDATE
    report: every token whose count COULD exceed the N/(K+1)
    threshold, with its [cnt_lower, cnt_upper] bracket.

    Guarantees (tests pin both): the token set is a superset of the
    exact batch heavy hitters over the same corpus, and each true
    heavy hitter's exact count lies inside its bracket — because each
    summary undercounts its own slice by < n_slice/(K+1) and slices
    partition the corpus, so the folded undercount is < N/(K+1)
    total.  ``slack`` uses the integer ceiling so the bracket is
    safe under integer division on any engine."""
    from cga_logs_to_kinesis_spark.operators.sketches import MG_COUNTERS

    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], "token string, cnt_lower long, cnt_upper long")
    s = _effective_mg_summaries(s)
    total = (s.agg(F.sum("part_tokens")).first()[0]) or 0
    slack = total // (MG_COUNTERS + 1) + 1
    folded = (s.filter(F.col("token").isNotNull())
              .groupBy("token")
              .agg(F.sum("cnt").alias("cnt_lower")))
    return (folded
            .withColumn("cnt_upper",
                        F.col("cnt_lower") + F.lit(int(slack)))
            .filter(F.col("cnt_upper") * (MG_COUNTERS + 1)
                    > F.lit(int(total)))
            .orderBy(F.col("cnt_lower").desc(), "token"))


# ---------------------------------------------------------------------------
# Streaming Bloom blocklist: contamination fingerprints as a stream
# ---------------------------------------------------------------------------

def bloom_positions_sink(store_dir: str):
    """foreachBatch twin of the blocklist half of
    ``operators/sketches.py::q_bloom_decontaminate``: benchmark /
    contamination documents ARRIVE as a stream (eval sets get
    published continuously), and each batch's fingerprint bit
    positions land as DISTINCT rows under the batch's ``batch_id``
    partition.  Positions use the SAME ``_positions_expr`` fragment
    as the batch build and the DuckDB oracle, so the folded bitmap is
    bit-identical to a batch build over the union of all arrivals
    (tests/test_corpus_stream.py::test_bloom_sink_*).

    The store is DISTINCT-consumed — the bitmap is the union of
    positions and OR is idempotent — so it shares the distinct-store
    algebra exactly: replays overwrite their own partition, duplicate
    rows can never change the bitmap, and
    :func:`compact_bloom_store` is the shared base-fold compactor.
    Boundedness is structural: <= BLOOM_BITS distinct rows per batch
    partition and <= BLOOM_BITS rows total after compaction, however
    large the blocklist grows."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        _fp_col,
        _positions_expr,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pos = (batch_df.select(_fp_col().alias("fp"))
               .filter(F.col("fp").isNotNull())
               .select(F.explode(F.expr(_positions_expr("fp")))
                       .alias("pos"))
               .distinct())
        _write_batch(pos, store_dir, batch_id)

    return process


def compact_bloom_store(spark: SparkSession, store_dir: str,
                        upto_batch_id: int) -> int:
    """Fold the position store's batch partitions into the
    ``batch_id=-1`` base — the shared distinct-store compactor; the
    crash window between base write and cleanup leaves only harmless
    duplicate positions (OR is idempotent)."""
    return _compact_distinct_store(spark, store_dir, upto_batch_id,
                                   ["pos"])


def bloom_bitmap_from_store(spark: SparkSession, store_dir: str,
                            bits: int):
    """The folded bitmap: union of every stored position.  The
    distinct-position set is bounded by ``bits`` regardless of how
    many blocklist batches arrived, so the collect is structurally
    bounded (same argument as the batch build's parity reference)."""
    import numpy as np

    bitmap = np.zeros(bits, dtype=bool)
    s = _read_store(spark, store_dir)
    if s is None:
        return bitmap
    pos_rows = s.select("pos").distinct().collect()
    if pos_rows:
        bitmap[[r.pos for r in pos_rows]] = True
    return bitmap


def bloom_decontaminate_from_store(spark: SparkSession, store_dir: str,
                                   docs: DataFrame) -> DataFrame:
    """Decontaminate a corpus against the STREAMED blocklist: the
    per-source keep/drop report using the store's folded bitmap and
    the shared :func:`~cga_logs_to_kinesis_spark.operators.sketches.
    bloom_probe` (membership = H bitmap probes per document — no
    join, no shuffle over the corpus, identical arithmetic to the
    batch query).  Unlike the batch report it cannot count
    n_blocklisted/n_false_pos — ground-truth membership belongs to
    the blocklist producer, not the probe side."""
    from cga_logs_to_kinesis_spark.operators.dedup import CHAR_HASH_P
    from cga_logs_to_kinesis_spark.operators.sketches import (
        BLOOM_BITS,
        _fp_col,
        bloom_probe,
    )

    bitmap = bloom_bitmap_from_store(spark, store_dir, BLOOM_BITS)
    in_bloom = bloom_probe(bitmap)
    flagged = (docs.select("source", _fp_col().alias("fp"))
               .select("source",
                       in_bloom(F.col("fp") % CHAR_HASH_P)
                       .alias("hit")))
    return (flagged.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("hit").cast("bigint")).alias("n_dropped"),
                 F.sum((~F.col("hit")).cast("bigint")).alias("n_kept"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Streaming encoding-anomaly audit: per-batch mergeable partials
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py::
# q_encoding_anomaly_report — same posture as ingest_audit_sink:
# every aggregate is a count or sum over row-local projections, so
# per-(batch, source) partials re-fold into the exact whole-corpus
# report no matter how the crawl split into micro-batches.  The sink
# reads nothing across batches; its single write is a batch_id
# dynamic-overwrite partition, so a foreachBatch replay overwrites
# itself identically (the exactly-once argument ingest_audit_sink
# documents).  At 100 TB this is the continuous form of the ingest
# encoding gate: one scan per batch, map-side folds, a producer that
# starts shipping mojibake is visible in the fold as soon as its
# batch lands.

def encoding_anomaly_sink(store_dir: str):
    """foreachBatch twin of ``q_encoding_anomaly_report`` — per-batch
    per-source partial anomaly counts appended batch_id-keyed."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        encoding_anomaly_aggs,
        encoding_per_doc,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        report = (encoding_per_doc(batch_df)
                  .groupBy("source").agg(*encoding_anomaly_aggs()))
        _write_batch(report, store_dir, batch_id)

    return process


def encoding_anomaly_report_from_store(spark: SparkSession,
                                       store_dir: str) -> DataFrame:
    """Fold the per-batch partials into the whole-corpus per-source
    report — bit-identical to ``q_encoding_anomaly_report`` over the
    same documents (every column is a count or sum).  Goes through
    ``_read_store`` like every sibling reader: a never-created or
    zero-footer store is empty state, not a crash."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        ENC_PATTERNS,
    )

    s = _read_store(spark, store_dir)
    if s is None:
        cols = ["n_docs", "n_chars", *ENC_PATTERNS, "dirty_docs"]
        return spark.createDataFrame(
            [], "source string, " + ", ".join(f"{c} long"
                                              for c in cols))
    s = _effective_mg_summaries(s)   # watermark-aware: compacted base
    sum_cols = [c for c in s.columns
                if c not in ("source", "batch_id")]
    return (s.groupBy("source")
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
            .orderBy("source"))


def script_mixing_sink(store_dir: str):
    """foreachBatch twin of ``q_script_mixing_report`` — the
    encoding_anomaly_sink posture verbatim: per-batch per-source
    partial script counts appended batch_id-keyed (every aggregate a
    count/sum over the shared ``script_counts_per_doc`` projection,
    so the fold is exact under any micro-batch split; the single
    dynamic-overwrite write makes replays structurally
    exactly-once)."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        script_counts_per_doc,
        script_mixing_aggs,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        report = (script_counts_per_doc(batch_df)
                  .groupBy("source").agg(*script_mixing_aggs()))
        _write_batch(report, store_dir, batch_id)

    return process


def script_mixing_report_from_store(spark: SparkSession,
                                    store_dir: str) -> DataFrame:
    """Fold the per-batch partials into the whole-corpus per-source
    report — bit-identical to ``q_script_mixing_report`` (every
    column is a count or sum); never-created store reads as a typed
    empty frame."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        SCRIPT_CLASSES,
    )

    s = _read_store(spark, store_dir)
    if s is None:
        cols = ["n_docs", *SCRIPT_CLASSES,
                "multi_script_docs", "confusable_docs"]
        return spark.createDataFrame(
            [], "source string, " + ", ".join(f"{c} long"
                                              for c in cols))
    s = _effective_mg_summaries(s)   # watermark-aware: compacted base
    sum_cols = [c for c in s.columns
                if c not in ("source", "batch_id")]
    return (s.groupBy("source")
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Streaming skew monitor: exact key frequencies as a SUM-fold store
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py's skew loop
# (join_key_skew diagnoses -> salted_join_plan plans ->
# salted_join_hot mitigates).  A production pipeline's shuffle-key
# frequencies drift as crawls land; re-scanning 100 TB per planning
# decision is a non-starter, so the monitor folds each arriving
# micro-batch's (key_col, k) projection to exact per-batch count
# partials and the planner reads the SUM of the store — the same
# `salt_plan_from_frequencies` tail as the batch query, so the plans
# are bit-identical by construction.  Counts SUM, so the store uses
# the heavy-hitters discipline end to end: per-batch dynamic-
# overwrite partitions (replay overwrites itself — exactly-once
# structural), compaction with the watermark-in-partition-id base so
# a crash between base write and cleanup can never double-count
# (_effective_mg_summaries' argument, reused verbatim).

def skew_freq_sink(store_dir: str):
    """foreachBatch sink over pre-projected (key_col, k) key-value
    batches (operators/ingest_audit.py::skew_kv rows): per-batch
    exact frequency partials appended batch_id-keyed.  The sink reads
    nothing across batches; per-batch work is one partial-agg groupBy
    of the batch."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df.groupBy("key_col", "k")
                     .agg(F.count("*").alias("f")), store_dir, batch_id)

    return process


def skew_frequencies_from_store(spark: SparkSession,
                                store_dir: str) -> DataFrame:
    """Fold the partials into the exact whole-corpus (key_col, k, f)
    frequency table — bit-identical to
    ``ingest_audit.skew_key_frequencies`` over the same rows under
    ANY micro-batch split (counts sum).  Reads through the
    watermark-aware live-row filter so a crashed compaction cannot
    double-count."""
    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], "key_col string, k string, f long")
    return (_effective_mg_summaries(s)
            .groupBy("key_col", "k").agg(F.sum("f").alias("f")))


def _compact_mergeable_store(spark: SparkSession, store_dir: str,
                             upto_batch_id: int,
                             group_cols: list[str],
                             fold) -> int:
    """Generic compactor for a MERGEABLE-partials store: fold batch
    partitions at or below ``upto_batch_id`` (plus any existing base)
    into one merged base at ``batch_id = -(max_folded + 2)`` — the
    heavy-hitters watermark discipline, because a folding consumer
    must never see base + stale batch rows together (see
    _effective_mg_summaries).  ``fold(grouped)`` supplies the merge
    aggregates (sums / mins / maxes — whatever the family's partials
    re-fold with).  Run with the stream stopped; re-run to finish an
    interrupted cleanup."""
    df = _read_store(spark, store_dir)
    if df is None:
        return 0
    live = _effective_mg_summaries(df)
    fold_sel = (F.col("batch_id") < -1) | (F.col("batch_id")
                                           <= upto_batch_id)
    to_fold = live.filter(fold_sel)
    stats = (to_fold.filter(F.col("batch_id") >= 0)
             .agg(F.countDistinct("batch_id").alias("n"),
                  F.max("batch_id").alias("mx")).first())
    n_folded, max_folded = stats["n"], stats["mx"]
    if n_folded == 0:
        min_bid = df.agg(F.min("batch_id")).first()[0]
        if min_bid is not None and min_bid < -1:
            _cleanup_stale_mg_dirs(store_dir, min_bid)
        return 0
    new_bid = -(max_folded + 2)
    merged = (fold(to_fold.groupBy(*group_cols))
              .coalesce(1)
              .localCheckpoint())      # self-read: old base is input
    _write_batch(merged, store_dir, new_bid)
    _cleanup_stale_mg_dirs(store_dir, new_bid)
    return n_folded


def _sum_fold(*cols: str):
    """Merge aggregates for a pure-counts partials store."""
    return lambda g: g.agg(*[F.sum(c).alias(c) for c in cols])


def compact_skew_freq_store(spark: SparkSession, store_dir: str,
                            upto_batch_id: int) -> int:
    """Fold frequency partials into the watermark base (counts SUM)."""
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["key_col", "k"],
        _sum_fold("f"))


def compact_encoding_store(spark: SparkSession, store_dir: str,
                           upto_batch_id: int) -> int:
    """Fold encoding-audit partials (every column a count/sum) into
    the watermark base — without this the store grows one partition
    set per micro-batch forever."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        ENC_PATTERNS,
    )

    cols = ["n_docs", "n_chars", *ENC_PATTERNS, "dirty_docs"]
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["source"],
        _sum_fold(*cols))


def compact_script_mixing_store(spark: SparkSession, store_dir: str,
                                upto_batch_id: int) -> int:
    """Fold script-mixing partials (counts/sums) into the base."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        SCRIPT_CLASSES,
    )

    cols = ["n_docs", *SCRIPT_CLASSES,
            "multi_script_docs", "confusable_docs"]
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["source"],
        _sum_fold(*cols))


def compact_ingest_audit_store(spark: SparkSession, store_dir: str,
                               upto_batch_id: int) -> int:
    """Fold JSONL-audit partials into the base: counts SUM, the
    doc-id extrema fold with MIN/MAX — the same merge the reader
    itself applies, so fold-after-compaction == fold-before."""
    sums = ["n_lines", "n_corrupt", "n_valid", "n_null_text",
            "n_missing_id", "n_chars_liars", "total_chars"]

    def fold(g):
        return g.agg(*[F.sum(c).alias(c) for c in sums],
                     F.min("min_doc_id").alias("min_doc_id"),
                     F.max("max_doc_id").alias("max_doc_id"))

    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["shard"], fold)


def salted_join_plan_from_store(spark: SparkSession,
                                store_dir: str) -> DataFrame:
    """The continuously-maintained mitigation plan: the batch
    planner's exact tail (`salt_plan_from_frequencies`) over the
    folded frequency store — bit-identical to ``salted_join_plan``
    over the same rows, available after every crawl drop without a
    corpus re-scan."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        salt_plan_from_frequencies,
    )

    freq = skew_frequencies_from_store(spark, store_dir)
    return salt_plan_from_frequencies(freq.localCheckpoint())


# ---------------------------------------------------------------------------
# Streaming corpus-drift monitor: per-decile mergeable partials
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py::q_corpus_drift —
# the most streaming-native audit in the registry: a crawl monitor
# alarms per tranche, not per full rescan.  Deciles are keyed by
# FIXED doc_id ranges from a pinned max-doc-id snapshot (the novelty
# store's convention: bucket on a stable id domain, never arrival
# order, so any micro-batch split folds exactly).  Two stores:
#
# * sums: per-(batch, decile) count/sum partials — n_docs,
#   blank_docs, total_chars, plus the DECIMAL(38,6) char sum that
#   makes the folded avg_chars bit-identical to the batch query's
#   davg (decimal addition is exact and order-independent);
# * values: distinct (decile, col, val) rows for the two
#   countDistinct columns (source, lang) — countDistinct is not
#   sum-mergeable, so the spread folds from a distinct-consumed
#   store exactly like table_profile's values store.
#
# The sums store uses the heavy-hitters watermark-base discipline
# (_compact_mergeable_store); the values store the shared distinct
# compactor.  Per-batch work is one scan of the batch with map-side
# folds into at most 10 sum rows + the batch's distinct spread — at
# 100 TB the monitor's state is 10 rows per store generation plus
# |distinct (decile, source/lang)|, and a producer drifting (blank
# flood, char collapse, source churn) is visible as soon as its
# tranche lands, with no corpus re-scan.

def corpus_drift_sink(sum_dir: str, values_dir: str, max_doc_id: int):
    """foreachBatch sink over document batches: per-batch per-decile
    drift partials, decile divisor pinned to ``max_doc_id`` (the
    corpus-wide snapshot the batch query reads off `documents`).
    The sink reads nothing across batches; both writes are batch_id
    dynamic-overwrite partitions, so a replay overwrites itself
    identically (structurally exactly-once)."""
    from cga_logs_to_kinesis_spark.functions.exact import _DEC
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        drift_per_doc,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pd = drift_per_doc(batch_df, max_doc_id).localCheckpoint()
        sums = pd.groupBy("decile").agg(
            F.count("*").alias("n_docs"),
            F.sum("is_blank").alias("blank_docs"),
            F.sum("chars").alias("total_chars"),
            # cast the long DIRECTLY to decimal — the exact same
            # conversion path as the batch query's davg (a double
            # intermediate is exact only below 2^53, so sharing the
            # cast chain, not just the target type, is what makes
            # the folded avg bit-identical by construction)
            F.sum(F.col("chars").cast(_DEC))
            .cast(_DEC).alias("sum_chars_dec"))
        _write_batch(sums, sum_dir, batch_id)
        vals = None
        for col in ("source", "lang"):
            part = (pd.select("decile", F.lit(col).alias("col"),
                              F.col(col).alias("val"))
                    .filter(F.col("val").isNotNull()).distinct())
            vals = part if vals is None else vals.unionByName(part)
        _write_batch(vals, values_dir, batch_id)

    return process


def corpus_drift_from_store(spark: SparkSession, sum_dir: str,
                            values_dir: str) -> DataFrame:
    """Fold both stores into the whole-corpus per-decile drift report
    — bit-identical to ``q_corpus_drift`` over the same documents
    when the sink's ``max_doc_id`` matches the batch query's snapshot
    (counts/sums re-fold; avg_chars folds through the exact decimal
    sum; the spreads count the distinct-consumed values store).
    Never-created stores read as a typed empty frame."""
    schema = ("decile int, n_docs long, blank_docs long, "
              "total_chars long, avg_chars double, n_sources long, "
              "n_langs long")
    s = _read_store(spark, sum_dir)
    v = _read_store(spark, values_dir)
    if s is None or v is None:
        return spark.createDataFrame([], schema)
    s = _effective_mg_summaries(s)   # watermark-aware: compacted base
    sums = (s.groupBy("decile")
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("blank_docs").alias("blank_docs"),
                 F.sum("total_chars").alias("total_chars"),
                 (F.sum("sum_chars_dec").cast("double")
                  / F.sum("n_docs")).alias("avg_chars")))
    spread = (v.select("decile", "col", "val").distinct()
              .groupBy("decile")
              .agg(F.count(F.when(F.col("col") == "source", 1))
                   .alias("n_sources"),
                   F.count(F.when(F.col("col") == "lang", 1))
                   .alias("n_langs")))
    return (sums.join(spread, "decile", "left")
            .select("decile", "n_docs", "blank_docs", "total_chars",
                    "avg_chars",
                    F.coalesce("n_sources", F.lit(0))
                    .alias("n_sources"),
                    F.coalesce("n_langs", F.lit(0)).alias("n_langs"))
            .orderBy("decile"))


def compact_corpus_drift_sums(spark: SparkSession, store_dir: str,
                              upto_batch_id: int) -> int:
    """Fold drift sum partials into the watermark base — counts and
    the exact decimal char sum both SUM, so the shared mergeable
    compactor applies with a type-pinning cast on the decimal."""
    from cga_logs_to_kinesis_spark.functions.exact import _DEC

    def fold(g):
        return g.agg(F.sum("n_docs").alias("n_docs"),
                     F.sum("blank_docs").alias("blank_docs"),
                     F.sum("total_chars").alias("total_chars"),
                     F.sum("sum_chars_dec").cast(_DEC)
                     .alias("sum_chars_dec"))

    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["decile"], fold)


def compact_corpus_drift_values(spark: SparkSession, values_dir: str,
                                upto_batch_id: int) -> int:
    """The values store is DISTINCT-consumed — the shared distinct
    base compactor applies verbatim."""
    return _compact_distinct_store(spark, values_dir, upto_batch_id,
                                   ["decile", "col", "val"])


# ---------------------------------------------------------------------------
# Streaming line-frequency store: boilerplate mining as a SUM fold
# ---------------------------------------------------------------------------
# The streaming twin of operators/line_dedup.py — the shape a crawl
# actually needs: boilerplate (nav bars, footers, cookie banners)
# accretes as new sites land, and re-scanning 100 TB per blocklist
# refresh is a non-starter.  Each arriving micro-batch folds to
# per-(fp, line) distinct-document counts; because a document arrives
# in exactly ONE batch (the document-stream contract every doc-keyed
# store here shares), per-batch distinct (fp, doc) counts SUM to the
# corpus-wide distinct-doc frequency.  The report and the scrub both
# read the folded store: the report is the batch query's exact tail,
# the scrub reuses operators/line_dedup.py::scrub_with_fps, so
# neither can drift from the batch semantics.  Counts SUM -> the
# watermark-base compactor discipline applies.

def line_df_sink(store_dir: str,
                 seen_dir: str | None = None):
    """foreachBatch sink over document batches: per-batch
    (fp, line, n_docs) partials appended batch_id-keyed.  The sink
    reads nothing across batches; per-batch work is the row-local
    line explode plus two partial-agg groupBys of the batch.

    The SUM-fold is exact only under the each-doc-arrives-in-exactly-
    one-batch contract every doc-keyed store here shares; a re-crawled
    document arriving in a SECOND batch would double-count its lines
    and can push a sub-threshold line over BOILER_DF — and the
    consumer that then corrupts data is ``line_scrub_from_store``,
    which would drop legitimate content (r14 advice).  Pass
    ``seen_dir`` to ENFORCE the contract instead of assuming it: a
    tiny batch_id-keyed doc_id store, anti-joined (pre-batch state
    only, ``batch_id < current``, so replays stay exact) so a re-arriving doc_id contributes nothing.
    The guard state is 8 B/doc; the anti-join ships doc_ids only."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        LINE_MIN_CHARS,
        line_flat,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df
        if seen_dir is not None:
            seen = _read_store(spark, seen_dir)
            if seen is not None:
                docs = docs.join(
                    seen.filter(F.col("batch_id") < F.lit(batch_id))
                    .select("doc_id"),
                    "doc_id", "left_anti")
            # fresh docs feed the fold AND the seen-store write
            docs = docs.localCheckpoint()
        line_docs = (line_flat(docs)
                     .filter(F.length("line") >= LINE_MIN_CHARS)
                     .select("fp", "line", "doc_id").distinct())
        _write_batch(line_docs.groupBy("fp", "line")
                     .agg(F.count("*").alias("n_docs")),
                     store_dir, batch_id)
        if seen_dir is not None:
            _write_batch(docs.select("doc_id"), seen_dir, batch_id)

    return process


def _line_df_folded(spark: SparkSession, store_dir: str) -> DataFrame | None:
    s = _read_store(spark, store_dir)
    if s is None:
        return None
    return (_effective_mg_summaries(s)
            .groupBy("fp", "line").agg(F.sum("n_docs").alias("n_docs")))


def boilerplate_report_from_store(spark: SparkSession,
                                  store_dir: str) -> DataFrame:
    """Fold the store into the batch ``boilerplate_lines`` report —
    bit-identical over the same documents (each doc arrives once, so
    the per-batch distinct-doc counts SUM exactly)."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        BOILER_DF,
    )

    folded = _line_df_folded(spark, store_dir)
    if folded is None:
        return spark.createDataFrame([], "line string, n_docs long")
    return (folded.filter(F.col("n_docs") >= BOILER_DF)
            .select("line", "n_docs")
            .orderBy(F.desc("n_docs"), "line")
            .limit(20))


def line_scrub_from_store(spark: SparkSession, docs: DataFrame,
                          store_dir: str) -> DataFrame:
    """Scrub ``docs`` (doc_id, text, ...) against the continuously-
    maintained line-frequency store — the batch scrub's exact tail
    (``scrub_with_fps``) fed by the folded drop list instead of a
    fresh corpus scan.  ``orig_text`` is the incoming text, so
    ``restored`` here means "nothing was dropped".  ``docs`` is
    evaluated twice (the line explode and the final per-doc join —
    the scrub_with_fps contract); pass a localCheckpoint'ed frame if
    it is an expensive computed subtree (plain scans just re-read).

    Correctness rests on the store's each-doc-in-one-batch contract:
    if a re-crawled document fed ``line_df_sink`` twice, its lines
    double-count and a sub-threshold line can cross BOILER_DF — and
    THIS function is where that corruption lands (legitimate content
    silently dropped).  Feed the sink with ``seen_dir`` set to make
    the contract enforced rather than assumed."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        BOILER_DF,
        scrub_with_fps,
    )

    folded = _line_df_folded(spark, store_dir)
    base = docs.select("doc_id", F.col("text").alias("orig_text"),
                       "text")
    if folded is None:
        fps = spark.createDataFrame([], "fp string")
    else:
        fps = (folded.filter(F.col("n_docs") >= BOILER_DF)
               .select("fp"))
    return scrub_with_fps(base, fps)


def line_pipeline_from_store(spark: SparkSession, docs: DataFrame,
                             store_dir: str) -> DataFrame:
    """The full line-hygiene pipeline (``line_dedup_pipeline``
    semantics) over the continuously-maintained line-frequency store:
    intra-doc repeated-line removal ROW-LOCALLY (the streaming form —
    zero shuffle), then the corpus-level scrub against the folded
    drop list.  Matches the batch pipeline bit-for-bit over the same
    corpus PROVIDED the store was fed the same intra-scrubbed
    documents — the fit-after-intra order the batch query pins (fit
    the frequency model on post-intra lines, or a single spam page's
    thousandfold-repeated line votes itself over the threshold): feed
    ``line_df_sink`` with ``streaming_line_dedup_intra(...)`` output
    renamed back to (doc_id, text).  ``restored`` preserves the
    store-scrub convention: True iff the CORPUS pass dropped nothing
    beyond what intra already removed."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        intra_dedup_columns,
    )

    _n_lines, n_dropped, scrubbed = intra_dedup_columns(F.col("text"))
    intra = docs.select(
        "doc_id", n_dropped.alias("n_dropped_intra"),
        scrubbed.alias("text")).localCheckpoint()
    out = line_scrub_from_store(spark, intra, store_dir)
    return (out.join(intra.select("doc_id", "n_dropped_intra"),
                     "doc_id")
            .select("doc_id", "n_dropped_intra", "n_lines",
                    F.col("n_dropped").alias("n_dropped_boiler"),
                    "scrubbed_text", "restored"))


def compact_line_df_store(spark: SparkSession, store_dir: str,
                          upto_batch_id: int) -> int:
    """Fold line-frequency partials into the watermark base (counts
    SUM; line is functionally dependent on fp, so it rides the group
    key)."""
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["fp", "line"],
        _sum_fold("n_docs"))


def line_source_sink(store_dir: str):
    """foreachBatch sink for the ratio gate's second store: per-batch
    (source, fp) line counts — ALL lines, no length filter, because
    the ratio's denominator is a source's total line volume.  Counts
    SUM under any split (plain occurrence counts, not per-doc
    distincts, so no arrival assumption is even needed here)."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        line_flat,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        flat = line_flat(batch_df, "source")
        _write_batch(flat.groupBy("source", "fp")
                     .agg(F.count("*").alias("n_lines")), store_dir, batch_id)

    return process


def boilerplate_ratio_from_store(spark: SparkSession,
                                 source_store: str,
                                 df_store: str) -> DataFrame:
    """The continuously-maintained per-source boilerplate gate: fold
    the (source, fp) line counts, mark fps the folded line-frequency
    store puts at/over the threshold, and emit the batch query's
    exact per-source report (``boilerplate_ratio_by_source``) — the
    whole line-dedup family (report, apply, gate) now runs without a
    corpus re-scan."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        BOILER_DF,
    )

    schema = ("source string, n_lines long, n_boiler_lines long, "
              "boiler_ratio double")
    s = _read_store(spark, source_store)
    folded = _line_df_folded(spark, df_store)
    if s is None or folded is None:
        return spark.createDataFrame([], schema)
    sf = (_effective_mg_summaries(s)
          .groupBy("source", "fp").agg(F.sum("n_lines").alias("n")))
    boiler = (folded.filter(F.col("n_docs") >= BOILER_DF)
              .select("fp").withColumn("_b", F.lit(1)))
    marked = sf.join(boiler, "fp", "left")
    return (marked.groupBy("source")
            .agg(F.sum("n").alias("n_lines"),
                 F.sum(F.when(F.col("_b") == 1, F.col("n"))
                       .otherwise(F.lit(0))).alias("n_boiler_lines"),
                 F.try_divide(
                     F.sum(F.when(F.col("_b") == 1, F.col("n"))
                           .otherwise(F.lit(0))).cast("double"),
                     F.sum("n").cast("double"))
                 .alias("boiler_ratio"))
            .orderBy("source"))


def compact_line_source_store(spark: SparkSession, store_dir: str,
                              upto_batch_id: int) -> int:
    """Fold (source, fp) line-count partials into the watermark base
    (counts SUM)."""
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["source", "fp"],
        _sum_fold("n_lines"))


# ---------------------------------------------------------------------------
# Streaming token-count store: source divergence without a re-scan
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py::q_source_divergence
# — the drift alarm a crawl needs continuously: per-source
# total-variation distance from the corpus token distribution,
# recomputable after every tranche.  ONE store of per-batch
# (source, tok) count partials carries everything: the per-source
# counts are its direct fold, the corpus counts are the same fold
# re-grouped by tok — plain occurrence counts SUM under any split
# with no arrival assumption at all.  The reader feeds both folds to
# the batch query's exact algebra tail (tv_from_token_counts), so the
# integer-exact TV is bit-identical by construction.  State is
# |distinct (source, token)| — vocabulary-sized, the same envelope as
# the prune/stop-token models; the watermark-base compactor applies.

def token_count_sink(store_dir: str):
    """foreachBatch sink over document batches: per-batch
    (source, tok, cnt) partials appended batch_id-keyed.  Per-batch
    work is the shared width-gated tokenize (source_tokens — the
    batch query's exact front) plus one partial-agg groupBy."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        source_tokens,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(source_tokens(batch_df)
                     .groupBy("source", "tok").agg(F.count("*").alias("cnt")),
                     store_dir, batch_id)

    return process


def source_divergence_from_store(spark: SparkSession,
                                 store_dir: str) -> DataFrame:
    """Fold the token-count store into the batch query's exact
    per-source TV report (``tv_from_token_counts`` over the folded
    counts) — bit-identical over the same documents, with no corpus
    re-scan."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        tv_from_token_counts,
    )

    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], "source string, n_tokens long, n_distinct_tokens "
                "long, tv_distance double")
    live = _effective_mg_summaries(s)
    per_src = (live.groupBy("source", "tok")
               .agg(F.sum("cnt").alias("cnt_s"))
               .localCheckpoint())   # feeds corpus fold + TV join
    corpus = per_src.groupBy("tok").agg(
        F.sum("cnt_s").alias("cnt_all"))
    return tv_from_token_counts(corpus, per_src)


def compact_token_count_store(spark: SparkSession, store_dir: str,
                              upto_batch_id: int) -> int:
    """Fold token-count partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["source", "tok"],
        _sum_fold("cnt"))


def mixture_from_store(spark: SparkSession,
                       store_dir: str) -> DataFrame:
    """Continuous temperature-mixture weights: fold the SAME
    token-count store that feeds ``source_divergence_from_store``
    down to per-source totals and apply the batch mixture algebra
    (``llm_pipeline.mixture_weight_columns`` — the decimal-sqrt
    order-free normalization), so the crawl's resampling rates
    (w ∝ tokens^0.5) are recomputable after every tranche with no
    corpus re-scan and no second store.

    Token definition is the store's (``source_tokens``: lowercased,
    empties dropped, NULL text/source filtered) — the registry's
    batch ``mixture_weights`` counts raw whitespace tokens instead;
    the parity target is the shared ALGEBRA over the same counts
    (bit-identical, pinned by
    tests/test_corpus_stream.py::test_mixture_from_store_matches_batch_algebra),
    not the tokenizer choice."""
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        mixture_weight_columns,
    )

    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], "source string, n_tokens long, weight double, "
                "expected_epochs double")
    per_src = (_effective_mg_summaries(s)
               .groupBy("source").agg(F.sum("cnt").alias("n_tokens")))
    return mixture_weight_columns(per_src).orderBy("source")


# ---------------------------------------------------------------------------
# Streaming bigram-LM store: CCNet perplexity split on maintained counts
# ---------------------------------------------------------------------------
# The streaming twin of the LM behind ``bigram_surprisal`` /
# ``perplexity_split`` (operators/lm_quality.py).  The key factoring
# (lm_quality.surprisal_from_counts): the ENTIRE add-one bigram LM
# derives from one (prev, w) count table — context counts are its
# per-prev sums, the vocabulary is the distinct types over its keys —
# so one store of per-batch (prev, w, cnt) partials carries the whole
# model.  Plain occurrence counts SUM under any corpus split with no
# arrival assumption (the token-count store's algebra, one order up),
# so the watermark-base compactor applies unchanged.  State is
# |distinct bigrams| — bigram-vocabulary-sized (~1e10 at web scale:
# big but DataFrame-shaped, the same envelope the batch query's
# count table already occupies; never driver-sized).
#
# The reader scores a DOCS argument (the tranche to bucket) against
# the folded counts and applies the shared tertile tail — CCNet's
# head/middle/tail bucketing riding continuously-maintained counts,
# with no corpus re-scan to rebuild the LM.  Scoring the full
# ingested corpus reproduces the batch query bit-for-bit (pinned);
# scoring an unseen tranche uses add-one smoothing's unseen case
# (surprisal_from_counts' left joins) — the generalization a
# continuously-fitted LM exists for.

def bigram_count_sink(store_dir: str):
    """foreachBatch sink over document batches: per-batch
    (prev, w, cnt) bigram-count partials appended batch_id-keyed.
    Per-batch work is the batch query's exact bigram front
    (``doc_bigrams``, checkpoint-free — single consumer here) plus
    one partial-agg groupBy."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        doc_bigrams,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(doc_bigrams(batch_df, checkpoint=False)
                     .groupBy("prev", "w").agg(F.count("*").alias("cnt")),
                     store_dir, batch_id)

    return process


def perplexity_split_from_store(spark: SparkSession, docs: DataFrame,
                                store_dir: str) -> DataFrame:
    """CCNet head/middle/tail split of ``docs`` under the LM folded
    from the bigram-count store: fold partials to the count table,
    push it through the batch query's exact algebra tail
    (``surprisal_from_counts`` + ``perplexity_buckets``) — bit-
    identical to ``perplexity_split`` when ``docs`` is the ingested
    corpus, and a smoothed generalization for unseen tranches."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        doc_bigrams,
        perplexity_buckets,
        surprisal_from_counts,
    )

    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], "doc_id long, lang string, surprisal_score double, "
                "bucket string, keep boolean")
    freq2 = (_effective_mg_summaries(s)
             .groupBy("prev", "w").agg(F.sum("cnt").alias("c_bg")))
    # checkpoint=False: freq2 comes from the store, so the bigram
    # frame has exactly one consumer here — no reuse to materialize
    # for (same single-consumer usage as bigram_count_sink).
    scored = (surprisal_from_counts(doc_bigrams(docs, checkpoint=False),
                                    freq2)
              .join(docs.select("doc_id", "lang"), "doc_id"))
    return perplexity_buckets(scored)


def compact_bigram_count_store(spark: SparkSession, store_dir: str,
                               upto_batch_id: int) -> int:
    """Fold bigram-count partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["prev", "w"],
        _sum_fold("cnt"))


# ---------------------------------------------------------------------------
# Streaming class-count store: the trained probe rides the crawl
# ---------------------------------------------------------------------------
# The trained quality probe's sufficient statistics are ONE table of
# per-bucket class counts (lm_quality's difference-of-class-means
# factoring: totals are its sums, the smoothed weights and the
# integer-exact decision all derive from it) — and counts SUM under
# any corpus split, so per-batch (bucket, n_pos, n_neg) partials make
# the probe continuously TRAINED: every tranche that arrives updates
# the model, and the reader can score any docs frame against the
# model-so-far with no corpus re-scan.  State is B = QCLF_BUCKETS
# rows per batch — the hashing trick bounds the model, which is
# exactly why this classifier family scales to crawls (fastText's
# argument).  The watermark-base compactor applies unchanged.

def class_count_sink(store_dir: str):
    """foreachBatch sink over document batches: per-batch
    (bucket, n_pos, n_neg) class-count partials, batch_id-keyed.
    Per-batch work is the batch trainer's exact front
    (``_qclf_class_counts``) — one partial-agg groupBy to B rows."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        _qclf_class_counts,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(_qclf_class_counts(batch_df), store_dir, batch_id)

    return process


def classifier_eval_from_store(spark: SparkSession, docs: DataFrame,
                               store_dir: str) -> DataFrame:
    """Confusion matrix of ``docs`` under the probe trained from the
    class-count store: fold partials to the sufficient statistics,
    push them through the batch query's exact tail
    (``classifier_confusion``) — bit-identical to
    ``quality_classifier_eval`` when ``docs`` is the ingested corpus,
    and a smoothed generalization for tranches hitting unseen
    buckets."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        _qclf_doc_buckets,
        classifier_confusion,
    )

    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], "is_target boolean, predicted boolean, n_docs long, "
                "example_doc_id long, avg_score double")
    counts = (_effective_mg_summaries(s)
              .groupBy("bucket")
              .agg(F.sum("n_pos").alias("n_pos"),
                   F.sum("n_neg").alias("n_neg")))
    return classifier_confusion(_qclf_doc_buckets(docs), counts)


def compact_class_count_store(spark: SparkSession, store_dir: str,
                              upto_batch_id: int) -> int:
    """Fold class-count partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, ["bucket"],
        _sum_fold("n_pos", "n_neg"))


# ---------------------------------------------------------------------------
# Streaming BPE tokenizer store: fit the merges once, apply forever
# ---------------------------------------------------------------------------
# The r16 watch item: every token_ngram_decontaminate invocation
# refit the tokenizer — 10 driver-side aggregate-and-collect rounds,
# at ANY scale, because the loop's cost is iteration count, not data.
# The factoring that kills it is the same one the bigram-LM and
# class-count stores ride: the WHOLE tokenizer derives from the
# word-frequency table (operators/bpe.py::word_freqs — merge learning
# consumes only (w, freq); the fitted vocabulary is its keys
# tokenized), and plain word counts SUM under any corpus split.  So
# the store is two levels:
#
#   * per-batch (w, freq) partials, batch_id-keyed (this family's
#     sufficient statistics — the usual watermark-base summing store);
#   * a FITTED MODEL artifact (merge table + vocabulary), produced by
#     an explicit fit step that folds the partials and runs the merge
#     loop ONCE — a maintenance operation like compaction, not
#     per-batch work.
#
# Readers apply the persisted artifact with no fit loop and no corpus
# re-scan; words the fitted vocabulary never saw are tokenized by
# applying the stored merge table (a tokenizer maps ANY word — the
# new-word branch is distinct-new-words-sized, and empty when the
# scored tranche is the ingested corpus, which is the bit-for-bit
# parity case).  State: |vocabulary| rows per batch partial and for
# the vocab artifact, n_merges rows for the merge table.

def bpe_vocab_sink(freq_dir: str):
    """foreachBatch sink over document batches: per-batch (w, freq)
    word-frequency partials appended batch_id-keyed.  Per-batch work
    is the batch fit's exact front (``word_freqs``) — one partial-agg
    groupBy to the batch's distinct words."""
    from cga_logs_to_kinesis_spark.operators.bpe import word_freqs

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(word_freqs(batch_df), freq_dir, batch_id)

    return process


def _bpe_current_fit(model_dir: str) -> str | None:
    """Resolve the model's ``CURRENT`` manifest to its fit directory
    (``model_dir/fit_<n>``), or None if no fit has ever committed.
    The manifest is the atomicity point of :func:`fit_bpe_store`."""
    import os
    try:
        with open(os.path.join(model_dir, "CURRENT")) as f:
            fit = f.read().strip()
    except OSError:
        return None
    return os.path.join(model_dir, fit) if fit else None


def fit_bpe_store(spark: SparkSession, freq_dir: str, model_dir: str,
                  n_merges: int | None = None) -> int:
    """Fold the word-frequency partials and fit the tokenizer ONCE:
    writes the merge table and the fitted vocabulary (every folded
    word tokenized under the merges).  Returns the number of merges
    learned (0 if the frequency store has never been written — no
    model is laid down).  The 10-round driver loop runs HERE and
    nowhere else; every reader applies the persisted artifact.

    The model is a PAIR of artifacts, so publication is atomic: both
    parquet dirs land in a fresh ``model_dir/fit_<n>`` staging
    directory, then a ``CURRENT`` manifest naming it is swapped in
    with ``os.replace`` (POSIX-atomic) — a crash between the two
    parquet writes, or a reader racing a refit, can never observe
    new merges paired with a stale vocabulary.  A crash BEFORE the
    manifest swap leaves an orphan fit dir the next fit ignores (and
    the rerun's content is bit-identical anyway — the model derives
    deterministically from the folded store).  On an object store
    the manifest swap maps to the same conditional-PUT pointer
    commit Delta's ``_last_checkpoint`` uses."""
    import os

    from cga_logs_to_kinesis_spark.operators.bpe import (
        BPE_N_MERGES,
        apply_merges_to_words,
        learn_bpe_merges_from_freqs,
    )

    if n_merges is None:
        n_merges = BPE_N_MERGES
    s = _read_store(spark, freq_dir)
    if s is None:
        return 0
    wf = (_effective_mg_summaries(s)
          .groupBy("w").agg(F.sum("freq").alias("freq"))
          .localCheckpoint())      # two consumers: loop + vocab keys
    merges_df = learn_bpe_merges_from_freqs(spark, wf, n_merges)
    # n_merges rows by construction — the bounded-collect class.
    merges = [(r.lhs, r.rhs)
              for r in merges_df.orderBy("step").collect()]
    os.makedirs(model_dir, exist_ok=True)
    n_fit = 1 + max(
        (int(d.split("_", 1)[1]) for d in os.listdir(model_dir)
         if d.startswith("fit_") and d.split("_", 1)[1].isdigit()),
        default=0)
    fit_name = f"fit_{n_fit}"
    fit_dir = os.path.join(model_dir, fit_name)
    merges_df.coalesce(1).write.mode("overwrite").parquet(
        fit_dir + "/merges")
    (apply_merges_to_words(wf.select("w"), merges)
     .write.mode("overwrite").parquet(fit_dir + "/vocab"))
    tmp = os.path.join(model_dir, f"CURRENT.{fit_name}.tmp")
    with open(tmp, "w") as f:
        f.write(fit_name)
    os.replace(tmp, os.path.join(model_dir, "CURRENT"))
    return len(merges)


def token_decontaminate_from_store(spark: SparkSession,
                                   docs: DataFrame,
                                   model_dir: str) -> DataFrame:
    """``token_ngram_decontaminate``'s tail under the PERSISTED
    tokenizer: (doc_id, n_shared_grams) with no fit loop and no
    corpus re-scan — bit-identical to the batch query when ``docs``
    is the corpus the frequency store ingested (every word is then in
    the fitted vocabulary), and a faithful generalization for unseen
    tranches: new words are tokenized by applying the stored merge
    table (``apply_merges_to_words`` over the distinct new words
    only)."""
    from cga_logs_to_kinesis_spark.operators.bpe import (
        apply_merges_to_words,
        token_decon_report,
    )
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )
    from cga_logs_to_kinesis_spark.session import widen_for_explode

    fit_dir = _bpe_current_fit(model_dir)
    vocab = (_read_store(spark, fit_dir + "/vocab")
             if fit_dir is not None else None)
    if vocab is None:
        return spark.createDataFrame(
            [], "doc_id long, n_shared_grams long")
    # n_merges rows by construction — the bounded-collect class.
    merges = [(r.lhs, r.rhs)
              for r in spark.read.parquet(fit_dir + "/merges")
              .orderBy("step").collect()]
    new_words = (widen_for_explode(docs, "doc_id")
                 .select(F.explode(norm_tokens()).alias("w"))
                 .distinct()
                 .join(vocab.select("w"), "w", "left_anti"))
    full_vocab = vocab.select("w", "syms").unionByName(
        apply_merges_to_words(new_words, merges))
    return token_decon_report(docs, full_vocab)


def compact_bpe_freq_store(spark: SparkSession, freq_dir: str,
                           upto_batch_id: int) -> int:
    """Fold word-frequency partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(
        spark, freq_dir, upto_batch_id, ["w"],
        _sum_fold("freq"))


# ---------------------------------------------------------------------------
# Streaming n-gram novelty: first-occurrence state as a MIN-fold store
# ---------------------------------------------------------------------------
# The streaming twin of operators/dedup.py::q_ngram_novelty.  Novelty
# is defined on doc_id (not arrival order) precisely so the stream
# can fold it exactly under ANY arrival permutation: the state is
# (fp -> min doc_id seen) + (doc -> n_ngrams), and a document's
# novel-count is just the number of fingerprints whose folded min
# equals its id — group the fp store by its fold, no per-doc flags to
# retro-update when an earlier doc_id arrives late.  MIN is
# idempotent and commutative, so the store shares the distinct-store
# algebra: per-batch partials append batch_id-keyed, replays
# overwrite identically, crash-leftover duplicates cannot move a
# MIN, and compaction folds everything into a batch_id=-1 base.  The
# sink reads nothing across batches (flat per-batch work, measured);
# state is linear in distinct fingerprints — the band-index envelope.

def novelty_sink(fp_dir: str, doc_dir: str):
    """foreachBatch sink over document batches: per-batch (fp ->
    min doc_id) partials + per-doc distinct-fingerprint counts."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        char_shingle_docs,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sh = char_shingle_docs(batch_df).localCheckpoint()
        pairs = sh.select("doc_id", F.explode("shingles").alias("fp"))
        _write_batch(pairs.groupBy("fp")
                     .agg(F.min("doc_id").alias("first_doc")),
                     fp_dir, batch_id)
        _write_batch(sh.select("doc_id", F.size("shingles").cast("long")
                               .alias("n_ngrams")), doc_dir, batch_id)

    return process


def compact_novelty_store(spark: SparkSession, fp_dir: str,
                          upto_batch_id: int) -> int:
    """Fold fp partials at or below ``upto_batch_id`` (plus any
    existing base) into a ``batch_id=-1`` base via the MIN fold.
    MIN idempotence makes the plain distinct-store base discipline
    sufficient: a crash between base write and cleanup leaves
    duplicate (fp, first_doc) rows that cannot move any folded MIN."""
    import os
    import shutil

    df = _read_store(spark, fp_dir)
    if df is None:
        return 0
    sel = (F.col("batch_id") == -1) | (F.col("batch_id")
                                       <= upto_batch_id)
    to_fold = df.filter(sel)
    n_folded = (to_fold.filter(F.col("batch_id") >= 0)
                .select("batch_id").distinct().count())
    if n_folded == 0:
        return 0
    base = (to_fold.groupBy("fp")
            .agg(F.min("first_doc").alias("first_doc"))
            .coalesce(1)
            .localCheckpoint())          # self-read: old base is input
    _write_batch(base, fp_dir, -1)
    for name in os.listdir(fp_dir):
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid != -1 and bid <= upto_batch_id:
            shutil.rmtree(os.path.join(fp_dir, name))
    return n_folded


def compact_novelty_doc_store(spark: SparkSession, doc_dir: str,
                              upto_batch_id: int) -> int:
    """Fold the per-doc count store's batch partitions into the
    batch_id=-1 base — the doc store is DISTINCT-consumed (the report
    reads it through .distinct(); a replayed batch's duplicate
    (doc_id, n_ngrams) rows are harmless), so the shared base
    compactor applies verbatim."""
    return _compact_distinct_store(spark, doc_dir, upto_batch_id,
                                   ["doc_id", "n_ngrams"])


def novelty_curve_from_store(spark: SparkSession, fp_dir: str,
                             doc_dir: str,
                             max_doc_id: int | None = None) -> DataFrame:
    """Fold the SAME stores into the corpus-level diminishing-returns
    curve (`operators/dedup.py::q_novelty_curve`): the novelty state —
    (fp -> min doc_id) + (doc -> n_ngrams) — already contains
    everything the decile fold reads, so the curve needs no extra
    sink.  new_fps per decile groups the folded MINs; total_fps per
    decile sums the per-doc counts (== the exploded pair count, the
    shingle arrays being distinct); the only window is the running
    sum over the 10 decile rows.

    ``max_doc_id`` pins the decile divisor to the corpus-wide max
    (what the batch query reads off `documents`); None derives it
    from the doc store, which differs only if the corpus's highest
    doc_id carries no shingles at all.
    """
    fps = _read_store(spark, fp_dir)
    docs = _read_store(spark, doc_dir)
    if fps is None or docs is None:
        return spark.createDataFrame(
            [], "decile int, total_fps long, new_fps long, "
                "cum_new long, cum_total long, cum_novelty double")
    per_doc = docs.select("doc_id", "n_ngrams").distinct()
    n = (max_doc_id if max_doc_id is not None
         else (per_doc.agg(F.max("doc_id")).first()[0] or 0))

    def decile(col):
        # integer DIV on both engines (the batch query's CAST trap)
        return F.least(F.lit(9),
                       F.expr(f"{col} * 10 DIV {int(n) + 1}")
                       .cast("int")).alias("decile")

    from pyspark.sql import Window

    first = (fps.groupBy("fp")
             .agg(F.min("first_doc").alias("first_doc"))
             .groupBy(decile("first_doc"))
             .agg(F.count("*").alias("new_fps")))
    tot = (per_doc.groupBy(decile("doc_id"))
           .agg(F.sum("n_ngrams").alias("total_fps")))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (tot.join(first, "decile", "left")
            .select("decile", "total_fps",
                    F.coalesce(F.col("new_fps"), F.lit(0))
                    .alias("new_fps"))
            .withColumn("cum_new", F.sum("new_fps").over(w))
            .withColumn("cum_total", F.sum("total_fps").over(w))
            .withColumn("cum_novelty",
                        F.col("cum_new").cast("double")
                        / F.col("cum_total"))
            .orderBy("decile"))


def ngram_novelty_from_store(spark: SparkSession, fp_dir: str,
                             doc_dir: str) -> DataFrame:
    """Fold the stores into the SAME per-doc report as the batch
    ``ngram_novelty`` query: MIN per fp, group the mins by doc, join
    the per-doc counts (novel-less docs get 0)."""
    fps = _read_store(spark, fp_dir)
    docs = _read_store(spark, doc_dir)
    if fps is None or docs is None:
        return spark.createDataFrame(
            [], "doc_id long, n_ngrams long, n_novel long, "
                "novelty double")
    novel = (fps.groupBy("fp")
             .agg(F.min("first_doc").alias("doc_id"))
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_novel")))
    per_doc = docs.select("doc_id", "n_ngrams").distinct()
    return (per_doc.join(novel, "doc_id", "left")
            .select("doc_id", "n_ngrams",
                    F.coalesce(F.col("n_novel"), F.lit(0))
                    .alias("n_novel"))
            .withColumn("novelty",
                        F.col("n_novel").cast("double")
                        / F.col("n_ngrams"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Store-family registry: the auditable index of every incremental store
# ---------------------------------------------------------------------------
# One entry per batch_id-versioned store family in this module.  The
# registry is executable documentation: tests/test_store_registry.py
# verifies every referenced function exists, that every public *_sink
# here is claimed by exactly one family, and that docs/STORES.md
# (tools/gen_stores_md.py) matches — so the family count the docs
# claim can never drift from the code.

from dataclasses import dataclass as _dataclass


@_dataclass(frozen=True)
class StoreFamily:
    name: str
    fold: str                  # how partials merge at read time
    sinks: tuple[str, ...]     # foreachBatch factories (this module)
    readers: tuple[str, ...]   # store -> DataFrame consumers (this module)
    compactors: tuple[str, ...]
    note: str


STORE_FAMILIES: tuple[StoreFamily, ...] = (
    StoreFamily(
        "ingest audit", "sum + min/max extrema",
        ("ingest_audit_sink",), ("ingest_audit_report_from_store",),
        ("compact_ingest_audit_store",),
        "per-shard JSONL-ingest health counters"),
    StoreFamily(
        "table profile", "sum partials + distinct values",
        ("table_profile_sink",), ("table_profile_report_from_store",),
        ("compact_profile_values",),
        "two stores: per-batch fold partials and the distinct-value "
        "store that makes COUNT(DISTINCT) re-foldable"),
    StoreFamily(
        "heavy hitters (Misra-Gries)", "sum (watermark base)",
        ("heavy_hitters_sink",), ("heavy_hitters_from_store",),
        ("compact_heavy_hitters_store",),
        "per-batch MG summaries; the -(upto+2) watermark-base "
        "discipline every summing store reuses started here"),
    StoreFamily(
        "bloom blocklist", "distinct",
        ("bloom_positions_sink",),
        ("bloom_bitmap_from_store", "bloom_decontaminate_from_store"),
        ("compact_bloom_store",),
        "set-bit positions; OR-fold is idempotent"),
    StoreFamily(
        "encoding audit", "sum (watermark base)",
        ("encoding_anomaly_sink",),
        ("encoding_anomaly_report_from_store",),
        ("compact_encoding_store",),
        "per-source encoding-damage counters"),
    StoreFamily(
        "script mixing", "sum (watermark base)",
        ("script_mixing_sink",), ("script_mixing_report_from_store",),
        ("compact_script_mixing_store",),
        "per-source confusable/homoglyph counters; shares "
        "script_counts_per_doc with the batch query"),
    StoreFamily(
        "skew monitor", "sum (watermark base)",
        ("skew_freq_sink",),
        ("skew_frequencies_from_store", "salted_join_plan_from_store"),
        ("compact_skew_freq_store",),
        "exact shuffle-key frequencies; the live salt planner reads "
        "the fold through the batch planner's exact tail"),
    StoreFamily(
        "n-gram novelty", "min (fp first-occurrence) + distinct docs",
        ("novelty_sink",),
        ("novelty_curve_from_store", "ngram_novelty_from_store"),
        ("compact_novelty_store", "compact_novelty_doc_store"),
        "novelty defined on doc_id, not arrival order, so any "
        "arrival permutation folds exactly"),
    StoreFamily(
        "corpus drift", "sum + decimal char-sum + distinct values",
        ("corpus_drift_sink",), ("corpus_drift_from_store",),
        ("compact_corpus_drift_sums", "compact_corpus_drift_values"),
        "per-decile tranche monitor; deciles keyed by a pinned "
        "max-doc-id snapshot"),
    StoreFamily(
        "line frequency / boilerplate", "sum (watermark base)",
        ("line_df_sink", "line_source_sink"),
        ("boilerplate_report_from_store", "line_scrub_from_store",
         "boilerplate_ratio_from_store", "line_pipeline_from_store"),
        ("compact_line_df_store", "compact_line_source_store"),
        "report, apply, per-source gate, and the full intra+corpus "
        "pipeline all run from the stores; per-batch distinct-doc "
        "counts SUM because a doc arrives in exactly one batch "
        "(enforceable via line_df_sink's seen_dir guard)"),
    StoreFamily(
        "token-count divergence", "sum (watermark base)",
        ("token_count_sink",),
        ("source_divergence_from_store", "mixture_from_store"),
        ("compact_token_count_store",),
        "one (source, tok) store; corpus counts are the same fold "
        "re-grouped, then the batch TV algebra applies — and the "
        "same store's per-source totals feed the temperature-mixture "
        "algebra (mixture_from_store), so divergence AND resampling "
        "rates ride one state"),
    StoreFamily(
        "classifier class counts", "sum (watermark base)",
        ("class_count_sink",), ("classifier_eval_from_store",),
        ("compact_class_count_store",),
        "the trained quality probe's sufficient statistics — B "
        "hashed-bucket rows of (n_pos, n_neg); every tranche updates "
        "the model (counts SUM), the reader scores any docs frame "
        "through lm_quality.classifier_confusion's exact tail, so "
        "the probe is continuously trained with no corpus re-scan"),
    StoreFamily(
        "bigram LM counts", "sum (watermark base)",
        ("bigram_count_sink",), ("perplexity_split_from_store",),
        ("compact_bigram_count_store",),
        "one (prev, w) count store IS the add-one bigram LM "
        "(context counts = per-prev sums, vocabulary = distinct key "
        "types — lm_quality.surprisal_from_counts' factoring); the "
        "reader scores any docs tranche through the batch query's "
        "exact tail, so the CCNet perplexity split rides "
        "continuously-maintained counts"),
    StoreFamily(
        "BPE tokenizer", "sum (watermark base) + fitted model artifact",
        ("bpe_vocab_sink",),
        ("fit_bpe_store", "token_decontaminate_from_store"),
        ("compact_bpe_freq_store",),
        "per-batch (w, freq) word-frequency partials — the "
        "tokenizer's sufficient statistics (merge learning consumes "
        "only the word-frequency table; bpe.word_freqs' factoring); "
        "fit_bpe_store folds them and runs the 10-round merge loop "
        "ONCE, persisting merge table + fitted vocabulary, so "
        "token_decontaminate_from_store applies the stored tokenizer "
        "with no refit and no corpus re-scan — unseen words tokenize "
        "through the stored merges"),
    StoreFamily(
        "HLL distinct sketch", "union (register-wise MAX)",
        ("hll_distinct_sink",), ("approx_distinct_from_store",),
        ("compact_hll_store",),
        "per-key COUNT(DISTINCT) without keeping the values: "
        "DataSketches HLL binaries, ~2^lg_k registers per (batch, "
        "key); union is idempotent so replay/crash leftovers cannot "
        "move a fold"),
)


# ---------------------------------------------------------------------------
# Streaming HLL distinct-count store: mergeable sketch state
# ---------------------------------------------------------------------------
# The one aggregate the summing stores can't carry: COUNT(DISTINCT x)
# per group, continuously, WITHOUT keeping every distinct value.  The
# distinct-value stores (table-profile, corpus-drift) are exact but
# their state is |distinct values|; at 100 TB a per-group distinct-id
# count wants the sketch form instead: per-batch Apache DataSketches
# HLL sketches (Spark's hll_sketch_agg — binary, fixed ~2^lg_k
# registers per group), folded with hll_union_agg.  Union is the
# register-wise MAX: idempotent AND commutative, so the store shares
# the MIN-fold family's algebra — replay duplicates cannot move a
# fold, crash-leftover rows are harmless, and the watermark-base
# compactor applies with the union as the merge.  Spark's own partial
# aggregation IS union-of-partials, so the folded estimate equals the
# single-shot batch sketch by construction (pinned by test).

def hll_distinct_sink(store_dir: str, key_col: str = "lang",
                      value_col: str = "doc_id", lg_k: int = 12):
    """foreachBatch sink: per-batch per-key HLL sketches of
    ``value_col``, appended batch_id-keyed.  State per (batch, key)
    is one ~2^lg_k-register binary — independent of batch size."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sketches = (batch_df.filter(F.col(key_col).isNotNull())
                    .groupBy(key_col)
                    .agg(F.hll_sketch_agg(value_col, F.lit(lg_k))
                         .alias("sk")))
        _write_batch(sketches, store_dir, batch_id)

    return process


def approx_distinct_from_store(spark: SparkSession, store_dir: str,
                               key_col: str = "lang") -> DataFrame:
    """Fold the sketch store into per-key approximate distinct counts
    (union then estimate) — equal to the single-shot batch sketch
    over the same rows because Spark's partial aggregation is itself
    union-of-partials."""
    s = _read_store(spark, store_dir)
    if s is None:
        return spark.createDataFrame(
            [], f"{key_col} string, approx_distinct long")
    return (_effective_mg_summaries(s)
            .groupBy(key_col)
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                 .alias("approx_distinct"))
            .orderBy(key_col))


def compact_hll_store(spark: SparkSession, store_dir: str,
                      upto_batch_id: int, key_col: str = "lang") -> int:
    """Fold sketch partials into the watermark base — HLL union is
    register-wise MAX (idempotent + commutative), so the shared
    mergeable compactor applies with the union as the merge."""
    def fold(g):
        return g.agg(F.hll_union_agg("sk").alias("sk"))

    return _compact_mergeable_store(
        spark, store_dir, upto_batch_id, [key_col], fold)
