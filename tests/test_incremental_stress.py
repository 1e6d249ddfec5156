"""Stress the incremental sinks past toy state: many micro-batches,
cumulative arrivals far larger than the saturated state.

The chaos tests (test_corpus_stream.py) prove exactly-once semantics;
THIS file pins the cost envelope the sink docstrings claim — per-batch
work O(|batch| + |state|), NOT O(cumulative history) — using Spark's
own task metrics (input + shuffle records from the AppStatusStore),
not wall time.  The sinks are plain foreachBatch callables, so the
batches are driven directly (no stream) to bracket metrics per batch.

Slow by design (~2 min): 20 micro-batches through each sink.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def _max_stage_id(spark) -> int:
    """Highest stage id currently retained — the starting cursor."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    mx = -1
    for i in range(jobs.size()):
        sids = jobs.apply(i).stageIds()
        for k in range(sids.size()):
            mx = max(mx, sids.apply(k))
    return mx


def _work_since(spark, cursor: int) -> tuple[int, int]:
    """Records processed (input + shuffle read/write) by stages with
    id > ``cursor``, plus the advanced cursor.  Keyed by stage id —
    stage ids are globally monotone, so this is immune to the
    AppStatusStore evicting OLD stages mid-test (default retention is
    1000 stages; a shared full-suite session blows past that, which
    made cumulative-total deltas go NEGATIVE and the envelope
    assertions vacuous)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    defaults = [getattr(store, f"stageData$default${n}")()
                for n in range(2, 6)]
    seen: set[int] = set()
    total = 0
    mx = cursor
    for i in range(jobs.size()):
        sids = jobs.apply(i).stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid <= cursor or sid in seen:
                continue
            seen.add(sid)
            mx = max(mx, sid)
            attempts = store.stageData(sid, *defaults)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                total += int(s.inputRecords()
                             + s.shuffleReadRecords()
                             + s.shuffleWriteRecords())
    return total, mx


N_TEXTS = 2000          # bounded text universe
DOCS_PER_BATCH = 1000


def _dup_doc_batch(spark, k: int):
    """Unique doc ids, texts drawn from a FIXED universe — cumulative
    arrivals grow 20x while text state saturates at N_TEXTS."""
    return (spark.range(DOCS_PER_BATCH)
            .select((F.lit(k * DOCS_PER_BATCH) + F.col("id"))
                    .alias("doc_id"),
                    F.concat(F.lit("document body "),
                             F.abs(F.xxhash64(F.lit(k), "id"))
                             % N_TEXTS).alias("text")))


# ---------------------------------------------------------------------------
# Measured envelopes for the store families.  Most of these sinks
# read NO cross-batch state (pure per-batch folds), so their envelope
# is strictly flat.
# ---------------------------------------------------------------------------

HH_BATCHES = 12


def test_heavy_hitters_sink_work_is_flat(spark, tmp_path):
    """The MG summary sink tokenizes ONLY its own batch (O(K) state
    per partition, no store read): per-batch work must not grow as
    the summary store accumulates versions."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        heavy_hitters_sink,
    )

    sink = heavy_hitters_sink(str(tmp_path / "mg"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_dup_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch MG work grew with store history: early={early:.0f} "
        f"late={late:.0f} records/batch")


def _lineitem_batch(spark, k: int, n=1000):
    """Deterministic lineitem-shaped batch over FIXED value universes
    (so the distinct-value store saturates)."""
    h = lambda j: F.abs(F.xxhash64(F.lit(k), "id", F.lit(j)))  # noqa: E731
    return spark.range(n).select(
        (h(1) % 5000).alias("l_orderkey"),
        (h(2) % 200).alias("l_partkey"),
        (h(3) % 10).alias("l_suppkey"),
        (h(4) % 7).cast("int").alias("l_linenumber"),
        (h(5) % 50).cast("double").alias("l_quantity"),
        ((h(6) % 9000) / 100.0).alias("l_extendedprice"),
        ((h(7) % 10) / 100.0).alias("l_discount"),
        ((h(8) % 8) / 100.0).alias("l_tax"),
        F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                     (h(9) % 3 + 1).cast("int")).alias("l_returnflag"),
        F.element_at(F.array(F.lit("F"), F.lit("O")),
                     (h(10) % 2 + 1).cast("int")).alias("l_linestatus"),
        F.timestamp_seconds(F.lit(800000000) + (h(11) % 1000) * 86400)
        .alias("l_shipdate"))


def test_table_profile_sink_work_is_flat(spark, tmp_path):
    """The profile sink folds partials + distinct values of ITS OWN
    batch only — per-batch work flat regardless of store size."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        table_profile_sink,
    )

    sink = table_profile_sink(str(tmp_path / "p"), str(tmp_path / "v"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_lineitem_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch profile work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def _audit_batch(spark, k: int, n=800):
    h = F.abs(F.xxhash64(F.lit(k), "id"))
    text = F.concat(F.lit("body "), (h % 2000).cast("string"))
    return spark.range(n).select(
        (F.lit(k * 10_000) + F.col("id")).alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
        F.when(h % 17 == 0, F.lit("<<garbage>>"))
        .otherwise(F.lit(None).cast("string")).alias("_corrupt_record"),
        (h % 4).alias("shard"))


def test_ingest_audit_sink_work_is_flat(spark, tmp_path):
    """The audit sink folds per-shard partials of its own batch only
    (no cross-batch read at all) — strictly flat."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        ingest_audit_sink,
    )

    sink = ingest_audit_sink(str(tmp_path / "audit"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_audit_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch audit work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_bloom_positions_sink_work_is_flat(spark, tmp_path):
    """The blocklist sink fingerprints its own batch and writes
    distinct positions (<= BLOOM_BITS rows) — strictly flat, and the
    store is structurally bounded."""
    from cga_logs_to_kinesis_spark.operators.sketches import BLOOM_BITS
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bloom_positions_sink,
    )

    store = str(tmp_path / "bloom")
    sink = bloom_positions_sink(store)
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_dup_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch bloom work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")
    per_batch = (spark.read.parquet(store)
                 .groupBy("batch_id").count().collect())
    assert all(r["count"] <= BLOOM_BITS for r in per_batch)


def test_encoding_anomaly_sink_work_is_flat(spark, tmp_path):
    """The encoding-audit sink folds its own batch only (no
    cross-batch read) — strictly flat per-batch work."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        encoding_anomaly_sink,
    )

    sink = encoding_anomaly_sink(str(tmp_path / "enc"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "source", (F.col("doc_id") % 4).cast("string"))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch encoding-audit work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_novelty_sink_work_is_flat(spark, tmp_path):
    """The novelty sink shingles ONLY its own batch and writes
    min-per-fp partials (no cross-batch read) — strictly flat,
    while the fp store grows linearly underneath."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        novelty_sink,
    )

    sink = novelty_sink(str(tmp_path / "fps"), str(tmp_path / "docs"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_dup_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch novelty work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_script_mixing_sink_work_is_flat(spark, tmp_path):
    """The script-mixing sink folds its own batch only (no
    cross-batch read) — strictly flat per-batch work."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        script_mixing_sink,
    )

    sink = script_mixing_sink(str(tmp_path / "scripts"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "source", (F.col("doc_id") % 4).cast("string"))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch script-mixing work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_skew_freq_sink_work_is_flat(spark, tmp_path):
    """The skew monitor folds its own batch's (key_col, k) projection
    only (no cross-batch read) — strictly flat per-batch work while
    the frequency store grows underneath."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        skew_freq_sink,
    )

    sink = skew_freq_sink(str(tmp_path / "freqs"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = (_dup_doc_batch(spark, k)
                 .select(F.lit("token").alias("key_col"),
                         F.col("text").alias("k")))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch skew-monitor work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_corpus_drift_sink_work_is_flat(spark, tmp_path):
    """The drift monitor folds its own batch only (no cross-batch
    read): per-batch work stays flat while the sum store grows one
    10-row partition set per batch underneath."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        corpus_drift_sink,
    )

    sink = corpus_drift_sink(str(tmp_path / "sums"),
                             str(tmp_path / "vals"),
                             max_doc_id=HH_BATCHES * 1000)
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "source", (F.col("doc_id") % 4).cast("string")) \
            .withColumn("lang", (F.col("doc_id") % 3).cast("string"))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch drift-monitor work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_line_df_sink_work_is_flat(spark, tmp_path):
    """The line-frequency miner folds its own batch only (no
    cross-batch read) — strictly flat per-batch work while the
    blocklist store grows underneath."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        line_df_sink,
    )

    sink = line_df_sink(str(tmp_path / "line_df"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "text", F.concat("text", F.lit("\nshared footer line "
                                           "for every document")))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch line-df work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_line_source_sink_work_is_flat(spark, tmp_path):
    """The ratio gate's (source, fp) counter folds its own batch only
    — strictly flat per-batch work."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        line_source_sink,
    )

    sink = line_source_sink(str(tmp_path / "line_src"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "source", (F.col("doc_id") % 4).cast("string")) \
            .withColumn("text",
                        F.concat("text", F.lit("\nshared footer line "
                                               "for every document")))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch line-source work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_token_count_sink_work_is_flat(spark, tmp_path):
    """The divergence monitor's token counter folds its own batch
    only — strictly flat per-batch work while the vocabulary store
    grows underneath."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        token_count_sink,
    )

    sink = token_count_sink(str(tmp_path / "tok_counts"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "source", (F.col("doc_id") % 4).cast("string"))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch token-count work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_hll_sink_work_is_flat(spark, tmp_path):
    """The sketch sink folds its own batch only; per-(batch, key)
    state is a fixed-register binary — strictly flat per-batch
    work AND constant per-batch store growth."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        hll_distinct_sink,
    )

    sink = hll_distinct_sink(str(tmp_path / "hll"), key_col="source")
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "source", (F.col("doc_id") % 4).cast("string"))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch HLL work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_bigram_count_sink_work_is_flat(spark, tmp_path):
    """The bigram-LM counter folds its own batch only — strictly flat
    per-batch work while the bigram-vocabulary store grows
    underneath (the token-count envelope, one n-gram order up)."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bigram_count_sink,
    )

    sink = bigram_count_sink(str(tmp_path / "bigram_counts"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_dup_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch bigram-count work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


def test_class_count_sink_work_is_flat(spark, tmp_path):
    """The probe trainer folds its own batch only — flat per-batch
    work AND bounded state (B hashed buckets per batch, the hashing
    trick's whole point)."""
    import glob

    from cga_logs_to_kinesis_spark.streaming.corpus import (
        class_count_sink,
    )

    store = str(tmp_path / "class_counts")
    sink = class_count_sink(store)
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        batch = _dup_doc_batch(spark, k).withColumn(
            "lang", F.when(F.col("doc_id") % 3 == 0, "en")
            .otherwise("xx"))
        sink(batch, k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch class-count work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")
    # bounded state: every batch partition holds at most B rows
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        QCLF_BUCKETS,
    )
    for d in glob.glob(store + "/batch_id=*"):
        assert spark.read.parquet(d).count() <= QCLF_BUCKETS


def test_bpe_vocab_sink_work_is_flat(spark, tmp_path):
    """The word-frequency counter folds its own batch only — flat
    per-batch work while the vocabulary store grows underneath (the
    bigram-count envelope, one n-gram order down).  The expensive
    part of this family (the merge-learning loop) runs in
    fit_bpe_store, explicitly NOT per batch."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bpe_vocab_sink,
    )

    sink = bpe_vocab_sink(str(tmp_path / "word_freqs"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_dup_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch word-freq work grew: early={early:.0f} "
        f"late={late:.0f} records/batch")


