"""Incremental corpus stores: each store family's fold matches the
batch report, and survives crash replay and compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.sources import load_table
from cga_logs_to_kinesis_spark.streaming.corpus import stream_documents
from cga_logs_to_kinesis_spark.streaming.faults import crash_after
from tests.conftest import SF_SMOKE


def _drain(stream_df, tmp_path, name, mode="append"):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def test_streaming_ingest_audit_matches_batch(spark, tmp_path):
    """The foreachBatch ingest-audit twin must fold to the exact batch
    report: stream the dirty JSONL fixture one FILE per micro-batch
    (4 batches), store per-batch partials, and compare the fold
    row-for-row with q_jsonl_ingest_report."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        dirty_jsonl_fixture,
        q_jsonl_ingest_report,
    )
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        ingest_audit_report_from_store,
        ingest_audit_sink,
        stream_documents_jsonl_audit,
    )

    base = dirty_jsonl_fixture()
    store = str(tmp_path / "audit_store")
    q = (stream_documents_jsonl_audit(spark, base,
                                      max_files_per_trigger=1)
         .writeStream.foreachBatch(ingest_audit_sink(store))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # one partial row-group per (batch, shard): genuinely incremental
    n_batches = (spark.read.parquet(store)
                 .select("batch_id").distinct().count())
    assert n_batches > 1, "fixture should split into several batches"
    got = [tuple(r) for r in
           ingest_audit_report_from_store(spark, store).collect()]
    want = [tuple(r) for r in
            q_jsonl_ingest_report(spark, base).collect()]
    assert got == want and len(want) > 0


def test_ingest_audit_crash_after_write_is_exactly_once(spark, tmp_path):
    """foreachBatch's at-least-once window: a crash AFTER the store
    write but BEFORE the checkpoint commit replays the batch — the
    dynamic-overwrite batch_id partition must absorb the replay so the
    fold never double-counts a shard."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        dirty_jsonl_fixture,
        q_jsonl_ingest_report,
    )
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        ingest_audit_report_from_store,
        ingest_audit_sink,
        stream_documents_jsonl_audit,
    )

    base = dirty_jsonl_fixture()
    store = str(tmp_path / "audit_store")
    sink = crash_after(ingest_audit_sink(store), (1,))

    def drain():
        q = (stream_documents_jsonl_audit(spark, base,
                                          max_files_per_trigger=1)
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        except Exception:
            pass                         # injected crash surfaces here

    drain()          # dies mid-stream on batch 1, after its write
    drain()          # restart: batch 1 replays over its own partition
    got = [tuple(r) for r in
           ingest_audit_report_from_store(spark, store).collect()]
    want = [tuple(r) for r in
            q_jsonl_ingest_report(spark, base).collect()]
    assert got == want and len(want) > 0


def _lineitem_drop_dir(spark, tmp_path) -> str:
    """sf0.001 lineitem staged as a 4-file drop directory under an
    sf-style root, so the SAME path serves q_table_profile (batch) and
    stream_lineitem (one file per micro-batch)."""
    sf = tmp_path / "sfdrop"
    (spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
     .repartition(4)
     .write.parquet(str(sf / "lineitem.parquet")))
    return str(sf)


def _rows_str(rows):
    # NaN != NaN under tuple equality; the profile's not-applicable
    # min/max cells are NaN by convention, so compare via str.
    return sorted(tuple(str(x) for x in r) for r in rows)


def test_streaming_table_profile_matches_batch(spark, tmp_path):
    """The foreachBatch table-profile twin must fold to the exact
    batch profile: stream the drop one file per micro-batch, store
    per-batch partials + distinct value sets, and compare the fold
    row-for-row with q_table_profile."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        q_table_profile,
    )
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        stream_lineitem,
        table_profile_report_from_store,
        table_profile_sink,
    )

    sf = _lineitem_drop_dir(spark, tmp_path)
    partials = str(tmp_path / "profile_partials")
    values = str(tmp_path / "profile_values")
    q = (stream_lineitem(spark, f"{sf}/lineitem.parquet",
                         max_files_per_trigger=1)
         .writeStream.foreachBatch(table_profile_sink(partials, values))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    n_batches = (spark.read.parquet(partials)
                 .select("batch_id").distinct().count())
    assert n_batches > 1, "drop should split into several batches"
    got = table_profile_report_from_store(spark, partials, values)
    want = q_table_profile(spark, sf)
    assert _rows_str(got.collect()) == _rows_str(want.collect())
    assert got.count() > 0


def test_table_profile_crash_after_write_is_exactly_once(spark,
                                                         tmp_path):
    """A crash after both store writes but before the checkpoint
    commit replays the batch; the dynamic-overwrite batch_id
    partitions must absorb the replay so null counts never
    double-fold and the distinct sets don't duplicate."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        q_table_profile,
    )
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        stream_lineitem,
        table_profile_report_from_store,
        table_profile_sink,
    )

    sf = _lineitem_drop_dir(spark, tmp_path)
    partials = str(tmp_path / "profile_partials")
    values = str(tmp_path / "profile_values")
    sink = crash_after(table_profile_sink(partials, values), (1,))

    def drain():
        q = (stream_lineitem(spark, f"{sf}/lineitem.parquet",
                             max_files_per_trigger=1)
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        except Exception:
            pass                         # injected crash surfaces here

    drain()          # dies mid-stream on batch 1, after its writes
    drain()          # restart: batch 1 replays over its own partitions
    got = table_profile_report_from_store(spark, partials, values)
    want = q_table_profile(spark, sf)
    assert _rows_str(got.collect()) == _rows_str(want.collect())


def test_compact_profile_values_preserves_report(spark, tmp_path):
    """Folding the per-batch distinct-value partitions into the
    batch_id=-1 base must leave the profile fold bit-identical —
    count_distinct is idempotent under the duplicates a crash between
    base-write and cleanup could leave."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_profile_values,
        stream_lineitem,
        table_profile_report_from_store,
        table_profile_sink,
    )

    sf = _lineitem_drop_dir(spark, tmp_path)
    partials = str(tmp_path / "profile_partials")
    values = str(tmp_path / "profile_values")
    q = (stream_lineitem(spark, f"{sf}/lineitem.parquet",
                         max_files_per_trigger=1)
         .writeStream.foreachBatch(table_profile_sink(partials, values))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    before = _rows_str(
        table_profile_report_from_store(spark, partials, values)
        .collect())
    max_bid = (spark.read.parquet(values)
               .agg({"batch_id": "max"}).collect()[0][0])
    n = compact_profile_values(spark, values, upto_batch_id=max_bid)
    assert n > 1, "several batch partitions should fold"
    import os
    dirs = [d for d in os.listdir(values) if d.startswith("batch_id=")]
    assert dirs == ["batch_id=-1"]
    after = _rows_str(
        table_profile_report_from_store(spark, partials, values)
        .collect())
    assert after == before
    assert compact_profile_values(spark, values, max_bid) == 0  # idempotent


def test_read_store_first_batch_vs_corrupt_store(spark, tmp_path):
    """_read_store may report 'first batch' ONLY for a genuinely
    absent store OR a store directory with zero data files (the
    residue an EMPTY first micro-batch's write leaves — without this
    arm the stream wedges permanently on schema inference).  A store
    with an unreadable data file must RAISE — treating it as first
    batch would silently reset accumulated sink state."""
    import pytest as _pytest

    from cga_logs_to_kinesis_spark.streaming.corpus import _read_store

    # absent path -> first batch
    assert _read_store(spark, str(tmp_path / "never_created")) is None
    # empty-batch residue (dir + _SUCCESS, no footers) -> first batch
    empty = str(tmp_path / "empty_store")
    (spark.createDataFrame([], "text_digest string, batch_id long")
     .write.partitionBy("batch_id").parquet(empty))
    assert _read_store(spark, empty) is None
    # a store with a corrupt DATA file -> must not be swallowed.
    # (The raise may come at read or first action, depending on where
    # Spark touches the footer.)
    bad = tmp_path / "corrupt_store"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with _pytest.raises(Exception):
        df = _read_store(spark, str(bad))
        if df is None:
            raise AssertionError(
                "_read_store treated a corrupt store as first batch")
        df.collect()


def _blocklist_chunks(spark, tmp_path):
    """The fixture blocklist (doc_id % 13 == 0) staged as three
    arrival chunks — eval sets get published over time."""
    block = (load_table(spark, SF_SMOKE, "documents")
             .filter(F.col("doc_id") % 13 == 0))
    src = tmp_path / "block_arrivals"
    for k in range(3):
        block.filter((F.col("doc_id") / 13 % 3).cast("int") == k) \
            .coalesce(1).write.parquet(str(src / f"chunk={k}"))
    return block, str(src)


def _drain_blocklist(spark, src, sink, ckpt):
    q = (spark.readStream
         .schema("doc_id long, text string, lang string, "
                 "source string, n_chars long")
         .option("maxFilesPerTrigger", 1).parquet(src + "/*")
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    except Exception:
        pass                            # injected crash surfaces here


def test_bloom_sink_matches_batch_build_and_compacts(spark, tmp_path):
    """Streaming the blocklist in three drops must fold to the SAME
    bitmap as the batch treeReduce build over the full blocklist, the
    store consumer's report must agree with the batch query's on the
    shared columns, and compaction (distinct-store algebra: OR is
    idempotent) must change neither."""
    import numpy as np

    import cga_logs_to_kinesis_spark.operators.sketches as sk
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bloom_bitmap_from_store,
        bloom_decontaminate_from_store,
        bloom_positions_sink,
        compact_bloom_store,
    )

    block, src = _blocklist_chunks(spark, tmp_path)
    store = str(tmp_path / "bloom_store")
    _drain_blocklist(spark, src, bloom_positions_sink(store),
                     str(tmp_path / "ckpt"))
    batch_bitmap = sk.build_bloom_bitmap_tree(
        block.select(sk._fp_col().alias("fp"))
        .filter(F.col("fp").isNotNull()), sk.BLOOM_BITS)
    folded = bloom_bitmap_from_store(spark, store, sk.BLOOM_BITS)
    assert folded.any()
    assert np.array_equal(folded, batch_bitmap)
    docs = load_table(spark, SF_SMOKE, "documents")
    got = sorted(map(tuple, bloom_decontaminate_from_store(
        spark, store, docs).collect()))
    want = sorted((r.source, r.n_docs, r.n_dropped, r.n_kept)
                  for r in sk.q_bloom_decontaminate(
                      spark, SF_SMOKE).collect())
    assert got == want
    # compaction: base fold preserves bitmap and report exactly
    assert compact_bloom_store(spark, store, 2) == 3
    assert np.array_equal(
        bloom_bitmap_from_store(spark, store, sk.BLOOM_BITS),
        batch_bitmap)
    assert sorted(map(tuple, bloom_decontaminate_from_store(
        spark, store, docs).collect())) == want


def test_bloom_sink_crash_replay_is_exactly_once(spark, tmp_path):
    """Crash after the position write, before the checkpoint commit:
    the replayed batch recomputes the same distinct positions and
    overwrites its own partition — folded bitmap equals a clean
    run's."""
    import numpy as np

    import cga_logs_to_kinesis_spark.operators.sketches as sk
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bloom_bitmap_from_store,
        bloom_positions_sink,
    )

    block, src = _blocklist_chunks(spark, tmp_path)
    crash_store = str(tmp_path / "bloom_crash")
    sink = crash_after(bloom_positions_sink(crash_store), (1,))
    ckpt = str(tmp_path / "ckpt_crash")
    _drain_blocklist(spark, src, sink, ckpt)   # dies on batch 1
    _drain_blocklist(spark, src, sink, ckpt)   # replay, finish
    clean_store = str(tmp_path / "bloom_clean")
    _drain_blocklist(spark, src, bloom_positions_sink(clean_store),
                     str(tmp_path / "ckpt_clean"))
    a = bloom_bitmap_from_store(spark, crash_store, sk.BLOOM_BITS)
    b = bloom_bitmap_from_store(spark, clean_store, sk.BLOOM_BITS)
    assert a.any() and np.array_equal(a, b)


# ---------------------------------------------------------------------------
# Streaming event funnel (10th store family)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# IVF serving twin (persisted inverted-file + SQ8 index)
# ---------------------------------------------------------------------------

def _drain_doc_sink(spark, src, sink, ckpt):
    """Drive a documents-consuming foreachBatch sink ONE FILE PER
    MICRO-BATCH (maxFilesPerTrigger is a SOURCE option — without it
    availableNow merges every staged chunk into a single batch and
    crash-injection on batch 1 never fires)."""
    q = (spark.readStream
         .schema("doc_id long, text string, lang string, "
                 "source string, n_chars long")
         .option("maxFilesPerTrigger", 1).parquet(src + "/*")
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    except Exception:
        pass                             # injected crash surfaces here


def _doc_chunks(spark, tmp_path, n=3):
    docs = load_table(spark, SF_SMOKE, "documents")
    src = tmp_path / "doc_chunks"
    for k in range(n):
        docs.filter(F.abs(F.hash("doc_id")) % n == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))
    return str(src)


def test_encoding_anomaly_reader_empty_store(spark, tmp_path):
    """Never-created and zero-footer stores read as a typed empty
    report (the _read_store contract every sibling reader follows),
    not a schema-inference crash."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        encoding_anomaly_report_from_store,
    )

    df = encoding_anomaly_report_from_store(
        spark, str(tmp_path / "never_created"))
    assert df.count() == 0
    assert df.columns[:3] == ["source", "n_docs", "n_chars"]
    empty = tmp_path / "zero_footer"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    assert encoding_anomaly_report_from_store(
        spark, str(empty)).count() == 0


def test_encoding_anomaly_sink_matches_batch(spark, tmp_path):
    """Per-batch encoding-anomaly partials must re-fold to the exact
    batch report, whatever the micro-batch split."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        encoding_anomaly_report_from_store,
        encoding_anomaly_sink,
    )

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "enc_store")
    _drain_doc_sink(spark, src, encoding_anomaly_sink(store),
                    str(tmp_path / "ckpt"))
    assert (spark.read.parquet(store)
            .select("batch_id").distinct().count()) == 3
    got = sorted(map(tuple, encoding_anomaly_report_from_store(
        spark, store).collect()))
    want = sorted(map(tuple,
                      all_queries()["encoding_anomaly_report"]
                      .fn(spark, SF_SMOKE).collect()))
    assert got == want and len(want) > 0


def test_encoding_anomaly_sink_crash_replay_is_exactly_once(
        spark, tmp_path):
    """Crash after the write, before the checkpoint commit: the
    replayed batch overwrites its own partition identically — the
    fold must not double-count."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        encoding_anomaly_report_from_store,
        encoding_anomaly_sink,
    )

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "enc_store")
    sink = crash_after(encoding_anomaly_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    got = sorted(map(tuple, encoding_anomaly_report_from_store(
        spark, store).collect()))
    want = sorted(map(tuple,
                      all_queries()["encoding_anomaly_report"]
                      .fn(spark, SF_SMOKE).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Streaming n-gram novelty (MIN-fold first-occurrence store)
# ---------------------------------------------------------------------------

def _novelty_report(spark, fp_dir, doc_dir):
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        ngram_novelty_from_store,
    )
    return sorted(map(tuple, ngram_novelty_from_store(
        spark, fp_dir, doc_dir).collect()))


def _novelty_batches(spark, tmp_path):
    """Docs split into three arrival batches by a doc_id hash —
    deliberately NOT in doc_id order, so first-occurrence minima
    straddle batches in both directions."""
    docs = load_table(spark, SF_SMOKE, "documents")
    src = tmp_path / "nov_arrivals"
    for k in range(3):
        docs.filter(F.abs(F.hash("doc_id")) % 3 == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))
    return str(src)


def test_novelty_sink_matches_batch_any_order(spark, tmp_path):
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        novelty_sink,
    )

    src = _novelty_batches(spark, tmp_path)
    fp_dir = str(tmp_path / "fps")
    doc_dir = str(tmp_path / "docs")
    _drain_doc_sink(spark, src, novelty_sink(fp_dir, doc_dir),
                    str(tmp_path / "ckpt"))
    assert (spark.read.parquet(fp_dir)
            .select("batch_id").distinct().count()) == 3
    got = _novelty_report(spark, fp_dir, doc_dir)
    want = sorted(map(tuple, all_queries()["ngram_novelty"]
                      .fn(spark, SF_SMOKE).collect()))
    assert got == want and len(want) > 0


def test_novelty_curve_from_store_matches_batch(spark, tmp_path):
    """The curve is a second CONSUMER of the same novelty state — no
    extra sink: across the 3-batch out-of-order split it must fold to
    the exact batch novelty_curve, and compaction must not move it."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_novelty_doc_store,
        compact_novelty_store,
        novelty_curve_from_store,
        novelty_sink,
    )

    src = _novelty_batches(spark, tmp_path)
    fp_dir = str(tmp_path / "fps")
    doc_dir = str(tmp_path / "docs")
    # reuse the crash-replay path: die on batch 1, then finish
    sink = crash_after(novelty_sink(fp_dir, doc_dir), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)
    _drain_doc_sink(spark, src, sink, ckpt)
    n = load_table(spark, SF_SMOKE, "documents") \
        .agg(F.max("doc_id")).first()[0]
    got = sorted(map(tuple, novelty_curve_from_store(
        spark, fp_dir, doc_dir, max_doc_id=n).collect()))
    want = sorted(map(tuple, all_queries()["novelty_curve"]
                      .fn(spark, SF_SMOKE).collect()))
    assert got == want and len(want) == 10
    # the store-derived divisor coincides on this corpus (its max
    # doc_id has shingles), so the no-arg call folds identically
    got2 = sorted(map(tuple, novelty_curve_from_store(
        spark, fp_dir, doc_dir).collect()))
    assert got2 == want
    compact_novelty_store(spark, fp_dir, 2)
    compact_novelty_doc_store(spark, doc_dir, 2)
    got3 = sorted(map(tuple, novelty_curve_from_store(
        spark, fp_dir, doc_dir, max_doc_id=n).collect()))
    assert got3 == want


def test_novelty_sink_crash_replay_and_compaction(spark, tmp_path):
    """Crash after the fp write, before the checkpoint commit: the
    replay overwrites its own partitions; MIN idempotence also makes
    the compactor's crash window harmless.  Compaction must leave
    the report bit-identical."""
    import os

    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_novelty_store,
        novelty_sink,
    )

    src = _novelty_batches(spark, tmp_path)
    fp_dir = str(tmp_path / "fps")
    doc_dir = str(tmp_path / "docs")
    sink = crash_after(novelty_sink(fp_dir, doc_dir), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    want = sorted(map(tuple, all_queries()["ngram_novelty"]
                      .fn(spark, SF_SMOKE).collect()))
    assert _novelty_report(spark, fp_dir, doc_dir) == want
    assert compact_novelty_store(spark, fp_dir, 2) == 3
    dirs = [d for d in os.listdir(fp_dir) if d.startswith("batch_id=")]
    assert dirs == ["batch_id=-1"]
    assert _novelty_report(spark, fp_dir, doc_dir) == want
    # the doc-side store is distinct-consumed: the shared base
    # compactor folds it without moving the report either
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_novelty_doc_store,
    )
    assert compact_novelty_doc_store(spark, doc_dir, 2) == 3
    dirs = [d for d in os.listdir(doc_dir) if d.startswith("batch_id=")]
    assert dirs == ["batch_id=-1"]
    assert _novelty_report(spark, fp_dir, doc_dir) == want


# ---------------------------------------------------------------------------
# Streaming skew monitor (SUM-fold frequency store -> live salt plan)
# ---------------------------------------------------------------------------

def _skew_kv_chunks(spark, tmp_path, n=3):
    """The skew_kv projection split into n arrival chunks by a row
    hash — deliberately NOT grouped by key, so every key's count
    straddles batches and the SUM fold is actually exercised."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import skew_kv

    kv = skew_kv(spark, SF_SMOKE)
    src = tmp_path / "kv_chunks"
    for k in range(n):
        kv.filter(F.abs(F.hash("key_col", "k")) % n == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))
    return str(src)


def _drain_kv_sink(spark, src, sink, ckpt):
    q = (spark.readStream
         .schema("key_col string, k string")
         .option("maxFilesPerTrigger", 1).parquet(src + "/*")
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    except Exception:
        pass


def test_skew_freq_store_matches_batch_and_plan(spark, tmp_path):
    """Frequencies fold exactly under any micro-batch split, and the
    store-backed planner emits the bit-identical salt plan the batch
    query computes from a full scan."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        skew_key_frequencies,
    )
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        salted_join_plan_from_store,
        skew_freq_sink,
        skew_frequencies_from_store,
    )

    src = _skew_kv_chunks(spark, tmp_path)
    store = str(tmp_path / "freq_store")
    _drain_kv_sink(spark, src, skew_freq_sink(store),
                   str(tmp_path / "ckpt"))
    assert (spark.read.parquet(store)
            .select("batch_id").distinct().count()) == 3
    got = sorted(map(tuple, skew_frequencies_from_store(
        spark, store).collect()))
    want = sorted(map(tuple,
                      skew_key_frequencies(spark, SF_SMOKE).collect()))
    assert got == want and len(want) > 0
    plan_got = sorted(map(tuple, salted_join_plan_from_store(
        spark, store).collect()))
    plan_want = sorted(map(tuple, all_queries()["salted_join_plan"]
                           .fn(spark, SF_SMOKE).collect()))
    assert plan_got == plan_want and len(plan_want) > 0


def test_skew_freq_store_crash_replay_and_compaction(spark, tmp_path):
    """Replay overwrites its own partition (exactly-once for the SUM
    fold); compaction folds to the watermark base without moving the
    frequencies, and a re-run finishes an interrupted cleanup."""
    import os

    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        skew_key_frequencies,
    )
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_skew_freq_store,
        skew_freq_sink,
        skew_frequencies_from_store,
    )

    src = _skew_kv_chunks(spark, tmp_path)
    store = str(tmp_path / "freq_store")
    sink = crash_after(skew_freq_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_kv_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_kv_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    want = sorted(map(tuple,
                      skew_key_frequencies(spark, SF_SMOKE).collect()))
    fold = lambda: sorted(map(tuple, skew_frequencies_from_store(  # noqa: E731
        spark, store).collect()))
    assert fold() == want
    assert compact_skew_freq_store(spark, store, 2) == 3
    dirs = sorted(d for d in os.listdir(store)
                  if d.startswith("batch_id="))
    assert dirs == ["batch_id=-4"]           # -(max_folded 2 + 2)
    assert fold() == want
    # nothing new to fold -> no-op, fold unchanged
    assert compact_skew_freq_store(spark, store, 2) == 0
    assert fold() == want


def test_skew_freq_store_empty_reader(spark, tmp_path):
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        skew_frequencies_from_store,
    )

    df = skew_frequencies_from_store(spark,
                                     str(tmp_path / "never_created"))
    assert df.columns == ["key_col", "k", "f"] and df.count() == 0


def test_script_mixing_sink_matches_batch(spark, tmp_path):
    """Per-batch script-mixing partials re-fold to the exact batch
    report under any micro-batch split, survive crash-replay, and a
    never-created store reads as a typed empty frame."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        script_mixing_report_from_store,
        script_mixing_sink,
    )

    empty = script_mixing_report_from_store(
        spark, str(tmp_path / "never"))
    assert empty.count() == 0 and empty.columns[0] == "source"

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "script_store")
    sink = crash_after(script_mixing_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    got = sorted(map(tuple, script_mixing_report_from_store(
        spark, store).collect()))
    want = sorted(map(tuple, all_queries()["script_mixing_report"]
                      .fn(spark, SF_SMOKE).collect()))
    assert got == want and len(want) > 0


def test_profile_and_audit_readers_empty_store(spark, tmp_path):
    """The ingest-audit and table-profile store readers follow the
    same _read_store contract as every sibling: never-created stores
    are empty state, not a schema-inference crash."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        ingest_audit_report_from_store,
        table_profile_report_from_store,
    )

    a = ingest_audit_report_from_store(spark, str(tmp_path / "nope"))
    assert a.count() == 0 and a.columns[0] == "shard"
    p = table_profile_report_from_store(
        spark, str(tmp_path / "no_partials"), str(tmp_path / "no_vals"))
    assert p.count() == 0 and p.columns[0] == "col_name"


def test_summing_store_compactors_do_not_move_reports(spark, tmp_path):
    """The encoding, script-mixing, and ingest-audit stores get the
    watermark-base compactor (the skew/HH discipline): folding batch
    partitions into the -(max_folded+2) base must leave every
    report bit-identical, the readers must ignore stale dirs a
    crashed cleanup leaves behind, and a no-op re-run must finish
    that cleanup."""
    import os

    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        dirty_jsonl_fixture,
    )
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_encoding_store,
        compact_ingest_audit_store,
        compact_script_mixing_store,
        encoding_anomaly_report_from_store,
        encoding_anomaly_sink,
        ingest_audit_report_from_store,
        ingest_audit_sink,
        script_mixing_report_from_store,
        script_mixing_sink,
        stream_documents_jsonl_audit,
    )

    qs = all_queries()
    src = _doc_chunks(spark, tmp_path)

    # encoding + script mixing over the same 3-chunk doc stream
    enc_store = str(tmp_path / "enc")
    scr_store = str(tmp_path / "scr")
    _drain_doc_sink(spark, src, encoding_anomaly_sink(enc_store),
                    str(tmp_path / "ck1"))
    _drain_doc_sink(spark, src, script_mixing_sink(scr_store),
                    str(tmp_path / "ck2"))
    want_enc = sorted(map(tuple, qs["encoding_anomaly_report"]
                          .fn(spark, SF_SMOKE).collect()))
    want_scr = sorted(map(tuple, qs["script_mixing_report"]
                          .fn(spark, SF_SMOKE).collect()))
    assert compact_encoding_store(spark, enc_store, 2) == 3
    assert compact_script_mixing_store(spark, scr_store, 2) == 3
    for store in (enc_store, scr_store):
        dirs = sorted(d for d in os.listdir(store)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-4"]
    assert sorted(map(tuple, encoding_anomaly_report_from_store(
        spark, enc_store).collect())) == want_enc
    assert sorted(map(tuple, script_mixing_report_from_store(
        spark, scr_store).collect())) == want_scr
    # no-op re-run: nothing left to fold, report unmoved
    assert compact_encoding_store(spark, enc_store, 2) == 0
    assert sorted(map(tuple, encoding_anomaly_report_from_store(
        spark, enc_store).collect())) == want_enc

    # ingest audit (sums + MIN/MAX extrema) over the JSONL fixture
    base = dirty_jsonl_fixture()
    audit_store = str(tmp_path / "audit")
    q = (stream_documents_jsonl_audit(spark, base,
                                      max_files_per_trigger=1)
         .writeStream.foreachBatch(ingest_audit_sink(audit_store))
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    want_audit = sorted(map(tuple, ingest_audit_report_from_store(
        spark, audit_store).collect()))
    n_batches = (spark.read.parquet(audit_store)
                 .select("batch_id").distinct().count())
    assert compact_ingest_audit_store(
        spark, audit_store, n_batches - 1) == n_batches
    assert sorted(map(tuple, ingest_audit_report_from_store(
        spark, audit_store).collect())) == want_audit


# ---------------------------------------------------------------------------
# Streaming corpus-drift monitor (per-decile mergeable partials)
# ---------------------------------------------------------------------------

def test_corpus_drift_store_matches_batch(spark, tmp_path):
    """Per-decile drift partials re-fold to the exact batch report —
    counts/sums, the decimal-exact avg_chars, AND the countDistinct
    spreads — under a 3-batch split with a crash-replay on batch 1;
    never-created stores read as a typed empty frame."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        corpus_drift_from_store,
        corpus_drift_sink,
    )

    empty = corpus_drift_from_store(
        spark, str(tmp_path / "no_sums"), str(tmp_path / "no_vals"))
    assert empty.count() == 0
    assert empty.columns == ["decile", "n_docs", "blank_docs",
                             "total_chars", "avg_chars", "n_sources",
                             "n_langs"]

    n = (load_table(spark, SF_SMOKE, "documents")
         .agg(F.max("doc_id")).first()[0])
    src = _doc_chunks(spark, tmp_path)
    sum_dir = str(tmp_path / "drift_sums")
    val_dir = str(tmp_path / "drift_vals")
    sink = crash_after(corpus_drift_sink(sum_dir, val_dir, n), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    assert (spark.read.parquet(sum_dir)
            .select("batch_id").distinct().count()) == 3
    got = sorted(map(tuple, corpus_drift_from_store(
        spark, sum_dir, val_dir).collect()))
    want = sorted(map(tuple, all_queries()["corpus_drift"]
                      .fn(spark, SF_SMOKE).collect()))
    assert got == want and len(want) == 10


def test_corpus_drift_store_compaction(spark, tmp_path):
    """Both drift stores compact without moving the report: the sums
    store through the watermark base (counts + decimal char sum all
    SUM), the values store through the shared distinct base; no-op
    re-runs return 0 and leave the fold unchanged."""
    import os

    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_corpus_drift_sums,
        compact_corpus_drift_values,
        corpus_drift_from_store,
        corpus_drift_sink,
    )

    n = (load_table(spark, SF_SMOKE, "documents")
         .agg(F.max("doc_id")).first()[0])
    src = _doc_chunks(spark, tmp_path)
    sum_dir = str(tmp_path / "drift_sums")
    val_dir = str(tmp_path / "drift_vals")
    _drain_doc_sink(spark, src, corpus_drift_sink(sum_dir, val_dir, n),
                    str(tmp_path / "ckpt"))
    fold = lambda: sorted(map(tuple, corpus_drift_from_store(  # noqa: E731
        spark, sum_dir, val_dir).collect()))
    want = fold()
    assert len(want) == 10
    assert compact_corpus_drift_sums(spark, sum_dir, 2) == 3
    dirs = sorted(d for d in os.listdir(sum_dir)
                  if d.startswith("batch_id="))
    assert dirs == ["batch_id=-4"]           # -(max_folded 2 + 2)
    assert fold() == want
    assert compact_corpus_drift_values(spark, val_dir, 2) == 3
    dirs = sorted(d for d in os.listdir(val_dir)
                  if d.startswith("batch_id="))
    assert dirs == ["batch_id=-1"]           # distinct-store base
    assert fold() == want
    # nothing new to fold -> no-ops, fold unchanged
    assert compact_corpus_drift_sums(spark, sum_dir, 2) == 0
    assert compact_corpus_drift_values(spark, val_dir, 2) == 0
    assert fold() == want


# ---------------------------------------------------------------------------
# Streaming line-frequency store (boilerplate mining as a SUM fold)
# ---------------------------------------------------------------------------

def _poisoned_doc_chunks(spark, tmp_path, n=3):
    """The fixture corpus with the line-dedup poison applied, split
    into n arrival chunks — each doc arrives exactly once (the
    contract that makes per-batch distinct-doc counts SUM)."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        poison_boilerplate,
    )

    docs = load_table(spark, SF_SMOKE, "documents") \
        .withColumn("text", poison_boilerplate())
    src = tmp_path / "poisoned_chunks"
    for k in range(n):
        docs.filter(F.abs(F.hash("doc_id")) % n == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))
    return docs, str(src)


def test_line_df_store_matches_batch_report_and_scrub(spark, tmp_path):
    """The folded store reproduces the batch boilerplate report
    bit-for-bit under a 3-batch split with a crash-replay, and the
    store-fed scrub drops exactly what the batch scrub drops."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        boilerplate_report_from_store,
        line_df_sink,
        line_scrub_from_store,
    )

    empty = boilerplate_report_from_store(spark,
                                          str(tmp_path / "never"))
    assert empty.count() == 0 and empty.columns == ["line", "n_docs"]

    docs, src = _poisoned_doc_chunks(spark, tmp_path)
    store = str(tmp_path / "line_df")
    sink = crash_after(line_df_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    qs = all_queries()
    got = [tuple(r) for r in boilerplate_report_from_store(
        spark, store).collect()]
    want = [tuple(r) for r in qs["boilerplate_lines"]
            .fn(spark, SF_SMOKE).collect()]
    assert got == want and len(want) == 3

    scrub_got = {r.doc_id: (r.n_lines, r.n_dropped, r.scrubbed_text)
                 for r in line_scrub_from_store(
                     spark, docs, store).collect()}
    scrub_want = {r.doc_id: (r.n_lines, r.n_dropped, r.scrubbed_text)
                  for r in qs["line_dedup_scrub"]
                  .fn(spark, SF_SMOKE).collect()}
    assert scrub_got == scrub_want and len(scrub_want) == 500


def test_line_pipeline_from_store_matches_batch(spark, tmp_path):
    """The store-backed full pipeline (row-local intra dedup, then
    scrub against the folded line-frequency store) reproduces the
    batch ``line_dedup_pipeline`` bit-for-bit over the same corpus —
    the store fed with INTRA-SCRUBBED documents, the fit-after-intra
    order the batch query pins.  ``restored`` is excluded from the
    row compare (the batch query proves restoration against the
    pre-poison text — a proof device the stream doesn't know; the
    twin's restored means "the corpus pass dropped nothing" and is
    checked on its own terms)."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        poison_boilerplate,
        poison_intra,
    )
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        line_df_sink,
        line_pipeline_from_store,
        streaming_line_dedup_intra,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    poisoned = docs.select(
        "doc_id", poison_intra(poison_boilerplate()).alias("text"))
    src = tmp_path / "pipeline_chunks"
    for k in range(3):
        poisoned.filter(F.abs(F.hash("doc_id")) % 3 == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))

    store = str(tmp_path / "line_df")
    sink = line_df_sink(store)

    def intra_then_sink(batch_df, batch_id):
        scrubbed = streaming_line_dedup_intra(batch_df).select(
            "doc_id", F.col("scrubbed_text").alias("text"))
        sink(scrubbed, batch_id)

    _drain_doc_sink(spark, str(src), intra_then_sink,
                    str(tmp_path / "ckpt"))

    got_df = line_pipeline_from_store(spark, poisoned, store)
    got = {r.doc_id: (r.n_dropped_intra, r.n_lines,
                      r.n_dropped_boiler, r.scrubbed_text)
           for r in got_df.collect()}
    want_rows = all_queries()["line_dedup_pipeline"] \
        .fn(spark, SF_SMOKE).collect()
    want = {r.doc_id: (r.n_dropped_intra, r.n_lines,
                       r.n_dropped_boiler, r.scrubbed_text)
            for r in want_rows}
    assert got == want and len(want) == 500
    assert all(r.restored for r in want_rows)   # batch proof device
    # twin restored = corpus pass was a no-op for that doc
    twin = {r.doc_id: r.restored for r in got_df.collect()}
    boilered = {r.doc_id for r in want_rows if r.n_dropped_boiler > 0}
    assert all((d not in boilered) == twin[d]
               for d in twin if twin[d] is not None)


def test_line_df_store_seen_guard_drops_recrawled_docs(spark, tmp_path):
    """``seen_dir`` ENFORCES the each-doc-in-one-batch contract (r14
    advice): a re-crawled chunk arriving a second time contributes
    nothing, so the folded report equals the single-arrival report —
    while the unguarded sink double-counts (proving the guard is
    load-bearing, not decorative)."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        boilerplate_report_from_store,
        line_df_sink,
    )

    _docs, src = _poisoned_doc_chunks(spark, tmp_path)
    # re-crawl: chunk 0's docs arrive AGAIN as a fourth file
    spark.read.parquet(src + "/chunk=0").coalesce(1) \
        .write.parquet(src + "/chunk=recrawl")
    want = [tuple(r) for r in all_queries()["boilerplate_lines"]
            .fn(spark, SF_SMOKE).collect()]

    guarded = str(tmp_path / "guarded")
    _drain_doc_sink(
        spark, src,
        line_df_sink(guarded, seen_dir=str(tmp_path / "seen")),
        str(tmp_path / "ckpt_g"))
    got = [tuple(r) for r in boilerplate_report_from_store(
        spark, guarded).collect()]
    assert got == want and len(want) == 3

    unguarded = str(tmp_path / "unguarded")
    _drain_doc_sink(spark, src, line_df_sink(unguarded),
                    str(tmp_path / "ckpt_u"))
    bad = {r.line: r.n_docs for r in boilerplate_report_from_store(
        spark, unguarded).collect()}
    assert any(bad[line] > n for line, n in want)   # double-counted


def test_line_df_store_compaction(spark, tmp_path):
    """Counts SUM -> the watermark-base compactor folds the store
    without moving the report; no-op re-runs return 0."""
    import os

    from cga_logs_to_kinesis_spark.streaming.corpus import (
        boilerplate_report_from_store,
        compact_line_df_store,
        line_df_sink,
    )

    _docs, src = _poisoned_doc_chunks(spark, tmp_path)
    store = str(tmp_path / "line_df")
    _drain_doc_sink(spark, src, line_df_sink(store),
                    str(tmp_path / "ckpt"))
    fold = lambda: [tuple(r) for r in boilerplate_report_from_store(  # noqa: E731
        spark, store).collect()]
    want = fold()
    assert len(want) == 3
    assert compact_line_df_store(spark, store, 2) == 3
    dirs = sorted(d for d in os.listdir(store)
                  if d.startswith("batch_id="))
    assert dirs == ["batch_id=-4"]           # -(max_folded 2 + 2)
    assert fold() == want
    assert compact_line_df_store(spark, store, 2) == 0
    assert fold() == want


def test_line_source_store_matches_batch_ratio(spark, tmp_path):
    """The store-backed per-source gate reproduces the batch
    boilerplate_ratio_by_source report bit-for-bit under a 3-batch
    split with crash-replay, and both stores compact without moving
    it — the whole line-dedup family (report, apply, gate) runs
    continuously."""
    import os

    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        boilerplate_ratio_from_store,
        compact_line_df_store,
        compact_line_source_store,
        line_df_sink,
        line_source_sink,
    )

    empty = boilerplate_ratio_from_store(
        spark, str(tmp_path / "no_src"), str(tmp_path / "no_df"))
    assert empty.count() == 0
    assert empty.columns == ["source", "n_lines", "n_boiler_lines",
                             "boiler_ratio"]

    _docs, src = _poisoned_doc_chunks(spark, tmp_path)
    df_store = str(tmp_path / "line_df")
    src_store = str(tmp_path / "line_src")
    _drain_doc_sink(spark, src, line_df_sink(df_store),
                    str(tmp_path / "ck1"))
    sink = crash_after(line_source_sink(src_store), (1,))
    ckpt = str(tmp_path / "ck2")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    fold = lambda: [tuple(r) for r in boilerplate_ratio_from_store(  # noqa: E731
        spark, src_store, df_store).collect()]
    want = [tuple(r) for r in
            all_queries()["boilerplate_ratio_by_source"]
            .fn(spark, SF_SMOKE).collect()]
    got = fold()
    assert got == want and len(want) == 20
    assert compact_line_source_store(spark, src_store, 2) == 3
    dirs = sorted(d for d in os.listdir(src_store)
                  if d.startswith("batch_id="))
    assert dirs == ["batch_id=-4"]
    assert fold() == want
    assert compact_line_df_store(spark, df_store, 2) == 3
    assert fold() == want
    assert compact_line_source_store(spark, src_store, 2) == 0
    assert fold() == want


def test_token_count_store_matches_batch_divergence(spark, tmp_path):
    """ONE (source, tok) count store reproduces the batch
    source_divergence report bit-for-bit (integer-exact TV through
    the shared tv_from_token_counts tail) under a 3-batch split with
    crash-replay; the watermark compactor doesn't move it."""
    import os

    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_token_count_store,
        source_divergence_from_store,
        token_count_sink,
    )

    empty = source_divergence_from_store(spark, str(tmp_path / "no"))
    assert empty.count() == 0
    assert empty.columns == ["source", "n_tokens",
                             "n_distinct_tokens", "tv_distance"]

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "tok_counts")
    sink = crash_after(token_count_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    fold = lambda: [tuple(r) for r in source_divergence_from_store(  # noqa: E731
        spark, store).collect()]
    want = [tuple(r) for r in all_queries()["source_divergence"]
            .fn(spark, SF_SMOKE).collect()]
    got = fold()
    assert got == want and len(want) == 20
    assert compact_token_count_store(spark, store, 2) == 3
    dirs = sorted(d for d in os.listdir(store)
                  if d.startswith("batch_id="))
    assert dirs == ["batch_id=-4"]
    assert fold() == want
    assert compact_token_count_store(spark, store, 2) == 0
    assert fold() == want


def test_hll_store_matches_batch_sketch_and_bounds(spark, tmp_path):
    """The sketch store's folded estimate equals the single-shot
    batch sketch (Spark's partial agg IS union-of-partials) under a
    3-batch split with crash-replay, sits within the lg_k=12 error
    envelope of the exact distinct counts, and survives compaction
    unchanged (union is idempotent)."""
    import os

    from cga_logs_to_kinesis_spark.streaming.corpus import (
        approx_distinct_from_store,
        compact_hll_store,
        hll_distinct_sink,
    )

    empty = approx_distinct_from_store(spark, str(tmp_path / "no"))
    assert empty.count() == 0
    assert empty.columns == ["lang", "approx_distinct"]

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "hll")
    sink = crash_after(hll_distinct_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    fold = lambda: {r["lang"]: r["approx_distinct"] for r in  # noqa: E731
                    approx_distinct_from_store(spark, store).collect()}
    got = fold()

    docs = load_table(spark, SF_SMOKE, "documents") \
        .filter(F.col("lang").isNotNull())
    batch = {r["lang"]: r["est"] for r in
             docs.groupBy("lang")
             .agg(F.hll_sketch_estimate(
                 F.hll_sketch_agg("doc_id", F.lit(12))).alias("est"))
             .collect()}
    assert got == batch                       # union-of-partials
    exact = {r["lang"]: r["n"] for r in
             docs.groupBy("lang")
             .agg(F.countDistinct("doc_id").alias("n")).collect()}
    for lang, n in exact.items():
        assert abs(got[lang] - n) <= max(2, 0.05 * n), (
            f"{lang}: sketch {got[lang]} vs exact {n}")

    assert compact_hll_store(spark, store, 2) == 3
    dirs = sorted(d for d in os.listdir(store)
                  if d.startswith("batch_id="))
    assert dirs == ["batch_id=-4"]
    assert fold() == got
    assert compact_hll_store(spark, store, 2) == 0
    assert fold() == got


def test_streaming_intra_dedup_matches_batch(spark, tmp_path):
    """Two independent algorithms, one semantics: the stream twin's
    row-local prefix probe must equal the batch query's groupBy+join
    on every doc of the poisoned corpus."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        poison_intra,
    )
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        streaming_line_dedup_intra,
    )

    docs = load_table(spark, SF_SMOKE, "documents") \
        .withColumn("text", poison_intra())
    src = tmp_path / "intra_chunks"
    for k in range(3):
        docs.filter(F.abs(F.hash("doc_id")) % 3 == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))
    stream = stream_documents(spark, str(src) + "/*")
    got = {r.doc_id: (r.n_lines, r.n_dropped, r.scrubbed_text)
           for r in _drain(streaming_line_dedup_intra(stream),
                           tmp_path, "intra").collect()}
    want = {r.doc_id: (r.n_lines, r.n_dropped, r.scrubbed_text)
            for r in all_queries()["line_dedup_intra"]
            .fn(spark, SF_SMOKE).collect()}
    assert got == want and len(got) == 500
    assert any(v[1] > 0 for v in got.values())


def test_mixture_from_store_matches_batch_algebra(spark, tmp_path):
    """The token-count store's per-source totals, pushed through the
    SHARED mixture_weight_columns algebra, equal the batch algebra
    over the same counts (source_tokens over the whole corpus)
    bit-for-bit — under a 3-batch split with crash-replay, and
    unmoved by the watermark compactor.  One store carries both
    divergence and resampling rates."""
    import os

    from pyspark.sql import functions as F

    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        source_tokens,
    )
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        mixture_weight_columns,
    )
    from cga_logs_to_kinesis_spark.sources import load_table
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_token_count_store,
        mixture_from_store,
        token_count_sink,
    )

    empty = mixture_from_store(spark, str(tmp_path / "no"))
    assert empty.count() == 0
    assert empty.columns == ["source", "n_tokens", "weight",
                             "expected_epochs"]

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "tok_counts")
    sink = crash_after(token_count_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    fold = lambda: [tuple(r) for r in  # noqa: E731
                    mixture_from_store(spark, store).collect()]
    docs = load_table(spark, SF_SMOKE, "documents")
    want = [tuple(r) for r in mixture_weight_columns(
        source_tokens(docs).groupBy("source")
        .agg(F.count("*").alias("n_tokens")))
        .orderBy("source").collect()]
    got = fold()
    assert got == want and len(want) == 20
    assert abs(sum(r[2] for r in got) - 1.0) < 1e-12
    assert compact_token_count_store(spark, store, 2) == 3
    assert fold() == want


def test_perplexity_split_from_store_matches_batch(spark, tmp_path):
    """The bigram-count store folded through the batch query's exact
    algebra tail reproduces perplexity_split bit-for-bit — under a
    3-batch split with crash-replay on batch 1, and unmoved by the
    watermark compactor.  One (prev, w) count store carries the whole
    add-one LM."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.sources import load_table
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bigram_count_sink,
        compact_bigram_count_store,
        perplexity_split_from_store,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    empty = perplexity_split_from_store(spark, docs,
                                        str(tmp_path / "no"))
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "lang", "surprisal_score",
                             "bucket", "keep"]

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "bigram_counts")
    sink = crash_after(bigram_count_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    fold = lambda: sorted(  # noqa: E731
        tuple(r) for r in perplexity_split_from_store(
            spark, docs, store).collect())
    want = sorted(tuple(r) for r in all_queries()["perplexity_split"]
                  .fn(spark, SF_SMOKE).collect())
    got = fold()
    assert got == want and len(want) == 500
    assert {"head", "middle", "tail"} == {r[3] for r in got}
    assert compact_bigram_count_store(spark, store, 2) == 3
    assert fold() == want


def test_perplexity_store_scores_unseen_tranche(spark, tmp_path):
    """Scoring docs the count corpus never saw exercises add-one
    smoothing's unseen case (left joins + zero coalesce): every
    unseen bigram scores (0 + V) / (0 + 1) = V, so a fully-unseen
    doc's score is exactly the store vocabulary size."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bigram_count_sink,
        perplexity_split_from_store,
    )

    known = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s", 16)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    store = str(tmp_path / "counts")
    bigram_count_sink(store)(known, 0)
    unseen = spark.createDataFrame(
        [(9, "zz qq", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    row = perplexity_split_from_store(spark, unseen, store).collect()
    # store vocab = {alpha, beta, gamma} -> V = 3; one bigram (zz,qq)
    # unseen -> inv = (0 + 3) / (0 + 1) = 3.0
    assert len(row) == 1
    assert row[0].surprisal_score == 3.0
    # integer tertiles: a 1-doc language has rank*3 = 3 > 2n = 2, so
    # its only doc is the "tail" (same as the batch rule)
    assert row[0].bucket == "tail"


def test_classifier_eval_from_store_matches_batch(spark, tmp_path):
    """The class-count store folded through the batch trainer's exact
    tail reproduces quality_classifier_eval bit-for-bit — under a
    3-batch split with crash-replay on batch 1, unmoved by the
    watermark compactor — and a tranche hitting buckets the model
    never saw still scores (the smoothed estimator's unseen case)."""
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.sources import load_table
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        class_count_sink,
        classifier_eval_from_store,
        compact_class_count_store,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    empty = classifier_eval_from_store(spark, docs,
                                       str(tmp_path / "no"))
    assert empty.count() == 0
    assert empty.columns == ["is_target", "predicted", "n_docs",
                             "example_doc_id", "avg_score"]

    src = _doc_chunks(spark, tmp_path)
    store = str(tmp_path / "class_counts")
    sink = crash_after(class_count_sink(store), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, src, sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, src, sink, ckpt)   # replay 1, finish 2
    fold = lambda: [tuple(r) for r in  # noqa: E731
                    classifier_eval_from_store(spark, docs,
                                               store).collect()]
    want = [tuple(r) for r in all_queries()["quality_classifier_eval"]
            .fn(spark, SF_SMOKE).collect()]
    got = fold()
    assert got == want and sum(r[2] for r in want) == 500
    assert compact_class_count_store(spark, store, 2) == 3
    assert fold() == want

    # unseen-bucket tranche: tokens the model never counted get the
    # (0+1)-smoothed terms, not a crash or a dropped doc
    unseen = spark.createDataFrame(
        [(9_999, "zzzzqqqq wwwwvvvv", "en", "s", 17)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    rows = classifier_eval_from_store(spark, unseen, store).collect()
    assert len(rows) == 1 and rows[0].n_docs == 1


def test_token_decon_from_store_matches_batch(spark, tmp_path):
    """The word-frequency store, fitted ONCE, reproduces
    token_ngram_decontaminate bit-for-bit — under a 3-batch split of
    the SEEDED corpus with crash-replay on batch 1, unmoved by the
    watermark compactor + a refit.  The 10-round merge loop runs in
    fit_bpe_store only; the reader applies the persisted artifact
    (r16 verdict #2: no refit per invocation)."""
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        decon_canary_seeded,
    )
    from cga_logs_to_kinesis_spark.registry import all_queries
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bpe_vocab_sink,
        compact_bpe_freq_store,
        fit_bpe_store,
        token_decontaminate_from_store,
    )

    docs = decon_canary_seeded(
        load_table(spark, SF_SMOKE, "documents"))
    no_model = token_decontaminate_from_store(
        spark, docs, str(tmp_path / "no"))
    assert no_model.count() == 0
    assert no_model.columns == ["doc_id", "n_shared_grams"]
    assert fit_bpe_store(spark, str(tmp_path / "nofreq"),
                         str(tmp_path / "nomodel")) == 0

    # the batch query fits on the SEEDED corpus, so the stream
    # ingests the seeded docs (the canary is part of the fixture
    # contract, not of the reader)
    src = tmp_path / "seeded_chunks"
    for k in range(3):
        docs.filter(F.abs(F.hash("doc_id")) % 3 == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))
    freq = str(tmp_path / "word_freqs")
    model = str(tmp_path / "bpe_model")
    sink = crash_after(bpe_vocab_sink(freq), (1,))
    ckpt = str(tmp_path / "ckpt")
    _drain_doc_sink(spark, str(src), sink, ckpt)   # dies on batch 1
    _drain_doc_sink(spark, str(src), sink, ckpt)   # replay 1, finish 2
    assert fit_bpe_store(spark, freq, model) == 10

    fold = lambda: sorted(  # noqa: E731
        tuple(r) for r in token_decontaminate_from_store(
            spark, docs, model).collect())
    want = sorted(
        tuple(r) for r in all_queries()["token_ngram_decontaminate"]
        .fn(spark, SF_SMOKE).collect())
    got = fold()
    assert got == want and len(want) > 0
    assert compact_bpe_freq_store(spark, freq, 2) == 3
    assert fit_bpe_store(spark, freq, model) == 10   # refit: same bits
    assert fold() == want


def test_token_decon_store_scores_unseen_tranche(spark, tmp_path):
    """Words the fitted vocabulary never saw tokenize through the
    STORED merge table (apply_merges_to_words over the distinct new
    words), so contamination between two fully-unseen docs is still
    caught — the 'a tokenizer maps ANY word' branch."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        bpe_vocab_sink,
        fit_bpe_store,
        token_decontaminate_from_store,
    )

    known = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta", "en", "s", 27)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    freq = str(tmp_path / "freqs")
    model = str(tmp_path / "model")
    bpe_vocab_sink(freq)(known, 0)
    assert 1 <= fit_bpe_store(spark, freq, model) <= 10

    # two docs the store never saw, sharing one long passage:
    # doc 0 is the benchmark slice (0 % 97 == 0), doc 1 trains —
    # every token is outside the fitted vocabulary
    passage = " ".join(["zebra", "quokka"] * 20)
    unseen = spark.createDataFrame(
        [(0, passage, "en", "s", len(passage)),
         (1, passage, "en", "s", len(passage))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    rows = token_decontaminate_from_store(
        spark, unseen, model).collect()
    assert len(rows) == 1
    assert rows[0].doc_id == 1 and rows[0].n_shared_grams > 0


