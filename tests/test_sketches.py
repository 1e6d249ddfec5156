"""Sketch-operator semantics: the Misra-Gries superset guarantee that
makes heavy_hitters EXACT, and the Bloom filter's no-false-negative /
false-positive-accepting contract.  (Cross-engine value hashes are
covered by test_queries_oracle.py and the dirty net like every other
registered query; these tests pin the guarantees those hashes rest
on, on adversarial inputs the fixtures don't contain.)"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cga_logs_to_kinesis_spark.streaming.faults import crash_after
from tests.conftest import SF_SMOKE


def test_heavy_hitters_exactly_matches_bruteforce(spark):
    """The MG candidate pass must not lose any true heavy hitter:
    compare against the brute-force full-vocabulary groupBy."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        normalized_text,
    )
    from cga_logs_to_kinesis_spark.operators.sketches import (
        MG_COUNTERS,
        q_heavy_hitters,
    )
    from cga_logs_to_kinesis_spark.sources import load_table

    got = [(r.token, r.n)
           for r in q_heavy_hitters(spark, SF_SMOKE).collect()]
    toks = (load_table(spark, SF_SMOKE, "documents")
            .select(F.explode(F.split(normalized_text(), " "))
                    .alias("token"))
            .filter(F.col("token") != ""))
    total = toks.count()
    brute = (toks.groupBy("token").agg(F.count("*").alias("n"))
             .filter(F.col("n") * (MG_COUNTERS + 1) > total)
             .orderBy(F.col("n").desc(), "token"))
    want = [(r.token, r.n) for r in brute.collect()]
    assert got == want and len(want) > 0


def test_mg_survives_adversarial_spread(spark, tmp_path):
    """The averaging-argument guarantee, on the worst case for it: a
    heavy token BARELY above threshold, spread evenly across many
    partitions, buried under a sea of singletons that constantly
    force MG contractions."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        MG_COUNTERS,
        q_heavy_hitters,
    )

    n_filler = 40_000
    hot_n = (n_filler + 210) // MG_COUNTERS + 1   # just over N/(K+1)
    filler = spark.range(n_filler).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique"), F.col("id")).alias("text"))
    hot = spark.range(hot_n).select(
        (F.col("id") + n_filler).alias("doc_id"),
        F.lit("hotword").alias("text"))
    docs = (filler.unionByName(hot)
            .withColumn("lang", F.lit("en"))
            .withColumn("source", F.lit("s"))
            .withColumn("n_chars", F.length("text")))
    docs.repartition(16).write.parquet(
        str(tmp_path / "documents.parquet"))
    got = {r.token: r.n
           for r in q_heavy_hitters(spark, str(tmp_path)).collect()}
    assert got.get("hotword") == hot_n, got


def test_bloom_report_has_no_false_negatives(spark):
    """A Bloom filter over-drops but never under-drops: every
    blocklisted document must be flagged, which in report arithmetic
    is n_dropped - n_false_pos == n_blocklisted in every group."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        q_bloom_decontaminate,
    )

    rows = q_bloom_decontaminate(spark, SF_SMOKE).collect()
    assert rows and sum(r.n_blocklisted for r in rows) > 0
    for r in rows:
        assert r.n_dropped - r.n_false_pos == r.n_blocklisted, r
        assert r.n_kept + r.n_dropped == r.n_docs, r


def test_bloom_saturation_is_pure_overdrop(spark, monkeypatch):
    """Shrink the bitmap until it saturates: every fingerprinted doc
    becomes a (deterministic) positive — the failure mode is still
    over-dropping, never a missed contamination."""
    import cga_logs_to_kinesis_spark.operators.sketches as sk

    monkeypatch.setattr(sk, "BLOOM_BITS", 8)
    rows = sk.q_bloom_decontaminate(spark, SF_SMOKE).collect()
    for r in rows:
        # with 8 bits the filter is full: everything with a
        # fingerprint is dropped, nothing blocklisted survives
        assert r.n_dropped - r.n_false_pos == r.n_blocklisted, r
        assert r.n_kept == r.n_docs - r.n_dropped
    assert sum(r.n_false_pos for r in rows) > 0


def _doc_batches(spark, tmp_path):
    """sf0.001 documents staged as three arrival chunks."""
    from cga_logs_to_kinesis_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    src = tmp_path / "doc_arrivals"
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1) \
            .write.parquet(str(src / f"chunk={k}"))
    return docs, str(src)


def _drain_docs(spark, src, sink, ckpt):
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


def _exact_hitters(spark, docs):
    from cga_logs_to_kinesis_spark.operators.sketches import (
        MG_COUNTERS,
        tokenize_docs,
    )
    toks = tokenize_docs(docs)
    total = toks.count()
    return {(r.token, r.n) for r in
            (toks.groupBy("token").agg(F.count("*").alias("n"))
             .filter(F.col("n") * (MG_COUNTERS + 1) > total)
             .collect())}


def test_heavy_hitters_sink_fold_brackets_the_exact_set(
        spark, tmp_path):
    """The streaming fold must report a SUPERSET of the exact heavy
    hitters, and every true hitter's exact count must sit inside its
    [cnt_lower, cnt_upper] bracket — however documents split into
    micro-batches (the per-summary slack budgets add, never
    multiply)."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        heavy_hitters_from_store,
        heavy_hitters_sink,
    )

    docs, src = _doc_batches(spark, tmp_path)
    store = str(tmp_path / "mg_store")
    _drain_docs(spark, src, heavy_hitters_sink(store),
                str(tmp_path / "ckpt"))
    report = {r.token: (r.cnt_lower, r.cnt_upper)
              for r in heavy_hitters_from_store(spark, store).collect()}
    exact = _exact_hitters(spark, docs)
    assert exact, "fixture produced no heavy hitters — weak test"
    for token, n in exact:
        assert token in report, f"missed true heavy hitter {token}"
        lo, hi = report[token]
        assert lo <= n <= hi, (token, lo, n, hi)


def test_heavy_hitters_sink_crash_replay_is_exactly_once(
        spark, tmp_path):
    """Crash after the summary write, before the checkpoint commit:
    the replayed batch re-tokenizes the same files and overwrites its
    own batch_id partition, so the fold equals a clean run's fold."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        heavy_hitters_from_store,
        heavy_hitters_sink,
    )

    docs, src = _doc_batches(spark, tmp_path)
    crash_store = str(tmp_path / "mg_crash")
    sink = crash_after(heavy_hitters_sink(crash_store), (1,))
    ckpt = str(tmp_path / "ckpt_crash")
    _drain_docs(spark, src, sink, ckpt)   # dies on batch 1 post-write
    _drain_docs(spark, src, sink, ckpt)   # replay batch 1, finish 2
    clean_store = str(tmp_path / "mg_clean")
    _drain_docs(spark, src, heavy_hitters_sink(clean_store),
                str(tmp_path / "ckpt_clean"))
    crashed = sorted(map(tuple, heavy_hitters_from_store(
        spark, crash_store).collect()))
    clean = sorted(map(tuple, heavy_hitters_from_store(
        spark, clean_store).collect()))
    assert crashed == clean and len(clean) > 0


def test_cosine_topk_pq_recall_vs_exact(spark):
    """The PQ path's contract: the int8-coarse shortlist + exact
    re-rank must recover (almost) the exact top-k.  With the fixture's
    ~0.9998 reconstruction cosine and a 4x shortlist factor, demand
    recall@5 >= 0.9 and EXACT agreement on rank-1."""
    from cga_logs_to_kinesis_spark.registry import all_queries

    qs = all_queries()
    exact = {}
    for r in qs["cosine_topk"].fn(spark, SF_SMOKE).collect():
        exact.setdefault(r.query_id, {})[r.cand_id] = r.rank
    pq = {}
    for r in qs["cosine_topk_pq"].fn(spark, SF_SMOKE).collect():
        pq.setdefault(r.query_id, {})[r.cand_id] = r.rank
    assert set(exact) == set(pq)
    hits = total = 0
    for qid, want in exact.items():
        got = pq[qid]
        hits += len(set(want) & set(got))
        total += len(want)
        want_r1 = min(want, key=want.get)
        got_r1 = min(got, key=got.get)
        assert want_r1 == got_r1, f"rank-1 mismatch for query {qid}"
    assert hits / total >= 0.9, f"recall@5 {hits}/{total}"


def test_cosine_topk_ivf_sq_recall_and_rank1(spark):
    """The pruned composition must not lose quality vs its parents:
    recall@5 >= 0.9 against exact brute force and EXACT rank-1
    agreement (the fixture's nprobe=2 inverted file already contains
    every rank-1 neighbor; SQ8 + 4x shortlist must preserve it)."""
    from cga_logs_to_kinesis_spark.registry import all_queries

    qs = all_queries()
    exact = {}
    for r in qs["cosine_topk"].fn(spark, SF_SMOKE).collect():
        exact.setdefault(r.query_id, {})[r.cand_id] = r.rank
    sq = {}
    for r in qs["cosine_topk_ivf_sq"].fn(spark, SF_SMOKE).collect():
        sq.setdefault(r.query_id, {})[r.cand_id] = r.rank
    assert set(exact) == set(sq)
    hits = total = 0
    for qid, want in exact.items():
        got = sq[qid]
        hits += len(set(want) & set(got))
        total += len(want)
        want_r1 = min(want, key=want.get)
        got_r1 = min(got, key=got.get)
        assert want_r1 == got_r1, f"rank-1 mismatch for query {qid}"
    assert hits / total >= 0.9, f"recall@5 {hits}/{total}"


def test_bloom_build_paths_agree(spark):
    """The at-scale treeReduce-OR build the registered query runs and
    the bounded distinct-position collect build must produce the
    IDENTICAL bitmap — and its set bits must be exactly the DuckDB
    oracle's distinct-position set (the three-way agreement the
    hash-exact gate rests on)."""
    import duckdb
    import numpy as np

    import cga_logs_to_kinesis_spark.operators.sketches as sk
    from cga_logs_to_kinesis_spark.sources import load_table

    docs = (load_table(spark, SF_SMOKE, "documents")
            .select("doc_id", sk._fp_col().alias("fp")))
    block = (docs.filter((F.col("doc_id") % 13 == 0)
                         & F.col("fp").isNotNull())
             .repartition(8))          # force a real multi-way OR
    tree = sk.build_bloom_bitmap_tree(block, sk.BLOOM_BITS)
    collect = sk._bitmap_via_positions_collect(block, sk.BLOOM_BITS)
    assert np.array_equal(tree, collect)
    assert tree.any(), "fixture blocklist set no bits — weak test"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')")
    oracle_pos = {r[0] for r in con.execute(f"""
        SELECT DISTINCT u.pos
        FROM (SELECT {sk._POSITIONS_SQL} AS poss
              FROM (SELECT doc_id, {sk._FP_SQL} AS fp FROM documents)
              WHERE doc_id % 13 = 0 AND fp IS NOT NULL) b,
             UNNEST(b.poss) AS u(pos)""").fetchall()}
    con.close()
    assert set(np.flatnonzero(tree).tolist()) == oracle_pos


def test_compact_heavy_hitters_store_preserves_fold(spark, tmp_path):
    """MG summaries are mergeable, so folding batch partitions into
    the base must leave the report IDENTICAL (token set, brackets) —
    before/after a partial compaction, after a full one, and after
    the stream appends new batches on top of a compacted base."""
    import os

    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_heavy_hitters_store,
        heavy_hitters_from_store,
        heavy_hitters_sink,
    )
    from cga_logs_to_kinesis_spark.sources import load_table

    docs, src = _doc_batches(spark, tmp_path)
    store = str(tmp_path / "mg_store")
    ckpt = str(tmp_path / "ckpt")
    _drain_docs(spark, src, heavy_hitters_sink(store), ckpt)

    def report():
        return sorted(map(tuple,
                          heavy_hitters_from_store(spark, store)
                          .collect()))

    before = report()
    assert before
    assert compact_heavy_hitters_store(spark, store, 1) == 2
    dirs = sorted(os.listdir(store))
    assert "batch_id=-3" in dirs
    assert not any(d in dirs for d in ("batch_id=0", "batch_id=1"))
    assert report() == before
    # fold the remaining batch into a new base (watermark advances)
    assert compact_heavy_hitters_store(spark, store, 2) == 1
    assert "batch_id=-4" in os.listdir(store)
    assert report() == before
    # the stream keeps appending on top of the compacted base
    extra = (load_table(spark, SF_SMOKE, "documents")
             .filter(F.col("doc_id") % 5 == 0))
    extra.coalesce(1).write.parquet(str(tmp_path / "doc_arrivals"
                                        / "chunk=3"))
    _drain_docs(spark, src, heavy_hitters_sink(store), ckpt)
    clean_store = str(tmp_path / "mg_clean_all")
    _drain_docs(spark, src, heavy_hitters_sink(clean_store),
                str(tmp_path / "ckpt_clean_all"))
    got = report()
    want = sorted(map(tuple, heavy_hitters_from_store(
        spark, clean_store).collect()))
    assert got == want


def test_compact_heavy_hitters_store_crash_window_is_ignored(
        spark, tmp_path, monkeypatch):
    """Crash between the base write and the cleanup: stale batch dirs
    at or below the watermark remain on disk but the fold must ignore
    them (a summing consumer would otherwise double-count), and
    re-running compaction finishes the cleanup."""
    import os
    import shutil

    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_heavy_hitters_store,
        heavy_hitters_from_store,
        heavy_hitters_sink,
    )

    docs, src = _doc_batches(spark, tmp_path)
    store = str(tmp_path / "mg_store")
    _drain_docs(spark, src, heavy_hitters_sink(store),
                str(tmp_path / "ckpt"))
    before = sorted(map(tuple,
                        heavy_hitters_from_store(spark, store)
                        .collect()))
    real_rmtree = shutil.rmtree
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **k: None)
    assert compact_heavy_hitters_store(spark, store, 2) == 3
    # base written, nothing cleaned up — every stale dir remains
    assert {"batch_id=-4", "batch_id=0", "batch_id=1",
            "batch_id=2"} <= set(os.listdir(store))
    got = sorted(map(tuple, heavy_hitters_from_store(spark, store)
                     .collect()))
    assert got == before, "stale batch dirs double-counted"
    # recovery: re-run with rmtree restored — no re-fold needed
    # (watermark already at 2), but the stale dirs MUST go even on
    # the n_folded == 0 path
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    assert compact_heavy_hitters_store(spark, store, 2) == 0
    assert set(os.listdir(store)) & {
        "batch_id=0", "batch_id=1", "batch_id=2"} == set(), \
        "re-run left crash-window stale dirs behind"
    assert "batch_id=-4" in os.listdir(store)
    got = sorted(map(tuple, heavy_hitters_from_store(spark, store)
                     .collect()))
    assert got == before


def test_compact_heavy_hitters_store_clamps_future_watermark(
        spark, tmp_path):
    """An ``upto_batch_id`` ahead of the newest stored batch must NOT
    advance the fold watermark past what was actually folded: with
    batches 0-2 on disk, upto=10 folds them into base -(2+2)=-4 (not
    -12), so a batch 3 appended later sits ABOVE the watermark and is
    counted — an unclamped watermark would silently drop it forever."""
    import os

    from cga_logs_to_kinesis_spark.sources import load_table
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_heavy_hitters_store,
        heavy_hitters_from_store,
        heavy_hitters_sink,
    )

    docs, src = _doc_batches(spark, tmp_path)
    store = str(tmp_path / "mg_store")
    ckpt = str(tmp_path / "ckpt")
    _drain_docs(spark, src, heavy_hitters_sink(store), ckpt)
    assert compact_heavy_hitters_store(spark, store, 10) == 3
    dirs = set(os.listdir(store))
    assert "batch_id=-4" in dirs, f"watermark not clamped: {dirs}"
    assert "batch_id=-12" not in dirs
    # the stream appends batch 3 on top — it must be live
    extra = (load_table(spark, SF_SMOKE, "documents")
             .filter(F.col("doc_id") % 5 == 0))
    extra.coalesce(1).write.parquet(str(tmp_path / "doc_arrivals"
                                        / "chunk=3"))
    _drain_docs(spark, src, heavy_hitters_sink(store), ckpt)
    clean_store = str(tmp_path / "mg_clean_all")
    _drain_docs(spark, src, heavy_hitters_sink(clean_store),
                str(tmp_path / "ckpt_clean_all"))
    got = sorted(map(tuple, heavy_hitters_from_store(spark, store)
                     .collect()))
    want = sorted(map(tuple, heavy_hitters_from_store(
        spark, clean_store).collect()))
    assert got == want, "post-compaction batch lost to the watermark"
