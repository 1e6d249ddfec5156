"""quality_classifier semantics: the hashing-trick linear model's
defining properties, independent of the oracle (which shares the md5
algebra and so cannot catch a shared misunderstanding)."""

from __future__ import annotations

import hashlib

from cga_logs_to_kinesis_spark.operators.lm_quality import (
    QCLF_BIAS_MILLI,
    QCLF_BUCKETS,
    QCLF_WEIGHT_SPAN,
    classifier_scores,
)


def _py_bucket(tok: str) -> int:
    return int(hashlib.md5(f"qb:{tok}".encode()).hexdigest()[:15],
               16) % QCLF_BUCKETS


def _py_w(tok: str) -> int:
    b = _py_bucket(tok)
    return (int(hashlib.md5(f"qw:{b}".encode()).hexdigest()[:15], 16)
            % (2 * QCLF_WEIGHT_SPAN + 1)) - QCLF_WEIGHT_SPAN


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


def test_scores_match_independent_python_model(spark):
    """The engine's fold equals a from-scratch Python reimplementation
    of the spec (hashlib md5, int arithmetic) — catching any
    divergence in the hex slicing, modulus, or bias placement."""
    texts = ["hello world foo", "the quick brown fox", "zzz"]
    rows = {r.doc_id: r for r in
            classifier_scores(_docs(spark, texts)).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        milli = sum(_py_w(w) for w in toks) + QCLF_BIAS_MILLI * len(toks)
        assert rows[i].clf_milli == milli
        assert rows[i].n_toks == len(toks)
        assert rows[i].clf_score == milli / (1000.0 * len(toks))
        assert rows[i].keep == (milli >= 0)


def test_score_is_length_invariant(spark):
    """Mean-pooled features: repeating a document's tokens leaves the
    score unchanged (fastText's averaged bag of features)."""
    rows = {r.doc_id: r.clf_score for r in classifier_scores(
        _docs(spark, ["alpha beta", "alpha beta alpha beta alpha beta"])
    ).collect()}
    assert rows[0] == rows[1]


def test_collision_structure_two_level(spark):
    """Tokens colliding in a bucket share a weight (the hashing
    trick); across the fixture vocabulary at B=1024 some buckets do
    collide, and every collision's weights agree."""
    vocab = [f"tok{i}" for i in range(3000)]
    by_bucket: dict[int, set[int]] = {}
    for t in vocab:
        by_bucket.setdefault(_py_bucket(t), set()).add(_py_w(t))
    collided = [b for b, ws in by_bucket.items() if len(ws) > 1]
    assert not collided            # same bucket -> same weight, always
    assert len(by_bucket) < len(vocab)   # and collisions DO occur


def test_tokenless_docs_excluded(spark):
    out = classifier_scores(
        _docs(spark, ["", "   ", "real words here"])).collect()
    assert [r.doc_id for r in out] == [2]


def test_trained_probe_separates_separable_classes(spark, tmp_path):
    """On a corpus whose target class uses disjoint vocabulary the
    trained difference-of-means probe must reach a PERFECT
    training-set confusion matrix — the semantic check the oracle
    comparison (shared algebra) cannot provide."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cga_logs_to_kinesis_spark.registry import all_queries

    en = [f"en{i} en{(i+1) % 7} en{(i+2) % 7}" for i in range(12)]
    de = [f"de{i} de{(i+1) % 7} de{(i+2) % 7}" for i in range(9)]
    texts = en + de
    d = {"doc_id": list(range(len(texts))), "text": texts,
         "lang": ["en"] * len(en) + ["de"] * len(de),
         "source": ["s"] * len(texts),
         "n_chars": [len(t) for t in texts]}
    tmp = str(tmp_path / "separable")
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(pa.table(d), f"{tmp}/documents.parquet")

    conf = {(r.is_target, r.predicted): r.n_docs for r in all_queries()
            ["quality_classifier_eval"].fn(spark, tmp).collect()}
    assert conf == {(True, True): len(en), (False, False): len(de)}

    # and the learned weights point the right way: every bucket
    # holding only target tokens gets a positive weight
    w = all_queries()["quality_classifier_train"].fn(
        spark, tmp).collect()
    for r in w:
        if r.n_neg == 0:
            assert r.weight > 0
        if r.n_pos == 0:
            assert r.weight < 0
