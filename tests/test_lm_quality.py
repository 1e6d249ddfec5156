"""LM-quality operators: behavioral guarantees beyond the DuckDB
oracle hash (which tests/test_queries_oracle.py covers) — hand-built
bigram-LM expectations, DSIR ordering, and the Gopher rule battery
rule by rule."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cga_logs_to_kinesis_spark.operators.lm_quality import (
    GOPHER_MAX_WORDS,
    GOPHER_MIN_STOP_HITS,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
    q_bigram_surprisal,
    q_dsir_importance,
    q_gopher_quality,
)


def _fixture_dir(tmp_path, name, rows):
    """documents.parquet shaped like the fixtures, under pytest's
    tmp_path; rows = list of (doc_id, text, lang)."""
    d = {"doc_id": [r[0] for r in rows],
         "text": [r[1] for r in rows],
         "lang": [r[2] for r in rows],
         "source": ["s"] * len(rows),
         "n_chars": [len(r[1]) for r in rows]}
    os.makedirs(tmp := str(tmp_path / name), exist_ok=True)
    pq.write_table(pa.table(d), f"{tmp}/documents.parquet")
    return tmp


def _brute_surprisal(corpus: dict[int, str]) -> dict[int, float]:
    """Textbook add-one bigram model, pure Python (no decimal
    rounding, so compare with tolerance)."""
    bigrams: dict[int, list[tuple[str, str]]] = {}
    ctx: dict[str, int] = {}
    bg: dict[tuple[str, str], int] = {}
    vocab: set[str] = set()
    for doc_id, text in corpus.items():
        toks = text.split()
        if len(toks) < 2:
            continue
        pairs = list(zip(toks, toks[1:]))
        bigrams[doc_id] = pairs
        for p, w in pairs:
            ctx[p] = ctx.get(p, 0) + 1
            bg[(p, w)] = bg.get((p, w), 0) + 1
            vocab.update((p, w))
    v = len(vocab)
    return {doc_id: sum((ctx[p] + v) / (bg[(p, w)] + 1)
                        for p, w in pairs) / len(pairs)
            for doc_id, pairs in bigrams.items()}


def test_bigram_surprisal_matches_textbook_model(spark, tmp_path):
    corpus = {
        1: "the cat sat on the mat",
        2: "the cat sat on the cat",
        3: "dog runs dog runs dog",
        4: "the mat sat",
        5: "solo",                      # < 2 tokens: no row
    }
    tmp = _fixture_dir(
        tmp_path, "bisurp", [(i, t, "en") for i, t in corpus.items()])
    got = {r.doc_id: (r.n_bigrams, r.surprisal_score)
           for r in q_bigram_surprisal(spark, tmp).collect()}
    want = _brute_surprisal(corpus)
    assert set(got) == set(want)
    for doc_id, score in want.items():
        n, s = got[doc_id]
        assert n == len(corpus[doc_id].split()) - 1
        assert s == pytest.approx(score, rel=1e-5)


def test_bigram_surprisal_orders_unusual_transitions(spark, tmp_path):
    common = "alpha beta " * 20
    tmp = _fixture_dir(tmp_path, "biorder", [
        (1, common.strip(), "en"),
        (2, common.strip(), "en"),
        (3, "alpha beta alpha zzz beta alpha beta alpha beta", "en"),
    ])
    got = {r.doc_id: r.surprisal_score
           for r in q_bigram_surprisal(spark, tmp).collect()}
    # doc 3's 'alpha zzz' / 'zzz beta' transitions are corpus-unique
    assert got[3] > got[1]
    assert got[1] == got[2]


def test_dsir_weights_favor_target_like_docs(spark, tmp_path):
    # target (en) vocabulary: targetish; raw-only vocabulary: rawish
    tmp = _fixture_dir(tmp_path, "dsir", [
        (1, "targetish targetish targetish", "en"),
        (2, "targetish targetish targetish", "en"),
        (3, "targetish targetish targetish", "zh"),   # target-like raw doc
        (4, "rawish rawish rawish", "zh"),            # target-unlike
    ])
    got = {r.doc_id: r.dsir_weight
           for r in q_dsir_importance(spark, tmp).collect()}
    assert got[3] > got[4]            # target-like doc upweighted
    assert got[3] == got[1] == got[2]  # weight depends on tokens only


def _gopher_doc(n_words=50, stop_hits=2, word="token"):
    stops = list(GOPHER_STOPWORDS[:stop_hits])
    return " ".join(stops + [word] * (n_words - len(stops)))


def test_gopher_each_rule_drops_individually(spark, tmp_path):
    base = _gopher_doc()
    violations = {
        2: _gopher_doc(n_words=GOPHER_MIN_WORDS - 1),        # too short
        3: _gopher_doc(n_words=GOPHER_MAX_WORDS + 1),        # too long
        4: _gopher_doc(word="ab"),                           # mean len < 3
        5: _gopher_doc(word="x" * 15),                       # mean len > 10
        6: _gopher_doc(stop_hits=GOPHER_MIN_STOP_HITS - 1),  # stop floor
        7: " ".join(list(GOPHER_STOPWORDS[:2])
                    + ["123456"] * 48),                      # alpha < 0.8
    }
    rows = [(1, base, "en")] + [(i, t, "en")
                                for i, t in violations.items()]
    tmp = _fixture_dir(tmp_path, "gopher", rows)
    got = {r.doc_id: r for r in q_gopher_quality(spark, tmp).collect()}
    assert got[1].keep is True
    for doc_id in violations:
        assert got[doc_id].keep is False, doc_id
    # feature sanity on the clean doc
    assert got[1].n_words == 50
    assert got[1].stop_hits == 2
    assert got[1].alpha_word_ratio == pytest.approx(1.0)


def test_gopher_stop_hits_count_distinct_presence(spark, tmp_path):
    # repeating one stopword many times still counts as 1 hit
    text = " ".join([GOPHER_STOPWORDS[0]] * 30 + ["token"] * 20)
    tmp = _fixture_dir(tmp_path, "gopherstop", [(1, text, "en")])
    [r] = q_gopher_quality(spark, tmp).collect()
    assert r.stop_hits == 1
    assert r.keep is False


def test_perplexity_split_tertiles_per_lang(spark, tmp_path):
    """Bucket sizes are exact integer tertiles WITHIN each language,
    ordering follows the LM score ascending (head = most fluent), and
    unscoreable (<2 token) docs are absent."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        q_perplexity_split,
    )

    common = "the cat sat on the mat and the dog sat too"
    rows = []
    # en: 7 scoreable docs -> head 2, middle 2 (ranks 3-4), tail 3
    for i in range(5):
        rows.append((i, common, "en"))
    rows.append((5, "zebra quark vortex nebula prism", "en"))
    rows.append((6, "plasma glyph rune obelisk cairn", "en"))
    # fr: 3 scoreable docs -> 1/1/1
    rows.append((10, common, "fr"))
    rows.append((11, common + " encore", "fr"))
    rows.append((12, "unique mots jamais vus ensemble ici", "fr"))
    rows.append((13, "solo", "fr"))          # unscoreable
    tmp = _fixture_dir(tmp_path, "ppsplit", rows)
    got = {r.doc_id: (r.lang, r.bucket, r.keep, r.surprisal_score)
           for r in q_perplexity_split(spark, tmp).collect()}
    assert 13 not in got
    from collections import Counter
    en = Counter(b for (lang, b, _, _) in got.values() if lang == "en")
    fr = Counter(b for (lang, b, _, _) in got.values() if lang == "fr")
    assert en == {"head": 2, "middle": 2, "tail": 3}
    assert fr == {"head": 1, "middle": 1, "tail": 1}
    # the corpus-unique-transition docs score worst -> tail
    assert got[5][1] == "tail" and got[6][1] == "tail"
    assert got[12][1] == "tail"
    # keep == (bucket != tail), everywhere
    assert all((b != "tail") == k for (_, b, k, _) in got.values())
    # head docs score <= tail docs within the same lang
    en_scores = {b: [s for (lang, bb, _, s) in got.values()
                     if lang == "en" and bb == b] for b in en}
    assert max(en_scores["head"]) <= min(en_scores["tail"])
