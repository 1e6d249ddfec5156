"""Property-based tests (hypothesis): the as-of join against a
brute-force model, and envelope JSON round-trip on adversarial text."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cga_logs_to_kinesis_spark.operators.temporal import (
    asof_join_last_event,
)

EVENT = st.tuples(
    st.integers(0, 3),                    # user_id
    st.integers(0, 10_000),               # us (time)
    st.sampled_from(["purchase", "signup"]),
)


def brute_force_asof(events):
    """Reference model: for each purchase, the signup with the
    greatest us <= purchase.us for the same user (greatest event_id on
    us ties — matching the window order (us, is_left, event_id))."""
    out = {}
    for i, (u, us, et) in enumerate(events):
        if et != "purchase":
            continue
        best = None
        for j, (u2, us2, et2) in enumerate(events):
            if et2 == "signup" and u2 == u and us2 <= us:
                if best is None or (us2, j) > (events[best][1], best):
                    best = j
        out[i] = best
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(EVENT, min_size=1, max_size=40))
def test_asof_matches_brute_force(spark, events):
    rows = [(i, u, us * 1000, et, 0.0)     # ts in ns = us*1000
            for i, (u, us, et) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, "
              "event_type string, value double")
    got = {r.purchase_id: r.last_signup_id
           for r in asof_join_last_event(df, "purchase", "signup")
           .collect()}
    want = brute_force_asof(events)
    assert got == {k: (None if v is None else v)
                   for k, v in want.items()}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.text(min_size=0, max_size=80))
def test_envelope_json_roundtrip_arbitrary_text(spark, text):
    """to_json ∘ from_json is identity for any message content Spark
    can hold in a string column."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(text,)], "msg string")
    wire = df.select(F.to_json(F.struct(F.col("msg"))).alias("w"))
    back = wire.select(
        F.from_json("w", "msg string").getField("msg").alias("msg"))
    assert back.collect()[0].msg == (text if text != "" else text)
    # and the wire is real JSON
    payload = json.loads(wire.collect()[0].w)
    assert payload.get("msg", "") == text or payload == {}


# ---------------------------------------------------------------------------
# Winnowing invariant (Schleimer et al. §3) on random corpora
# ---------------------------------------------------------------------------

TOKEN = st.sampled_from([f"w{i}" for i in range(12)])


def brute_force_winnow(tokens, k, w):
    """Reference model of operators/corpus_quality.py::winnow, built
    from the paper's definition rather than the Spark expressions."""
    import hashlib
    if len(tokens) < k + w - 1:
        return set()
    grams = [" ".join(tokens[i:i + k])
             for i in range(len(tokens) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
          for g in grams]
    return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(TOKEN, min_size=0, max_size=30),
                min_size=1, max_size=6))
def test_winnow_matches_brute_force(spark, corpora):
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        WINNOW_K,
        WINNOW_W,
        winnow,
    )
    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(corpora)],
        "doc_id long, text string")
    got = {}
    for r in winnow(docs).collect():
        got.setdefault(r.doc_id, set()).add(r.fingerprint)
    for i, toks in enumerate(corpora):
        want = brute_force_winnow(toks, WINNOW_K, WINNOW_W)
        assert got.get(i, set()) == want, f"doc {i}"


# -- BPE merge learning vs the textbook model on random corpora ------------

WORD = st.text(alphabet="ab1", min_size=1, max_size=6)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(WORD, min_size=1, max_size=25))
def test_bpe_matches_textbook_on_random_corpora(spark, words):
    """Tiny alphabet + short words force heavy runs/alternations —
    exactly where left-to-right pairing is easy to get wrong."""
    from collections import Counter

    from cga_logs_to_kinesis_spark.operators.bpe import learn_bpe_merges
    from tests.test_bpe import _ref_bpe

    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string")
    got = [(r.step, r.lhs, r.rhs, r.pair_freq)
           for r in learn_bpe_merges(spark, docs, n_merges=4)
           .orderBy("step").collect()]
    want = _ref_bpe(dict(Counter(words)), 4)
    assert got == want


# -- Exact-substring spans vs a brute-force model --------------------------

def brute_force_spans(doc_tokens: dict[int, list[str]], l: int):
    """Reference model: duplicated gram positions by direct string
    comparison, merged into maximal spans (gap > l breaks)."""
    from collections import Counter

    grams: Counter = Counter()
    for toks in doc_tokens.values():
        for i in range(len(toks) - l + 1):
            grams[tuple(toks[i:i + l])] += 1
    spans = {}
    for doc_id, toks in doc_tokens.items():
        dup = [i + 1 for i in range(len(toks) - l + 1)
               if grams[tuple(toks[i:i + l])] >= 2]
        runs = []
        for p in dup:
            if runs and p - runs[-1][-1] <= l:
                runs[-1].append(p)
            else:
                runs.append([p])
        spans[doc_id] = sorted(
            (r[0], r[-1] - r[0] + l, len(r)) for r in runs)
    return spans


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from(["x1", "y2", "z3"]),
                         min_size=0, max_size=14),
                min_size=1, max_size=5))
def test_substring_spans_match_brute_force(spark, docs_tokens):
    """3-symbol alphabet at L=4 makes corpus-wide repeats (including
    intra-doc) common; the digest-window + gap-and-island plan must
    agree with direct tuple comparison."""
    from cga_logs_to_kinesis_spark.operators.dedup import duplicated_spans

    L = 4
    doc_tokens = {i: t for i, t in enumerate(docs_tokens)}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in doc_tokens.items()],
        "doc_id long, text string")
    got: dict[int, list] = {i: [] for i in doc_tokens}
    for r in duplicated_spans(df, spark, l=L).collect():
        got[r.doc_id].append((r.span_start, r.span_len, r.n_dup_grams))
    want = brute_force_spans(doc_tokens, L)
    assert {k: sorted(v) for k, v in got.items()} == want


# --- pagerank vs a float-identical pure-Python model ----------------------

PAIR = st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
    lambda p: p[0] < p[1])


def model_pagerank(pairs, iters=3, d=0.85):
    """Reference model replaying the operator's float arithmetic
    exactly: per-edge contribution (d * rank) / outdeg in IEEE
    doubles, per-target sums quantized to decimal(38,12) (order-free),
    base (1-d)/N."""
    from decimal import ROUND_HALF_UP, Decimal
    edges = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    rank = {v: 1.0 / n for v in deg}
    q = Decimal(1).scaleb(-12)
    for _ in range(iters):
        sums = {}
        for s, t in edges:
            c = (d * rank[s]) / deg[s]
            sums.setdefault(t, Decimal(0))
            sums[t] += Decimal(c).quantize(q, rounding=ROUND_HALF_UP)
        rank = {v: (1.0 - d) / n + float(sums[v]) for v in deg}
    return rank


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(PAIR, min_size=1, max_size=25))
def test_pagerank_matches_model(spark, pairs):
    from cga_logs_to_kinesis_spark.operators.graph import pagerank

    pdf = spark.createDataFrame(sorted({tuple(p) for p in pairs}),
                                "doc_a long, doc_b long")
    got = {r.doc_id: r.rank for r in pagerank(pdf).collect()}
    want = model_pagerank(pairs)
    assert set(got) == set(want)
    for v in got:
        assert got[v] == want[v], (v, got[v], want[v])


def test_pagerank_ranks_sum_to_one_ish(spark):
    """Stochastic sanity: on a symmetric connected graph total rank
    stays ~1 (no dangling leakage)."""
    from cga_logs_to_kinesis_spark.operators.graph import pagerank

    pairs = [(i, (i + 1) % 10) for i in range(9)] + [(0, 5), (2, 7)]
    pdf = spark.createDataFrame([(min(a, b), max(a, b)) for a, b in pairs],
                                "doc_a long, doc_b long")
    total = sum(r.rank for r in pagerank(pdf).collect())
    assert abs(total - 1.0) < 1e-6


def brute_force_line_scrub(docs, min_chars, boiler_df):
    """Reference model of line-level dedup: a line is boilerplate
    when len >= min_chars and it appears in >= boiler_df distinct
    docs; scrub drops exactly those lines, order preserved."""
    from collections import defaultdict

    df_count = defaultdict(set)
    for doc_id, text in docs:
        if text is None:
            continue
        for line in text.split("\n"):
            if len(line) >= min_chars:
                df_count[line].add(doc_id)
    boiler = {ln for ln, ids in df_count.items()
              if len(ids) >= boiler_df}
    out = {}
    for doc_id, text in docs:
        if text is None:
            out[doc_id] = (0, 0, None)
            continue
        lines = text.split("\n")
        kept = [ln for ln in lines if ln not in boiler]
        out[doc_id] = (len(lines), len(lines) - len(kept),
                       "\n".join(kept))
    return out


LINE = st.sampled_from([
    "", "x", "short ln",                       # under min_chars
    "alpha beta gamma delta line",             # candidates:
    "epsilon zeta eta theta line",
    "iota kappa lambda mu line",
    "shared footer line appears everywhere",
])


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.one_of(st.none(),
                          st.lists(LINE, min_size=0, max_size=6)),
                min_size=1, max_size=25))
def test_line_scrub_matches_brute_force(spark, doc_lines):
    """The scrub pipeline (the registered query's composition) equals
    the Python reference on arbitrary small corpora — repeated lines
    cross the distinct-doc threshold, short lines never drop, NULL
    and empty docs pass through."""
    from pyspark.sql import functions as F

    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        BOILER_DF,
        LINE_MIN_CHARS,
        boilerplate_fps,
        line_flat,
        scrub_with_fps,
    )

    docs = [(i, None if ls is None else "\n".join(ls))
            for i, ls in enumerate(doc_lines)]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    base = sdf.select("doc_id", F.col("text").alias("orig_text"),
                      "text").localCheckpoint()
    got = {r.doc_id: (r.n_lines, r.n_dropped, r.scrubbed_text)
           for r in scrub_with_fps(
               base, boilerplate_fps(line_flat(base))).collect()}
    want = brute_force_line_scrub(docs, LINE_MIN_CHARS, BOILER_DF)
    assert got == want
