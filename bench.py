"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is total wall-clock over the headline queries (excluding Spark
session startup, which is environment cost, not engine cost).  Each
query is materialized via a count-style action that forces full
execution without driver-side collection of the result set.

This is the bench CLI's one-line contract and a cold smoke check; performance
claims are measured with `perfbench/` (see `perfbench/README.md`).
The run writes nothing into the repository tree.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cga_logs_to_kinesis_spark.registry import all_queries
from cga_logs_to_kinesis_spark.session import get_session

# Headline set: one per operator family, weighted toward the
# shuffle-heavy shapes that dominate at scale.
HEADLINE = (
    "stats_tumbling",        # flagship: tumbling-window agg
    "pricing_summary",       # multi-aggregate hash agg
    "revenue_by_nation",     # fact-spine join + broadcast dims
    "top3_orders_per_customer",  # partitioned window
    "global_topk",           # TakeOrderedAndProject
    "dedup_exact",           # digest hash-groupBy
    "dedup_minhash_lsh",     # shingle->band->candidate near-dup
    "text_stats",            # tokenize + agg
    "cosine_topk",           # similarity brute-force
    "cosine_topk_lsh",       # LSH-bucketed ANN
    "batch_pages",           # pipeline batch-cut window+agg
    "json_props",            # JSON extraction + agg
    "sliding_window",        # hopping-window agg
    "session_windows",       # session_window stateless-batch agg
    "shipping_priority",     # TPC-H Q3: filters + 3-way join + topk
    "dedup_substring",       # digest-window exact-substring dedup
    "pagerank_docs",         # iterative power-iteration join loop
    "dedup_minhash_incremental",  # batch-vs-band-index near-dup
    "dedup_components",      # iterative pointer-doubling components
    "dedup_near_survivors",  # composes components + survivor pick
    # the slow tail (r7 verdict: an untracked slowest query is where a
    # regression hides) + the r8 flagship composition:
    "dedup_ngram_jaccard",   # char-5-gram Jaccard (fingerprinted shingles)
    "ann_incremental",       # persisted-index ANN (now bucket-capped)
    "dedup_recall_report",   # LSH recall scorecard vs brute force
    "curation_export_manifest",  # flagship #2: curation through export
    # late-r8 additions — cheap but regression-watched:
    "forecast_revenue",      # TPC-H Q6: pushdown-only scan + agg
    "table_profile",         # two-pass per-column ingest profile
    "quality_percentile_calibrate",  # per-lang percent_rank gate
    "embedding_drift",       # posexplode + d-key exact-decimal agg
    "product_profit",        # TPC-H Q9: largest join tree, derived partsupp
    # r10 at-scale paths — the sketch plans a 100 TB run would use,
    # benched so the scale story has numbers, not just docstrings.
    # r19: table_profile_approx now mirrors the exact twin's branch
    # shape (profile_partials + per-column HLL branches) — its old
    # one-scan mixed aggregate dragged every numeric fold out of
    # codegen and ran 2.5x SLOWER than the exact twin at sf0.1; the
    # sketch's at-scale point (no exact-distinct shuffle) is pinned
    # by plan assertion in test_ingest_audit.py.
    "table_profile_approx",  # HLL profile (no exact-distinct shuffle)
    "heavy_hitters",         # Misra-Gries candidates + exact verify
    "bloom_decontaminate",   # bitmap-probe decontamination report
    # r11: the pruned ANN composition (IVF probe front + SQ8 coarse),
    # the shuffle-key skew pre-flight, and the ordered event funnel
    "cosine_topk_ivf_sq",
    "join_key_skew",
    "event_funnel",
    # r12: the salting planner (shares join_key_skew's frequency
    # front), the per-source encoding-damage audit (one scan,
    # map-side folds), and the dataset-redundancy curve
    # (fingerprint-only shuffles; r13 reshaped its first-occurrence
    # fold from WindowExec-over-fp to the skew-safe groupBy-min).
    # NOTE: the dedup family runs 1.1-1.3x its r12 times BY DESIGN —
    # the r13 window->groupBy rewrites trade ~15-30% at sf0.1 for
    # skew immunity at 100 TB; measured against the corrected base
    # and adjudicated in docs/bench/r14_dedup_family_note.md.  Do not
    # "optimize" it back with a content-key window (plan tests fail).
    "salted_join_plan",
    "encoding_anomaly_report",
    "ngram_novelty",
    # r13: the applied skew mitigation — planner factors feeding
    # salted_join_hot over lineitem x orders, joined on (key, _salt)
    "salted_join_apply",
    # r14: line-level boilerplate dedup (explode + df fold + anti-join
    # + per-doc reassembly) and the integer-exact per-source
    # total-variation audit (tokenize + two folds + token equi-join)
    "line_dedup_scrub",
    "source_divergence",
    # r15: the within-doc half (doc_id-keyed groupBy-min + join —
    # regression-watched because its shuffle profile differs from the
    # corpus-level scrub's anti-join) and the flagship composition
    # (row-local intra pass + corpus scrub fitted on its output)
    "line_dedup_intra",
    "line_dedup_pipeline",
    # r15 late round: the EXACT set-similarity join — dfreq fold +
    # ordered-prefix rebuild + prefix equi-join + width-pinned verify;
    # the heaviest new shuffle profile of the round, and the ground
    # truth the LSH members are audited against (lsh_recall_exact is
    # NOT benched separately: it recomputes this plus
    # lsh_candidate_ids, both already watched).
    "setjoin_prefix",
    # r16: the curation hot paths added this round — the map-only
    # hashing-trick scorer (scan-bound: tokenize + 2 md5 + integer
    # fold per token, zero exchanges), the content-defined chunker
    # (row-local chunking + digest-keyed dup agg — passage_dedup's
    # topology with a different narrow front), and the trained-probe
    # eval (two corpus-scale aggs + bucket join — the train pass is a
    # strict subset of it and is not benched separately).
    # token_ngram_decontaminate is NOT benched: its cost is the
    # bpe_learn_merges driver loop (10 fixed collect rounds, ~10 s at
    # any sf — iteration count, not data, so a regression there is
    # invisible to sf scaling) plus a reassembly join; priced as a
    # composition in its docstring, the lsh_recall_exact convention.
    "quality_classifier",
    "passage_dedup_cdc",
    "quality_classifier_eval",
    # r17: the store-fed tokenizer APPLY path (r16 verdict #5).
    # token_ngram_decontaminate stays unbenched (its cost is the
    # 10-round fit loop — iteration count, not data); this twin pins
    # the path production actually runs per-invocation once the BPE
    # store exists: vocabulary merge folds + doc_id-keyed reassembly
    # join + gram broadcast-semi-join, zero fit rounds.
    "token_decon_apply",
    # r18: the two r17 families the r17 verdict flagged as benchless
    # (watch item #1), plus the new incremental form.
    # blocklist_filter prices like the shingle operators: a char-gram
    # explode of ONLY the blocklist's gram orders over each doc,
    # broadcast-joined to the tiny term list (plan-pinned text-free;
    # cost scales with corpus tokens, never with pairs).
    # semdedup_apply prices the embedding-dedup serve path: K-row
    # broadcast centroid cross-score + within-cluster blocked pairs +
    # components + keep-farthest window + anti-join — the pair join
    # is |cluster|-blocked, so cost scales with sum of cluster sizes
    # squared / K, not corpus^2.  semdedup_incremental is the same
    # pair surface restricted to batch x seen — the per-drop cost a
    # store-fed run pays (linear in store, envelope-pinned).
    "blocklist_filter",
    "semdedup_apply",
    "semdedup_incremental",
    # r18 late round: the image near-dup pair report — the one
    # headline entry whose cost is DECODE-bound (Arrow mapInPandas
    # pixel work) rather than shuffle-bound: fingerprints are 4 ints
    # per image, so the banded join is fingerprint-cheap and the
    # regression this entry watches is the Python/Arrow decode path
    # (image_phash / survivors / incremental share the same front and
    # are not benched separately — the lsh_recall_exact convention).
    "image_dedup_pairs",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_session("bench")
    specs = all_queries()

    # Warm each query's codegen/JIT path on a smaller SF so per-query
    # numbers measure the engine, not first-call JIT.  sf0.01 (not
    # sf0.001): C2 compilation of the generated code needs enough
    # invocations to trigger; a 600-row warm run leaves the hot loops
    # interpreted and the measured run then pays the compile.
    warm_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(warm_dir) or warm_dir == sf_dir:
        warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        specs[name].fn(spark, warm_dir) \
            .write.format("noop").mode("overwrite").save()

    # Three measured passes, per-query minimum: shared hosts show bursty
    # host interference (isolated timing showed pricing_summary at
    # 1.6s / 1.7s / 12.6s / 6.9s across identical runs) that can
    # multiply any single measurement; per-query min is the standard
    # robust estimator.
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in HEADLINE:
            t0 = time.time()
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            sec = round(time.time() - t0, 3)
            if name not in timings or sec < timings[name]:
                timings[name] = sec

    print(json.dumps({
        "metric": "headline_suite_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
