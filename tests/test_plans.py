"""Physical-plan assertions: the properties that make queries survive
a 100x scale-up.  A query that passes correctness but reads all
columns, skips pushdown, or shuffles a broadcastable dim is a bug here
even though its rows are right."""

from __future__ import annotations

import pytest

from cga_logs_to_kinesis_spark.plans import (
    has_pushed_filters,
    scan_read_schema_columns,
    uses_broadcast_join,
    uses_sort_merge_join,
    wholestage_codegen_spans,
)
from cga_logs_to_kinesis_spark.registry import all_queries
from tests.conftest import SF_SMOKE

SPECS = all_queries()


def test_filter_project_pushdown_and_pruning(spark):
    df = SPECS["filter_project"].fn(spark, SF_SMOKE)
    # predicates reach the parquet scan
    assert has_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")
    # projection prunes: the scan must not read all 11 lineitem columns
    scans = scan_read_schema_columns(df)
    assert scans and all(len(cols) <= 6 for cols in scans)


def test_dimension_joins_are_broadcast(spark):
    for name in ("revenue_by_nation", "segment_totals"):
        assert uses_broadcast_join(SPECS[name].fn(spark, SF_SMOKE)), name


def test_global_topk_avoids_full_sort(spark):
    plan = SPECS["global_topk"].fn(spark, SF_SMOKE)
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    assert "TakeOrderedAndProject" in formatted_plan(plan)


def test_scalar_gallery_stays_in_codegen(spark):
    df = SPECS["scalar_gallery"].fn(spark, SF_SMOKE)
    assert wholestage_codegen_spans(df) >= 1


def test_dedup_shuffles_digest_not_text(spark):
    """The exact-dedup exchange must carry the 32-char digest + id,
    never the document text: check text is pruned before the shuffle."""
    df = SPECS["dedup_exact"].fn(spark, SF_SMOKE)
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(df)
    exchange = plan[plan.index("Exchange"):] if "Exchange" in plan else ""
    assert "text_digest" in exchange
    assert "text#" not in exchange.split("Scan parquet")[0]



def test_asof_join_is_single_shuffle(spark):
    """The as-of join must compile to union + window (one exchange on
    user_id), never a nested-loop range join."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["asof_last_signup"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan
    assert "Window" in plan


def test_q18_aggregates_before_join(spark):
    """HAVING-aggregate-then-join-back: the lineitem aggregate must sit
    below the join, and customer must broadcast."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["large_volume_customers"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = plan.find("BroadcastHashJoin")
    assert agg_pos != -1 and join_pos != -1


def test_range_join_is_equi_join(spark):
    """Bucketed interval join must be an equi-join (hash/sort-merge on
    (user, bucket)), not a broadcast nested loop over the inequality."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["range_join_error_after_purchase"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)

def test_minhash_lsh_candidates_join_not_collect(spark):
    """Candidate generation must be a self-equi-join on the bucket key
    (skew-splittable by AQE), never a per-bucket collect_list(doc_id)
    + double explode, which pins a hot bucket's O(n²) expansion and an
    unbounded member array into one task."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["dedup_minhash_lsh"].fn(spark, SF_SMOKE))
    assert "collect_list(doc_id" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_ngram_jaccard_candidates_join_not_collect(spark):
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["dedup_ngram_jaccard"].fn(spark, SF_SMOKE))
    assert "collect_list(doc_id" not in plan


def test_llm_pipeline_narrow_ops_have_no_shuffle(spark):
    """Split assignment and PII scrubbing are per-row hash/regex
    decisions — at 100 TB they must stay map-only scans."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    for name in ("split_assign", "pii_scrub"):
        plan = formatted_plan(SPECS[name].fn(spark, SF_SMOKE))
        assert "Exchange" not in plan, name


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set is eval-sized; the corpus side must not
    shuffle for the contamination join."""
    assert uses_broadcast_join(
        SPECS["ngram_decontaminate"].fn(spark, SF_SMOKE))


def test_pack_chunks_single_exchange(spark):
    """Packing shuffles once on the stream key (source) for the window
    prefix-sum — and nothing else."""
    import re

    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["pack_chunks"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_explode_parallelism_conf_knob(spark):
    """Pre-explode repartition width comes from one conf knob
    (cluster-tunable), defaulting to defaultParallelism for local."""
    from cga_logs_to_kinesis_spark.operators.dedup import shingle_docs
    from cga_logs_to_kinesis_spark.session import EXPLODE_PARALLELISM_CONF
    from cga_logs_to_kinesis_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    assert (shingle_docs(docs).rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    spark.conf.set(EXPLODE_PARALLELISM_CONF, "7")
    try:
        assert shingle_docs(docs).rdd.getNumPartitions() == 7
    finally:
        spark.conf.unset(EXPLODE_PARALLELISM_CONF)


def test_passage_dedup_shuffles_digest_not_text(spark):
    """Passage dedup digests passages in the scan stage; every
    exchange must carry md5 digests + ids, never passage text or the
    token array."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["passage_dedup"].fn(spark, SF_SMOKE))
    exchanges = plan[plan.index("Exchange"):] if "Exchange" in plan else ""
    assert "text#" not in exchanges.split("Scan parquet")[0]
    assert "collect_list" not in plan


def test_mixture_weights_single_corpus_shuffle(spark):
    """The corpus reduces to #sources rows in one keyed agg; the
    normalizing window runs over that tiny aggregate only."""
    import re

    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["mixture_weights"].fn(spark, SF_SMOKE))
    # one hash-partitioned exchange (the groupBy); the window's
    # SinglePartition exchange moves #sources rows, which is fine
    assert len(re.findall(r"hashpartitioning\(source", plan)) >= 1


def test_mixture_apply_broadcast_rates_and_realized_keeps(spark):
    """The apply joins a ~|sources|-row rate table back onto the
    corpus by BROADCAST (no corpus-sized shuffle for the keep
    decision), upweighted small sources keep everything (p = 1.0),
    the largest source downsamples (p < 1), and realized keep rates
    track p_keep (deterministic draws, law-of-large-numbers band)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["mixture_apply"].fn(spark, "/root/testdata/sf0.01")
    assert "BroadcastHashJoin" in formatted_plan(df)
    rows = df.collect()
    assert len(rows) == 500
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    ps = {s: rs[0].p_keep for s, rs in by_src.items()}
    # near-uniform fixture sources -> every p sits near the half-
    # budget rate (the cap to 1.0 only binds on a skewed corpus; the
    # oracle pair pins the exact arithmetic either way)
    assert all(0.0 < p <= 1.0 for p in ps.values())
    assert max(ps.values()) < 1.0          # all sources downsample
    # p_keep is constant within a source and realized rates track it
    for s, rs in by_src.items():
        assert len({r.p_keep for r in rs}) == 1
        keep = sum(1 for r in rs if r.kept) / len(rs)
        assert abs(keep - ps[s]) < 0.35    # small per-source n
    # the downsampling is real and in the budget's ballpark
    kept_frac = sum(1 for r in rows if r.kept) / len(rows)
    assert 0.3 < kept_frac < 0.7


def test_embedding_quantize_is_map_only(spark):
    """Quantization fidelity is per-row array math — no shuffle at
    any scale."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["embedding_quantize"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_semdedup_broadcasts_centroids(spark):
    """Cluster assignment must broadcast the k centroids — the corpus
    never shuffles for the cross-score — and candidate pairs come from
    a join on the cluster key, not a per-cluster collected array."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["semdedup"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "collect_list" not in plan


def test_ivf_probe_join_prunes_clusters(spark):
    """IVF candidate generation joins the corpus assignment to the
    broadcast probe list on cluster id — no per-cluster collected
    arrays, centroids broadcast for assignment."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["cosine_topk_ivf"].fn(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "collect_list" not in plan


def test_vocab_coverage_ranks_topk_not_full_table(spark):
    """Ranking must be a distributed top-k (TakeOrderedAndProject),
    never a no-partition window funneling every token type through
    one task."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["vocab_coverage"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_dedup_incremental_prunes_and_shuffles_digests_only(spark):
    """The anti-join side moves md5 digests, not text: the scan reads
    only (doc_id, text) and no exchange carries the text column."""
    df = SPECS["dedup_incremental"].fn(spark, SF_SMOKE)
    scans = scan_read_schema_columns(df)
    assert scans and all(set(cols) <= {"doc_id", "text"} for cols in scans)
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "text#" not in line, line


def test_ann_recall_join_moves_ids_not_embeddings(spark):
    """The recall semi-join compares (query_id, cand_id) pairs; no
    exchange may carry an embedding array."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["ann_recall_report"].fn(spark, SF_SMOKE))
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "embedding#" not in line, line


def test_winnow_is_map_only(spark):
    """Winnowing must be scan → project → explode, zero exchanges:
    the whole selection is row-local at any scale."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["winnowing_fingerprints"].fn(
        spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_char_diversity_is_map_only(spark):
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["char_diversity"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_prune_broadcasts_stop_set_and_keeps_text_out_of_shuffles(spark):
    """The stop set arrives by broadcast; the only exchanges in the
    plan belong to the df-fitting agg over exploded tokens — document
    text itself must never be shuffle input."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["prune_frequent_tokens"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    # every shuffle Exchange row must be token/count-shaped, not text
    for seg in plan.split("\n"):
        if seg.strip().startswith("Exchange"):
            assert "text#" not in seg


def test_bm25_broadcasts_query_terms(spark):
    """BM25 scoring must prune to query-term postings via a broadcast
    of the tiny term set — never aggregate the full vocabulary tf."""
    assert uses_broadcast_join(SPECS["bm25_topk"].fn(spark, SF_SMOKE))


def test_bm25_length_table_pruned_to_matching_docs(spark):
    """The per-doc length table must be semi-join-pruned to
    query-matching doc ids BEFORE it reaches the score join: the
    token scan feeding the dl aggregation goes through a broadcast
    LeftSemi on doc_id, so neither the dl exchange nor the scored-side
    join ever carries the whole corpus's length table."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["bm25_topk"].fn(spark, SF_SMOKE))
    semi = [b for b in plan.split("\n\n")
            if "Join" in b.split("\n")[0] and "LeftSemi" in b]
    assert semi, "dl must be pruned via a LeftSemi join on doc_id"
    assert any("doc_id" in b and "Broadcast" in b.split("\n")[0]
               for b in semi)


def test_unigram_rarity_vocab_join_adapts_to_size(spark):
    """The rarity vocabulary join carries no forced broadcast hint: at
    tiny SF Catalyst may legitimately auto-broadcast the freq table,
    but with auto-broadcast off (emulating a web-scale vocabulary that
    outgrows the threshold) the plan must degrade to a shuffle join —
    not OOM the driver through a hard-coded F.broadcast()."""
    from cga_logs_to_kinesis_spark import session as sess
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        # tune_session() inside the query fn re-applies RUNTIME_CONFS,
        # so the override must go through the dict, not just the conf
        sess.RUNTIME_CONFS[key] = "-1"
        spark.conf.set(key, "-1")
        plan = formatted_plan(SPECS["unigram_rarity"].fn(spark, SF_SMOKE))
    finally:
        sess.RUNTIME_CONFS[key] = old
        spark.conf.set(key, old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


@pytest.mark.parametrize("name", ["revenue_by_nation", "segment_totals"])
def test_customer_join_adapts_to_size(spark, name):
    """customer is scale-proportional (150k x sf rows), so its join
    carries no forced broadcast hint: with auto-broadcast off
    (emulating the 100 TB corpus where customer outgrows the
    threshold) the customer join must degrade to a shuffle join — not
    OOM executors through a hard-coded F.broadcast().  The constant-
    size nation/region dims stay broadcast via their explicit hints."""
    from cga_logs_to_kinesis_spark import session as sess
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        sess.RUNTIME_CONFS[key] = "-1"
        spark.conf.set(key, "-1")
        plan = formatted_plan(SPECS[name].fn(spark, SF_SMOKE))
    finally:
        sess.RUNTIME_CONFS[key] = old
        spark.conf.set(key, old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
    if name == "revenue_by_nation":
        # the hinted constant-size dims must still broadcast
        assert "BroadcastHashJoin" in plan, name


def test_retention_cohorts_has_no_self_join(spark):
    """The cohort label comes from a per-user MIN window, the week-0
    denominator from a first_value window — the docstring's no-self-
    join claim, as a plan fact: zero join nodes, one events scan."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["retention_cohorts"].fn(spark, SF_SMOKE))
    tree = plan.split("(1) ")[0]
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 1


def test_snapshot_diff_single_full_outer_on_digests(spark):
    """Corpus reconciliation pays exactly one full-outer shuffle join;
    each side projects (doc_id, md5 digest) BEFORE its exchange, so
    text bytes never shuffle."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["snapshot_diff"].fn(spark, SF_SMOKE))
    tree = plan.split("(1) ")[0]
    assert tree.count("FullOuter") == 1
    assert tree.count("Scan parquet") == 2
    assert "BroadcastNestedLoopJoin" not in tree


def test_fertility_is_single_scan_no_join(spark):
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["fertility_by_lang"].fn(spark, SF_SMOKE))
    tree = plan.split("(1) ")[0]
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 1


def test_minhash_incremental_index_join_is_equi(spark):
    """The batch-vs-index candidate join must be a bucket-key
    equi-join (hash/sort-merge — AQE can split a hot bucket), never a
    nested loop, and the whole plan must stay product-free: at 100 TB
    the seen-side index is billions of rows and any non-equi path is
    quadratic."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(
        SPECS["dedup_minhash_incremental"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_gopher_quality_is_map_only(spark):
    """Every Gopher rule is row-local arithmetic: the plan must be a
    single map stage over the scan — zero exchanges at any scale."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["gopher_quality"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_lm_scorers_tokenize_once(spark):
    """bigram_surprisal / dsir_importance feed count tables, corpus
    scalars, and the join probe from ONE materialized tokenize pass
    (localCheckpoint): without the cut the final plan would re-scan
    the parquet per consumer."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    for name in ("bigram_surprisal", "dsir_importance"):
        plan = formatted_plan(SPECS[name].fn(spark, SF_SMOKE))
        assert "Scan parquet" not in plan, name


def test_lm_scorer_count_joins_adapt_to_size(spark):
    """The bigram/unigram count-table joins carry no forced broadcast
    hint: a web-scale bigram vocabulary (~1e10 keys) outgrows any
    broadcast, so with auto-broadcast off the plan must degrade to a
    shuffle join — not OOM the driver through a hard-coded
    F.broadcast()."""
    from cga_logs_to_kinesis_spark import session as sess
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        sess.RUNTIME_CONFS[key] = "-1"
        spark.conf.set(key, "-1")
        for name in ("bigram_surprisal", "dsir_importance"):
            plan = formatted_plan(SPECS[name].fn(spark, SF_SMOKE))
            assert ("SortMergeJoin" in plan
                    or "ShuffledHashJoin" in plan), name
    finally:
        sess.RUNTIME_CONFS[key] = old
        spark.conf.set(key, old)


# --- round-5 TPC-H shapes (tpch_shapes2.py) -------------------------------

def test_q7_q8_dims_broadcast_no_cartesian(spark):
    """Q7/Q8: the only shuffle join may be the fact-fact spine; every
    dimension (nation/customer/supplier/region/part) must broadcast
    and nothing may degrade to a cartesian/nested-loop join."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    for name in ("volume_shipping", "market_share"):
        df = SPECS[name].fn(spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        # fact-fact join on orderkey is the single sort-merge/shuffle
        # hash join allowed
        assert plan.count("SortMergeJoin") + plan.count(
            "ShuffledHashJoin") <= 1, name


def test_q13_join_filter_reaches_orders_scan(spark):
    """Q13: the o_orderpriority filter lives in the join condition but
    must still push down to the orders parquet scan."""
    df = SPECS["customer_distribution"].fn(spark, SF_SMOKE)
    assert has_pushed_filters(df, "o_orderpriority")


def test_q15_scalar_max_is_broadcast(spark):
    """Q15: the max-revenue scalar joins back via broadcast — the
    per-supplier aggregate must never shuffle against itself."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["top_supplier"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q17_two_lineitem_scans_only(spark):
    """Q17 decorrelation: per-part average + probe = exactly two scans
    of lineitem, never a nested-loop re-probe per row."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["small_qty_revenue"].fn(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") <= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunction_single_scan(spark):
    """Q19: the OR-of-ANDs stays one join filter over one lineitem
    scan — not a 3-way union of per-arm scans."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["disjunctive_revenue"].fn(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1
    assert "Union" not in plan
    assert "BroadcastHashJoin" in plan


def test_q21_shuffles_on_orderkey_no_triple_scan(spark):
    """Q21 decorrelation: the per-order aggregate joins back on
    l_orderkey (both heavy exchanges are on that key, AQE-coalescable)
    and lineitem is scanned at most twice — the EXISTS/NOT-EXISTS pair
    must not become a third scan."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["waiting_suppliers"].fn(spark, SF_SMOKE))
    assert "hashpartitioning(l_orderkey" in plan
    assert plan.count("lineitem.parquet") <= 2
    assert "CartesianProduct" not in plan


def test_q22_anti_join_with_broadcast_scalar(spark):
    """Q22: customers-without-recent-orders is a hash anti join, and
    the average-balance threshold arrives as a 1-row broadcast, never
    a recomputation per row."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["idle_customers"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# --- round-5 additions: graph / export / event analytics ------------------

def test_pagerank_iteration_state_is_narrow(spark):
    """The iteration shuffles rank rows (id, double) and edges (two
    ids) only — document text must never appear in the plan, and no
    stage may degrade to a cartesian product (the n_nodes scalar is a
    1-row broadcast)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["pagerank_docs"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_shard_assign_single_agg_no_join(spark):
    """Placement + balance report is one hash aggregate over the scan
    — no join, no window."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["shard_assign"].fn(spark, SF_SMOKE))
    assert "Join" not in plan
    assert "Window" not in plan


def test_retention_shuffles_on_user_then_cohort(spark):
    """Cohort label comes from a window over user_id (one exchange),
    never a self-join of events against first-events."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["retention_cohorts"].fn(spark, SF_SMOKE))
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan.split("Window")[0]


def test_rate_anomaly_single_event_scan(spark):
    """Trailing stats are window aggregates over the per-minute
    rollup — events scanned once, no self-join."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["rate_anomaly"].fn(spark, SF_SMOKE))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_substring_dedup_single_scan_no_cartesian(spark):
    """Exact-substring dedup: the gram explode is checkpointed (one
    documents scan total, paid at the cut) and duplicated-gram
    detection is a partial-agg groupBy + equi-join — never a
    self-join, and never a Window over the skew-prone digest (the
    only window left is gap-and-islands per doc_id)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["dedup_substring"].fn(spark, SF_SMOKE))
    assert plan.count("documents.parquet") <= 1   # checkpointed front
    assert "CartesianProduct" not in plan
    for seg in plan.split("\n\n"):
        if seg.strip().startswith("Window") or (
                "Window" in seg.split("\n", 1)[0]):
            assert "digest#" not in seg, seg.split("\n", 1)[0]


def test_substring_apply_no_digest_window(spark):
    """The removal half folds count + first-occurrence winner in ONE
    groupBy(digest) — the count/row_number window pair would sort a
    boilerplate digest's whole occurrence list on one reducer."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(
        SPECS["dedup_substring_apply"].fn(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_rank_caps_compile_to_window_group_limit(spark):
    """Per-group top-k rank filters must ride WindowGroupLimit: each
    map partition prunes to its local top-k per key BEFORE the window
    exchange, so a hot group (one giant domain / customer) ships at
    most k x partitions rows instead of its whole corpus share.  AQE
    cannot split window skew — this prune is the only bound."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    for q in ("domain_cap", "top3_orders_per_customer"):
        plan = formatted_plan(SPECS[q].fn(spark, SF_SMOKE))
        assert "WindowGroupLimit" in plan, (
            f"{q}: rank filter lost its map-side group-limit prune")


def test_bm25_topk_is_heap_topk_not_global_window(spark):
    """The global top-k must compile to TakeOrderedAndProject (k-row
    heap per partition, heap merge) with any residual rank window
    running over <= k rows — a bare global row_number would
    single-partition the whole scored corpus."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    plan = formatted_plan(SPECS["bm25_topk"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_bucket_caps_have_no_content_key_windows(spark):
    """Every LSH-family hot-bucket cap computes as partial-agg
    groupBy + equi-join (functions/buckets.py), never
    count().over(Window(bucket)): a boilerplate bucket must not
    funnel its rows through one WindowExec reducer just to be
    dropped.  Pins the shape for one query per family: no Window
    node may partition on a content-derived bucket key."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    content_keys = ("band", "sig", "block_id", "block_val",
                    "bucket#", "fingerprint#", "digest#", "fp#")
    for q in ("dedup_minhash_lsh", "dedup_ngram_jaccard",
              "dedup_simhash_pairs", "ann_incremental",
              "dedup_winnow_pairs", "dedup_minhash_incremental"):
        plan = formatted_plan(SPECS[q].fn(spark, SF_SMOKE))
        for seg in plan.split("\n\n"):
            head = seg.split("\n", 1)[0]
            if "Window" not in head:
                continue
            assert not any(k in seg for k in content_keys), (
                f"{q}: Window over a content-derived bucket key: "
                f"{head}")


def test_simhash_pairs_block_join_no_cartesian(spark):
    """Manku block-banded Hamming join: candidates come from block
    equi-joins, never an all-pairs comparison."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["dedup_simhash_pairs"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_modal_agreement_embeddings_never_self_join(spark):
    """The embedding attach is two id-keyed joins of the tiny verified
    pair table — embeddings are scanned exactly twice and never
    all-pairs compared."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["modal_agreement"].fn(spark, SF_SMOKE))
    assert plan.count("embeddings.parquet") == 2
    assert "CartesianProduct" not in plan


def test_split_leakage_repair_pays_lsh_once(spark):
    """The composed leak-report -> repair query localCheckpoints ONE
    verified-pair front; the final plan must read that materialized
    RDD (plus the row-local split hashes) and never re-run the
    shingle/banding pipeline — zero documents scans downstream of the
    checkpoint, no cartesian anywhere."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(
        SPECS["split_leakage_repair"].fn(spark, SF_SMOKE))
    assert "documents.parquet" not in plan       # LSH already paid
    assert "Scan ExistingRDD" in plan            # the checkpointed front
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_overlap_single_pruned_scan(spark):
    """Sliding-window chunking is one pass: a single documents scan
    pruned to (doc_id, text) with the NULL-text filter pushed down,
    and no join anywhere (the explode is bounded fan-out)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["chunk_overlap"].fn(spark, SF_SMOKE))
    assert plan.count("documents.parquet") == 1
    assert "PushedFilters: [IsNotNull(text)]" in plan
    assert "Join" not in plan


def test_length_outliers_dev_subtree_evaluated_once(spark):
    """The deviation table feeds BOTH the MAD aggregate and the final
    flagging pass; the localCheckpoint must cut the lineage so the
    scan+join subtree never runs twice (the q_important_stock
    lesson)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(SPECS["length_outliers"].fn(spark, SF_SMOKE))
    assert "Scan ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0


def test_curation_export_pays_each_front_once(spark):
    """Flagship #2's contract: downstream of the two checkpointed
    fronts (the quality-gated corpus and the components labels), the
    FINAL plan re-scans nothing — no parquet scan of documents, and no
    recomputed shingle/minhash expressions (array_min over md5'd
    shingles is the LSH signature fingerprint)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["curation_export_manifest"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, \
        "corpus must be scanned once, at the quality-gate checkpoint"
    assert "array_min" not in plan and "sequence(1" not in plan, \
        "LSH shingle/signature math must not be recomputed downstream"
    # the packing window and the final aggregate are the only wide ops
    assert plan.count("Window") >= 1


def test_forecast_revenue_pushdown_and_pruning(spark):
    """Q6's whole value at 100 TB is reading 4 columns of one year:
    every predicate must reach the parquet scan and the read schema
    must stay narrow."""
    df = SPECS["forecast_revenue"].fn(spark, SF_SMOKE)
    assert has_pushed_filters(df, "l_shipdate", "l_discount",
                              "l_quantity")
    scans = scan_read_schema_columns(df)
    assert scans and all(len(cols) <= 4 for cols in scans)
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    assert "Join" not in formatted_plan(df)


def test_table_profile_avoids_expand_sort_aggregate(spark):
    """The profile's reason for being two passes: the naive
    multi-column COUNT(DISTINCT) plans Expand + SortAggregate over the
    widened scan (the sort grows superlinearly at scale).  The
    two-pass form must show NO Expand node, and the only sort allowed
    is the final 11-row orderBy."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["table_profile"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Expand" not in plan
    assert uses_broadcast_join(df)


def test_derived_partsupp_is_narrow(spark):
    """load_partsupp must stay join-free and shuffle-free: one narrow
    part scan, a row-local explode, literal arithmetic — the derived
    fact table costs what a scan would."""
    from cga_logs_to_kinesis_spark.operators.tpch_partsupp import (
        load_partsupp,
    )
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(load_partsupp(spark, SF_SMOKE))
    assert "Join" not in plan
    assert "Exchange" not in plan
    cols = scan_read_schema_columns(load_partsupp(spark, SF_SMOKE))
    assert cols and all(c == ["p_partkey"] for c in cols)


def test_flagship_entry_plan_shape(spark):
    """The one query the driver ALWAYS runs (__spark_entry__.entry,
    q_stats_tumbling at sf0.001) finally gets its plan pinned: a
    rows>0 smoke check would happily pass a regressed plan.  The shape
    that scales: one pruned scan (ts/event_type/value only), the
    integer-division bucketing inside codegen, partial+final hash
    aggregation around exactly ONE exchange, no join, no sort."""
    import importlib
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    m = importlib.import_module("__spark_entry__")
    df = m.entry(spark)
    assert len(df.collect()) > 0          # the driver's smoke check —
    # and executing first makes AQE finalize the plan, so the
    # formatted string below shows the real codegen'd shape
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    plan = formatted_plan(df)
    scans = scan_read_schema_columns(df)
    assert scans and all(len(cols) <= 3 for cols in scans), scans
    # count Exchange nodes in the FINAL plan tree only — the AQE
    # explain prints the initial plan (with its own Exchange) and a
    # detail entry per node, so a raw substring count double-counts
    tree = plan.split("== Initial Plan ==")[0]
    n_exchanges = tree.count("Exchange (")
    assert n_exchanges == 1, "tumbling agg must shuffle once"
    assert "HashAggregate" in plan
    assert "Join" not in plan and "Sort" not in plan
    assert wholestage_codegen_spans(df) >= 1


def test_heavy_hitters_verify_join_is_broadcast(spark):
    """The exact-verify pass joins the token stream against <= K x
    partitions candidates — that side must broadcast; a shuffled join
    would re-shuffle the full token stream the MG pass exists to
    avoid."""
    df = SPECS["heavy_hitters"].fn(spark, SF_SMOKE)
    assert uses_broadcast_join(df)
    assert not uses_sort_merge_join(df)


def test_bloom_probe_plan_has_no_join(spark):
    """bloom_decontaminate's whole point: after the (bounded) bitmap
    build, corpus membership is a pandas-UDF bitmap probe — the
    report plan must contain NO join of any kind over the corpus."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["bloom_decontaminate"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan or "Python" in plan  # the probe


def test_ivf_sq_coarse_pass_is_cluster_pruned(spark):
    """cosine_topk_ivf_sq's contract vs the linear cosine_topk_pq:
    the SQ8 coarse cosine may only be computed ABOVE the
    inverted-file cluster join (i.e. on pruned candidates).  In
    formatted-explain numbering children carry smaller ids than their
    consumers, so every Project evaluating the qe-x-recon score must
    have a larger node id than the BroadcastHashJoin on `cluster`."""
    import re

    from cga_logs_to_kinesis_spark.plans import formatted_plan
    df = SPECS["cosine_topk_ivf_sq"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert not uses_sort_merge_join(df)
    chunks = re.split(r"\n\n", plan)
    cluster_join_ids = [
        int(m.group(1)) for c in chunks
        if "BroadcastHashJoin" in c.split("\n", 1)[0]
        and "Left keys [1]: [cluster" in c
        for m in [re.search(r"\((\d+)\)", c.split("\n", 1)[0])] if m]
    coarse_ids = [
        int(m.group(1)) for c in chunks
        if "Project" in c.split("\n", 1)[0]
        and "zip_with(qe" in c and "recon" in c
        for m in [re.search(r"\((\d+)\)", c.split("\n", 1)[0])] if m]
    assert cluster_join_ids, "inverted-file cluster join missing"
    assert coarse_ids, "SQ8 coarse scoring project missing"
    assert min(coarse_ids) > max(cluster_join_ids), (
        "coarse scoring compiled below the cluster join — the pass "
        "would touch unpruned candidates")


def test_heavy_hitters_wide_input_no_exchange(spark):
    """heavy_hitters' pre-tokenize repartition is a fixture-scale
    parallelism crutch gated on input width: a corpus that already
    arrives at or above the knob (the 100 TB scan) must NOT pay a
    full-corpus shuffle before the Misra-Gries pass, while the narrow
    fixture scan still gets the spread."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        heavy_hitters_report,
    )
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    from cga_logs_to_kinesis_spark.session import (
        EXPLODE_PARALLELISM_CONF,
    )
    from cga_logs_to_kinesis_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    spark.conf.set(EXPLODE_PARALLELISM_CONF, "4")
    try:
        wide = docs.repartition(8)          # RoundRobin, not doc_id
        plan = formatted_plan(heavy_hitters_report(spark, wide))
        assert "hashpartitioning(doc_id" not in plan, (
            "wide input still paid the doc_id repartition before "
            "tokenization")
        narrow = docs.coalesce(1)
        plan = formatted_plan(heavy_hitters_report(spark, narrow))
        assert "hashpartitioning(doc_id" in plan, (
            "narrow fixture input lost its parallelism spread")
    finally:
        spark.conf.unset(EXPLODE_PARALLELISM_CONF)


def test_wide_input_fronts_skip_repartition(spark):
    """Every explode front (shingle, char-shingle, simhash tokenize)
    shares heavy_hitters' width gate: an input already at or above
    the explode-parallelism knob (the 100 TB scan) must NOT pay a
    full-corpus doc_id shuffle before the explode, while the narrow
    fixture scan still gets the parallelism spread."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        char_shingle_docs,
        shingle_docs,
        simhash_fingerprints,
    )
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    from cga_logs_to_kinesis_spark.session import (
        EXPLODE_PARALLELISM_CONF,
    )
    from cga_logs_to_kinesis_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    spark.conf.set(EXPLODE_PARALLELISM_CONF, "4")
    try:
        wide = docs.repartition(8)          # RoundRobin, not doc_id
        narrow = docs.coalesce(1)
        for front in (shingle_docs, char_shingle_docs):
            plan = formatted_plan(front(wide))
            assert "hashpartitioning(doc_id" not in plan, (
                f"{front.__name__}: wide input still paid the doc_id "
                "repartition before the explode")
            plan = formatted_plan(front(narrow))
            assert "hashpartitioning(doc_id" in plan, (
                f"{front.__name__}: narrow fixture input lost its "
                "parallelism spread")
        # simhash's downstream per-doc aggregations hash-partition on
        # doc_id legitimately (at shuffle.partitions width) — the
        # GATED repartition is the only exchange carrying the explicit
        # knob width, and only the narrow input may pay it.  (Those
        # agg exchanges carry map-side-reduced (doc_id, bit) partials,
        # never the text-bearing doc rows the gate saves.)
        import re as _re
        pat = _re.compile(r"hashpartitioning\(doc_id#\d+L?, 4\)")
        assert not pat.search(formatted_plan(simhash_fingerprints(wide)))
        assert pat.search(formatted_plan(simhash_fingerprints(narrow)))
        # the r14 fronts gate a keyless repartition (RoundRobin):
        # wide inputs must not pay it, narrow fixtures must
        from cga_logs_to_kinesis_spark.operators.ingest_audit import (
            source_tokens,
        )
        from cga_logs_to_kinesis_spark.operators.line_dedup import (
            line_flat,
        )
        for front in (line_flat, source_tokens):
            assert "RoundRobinPartitioning(4" not in \
                formatted_plan(front(wide)), (
                    f"{front.__name__}: wide input still paid the "
                    "pre-explode repartition")
            assert "RoundRobinPartitioning(4" in \
                formatted_plan(front(narrow)), (
                    f"{front.__name__}: narrow fixture input lost "
                    "its parallelism spread")
    finally:
        spark.conf.unset(EXPLODE_PARALLELISM_CONF)


def test_encoding_anomaly_single_pruned_scan(spark):
    """The encoding audit is one scan folded map-side: no joins, and
    the parquet scan must read ONLY (text, source) — an audit that
    drags the full document row through the regexp pass would pay
    5x the I/O at 100 TB."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["encoding_anomaly_report"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Join" not in plan
    scans = scan_read_schema_columns(df)
    assert scans and all(set(cols) <= {"text", "source"}
                         for cols in scans), scans


def test_script_mixing_single_pruned_scan(spark):
    """Like the encoding audit: one scan reading ONLY (text, source),
    counts folded map-side, no joins."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["script_mixing_report"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Join" not in plan
    scans = scan_read_schema_columns(df)
    assert scans and all(set(cols) <= {"text", "source"}
                         for cols in scans), scans


def test_corpus_drift_single_scan_no_joins(spark):
    """The drift monitor is one row-local projection + a 10-key
    groupBy: no joins, and the scan must not drag unused columns
    (doc_id/text/source/lang only — n_chars is recomputed from text
    because the fixture's n_chars column can lie)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["corpus_drift"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Join" not in plan
    scans = scan_read_schema_columns(df)
    assert scans and all(
        set(cols) <= {"doc_id", "text", "source", "lang"}
        for cols in scans), scans


def test_homoglyph_scrub_is_row_local(spark):
    """The repair is a pure projection: no joins, no exchanges, no
    windows — translate is row-local."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["homoglyph_scrub"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    for bad in ("Join", "Exchange", "Window"):
        assert bad not in plan, bad


def test_salted_join_apply_joins_on_salt_slices(spark):
    """The applied mitigation must actually join on (key, _salt) —
    the hot key's rows spread across salt_factor slices instead of
    meeting on one reducer — and the plan attach on both sides must
    be a broadcast (the <=100-row planner artifact)."""
    import re

    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["salted_join_apply"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert re.search(r"keys \[2\]: \[l_orderkey#\d+L?, _salt#\d+", plan), (
        "equi-join is not on (l_orderkey, _salt) — hot rows would "
        "meet on a single reducer")
    # the planner front is pruned to the consumed key family: no
    # documents tokenize (per-key_col math is independent)
    assert "documents.parquet" not in plan


def test_salted_join_plan_broadcasts_totals(spark):
    """The planner joins the key-frequency table to its 5-row totals:
    that join must be broadcast (a shuffle here would re-shuffle the
    whole frequency table to attach five rows)."""
    df = SPECS["salted_join_plan"].fn(spark, SF_SMOKE)
    assert uses_broadcast_join(df)
    assert not uses_sort_merge_join(df)


def test_ngram_novelty_shuffles_fingerprints_not_text(spark):
    """The novelty shuffles (min-per-fp, fold-by-first-doc, the
    per-doc join) must carry bigint fingerprints + ids only — the
    text column never crosses an exchange (the checkpointed shingle
    front already reduced it)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["ngram_novelty"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    for seg in plan.split("\n\n"):
        if seg.strip().startswith("Exchange") or (
                "Exchange" in seg.split("\n", 1)[0]):
            assert "text#" not in seg, seg.split("\n", 1)[0]


def test_ngram_novelty_first_occurrence_is_groupby_not_window(spark):
    """First-occurrence must fold as groupBy(fp).min — map-side
    partial aggregation collapses a boilerplate (maximally hot) fp to
    one row per map partition before the exchange.  A
    partition-only WindowExec over fp would shuffle EVERY (doc_id,
    fp) pair to the hot fp's reducer and sort them there — the
    classic skew collapse at 100 TB.  HashAggregate with a
    partial_min child is the shape this pins."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["ngram_novelty"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan, plan[:2000]


def test_training_order_is_parallel_sort_no_window(spark):
    """The epoch shuffle must stay a range-partitioned parallel sort:
    a global rank/row_number would compile to a single-partition
    WindowExec exactly where the corpus is largest."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["training_order"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "rangepartitioning(order_key" in plan
    assert "SinglePartition" not in plan.split("== Initial Plan ==")[0]


def test_quality_classifier_is_map_only(spark):
    """The hashing-trick classifier apply is the scan-bound hot path
    of a curation run: tokenize, hash, integer fold, compare — all
    row-local.  Zero exchanges at any scale (and the survivor filter
    adds only a Filter on top)."""
    from cga_logs_to_kinesis_spark.plans import formatted_plan
    for name in ("quality_classifier", "quality_classifier_apply"):
        plan = formatted_plan(SPECS[name].fn(spark, SF_SMOKE))
        assert "Exchange" not in plan, name


def test_token_decon_broadcasts_benchmark(spark):
    """Token-space decontamination keeps the word-level operator's
    topology: the benchmark gram set stays broadcast (the corpus side
    must not shuffle for the contamination join)."""
    assert uses_broadcast_join(
        SPECS["token_ngram_decontaminate"].fn(spark, SF_SMOKE))


def test_blocklist_gate_is_row_local(spark):
    """The blocklist matcher is a pure function of the row
    (first-token probe + in-set gram confirm), so the gate must carry
    NO join and no token/gram-sized row stream at all (optimization
    r18; the r17 shape exploded every corpus gram through a broadcast
    term join):

    * blocklist_filter — one scan, one source-keyed exchange (the
      partial agg), no join, no Generate;
    * blocklist_apply — pure scan + filter + project: zero exchanges,
      zero joins, zero Generate;
    * no shuffle keyed on document text or grams anywhere.
    """
    import re

    from cga_logs_to_kinesis_spark.plans import formatted_plan

    plan = formatted_plan(SPECS["blocklist_filter"].fn(spark, SF_SMOKE))
    assert "Join" not in plan and "Generate" not in plan
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys and all("text" not in k and "gram" not in k
                        for k in keys)
    aplan = formatted_plan(SPECS["blocklist_apply"].fn(spark, SF_SMOKE))
    assert "Exchange" not in aplan
    assert "Join" not in aplan and "Generate" not in aplan


def test_image_band_join_is_banded_and_payload_free(spark):
    """The image near-dup candidate join must be the banded equi-join
    (pigeonhole blocks), never a cross product — and no exchange may
    carry the decoded payloads: only (band_id, band_val) candidate
    keys and (doc_a, doc_b) pair keys hit a shuffle (the decode stage
    is checkpointed upstream, the fingerprints are 4 ints/doc)."""
    import re

    from cga_logs_to_kinesis_spark.plans import formatted_plan

    df = SPECS["image_dedup_pairs"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys, "banded join lost its exchanges?"
    for k in keys:
        assert "payload" not in k and "text" not in k, k
        assert re.search(r"band_id|band_val|doc_a|doc_b|doc_id", k), k
