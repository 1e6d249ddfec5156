"""Relational surface, part 3: pivot, range window frames, argmax
aggregates, blocked string-distance joins, token frequencies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cga_logs_to_kinesis_spark.functions.exact import dsum, dsum_sql
from cga_logs_to_kinesis_spark.operators.dedup import (
    NORMALIZED_SQL,
    normalized_text,
)
from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import explode_parallelism, tune_session
from cga_logs_to_kinesis_spark.sources import load_events, load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot: one column per event type.  The pivot values are
    listed explicitly — at scale an unlisted pivot forces an extra
    distinct-collection job before planning."""
    tune_session(spark)
    ev = load_events(spark, sf_dir)
    day = F.expr("ts DIV 86400000000000").cast("long")
    return (
        ev.withColumn("day_bucket", day)
        .groupBy("day_bucket")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


register(QuerySpec(
    "pivot_event_types", q_pivot_event_types,
    oracle="""
        SELECT (epoch_ns(ts) // 86400000000000) AS day_bucket,
               {cols}
        FROM events
        GROUP BY 1
    """.format(cols=",\n               ".join(
        f"COALESCE(COUNT(CASE WHEN event_type = '{t}' THEN 1 END), 0) "
        f"AS {t}" for t in EVENT_TYPES)),
    doc="native pivot with explicit values (vs conditional-agg oracle)",
    tags=("agg", "pivot"),
))


def q_orders_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: for each order, how many orders the same
    customer placed within +-30 days, and their total value."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
    w = (Window.partitionBy("o_custkey").orderBy("order_day")
         .rangeBetween(-30, 30))
    return (
        orders.withColumn("order_day", day.cast("long"))
        .select(
            "o_orderkey", "o_custkey", "order_day",
            F.count("*").over(w).alias("n_nearby_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w)
            .cast("double").alias("nearby_value"),
        )
    )


register(QuerySpec(
    "orders_in_window", q_orders_in_window,
    oracle="""
        SELECT o_orderkey, o_custkey,
               date_diff('day', DATE '1970-01-01', o_orderdate)
                   AS order_day,
               COUNT(*) OVER w AS n_nearby_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w
                    AS DOUBLE) AS nearby_value
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey
            ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
            RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
    """,
    doc="RANGE window frame (value-based, not row-based)",
    tags=("window", "range-frame"),
))


def q_longest_doc_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by with an exact integer tie-breaker (ties otherwise
    make argmax nondeterministic across engines)."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    ordv = (F.col("n_chars") * 1_000_000 + F.col("doc_id"))
    ordv_min = (F.col("n_chars") * 1_000_000 - F.col("doc_id"))
    return (
        docs.groupBy("lang")
        .agg(F.max_by("doc_id", ordv).alias("longest_doc_id"),
             F.min_by("doc_id", ordv_min).alias("shortest_doc_id"),
             F.max("n_chars").alias("max_chars"),
             F.min("n_chars").alias("min_chars"))
    )


register(QuerySpec(
    "longest_doc_per_lang", q_longest_doc_per_lang,
    oracle="""
        SELECT lang,
               arg_max(doc_id, n_chars * 1000000 + doc_id)
                   AS longest_doc_id,
               arg_min(doc_id, n_chars * 1000000 - doc_id)
                   AS shortest_doc_id,
               MAX(n_chars) AS max_chars,
               MIN(n_chars) AS min_chars
        FROM documents
        GROUP BY lang
    """,
    doc="max_by/min_by (argmax) with deterministic tie-break",
    tags=("agg", "argmax"),
))


def q_similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked string-distance self-join: Levenshtein only within a
    brand block, never across the full cross product — the standard
    fuzzy-matching topology at scale (block key keeps candidate sets
    small; the distance function runs on candidates only)."""
    tune_session(spark)
    part = load_table(spark, sf_dir, "part")
    # the block join is row-amplifying (|block|² Levenshtein calls);
    # spread the probe side across brand blocks first — a single-file
    # scan would otherwise pin the whole distance fan-out to one task
    par = explode_parallelism(spark)
    a = part.select(F.col("p_brand").alias("brand"),
                    F.col("p_partkey").alias("key_a"),
                    F.col("p_name").alias("name_a")).repartition(par, "brand")
    b = part.select(F.col("p_brand").alias("brand"),
                    F.col("p_partkey").alias("key_b"),
                    F.col("p_name").alias("name_b"))
    return (
        a.join(b, "brand")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 4)
        .select("brand", "key_a", "key_b", "edit_dist")
    )


register(QuerySpec(
    "similar_part_names", q_similar_part_names,
    oracle="""
        SELECT a.p_brand AS brand,
               a.p_partkey AS key_a,
               b.p_partkey AS key_b,
               levenshtein(a.p_name, b.p_name) AS edit_dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    doc="blocked Levenshtein fuzzy self-join",
    tags=("join", "text", "fuzzy"),
))


def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies, top 25 — explode + count + top-k,
    with map-side partial aggregation absorbing the Zipf skew before
    the shuffle (the frequent-token hot keys pre-reduce per partition)."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    par = explode_parallelism(docs.sparkSession)
    toks = (docs
            .repartition(par, "doc_id")
            .select(F.explode(F.split(normalized_text(), " "))
                    .alias("token"))
            .filter(F.col("token") != ""))
    return (toks.groupBy("token")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("token"))
            .limit(25))


register(QuerySpec(
    "token_frequencies", q_token_frequencies,
    oracle=f"""
        SELECT t.tok AS token, COUNT(*) AS n
        FROM documents,
             UNNEST(regexp_split_to_array({NORMALIZED_SQL}, ' '))
                 AS t(tok)
        WHERE t.tok != ''
        GROUP BY 1
        ORDER BY n DESC, token
        LIMIT 25
    """,
    doc="token frequency top-k (skew-absorbing partial agg)",
    tags=("text", "agg", "topk", "north-star"),
))


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName across differently-shaped projections + dedup."""
    tune_session(spark)
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.select(F.col("c_name").alias("name"),
                    F.col("c_nationkey").alias("nationkey"),
                    F.lit("customer").alias("kind"))
    s = supp.select(F.lit("supplier").alias("kind"),
                    F.col("s_name").alias("name"),
                    F.col("s_nationkey").alias("nationkey"))
    return (c.unionByName(s)
            .groupBy("kind", "nationkey")
            .agg(F.count("*").alias("n")))


register(QuerySpec(
    "union_by_name", q_union_by_name,
    oracle="""
        SELECT kind, nationkey, COUNT(*) AS n FROM (
            SELECT c_name AS name, c_nationkey AS nationkey,
                   'customer' AS kind FROM customer
            UNION ALL
            SELECT s_name, s_nationkey, 'supplier' FROM supplier
        )
        GROUP BY kind, nationkey
    """,
    doc="unionByName (schema-aligned union) + agg",
    tags=("setop",),
))



# The documented error contract: HLL++ relative standard deviation.
# tests/test_consumer_and_approx.py verifies every group's estimate
# lands within APPROX_BOUND_SIGMA x this of the exact countDistinct,
# so "approx" ships with a tested bound, not just a row count.
APPROX_RSD = 0.02
APPROX_BOUND_SIGMA = 4          # P(|err| > 4 sigma) ~ 6e-5 per group


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts: the scale-path twin
    of distinct_users (single pass, constant memory per group, no
    distinct-expand shuffle).  Sketch internals differ per engine, so
    there is no value oracle; the local test bounds relative error
    against the exact count instead (APPROX_RSD above)."""
    tune_session(spark)
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=APPROX_RSD)
             .alias("approx_users"),
             F.count("*").alias("n_events"))
    )


register(QuerySpec(
    "approx_distinct_users", q_approx_distinct_users,
    oracle=None,   # sketch values are engine-specific by construction
    doc="approx_count_distinct (HLL++), error-bounded by test",
    tags=("agg", "approx"),
))


# Rank-error contract for the quantile sketch, mirroring APPROX_RSD:
# approx_percentile(acc) guarantees rank error <= n/acc;
# tests/test_consumer_and_approx.py verifies each returned value's
# EXACT rank lands within that window of the target rank.
QUANTILE_ACCURACY = 10_000
QUANTILE_PROBS = (0.25, 0.5, 0.75, 0.95)


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate order-statistics sketch: per-priority totalprice
    quantiles via ``approx_percentile`` (Greenwald–Khanna style,
    single pass, map-side-mergeable, constant memory per group) — the
    scale path wherever ``percentile`` / ``quantile_cont`` would
    buffer a 100 TB group's values (see ``length_outliers``' scale
    note).  Sketch outputs are engine-specific, so no value oracle;
    the local test bounds each value's exact RANK error instead."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    probs = ", ".join(repr(p) for p in QUANTILE_PROBS)
    qs = F.expr(f"approx_percentile(o_totalprice, array({probs}), "
                f"{QUANTILE_ACCURACY})")
    return (orders.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"), qs.alias("_qs"))
            .select("o_orderpriority", "n_orders",
                    *[F.col("_qs")[i].alias(f"p{int(p * 100)}")
                      for i, p in enumerate(QUANTILE_PROBS)])
            .orderBy("o_orderpriority"))


register(QuerySpec(
    "approx_quantiles", q_approx_quantiles,
    oracle=None,   # sketch values are engine-specific by construction
    doc="approx_percentile quantile sketch per group (GK-style, "
        "mergeable), rank-error-bounded by test — the scale path for "
        "order statistics",
    tags=("agg", "approx", "quantile"),
))



def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build, extract, keys/size — the Envelope
    `tags` map's operation set (reference envelope.pb.go:99-118)."""
    tune_session(spark)
    ev = load_events(spark, sf_dir)
    k = F.from_json("props", "k INT").getField("k")
    tags = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("k"), k.cast("string"))
    return (
        ev.select("event_id", tags.alias("tags"))
        .select(
            "event_id",
            F.element_at("tags", "type").alias("tag_type"),
            F.element_at("tags", "k").alias("tag_k"),
            F.size("tags").alias("n_tags"),
            F.array_join(F.sort_array(F.map_keys("tags")), ",")
            .alias("key_list"),
        )
    )


register(QuerySpec(
    "map_functions", q_map_functions,
    oracle="""
        SELECT event_id,
               map_extract(tags, 'type')[1] AS tag_type,
               map_extract(tags, 'k')[1] AS tag_k,
               cardinality(tags) AS n_tags,
               array_to_string(list_sort(map_keys(tags)), ',') AS key_list
        FROM (
            -- json_valid guard: from_json yields NULL on junk JSON
            SELECT event_id,
                   MAP(['type', 'k'],
                       [event_type,
                        CASE WHEN json_valid(props)
                             THEN CAST(CAST(json_extract_string(
                                      props, '$.k') AS INT)
                                  AS VARCHAR) END]) AS tags
            FROM events
        )
    """,
    doc="MapType build/extract/keys (the Envelope tags surface)",
    tags=("scalar", "map"),
))



def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long): per-nation aggregate columns melted into
    (metric, value) rows — Spark `unpivot` vs SQL UNPIVOT semantics."""
    tune_session(spark)
    cust = load_table(spark, sf_dir, "customer")
    wide = (cust.groupBy("c_nationkey")
            .agg(F.count("*").cast("double").alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
                 .cast("double").alias("total_balance"),
                 F.max("c_acctbal").alias("max_balance")))
    return (wide.unpivot(
        ids=["c_nationkey"],
        values=["n_customers", "total_balance", "max_balance"],
        variableColumnName="metric",
        valueColumnName="value")
        # SQL UNPIVOT defaults to EXCLUDE NULLS; Spark's melt keeps
        # NULL cells.  Pin the ANSI semantics explicitly — on clean
        # fixtures a no-op, on an all-NULL group (dirty net) the
        # difference is two phantom rows.
        .filter(F.col("value").isNotNull()))


register(QuerySpec(
    "unpivot_metrics", q_unpivot_metrics,
    oracle="""
        WITH wide AS (
            SELECT c_nationkey,
                   CAST(COUNT(*) AS DOUBLE) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6)))
                        AS DOUBLE) AS total_balance,
                   MAX(c_acctbal) AS max_balance
            FROM customer GROUP BY c_nationkey
        )
        SELECT c_nationkey, metric, value
        FROM wide
        UNPIVOT (value FOR metric IN
                 (n_customers, total_balance, max_balance))
    """,
    doc="unpivot/melt wide aggregates into (metric, value) rows",
    tags=("reshape", "unpivot"),
))


def q_rank_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function gallery: rank / dense_rank / percent_rank /
    cume_dist / ntile over a deterministic total order."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window
    w = (Window.partitionBy("o_orderpriority")
         .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")))
    return (
        orders
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderpriority", "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
            F.cume_dist().over(w).alias("cdist"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rnk") <= 100)
    )


register(QuerySpec(
    "rank_gallery", q_rank_gallery,
    oracle="""
        SELECT o_orderpriority, o_orderkey, rnk, drnk, prnk, cdist,
               quartile
        FROM (
            SELECT o_orderpriority, o_orderkey,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   PERCENT_RANK() OVER w AS prnk,
                   CUME_DIST() OVER w AS cdist,
                   NTILE(4) OVER w AS quartile
            FROM orders
            WHERE o_orderstatus = 'F'
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey)
        ) WHERE rnk <= 100
    """,
    doc="rank/dense_rank/percent_rank/cume_dist/ntile gallery",
    tags=("window", "rank"),
))
