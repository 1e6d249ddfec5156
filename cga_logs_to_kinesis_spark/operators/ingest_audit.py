"""JSONL ingest audit: corrupt-line accounting as a first-class query.

``load_documents_jsonl`` reads crawls/dumps PERMISSIVE-ly — corrupt
lines become NULL rows instead of job failures.  A production ingest
must *account* for them, the same posture as ``embedding_validity``:
count what arrived, what parsed, what was quarantined, and what lied
about itself (an ``n_chars`` field disagreeing with the text), per
shard, so one bad producer is visible immediately.

The fixture is a deterministic dirty JSONL corpus (truncated records,
garbage, non-object JSON, missing fields, unicode/empty/whitespace
text) generated to a content-versioned path — same bytes on every
call, independent of ``sf_dir``, so the DuckDB oracle (which reads the
same files raw via ``read_text`` + ``json_valid``) is order-agnostic.
This mirrors how the multimodal fixtures are integer-hash-generated:
the driver ships no dirty-JSONL table, and clean parquet cannot
exercise corrupt-line semantics.

Scale: the audit is one pass over the scan — counts and sums fold
map-side; at 100 TB it is the same shape as any ingest-time quality
gate (no joins, no Python).

Reference parity note: the reference daemon tails log files and must
tolerate torn/partial lines at EOF (main.go's line-splitting contract);
this is the batch-ingest realization of the same "never trust a line
until it parses" rule.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.operators.text import WS_PLUS
from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import tune_session

# Bump the version segment whenever generated bytes change: the oracle
# SQL embeds this path, and a content change without a path change
# would let a stale fixture shadow the new one.
FIXTURE_DIR = os.path.join(tempfile.gettempdir(), "cga_dirty_jsonl_v1")
N_SHARDS = 4
_TEXT_CYCLE = (
    "hello world",
    "café au lait",
    "中文文档",
    "",                         # empty text is VALID, distinct from NULL
    "x",
    "tab\\t literal and vt  inside",
    "naïve résumé",
    "  leading and trailing  ",
)
_LANGS = ("en", "fr", "zh", "de", "es")
_SOURCES = ("web", "books", "code")


def _shard_lines(shard: int) -> list[str]:
    """Deterministic per-shard line list: 40 valid docs (3 of them
    with a lying n_chars), plus missing-field and corrupt lines."""
    base = shard * 1000
    lines: list[str] = []
    for i in range(40):
        doc_id = base + i
        text = _TEXT_CYCLE[(i + shard) % len(_TEXT_CYCLE)]
        n_chars = len(text) + (3 if i % 13 == 5 else 0)   # 3 liars/shard
        lines.append(json.dumps({
            "doc_id": doc_id,
            "text": text,
            "lang": _LANGS[(i + shard) % len(_LANGS)],
            "source": _SOURCES[i % len(_SOURCES)],
            "n_chars": n_chars,
        }))
    # valid JSON objects with missing/null fields
    lines.append(json.dumps({"doc_id": base + 91}))
    lines.append('{"doc_id": %d, "text": null, "lang": null, '
                 '"source": null, "n_chars": null}' % (base + 92))
    lines.append(json.dumps({"text": "orphan without id", "lang": "en"}))
    # corrupt: json-invalid or valid-but-not-an-object (Spark marks all
    # of these as _corrupt_record; the oracle's json_valid/json_type
    # twin must agree — pinned by tests/test_ingest_audit.py)
    lines.append('{"doc_id": %d, "text": "trunc' % (base + 90))
    lines.append(f"<<<garbage shard {shard}>>>")
    lines.append("{]")
    lines.append("[1,2,3]")
    lines.append("123")
    lines.append('"a bare string is not a record"')
    # deterministic rotation so corruption isn't file-tail-only
    cut = (shard * 7) % len(lines)
    return lines[cut:] + lines[:cut]


def dirty_jsonl_fixture() -> str:
    """Write (once) the deterministic dirty corpus under
    ``FIXTURE_DIR/shard=K/part-00000.jsonl`` and return the base dir."""
    marker = os.path.join(FIXTURE_DIR, "_SUCCESS")
    if os.path.exists(marker):
        return FIXTURE_DIR
    for shard in range(N_SHARDS):
        d = os.path.join(FIXTURE_DIR, f"shard={shard}")
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, "part-00000.jsonl")
        tmp = final + f".tmp-{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(_shard_lines(shard)) + "\n")
        os.replace(tmp, final)           # atomic: readers never see torn files
    with open(marker + f".tmp-{os.getpid()}", "w") as f:
        f.write("ok")
    os.replace(marker + f".tmp-{os.getpid()}", marker)
    return FIXTURE_DIR


def audit_read_contract():
    """The ONE definition of the PERMISSIVE audit reader: (schema,
    options) — DOCUMENTS plus ``_corrupt_record``, shared by the batch
    loader below and the streaming twin
    (``streaming/corpus.py::stream_documents_jsonl_audit``) so the two
    can't silently diverge (the shard_audit_aggs argument, applied to
    the reader contract)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from cga_logs_to_kinesis_spark.schema import DOCUMENTS
    schema = StructType(
        list(DOCUMENTS.fields)
        + [StructField("_corrupt_record", StringType(), True)])
    options = {"mode": "PERMISSIVE",
               "columnNameOfCorruptRecord": "_corrupt_record"}
    return schema, options


def load_documents_jsonl_audit(spark: SparkSession, path: str) -> DataFrame:
    """PERMISSIVE JSONL read with the corrupt-record column surfaced.

    Same explicit-schema contract as ``load_documents_jsonl`` (no
    inference scan at 100 TB) plus ``_corrupt_record``, so callers can
    count quarantined lines instead of silently receiving NULL rows."""
    schema, options = audit_read_contract()
    return spark.read.schema(schema).options(**options).json(path)


def shard_audit_aggs() -> list[F.Column]:
    """The per-shard audit aggregates, shared by the batch report and
    the streaming twin (``streaming/corpus.py::ingest_audit_sink``) so
    parity holds by construction.  Every aggregate is MERGEABLE
    (counts/sums add, min/max fold), which is what lets the streaming
    sink store per-micro-batch partials and fold them into the exact
    whole-corpus report regardless of how files split into batches —
    the property that makes continuous ingest auditing a map-side
    operation at 100 TB."""
    ok = F.col("_corrupt_record").isNull()
    return [
        F.count("*").alias("n_lines"),
        F.count("_corrupt_record").alias("n_corrupt"),
        (F.count("*") - F.count("_corrupt_record")).alias("n_valid"),
        F.sum((ok & F.col("text").isNull()).cast("bigint"))
        .alias("n_null_text"),
        F.sum((ok & F.col("doc_id").isNull()).cast("bigint"))
        .alias("n_missing_id"),
        F.sum((ok & F.col("n_chars").isNotNull()
               & F.col("text").isNotNull()
               & (F.col("n_chars") != F.length("text")))
              .cast("bigint")).alias("n_chars_liars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.coalesce(F.sum(F.length("text")), F.lit(0))
        .cast("bigint").alias("total_chars"),
    ]


def q_jsonl_ingest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    base = dirty_jsonl_fixture()
    df = load_documents_jsonl_audit(spark, base)
    return (df.groupBy(F.col("shard").cast("bigint").alias("shard"))
            .agg(*shard_audit_aggs())
            .orderBy("shard"))


def _oracle() -> str:
    # Reads the SAME files raw (read_text + newline split — no CSV
    # quoting semantics to fight) and re-derives Spark's corrupt rule:
    # a line is a record iff it is valid JSON AND a JSON object.
    return f"""
        WITH files AS (
            SELECT CAST(regexp_extract(filename, 'shard=(\\d+)', 1)
                        AS BIGINT) AS shard,
                   content
            FROM read_text('{FIXTURE_DIR}/shard=*/part-*.jsonl')
        ),
        lines AS (
            SELECT shard,
                   unnest(string_split(content, chr(10))) AS line
            FROM files
        ),
        recs AS (
            SELECT shard, line,
                   json_valid(line)
                   AND (CASE WHEN json_valid(line)
                             THEN json_type(line) = 'OBJECT'
                             ELSE false END) AS ok,
                   CASE WHEN json_valid(line) AND json_type(line) = 'OBJECT'
                        THEN CAST(json_extract(line, '$.doc_id') AS BIGINT)
                   END AS doc_id,
                   CASE WHEN json_valid(line) AND json_type(line) = 'OBJECT'
                        THEN json_extract_string(line, '$.text')
                   END AS text,
                   CASE WHEN json_valid(line) AND json_type(line) = 'OBJECT'
                        THEN CAST(json_extract(line, '$.n_chars') AS BIGINT)
                   END AS n_chars
            FROM lines
            WHERE line <> ''
        )
        SELECT shard,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corrupt,
               CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_valid,
               CAST(SUM(CASE WHEN ok AND text IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_text,
               CAST(SUM(CASE WHEN ok AND doc_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missing_id,
               CAST(SUM(CASE WHEN ok AND n_chars IS NOT NULL
                              AND text IS NOT NULL
                              AND n_chars <> length(text)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_liars,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id,
               CAST(COALESCE(SUM(length(text)), 0) AS BIGINT)
                   AS total_chars
        FROM recs
        GROUP BY shard
        ORDER BY shard
    """


# Materialize the fixture at REGISTRATION time (import via
# registry.all_queries), not first query call: the driver may run the
# DuckDB oracle before or without invoking the Spark fn, and the
# oracle reads these files.  ~30 KB, write-once, deterministic bytes.
dirty_jsonl_fixture()

register(QuerySpec(
    "jsonl_ingest_report", q_jsonl_ingest_report,
    oracle=_oracle(),
    doc="per-shard JSONL ingest audit over a deliberately dirty "
        "fixture: lines / corrupt / valid / null-text / missing-id / "
        "n_chars-liars / id range / total chars (PERMISSIVE "
        "_corrupt_record vs a raw-line json_valid oracle)",
    tags=("ingest", "audit", "jsonl", "north-star"),
))


# ---------------------------------------------------------------------------
# Per-column table profile: the generic ingest gate for ANY relational
# drop (the schema-level sibling of the per-shard JSONL audit above).

# (column, kind) pairs for the profiled fixture.  kind drives which
# min/max representation is emitted: numerics and timestamps compare as
# doubles (timestamp -> epoch seconds, identical in both engines);
# strings compare in binary collation (both engines' default).
_PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("l_orderkey", "num"), ("l_partkey", "num"), ("l_suppkey", "num"),
    ("l_linenumber", "num"), ("l_quantity", "num"),
    ("l_extendedprice", "num"), ("l_discount", "num"), ("l_tax", "num"),
    ("l_returnflag", "str"), ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
)


def _profile_num(c: str, kind: str) -> F.Column:
    # ts: epoch MICROS as double — integer micros are < 2^53 so the
    # double is exact, and DuckDB's epoch_us() is its bit-identical
    # twin (repo convention, see relational2.py).
    col = F.col(c)
    return (F.unix_micros(col.cast("timestamp")).cast("double")
            if kind == "ts" else col.cast("double"))


def profile_partials(df: DataFrame) -> DataFrame:
    """Per-column MERGEABLE profile partials over any lineitem-shaped
    DataFrame: (col_name, n_null, min_num, max_num, min_str, max_str),
    one row per profiled column, min/max nullable (NaN display
    conversion happens only at :func:`finish_profile` — a NaN inside a
    partial would poison max folds).  Shared by the batch query and the
    streaming sink (``streaming/corpus.py::table_profile_sink``), so
    fold-parity holds by construction: counts add, min/max fold.

    The fold runs as TWO global aggregates crossJoined (both 1-row,
    a free 1x1 nested-loop; optimization r18): a string min/max
    buffer forces the WHOLE aggregate into SortAggregate, so mixing
    the 3 string columns with the ~50 numeric aggregations dragged
    every numeric fold out of the codegen'd HashAggregate path —
    splitting them measured 2.2 s → 1.6 s per pass at sf0.1 and both
    branches stay single-row/mergeable (empty input still yields one
    row per branch, preserving the empty-corpus n_cols-row
    contract)."""
    num_aggs: list[F.Column] = []
    str_aggs: list[F.Column] = []
    for c, kind in _PROFILE_COLS:
        col = F.col(c)
        num_aggs.append(F.coalesce(F.sum(col.isNull().cast("bigint")),
                                   F.lit(0)).alias(f"{c}__n_null"))
        if kind == "str":
            str_aggs.append(F.min(col).alias(f"{c}__min_s"))
            str_aggs.append(F.max(col).alias(f"{c}__max_s"))
        else:
            num_aggs.append(F.min(_profile_num(c, kind))
                            .alias(f"{c}__min_n"))
            num_aggs.append(F.max(_profile_num(c, kind))
                            .alias(f"{c}__max_n"))
    one = df.agg(*num_aggs).crossJoin(df.agg(*str_aggs))
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for c, kind in _PROFILE_COLS:
        structs.append(F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__n_null").alias("n_null"),
            (F.col(f"{c}__min_n") if kind != "str" else null_d)
            .alias("min_num"),
            (F.col(f"{c}__max_n") if kind != "str" else null_d)
            .alias("max_num"),
            (F.col(f"{c}__min_s") if kind == "str" else null_s)
            .alias("min_str"),
            (F.col(f"{c}__max_s") if kind == "str" else null_s)
            .alias("max_str"),
        ))
    return (one.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.*"))


def profile_value_pairs(df: DataFrame) -> DataFrame:
    """NARROW (col_name, typed value struct) pairs — the
    distinct-count feed.  ``val`` is struct<vn: double, vs: string>
    with exactly one arm populated per column kind, so counting
    distinct structs equals the typed distinct count the oracle
    computes (optimization r18, guide §2.3: the previous feed
    canonicalized every numeric to its shortest-roundtrip STRING —
    millions of double→string formats per scan whose only consumer
    was a distinct count; typed distinct also matches the oracle on
    -0.0/0.0, which engines normalize but string rendering would
    split).  Source NULLs are dropped here — count_distinct ignored
    them anyway, and the per-column group row they used to carry is
    reconstructed by :func:`finish_profile`'s left join + zero
    coalesce."""
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    pairs = df.select(F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("col_name"),
            F.struct(
                (null_d if kind == "str"
                 else _profile_num(c, kind)).alias("vn"),
                (F.col(c) if kind == "str" else null_s).alias("vs"))
            .alias("val"))
        for c, kind in _PROFILE_COLS])).alias("p")).select("p.*")
    return pairs.filter(F.col("val.vn").isNotNull()
                        | F.col("val.vs").isNotNull())


def finish_profile(partials: DataFrame,
                   distincts: DataFrame) -> DataFrame:
    """Fold partials, join distinct counts, apply the NaN display
    convention, and order — the shared back half of the batch query
    and the streaming store fold."""
    folded = (partials.groupBy("col_name")
              .agg(F.sum("n_null").cast("bigint").alias("n_null"),
                   F.min("min_num").alias("min_num"),
                   F.max("max_num").alias("max_num"),
                   F.min("min_str").alias("min_str"),
                   F.max("max_str").alias("max_str")))
    # Explicit NaN, not NULL, for the not-applicable min/max cells:
    # the driver's pandas canonicalizer renders an oracle NULL double
    # as NaN while a Spark NULL stays NULL — NaN on BOTH engines is
    # the agreed representation (same convention as the undefined
    # ratios in dedup_recall_report).  String columns fold to NULL
    # min_num/max_num, so the coalesce covers them and the
    # all-NULL-numeric-column case in one arm.
    nan_d = F.lit(float("nan"))
    # n_cols-row x n_cols-row join: broadcast, no shuffle.  LEFT join
    # from the fold, not inner: over an EMPTY input the partials side
    # still has one row per column (global agg) while the value-pairs
    # side has no groups at all — an inner join would emit 0 rows
    # where the oracle's per-column SELECTs emit n_cols rows with
    # n_distinct = 0.
    return (folded.join(F.broadcast(distincts), "col_name", "left")
            .select("col_name", "n_null",
                    F.coalesce("n_distinct", F.lit(0))
                    .cast("bigint").alias("n_distinct"),
                    F.coalesce("min_num", nan_d).alias("min_num"),
                    F.coalesce("max_num", nan_d).alias("max_num"),
                    "min_str", "max_str")
            .orderBy("col_name"))


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the lineitem fixture: null count, exact
    distinct count, and min/max, one output row per column.

    Two passes, both hash-friendly, instead of the obvious single
    multi-column ``COUNT(DISTINCT)`` aggregate: that plan Expands the
    scan x n_cols into one WIDE row set and — because string min/max
    buffers force SortAggregate — SORTS it (22 s at sf0.1 vs
    sub-second for this shape, and the sort is the part that grows
    superlinearly at 100 TB).  Pass 1 (:func:`profile_partials`)
    folds null counts + typed min/max map-side (one row out); pass 2
    counts ONE exact distinct per column as independent single-column
    aggregate branches unioned together (optimization r18, guide
    §1.2/§2.3: each branch is a column-pruned scan + two-phase
    partial distinct, so total I/O stays one full-width pass under
    columnar pruning and the branches run as parallel stages; the
    previous shape exploded every row into n_cols (col_name, value)
    pair rows first — same shuffle volume, but n_rows x n_cols rows
    of struct-building and group-hashing ahead of it, measured 2.7 s
    vs 1.5 s at sf0.1.  No Expand either way; partial-distinct still
    collapses low-cardinality columns map-side, l_returnflag: 600 k
    rows -> 3 per task).  At 100 TB swap the exact distinct for
    ``approx_count_distinct`` (mergeable HLL, ONE pass, no distinct
    shuffle) — that swapped plan is REGISTERED as
    :func:`q_table_profile_approx` (rows-only, error-bound-tested
    against this exact twin), as is ``length_outliers``'
    percentile-sketch sibling.  The narrow (col_name, typed value)
    pair form survives in :func:`profile_value_pairs` for the
    STREAMING store sink, whose per-batch distinct sets must be
    mergeable across batches — a union of per-column counters is not.
    """
    from functools import reduce

    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    branches = []
    for c, kind in _PROFILE_COLS:
        v = F.col(c) if kind == "str" else _profile_num(c, kind)
        branches.append(
            li.agg(F.count_distinct(v).alias("n_distinct"))
            .select(F.lit(c).alias("col_name"), "n_distinct"))
    distincts = reduce(lambda a, b: a.unionAll(b), branches)
    return finish_profile(profile_partials(li), distincts)


def _profile_oracle() -> str:
    rows = []
    for c, kind in _PROFILE_COLS:
        if kind == "str":
            mn, mx = f"MIN({c})", f"MAX({c})"
            row = (f"SELECT '{c}' AS col_name, "
                   f"CAST(COALESCE(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0) "
                   f"AS BIGINT) AS n_null, "
                   f"COUNT(DISTINCT {c}) AS n_distinct, "
                   f"'NaN'::DOUBLE AS min_num, "
                   f"'NaN'::DOUBLE AS max_num, "
                   f"{mn} AS min_str, {mx} AS max_str FROM lineitem")
        else:
            expr = (f"CAST(epoch_us({c}) AS DOUBLE)" if kind == "ts"
                    else f"CAST({c} AS DOUBLE)")
            row = (f"SELECT '{c}' AS col_name, "
                   f"CAST(COALESCE(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0) "
                   f"AS BIGINT) AS n_null, "
                   f"COUNT(DISTINCT {c}) AS n_distinct, "
                   f"COALESCE(MIN({expr}), 'NaN'::DOUBLE) AS min_num, "
                   f"COALESCE(MAX({expr}), 'NaN'::DOUBLE) AS max_num, "
                   f"CAST(NULL AS VARCHAR) AS min_str, "
                   f"CAST(NULL AS VARCHAR) AS max_str FROM lineitem")
        rows.append(row)
    return " UNION ALL ".join(rows) + " ORDER BY col_name"


register(QuerySpec(
    "table_profile", q_table_profile,
    oracle=_profile_oracle(),
    doc="per-column data-quality profile of lineitem (null count, "
        "exact distinct count, typed min/max) in one scan — the "
        "schema-level ingest gate run on every arriving drop",
    tags=("ingest", "audit", "agg", "north-star"),
))


# Relative standard deviation for the HLL++ sketch in the at-scale
# profile twin.  0.02 -> ~1.5 KB of buffer per column; the error-bound
# test allows 5 sigma.
PROFILE_APPROX_RSD = 0.02


def q_table_profile_approx(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The 100 TB shape of :func:`q_table_profile`, runnable code
    rather than a docstring promise: ``approx_count_distinct``
    (HLL++, mergeable, fixed-size buffer) in place of the exact
    distinct — the value-pair explode and the count-distinct SHUFFLE
    disappear entirely because each sketch folds map-side to one
    ~1.5 KB buffer per column (rsd=0.02) regardless of cardinality.

    Structure mirrors the exact twin exactly (optimization r19, guide
    §1.2/§2.3): :func:`profile_partials` (numeric HashAggregate x
    string SortAggregate) plus one single-column sketch branch per
    profiled column, finished by :func:`finish_profile`.  The
    previous one-scan form folded the 11 HLL buffers, the 3 string
    min/max buffers and the ~40 numeric aggregations in ONE mixed
    aggregate — the imperative sketch buffers force the whole fold
    out of codegen, so every numeric update ran interpreted and the
    "one pass" cost 2.5x the exact twin at sf0.1 (4.45 s vs 1.81 s
    in the r18 driver bench; 1.49 s after this split).  Per branch
    the scan is column-pruned, so total I/O stays ~one full-width
    pass under columnar storage, each sketch stays a map-side
    partial (no distinct shuffle — the sketch's whole point), and
    the branches run as parallel stages.

    Output schema matches the exact twin; ``n_distinct`` is the
    sketch estimate.  Registered rows-only (a DuckDB HLL would be a
    different sketch); the error-bound contract lives in
    tests/test_ingest_audit.py::test_table_profile_approx_error_bound,
    which pins every non-sketch column bit-equal to the exact twin
    and the sketch within 5 sigma.
    """
    from functools import reduce

    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    branches = []
    for c, _kind in _PROFILE_COLS:
        branches.append(
            li.agg(F.approx_count_distinct(c, PROFILE_APPROX_RSD)
                   .alias("n_distinct"))
            .select(F.lit(c).alias("col_name"), "n_distinct"))
    sketches = reduce(lambda a, b: a.unionAll(b), branches)
    return finish_profile(profile_partials(li), sketches)


register(QuerySpec(
    "table_profile_approx", q_table_profile_approx,
    oracle=None,      # HLL estimate is engine-specific; error-bound
                      # test pins it against the exact twin
    doc="at-scale table profile: HLL++ approx distinct folds map-side "
        "with the null counts and min/max — ONE pass, no value-pair "
        "shuffle (the documented 100 TB swap of table_profile, as "
        "runnable code); NOTE: at bench scale (sf0.1) this is barely "
        "cheaper than the exact twin — its value is the plan shape "
        "(single scan, no distinct shuffle), demonstrated by plan "
        "assertion, not the sf0.1 timing",
    tags=("ingest", "audit", "agg", "approx", "north-star"),
))


# ---------------------------------------------------------------------------
# Join/shuffle-key skew diagnosis: the pre-flight for every big shuffle
# ---------------------------------------------------------------------------
# The repo carries the MITIGATION (functions/skew.py::salted_join /
# salted_agg, AQE skew-join in session.py) but until now not the
# DIAGNOSIS: which keys are hot, and by how much, BEFORE paying for
# the shuffle.  At 100 TB a single 10x-hot key turns one reducer into
# the job's critical path; this report answers "do I need salting,
# and at what factor" with exact integers, over the shuffle keys the
# engine actually uses: the fact table's three equi-join keys, the
# orders->customer join key, and the vocabulary-join token key
# (`unigram_rarity` / `bpe_tokenize` / `prune_frequent_tokens` all
# shuffle on it; Zipf-skewed in any real corpus).  The synthetic
# fixtures are deliberately near-uniform, so factors are (2, 10): at
# the sf0.01 driver gate o_custkey has keys above 2x the mean (the
# hot branch is hash-compared TRUE, not just vacuously zero) while
# every 10x count is zero — the "no salting needed" answer, also
# hash-compared.  On production corpora the same report runs with
# factors like (10, 100).
#
# Scale shape: deliberately AGGREGATES-ONLY — no global sort, no
# top-k window, no collect.  One scan per source table (the key
# columns explode into long format map-side), one groupBy to key
# frequencies (localCheckpoint'ed: the frequency table is reused by
# the totals pass and the threshold pass — without the cut Catalyst
# would re-shuffle the sources per branch), then per-column totals
# broadcast back for the hot-key threshold counts.  Thresholds
# compare f * n_keys > T * n_rows in DECIMAL(38,0) — exact integer
# math with no int64 overflow at any plausible scale (n_rows * n_keys
# can pass 2^63 long before the shuffle itself is feasible), and
# DuckDB's HUGEINT reproduces the same booleans bit-for-bit.

SKEW_KEY_COLS = ("l_orderkey", "l_partkey", "l_suppkey")
SKEW_HOT_FACTORS = (2, 10)


def skew_kv(spark: SparkSession, sf_dir: str,
            key_cols: tuple[str, ...] | None = None) -> DataFrame:
    """The raw (key_col, k) key-value projection over the five real
    shuffle keys — row-local, pre-aggregation.  Shared by the batch
    frequency front below AND the streaming skew monitor
    (streaming/corpus.py::skew_freq_sink), which folds the SAME
    projection per micro-batch so the plans cannot drift.

    ``key_cols`` restricts the projection to the named key families —
    each family's planner math (n_rows, n_keys, factors) is
    independent of the others, so a consumer that only needs one key
    (salted_join_apply plans for l_orderkey) must not pay the
    documents tokenize or the orders scan just to discard them.  The
    restriction is applied by BUILDING only the needed branches, not
    by filtering the union (a checkpoint downstream would
    materialize the discarded branches first)."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        tokenize_docs,
    )
    from cga_logs_to_kinesis_spark.sources import load_table

    wanted = set(key_cols) if key_cols is not None else None
    parts: list[DataFrame] = []
    li_cols = [c for c in SKEW_KEY_COLS
               if wanted is None or c in wanted]
    if li_cols:
        li = load_table(spark, sf_dir, "lineitem")
        names = F.array(*[F.lit(c) for c in li_cols])
        parts.append(
            li.select(F.posexplode(
                  F.array(*[F.col(c).cast("string")
                            for c in li_cols]))
              .alias("pos", "k"))
            .select(F.element_at(names, F.col("pos") + 1)
                    .alias("key_col"), "k"))
    if wanted is None or "o_custkey" in wanted:
        parts.append(
            load_table(spark, sf_dir, "orders")
            .select(F.lit("o_custkey").alias("key_col"),
                    F.col("o_custkey").cast("string").alias("k")))
    if wanted is None or "token" in wanted:
        parts.append(
            tokenize_docs(load_table(spark, sf_dir, "documents"))
            .select(F.lit("token").alias("key_col"),
                    F.col("token").alias("k")))
    if not parts:
        raise ValueError(f"no known skew key in {key_cols!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def skew_key_frequencies(spark: SparkSession, sf_dir: str,
                         key_cols: tuple[str, ...] | None = None,
                         ) -> DataFrame:
    """The exact (key_col, k) -> frequency table over the five real
    shuffle keys — the ONE front shared by the diagnosis
    (``join_key_skew``) and the mitigation planner
    (``salted_join_plan``), localCheckpoint'ed so every consumer
    branch reuses the single scan of each source instead of
    re-shuffling it.  ``key_cols`` prunes whole source branches
    (see :func:`skew_kv`).

    Folded PER BRANCH on the NATIVE key, not over the stringified
    union: each integer key column aggregates as a bigint (narrower
    shuffle rows, cheaper hash/compare) from its own column-pruned
    scan, and the constant ``key_col`` label plus the string cast are
    applied to the ~|distinct keys| aggregated rows instead of riding
    every occurrence through the exchange.  The lineitem posexplode
    (3x row amplification ahead of the shuffle) disappears entirely.
    Counts are identical to the stringified-union fold — the cast is
    injective on non-null bigints and NULL stays NULL — so the
    streaming skew monitor (which folds :func:`skew_kv` per
    micro-batch into the same (key_col, k, f) rows) keeps bit-for-bit
    parity (pinned by test_corpus_stream's skew store tests)."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        tokenize_docs,
    )
    from cga_logs_to_kinesis_spark.sources import load_table

    wanted = set(key_cols) if key_cols is not None else None
    parts: list[DataFrame] = []
    li_cols = [c for c in SKEW_KEY_COLS
               if wanted is None or c in wanted]
    if li_cols:
        li = load_table(spark, sf_dir, "lineitem")
        for c in li_cols:
            parts.append(
                li.groupBy(F.col(c).alias("_k"))
                .agg(F.count("*").alias("f"))
                .select(F.lit(c).alias("key_col"),
                        F.col("_k").cast("string").alias("k"), "f"))
    if wanted is None or "o_custkey" in wanted:
        parts.append(
            load_table(spark, sf_dir, "orders")
            .groupBy(F.col("o_custkey").alias("_k"))
            .agg(F.count("*").alias("f"))
            .select(F.lit("o_custkey").alias("key_col"),
                    F.col("_k").cast("string").alias("k"), "f"))
    if wanted is None or "token" in wanted:
        parts.append(
            tokenize_docs(load_table(spark, sf_dir, "documents"))
            .groupBy(F.col("token").alias("k"))
            .agg(F.count("*").alias("f"))
            .select(F.lit("token").alias("key_col"), "k", "f"))
    if not parts:
        raise ValueError(f"no known skew key in {key_cols!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint()


def q_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    freq = skew_key_frequencies(spark, sf_dir)
    totals = (freq.groupBy("key_col")
              .agg(F.sum("f").alias("n_rows"),
                   F.count("*").alias("n_keys"),
                   F.max("f").alias("max_key_rows")))
    j = freq.join(F.broadcast(totals), "key_col")
    fd = F.col("f").cast("decimal(38,0)") * F.col("n_keys")
    aggs = [F.max("n_rows").alias("n_rows"),
            F.max("n_keys").alias("n_keys"),
            F.max("max_key_rows").alias("max_key_rows")]
    for t in SKEW_HOT_FACTORS:
        hot = fd > F.col("n_rows").cast("decimal(38,0)") * t
        aggs.append(F.sum(hot.cast("bigint"))
                    .alias(f"hot{t}_keys"))
        aggs.append(F.sum(F.when(hot, F.col("f")).otherwise(0))
                    .alias(f"hot{t}_rows"))
    return j.groupBy("key_col").agg(*aggs).orderBy("key_col")


def _skew_kv_sql() -> str:
    """The oracle twin of :func:`skew_key_frequencies`' key-value
    front — shared by the diagnosis and planner oracles."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        NORMALIZED_SQL,
    )
    kv = " UNION ALL ".join(
        f"SELECT '{c}' AS key_col, CAST({c} AS VARCHAR) AS k "
        f"FROM lineitem" for c in SKEW_KEY_COLS)
    kv += (" UNION ALL SELECT 'o_custkey' AS key_col,"
           " CAST(o_custkey AS VARCHAR) AS k FROM orders")
    kv += (f" UNION ALL SELECT 'token' AS key_col, t.tok AS k"
           f" FROM documents,"
           f" UNNEST(regexp_split_to_array({NORMALIZED_SQL}, ' '))"
           f" AS t(tok) WHERE t.tok != ''")
    return kv


def _skew_oracle() -> str:
    kv = _skew_kv_sql()
    hot_cols = []
    for t in SKEW_HOT_FACTORS:
        cond = (f"CAST(f.f AS HUGEINT) * t.n_keys "
                f"> CAST(t.n_rows AS HUGEINT) * {t}")
        hot_cols.append(
            f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS hot{t}_keys")
        hot_cols.append(
            f"CAST(SUM(CASE WHEN {cond} THEN f.f ELSE 0 END) AS "
            f"BIGINT) AS hot{t}_rows")
    return f"""
        WITH kv AS ({kv}),
        freq AS (
            SELECT key_col, k, COUNT(*) AS f FROM kv GROUP BY 1, 2
        ),
        totals AS (
            SELECT key_col, SUM(f) AS n_rows, COUNT(*) AS n_keys,
                   MAX(f) AS max_key_rows
            FROM freq GROUP BY 1
        )
        SELECT f.key_col,
               CAST(MAX(t.n_rows) AS BIGINT) AS n_rows,
               CAST(MAX(t.n_keys) AS BIGINT) AS n_keys,
               CAST(MAX(t.max_key_rows) AS BIGINT) AS max_key_rows,
               {", ".join(hot_cols)}
        FROM freq f JOIN totals t USING (key_col)
        GROUP BY f.key_col
        ORDER BY key_col
    """


register(QuerySpec(
    "join_key_skew", q_join_key_skew,
    oracle=_skew_oracle(),
    doc="shuffle-key skew diagnosis: exact key cardinality, "
        "hottest-key rows, and keys/rows above 2x / 10x the mean "
        "frequency for five real shuffle keys (lineitem's three join "
        "keys, o_custkey, the vocabulary token key) — aggregates "
        "only, no global sort/top-k; the pre-flight for salted_join "
        "/ AQE-skew decisions",
    tags=("audit", "agg", "join", "north-star"),
))


# ---------------------------------------------------------------------------
# Salted-join planner: the skew report's frequencies -> salt factors
# ---------------------------------------------------------------------------
# join_key_skew DIAGNOSES and functions/skew.py::salted_join_hot
# MITIGATES; this query is the connector: from the same exact key
# frequencies, emit a per-key salt factor for every hot key —
# ceil(f * n_keys / (T * n_rows)), i.e. how many reducers the key's
# rows need so no salt slice exceeds T x the mean key frequency.
# Cold keys get no row (factor 1 by omission).  The plan is a
# BROADCAST artifact by construction: capped to the SALT_PLAN_TOP_N
# hottest keys per key_col (deterministic row_number cutoff; the long
# tail is at most T x mean and rides AQE's runtime skew split), so at
# 100 TB the planner output stays a few KB no matter how Zipfy the
# key is.  The ceil is exact integer math — Spark DECIMAL(38,0) DIV
# vs DuckDB HUGEINT // produce bit-identical factors.

SALT_PLAN_TOP_N = 100


def salt_plan_from_frequencies(freq: DataFrame) -> DataFrame:
    """The planner TAIL over an exact (key_col, k, f) frequency table
    — shared verbatim by the batch query and the streaming skew
    monitor's consumer (streaming/corpus.py::
    salted_join_plan_from_store), so a continuously-maintained
    frequency store yields bit-identical salt factors."""
    from pyspark.sql import Window

    t = SKEW_HOT_FACTORS[0]
    totals = (freq.groupBy("key_col")
              .agg(F.sum("f").alias("n_rows"),
                   F.count("*").alias("n_keys")))
    j = freq.join(F.broadcast(totals), "key_col")
    fd = F.col("f").cast("decimal(38,0)") * F.col("n_keys")
    hot = fd > F.col("n_rows").cast("decimal(38,0)") * t
    scored = (j.filter(hot)
              .withColumn(
                  "salt_factor",
                  F.expr(f"CAST((CAST(f AS DECIMAL(38,0)) * n_keys"
                         f" + {t} * n_rows - 1) DIV"
                         f" (CAST({t} AS DECIMAL(38,0)) * n_rows)"
                         f" AS BIGINT)"))
              .withColumn(
                  "rn",
                  F.row_number().over(
                      Window.partitionBy("key_col")
                      .orderBy(F.col("f").desc(), "k"))))
    return (scored.filter(F.col("rn") <= SALT_PLAN_TOP_N)
            .select("key_col", "k", "f", "salt_factor")
            .orderBy("key_col", F.col("f").desc(), "k"))


def q_salted_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return salt_plan_from_frequencies(
        skew_key_frequencies(spark, sf_dir))


def _salt_plan_oracle() -> str:
    t = SKEW_HOT_FACTORS[0]
    return f"""
        WITH kv AS ({_skew_kv_sql()}),
        freq AS (
            SELECT key_col, k, COUNT(*) AS f FROM kv GROUP BY 1, 2
        ),
        totals AS (
            SELECT key_col, SUM(f) AS n_rows, COUNT(*) AS n_keys
            FROM freq GROUP BY 1
        ),
        scored AS (
            SELECT f.key_col, f.k, f.f,
                   CAST((CAST(f.f AS HUGEINT) * t.n_keys
                         + {t} * t.n_rows - 1)
                        // (CAST({t} AS HUGEINT) * t.n_rows)
                        AS BIGINT) AS salt_factor,
                   ROW_NUMBER() OVER (PARTITION BY f.key_col
                                      ORDER BY f.f DESC, f.k) AS rn
            FROM freq f JOIN totals t USING (key_col)
            WHERE CAST(f.f AS HUGEINT) * t.n_keys
                  > CAST(t.n_rows AS HUGEINT) * {t}
        )
        SELECT key_col, k, CAST(f AS BIGINT) AS f, salt_factor
        FROM scored
        WHERE rn <= {SALT_PLAN_TOP_N}
        ORDER BY key_col, f DESC, k
    """


register(QuerySpec(
    "salted_join_plan", q_salted_join_plan,
    oracle=_salt_plan_oracle(),
    doc=f"skew-mitigation planner: per-key salt factors "
        f"ceil(f*n_keys/({SKEW_HOT_FACTORS[0]}*n_rows)) for every "
        f"hot shuffle key from the join_key_skew frequencies (one "
        f"shared front), capped to the {SALT_PLAN_TOP_N} hottest "
        f"keys per key_col so the plan stays a broadcastable "
        f"artifact; consumed by salted_join_hot, which replicates "
        f"ONLY these keys",
    tags=("audit", "join", "window", "north-star"),
))


# ---------------------------------------------------------------------------
# Salted-join APPLY: the mitigation itself, driver-verified
# ---------------------------------------------------------------------------
# join_key_skew diagnoses, salted_join_plan plans, and this query
# closes the loop by RUNNING functions/skew.py::salted_join_hot on
# the fixture's hottest diagnosed key family (l_orderkey, factors
# straight from the planner) and returning the aggregate a plain
# lineitem x orders join would produce.  The oracle is the UNSALTED
# join — so the driver's hash compare proves the mitigation is
# invisible to results: any duplicated or lost row from the
# salt/replicate machinery changes n_items/sum_qty and fails the
# hash.  (tests/test_skew.py pins the mechanics — per-slice spread,
# broadcast plan attach; this makes the end-to-end loop
# driver-visible too.)
#
# Scale shape: the planner front is the cost (paid once, shared
# discipline); the apply side is one equi-join whose hot keys arrive
# pre-spread across salt_factor slices, plus a broadcast of the
# <=100-row plan to both sides.  At 100 TB this is exactly the
# query shape AQE skew-split cannot fix when the skew is KNOWN ahead
# of the shuffle (e.g. a downstream groupBy on the same key).

def q_salted_join_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.functions.exact import dsum
    from cga_logs_to_kinesis_spark.functions.skew import (
        salted_join_hot,
    )
    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    # Plan for the ONE key family this query joins on: per-key_col
    # planner math is independent, so the pruned front (lineitem
    # only, one exploded column) yields bit-identical l_orderkey
    # factors without paying the documents tokenize or the orders
    # scan the full planner needs (plan-pinned: no documents scan).
    hot = (salt_plan_from_frequencies(
               skew_key_frequencies(spark, sf_dir,
                                    key_cols=("l_orderkey",)))
           .select(F.col("k").cast("long").alias("l_orderkey"),
                   "salt_factor"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    return (salted_join_hot(li, orders, "l_orderkey", hot)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_items"),
                 dsum("l_quantity", "sum_qty"))
            .orderBy("o_orderpriority"))


register(QuerySpec(
    "salted_join_apply", q_salted_join_apply,
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6)))
                    AS DOUBLE) AS sum_qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    doc="the applied salted join: lineitem x orders on the diagnosed "
        "hot l_orderkeys via salted_join_hot with the planner's salt "
        "factors, aggregated per order priority — the oracle is the "
        "plain unsalted join, so the hash compare proves the "
        "mitigation changes nothing but the shuffle layout",
    tags=("audit", "join", "skew", "north-star"),
))


# ---------------------------------------------------------------------------
# Encoding-anomaly audit: the per-source mojibake/controls report
# ---------------------------------------------------------------------------
# Real crawls arrive with decode damage the parquet schema cannot
# show: U+FFFD replacement characters (a decoder already gave up),
# C0/C1 control characters (binary spill, ANSI escapes, NEL-smuggled
# newlines), UTF-8-read-as-Latin-1/CP1252 mojibake digraphs
# ("Ã©", "â€™"), and zero-width/bidi characters that survive every
# whitespace filter while corrupting tokenization.  This is the
# ingest-audit sibling of char_diversity: row-local regexp counts
# folded per source in ONE scan-bound aggregation — no joins, no
# Python, map-side partials — so at 100 TB it costs exactly one read
# of the text column.  A single bad producer (one source re-encoding
# its crawl) shows up as an anomaly-count spike on its row.
#
# The patterns are shared verbatim between the Spark query and the
# DuckDB oracle: character-class syntax with \x{..} escapes is the
# Java-regex/RE2 common subset (no \s, per the repo's cross-engine
# regex rule), and counts are COALESCEd to 0 per document on BOTH
# engines so NULL text cannot leak a NULL into a BIGINT column (the
# driver canonicalizer renders oracle NULL ints as NaN).

#: CP1252 0x80-0x9F as decoded codepoints — the trail set real-world
#: mojibake produces when UTF-8 bytes are re-decoded as CP1252
#: (Latin-1's C1 range prints as these on Windows-toolchain crawls).
_CP1252_TRAIL = (
    r"\x{20AC}\x{201A}\x{0192}\x{201E}\x{2026}\x{2020}\x{2021}"
    r"\x{02C6}\x{2030}\x{0160}\x{2039}\x{0152}\x{017D}\x{2018}"
    r"\x{2019}\x{201C}\x{201D}\x{2022}\x{2013}\x{2014}\x{02DC}"
    r"\x{2122}\x{0161}\x{203A}\x{0153}\x{017E}\x{0178}")

ENC_PATTERNS = {
    # decoder-inserted replacement characters
    "replacement_chars": r"[\x{FFFD}]",
    # C0 minus tab/LF/CR, DEL, C1 (NEL, SSA, ... — binary spill)
    "control_chars": (r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}"
                      r"\x{7F}\x{80}-\x{9F}]"),
    # UTF-8 2-byte lead re-decoded as Latin-1/CP1252 (Â/Ã + trail)
    # or 3-byte punctuation lead (â + two trail chars)
    "mojibake_seqs": (r"(?:[\x{C2}\x{C3}][\x{80}-\x{BF}"
                      + _CP1252_TRAIL + r"]|\x{E2}[\x{80}-\x{BF}"
                      + _CP1252_TRAIL + r"]{2})"),
    # zero-width, bidi-control, word-joiner, BOM-in-body
    "invisible_chars": (r"[\x{200B}-\x{200F}\x{202A}-\x{202E}"
                        r"\x{2060}\x{FEFF}]"),
    # context column: nonzero wherever non-English text exists at all
    "non_ascii_chars": r"[^\x{00}-\x{7F}]",
}
_ANOMALY_COLS = ("replacement_chars", "control_chars",
                 "mojibake_seqs", "invisible_chars")


def encoding_per_doc(docs: DataFrame) -> DataFrame:
    """Row-local per-document anomaly counts — the ONE projection
    shared by the batch report and the streaming sink
    (streaming/corpus.py::encoding_anomaly_sink), so the anomaly
    definitions cannot drift.  COALESCE keeps NULL text from leaking
    NULL into the BIGINT sums on either engine."""
    per_doc = docs.select(
        "source",
        F.coalesce(F.length("text"), F.lit(0)).cast("long")
        .alias("n_chars_seen"),
        *[F.coalesce(F.regexp_count("text", F.lit(pat)), F.lit(0))
          .cast("long").alias(name)
          for name, pat in ENC_PATTERNS.items()])
    dirty = sum((F.col(c) for c in _ANOMALY_COLS[1:]),
                F.col(_ANOMALY_COLS[0]))
    return per_doc.withColumn("is_dirty", (dirty > 0).cast("long"))


def encoding_anomaly_aggs() -> list[F.Column]:
    """Per-source MERGEABLE aggregates over :func:`encoding_per_doc`
    rows — counts and sums only, so the streaming sink's per-batch
    partials re-fold into the exact whole-corpus report regardless of
    how files split into micro-batches."""
    return [F.count("*").alias("n_docs"),
            F.sum("n_chars_seen").alias("n_chars"),
            *[F.sum(c).alias(c) for c in ENC_PATTERNS],
            F.sum("is_dirty").alias("dirty_docs")]


def q_encoding_anomaly_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (encoding_per_doc(docs).groupBy("source")
            .agg(*encoding_anomaly_aggs())
            .orderBy("source"))


def _encoding_oracle() -> str:
    cnt_cols = ",\n               ".join(
        f"COALESCE(len(regexp_extract_all(text, '{pat}')), 0) "
        f"AS {name}" for name, pat in ENC_PATTERNS.items())
    dirty = " + ".join(_ANOMALY_COLS)
    sums = ",\n               ".join(
        f"CAST(SUM({name}) AS BIGINT) AS {name}"
        for name in ENC_PATTERNS)
    return f"""
        WITH per_doc AS (
            SELECT source,
               COALESCE(LENGTH(text), 0) AS n_chars_seen,
               {cnt_cols}
            FROM documents
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars_seen) AS BIGINT) AS n_chars,
               {sums},
               CAST(SUM(CASE WHEN {dirty} > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS dirty_docs
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """


register(QuerySpec(
    "encoding_anomaly_report", q_encoding_anomaly_report,
    oracle=_encoding_oracle(),
    doc="per-source encoding-damage audit: U+FFFD replacement chars, "
        "C0/C1 control chars, UTF-8-as-Latin-1/CP1252 mojibake "
        "digraphs, zero-width/bidi invisibles, non-ASCII volume, and "
        "dirty-doc counts — row-local regexp counts folded map-side "
        "in one scan, the ingest gate that catches a producer "
        "re-encoding its crawl",
    tags=("audit", "ingest", "text", "quality", "north-star"),
))


# ---------------------------------------------------------------------------
# Script-mixing audit: the confusable-script / homoglyph-spam gate
# ---------------------------------------------------------------------------
# The encoding audit catches DECODE damage; this catches a different
# producer pathology the parquet schema also cannot show: documents
# mixing Unicode scripts in ways natural text rarely does.  The
# canonical signal is Latin+Cyrillic co-occurrence — homoglyph spam
# substitutes visually-identical Cyrillic letters (а е о с р х) into
# Latin words to evade exact-match filters, so a "mixed confusable"
# count spiking for one source is an ingest red flag (and those docs
# poison dedup, which no longer sees the copies as equal).  Same
# posture as encoding_anomaly_report: row-local regexp counts in the
# Java-regex/RE2 common subset (\x{..} classes, no \s), COALESCEd to
# 0 so NULL text cannot leak into BIGINT sums, folded map-side per
# source in ONE scan.  At 100 TB it costs one read of (text, source).

SCRIPT_CLASSES = {
    "latin_chars": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cyrillic_chars": r"[\x{0400}-\x{04FF}]",
    "greek_chars": r"[\x{0370}-\x{03FF}]",
    "cjk_chars": r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}"
                 r"\x{AC00}-\x{D7AF}]",
    "arabic_hebrew_chars": r"[\x{0590}-\x{05FF}\x{0600}-\x{06FF}]",
}


def script_counts_per_doc(docs: DataFrame) -> DataFrame:
    """Row-local per-document script-class character counts — shared
    by the batch report (and any future streaming twin) so the class
    definitions cannot drift."""
    per_doc = docs.select(
        "source",
        *[F.coalesce(F.regexp_count("text", F.lit(pat)), F.lit(0))
          .cast("long").alias(name)
          for name, pat in SCRIPT_CLASSES.items()])
    n_scripts = sum(
        (F.when(F.col(c) > 0, 1).otherwise(0) for c in SCRIPT_CLASSES),
        F.lit(0))
    return (per_doc
            .withColumn("n_scripts", n_scripts.cast("long"))
            .withColumn(
                "is_confusable_mix",
                ((F.col("latin_chars") > 0)
                 & (F.col("cyrillic_chars") > 0)).cast("long")))


def script_mixing_aggs() -> list[F.Column]:
    """Per-source MERGEABLE aggregates over
    :func:`script_counts_per_doc` rows — counts and sums only, so the
    streaming twin's per-batch partials re-fold into the exact
    whole-corpus report (the encoding_anomaly_aggs property)."""
    return [F.count("*").alias("n_docs"),
            *[F.sum(c).alias(c) for c in SCRIPT_CLASSES],
            F.sum((F.col("n_scripts") >= 2).cast("long"))
            .alias("multi_script_docs"),
            F.sum("is_confusable_mix").alias("confusable_docs")]


def q_script_mixing_report(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (script_counts_per_doc(docs)
            .groupBy("source")
            .agg(*script_mixing_aggs())
            .orderBy("source"))


def _script_mixing_oracle() -> str:
    cnt_cols = ",\n               ".join(
        f"COALESCE(len(regexp_extract_all(text, '{pat}')), 0) "
        f"AS {name}" for name, pat in SCRIPT_CLASSES.items())
    present = " + ".join(
        f"(CASE WHEN {c} > 0 THEN 1 ELSE 0 END)" for c in SCRIPT_CLASSES)
    sums = ",\n               ".join(
        f"CAST(SUM({c}) AS BIGINT) AS {c}" for c in SCRIPT_CLASSES)
    return f"""
        WITH per_doc AS (
            SELECT source,
               {cnt_cols}
            FROM documents
        )
        SELECT source,
               COUNT(*) AS n_docs,
               {sums},
               CAST(SUM(CASE WHEN {present} >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS multi_script_docs,
               CAST(SUM(CASE WHEN latin_chars > 0
                              AND cyrillic_chars > 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS confusable_docs
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """


register(QuerySpec(
    "script_mixing_report", q_script_mixing_report,
    oracle=_script_mixing_oracle(),
    doc="per-source Unicode script-mixing audit: character counts per "
        "script class (Latin, Cyrillic, Greek, CJK, Arabic/Hebrew), "
        "multi-script docs, and Latin+Cyrillic confusable-mix docs — "
        "the homoglyph-spam ingest gate; row-local regexp counts "
        "folded map-side in one scan",
    tags=("audit", "ingest", "text", "quality", "north-star"),
))


# ---------------------------------------------------------------------------
# Corpus drift: distribution shift across ingest order
# ---------------------------------------------------------------------------
# novelty_curve answers "is the next tranche REDUNDANT"; this answers
# "is the next tranche DIFFERENT" — per ingest decile (doc_id order,
# the same row-local integer-DIV bucketing), the basic distribution
# stats a crawl monitor alarms on: document count, blank share, char
# volume, exact mean length, and source/language spread.  A producer
# change (new crawler, new source mix, truncation bug) shows up as a
# between-decile break.  Row-local projection + one groupBy over 10
# keys; the only driver action is the max-doc-id broadcast scalar.

def drift_per_doc(docs: DataFrame, n: int) -> DataFrame:
    """Row-local per-doc drift projection with the decile divisor
    pinned to max doc_id ``n`` — shared by the batch query and
    ``streaming/corpus.py::corpus_drift_sink`` so the bucket and
    blank/char definitions cannot drift between the two."""
    decile = F.least(
        F.lit(9),
        F.expr(f"doc_id * 10 DIV {int(n) + 1}").cast("int")
    ).alias("decile")
    chars = F.coalesce(F.length("text"), F.lit(0)).cast("long")
    blank = (F.coalesce(F.length(F.trim("text")), F.lit(0)) == 0) \
        .cast("long")
    return docs.select(decile, chars.alias("chars"),
                       blank.alias("is_blank"), "source", "lang")


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.functions.exact import davg
    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).first()[0] or 0
    return (drift_per_doc(docs, n)
            .groupBy("decile")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("is_blank").alias("blank_docs"),
                 F.sum("chars").alias("total_chars"),
                 davg(F.col("chars").cast("double"), "avg_chars"),
                 F.countDistinct("source").alias("n_sources"),
                 F.countDistinct("lang").alias("n_langs"))
            .orderBy("decile"))


register(QuerySpec(
    "corpus_drift", q_corpus_drift,
    oracle="""
        WITH n AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        per_doc AS (
            SELECT LEAST(9, CAST(doc_id * 10 // n.n AS INTEGER))
                       AS decile,
                   COALESCE(LENGTH(text), 0) AS chars,
                   CASE WHEN COALESCE(LENGTH(TRIM(text)), 0) = 0
                        THEN 1 ELSE 0 END AS is_blank,
                   source, lang
            FROM documents, n
        )
        SELECT decile,
               COUNT(*) AS n_docs,
               CAST(SUM(is_blank) AS BIGINT) AS blank_docs,
               CAST(SUM(chars) AS BIGINT) AS total_chars,
               CAST(SUM(CAST(chars AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(chars) AS avg_chars,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM per_doc
        GROUP BY decile
        ORDER BY decile
    """,
    doc="ingest-order distribution-shift monitor: per doc_id decile, "
        "doc counts, blank share, char volume, exact mean length, and "
        "source/language spread — the crawl-monitor alarm surface for "
        "producer changes; row-local decile bucketing, one 10-key "
        "groupBy",
    tags=("audit", "ingest", "quality", "agg"),
))


# ---------------------------------------------------------------------------
# Homoglyph scrub: the APPLY half of the confusable-script gate
# ---------------------------------------------------------------------------
# script_mixing_report counts Latin+Cyrillic confusable mixing; this
# operator repairs it: the standard Cyrillic->Latin homoglyph map
# (the visually-identical letters spam substitutes to evade exact
# filters) applied as a row-local 1:1 translate — no regex backtrack,
# no UDF, one scan.  The fixture text is clean, so the query proves
# the rewrite on a deterministically-poisoned variant (the
# text_normalize convention): poison swaps a Latin subset for its
# Cyrillic lookalikes, scrub must restore the original byte-for-byte.

HOMOGLYPH_CYR = "аеорсухіѕјАВЕКМНОРСТХІЅЈ"
HOMOGLYPH_LAT = "aeopcyxisjABEKMHOPCTXISJ"
_POISON_LAT = "aeopcxy"
_POISON_CYR = "аеорсху"


def confusable_scrub_columns(text) -> tuple:
    """(n_confusables, scrubbed) over the given text column — the
    row-local confusable repair."""
    scrubbed = F.translate(text, HOMOGLYPH_CYR, HOMOGLYPH_LAT)
    n = F.coalesce(F.regexp_count(text,
                                  F.lit(f"[{HOMOGLYPH_CYR}]")),
                   F.lit(0)).cast("long")
    return n, scrubbed


def q_homoglyph_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    poisoned = F.translate("text", _POISON_LAT, _POISON_CYR)
    n_conf, scrubbed = confusable_scrub_columns(poisoned)
    return docs.select(
        "doc_id",
        n_conf.alias("n_confusables"),
        scrubbed.alias("scrubbed_text"),
        # restoration proof: scrubbing the poisoned text yields the
        # original exactly (NULL-safe equality so NULL text rows keep
        # a non-NULL boolean)
        F.col("text").eqNullSafe(scrubbed).alias("restored"))


register(QuerySpec(
    "homoglyph_scrub", q_homoglyph_scrub,
    oracle=f"""
        WITH poisoned AS (
            SELECT doc_id, text,
                   translate(text, '{_POISON_LAT}', '{_POISON_CYR}')
                       AS ptext
            FROM documents
        )
        SELECT doc_id,
               CAST(COALESCE(len(regexp_extract_all(ptext,
                    '[{HOMOGLYPH_CYR}]')), 0) AS BIGINT)
                   AS n_confusables,
               translate(ptext, '{HOMOGLYPH_CYR}', '{HOMOGLYPH_LAT}')
                   AS scrubbed_text,
               COALESCE(text = translate(ptext, '{HOMOGLYPH_CYR}',
                                         '{HOMOGLYPH_LAT}'),
                        text IS NULL AND ptext IS NULL) AS restored
        FROM poisoned
    """,
    doc="confusable-homoglyph repair: the standard Cyrillic->Latin "
        "lookalike map as a row-local 1:1 translate (no UDF, one "
        "scan), proven on a deterministically-poisoned variant that "
        "must restore the original byte-for-byte — the apply half of "
        "script_mixing_report's confusable gate",
    tags=("audit", "ingest", "text", "quality", "apply"),
))


# ---------------------------------------------------------------------------
# Source divergence: per-source total-variation distance, integer-exact
# ---------------------------------------------------------------------------
# The corpus-comparison audit: a source whose token distribution sits
# far from the corpus-wide distribution is format drift or spam (the
# per-source twin of corpus_drift's per-tranche monitor).  The usual
# divergences (KL, JSD) need libm logs whose last-ULP rounding differs
# between engines — this repo's convention (lm_quality.py) is log-free
# surrogates, and total variation is the natural one here:
#
#   TV(s) = 1/2 * sum_t |p_s(t) - p_all(t)|
#
# restricted to tokens PRESENT in the source via
#   sum_{t not in s} p_all(t) = 1 - sum_{t in s} p_all(t),
# so no per-source x vocabulary expansion ever materializes.  Every
# per-token term is |cnt_s * N_all - cnt_all * n_s| — exact integer
# arithmetic in DECIMAL(38,0) (Spark) == HUGEINT (DuckDB), summed
# exactly, with ONE double conversion at the very end written as the
# identical IEEE expression tree in both engines -> bit-equal hashes
# at any parallelism.
#
# 100 TB topology: one tokenize explode (width-gated), two partial-agg
# groupBys (corpus counts, per-source counts — a hot token collapses
# map-side in both), one token-keyed equi-join between them (AQE
# handles skew), and broadcast-sized joins for the per-source and
# corpus totals.  No windows, no driver-side state.

def source_tokens(docs: DataFrame) -> DataFrame:
    """(source, tok) — the width-gated tokenize front shared by the
    batch query and ``streaming/corpus.py::token_count_sink`` so the
    token definition cannot drift."""
    from cga_logs_to_kinesis_spark.session import widen_for_explode

    return (widen_for_explode(
        docs.filter(F.col("text").isNotNull()
                    & F.col("source").isNotNull())
        .select("source", "text"))
        .select("source",
                F.explode(F.split(F.lower(F.trim("text")), WS_PLUS))
                .alias("tok"))
        .filter(F.length("tok") > 0))


def tv_from_token_counts(corpus: DataFrame,
                         per_src: DataFrame) -> DataFrame:
    """The divergence tail over exact token counts — shared by the
    batch query (counts from one scan) and the store-backed streaming
    path (counts folded from per-batch partials), so the TV algebra
    is bit-identical by construction.  ``corpus``: (tok, cnt_all);
    ``per_src``: (source, tok, cnt_s)."""
    n_all = corpus.agg(F.sum("cnt_all").alias("n_all"))
    n_src = per_src.groupBy("source").agg(F.sum("cnt_s").alias("n_s"))
    dec = "decimal(38,0)"
    diff = F.abs(F.col("cnt_s").cast(dec) * F.col("n_all")
                 - F.col("cnt_all").cast(dec) * F.col("n_s"))
    joined = (per_src.join(corpus, "tok")
              .join(F.broadcast(n_src), "source")
              .crossJoin(F.broadcast(n_all)))
    aggd = (joined.groupBy("source", "n_s", "n_all")
            .agg(F.sum(diff).alias("s1"),
                 F.sum("cnt_all").alias("s2"),
                 F.count("*").alias("n_distinct_tokens")))
    tv = ((F.col("s1").cast("double")
           / (F.col("n_s").cast("double") * F.col("n_all").cast("double"))
           + F.lit(1.0)
           - F.col("s2").cast("double") / F.col("n_all").cast("double"))
          / F.lit(2.0))
    return (aggd.select("source",
                        F.col("n_s").alias("n_tokens"),
                        "n_distinct_tokens",
                        tv.alias("tv_distance"))
            .orderBy("source"))


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    # ONE occurrence-sized fold: the corpus-wide counts are the
    # per-source counts re-summed (cnt_all = SUM_s cnt_s — the same
    # integers), so the token stream is folded once and the corpus
    # fold runs over the (source, tok) count table instead of a second
    # full pass over occurrences.  This also retires the token-stream
    # localCheckpoint (occurrence-sized disk materialization at 100 TB)
    # in favor of checkpointing the far smaller count table, which
    # feeds the corpus re-fold, the per-source totals, and the join.
    per_src = (source_tokens(docs)
               .groupBy("source", "tok")
               .agg(F.count("*").alias("cnt_s"))
               .localCheckpoint())
    corpus = per_src.groupBy("tok").agg(F.sum("cnt_s").alias("cnt_all"))
    return tv_from_token_counts(corpus, per_src)


register(QuerySpec(
    "source_divergence", q_source_divergence,
    oracle=f"""
        WITH toks AS (
            SELECT source, t.tok
            FROM documents,
                 UNNEST(regexp_split_to_array(lower(trim(text)),
                                              '{WS_PLUS}')) AS t(tok)
            WHERE text IS NOT NULL AND source IS NOT NULL
              AND len(t.tok) > 0
        ),
        corpus AS (
            SELECT tok, COUNT(*) AS cnt_all FROM toks GROUP BY tok
        ),
        per_src AS (
            SELECT source, tok, COUNT(*) AS cnt_s
            FROM toks GROUP BY source, tok
        ),
        n_all AS (SELECT SUM(cnt_all) AS n_all FROM corpus),
        n_src AS (
            SELECT source, SUM(cnt_s) AS n_s FROM per_src GROUP BY source
        ),
        aggd AS (
            SELECT p.source, s.n_s, a.n_all,
                   SUM(ABS(CAST(p.cnt_s AS HUGEINT) * a.n_all
                           - CAST(c.cnt_all AS HUGEINT) * s.n_s))
                       AS s1,
                   CAST(SUM(c.cnt_all) AS BIGINT) AS s2,
                   COUNT(*) AS n_distinct_tokens
            FROM per_src p
            JOIN corpus c USING (tok)
            JOIN n_src s USING (source)
            CROSS JOIN n_all a
            GROUP BY p.source, s.n_s, a.n_all
        )
        SELECT source,
               CAST(n_s AS BIGINT) AS n_tokens,
               n_distinct_tokens,
               (CAST(s1 AS DOUBLE)
                / (CAST(n_s AS DOUBLE) * CAST(n_all AS DOUBLE))
                + 1.0
                - CAST(s2 AS DOUBLE) / CAST(n_all AS DOUBLE)) / 2.0
                   AS tv_distance
        FROM aggd
        ORDER BY source
    """,
    doc="per-source total-variation distance from the corpus token "
        "distribution — format-drift/spam outlier detection; "
        "integer-exact per-token terms (DECIMAL(38,0) == HUGEINT), "
        "one final IEEE double expression, log-free by repo "
        "convention",
    tags=("audit", "quality", "text", "agg"),
))


# ---------------------------------------------------------------------------
# Markup scrub: HTML tag stripping + entity decoding (WARC -> text)
# ---------------------------------------------------------------------------
# Every web-scale corpus pipeline sits downstream of an HTML-to-text
# step (CCNet/RefinedWeb extract from WET/WARC; FineWeb re-extracts
# with trafilatura).  This operator is the Spark-native core of that
# step: strip tags, decode the named entities, report the markup mass
# — row-local (one regexp + a literal replace chain, no UDF, no
# exchange), scan-bound at 100 TB.  The fixture text is clean, so the
# query proves the rewrite on a deterministically-poisoned variant
# (the text_normalize / homoglyph_scrub convention): poison wraps the
# text in tags and entity-encodes its spaces; the scrub must restore
# the original byte-for-byte.
#
# Cross-engine exactness: the tag pattern `<[^>]*>` means the same
# thing in Java regex and RE2 (no \s, no lookaround); entity decoding
# is a fixed literal replace() chain evaluated in the same order on
# both engines — &amp; decoded LAST, the standard order that keeps
# double-encoded text ("&amp;lt;") from double-decoding.

_MARKUP_TAG = "<[^>]*>"
# (entity, replacement) in decode order; &amp; must stay last.
_MARKUP_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)
_ENTITY_ALT = "&(lt|gt|quot|apos|nbsp|amp);"


def markup_scrub_columns(text) -> tuple:
    """(n_tags, n_entities, clean) over the given text column — the
    row-local markup repair, shaped for reuse by a streaming twin
    (the confusable_scrub_columns convention)."""
    clean = F.regexp_replace(text, _MARKUP_TAG, "")
    for ent, rep in _MARKUP_ENTITIES:
        clean = F.replace(clean, F.lit(ent), F.lit(rep))
    n_tags = F.coalesce(F.regexp_count(text, F.lit(_MARKUP_TAG)),
                        F.lit(0)).cast("long")
    n_entities = F.coalesce(F.regexp_count(text, F.lit(_ENTITY_ALT)),
                            F.lit(0)).cast("long")
    return n_tags, n_entities, clean


def q_markup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.sources import load_table

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    poisoned = F.concat(
        F.lit('<html><body class="c"><p id="'),
        F.col("doc_id").cast("string"), F.lit('">'),
        F.replace(F.col("text"), F.lit(" "), F.lit("&nbsp;")),
        F.lit("<br/></p></body></html>"))
    n_tags, n_entities, clean = markup_scrub_columns(poisoned)
    return docs.select(
        "doc_id",
        n_tags.alias("n_tags"),
        n_entities.alias("n_entities"),
        clean.alias("clean_text"),
        # markup mass: the share of poisoned bytes the scrub removed
        F.try_divide(
            (F.length(poisoned) - F.length(clean)).cast("double"),
            F.length(poisoned).cast("double")).alias("markup_ratio"),
        F.col("text").eqNullSafe(clean).alias("restored"))


_MARKUP_POISON_SQL = (
    "'<html><body class=\"c\"><p id=\"' || CAST(doc_id AS VARCHAR) "
    "|| '\">' || replace(text, ' ', '&nbsp;') "
    "|| '<br/></p></body></html>'")


def _markup_clean_sql(src: str) -> str:
    out = f"regexp_replace({src}, '{_MARKUP_TAG}', '', 'g')"
    for ent, rep in _MARKUP_ENTITIES:
        r = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{r}')"
    return out


register(QuerySpec(
    "markup_scrub", q_markup_scrub,
    oracle=f"""
        WITH poisoned AS (
            SELECT doc_id, text, {_MARKUP_POISON_SQL} AS ptext
            FROM documents
        ), cleaned AS (
            SELECT doc_id, text, ptext,
                   {_markup_clean_sql('ptext')} AS clean_text
            FROM poisoned
        )
        SELECT doc_id,
               CAST(COALESCE(len(regexp_extract_all(ptext,
                    '{_MARKUP_TAG}')), 0) AS BIGINT) AS n_tags,
               CAST(COALESCE(len(regexp_extract_all(ptext,
                    '{_ENTITY_ALT}')), 0) AS BIGINT) AS n_entities,
               clean_text,
               CAST(len(ptext) - len(clean_text) AS DOUBLE)
                   / NULLIF(CAST(len(ptext) AS DOUBLE), 0.0)
                   AS markup_ratio,
               COALESCE(text = clean_text,
                        text IS NULL AND ptext IS NULL) AS restored
        FROM cleaned
    """,
    doc="HTML-to-text core: tag strip + named-entity decode (row-"
        "local, no UDF), markup-mass ratio, proven byte-for-byte on "
        "a deterministically-poisoned variant — the WARC-extraction "
        "step every web corpus pipeline runs upstream of curation",
    tags=("audit", "ingest", "text", "quality", "apply"),
))
