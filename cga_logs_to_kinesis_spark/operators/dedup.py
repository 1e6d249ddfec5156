"""Deduplication operators over the documents table.

Training-data pipelines dedup at three strengths; all are expressed
Spark-first so they scale by partitioning, not by driver memory:

- exact: hash-groupBy on a normalized text digest.  One shuffle on the
  digest; at 100 TB the digest (16 bytes) shuffles, never the text.
- near-dup (MinHash + LSH, SimHash, n-gram Jaccard): candidate
  generation via banding so the cross product never materializes.
- embedding cosine near-dup lives in similarity.py.

Hash choice: md5 — not for speed but because Spark and DuckDB produce
the identical digest, which makes every stage oracle-checkable.  The
non-oracle production path can swap xxhash64 via the `hash_expr`
parameter without touching the topology.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import (
    explode_parallelism,
    tune_session,
    widen_for_explode,
)
from cga_logs_to_kinesis_spark.sources import load_table


from cga_logs_to_kinesis_spark.operators.text import WS_PLUS


def normalized_text(col: str = "text") -> Column:
    """Whitespace-collapsed, lowercased text: the dedup canonical form.

    Explicit whitespace class (WS_PLUS), not \\s — Java and RE2
    disagree on U+000B, and a divergent canonical form here poisons
    every dedup digest downstream."""
    return F.lower(F.regexp_replace(F.trim(F.col(col)), WS_PLUS, " "))


NORMALIZED_SQL = f"lower(regexp_replace(trim(text), '{WS_PLUS}', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """digest → (representative doc_id, duplicate count).

    Only (digest, doc_id) shuffle; representative = min doc_id, the
    standard deterministic keep-first policy.
    """
    return (
        docs
        .select(F.md5(normalized_text()).alias("text_digest"), "doc_id")
        .groupBy("text_digest")
        .agg(F.min("doc_id").alias("rep_doc_id"),
             F.count("*").alias("n_dups"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


register(QuerySpec(
    "dedup_exact", q_dedup_exact,
    oracle=f"""
        SELECT md5({NORMALIZED_SQL}) AS text_digest,
               MIN(doc_id) AS rep_doc_id,
               COUNT(*) AS n_dups
        FROM documents
        GROUP BY 1
    """,
    doc="exact dedup: hash-groupBy on normalized-text digest",
    tags=("dedup", "north-star"),
))


def q_dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: first doc per digest, with text."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    reps = exact_dedup_groups(docs).select(
        F.col("rep_doc_id").alias("doc_id"), "n_dups")
    return (
        docs.join(reps, "doc_id")
        .select("doc_id", "source", "lang", "n_dups")
    )


register(QuerySpec(
    "dedup_exact_survivors", q_dedup_exact_survivors,
    oracle=f"""
        WITH groups AS (
            SELECT md5({NORMALIZED_SQL}) AS text_digest,
                   MIN(doc_id) AS rep_doc_id,
                   COUNT(*) AS n_dups
            FROM documents GROUP BY 1
        )
        SELECT d.doc_id, d.source, d.lang, g.n_dups
        FROM documents d JOIN groups g ON d.doc_id = g.rep_doc_id
    """,
    doc="exact-dedup survivor set (keep-first policy)",
    tags=("dedup", "north-star"),
))


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup.  Topology (the part that matters at 100 TB):
# shingle -> per-band min-hash signature -> band-bucket equi-join for
# candidates -> exact Jaccard verification on candidates only.  The
# full cross product never materializes; every stage is a shuffle on a
# small key (doc_id/band/signature), and the verify join touches only
# candidate pairs.  Banding here is b=16 bands of r=1 rows, the
# high-recall corner of the standard S-curve.
# ---------------------------------------------------------------------------

SHINGLE_K = 3      # word-level shingles
N_BANDS = 16


def shingle_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<string>) - distinct word-K-shingles.

    Short docs are dropped by filtering on the token count BEFORE the
    shingle transform, not by wrapping the transform in
    ``when(...).otherwise(empty)`` and filtering its output: the
    when/filter-on-result form defeats subexpression elimination (the
    normalize+split pipeline gets inlined into the when-condition, the
    lambda body, and the filter) and measured ~15x slower at sf0.1.
    """
    toks = F.split(normalized_text(), " ")
    shingles = F.expr(
        f"transform(sequence(1, size(_toks) - {SHINGLE_K - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {SHINGLE_K})))")
    # Spread docs across cores BEFORE the band-explode amplifies rows
    # 16x — gated on the input's width: a small parquet file scans as
    # one partition (the exchange buys the explode its parallelism),
    # while a 100 TB scan already arrives wide and must not pay a
    # full-corpus shuffle just to shingle.
    return (widen_for_explode(docs, "doc_id")
            .withColumn("_toks", toks)
            .filter(F.size("_toks") >= SHINGLE_K)
            .select("doc_id",
                    F.array_distinct(shingles).alias("shingles")))


SHINGLES_SQL = f"""
    toks AS (
        SELECT doc_id,
               regexp_split_to_array({NORMALIZED_SQL}, ' ') AS t
        FROM documents
    ),
    shingled AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= {SHINGLE_K}
                   THEN list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                        i -> array_to_string(list_slice(t, i,
                             i + {SHINGLE_K - 1}), ' '))
                   ELSE [] END) AS shingles
        FROM toks
    ),
    shingled_ne AS (SELECT * FROM shingled WHERE len(shingles) > 0)
"""


def minhash_signatures(docs: DataFrame,
                       n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, sig): per-band min of md5(band || shingle).

    Computed as a NARROW plan: the per-band minimum is
    ``array_min(transform(shingles, md5))`` evaluated inside each row,
    so the only row amplification is the 16-way band explode of
    already-reduced (doc_id, band, sig) triples — no shuffle of
    exploded shingles, no groupBy.  The md5 fan-out cost is identical
    but it stays in the scan stage's codegen, which is exactly where a
    100 TB corpus wants it (work scales with the scan, shuffle scales
    with docs x bands only).
    """
    return signatures_from_shingles(shingle_docs(docs), n_bands)


def signatures_from_shingles(sh: DataFrame,
                             n_bands: int = N_BANDS) -> DataFrame:
    band_sig = F.expr(
        "transform(sequence(0, {n}), b -> "
        "array_min(transform(shingles, s -> md5(concat(b, ':', s)))))"
        .format(n=n_bands - 1))
    return (sh
            .select("doc_id", F.posexplode(band_sig).alias("band", "sig")))


MINHASH_SIGS_SQL = f"""
    WITH {SHINGLES_SQL.strip()}
    SELECT doc_id, b.band,
           list_min(list_transform(shingles,
                    s -> md5(b.band || ':' || s))) AS sig
    FROM shingled_ne,
         (SELECT unnest(range(0, {N_BANDS})) AS band) b
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return minhash_signatures(load_table(spark, sf_dir, "documents"))


register(QuerySpec(
    "minhash_signatures", q_minhash_signatures,
    oracle=MINHASH_SIGS_SQL,
    doc="MinHash band signatures (b=16, r=1) over word-3-shingles",
    tags=("dedup", "north-star", "minhash"),
))


# Buckets larger than this are dropped from candidate generation on
# BOTH engines.  A hot bucket (boilerplate-heavy web corpora collapse
# many near-identical docs into one band signature) emits O(n²)
# candidate pairs; past ~1000 members those pairs are overwhelmingly
# template noise, and at 100 TB a single such bucket would dominate the
# job.  1000²/2 = ~500k pairs is the bounded worst case per bucket.
MAX_BUCKET = 1000


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs + exact Jaccard verification.

    Returns (doc_a, doc_b, n_common_bands, jaccard) for pairs sharing
    at least one band bucket, with true shingle-set Jaccard computed
    only for those candidates.
    """
    # Shingle ONCE (localCheckpoint truncates the lineage so the
    # tokenize/shingle pass — reused by the signature derivation and
    # both sides of the Jaccard verify — runs a single time), then
    # pair up the 16 raw minhashes into 8 bands of r=2: band collision
    # probability is jaccard^2, which keeps the candidate set
    # proportional to real similarity instead of to the most common
    # shingle (r=1 floods: 156k candidate pairs at sf0.1, most with
    # tiny jaccard, and the verify join becomes the bottleneck).
    # Disk sizing at 100 TB: localCheckpoint materializes the full
    # shingle set (~distinct-shingles x 8 B per doc, roughly the size
    # of the text column) to executor-local disk.  Justified by 3x
    # reuse (signatures + both verify sides); provision local SSD
    # ~1x the scanned text volume, or swap to .persist(DISK_ONLY)
    # if lineage-cut semantics aren't needed on a cluster with
    # reliable shuffle storage.
    sh = shingle_docs(docs).localCheckpoint()
    cand = lsh_candidate_ids(sh)
    sa = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("shingles").alias("sh_b"))
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .select(
                "doc_a", "doc_b", "n_common_bands",
                (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                 / F.size(F.array_union("sh_a", "sh_b"))).alias("jaccard")))


def banded_buckets(sh: DataFrame) -> DataFrame:
    """(doc_id, band2, sig2): the 16 raw minhashes paired into 8
    r=2 bands — the bucket key every minhash-family candidate
    generator joins on (self-join for corpus dedup, batch-vs-store
    join for incremental dedup).

    Computed ROW-LOCALLY: the 16 per-band minhashes are an array
    expression inside the row, so pairing band 2b with band 2b+1 is
    array indexing — there is nothing to reunite.  The previous form
    posexploded the 16 signatures and ran a (doc_id, band2) groupBy +
    collect_list to pair rows that were born in the same row, paying a
    corpus x 16 exchange per call (two calls in the incremental form).
    sig2 is bit-identical: md5 over the same sort_array'd pair of
    "band:sig" strings the collect_list fold produced (band2 stays
    LONG to match the old ``band DIV 2`` dtype — the persisted band
    index store reads it back).  The outer ``transform(array(...),
    bs -> ...)`` is the let-binding idiom: every reference inside the
    lambda is to the evaluated-once 16-element array, so
    CollapseProject cannot inline the minhash derivation into each of
    the 8 pair expressions (the blocklist gate documents the 8x
    re-evaluation that happens without it)."""
    band_sig = (
        f"transform(sequence(0, {N_BANDS - 1}), b -> "
        f"array_min(transform(shingles, s -> md5(concat(b, ':', s)))))")
    paired = (
        f"transform(array({band_sig}), bs -> "
        f"transform(sequence(0, {N_BANDS // 2 - 1}), b2 -> "
        f"md5(concat_ws('', sort_array(array("
        f"concat(b2 * 2, ':', bs[b2 * 2]), "
        f"concat(b2 * 2 + 1, ':', bs[b2 * 2 + 1])))))))[0]")
    return (sh.select("doc_id",
                      F.posexplode(F.expr(paired)).alias("band2", "sig2"))
            .select("doc_id",
                    F.col("band2").cast("long").alias("band2"),
                    "sig2"))


def lsh_candidate_ids(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common_bands) candidate pairs from banded
    minhash buckets over pre-shingled docs — the shared front half of
    every minhash-family verifier (Jaccard, containment)."""
    from cga_logs_to_kinesis_spark.functions.buckets import (
        bucket_bounded,
    )

    # Checkpoint: the bucket table feeds the count fold, the cap
    # probe, and both sides of the candidate self-join.
    banded = banded_buckets(sh).localCheckpoint()
    # Candidate pairs via a SELF-EQUI-JOIN on the bucket key, not a
    # per-bucket collect_list + double explode: the join streams a hot
    # bucket's pairs through normal shuffle machinery (AQE skew-join can
    # split one bucket across tasks), whereas a collected member array
    # pins the whole O(n²) expansion plus an unbounded array into a
    # single task.  The size cap drops degenerate buckets entirely —
    # computed as the partial-agg groupBy + join of bucket_bounded,
    # never count().over(Window(bucket)), so the degenerate bucket
    # cannot collapse its own cap computation onto one reducer.
    eligible = bucket_bounded(banded, ["band2", "sig2"],
                              lo=2, hi=MAX_BUCKET)
    a = eligible.select(F.col("doc_id").alias("doc_a"), "band2", "sig2")
    b = eligible.select(F.col("doc_id").alias("doc_b"), "band2", "sig2")
    return (a.join(b, ["band2", "sig2"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common_bands")))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return minhash_candidates(load_table(spark, sf_dir, "documents"))


register(QuerySpec(
    "dedup_minhash_lsh", q_dedup_minhash_lsh,
    oracle=f"""
        WITH {SHINGLES_SQL.strip()},
        sigs AS (
            SELECT doc_id, b.band,
                   list_min(list_transform(shingles,
                            s -> md5(b.band || ':' || s))) AS sig
            FROM shingled_ne,
                 (SELECT unnest(range(0, {N_BANDS})) AS band) b
        ),
        banded AS (
            SELECT doc_id, band // 2 AS band2,
                   md5(array_to_string(
                       list_sort(list(band || ':' || sig)), '')) AS sig2
            FROM sigs
            GROUP BY doc_id, band // 2
        ),
        eligible AS (
            SELECT doc_id, band2, sig2 FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band2, sig2) AS bn
                FROM banded
            ) WHERE bn > 1 AND bn <= {MAX_BUCKET}
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_common_bands
            FROM eligible a JOIN eligible b
              ON a.band2 = b.band2 AND a.sig2 = b.sig2
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT c.doc_a, c.doc_b, c.n_common_bands,
               CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.shingles, y.shingles)))
                   AS jaccard
        FROM cand c
        JOIN shingled_ne x ON c.doc_a = x.doc_id
        JOIN shingled_ne y ON c.doc_b = y.doc_id
    """,
    doc="MinHash-LSH candidates + exact Jaccard verify (no cross product)",
    tags=("dedup", "north-star", "minhash", "join"),
))


# ---------------------------------------------------------------------------
# SimHash fingerprints: 16-bit signatures from token hashes.  Each bit
# b of the fingerprint is the sign of sum(+-1 over tokens), where the
# +-1 comes from hex digit b of md5(token) - deterministic across
# engines, no UDFs, one explode + two hash-aggs.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    toks = (widen_for_explode(docs, "doc_id")
            .select("doc_id",
                    F.explode(F.split(normalized_text(), " ")).alias("tok"))
            .filter(F.col("tok") != "")
            .select("doc_id", F.md5("tok").alias("h")))
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        "h")
    votes = (bits
             .select("doc_id", "bit",
                     F.when(F.col("h").substr(F.col("bit") + 1,
                                              F.lit(1)) >= "8", 1)
                     .otherwise(-1).alias("vote"))
             .groupBy("doc_id", "bit")
             .agg(F.sum("vote").alias("v")))
    return (votes
            .groupBy("doc_id")
            .agg(F.sum(
                F.when(F.col("v") > 0, F.expr("shiftleft(1, bit)"))
                .otherwise(0)).cast("long").alias("simhash")))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return simhash_fingerprints(load_table(spark, sf_dir, "documents"))


register(QuerySpec(
    "dedup_simhash", q_dedup_simhash,
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, md5(t.tok) AS h
            FROM documents,
                 UNNEST(regexp_split_to_array({NORMALIZED_SQL}, ' '))
                     AS t(tok)
            WHERE t.tok != ''
        ),
        bits AS (
            SELECT doc_id, b.bit,
                   CASE WHEN substring(h, b.bit + 1, 1) >= '8'
                        THEN 1 ELSE -1 END AS vote
            FROM toks,
                 (SELECT unnest(range(0, {SIMHASH_BITS})) AS bit) b
        ),
        votes AS (
            SELECT doc_id, bit, SUM(vote) AS v
            FROM bits GROUP BY doc_id, bit
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 THEN 1 << bit ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes
        GROUP BY doc_id
    """,
    doc="SimHash 16-bit fingerprints (token-hash bit votes)",
    tags=("dedup", "north-star", "simhash"),
))



# ---------------------------------------------------------------------------
# Character-n-gram Jaccard near-dup: same LSH-banded topology as the
# word-shingle pipeline, over 5-char shingles (robust to word-boundary
# edits).  Shingling is a narrow higher-order expression; candidates
# come from band buckets; Jaccard is verified only on candidates.
# ---------------------------------------------------------------------------

# Character shingles are far less selective than word shingles (every
# pair of documents shares common 5-grams), so r=1 banding floods the
# candidate set (~72% of all pairs at sf0.01).  b=4 bands of r=2 rows
# makes band collision ~ jaccard^2 — the precision knob of the
# standard (b, r) S-curve.
CHAR_K = 5
CHAR_BANDS = 4
# Char-grams are far less selective than word shingles, so the shared
# MAX_BUCKET=1000 cap lets candidate volume go superlinear: at sf0.1
# the b=4/r=2 buckets emitted 1.1M pairs (9% of all n² pairs — the
# all-pairs degeneracy this module exists to avoid), 45s of verify.
# A bucket with >100 members at ANY corpus size is a shared template,
# not a near-dup cluster — boilerplate belongs to dedup_exact /
# dedup_components, not pairwise Jaccard — so cap char-gram buckets
# at 100: sf0.01 candidates unchanged, sf0.1 drops 1.1M -> 162k and
# verify cost returns to ~linear in corpus size.
CHAR_MAX_BUCKET = 100

# 60-bit md5-prefix shingle fingerprints, re-hashed per minhash row by
# an affine map mod a 30-bit prime.  One md5 per shingle instead of one
# per (shingle x row) — at CHAR_BANDS bands x 2 rows = 8 rows
# that removes 7/8 of the md5 work, which dominated this query's CPU
# (md5 over ~n_chars shingles per doc, 8x).  The affine family
# (A_r * h + B_r) mod P is the textbook universal hash: distinct 60-bit
# fingerprints spread uniformly, and candidate RECALL only depends on
# this spread — precision is restored by the exact-Jaccard verify.
# Both engines fold the same integers, so the derivation is
# bit-identical (DuckDB's '0x'||hex cast twins Spark's conv(), the
# winnowing-family idiom).
CHAR_HASH_P = 1_000_000_007


def _row_hash_expr(h: str, row: str) -> str:
    """Affine row-hash ``(A_r * h' + B_r) mod P`` as a SQL fragment,
    valid in both Spark SQL and DuckDB (`h` / `row` are column or
    lambda-variable expressions).  A_r <= 314 and h' < P keep every
    intermediate below 2^39 — no int64 overflow on either engine."""
    return (f"((97 + 31 * ({row})) * (({h}) % {CHAR_HASH_P}) "
            f"+ 911 * ({row}) + 13) % {CHAR_HASH_P}")


def char_shingle_docs(docs: DataFrame) -> DataFrame:
    # Filter-before-transform, same CSE reasoning as shingle_docs.
    # Shingles are emitted as 60-bit ints (md5-prefix fingerprints):
    # band hashing folds ints instead of re-md5ing strings, and the
    # verify stage intersects bigint arrays instead of 5-char strings.
    # A fingerprint collision (2^-60 per pair) would count two distinct
    # shingles as one IDENTICALLY on both engines (same md5), so
    # cross-engine parity is exact even in that event.
    norm = normalized_text()
    shingles = F.expr(
        f"transform(sequence(1, length(_norm) - {CHAR_K - 1}), "
        f"i -> cast(conv(substring(md5(substring(_norm, i, {CHAR_K})), "
        f"1, 15), 16, 10) as bigint))")
    return (widen_for_explode(docs, "doc_id")
            .withColumn("_norm", norm)
            .filter(F.length("_norm") >= CHAR_K)
            .select("doc_id",
                    F.array_distinct(shingles).alias("shingles")))


CHAR_SHINGLES_SQL = f"""
    normed AS (
        SELECT doc_id, {NORMALIZED_SQL} AS nrm FROM documents
    ),
    shingled AS (
        SELECT doc_id,
               list_distinct(CASE WHEN LENGTH(nrm) >= {CHAR_K}
                   THEN list_transform(range(1, LENGTH(nrm) - {CHAR_K - 2}),
                        i -> CAST(('0x' || substr(md5(substring(nrm, i,
                             {CHAR_K})), 1, 15)) AS BIGINT))
                   ELSE [] END) AS shingles
        FROM normed
    ),
    shingled_ne AS (SELECT * FROM shingled WHERE len(shingles) > 0)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    # 3x reuse (band signatures + both sides of the verify join) —
    # same localCheckpoint discipline as minhash_candidates
    sh = char_shingle_docs(docs).localCheckpoint()
    # ONE aggregate pass computes all 2 x CHAR_BANDS running minima
    # instead of 8 separate array_min(transform(...)) traversals of
    # the shingle array — same affine hashes, same minima
    # (exceptAll-verified bit-identical at sf0.1; 0.41 -> 0.21 s for
    # the signature fragment).  The Long.MAX sentinel never escapes:
    # char_shingle_docs filters to length >= CHAR_K, so every shingle
    # array is non-empty and every minimum is a real hash.
    _mins = ", ".join(
        f"least(acc[{r}], {_row_hash_expr('h', str(r))})"
        for r in range(2 * CHAR_BANDS))
    _init = ", ".join(["9223372036854775807"] * (2 * CHAR_BANDS))
    band_sig = F.expr(
        f"transform(array(aggregate(shingles, array({_init}), "
        f"(acc, h) -> array({_mins}))), m -> "
        f"transform(sequence(0, {CHAR_BANDS - 1}), b -> "
        f"concat(m[b * 2], ':', m[b * 2 + 1])))[0]")
    from cga_logs_to_kinesis_spark.functions.buckets import (
        bucket_bounded,
    )

    sigs = (sh.select("doc_id",
                      F.posexplode(band_sig).alias("band", "sig"))
            .localCheckpoint())       # feeds count fold + cap probe
    # Same hot-bucket bound as minhash_candidates: drop degenerate
    # buckets before the self-join so one boilerplate signature cannot
    # emit O(n²) pairs — via the partial-agg bucket_bounded shape
    # (a Window count would funnel the boilerplate bucket's rows to
    # one reducer just to discover it must be dropped).
    sigs = bucket_bounded(sigs, ["band", "sig"],
                          lo=2, hi=CHAR_MAX_BUCKET)
    a = sigs.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    # The verify stage is CPU-bound (array intersect/union over ~10³-
    # element shingle sets per pair), but its input BYTES are small —
    # AQE's size-based coalescing would collapse it to one task.  The
    # explicit repartition pins the width (user-specified partitioning
    # is exempt from AQE coalescing).
    par = explode_parallelism(spark)
    # Width pin BEFORE the distinct: the dedup aggregate's required
    # (doc_a, doc_b) distribution is satisfied by the user repartition,
    # so ONE exchange of the pair table does both jobs (the previous
    # distinct-then-repartition shape exchanged it twice — once for the
    # dedup agg, once for the width pin).
    cand = (a.join(b, ["band", "sig"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .repartition(par, "doc_a", "doc_b")
            .distinct())
    sa = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("shingles").alias("sh_b"))
    # |union| = |a| + |b| - |intersect| (both sides are distinct by
    # construction): one array traversal per pair instead of two.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    (inter.cast("double")
                     / (F.size("sh_a") + F.size("sh_b") - inter))
                    .alias("char_jaccard"))
            .filter(F.col("char_jaccard") >= 0.10))


register(QuerySpec(
    "dedup_ngram_jaccard", q_dedup_ngram_jaccard,
    oracle=f"""
        WITH {CHAR_SHINGLES_SQL.strip()},
        sigs AS (
            SELECT doc_id, b.band,
                   list_min(list_transform(shingles,
                       h -> {_row_hash_expr('h', 'b.band * 2')}))
                   || ':' ||
                   list_min(list_transform(shingles,
                       h -> {_row_hash_expr('h', 'b.band * 2 + 1')}))
                   AS sig
            FROM shingled_ne,
                 (SELECT unnest(range(0, {CHAR_BANDS})) AS band) b
        ),
        eligible AS (
            SELECT doc_id, band, sig FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band, sig) AS bn
                FROM sigs
            ) WHERE bn > 1 AND bn <= {CHAR_MAX_BUCKET}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM eligible a JOIN eligible b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, char_jaccard FROM (
            SELECT c.doc_a, c.doc_b,
                   CAST(len(list_intersect(x.shingles, y.shingles))
                        AS DOUBLE)
                   / (len(x.shingles) + len(y.shingles)
                      - len(list_intersect(x.shingles, y.shingles)))
                   AS char_jaccard
            FROM cand c
            JOIN shingled_ne x ON c.doc_a = x.doc_id
            JOIN shingled_ne y ON c.doc_b = y.doc_id
        ) WHERE char_jaccard >= 0.10
    """,
    doc="character-5-gram Jaccard near-dup (banded candidates)",
    tags=("dedup", "north-star", "ngram"),
))


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over verified LSH pairs
# ---------------------------------------------------------------------------
# A dedup pipeline ends with *clusters*, not pairs: A~B and B~C must
# collapse into one group even when A~C was never emitted.  That's
# connected components — an inherently iterative algorithm, expressed
# as min-label propagation WITH POINTER DOUBLING: each round every
# node takes the minimum label among itself, its neighbors (one hop),
# and its label's own label (path halving).  The jump makes label
# chains collapse geometrically, so the fixpoint arrives in
# O(log diameter) rounds instead of O(diameter) — the difference
# between 6 rounds and 10^4 on a templated-spam chain at 100 TB.
# Each round is two PARALLEL joins folded by one agg over the (small)
# label table — localCheckpoint cuts the growing lineage.  Exhausting
# ``max_iters``
# without a fixpoint RAISES rather than returning silently-wrong
# labels.  The DuckDB oracle reaches the same fixpoint with a
# recursive transitive-closure CTE, making this a hash-checked
# *iterative* operator.

JACCARD_EDGE_THRESHOLD = 0.5


def connected_components(pairs: DataFrame,
                         max_iters: int = 25) -> DataFrame:
    """(doc_a, doc_b) edges → (doc, comp) labels, comp = min doc_id
    reachable.  Nodes are docs appearing in at least one edge.

    Raises ``RuntimeError`` if ``max_iters`` rounds don't reach the
    fixpoint — with pointer doubling that takes ~log2(diameter)+2
    rounds, so 25 covers any graph that physically fits anywhere.
    """
    # The label graph is docs-in-pairs, orders of magnitude smaller
    # than the corpus — and the edge set is the one frame EVERY
    # propagation round joins, always on doc_b.  Hash-partition it by
    # doc_b ONCE before the checkpoint (optimization r18, guide §2.4):
    # localCheckpoint preserves the physical partitioning in its
    # LogicalRDD, so each round's sym-side exchange disappears — at
    # 100 TB the edge set is corpus-fraction-sized and was previously
    # re-shuffled every round once labels outgrow broadcast.  No
    # explicit width: AQE sizes the exchange (coalescing the
    # fixture-scale case to a handful of tasks, keeping a cluster run
    # wide).  The checkpoint itself is lazy — the labels checkpoint
    # below materializes both in ONE job (each eager localCheckpoint
    # is a full sequential driver round-trip; guide §5).
    # Symmetrize by EXPLODING each edge into both orientations
    # row-locally rather than a self-union (optimization r18, guide
    # §1.2): callers pass computed pair surfaces (banded candidate
    # join + verify; the cosine-scored SemDeDup pairs), and a union
    # evaluates that subtree once per branch — the explode reads it
    # once.
    sym = (pairs.select(F.explode(F.array(
               F.struct(F.col("doc_a").alias("doc_a"),
                        F.col("doc_b").alias("doc_b")),
               F.struct(F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b")))).alias("e"))
           .select("e.doc_a", "e.doc_b")
           .repartition(F.col("doc_b"))
           .localCheckpoint(eager=False))
    # Round 0 is FUSED into the init aggregate (optimization r19,
    # guide §1.2): sym is symmetric, so every node appears as doc_a
    # and ONE groupBy builds the node set AND applies the first
    # one-hop min propagation — where the previous shape paid a
    # distinct (same exchange) just to initialize comp = doc and then
    # spent a full propagation round reaching this exact state.
    labels = (sym.groupBy("doc_a").agg(F.min("doc_b").alias("_mb"))
              .select(F.col("doc_a").alias("doc"),
                      F.least(F.col("doc_a"), F.col("_mb"))
                      .alias("comp"))
              .localCheckpoint(eager=False))

    # Convergence via the exact label-sum fingerprint: labels are
    # MIN-MONOTONE (each round takes min(self, neighbors, label of
    # label)), and the node set is fixed — so the decimal-exact sum
    # of comp strictly decreases iff ANY label changed, and equality
    # between two checks IS the fixpoint.  This replaces the earlier
    # left-anti join of the full label table against the prior round
    # (two label-table exchanges + a join per check) with one
    # map-side aggregate — at 100 TB the label table is
    # corpus-fraction-sized and was shuffled twice per check just to
    # detect "nothing changed".  decimal(38,0): node ids x node count
    # overflows int64 long before the operator's design scale.
    def _label_sum(df: DataFrame) -> int:
        return (df.agg(F.sum(F.col("comp").cast("decimal(38,0)")))
                .first()[0]) or 0

    # One action: materializes the lazy sym AND labels checkpoints
    # and seeds the fingerprint.
    prev_sum = _label_sum(labels)
    for it in range(max_iters):
        # One FUSED round (optimization r19, guide §1.2/§2.4): the
        # new label is min over three branches —
        #   self:  the node's current label,
        #   nbr:   every neighbor's current label (one-hop),
        #   hop:   the current label's own current label (pointer
        #          doubling: label chains halve every round, so the
        #          fixpoint arrives in O(log diameter) rounds),
        # folded by ONE groupBy.  The r18 shape ran these
        # SEQUENTIALLY (prop = min(self, nbr), checkpoint, then a
        # second join prop-with-prop for the jump): two dependent
        # join stages plus a mid-round node-sized checkpoint write
        # per round.  Here all three branches read the SAME
        # already-checkpointed `labels` frame, so no intra-round cut
        # is needed at all, the two joins run as parallel stages, and
        # one exchange (the groupBy) reunites them.  The hop uses the
        # PREVIOUS round's labels rather than the mid-round
        # propagation result — chains still halve per round (verified
        # by the diameter-30-in-8-rounds test), and the fixpoint is
        # identical: min label reachable.
        nbr = (sym.join(labels.withColumnRenamed("doc", "doc_b"),
                        "doc_b")
               .select(F.col("doc_a").alias("doc"), "comp"))
        # comp is always itself a node id (labels start at node ids
        # and only node ids propagate) and the right side carries
        # EVERY node, so the inner join never drops a row — and even
        # a dropped row would be restored by the self branch below.
        hop = (labels.join(labels.select(F.col("doc").alias("comp"),
                                         F.col("comp").alias("_h")),
                           "comp")
               .select("doc", F.col("_h").alias("comp")))
        new = (labels.unionByName(nbr).unionByName(hop)
               .groupBy("doc").agg(F.min("comp").alias("comp"))
               .localCheckpoint(eager=False))
        # Per-round convergence check: the sum fingerprint is one
        # map-side aggregate over the just-persisted round (the LAZY
        # checkpoint is materialized by this same job — no separate
        # checkpoint job), so checking every round costs one cheap
        # driver round-trip and detects the fixpoint at the exact
        # round it arrives.  The earlier amortized-every-2nd-round
        # anti-join paid fewer driver syncs but shuffled the label
        # table twice per check and, compared against a two-rounds-ago
        # fingerprint, could overshoot convergence by two full
        # propagation rounds — at 100 TB a round is a corpus-fraction
        # join, far more than a driver sync.
        cur_sum = _label_sum(new)
        if cur_sum == prev_sum:
            return new
        prev_sum = cur_sum
        labels = new
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds; "
        "the near-dup graph is deeper than expected — raise max_iters "
        "(pointer doubling needs ~log2(diameter)+2 rounds)")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    edges = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD))
    comp = connected_components(edges)
    sizes = comp.groupBy("comp").agg(
        F.count("*").alias("component_size"))
    return (comp.join(sizes, "comp")
            .select(F.col("doc").alias("doc_id"),
                    F.col("comp").alias("component"),
                    "component_size"))


from cga_logs_to_kinesis_spark.registry import _REGISTRY  # noqa: E402

register(QuerySpec(
    "dedup_components", q_dedup_components,
    oracle=f"""
        WITH RECURSIVE lsh AS (
            {_REGISTRY["dedup_minhash_lsh"].oracle}
        ),
        edges AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        )
        SELECT c.doc_id, c.component, s.component_size
        FROM comp c
        JOIN (SELECT component, COUNT(*) AS component_size
              FROM comp GROUP BY component) s USING (component)
    """,
    doc="near-dup clusters: iterative min-label connected components "
        "over verified LSH pairs (recursive-CTE oracle)",
    tags=("dedup", "north-star", "iterative"),
))


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs already-ingested corpus
# ---------------------------------------------------------------------------
# The production shape of exact dedup: a crawl snapshot arrives and
# must be deduplicated (a) against everything already in the corpus
# and (b) within itself.  The seen side is the digest-only table a
# pipeline persists between snapshots, so the anti-join moves 16-byte
# md5 keys, never text; at 100 TB the new batch is a fraction of the
# corpus and AQE picks a broadcast or shuffled-hash anti join on the
# digest.  Here the "seen corpus" is simulated deterministically as
# doc_id % 4 < 3 (75% ingested, 25% arriving).


def incremental_dedup(seen_digests: DataFrame, batch: DataFrame) -> DataFrame:
    """Survivors of `batch` after anti-joining `seen_digests` and
    keep-first dedup within the batch itself."""
    return (batch
            .join(seen_digests, "text_digest", "left_anti")
            .groupBy("text_digest")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count("*").alias("n_batch_dups")))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    digests = docs.select(
        "doc_id", F.md5(normalized_text()).alias("text_digest"))
    seen = (digests.filter(F.col("doc_id") % 4 < 3)
            .select("text_digest").distinct())
    batch = digests.filter(F.col("doc_id") % 4 == 3)
    return incremental_dedup(seen, batch)


register(QuerySpec(
    "dedup_incremental", q_dedup_incremental,
    oracle=f"""
        WITH digests AS (
            SELECT doc_id, md5({NORMALIZED_SQL}) AS text_digest
            FROM documents
        ), seen AS (
            SELECT DISTINCT text_digest FROM digests WHERE doc_id % 4 < 3
        ), batch AS (
            SELECT * FROM digests WHERE doc_id % 4 = 3
        )
        SELECT b.text_digest, MIN(b.doc_id) AS doc_id,
               COUNT(*) AS n_batch_dups
        FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM seen s
                          WHERE s.text_digest = b.text_digest)
        GROUP BY 1
    """,
    doc="incremental exact dedup: new batch anti-joined against the "
        "persisted seen-corpus digest table, then keep-first within "
        "the batch",
    tags=("dedup", "north-star", "anti-join"),
))


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: new batch vs the banded index of the seen
# corpus — the per-crawl-drop workflow production pipelines actually
# run (re-banding 100 TB per drop is a non-starter; the band table is
# the persisted index).  Topology: batch-side buckets equi-join the
# seen-side bucket store (hot seen buckets capped at MAX_BUCKET, so
# per-batch-doc fan-out is bounded by 8 bands x MAX_BUCKET), exact
# Jaccard verified on candidates only, then one row per batch doc:
# its nearest seen neighbor and the near-dup verdict.  Intra-batch
# near-dups are deliberately out of scope here (that is
# dedup_minhash_lsh's self-join); this operator answers "which NEW
# docs duplicate the EXISTING corpus".
# ---------------------------------------------------------------------------

INCR_NEAR_MIN = JACCARD_EDGE_THRESHOLD      # same edge rule as components


def minhash_incremental(seen_sh: DataFrame,
                        batch_sh: DataFrame) -> DataFrame:
    """One row per batch doc with >=1 candidate: nearest seen doc by
    exact Jaccard, candidate count, and the near-dup verdict.  Both
    inputs are pre-shingled (shingle_docs) frames."""
    # checkpoint: the computed bucket table feeds the cap's count fold
    # AND its probe (a persisted index passed in instead just
    # re-scans)
    return minhash_incremental_from_index(
        banded_buckets(seen_sh).localCheckpoint(), seen_sh, batch_sh)


def minhash_incremental_from_index(seen_b: DataFrame,
                                   seen_sh: DataFrame,
                                   batch_sh: DataFrame) -> DataFrame:
    """Index-level form: ``seen_b`` is the PERSISTED (doc_id, band2,
    sig2) bucket table, kept between crawl drops so the seen corpus
    is never re-banded."""
    from cga_logs_to_kinesis_spark.functions.buckets import (
        bucket_bounded,
    )

    # hot seen buckets dropped via the partial-agg bucket_bounded
    # shape — at index scale a boilerplate bucket must not funnel its
    # rows through one Window reducer just to be discarded
    seen_idx = (bucket_bounded(seen_b, ["band2", "sig2"],
                               hi=MAX_BUCKET)
                .select(F.col("doc_id").alias("seen_doc"),
                        "band2", "sig2"))
    batch_b = banded_buckets(batch_sh).select(
        F.col("doc_id").alias("batch_doc"), "band2", "sig2")
    # batch_doc != seen_doc: a doc can never be its own near-dup.  In
    # the batch operator the sides are disjoint so this never fires;
    # it guards a persisted index that already contains the batch's
    # own docs (an at-least-once replay).
    cand = (batch_b.join(seen_idx, ["band2", "sig2"])
            .filter(F.col("batch_doc") != F.col("seen_doc"))
            .groupBy("batch_doc", "seen_doc")
            .agg(F.count("*").alias("n_common_bands")))
    sa = batch_sh.select(F.col("doc_id").alias("batch_doc"),
                         F.col("shingles").alias("sh_a"))
    sb = seen_sh.select(F.col("doc_id").alias("seen_doc"),
                        F.col("shingles").alias("sh_b"))
    scored = (cand.join(sa, "batch_doc").join(sb, "seen_doc")
              .select("batch_doc", "seen_doc", "n_common_bands",
                      (F.size(F.array_intersect("sh_a", "sh_b"))
                       .cast("double")
                       / F.size(F.array_union("sh_a", "sh_b")))
                      .alias("jaccard")))
    # Keep-best as an arg-max aggregate, not a partition-keyed window:
    # max(struct(jaccard, -seen_doc)) reproduces the (jaccard DESC,
    # seen_doc ASC) row_number()==1 pick exactly — (jaccard, seen_doc)
    # is unique per batch_doc (cand is grouped), so the tiebreak never
    # reaches the payload field.  A partition-only window has NO
    # map-side partial aggregation (all scored rows shuffle and sort);
    # the aggregate collapses each batch_doc to one row per map
    # partition before the exchange — the same rewrite the semdedup
    # assignment landed, equivalence reasoning identical.
    best = F.max(F.struct(
        F.col("jaccard").alias("j"),
        (-F.col("seen_doc")).alias("neg"),
        F.col("seen_doc").alias("seen_doc"))).alias("best")
    return (scored
            .groupBy("batch_doc")
            .agg(F.count("*").alias("n_candidates"), best)
            .select("batch_doc",
                    F.col("best.seen_doc").alias("nearest_seen"),
                    "n_candidates",
                    F.col("best.j").alias("best_jaccard"),
                    (F.col("best.j") >= INCR_NEAR_MIN)
                    .alias("is_near_dup")))


def q_dedup_minhash_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_docs(docs).localCheckpoint()
    return minhash_incremental(
        sh.filter(F.col("doc_id") % 4 < 3),
        sh.filter(F.col("doc_id") % 4 == 3))


register(QuerySpec(
    "dedup_minhash_incremental", q_dedup_minhash_incremental,
    oracle=f"""
        WITH {SHINGLES_SQL.strip()},
        sigs AS (
            SELECT doc_id, b.band,
                   list_min(list_transform(shingles,
                            s -> md5(b.band || ':' || s))) AS sig
            FROM shingled_ne,
                 (SELECT unnest(range(0, {N_BANDS})) AS band) b
        ),
        banded AS (
            SELECT doc_id, band // 2 AS band2,
                   md5(array_to_string(
                       list_sort(list(band || ':' || sig)), '')) AS sig2
            FROM sigs
            GROUP BY doc_id, band // 2
        ),
        seen_idx AS (
            SELECT doc_id AS seen_doc, band2, sig2 FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band2, sig2) AS bn
                FROM banded WHERE doc_id % 4 < 3
            ) WHERE bn <= {MAX_BUCKET}
        ),
        batch_b AS (
            SELECT doc_id AS batch_doc, band2, sig2
            FROM banded WHERE doc_id % 4 = 3
        ),
        cand AS (
            SELECT batch_doc, seen_doc, COUNT(*) AS n_common_bands
            FROM batch_b JOIN seen_idx USING (band2, sig2)
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT c.batch_doc, c.seen_doc, c.n_common_bands,
                   CAST(len(list_intersect(x.shingles, y.shingles))
                        AS DOUBLE)
                   / len(list_distinct(
                         list_concat(x.shingles, y.shingles))) AS jaccard
            FROM cand c
            JOIN shingled_ne x ON c.batch_doc = x.doc_id
            JOIN shingled_ne y ON c.seen_doc = y.doc_id
        )
        SELECT batch_doc, seen_doc AS nearest_seen, n_candidates,
               jaccard AS best_jaccard,
               jaccard >= {INCR_NEAR_MIN} AS is_near_dup
        FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY batch_doc)
                          AS n_candidates,
                   ROW_NUMBER() OVER (
                       PARTITION BY batch_doc
                       ORDER BY jaccard DESC, seen_doc) AS rn
            FROM scored
        ) WHERE rn = 1
    """,
    doc="incremental near-dup: new batch banded against the PERSISTED "
        "seen-corpus bucket index (capped fan-out), exact-Jaccard "
        "verified, nearest seen neighbor + verdict per new doc",
    tags=("dedup", "north-star", "minhash", "incremental"),
))


# ---------------------------------------------------------------------------
# Containment near-dup: directional overlap for partial duplicates
# ---------------------------------------------------------------------------
# Symmetric Jaccard misses the excerpt case: a paragraph quoted inside
# a much longer page has tiny union-relative overlap but containment
# ~1.0 relative to the shorter side.  Candidates come from the same
# banded-minhash front half as dedup_minhash_lsh (shared
# lsh_candidate_ids — one shingle pass, bucket-capped self-equi-join);
# only the verify expression differs: per-direction shingle-set
# containment, kept when either direction clears the threshold.

CONTAINMENT_MIN = 0.2


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_docs(docs).localCheckpoint()
    cand = lsh_candidate_ids(sh)
    sa = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    (inter / F.size("sh_a")).alias("containment_a"),
                    (inter / F.size("sh_b")).alias("containment_b"))
            .filter(F.greatest("containment_a", "containment_b")
                    >= CONTAINMENT_MIN))


register(QuerySpec(
    "dedup_containment", q_dedup_containment,
    oracle=f"""
        WITH {SHINGLES_SQL.strip()},
        sigs AS (
            SELECT doc_id, b.band,
                   list_min(list_transform(shingles,
                            s -> md5(b.band || ':' || s))) AS sig
            FROM shingled_ne,
                 (SELECT unnest(range(0, {N_BANDS})) AS band) b
        ),
        banded AS (
            SELECT doc_id, band // 2 AS band2,
                   md5(array_to_string(
                       list_sort(list(band || ':' || sig)), '')) AS sig2
            FROM sigs
            GROUP BY doc_id, band // 2
        ),
        eligible AS (
            SELECT doc_id, band2, sig2 FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band2, sig2) AS bn
                FROM banded
            ) WHERE bn > 1 AND bn <= {MAX_BUCKET}
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM eligible a JOIN eligible b
              ON a.band2 = b.band2 AND a.sig2 = b.sig2
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                   / len(x.shingles) AS containment_a,
               CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                   / len(y.shingles) AS containment_b
        FROM cand c
        JOIN shingled_ne x ON c.doc_a = x.doc_id
        JOIN shingled_ne y ON c.doc_b = y.doc_id
        WHERE GREATEST(
            CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                / len(x.shingles),
            CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                / len(y.shingles)) >= {CONTAINMENT_MIN}
    """,
    doc="directional containment near-dup (excerpt/quote detection): "
        "shared banded-minhash candidates, per-direction overlap verify",
    tags=("dedup", "north-star", "minhash", "join"),
))


# ---------------------------------------------------------------------------
# Cross-source duplicate flow: which sources copy from which.
# ---------------------------------------------------------------------------
# The curation diagnostic built on the verified near-dup pairs: group
# confirmed duplicates (jaccard >= threshold) by their (source_a,
# source_b) and report pair volume + similarity mass.  At 100 TB the
# verified pair set is tiny relative to the corpus, so attaching
# sources is two joins of a small pair table against the (doc_id,
# source) projection of documents — the text/shingles never re-enter a
# shuffle here.

SOURCE_FLOW_JACCARD = 0.5


def q_dedup_source_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.functions.exact import davg

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= SOURCE_FLOW_JACCARD))
    meta_a = docs.select(F.col("doc_id").alias("doc_a"),
                         F.col("source").alias("source_a"))
    meta_b = docs.select(F.col("doc_id").alias("doc_b"),
                         F.col("source").alias("source_b"))
    return (pairs.join(meta_a, "doc_a").join(meta_b, "doc_b")
            .groupBy("source_a", "source_b")
            .agg(F.count("*").alias("n_pairs"),
                 davg("jaccard", "avg_jaccard")))


def _source_flow_oracle() -> str:
    from cga_logs_to_kinesis_spark.registry import _REGISTRY

    lsh = _REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
        WITH pairs AS ({lsh})
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_pairs,
               CAST(SUM(CAST(p.jaccard AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(p.jaccard) AS avg_jaccard
        FROM pairs p
        JOIN documents a ON p.doc_a = a.doc_id
        JOIN documents b ON p.doc_b = b.doc_id
        WHERE p.jaccard >= {SOURCE_FLOW_JACCARD}
        GROUP BY 1, 2
    """


register(QuerySpec(
    "dedup_source_flow", q_dedup_source_flow,
    oracle=_source_flow_oracle(),
    doc=f"cross-source duplicate flow (verified near-dup pairs with "
        f"jaccard >= {SOURCE_FLOW_JACCARD}, grouped by source pair) — "
        "the who-copies-whom curation diagnostic",
    tags=("dedup", "north-star", "minhash", "report"),
))


# ---------------------------------------------------------------------------
# SimHash pair generation: block-banded Hamming join.
# ---------------------------------------------------------------------------
# The standard simhash search structure (Manku et al., WWW 2007,
# "Detecting near-duplicates for web crawling"): split the b-bit
# fingerprint into d+1 blocks; any pair within Hamming distance d
# shares at least one identical block (pigeonhole), so candidates come
# from equality joins on (block_id, block_value) — never a cross
# product — and the exact Hamming check runs on candidates only.
# 16 bits / 4 blocks → guarantee for d <= 3.  Hot blocks (a common
# 4-bit pattern) are capped like every other banded path here.
#
# Width note: 16 bits keeps every nibble oracle-checkable through the
# md5-hex vote trick, but it is deliberately coarse — on this
# narrow-vocabulary fixture a large share of doc pairs land within
# d=3, so the pair set is big.  Production simhash is 64-bit (Manku
# use 64 with 4-6 blocks); widening SIMHASH_BITS scales the same
# topology with ~2^48x more fingerprint space and proportionally
# selective blocks.

SIMHASH_BLOCKS = 4
SIMHASH_HAMMING_MAX = 3
SIMHASH_MAX_BLOCK = 1000


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    # (doc_id, simhash) is two-shuffle work reused by the block explode
    # and both verify sides — materialize the doc-count-sized result.
    fps = simhash_fingerprints(docs).localCheckpoint()
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    blocks = fps.select(
        "doc_id",
        F.explode(F.sequence(
            F.lit(0), F.lit(SIMHASH_BLOCKS - 1))).alias("block_id"),
        "simhash").select(
        "doc_id", "block_id",
        F.expr(f"shiftrightunsigned(simhash, block_id * {width}) "
               f"& {(1 << width) - 1}").alias("block_val"))
    from cga_logs_to_kinesis_spark.functions.buckets import (
        bucket_bounded,
    )

    # hot-block cap via the partial-agg bucket_bounded shape (blocks
    # derive from the checkpointed fps by a row-local bit explode, so
    # the double evaluation the join implies is scan-cheap)
    eligible = bucket_bounded(blocks, ["block_id", "block_val"],
                              lo=2, hi=SIMHASH_MAX_BLOCK)
    a = eligible.select(F.col("doc_id").alias("doc_a"),
                        "block_id", "block_val")
    b = eligible.select(F.col("doc_id").alias("doc_b"),
                        "block_id", "block_val")
    cand = (a.join(b, ["block_id", "block_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    fa = fps.select(F.col("doc_id").alias("doc_a"),
                    F.col("simhash").alias("fp_a"))
    fb = fps.select(F.col("doc_id").alias("doc_b"),
                    F.col("simhash").alias("fp_b"))
    return (cand.join(fa, "doc_a").join(fb, "doc_b")
            .withColumn("hamming",
                        F.expr("bit_count(fp_a ^ fp_b)").cast("long"))
            .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
            .select("doc_a", "doc_b", "hamming"))


def _simhash_pairs_oracle() -> str:
    from cga_logs_to_kinesis_spark.registry import _REGISTRY

    fps = _REGISTRY["dedup_simhash"].oracle
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    return f"""
        WITH fps AS ({fps}),
        blocks AS (
            SELECT doc_id, b.block_id,
                   (simhash >> (b.block_id * {width}))
                       & {(1 << width) - 1} AS block_val
            FROM fps,
                 (SELECT unnest(range(0, {SIMHASH_BLOCKS}))
                      AS block_id) b
        ),
        eligible AS (
            SELECT doc_id, block_id, block_val FROM (
                SELECT *, COUNT(*) OVER (
                    PARTITION BY block_id, block_val) AS bn
                FROM blocks
            ) WHERE bn > 1 AND bn <= {SIMHASH_MAX_BLOCK}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM eligible a JOIN eligible b
              ON a.block_id = b.block_id AND a.block_val = b.block_val
             AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT)
                   AS hamming
        FROM cand c
        JOIN fps x ON c.doc_a = x.doc_id
        JOIN fps y ON c.doc_b = y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash))
              <= {SIMHASH_HAMMING_MAX}
    """


register(QuerySpec(
    "dedup_simhash_pairs", q_dedup_simhash_pairs,
    oracle=_simhash_pairs_oracle(),
    doc=f"simhash near-dup pairs via block-banded Hamming join "
        f"(Manku et al.: {SIMHASH_BLOCKS} blocks guarantee detection "
        f"at Hamming <= {SIMHASH_HAMMING_MAX}; hot-block capped)",
    tags=("dedup", "north-star", "simhash", "join"),
))


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better", 2022 — the suffix-array family)
# ---------------------------------------------------------------------------
# Winnowing/minhash find *probabilistic* overlap; training pipelines
# also remove *exact* duplicated spans >= L tokens (memorization-prone
# boilerplate, licenses, quoted passages).  The suffix-array algorithm
# is inherently sequential; the Spark-shaped equivalent is its n-gram
# formulation: a span of >= L tokens duplicated anywhere in the corpus
# is exactly a maximal run of L-token grams whose digests occur >= 2
# times corpus-wide.  Topology:
#
#   1. grams: row-local tokenize + slide (scan-bound, like winnowing);
#      only (digest int64, doc_id, pos int) ever leaves the row — the
#      digest-only-shuffle discipline of dedup_exact.
#   2. duplicated grams: groupBy(digest) occurrence counts (map-side
#      partial aggregation — a boilerplate digest collapses to one
#      row per map partition before the exchange) filtered to the
#      duplicated digests, then an equi-join back to the checkpointed
#      gram table.  NOT a count-over-Window(digest): the partition-
#      only window would ship a hot digest's every occurrence to one
#      reducer and sort them there (no partials), the ngram_novelty
#      skew collapse.  No self-join either way, so no pair explosion
#      — a gram shared by n docs costs n rows, not n² — and the probe
#      join is a plain shuffle join AQE's skew split can carve.
#   3. span assembly: gap-and-island per doc over int positions (ONE
#      exchange keyed by doc_id).
#
# At 100 TB the gram table is ~tokens x 28 B; the digest count table
# after the >= MIN_OCC filter is only the DUPLICATED vocabulary, so
# the join's build side is corpus-duplication-sized, not corpus-sized.

SUBSTRING_L = 20      # span threshold in tokens (Lee et al. use 50 BPE
                      # tokens; this fixture's docs average ~54 words)
SUBSTRING_MIN_OCC = 2


def duplicated_spans(docs: DataFrame, spark: SparkSession,
                     l: int = SUBSTRING_L) -> DataFrame:
    """(doc_id, span_start, span_len, n_dup_grams): maximal token
    spans duplicated (>= SUBSTRING_MIN_OCC occurrences corpus-wide,
    intra-document repeats included, matching Lee et al.'s any-repeat
    definition).  span_start is 1-based; overlapping or adjacent
    duplicated grams merge (pos gap <= l) so each output row is one
    maximal duplicated region."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import norm_tokens

    grams = F.expr(
        f"transform(sequence(1, size(_toks) - {l - 1}), "
        f"i -> struct(i AS pos, "
        f"cast(conv(substring(md5(concat_ws(' ', slice(_toks, i, {l}))), "
        f"1, 15), 16, 10) as bigint) AS digest))")
    # localCheckpoint: the gram explode feeds both the digest counts
    # and the probe side of the dup filter — without the cut the
    # md5-explode subtree runs twice (the shingle-front discipline).
    g = (widen_for_explode(docs, "doc_id")
         .withColumn("_toks", norm_tokens())
         .filter(F.size("_toks") >= l)
         .select("doc_id", F.explode(grams).alias("g"))
         .select("doc_id", "g.pos", "g.digest")
         .localCheckpoint())
    # Occurrence counting as groupBy, NOT count().over(Window(digest)):
    # a boilerplate 20-gram makes digest a hot key, and a
    # partition-only WindowExec ships every one of its occurrences to
    # one reducer and sorts them (no map-side partials) — the same
    # skew collapse ngram_novelty's fold had.  The groupBy's partial
    # count collapses the hot digest to one row per map partition, the
    # filtered build side carries only DUPLICATED digests, and the
    # probe join is a plain equi-join AQE's skew split can carve up.
    dup_digests = (g.groupBy("digest")
                   .agg(F.count("*").alias("_n"))
                   .filter(F.col("_n") >= SUBSTRING_MIN_OCC)
                   .select("digest"))
    dup = g.join(dup_digests, "digest").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > l), 1).otherwise(0)
    return (dup
            .withColumn("_island", F.sum(brk).over(w))
            .groupBy("doc_id", "_island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") - F.min("pos") + l).alias("span_len"),
                 F.count("*").alias("n_dup_grams"))
            .select("doc_id", "span_start", "span_len", "n_dup_grams"))


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return duplicated_spans(load_table(spark, sf_dir, "documents"), spark)


def _substring_spans_sql(l: int = SUBSTRING_L) -> str:
    """Shared CTE chain ending in `spans` (used by both substring
    queries; same composition reuse as the simhash/winnow oracles)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        NORM_TOKENS_SQL,
    )

    return f"""
        base AS (SELECT doc_id, {NORM_TOKENS_SQL} AS toks FROM documents),
        grams AS (
            SELECT doc_id, t.i AS pos,
                   CAST(('0x' || substr(md5(array_to_string(
                       list_slice(toks, t.i, t.i + {l - 1}), ' ')), 1, 15))
                       AS BIGINT) AS digest
            FROM base, UNNEST(range(1, len(toks) - {l - 1} + 1)) AS t(i)
            WHERE len(toks) >= {l}
        ),
        dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       COUNT(*) OVER (PARTITION BY digest) AS n
                FROM grams
            ) WHERE n >= {SUBSTRING_MIN_OCC}
        ),
        isl AS (
            SELECT doc_id, pos,
                   SUM(CASE WHEN prev IS NULL OR pos - prev > {l}
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM (SELECT doc_id, pos,
                         LAG(pos) OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS prev
                  FROM dup)
        ),
        spans AS (
            SELECT doc_id, MIN(pos) AS span_start,
                   MAX(pos) - MIN(pos) + {l} AS span_len,
                   COUNT(*) AS n_dup_grams
            FROM isl GROUP BY doc_id, island
        )"""


register(QuerySpec(
    "dedup_substring", q_dedup_substring,
    oracle=f"""
        WITH {_substring_spans_sql().strip()}
        SELECT doc_id, span_start, span_len, n_dup_grams FROM spans
    """,
    doc=f"exact-substring dedup (Lee et al. n-gram formulation): "
        f"maximal token spans >= {SUBSTRING_L} duplicated corpus-wide; "
        "digest-only shuffles, no self-join",
    tags=("dedup", "north-star", "substring", "window"),
))


def q_dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-content report over ALL docs: how much
    of each document lies inside an exact duplicated span — the
    "drop documents that are mostly boilerplate" curation gate (Lee
    et al. remove one copy of each span; pipelines often instead drop
    docs above a dup_fraction threshold).  Span rows are tiny, so the
    join back to per-doc token counts is broadcast-shaped; text still
    never shuffles."""
    tune_session(spark)
    from cga_logs_to_kinesis_spark.operators.corpus_quality import norm_tokens

    docs = load_table(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, spark)
    per_doc = (spans.groupBy("doc_id")
               .agg(F.count("*").alias("n_spans"),
                    F.sum("span_len").alias("dup_tokens")))
    return (docs
            .select("doc_id", F.size(norm_tokens()).alias("n_toks"))
            .join(per_doc, "doc_id", "left")
            .select("doc_id", "n_toks",
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
                    # try_divide: token-less docs have n_toks=0; ANSI
                    # would throw where the oracle yields NULL
                    F.try_divide(
                        F.coalesce("dup_tokens", F.lit(0)).cast("double"),
                        F.col("n_toks")).alias("dup_fraction")))


register(QuerySpec(
    "dedup_substring_stats", q_dedup_substring_stats,
    oracle=f"""
        WITH {_substring_spans_sql().strip()},
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_spans,
                   CAST(SUM(span_len) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT b.doc_id, len(b.toks) AS n_toks,
               COALESCE(p.n_spans, 0) AS n_spans,
               COALESCE(p.dup_tokens, 0) AS dup_tokens,
               CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(b.toks)
                   AS dup_fraction
        FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="per-document exact-duplicated-content fraction (the drop-"
        "mostly-boilerplate curation gate over dedup_substring spans)",
    tags=("dedup", "north-star", "substring", "quality"),
))


def q_dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup: Lee et al. remove
    all but ONE copy of each duplicated span; the gram-level policy
    here keeps, for every duplicated gram digest, its first corpus
    occurrence (min (doc_id, pos)) and drops every token covered by a
    later occurrence.  Output is the rebuilt text per document.

    Topology: ONE groupBy(digest) computes both the occurrence count
    and the first-occurrence winner (min (doc_id, pos) struct) with
    map-side partials — no digest window, no reducer-side sort of a
    hot digest's occurrence list; loser start positions fold to a
    per-doc int array; the single text-bearing shuffle is the final
    doc_id join that attaches those arrays for the row-local rebuild
    (the prune_frequent_tokens analogue, except the per-doc mask
    genuinely cannot be a broadcast: it is corpus-fraction-sized, so
    it rides a plain equi-join AQE can promote when small)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )

    l = SUBSTRING_L
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    base = (widen_for_explode(docs, "doc_id")
            .select("doc_id", norm_tokens().alias("_toks")))
    grams = F.expr(
        f"transform(sequence(1, size(_toks) - {l - 1}), "
        f"i -> struct(i AS pos, "
        f"cast(conv(substring(md5(concat_ws(' ', slice(_toks, i, {l}))), "
        f"1, 15), 16, 10) as bigint) AS digest))")
    g = (base.filter(F.size("_toks") >= l)
         .select("doc_id", F.explode(grams).alias("g"))
         .select("doc_id", "g.pos", "g.digest")
         .localCheckpoint())        # feeds the stats AND the probe
    # Occurrence count + first-occurrence winner as ONE partial-agg
    # groupBy instead of the count()/row_number() window pair: "every
    # occurrence with rn >= 2" is exactly "every occurrence that is
    # not min (doc_id, pos)", and min over a struct folds map-side —
    # where the windows would sort a boilerplate digest's entire
    # occurrence list on one reducer (the ngram_novelty skew collapse,
    # plan-pinned away by test_plans.py).  The build side keeps only
    # duplicated digests; the probe join is AQE-skew-splittable.
    stats = (g.groupBy("digest")
             .agg(F.count("*").alias("_n"),
                  F.min(F.struct("doc_id", "pos")).alias("_first"))
             .filter(F.col("_n") >= SUBSTRING_MIN_OCC)
             .select("digest", "_first"))
    losers = (g.join(stats, "digest")
              .filter((F.col("doc_id") != F.col("_first.doc_id"))
                      | (F.col("pos") != F.col("_first.pos")))
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list("pos")).alias("starts")))
    kept = F.expr(f"""
        filter(transform(_toks, (t, i) -> struct(t AS t, i + 1 AS p)),
               s -> size(filter(starts,
                                st -> st between s.p - {l - 1} and s.p))
                    = 0)
    """)
    return (base.join(losers, "doc_id", "left")
            .withColumn("starts",
                        F.coalesce("starts", F.expr("array()")))
            .withColumn("_kept", kept)
            .select(
                "doc_id",
                F.size("_kept").cast("long").alias("n_kept"),
                (F.size("_toks") - F.size("_kept")).cast("long")
                .alias("n_removed"),
                F.expr("concat_ws(' ', transform(_kept, x -> x.t))")
                .alias("dedup_text")))


def _substring_apply_oracle(l: int = SUBSTRING_L) -> str:
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        NORM_TOKENS_SQL,
    )

    return f"""
        WITH base AS (
            SELECT doc_id, {NORM_TOKENS_SQL} AS toks FROM documents
        ),
        grams AS (
            SELECT doc_id, t.i AS pos,
                   CAST(('0x' || substr(md5(array_to_string(
                       list_slice(toks, t.i, t.i + {l - 1}), ' ')), 1, 15))
                       AS BIGINT) AS digest
            FROM base, UNNEST(range(1, len(toks) - {l - 1} + 1)) AS t(i)
            WHERE len(toks) >= {l}
        ),
        occ AS (
            SELECT doc_id, pos,
                   COUNT(*) OVER (PARTITION BY digest) AS n,
                   ROW_NUMBER() OVER (PARTITION BY digest
                                      ORDER BY doc_id, pos) AS rn
            FROM grams
        ),
        losers AS (
            SELECT doc_id, list(pos ORDER BY pos) AS starts
            FROM occ WHERE n >= {SUBSTRING_MIN_OCC} AND rn >= 2
            GROUP BY doc_id
        )
        SELECT doc_id,
               len(kept) AS n_kept,
               len(toks) - len(kept) AS n_removed,
               COALESCE(array_to_string(kept, ' '), '') AS dedup_text
        FROM (
            SELECT b.doc_id, b.toks,
                   list_transform(
                       list_filter(range(1, len(b.toks) + 1),
                           i -> len(list_filter(
                                    COALESCE(lo.starts, []),
                                    st -> st >= i - {l - 1}
                                          AND st <= i)) = 0),
                       i -> b.toks[i]) AS kept
            FROM base b LEFT JOIN losers lo USING (doc_id)
        )
    """


register(QuerySpec(
    "dedup_substring_apply", q_dedup_substring_apply,
    oracle=_substring_apply_oracle(),
    doc=f"exact-substring dedup, removal half: keep each duplicated "
        f">= {SUBSTRING_L}-token span's first corpus occurrence, strip "
        "every later copy, rebuild text (one digest exchange computes "
        "both windows; row-local rebuild)",
    tags=("dedup", "north-star", "substring", "window"),
))


# ---------------------------------------------------------------------------
# Near-dup survivors: the corpus after component-level dedup
# ---------------------------------------------------------------------------
# dedup_components labels clusters; this is the APPLY half users run:
# keep each component's min-id representative (the min-label IS the
# component id), drop the other members, pass untouched docs through.
# Composes the same verified-LSH edge front, so the only work beyond
# the component computation is one anti join on doc_id.

def q_dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    edges = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD))
    comp = connected_components(edges)
    non_reps = (comp.filter(F.col("doc") != F.col("comp"))
                .select(F.col("doc").alias("doc_id")))
    return (docs.join(non_reps, "doc_id", "left_anti")
            .select("doc_id", "source", "lang", "n_chars"))


register(QuerySpec(
    "dedup_near_survivors", q_dedup_near_survivors,
    oracle=f"""
        WITH RECURSIVE lsh AS (
            {_REGISTRY["dedup_minhash_lsh"].oracle}
        ),
        edges AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        )
        SELECT d.doc_id, d.source, d.lang, d.n_chars
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM comp c
                          WHERE c.doc_id = d.doc_id
                            AND c.doc_id <> c.component)
    """,
    doc="near-dup dedup APPLY: keep each component's min-id "
        "representative, drop other members, pass singletons through",
    tags=("dedup", "north-star", "apply"),
))


# ---------------------------------------------------------------------------
# Dedup recall report: measure the banding S-curve, don't guess it
# ---------------------------------------------------------------------------
# The ann_recall_report analog for near-dup: ground truth is exact
# all-pairs word-shingle Jaccard on a BOUNDED deterministic sample
# (doc_id < 300 → ≤ 44 850 pairs regardless of corpus size — the
# bound is the design; never run all-pairs on the corpus), candidates
# are the production full-corpus LSH path restricted to the sample.
# Verification makes precision 1.0 by construction, so the report is
# (n_truth, n_found, recall): how much real similarity the b=8/r=2
# banding surface actually captures at the component threshold.

DEDUP_RECALL_SAMPLE = 300


def q_dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    sample = docs.filter(F.col("doc_id") < DEDUP_RECALL_SAMPLE)
    sh = shingle_docs(sample).localCheckpoint()
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("shingles").alias("sh_b"))
    jac = (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
           / F.size(F.array_union("sh_a", "sh_b")))
    # broadcast nested-loop all-pairs: legitimate ONLY because the
    # sample is a fixed-size diagnostic window
    truth = (a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
             .filter(jac >= JACCARD_EDGE_THRESHOLD)
             .select("doc_a", "doc_b"))
    found = (minhash_candidates(docs)
             .filter((F.col("jaccard") >= JACCARD_EDGE_THRESHOLD)
                     & (F.col("doc_a") < DEDUP_RECALL_SAMPLE)
                     & (F.col("doc_b") < DEDUP_RECALL_SAMPLE))
             .select("doc_a", "doc_b"))
    nt = truth.agg(F.count("*").alias("n_truth"))
    nf = found.agg(F.count("*").alias("n_found"))
    # NaN, not NULL, for the zero-truth case: the driver's pandas
    # canonicalizer renders a NULL float64 cell as NaN on the oracle
    # side, so a NULL here hash-mismatches at any SF whose sample
    # window happens to contain no true near-dup pairs (seen at
    # sf0.1).  NaN is also the honest value — recall is undefined,
    # not zero.
    return (nt.crossJoin(F.broadcast(nf))
            .select("n_truth", "n_found",
                    F.when(F.col("n_truth") > 0,
                           F.col("n_found").cast("double")
                           / F.col("n_truth"))
                    .otherwise(F.lit(float("nan"))).alias("recall")))


register(QuerySpec(
    "dedup_recall_report", q_dedup_recall_report,
    oracle=f"""
        WITH sdocs AS (
            SELECT * FROM documents WHERE doc_id < {DEDUP_RECALL_SAMPLE}
        ),
        stoks AS (
            SELECT doc_id,
                   regexp_split_to_array({NORMALIZED_SQL}, ' ') AS t
            FROM sdocs
        ),
        ssh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(t) >= {SHINGLE_K}
                       THEN list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                            i -> array_to_string(list_slice(t, i,
                                 i + {SHINGLE_K - 1}), ' '))
                       ELSE [] END) AS shingles
            FROM stoks
        ),
        ssh_ne AS (SELECT * FROM ssh WHERE len(shingles) > 0),
        truth AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM ssh_ne a JOIN ssh_ne b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.shingles, b.shingles))
                       AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles,
                                                  b.shingles)))
                  >= {JACCARD_EDGE_THRESHOLD}
        ),
        lsh AS (
            {_REGISTRY["dedup_minhash_lsh"].oracle}
        ),
        found AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
              AND doc_a < {DEDUP_RECALL_SAMPLE}
              AND doc_b < {DEDUP_RECALL_SAMPLE}
        )
        SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM found) AS n_found,
               CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                    THEN CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
                         / (SELECT COUNT(*) FROM truth)
                    ELSE 'NaN'::DOUBLE
               END AS recall
    """,
    doc="banding recall scorecard: full-corpus LSH candidates vs "
        "exact all-pairs Jaccard on a bounded deterministic sample "
        "(precision is 1.0 by verification)",
    tags=("dedup", "north-star", "evaluation"),
))


# ---------------------------------------------------------------------------
# Dedup tuning reports: cluster-size histogram + threshold sweep
# ---------------------------------------------------------------------------
# Two questions every curation run answers BEFORE committing to a
# dedup pass: "what does the duplicate-cluster size distribution look
# like?" (a heavy tail of giant clusters means boilerplate/template
# mass that exact dedup should remove first) and "how much would each
# Jaccard threshold collapse?" (the S-curve knob is useless without
# the corpus's own pair-similarity histogram).  Both reuse fronts that
# already exist — components and the verified LSH pair table — so
# their marginal cost is one aggregate each.

def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram over the near-dup clusters: one row
    per cluster size with the number of clusters, docs covered, and
    the min component label as a stable example.  The removable-doc
    count per size ((size-1) x n_clusters) is the dedup yield
    forecast.  Scale: the label table is corpus-fraction-sized; the
    histogram is two tiny aggs on top of the iterative front."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    edges = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD))
    comp = connected_components(edges)
    sizes = comp.groupBy("comp").agg(
        F.count("*").alias("component_size"))
    return (sizes.groupBy("component_size")
            .agg(F.count("*").alias("n_components"),
                 F.sum("component_size").alias("n_docs"),
                 F.sum(F.col("component_size") - 1)
                 .alias("n_removable"),
                 F.min("comp").alias("example_component"))
            .orderBy("component_size"))


register(QuerySpec(
    "dedup_cluster_stats", q_dedup_cluster_stats,
    oracle=f"""
        WITH RECURSIVE lsh AS (
            {_REGISTRY["dedup_minhash_lsh"].oracle}
        ),
        edges AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        ),
        sizes AS (
            SELECT component, COUNT(*) AS component_size
            FROM comp GROUP BY component
        )
        SELECT component_size,
               COUNT(*) AS n_components,
               COUNT(*) * component_size AS n_docs,
               COUNT(*) * (component_size - 1) AS n_removable,
               MIN(component) AS example_component
        FROM sizes
        GROUP BY component_size
        ORDER BY component_size
    """,
    doc="near-dup cluster-size histogram with per-size dedup yield "
        "forecast (n_removable) — the pre-flight report before "
        "committing a dedup pass",
    tags=("dedup", "north-star", "report", "iterative"),
))


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair counts per 0.1-wide Jaccard bin over the verified LSH
    front, with the cumulative pairs-collapsed-at-or-above each bin —
    the corpus's own similarity histogram, read directly against the
    (b, r) S-curve when choosing the dedup threshold.  Bin edges are
    exact decimal multiples so both engines bucket identically.
    Scale: one agg + one tiny window over the already-verified pair
    table; no new LSH pass."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidates(docs)
    binned = pairs.select(
        (F.floor(F.col("jaccard") * 10) / 10).alias("jaccard_bin"))
    w = Window.orderBy(F.col("jaccard_bin").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (binned.groupBy("jaccard_bin")
            .agg(F.count("*").alias("n_pairs"))
            # the histogram is <= 11 rows by construction (0.0..1.0 in
            # 0.1 bins), so the global-order window runs on one tiny
            # partition on purpose; coalesce silences the planner's
            # single-partition warning without changing the plan shape
            .coalesce(1)
            .withColumn("n_pairs_at_or_above",
                        F.sum("n_pairs").over(w))
            .orderBy("jaccard_bin"))


register(QuerySpec(
    "dedup_threshold_sweep", q_dedup_threshold_sweep,
    oracle=f"""
        WITH lsh AS (
            {_REGISTRY["dedup_minhash_lsh"].oracle}
        ),
        binned AS (
            SELECT FLOOR(jaccard * 10) / 10 AS jaccard_bin,
                   COUNT(*) AS n_pairs
            FROM lsh
            GROUP BY 1
        )
        SELECT jaccard_bin, n_pairs,
               CAST(SUM(n_pairs) OVER (ORDER BY jaccard_bin DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_pairs_at_or_above
        FROM binned
        ORDER BY jaccard_bin
    """,
    doc="verified-pair Jaccard histogram (0.1 bins) with cumulative "
        "collapse counts per candidate threshold — the tuning report "
        "behind the dedup threshold knob",
    tags=("dedup", "north-star", "report", "agg"),
))


# ---------------------------------------------------------------------------
# Quality-aware near-dup APPLY: keep each component's BEST member
# ---------------------------------------------------------------------------
# dedup_near_survivors keeps the min-id representative — deterministic
# but quality-blind.  Production curation (RefinedWeb and kin) keeps
# the LONGEST member of each near-dup cluster: duplicates are usually
# truncations/excerpts of one canonical page, so "longest" is the
# best-information survivor.  Same verified-LSH component front; the
# only extra work is one broadcast-scale window over the (tiny) label
# table joined to doc lengths.

def q_dedup_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    edges = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD))
    comp = connected_components(edges)
    members = (comp.join(docs.select("doc_id", "n_chars"),
                         F.col("doc") == F.col("doc_id"))
               .select("doc", "comp", "n_chars"))
    w = Window.partitionBy("comp").orderBy(
        F.col("n_chars").desc(), F.col("doc"))
    losers = (members
              .withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") > 1)
              .select(F.col("doc").alias("doc_id")))
    return (docs.join(losers, "doc_id", "left_anti")
            .select("doc_id", "source", "lang", "n_chars"))


register(QuerySpec(
    "dedup_best_survivors", q_dedup_best_survivors,
    oracle=f"""
        WITH RECURSIVE lsh AS (
            {_REGISTRY["dedup_minhash_lsh"].oracle}
        ),
        edges AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        ),
        ranked AS (
            SELECT c.doc,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.component
                       ORDER BY d.n_chars DESC, c.doc) AS rn
            FROM comp c JOIN documents d ON c.doc = d.doc_id
        )
        SELECT d.doc_id, d.source, d.lang, d.n_chars
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM ranked r
                          WHERE r.doc = d.doc_id AND r.rn > 1)
    """,
    doc="quality-aware near-dup APPLY: keep each component's LONGEST "
        "member (RefinedWeb-style best-information survivor, ties -> "
        "min id), drop the rest, pass singletons through",
    tags=("dedup", "north-star", "apply"),
))


def q_dedup_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: weight 1/cluster_size per document instead of
    dropping — the D4/SoftDeDup policy (duplicates carry signal about
    distribution; deleting them shifts the training mixture, while
    downweighting preserves it at equal effective epochs).  Singletons
    get weight 1.0.  Same component front; the only added work is one
    count per cluster and a left join back — both on the tiny label
    table, the corpus never re-shuffles."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    edges = (minhash_candidates(docs)
             .filter(F.col("jaccard") >= JACCARD_EDGE_THRESHOLD))
    comp = connected_components(edges)
    sizes = comp.groupBy("comp").agg(
        F.count("*").alias("cluster_size"))
    member = (comp.join(sizes, "comp")
              .select(F.col("doc").alias("doc_id"), "cluster_size"))
    return (docs.select("doc_id", "source")
            .join(F.broadcast(member), "doc_id", "left")
            .select("doc_id", "source",
                    F.coalesce("cluster_size", F.lit(1))
                    .cast("bigint").alias("cluster_size"),
                    (F.lit(1.0)
                     / F.coalesce("cluster_size", F.lit(1))
                     .cast("double")).alias("weight"))
            .orderBy("doc_id"))


register(QuerySpec(
    "dedup_downweight", q_dedup_downweight,
    oracle=f"""
        WITH RECURSIVE lsh AS (
            {_REGISTRY["dedup_minhash_lsh"].oracle}
        ),
        edges AS (
            SELECT doc_a, doc_b FROM lsh
            WHERE jaccard >= {JACCARD_EDGE_THRESHOLD}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        ),
        sizes AS (
            SELECT component, COUNT(*) AS cluster_size
            FROM comp GROUP BY component
        ),
        member AS (
            SELECT c.doc AS doc_id, s.cluster_size
            FROM comp c JOIN sizes s ON c.component = s.component
        )
        SELECT d.doc_id, d.source,
               CAST(COALESCE(m.cluster_size, 1) AS BIGINT)
                   AS cluster_size,
               1.0 / CAST(COALESCE(m.cluster_size, 1) AS DOUBLE)
                   AS weight
        FROM documents d LEFT JOIN member m ON d.doc_id = m.doc_id
        ORDER BY d.doc_id
    """,
    doc="soft dedup: per-doc training weight 1/cluster_size over the "
        "near-dup components (downweight duplicates instead of "
        "dropping — preserves the corpus distribution)",
    tags=("dedup", "north-star", "apply", "weighting"),
))


# ---------------------------------------------------------------------------
# N-gram novelty: the dataset-redundancy curve
# ---------------------------------------------------------------------------
# The dedup family answers "which docs are copies"; this answers the
# curation question underneath it: how much of each document's
# content is NEW to the corpus at all?  Per doc, the share of its
# distinct char-K-gram fingerprints whose corpus-wide FIRST
# occurrence (min doc_id) is this doc — 1.0 for genuinely fresh
# text, near 0 for boilerplate re-crawls, and the aggregate curve is
# the diminishing-returns signal dataset scaling decisions read.
#
# Scale shape: shingles travel as 60-bit md5-prefix fingerprints
# (the char_shingle_docs front — the shuffles carry bigints, never
# text), and first-occurrence is a partial-agg-friendly
# ``groupBy(fp).agg(min(doc_id))`` — NOT a window over fp.  The
# distinction is the whole 100 TB story: a partition-only WindowExec
# shuffles EVERY (doc_id, fp) pair to the fp's reducer and sorts,
# and char-5-gram fingerprints are maximally skew-prone (one
# boilerplate shingle appears in nearly every document), so the hot
# fp's reducer would sort billions of rows.  The groupBy's map-side
# partial MIN collapses that same hot fp to ONE row per map
# partition before the exchange — the shuffle carries |distinct fp|
# rows regardless of skew.  The mins then group by first_doc
# (n_novel per doc) and left-join the per-doc totals off the
# checkpointed shingle front (size(shingles) — no second explode).
# This is byte-identical to the streaming twin's consumer
# (streaming/corpus.py::ngram_novelty_from_store), which folds the
# same report from the persisted (fp -> min doc_id) + (doc ->
# n_ngrams) state; novelty is defined on doc_id, not arrival order,
# precisely so the MIN fold is permutation-invariant.

def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint BEFORE the explode: generating rows from the
    # un-materialized shingle column re-evaluates the md5 transform
    # chain under the Generate (measured 15.4s vs 0.4s for the same
    # 1M-row explode at sf0.1) — the same cut dedup_ngram_jaccard's
    # front takes.  The front is also the per-doc total table
    # (shingles are array_distinct'ed, so size(shingles) == the
    # exploded pair count per doc).
    sh = char_shingle_docs(docs).localCheckpoint()
    pairs = sh.select("doc_id", F.explode("shingles").alias("fp"))
    novel = (pairs.groupBy("fp")
             .agg(F.min("doc_id").alias("doc_id"))
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_novel")))
    per_doc = sh.select(
        "doc_id", F.size("shingles").cast("long").alias("n_ngrams"))
    return (per_doc.join(novel, "doc_id", "left")
            .select("doc_id", "n_ngrams",
                    F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
                    .alias("n_novel"))
            .withColumn(
                "novelty",
                F.col("n_novel").cast("double") / F.col("n_ngrams"))
            .orderBy("doc_id"))


register(QuerySpec(
    "ngram_novelty", q_ngram_novelty,
    oracle=f"""
        WITH {CHAR_SHINGLES_SQL.strip()},
        pairs AS (
            SELECT doc_id, u.fp
            FROM shingled_ne, UNNEST(shingles) AS u(fp)
        ),
        flagged AS (
            SELECT doc_id,
                   CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                        THEN 1 ELSE 0 END AS is_novel
            FROM pairs
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_ngrams,
               CAST(SUM(is_novel) AS BIGINT) AS n_novel,
               CAST(SUM(is_novel) AS DOUBLE) / COUNT(*) AS novelty
        FROM flagged
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc="per-doc n-gram novelty: share of the doc's distinct "
        "char-5-gram fingerprints first seen (min doc_id) in this "
        "doc — the dataset-redundancy curve; fingerprint-only "
        "shuffles, window MIN + one fold, no joins",
    tags=("dedup", "text", "quality", "north-star"),
))


def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level diminishing-returns curve: by ingest decile
    (doc_id order), how many fingerprints are seen at all vs seen for
    the FIRST time — cumulative novel/total is the marginal value of
    the next data tranche, the number a "do we crawl more of this
    source" decision actually reads.  ``ngram_novelty`` is the
    per-document view; this is its 10-row corpus fold.

    Scale shape: the same fingerprint-only front (one groupBy min per
    fp, one per-decile fold — decile is a row-local expression over
    the broadcast max doc_id, NOT an ntile window over the corpus);
    the only window is the running sum over the 10 decile rows."""
    from pyspark.sql import Window

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).first()[0] or 0
    sh = char_shingle_docs(docs).localCheckpoint()
    pairs = sh.select("doc_id", F.explode("shingles").alias("fp"))

    def decile(col):
        # integer DIV on both engines: DuckDB's CAST(double AS INT)
        # ROUNDS while Spark's truncates — floor division sidesteps
        # the divergence entirely
        return F.least(F.lit(9),
                       F.expr(f"{col} * 10 DIV {int(n) + 1}")
                       .cast("int")).alias("decile")

    first = (pairs.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
             .groupBy(decile("first_doc"))
             .agg(F.count("*").alias("new_fps")))
    tot = (pairs.groupBy(decile("doc_id"))
           .agg(F.count("*").alias("total_fps")))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (tot.join(first, "decile", "left")
            .select("decile", "total_fps",
                    F.coalesce(F.col("new_fps"), F.lit(0))
                    .alias("new_fps"))
            .withColumn("cum_new", F.sum("new_fps").over(w))
            .withColumn("cum_total", F.sum("total_fps").over(w))
            .withColumn("cum_novelty",
                        F.col("cum_new").cast("double")
                        / F.col("cum_total"))
            .orderBy("decile"))


register(QuerySpec(
    "novelty_curve", q_novelty_curve,
    oracle=f"""
        WITH {CHAR_SHINGLES_SQL.strip()},
        n AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        pairs AS (
            SELECT doc_id, u.fp
            FROM shingled_ne, UNNEST(shingles) AS u(fp)
        ),
        firsts AS (
            SELECT fp, MIN(doc_id) AS first_doc FROM pairs GROUP BY fp
        ),
        new_d AS (
            SELECT LEAST(9, CAST(first_doc * 10 // n.n AS INTEGER))
                       AS decile,
                   COUNT(*) AS new_fps
            FROM firsts, n GROUP BY 1
        ),
        tot_d AS (
            SELECT LEAST(9, CAST(doc_id * 10 // n.n AS INTEGER))
                       AS decile,
                   COUNT(*) AS total_fps
            FROM pairs, n GROUP BY 1
        )
        SELECT t.decile,
               CAST(t.total_fps AS BIGINT) AS total_fps,
               CAST(COALESCE(d.new_fps, 0) AS BIGINT) AS new_fps,
               CAST(SUM(COALESCE(d.new_fps, 0))
                    OVER (ORDER BY t.decile) AS BIGINT) AS cum_new,
               CAST(SUM(t.total_fps)
                    OVER (ORDER BY t.decile) AS BIGINT) AS cum_total,
               CAST(SUM(COALESCE(d.new_fps, 0))
                    OVER (ORDER BY t.decile) AS DOUBLE)
                   / SUM(t.total_fps) OVER (ORDER BY t.decile)
                   AS cum_novelty
        FROM tot_d t LEFT JOIN new_d d USING (decile)
        ORDER BY t.decile
    """,
    doc="corpus-level diminishing-returns curve: per ingest decile "
        "(doc_id order), total vs first-seen fingerprints with "
        "cumulative novelty — the marginal-value read behind "
        "crawl-more decisions; row-local decile bucketing, no corpus "
        "window",
    tags=("dedup", "text", "quality", "agg"),
))
