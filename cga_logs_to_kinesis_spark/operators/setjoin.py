"""Exact set-similarity join via prefix filtering (PPJoin-style).

Every near-dup member of the dedup family so far is *approximate* on
the candidate side: banded MinHash (``dedup_minhash_lsh``,
``dedup_containment``), banded char-shingle signatures
(``dedup_ngram_jaccard``), SimHash radius probing.  Banding trades
false negatives for pruning — a pair can clear the Jaccard threshold
yet never share a band bucket.  ``setjoin_prefix`` is the exact
counterpart: the prefix-filtering join of Chaudhuri/Ganti/Kaushik
(SSJoin, ICDE 2006) and Bayardo et al. (All-Pairs, WWW 2007) — ZERO
false negatives at the same word-shingle granularity as the MinHash
family, so it doubles as the ground truth those approximations are
recalled against (``dedup_recall_report`` estimates recall; this
operator *defines* it).

The filter: order every document's shingle set by a single global
total order (document frequency ascending, fingerprint ascending —
rarest first), and keep only the first ``p = n - ceil(T*n) + 1``
elements as the *prefix*.  For any pair with Jaccard >= T, the
smallest-ordered common shingle provably lies in BOTH prefixes: if it
escaped A's prefix, the whole intersection would fit inside A's
suffix, |A∩B| <= n_a - p_a = ceil(T*n_a) - 1 < T*n_a <= T*|A∪B| —
contradicting J >= T.  So an equi-join on prefix elements loses
nothing, and rare-first ordering makes the join keys the LEAST
skewed elements of every set.

100 TB topology: shingles travel as 60-bit md5-prefix fingerprints
(the ``char_shingle_docs`` convention — digests shuffle, never text;
an fp collision merges two shingles IDENTICALLY on both engines, so
cross-engine parity survives even that).  One vocabulary-keyed count
(partial aggs absorb the Zipf head), one doc_id-keyed rebuild (id
keys — skew-free; per-doc state is bounded by document length), an
equi-join on rare-by-construction prefix fps, then the same
width-pinned verify stage as ``dedup_ngram_jaccard``.  The length
filter (T*n_big <= n_small, checked in exact integer arithmetic)
prunes cross-size candidates inside the join.  Residual prefix-key
skew (a corpus that is mostly ONE boilerplate template puts common
fps into prefixes) is AQE skew-join territory — a bucket cap like
``bucket_bounded`` is deliberately NOT applied, because dropping a
hot bucket would reintroduce the false negatives this operator
exists to rule out; pathological boilerplate belongs to the
line-dedup family upstream.

Threshold arithmetic is integer-exact end to end: J >= TNUM/TDEN is
evaluated as ``n_inter * TDEN >= n_union * TNUM`` and the prefix
length uses ``ceil(T*n) = (n*TNUM + TDEN - 1) div TDEN`` — no float
threshold edge can diverge between engines; the reported ``jaccard``
is one division of exact integers.

Reference behavioral scope: the reference engine (main.go:1-426)
ships log lines and has no similarity surface; this operator is part
of the training-data-curation extension mandated for the Spark
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.operators.dedup import (
    MAX_BUCKET,
    N_BANDS,
    SHINGLES_SQL,
    lsh_candidate_ids,
    shingle_docs,
)
from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import (
    explode_parallelism,
    tune_session,
)
from cga_logs_to_kinesis_spark.sources import load_table

# J >= 1/2: the same separation band the fixture's planted near-dups
# sit in (word-shingle Jaccard of true pairs ~0.5-1.0, background
# pairs ~0) — and midway between dedup_minhash_lsh's banding target
# and dedup_source_flow's 0.5 verify.
SETJOIN_TNUM = 1
SETJOIN_TDEN = 2

_FP = ("transform(shingles, s -> "
       "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))")


# Shared oracle CTE blocks (the lm_quality.SURPRISAL_SQL_CTES
# convention): ONE definition of the fingerprint sets, the
# brute-force truth pairs, and the banded-minhash candidate surface,
# composed by the four oracles below — so a change to the fp cast,
# the threshold arithmetic, or dedup.py's banding constants cannot
# leave a stale hand-kept copy silently auditing a different surface.
_FSETS_CTES = """fsets AS (
            SELECT doc_id,
                   list_distinct(list_transform(shingles,
                       s -> CAST(('0x' || substr(md5(s), 1, 15))
                                 AS BIGINT))) AS fps
            FROM shingled_ne
        ),
        flat AS (
            SELECT doc_id, u.fp FROM fsets, UNNEST(fps) AS u(fp)
        ),
        n AS (SELECT doc_id, COUNT(*) AS n FROM flat GROUP BY doc_id)"""

# Brute-force self-join truth at J >= T (algorithm-independent of the
# prefix filter, so a filtering bug that loses a pair cannot cancel
# out — the driver compare catches it as a missing row).
_TRUTH_CTES = f"""bpairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_inter
            FROM flat a JOIN flat b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT doc_a, doc_b,
                   CAST(n_inter AS BIGINT) AS n_inter,
                   CAST(na.n + nb.n - n_inter AS BIGINT) AS n_union,
                   CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter)
                       AS jaccard
            FROM bpairs
            JOIN n na ON doc_a = na.doc_id
            JOIN n nb ON doc_b = nb.doc_id
            WHERE n_inter * {SETJOIN_TDEN}
                  >= (na.n + nb.n - n_inter) * {SETJOIN_TNUM}
        )"""

# The production banded-minhash candidate surface — the SQL replica
# of dedup.py's sigs/banded/eligible pipeline that the recall audits
# score (same constants, imported).
_LSH_CAND_CTES = f"""sigs AS (
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
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS _found
            FROM eligible a JOIN eligible b
              ON a.band2 = b.band2 AND a.sig2 = b.sig2
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )"""


def shingle_fp_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, fps: array<bigint>) — distinct 60-bit fingerprints of
    the word-K-shingle set, the join's working representation."""
    return (shingle_docs(docs)
            .select("doc_id",
                    F.array_distinct(F.expr(_FP)).alias("fps")))


def setjoin_pairs(docs: DataFrame) -> DataFrame:
    """All document pairs with word-shingle-set Jaccard >=
    SETJOIN_TNUM/SETJOIN_TDEN — EXACT (prefix-filtered candidates,
    full verify).  Columns: doc_a, doc_b, n_inter, n_union, jaccard."""
    spark = docs.sparkSession
    # One shingle+fingerprint pass feeds the frequency fold, the
    # ordered-prefix rebuild, and both verify sides (4 evaluations
    # without the cut — same discipline as minhash_candidates).
    sets = shingle_fp_sets(docs).localCheckpoint()
    flat = sets.select("doc_id", F.explode("fps").alias("fp"))
    dfreq = flat.groupBy("fp").agg(F.count("*").alias("df"))
    # Rebuild each document's set ordered by the GLOBAL (df, fp)
    # order.  collect_list is bounded by the document's own shingle
    # count; array_sort on struct(df, fp) is the lexicographic sort
    # both engines define identically.
    ordered = (flat.join(dfreq, "fp")
               .groupBy("doc_id")
               .agg(F.array_sort(
                   F.collect_list(F.struct("df", "fp"))).alias("o")))
    p_len = (f"size(o) - ((size(o) * {SETJOIN_TNUM} "
             f"+ {SETJOIN_TDEN - 1}) div {SETJOIN_TDEN}) + 1")
    # Checkpoint: pref feeds BOTH sides of the candidate self-join —
    # without the cut the dfreq join + doc_id rebuild (the plan's two
    # heaviest exchanges) run twice, once per side.  Measured 1.55x
    # at sf0.1; at scale it halves the occurrence-sized shuffle.
    # pos (1-based position in the GLOBAL (df, fp) order) rides along
    # for the positional filter below.
    pref = (ordered
            .select("doc_id", F.size("o").alias("n"),
                    F.expr(f"slice(o, 1, {p_len})").alias("pref"))
            .select("doc_id", "n",
                    F.posexplode("pref").alias("p0", "e"))
            .select("doc_id", "n", (F.col("p0") + 1).alias("pos"),
                    F.col("e.fp").alias("fp"))
            .localCheckpoint())
    a = pref.select(F.col("doc_id").alias("doc_a"),
                    F.col("n").alias("n_a"),
                    F.col("pos").alias("pos_a"), "fp")
    b = pref.select(F.col("doc_id").alias("doc_b"),
                    F.col("n").alias("n_b"),
                    F.col("pos").alias("pos_b"), "fp")
    # Length filter inside the join: J >= T forces
    # T * n_big <= n_small, as exact integers.  Plus PPJoin's
    # positional filter (Xiao et al., WWW 2008): a pair with
    # J >= T needs overlap alpha = ceil(T/(1+T) * (n_a + n_b)); a
    # match at (1-based) prefix positions (pos_a, pos_b) of the SHARED
    # global order bounds the overlap by 1 + min(n_a - pos_a,
    # n_b - pos_b), so occurrences that cannot reach alpha are dropped
    # BEFORE the pair-dedup exchange and the array-intersect verify.
    # Sound (zero false negatives): a qualifying pair's FIRST common
    # element in the global order satisfies the bound and lies in both
    # prefixes, so the pair always survives at least that occurrence.
    # Integer-exact: ubound >= ceil(p/q) <=> ubound * q >= p.
    # Measured at sf0.1: distinct candidate pairs 310 161 -> 124 961,
    # whole query 2.79 -> 2.12 s min-of-3.
    alpha_num = (F.col("n_a") + F.col("n_b")) * SETJOIN_TNUM
    ubound = 1 + F.least(F.col("n_a") - F.col("pos_a"),
                         F.col("n_b") - F.col("pos_b"))
    cand = (a.join(b, "fp")
            .filter((F.col("doc_a") < F.col("doc_b"))
                    & (F.col("n_a") * SETJOIN_TDEN
                       >= F.col("n_b") * SETJOIN_TNUM)
                    & (F.col("n_b") * SETJOIN_TDEN
                       >= F.col("n_a") * SETJOIN_TNUM)
                    & (ubound * (SETJOIN_TNUM + SETJOIN_TDEN)
                       >= alpha_num))
            .select("doc_a", "doc_b")
            # CPU-bound verify over byte-small input: pin the width so
            # AQE's size-based coalescing cannot collapse it to one
            # task (same reasoning as dedup_ngram_jaccard's verify).
            # Repartition FIRST: the distinct's (doc_a, doc_b) agg
            # reuses the user exchange, so the pair table crosses the
            # wire once instead of twice.
            .repartition(explode_parallelism(spark), "doc_a", "doc_b")
            .distinct())
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("fps").alias("f_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("fps").alias("f_b"))
    inter = F.size(F.array_intersect("f_a", "f_b")).cast("long")
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("n_inter", inter)
            .withColumn("n_union",
                        (F.size("f_a") + F.size("f_b")).cast("long")
                        - F.col("n_inter"))
            .filter(F.col("n_inter") * SETJOIN_TDEN
                    >= F.col("n_union") * SETJOIN_TNUM)
            .select("doc_a", "doc_b", "n_inter", "n_union",
                    (F.col("n_inter").cast("double")
                     / F.col("n_union")).alias("jaccard")))


def q_setjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return setjoin_pairs(load_table(spark, sf_dir, "documents"))


# The oracle is the BRUTE-FORCE join (candidates = any shared
# fingerprint, exact group-count intersection) — algorithm-independent
# of the prefix filter, so a filtering bug that loses a pair cannot
# cancel out: the driver compare would catch it as a missing row.
register(QuerySpec(
    "setjoin_prefix", q_setjoin_prefix,
    oracle=f"""
        WITH {SHINGLES_SQL.strip()},
        {_FSETS_CTES},
        {_TRUTH_CTES}
        SELECT doc_a, doc_b, n_inter, n_union, jaccard FROM truth
    """,
    doc="EXACT word-shingle Jaccard self-join (prefix filtering, "
        "SSJoin/All-Pairs): zero false negatives, unlike every "
        "banded-LSH member — the dedup family's ground truth",
    tags=("dedup", "north-star", "join", "exact"),
))


# ---------------------------------------------------------------------------
# lsh_recall_exact: the production LSH path audited against FULL truth
# ---------------------------------------------------------------------------
# dedup_recall_report measures the banding S-curve against exact
# all-pairs on a bounded SAMPLE (doc_id < 300 — all-pairs on the
# corpus was intractable, so the bound was the design).
# setjoin_prefix removes that constraint: prefix filtering makes the
# FULL-corpus exact pair set tractable, so the recall of the
# production banded-minhash candidates (the front half of
# dedup_minhash_lsh / dedup_containment / the component builder) can
# be measured against complete ground truth, not an extrapolated
# sample.  Verification makes the LSH path's precision 1.0 by
# construction; recall is the number that decides whether the b=8/r=2
# surface (collision prob 1-(1-J²)^8 ≈ 0.90 at J=0.5) plus the
# MAX_BUCKET cap is losing real duplicates.
#
# 100 TB: both inputs are the already-scale-judged pipelines; the
# audit itself is a LEFT join of two pair tables on (doc_a, doc_b) —
# id-keyed, skew-free — folded to ONE row.  The corpus is scanned
# once per pipeline (the two fronts shingle differently: fp sets vs
# minhash signatures); sharing the shingle pass across them is
# possible but would couple the audit to both internals — two narrow
# scans is the honest cost.

def lsh_truth_marked(docs: DataFrame) -> DataFrame:
    """Exact truth pairs LEFT-marked by the production LSH candidate
    surface — the shared front of the one-number audit and the
    per-band curve below (each query is one fold over this frame, so
    the two audits cannot drift onto different surfaces)."""
    truth = setjoin_pairs(docs).select("doc_a", "doc_b", "jaccard")
    sh = shingle_docs(docs).localCheckpoint()
    cand = (lsh_candidate_ids(sh)
            .select("doc_a", "doc_b", F.lit(1).alias("_found")))
    return truth.join(cand, ["doc_a", "doc_b"], "left")


def _n_found() -> F.Column:
    return (F.sum(F.when(F.col("_found") == 1, 1)
                  .otherwise(0)).cast("long"))


def q_lsh_recall_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    marked = lsh_truth_marked(load_table(spark, sf_dir, "documents"))
    n_found = _n_found()
    return marked.agg(
        F.count("*").cast("long").alias("n_truth"),
        n_found.alias("n_found"),
        F.try_divide(n_found.cast("double"),
                     F.count("*").cast("double")).alias("recall"))


register(QuerySpec(
    "lsh_recall_exact", q_lsh_recall_exact,
    oracle=f"""
        WITH {SHINGLES_SQL.strip()},
        {_FSETS_CTES},
        {_TRUTH_CTES},
        {_LSH_CAND_CTES}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(SUM(CASE WHEN _found = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_found,
               CAST(SUM(CASE WHEN _found = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM truth LEFT JOIN cand USING (doc_a, doc_b)
    """,
    doc="recall of the production banded-minhash candidate surface "
        "against the FULL-corpus exact pair set (setjoin_prefix "
        "ground truth, no sample bound) — one-row audit",
    tags=("dedup", "north-star", "audit", "agg"),
))


# ---------------------------------------------------------------------------
# setjoin_incremental: exact near-dup of NEW docs vs the EXISTING corpus
# ---------------------------------------------------------------------------
# dedup_minhash_incremental answers "which new docs duplicate the seen
# corpus" with banding false negatives; this is the EXACT form.  The
# persisted state is a PREFIX INDEX — and that forces one deliberate
# design change vs the batch self-join above: the global order here is
# fp ASCENDING, not (df, fp).  Document frequencies SHIFT as the
# corpus grows, so a df-ordered prefix computed at batch k is not a
# valid prefix under batch k+n's order — the exactness proof needs ONE
# total order shared by every prefix ever written, and the fp order is
# the only one that never moves.  The price is candidate pruning
# (hash-random prefixes instead of rarest-first); the length filter
# and T itself still bound the fan-out, and exactness is what this
# operator sells.  Intra-batch pairs are deliberately out of scope
# (that is setjoin_prefix's self-join); index entries per doc are
# n - ceil(T*n) + 1 ≈ half its distinct shingles — sub-linear state,
# same envelope as the minhash band index + shingle store.

def prefix_entries(sets: DataFrame) -> DataFrame:
    """(doc_id, n, pos, fp): the fp-ascending-order prefix of each
    set — the incremental-stable index representation (see above).
    Narrow: sort + slice + posexplode inside the row, no dfreq fold.

    ``pos`` (1-based position of the entry in the FULL fp-sorted
    array; prefix entries are its head, so prefix position == global
    position) carries PPJoin's positional filter into the incremental
    join (optimization r19): it is valid forever for the same reason
    the fp order itself is — a set's sorted order never changes as
    the corpus grows.  Store migration: indexes persisted before r19
    lack the column; :func:`setjoin_incremental_from_index` reads
    them as pos=1, the loosest sound bound (filter becomes a no-op
    for those entries, never a false negative)."""
    p_len = (f"size(fps) - ((size(fps) * {SETJOIN_TNUM} "
             f"+ {SETJOIN_TDEN - 1}) div {SETJOIN_TDEN}) + 1")
    return (sets.select("doc_id", F.size("fps").alias("n"),
                        F.posexplode(F.expr(
                            f"slice(array_sort(fps), 1, {p_len})"))
                        .alias("p0", "fp"))
            .select("doc_id", "n",
                    (F.col("p0") + 1).cast("int").alias("pos"), "fp"))


def setjoin_incremental_from_index(seen_idx: DataFrame,
                                   seen_sets: DataFrame,
                                   batch_sets: DataFrame) -> DataFrame:
    """Index-level form: ``seen_idx`` is the PERSISTED (doc_id, n, fp)
    prefix-entry table, kept between crawl drops so the seen corpus is never re-shingled or re-indexed.
    Returns every (batch_doc, seen_doc) pair with exact Jaccard >= T:
    (batch_doc, seen_doc, n_inter, n_union, jaccard)."""
    # Versioned store migration (r19): indexes persisted before the
    # positional filter carry no ``pos`` column (or NULL pos rows
    # when a mixed-era store's footer sampling found the new schema).
    # pos=1 is the loosest SOUND bound — the occurrence prunes
    # nothing, it never false-negatives — so old entries keep exactly
    # their pre-r19 behavior while new entries prune.
    pos_s = (F.coalesce(F.col("pos"), F.lit(1))
             if "pos" in seen_idx.columns else F.lit(1))
    sp = seen_idx.select(F.col("doc_id").alias("seen_doc"),
                         F.col("n").alias("n_s"),
                         pos_s.alias("pos_s"), "fp")
    bp = (prefix_entries(batch_sets)
          .select(F.col("doc_id").alias("batch_doc"),
                  F.col("n").alias("n_b"),
                  F.col("pos").alias("pos_b"), "fp"))
    # batch_doc != seen_doc: disjoint sides in the batch operator;
    # the guard covers a persisted index already containing the
    # batch's own docs (an at-least-once replay).
    # Positional filter (PPJoin, Xiao et al., WWW 2008 — the batch
    # self-join's r18 filter carried into the incremental index): a
    # match at 1-based positions (pos_b, pos_s) of the SHARED
    # fp-ascending order bounds the overlap by 1 + min(n_b - pos_b,
    # n_s - pos_s); pairs that cannot reach
    # alpha = ceil(T/(1+T) * (n_b + n_s)) are dropped before the
    # pair-dedup exchange and the array-intersect verify.  Sound for
    # the same reason as the batch form: a qualifying pair's FIRST
    # common element in the shared order satisfies the bound and lies
    # in both prefixes.  Integer-exact: ubound >= ceil(p/q) <=>
    # ubound * q >= p.
    alpha_num = (F.col("n_b") + F.col("n_s")) * SETJOIN_TNUM
    ubound = 1 + F.least(F.col("n_b") - F.col("pos_b"),
                         F.col("n_s") - F.col("pos_s"))
    cand = (bp.join(sp, "fp")
            .filter((F.col("batch_doc") != F.col("seen_doc"))
                    & (F.col("n_b") * SETJOIN_TDEN
                       >= F.col("n_s") * SETJOIN_TNUM)
                    & (F.col("n_s") * SETJOIN_TDEN
                       >= F.col("n_b") * SETJOIN_TNUM)
                    & (ubound * (SETJOIN_TNUM + SETJOIN_TDEN)
                       >= alpha_num))
            .select("batch_doc", "seen_doc").distinct())
    sa = batch_sets.select(F.col("doc_id").alias("batch_doc"),
                           F.col("fps").alias("f_a"))
    sb = seen_sets.select(F.col("doc_id").alias("seen_doc"),
                          F.col("fps").alias("f_b"))
    inter = F.size(F.array_intersect("f_a", "f_b")).cast("long")
    return (cand.join(sa, "batch_doc").join(sb, "seen_doc")
            .withColumn("n_inter", inter)
            .withColumn("n_union",
                        (F.size("f_a") + F.size("f_b")).cast("long")
                        - F.col("n_inter"))
            .filter(F.col("n_inter") * SETJOIN_TDEN
                    >= F.col("n_union") * SETJOIN_TNUM)
            .select("batch_doc", "seen_doc", "n_inter", "n_union",
                    (F.col("n_inter").cast("double")
                     / F.col("n_union")).alias("jaccard")))


def setjoin_incremental(seen_sets: DataFrame,
                        batch_sets: DataFrame) -> DataFrame:
    """Batch form over two pre-fingerprinted (shingle_fp_sets) frames;
    both are evaluated twice (prefix + verify) — checkpoint upstream."""
    return setjoin_incremental_from_index(
        prefix_entries(seen_sets), seen_sets, batch_sets)


def q_setjoin_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    # One shingle+fp pass; each side feeds its prefix AND its verify.
    sets = shingle_fp_sets(docs).localCheckpoint()
    return setjoin_incremental(
        sets.filter(F.col("doc_id") % 4 < 3),
        sets.filter(F.col("doc_id") % 4 == 3))


register(QuerySpec(
    "setjoin_incremental", q_setjoin_incremental,
    oracle=f"""
        WITH {SHINGLES_SQL.strip()},
        {_FSETS_CTES},
        pairs AS (
            SELECT b.doc_id AS batch_doc, s.doc_id AS seen_doc,
                   COUNT(*) AS n_inter
            FROM flat b JOIN flat s ON b.fp = s.fp
            WHERE b.doc_id % 4 = 3 AND s.doc_id % 4 < 3
            GROUP BY 1, 2
        )
        SELECT batch_doc, seen_doc,
               CAST(n_inter AS BIGINT) AS n_inter,
               CAST(nb.n + ns.n - n_inter AS BIGINT) AS n_union,
               CAST(n_inter AS DOUBLE) / (nb.n + ns.n - n_inter)
                   AS jaccard
        FROM pairs
        JOIN n nb ON batch_doc = nb.doc_id
        JOIN n ns ON seen_doc = ns.doc_id
        WHERE n_inter * {SETJOIN_TDEN}
              >= (nb.n + ns.n - n_inter) * {SETJOIN_TNUM}
    """,
    doc="EXACT incremental near-dup: new batch vs the persisted "
        "corpus prefix index, zero false negatives (fp-order prefixes "
        "stay valid as the corpus grows — df order would not)",
    tags=("dedup", "north-star", "join", "exact", "incremental"),
))


# ---------------------------------------------------------------------------
# lsh_recall_curve: the banding S-curve MEASURED, per Jaccard band
# ---------------------------------------------------------------------------
# lsh_recall_exact gives the one-number verdict; tuning b/r needs the
# CURVE — banded minhash recall is ~1-(1-J^r)^b, so misses concentrate
# just above the threshold and a single aggregate recall can hide a
# hole at J≈0.5 behind perfect recall at J≈1.  Same two fronts, the
# exact pairs bucketed by floor(jaccard*10) (floor of a bit-identical
# double times ten — integer on both engines), LEFT-joined against the
# LSH candidate surface, folded per band.

def q_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    marked = lsh_truth_marked(load_table(spark, sf_dir, "documents"))
    jband = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)) \
        .cast("long")
    n_found = _n_found()
    return (marked
            .groupBy(jband.alias("jband"))
            .agg(F.count("*").cast("long").alias("n_truth"),
                 n_found.alias("n_found"),
                 F.try_divide(n_found.cast("double"),
                              F.count("*").cast("double"))
                 .alias("recall")))


register(QuerySpec(
    "lsh_recall_curve", q_lsh_recall_curve,
    oracle=f"""
        WITH {SHINGLES_SQL.strip()},
        {_FSETS_CTES},
        {_TRUTH_CTES},
        {_LSH_CAND_CTES}
        SELECT CAST(LEAST(FLOOR(jaccard * 10), 9) AS BIGINT) AS jband,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(SUM(CASE WHEN _found = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_found,
               CAST(SUM(CASE WHEN _found = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM truth LEFT JOIN cand USING (doc_a, doc_b)
        GROUP BY 1
    """,
    doc="banded-minhash recall per exact-Jaccard decile band "
        "(the measured S-curve vs full-corpus ground truth — misses "
        "concentrate just above threshold; one number can hide them)",
    tags=("dedup", "north-star", "audit", "agg"),
))
