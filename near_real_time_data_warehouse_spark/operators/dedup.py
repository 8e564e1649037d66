"""Deduplication operators over the ``documents`` table.

The large-scale dedup toolbox (BASELINE.json north star):

- **exact** — hash-groupBy on a normalized-content fingerprint; one
  shuffle on the hash key, trivially scalable.
- **n-gram Jaccard** — shingle inverted index + self-join on shingle;
  the all-pairs verify is capped to a deterministic id range (the scale
  path is the MinHash variant below).
- **MinHash + LSH** — 32-permutation signatures (md5-derived, portable
  across engines), banded into 8×4; candidate pairs only where a band
  collides, then verified with true Jaccard. At 100 TB this is the
  standard near-dup pipeline: cost is linear in corpus + candidate
  pairs, never all-pairs.
- **SimHash** — 32-bit sign-aggregated token hashes; near-dup pairs via
  Hamming *banding* (4×8-bit band equi-join — pigeonhole over the ≤3-bit
  threshold), uncapped, verified pair-identical to brute force.

Everything is built from Catalyst primitives (split/explode/groupBy/join,
bit ops) — no Python UDFs. All hashing is md5-prefix → bigint, identical
in Spark and DuckDB, so even the LSH candidate sets match the oracle
exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..profile import driver_rows, scan_partitions
from ..sources.testdata import load_table_parallel
from . import registry
from .text import _NORM_SQL, _norm_col

# Deterministic id cap for all-pairs verification variants.
DOC_CAP = 1000
# Near-dup thresholds.
JACCARD_THRESHOLD = 0.2
HAMMING_THRESHOLD = 3
# MinHash configuration: 32 permutations, 8 bands × 4 rows.
N_PERM = 32
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_parallel(spark, sf_dir, "documents")


# Shingle sets are consumed by several downstream legs (signatures, sizes,
# verify joins) and their lineage is a LARGE expression tree (normalize →
# split → n-gram transform → explode). Re-using them via plain persist()
# keeps that tree alive in the cache manager, and every subsequent action
# pays plan-canonicalization against it — measured as multi-second driver
# stalls that GROW as query fns re-persist per call. localCheckpoint
# materializes once and truncates the lineage to an RDD scan; the memo
# keyed on (session, sf_dir, cap) makes repeat calls free. At cluster
# scale the same role is played by a bucketed intermediate table.


def _arrays_materialized(
    spark: SparkSession, sf_dir: str, cap: int | None = None
) -> DataFrame:
    """Per-doc distinct-shingle ARRAY sketch (doc_id, arr, n) — ONE
    tokenize pass per (session, sf_dir), locally checkpointed; the single
    standing artifact every shingle consumer derives from (r14): the
    exploded inverted-index form is a narrow explode of this frame, the
    signature/band chain maps over ``arr``, and the verification kernels
    join the arrays directly (guide §1.2: don't compute the same
    tokenization three times; §2.3: shuffle one array per doc, not one
    row per (doc, shingle))."""

    def build() -> DataFrame:
        d = _docs(spark, sf_dir)
        if cap is not None:
            d = d.filter(F.col("doc_id") < cap)
        return _local_checkpoint_stats_clean(_shingle_arrays(d), eager=False)

    return memo.cached(spark, "dedup", ("arrays", sf_dir, cap), build)


def _shingles_materialized(
    spark: SparkSession, sf_dir: str, cap: int | None = None
) -> DataFrame:
    """Exploded (doc_id, shingle) inverted-index form — derived as a
    narrow explode of the materialized array sketch, so the tokenize
    pass is shared with the signature/band chain and the array
    verification kernels. Content is bit-identical to the direct
    exploded build: ``_shingles`` IS explode(array_distinct(...)) with a
    ``size >= n`` filter, and the sketch's empty arrays (short/NULL
    docs) explode to no rows — the same absence."""
    return memo.cached(
        spark,
        "dedup",
        ("shingles", sf_dir, cap),
        lambda: _arrays_materialized(spark, sf_dir, cap).select(
            "doc_id", F.explode("arr").alias("shingle")
        ),
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per normalized-content
    fingerprint, report group size. One hash shuffle; at scale this is a
    map-side-combined groupBy on a 128-bit key."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.md5(_norm_col()).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


EXACT_SQL = f"""
SELECT md5({_NORM_SQL}) AS fingerprint,
       MIN(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY fingerprint
"""


# --- shingles -------------------------------------------------------------

def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    The token array is materialized as a column first — referencing the
    split expression inside the transform lambda would re-run the whole
    lower/regexp/split chain per element_at (measured ~10× slower)."""
    tokenized = docs.select("doc_id", F.split(_norm_col(), " ").alias("t"))
    toks = F.col("t")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
    )
    return (
        tokenized.filter(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def _shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc DISTINCT n-gram shingle ARRAY + its size as a pure
    projection — the pre-explode form of :func:`_shingles`, for consumers
    that need per-doc sets (array_intersect verification) rather than an
    inverted index. Zero shuffle: the explode → groupBy(collect_list)
    round-trip this replaces sorted the whole corpus-sized shingle table
    just to rebuild an array the scan already had. Docs with < n tokens
    (or NULL text) get an empty array, matching the exploded form's
    absence + COALESCE(0) convention bit-for-bit."""
    tokenized = docs.select("doc_id", F.split(_norm_col(), " ").alias("t"))
    toks = F.col("t")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
    )
    # sequence(0, size-n) DESCENDS when size < n — guard before building
    arr = F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )
    return tokenized.select("doc_id", arr.alias("arr")).select(
        "doc_id", "arr", F.size("arr").alias("n")
    )


# DuckDB twin (1-based list indexing; range(1, len-1) = 1..len-2).
_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents {{where}})
  WHERE len(t) >= 3
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard ≥ threshold over the capped id
    range. Inverted-index join on shingle (never a cross join); Jaccard is
    one integer division at the end."""
    sh = _shingles_materialized(spark, sf_dir, cap=DOC_CAP)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    out = (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return out.select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")


NGRAM_SQL = f"""
WITH sh AS ({_SHINGLES_SQL.format(where=f"WHERE doc_id < {DOC_CAP}")}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
       n_common / (sa.n + sb.n - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH --------------------------------------------------------

# Universal-hash permutations over a 31-bit prime field: h_i = (a_i·h + b_i)
# mod P. One md5 per shingle (the base hash); the 32 permutations are pure
# integer arithmetic — products stay < 2^62, portable to DuckDB bigints.
MERSENNE_P = (1 << 31) - 1


def _perm_constants(n: int = N_PERM) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(n):
        d = hashlib.md5(f"perm:{i}".encode()).digest()
        a = int.from_bytes(d[:8], "big") % (MERSENNE_P - 1) + 1
        b = int.from_bytes(d[8:], "big") % MERSENNE_P
        out.append((a, b))
    return out


def _sig_col() -> F.Column:
    """The 32 permutation mins as array expressions over a per-doc
    base-hash list column ``hs`` — min is order-insensitive, so any
    construction of the same distinct-shingle hash SET yields the
    identical signature."""
    consts = _perm_constants()

    def perm_min(a: int, b: int) -> F.Column:
        return F.array_min(F.transform(F.col("hs"), lambda h: (h * a + b) % MERSENNE_P))

    return F.array(*[perm_min(a, b) for a, b in consts])


def _signature_table(sh: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>[N_PERM]) from an EXPLODED shingle frame
    — the streaming folds' entry point (their batches arrive exploded).
    Batch-side consumers should prefer :func:`_signature_table_from_docs`,
    which builds the same signatures as a pure projection."""
    base = sh.withColumn(
        "h31",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long") % MERSENNE_P,
    )
    hs = base.groupBy("doc_id").agg(F.collect_list("h31").alias("hs"))
    return hs.withColumn("sig", _sig_col())


def _signature_table_from_docs(d: DataFrame) -> DataFrame:
    """(doc_id, sig) straight from (doc_id, text) — the per-doc distinct
    shingle ARRAY is a projection of the scan (:func:`_shingle_arrays`),
    so the whole signature build is zero-shuffle: no explode, no
    groupBy(collect_list), no corpus sort. Signatures are bit-identical
    to the exploded path (same hash set, min is order-insensitive);
    measured 2× faster at 50× and removes the one sort in the band
    chain that could spill at larger corpora."""
    return _signature_table_from_arrays(_shingle_arrays(d))


def _signature_table_from_arrays(arrs: DataFrame) -> DataFrame:
    """(doc_id, sig) from a (doc_id, arr, n) distinct-shingle-array frame.

    The hash-array projection is CHECKPOINTED before the shingle-bearing
    filter: pushing ``n > 0`` below the projection substitutes the array
    definition into the predicate, un-binding ``toks`` inside the window
    lambdas — every element_at then re-runs the split chain (the
    _shingles docstring pathology; measured >60× at 50×). Filtering the
    MATERIALIZED column costs nothing."""
    raw = arrs.select(
        "doc_id",
        "n",
        F.transform(
            "arr",
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
            % MERSENNE_P,
        ).alias("hs"),
    )
    hs = _local_checkpoint_stats_clean(raw, eager=False).filter(F.col("n") > 0)
    return hs.select("doc_id", "hs").withColumn("sig", _sig_col())


def _band_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) from an exploded shingle frame."""
    return _bands_from_sig(_signature_table(sh))


def _band_signatures_from_docs(d: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) straight from documents — zero-shuffle
    signature construction (see _signature_table_from_docs).

    The signature table is CHECKPOINTED before the band fold: the fold
    references ``sig`` once per band, and without a barrier
    CollapseProject inlines the whole hs/md5 projection into every
    reference (the exploded path's groupBy was an accidental barrier) —
    measured as a ~30× md5 recompute at 50×. The cut costs one
    materialization, no shuffle, no sort."""
    sig = _local_checkpoint_stats_clean(_signature_table_from_docs(d), eager=False)
    return _bands_from_sig(sig)


def _band_signatures_from_arrays(arrs: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) from a (doc_id, arr, n) shingle-array
    frame — for callers that already materialized the arrays and feed
    them to several consumers (the streaming dedup fold derives both its
    exploded shingle store and its band table from ONE tokenize pass)."""
    sig = _local_checkpoint_stats_clean(
        _signature_table_from_arrays(arrs), eager=False
    )
    return _bands_from_sig(sig)


def _bands_from_sig(with_sig: DataFrame) -> DataFrame:
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(t).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(F.col("sig"), t * ROWS_PER_BAND + j + 1).cast("string")
                            for j in range(ROWS_PER_BAND)
                        ],
                    )
                ).alias("band_sig"),
            )
            for t in range(N_BANDS)
        ]
    )
    return with_sig.select("doc_id", F.explode(bands_arr).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig")
    )


# Signature memo: the per-doc MinHash signature (32 permutation mins)
# feeds the band build AND the prefiltered entry's estimate join — one
# checkpointed hash-array build per (session, sf_dir), derived from the
# shared array sketch (one tokenize pass total; r14).
def _sigs_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo.cached(
        spark,
        "dedup",
        ("sigs", sf_dir),
        lambda: _signature_table_from_arrays(_arrays_materialized(spark, sf_dir)),
    )


# Band table memo: the signature tree (32 permutation mins + 8 band
# md5s) feeds the LSH self-join, the ingestion-time cross-join, and the
# components family — one checkpointed build per (session, sf_dir).
def _bands_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo.cached(
        spark,
        "dedup",
        ("bands", sf_dir),
        lambda: _local_checkpoint_stats_clean(
            _bands_from_sig(_sigs_materialized(spark, sf_dir)), eager=False
        ),
    )


# Verified-pair memo: the true-Jaccard pair table feeds the components
# family, cluster stats, the curation pipeline, AND the incremental
# entry's standing corpus state — one checkpointed build per
# (session, sf_dir), like the persisted `near_dup_pairs` table a real
# pipeline maintains next to `doc_components`.
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8×4) near-dup pairs, verified with true Jaccard.

    Pipeline: shingle → base md5 hash → 32 universal-hash mins (array
    expressions, one row per doc) → band signatures → join on (band,
    signature) → distinct candidate pairs → verify. No all-pairs stage
    anywhere, so the same plan runs at 100 TB; candidate volume is
    controlled by the band/row choice, and AQE handles skewed buckets."""
    return memo.cached(
        spark,
        "dedup",
        ("pairs", sf_dir),
        lambda: _local_checkpoint_stats_clean(
            _minhash_lsh_pairs_build(spark, sf_dir), eager=False
        ),
    )


def _band_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs colliding on any (band, band_sig)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _verify_jaccard(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-verify candidate pairs with true shingle Jaccard — the
    expensive stage (candidate × shingle-list join); everything upstream
    of it exists to shrink its input."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(sa_sh, "doc_a")
        .join(sb_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return out.select("doc_a", "doc_b", "jaccard")


def _verify_jaccard_from_arrays(arrs: DataFrame, cand: DataFrame) -> DataFrame:
    """Array twin of :func:`_verify_jaccard` — the same jaccard division
    of the same integer counts, the same ≥-threshold filter, the same
    (doc_a, doc_b, jaccard) output. A zero-intersection candidate, which
    the exploded path drops at its inner join, scores jaccard 0 here and
    is dropped by the same filter (see _pair_overlap_counts for the
    count-equivalence argument)."""
    c = _pair_overlap_counts(arrs, cand)
    return (
        c.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_lsh_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = _arrays_materialized(spark, sf_dir)
    cand = _band_candidates(_bands_materialized(spark, sf_dir))
    # Verify candidates with true Jaccard (candidates only — cheap);
    # r14: over the array sketch (two doc-level joins + a map-side
    # intersect) instead of the five-exchange exploded chain.
    return _verify_jaccard_from_arrays(arrs, cand)


def _minhash_bands_sql() -> str:
    """DuckDB twin of ``_band_signatures`` — same constants, same md5-base
    hash, same band concatenation."""
    consts = _perm_constants()

    def sig_expr(a: int, b: int) -> str:
        return f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MERSENNE_P}))"

    band_rows = []
    for t in range(N_BANDS):
        parts = " || ',' || ".join(
            f"CAST({sig_expr(*consts[t * ROWS_PER_BAND + j])} AS VARCHAR)"
            for j in range(ROWS_PER_BAND)
        )
        band_rows.append(f"SELECT doc_id, {t} AS band, md5({parts}) AS band_sig FROM hs")
    return " UNION ALL ".join(band_rows)


def _minhash_pairs_sql(cand_extra: str = "", with_jaccard: bool = True) -> str:
    """The MinHash-LSH verified-pairs replay. ``cand_extra`` appends a
    predicate to the candidate join (the streaming fold's "≥ 1 batch
    endpoint" restriction); ``with_jaccard`` matches the entry's output
    shape (the fold emits bare pairs)."""
    extra = f" AND ({cand_extra})" if cand_extra else ""
    select = (
        "doc_a, doc_b,\n       n_common / (sa.n + sb.n - n_common) AS jaccard"
        if with_jaccard
        else "doc_a, doc_b"
    )
    return f"""
WITH sh AS ({_SHINGLES_SQL.format(where="")}),
base AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % {MERSENNE_P} AS h31
  FROM sh
),
hs AS (SELECT doc_id, list(h31) AS hs FROM base GROUP BY doc_id),
bands AS ({_minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id{extra}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT {select}
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


MINHASH_SQL = _minhash_pairs_sql()


# --- Signature-prefiltered MinHash verify ---------------------------------

# Minimum agreeing permutations (of N_PERM=32) a band-collision candidate
# must show before it is admitted to the exact shingle-level verify join.
# A band collision alone only proves ROWS_PER_BAND=4 consecutive agreeing
# mins; demanding 5 overall (estimated Jaccard ≥ 5/32 ≈ 0.156, just under
# the 0.2 verify threshold) rejects the accidental-collision tail at
# O(N_PERM) integer compares per pair instead of O(|shingles|) join rows.
PREFILTER_MIN_AGREE = 5


def minhash_prefiltered_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs with a signature-estimate prefilter
    between candidate generation and exact verification — the
    production three-stage shape (band collide → estimate → verify).

    Semantics are deliberately DISTINCT from dedup_minhash_lsh (which
    verifies every collision): a true pair whose signature underestimates
    its Jaccard (P[X<5], X ~ Binomial(32, J)) is dropped here — the
    standard recall-for-cost trade, so this is its own entry + oracle
    rather than a silent swap (NEXT.md round-6 candidate #6). The
    estimate is exact integer arithmetic on signatures both engines
    derive identically, so the surviving set — and therefore the driver
    hash — is deterministic.

    Scale: the verify join's input shrinks by the estimate's rejection
    rate at a cost of 32 integer compares per candidate; at 100 TB the
    signature table is the standing per-doc sketch (N_PERM longs/doc)
    a real pipeline already persists."""
    arrs = _arrays_materialized(spark, sf_dir)
    cand = _band_candidates(_bands_materialized(spark, sf_dir))
    # the memoized signature table (shared with the band build — r14:
    # one hash-array materialization per session instead of a private
    # re-tokenize + re-checkpoint here); the candidate join consumes sig
    # on BOTH sides of one zero-shuffle build
    sigs = _sigs_materialized(spark, sf_dir).select("doc_id", "sig")
    agree = F.aggregate(
        F.zip_with(
            F.col("a.sig"),
            F.col("b.sig"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    est = (
        cand.join(sigs.alias("a"), F.col("a.doc_id") == F.col("doc_a"))
        .join(sigs.alias("b"), F.col("b.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", agree.alias("n_agree"))
    )
    surv = est.filter(F.col("n_agree") >= PREFILTER_MIN_AGREE)
    verified = _verify_jaccard_from_arrays(arrs, surv.select("doc_a", "doc_b"))
    return verified.join(surv, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "n_agree",
        (F.col("n_agree").cast("double") / F.lit(N_PERM)).alias("est_jaccard"),
        "jaccard",
    )


def _minhash_sig_list_sql() -> str:
    """DuckDB list literal of the 32 permutation-min expressions."""
    consts = _perm_constants()
    exprs = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MERSENNE_P}))"
        for a, b in consts
    )
    return f"[{exprs}]"


MINHASH_PREFILTERED_SQL = f"""
WITH sh AS ({_SHINGLES_SQL.format(where="")}),
base AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % {MERSENNE_P} AS h31
  FROM sh
),
hs AS (SELECT doc_id, list(h31) AS hs FROM base GROUP BY doc_id),
bands AS ({_minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sigs AS (SELECT doc_id, {_minhash_sig_list_sql()} AS sig FROM hs),
surv AS (
  SELECT doc_a, doc_b, n_agree FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(list_sum(list_transform(list_zip(a.sig, b.sig),
                p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS BIGINT) AS n_agree
    FROM cand c
    JOIN sigs a ON a.doc_id = c.doc_a
    JOIN sigs b ON b.doc_id = c.doc_b
  ) WHERE n_agree >= {PREFILTER_MIN_AGREE}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT s.doc_a, s.doc_b, COUNT(*) AS n_common
  FROM surv s
  JOIN sh sa ON sa.doc_id = s.doc_a
  JOIN sh sb ON sb.doc_id = s.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, s.n_agree,
       CAST(s.n_agree AS DOUBLE) / {N_PERM} AS est_jaccard,
       n_common / (sa.n + sb.n - n_common) AS jaccard
FROM common c
JOIN surv s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


# --- Connected components over the near-dup graph -------------------------

def _local_checkpoint_stats_clean(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint that does NOT inherit the origin plan's Catalyst
    size statistics. ``Dataset.localCheckpoint`` copies the checkpointed
    plan's estimated stats into the new ``LogicalRDD`` — for an
    iterative loop that means round k's estimate is built ON TOP of
    round k−1's, and a SELF-join in the loop body SQUARES it each round:
    the BigInteger's digit count doubles per round, Toom-Cook
    multiplication inside the stats visitor then costs ~2.7× more per
    round (pure DRIVER time — executors are idle), and after ~30 rounds
    Spark dies with 'BigInteger would overflow supported range'. Found
    by the round-6 sf1 sweep through the pointer-doubling CC loop; the
    fix rebuilds the frame over the checkpointed rows without origin
    stats (AQE still sees the true runtime sizes, so physical plans
    stay sane). Falls back to a plain localCheckpoint if the internal
    constructor is unavailable.

    The flip side of inheriting stats is inheriting UNDERestimates:
    Catalyst sized a checkpointed corpus-proportional table (shingles,
    bands, bucketed embeddings) from its origin aggregate's estimate
    and STATICALLY broadcast it — fine at test SFs, a
    notEnoughMemoryToBuildAndBroadcastTable driver abort at the 100×
    probe scale. Stats-clean checkpoints are therefore the default for
    every memoized corpus-proportional frame that feeds a join; AQE
    still broadcasts at runtime whenever the REAL materialized size is
    small."""
    jdf = df._jdf.localCheckpoint(eager)  # noqa: SLF001
    try:
        spark = df.sparkSession
        njdf = spark._jsparkSession.internalCreateDataFrame(  # noqa: SLF001
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(njdf, spark)
    except Exception:  # pragma: no cover - API-drift fallback
        return DataFrame(jdf, df.sparkSession)


# Plain (shortcut-free) rounds before pointer doubling kicks in: the
# common near-dup graph converges within these, so the common path pays
# zero doubling overhead; a long-diameter graph escalates automatically
# and still converges in ≤ _CC_PLAIN_ROUNDS + O(log diameter) rounds.
_CC_PLAIN_ROUNDS = 8

# The one edge-count cap of the graph kernels (connected_components,
# merge_components_with_edges, pagerank_stats): an edge list of at most
# this many rows is collected by ``driver_rows`` and resolved on the
# driver in one action; a longer one runs the kernel's distributed
# loop with identical semantics. The operating assumption: the near-dup
# pair graph is tiny next to the corpus (most docs are singletons), and
# every distributed round costs seconds of scheduling/AQE latency at any
# data size — the round-6 10× sweep spent ~33 rounds × ~4 s on a graph
# whose edge list fits in one driver page. Tests force the distributed
# loops by monkeypatching this to 0.
GRAPH_COLLECT_CAP = 500_000


def _cc_driver_resolve(
    half_edges: list[tuple[int, int]], seeds: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Driver-side fixpoint of hash-min label propagation: per connected
    component (union-find over edges whose BOTH endpoints carry a seed —
    unlabeled vertices never relay in the distributed loop, so they must
    not union here either), every member takes the minimum seed label in
    the component. Returns (doc_id, label) for every seeded vertex. The
    quotient merge calls it with identity seeds over the quotient's
    vertices, so each label maps to its merged component's minimum."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    seed_map = dict(seeds)
    for a, b in half_edges:
        if a in seed_map and b in seed_map:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    comp_min: dict[int, int] = {}
    for v, s in seeds:
        r = find(v) if v in parent else v
        comp_min[r] = min(comp_min.get(r, s), s)
    return [(v, comp_min[find(v) if v in parent else v]) for v, _ in seeds]


def _endpoint_frame(spark: SparkSession, ids) -> DataFrame:
    """The distinct ``ids`` as a broadcast local ``doc_id long`` relation:
    the driver-collected endpoint set a bounded semi/anti probe joins
    against, instead of an edges-lineage scan + distinct exchange."""
    import pandas as pd

    ep_ids = sorted(set(ids))
    return F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": pd.Series(ep_ids, dtype="int64")}),
            "doc_id long",
        )
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iterations: int = 60
) -> DataFrame:
    """Connected components by hash-min label propagation, with a
    driver-side union-find fast path for graphs whose edge list fits
    under GRAPH_COLLECT_CAP (the overwhelmingly common case; see the
    cap's comment). Distributed semantics: every vertex starts labeled with
    its own id; each round every vertex takes the min of its label and
    its neighbors' labels, then SHORTCUTS through its label's own label
    (pointer doubling); converged when no label shrinks. Plain hash-min needs diameter rounds — the sf1 sweep
    (round 6) actually hit the old 25-round cap on a 10× semantic-union
    graph whose cross-replica edges chained into a long path; with the
    shortcut step each round roughly halves every chain's remaining
    depth, so convergence is O(log diameter) (~2·log2 n rounds in
    practice) and the 60-round cap covers any graph a real corpus can
    produce. The shortcut join runs on the endpoint-vertex label table
    (graph-sized, not corpus-sized), so the added per-round cost is one
    small self-join — checkpointed STATS-CLEAN each round, because the
    self-join otherwise squares Catalyst's inherited size estimate
    every round until driver-side BigInteger arithmetic dominates the
    loop (see _local_checkpoint_stats_clean).

    INVARIANT (ADVICE r4): when ``vertices`` carries seed labels,
    ``edges`` must contain EVERY edge that produced those labels — the
    endpoint-only propagation below never revisits a passive (edge-free)
    vertex, so seeding with stored component labels while passing only
    delta edges would leave passive members of a merged component on a
    stale label, silently splitting the component. Delta-edge merges go
    through ``merge_components_with_edges`` (the quotient path), which
    remaps every vertex through the result.

    The iterative-algorithm pattern done right on Spark: each round ends
    in ``localCheckpoint`` — without it, iteration N's plan nests N copies
    of the whole lineage and the driver dies re-optimizing it long before
    the executors break (at cluster scale: ``checkpoint`` to durable
    storage instead). ``vertices``: (doc_id), optionally with a ``label``
    column seeding the propagation (used by the incremental path, where
    stored component labels — themselves min-ids — are the seeds);
    ``edges``: (src, dst), undirected edges given in both directions.

    Only edge-endpoint vertices can ever change label, so the loop runs
    on that (near-dup-graph-sized) subset and the singleton majority of
    the corpus bypasses the iterations entirely — it rejoins with its
    seed/identity label at the end. Per-round cost is ∝ edges, not
    ∝ corpus; at 100 TB most documents are singletons and never enter a
    propagation shuffle."""
    if "label" in vertices.columns:
        seeds = vertices.select("doc_id", "label")
    else:
        seeds = vertices.select(F.col("doc_id"), F.col("doc_id").alias("label"))
    # Hybrid fast path: if the (deduplicated, undirected) edge list fits
    # under GRAPH_COLLECT_CAP, one driver-side union-find replaces the
    # whole iterative loop. The seed list it needs is endpoint-sized
    # (≤ 2×edges) — the same "quotient fits on the driver" operating
    # assumption as merge_components_with_edges, which broadcasts the
    # resolved mapping back anyway. Beyond the cap (a 100 TB corpus can
    # produce billions of verified pairs) the distributed loop below
    # takes over with identical semantics.
    half = (
        edges.filter(F.col("src") < F.col("dst")).select("src", "dst").distinct()
    )
    taken = driver_rows(half, GRAPH_COLLECT_CAP)
    if taken is not None:
        # Endpoint set derived ON THE DRIVER from the just-collected edge
        # list (r14: one exchange less per consumer action): edges arrive
        # in both directions, so {src} ∪ {dst} of the canonical half IS
        # edges' distinct-src set — minus vertices whose only edge is a
        # self-loop, which the resolve would return at their seed label
        # anyway, i.e. exactly the passive leg's row for them. The seed
        # fetch and every consumer's passive leg then probe a broadcast
        # LOCAL relation (bounded ≤ 2·GRAPH_COLLECT_CAP rows) instead of
        # re-running an edges-lineage scan + distinct exchange per action.
        spark = vertices.sparkSession
        src, dst = taken.column("src").to_pylist(), taken.column("dst").to_pylist()
        ep = _endpoint_frame(spark, src + dst)
        seed_rows = seeds.join(ep, "doc_id", "left_semi").collect()
        resolved_rows = _cc_driver_resolve(
            list(zip(src, dst)), [(r.doc_id, r.label) for r in seed_rows]
        )
        resolved = spark.createDataFrame(
            resolved_rows, "doc_id long, label long"
        )
        passive = seeds.join(ep, "doc_id", "left_anti")
        return resolved.unionByName(passive).select(
            "doc_id", F.col("label").alias("component")
        )
    endpoints = edges.select(F.col("src").alias("doc_id")).distinct()
    passive = seeds.join(endpoints, "doc_id", "left_anti")
    labels = _local_checkpoint_stats_clean(
        seeds.join(endpoints, "doc_id", "left_semi")
    )
    # Convergence witness: labels only ever DECREASE (every update is a
    # least()), so Σ label strictly drops iff any vertex changed — one
    # shuffle-free aggregate on the just-checkpointed frame replaces the
    # old-vs-new equi-join + count (a per-round shuffle). decimal(38,0)
    # keeps the sum exact for any id range a corpus can produce.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _label_sum(labels)
    converged = prev_sum is None  # empty graph: nothing to propagate
    for i in range(max_iterations):
        if converged:
            break
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        propagated = labels.join(
            neighbor_min, labels["doc_id"] == neighbor_min["dst"], "left"
        ).select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        if i < _CC_PLAIN_ROUNDS:
            # near-dup graphs are small and dense — most converge inside
            # a handful of plain rounds, so don't pay the shortcut join
            # until the graph proves it has a long diameter. Plain
            # rounds keep the ordinary (stats-inheriting) checkpoint:
            # without a self-join the estimate's digit count grows only
            # LINEARLY per round — harmless over 8 rounds — and the
            # inherited sizes keep the per-round joins broadcast-planned
            # (stats-clean costs ~25% on the common fast path).
            new_labels = propagated.localCheckpoint()
        else:
            # pointer doubling: follow my label's label (labels are
            # vertex ids, and every edge-endpoint label row is in this
            # table; a passive seed label resolves to itself via the
            # left join). Stats-clean checkpoint, NOT plain
            # localCheckpoint: this self-join squares inherited size
            # estimates every round (see _local_checkpoint_stats_clean).
            shortcut = propagated.select(
                F.col("doc_id").alias("label"), F.col("label").alias("label2")
            )
            new_labels = _local_checkpoint_stats_clean(
                propagated.join(shortcut, "label", "left").select(
                    "doc_id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("label2"), F.col("label"))
                    ).alias("label"),
                )
            )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Unconverged labels would silently split clusters downstream
        # (keep-best would then keep multiple "best" docs per true
        # component) — fail loudly instead. With pointer doubling,
        # convergence takes ~2·log2(n) rounds (the 10× sweep graph's
        # 16k-vertex chained component converged in 31), so 60 covers
        # any graph a real corpus can produce; hitting the cap signals
        # a threshold bug more often than a real topology.
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the cap); raise max_iterations"
        )
    return labels.unionByName(passive).select(
        "doc_id", F.col("label").alias("component")
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the 3-gram-Jaccard
    pair graph (capped id range), singletons included — the grouping step
    a cluster-level dedup policy (keep-best, keep-first) builds on."""

    def build() -> DataFrame:
        pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        vertices = _docs(spark, sf_dir).filter(F.col("doc_id") < DOC_CAP).select("doc_id")
        return connected_components(vertices, edges)

    return _memoized_components("ngram", spark, sf_dir, build)


# DuckDB twin: recursive label closure — UNION (not UNION ALL) dedups rows,
# so the recursion reaches a fixpoint; min over each vertex's reachable
# label set equals the propagation result on an undirected graph.
COMPONENTS_SQL = f"""
WITH RECURSIVE
docs AS (SELECT doc_id FROM documents WHERE doc_id < {DOC_CAP}),
pairs AS (SELECT doc_a, doc_b FROM ({NGRAM_SQL})),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
comp(doc_id, label) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.dst, c.label FROM comp c JOIN edges e ON e.src = c.doc_id
)
SELECT doc_id, MIN(label) AS component FROM comp GROUP BY doc_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup policy: within each near-dup component keep the
    doc with the most whitespace tokens (tie-break: lowest doc_id) — the
    "keep the longest version" rule of training pipelines. The rank
    window partitions by component, so it's distributed; the policy is
    pure integer ordering, hence oracle hash-exact."""
    from pyspark.sql import Window

    comps = dedup_components(spark, sf_dir)
    norm = _norm_col()
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    joined = comps.join(toks, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"), "doc_id")
    return joined.select(
        "doc_id",
        "component",
        "n_tokens",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).cast("long").alias("kept"),
    )


KEEP_BEST_SQL = f"""
WITH RECURSIVE
docs AS (SELECT doc_id FROM documents WHERE doc_id < {DOC_CAP}),
pairs AS (SELECT doc_a, doc_b FROM ({NGRAM_SQL})),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
comp(doc_id, label) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.dst, c.label FROM comp c JOIN edges e ON e.src = c.doc_id
),
comps AS (SELECT doc_id, MIN(label) AS component FROM comp GROUP BY doc_id),
tok AS (
  SELECT doc_id,
         CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                   ELSE len(string_split({_NORM_SQL}, ' ')) END AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT c.doc_id, component, n_tokens,
         row_number() OVER (PARTITION BY component ORDER BY n_tokens DESC, c.doc_id) AS rn
  FROM comps c JOIN tok USING (doc_id)
)
SELECT doc_id, component, n_tokens,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM ranked
"""


# Component labels feed multiple driver entries (capped: components +
# keep_best; minhash: components + cluster stats + the curation
# pipeline). Label propagation is iterative — the most expensive dedup
# stage — so the final labels are memoized like the shingles above
# (localCheckpoint: materialized once, lineage truncated). At cluster
# scale this is the persisted `doc_components` intermediate table every
# curation pipeline maintains.
def _memoized_components(tag: str, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    return memo.cached(
        spark,
        "dedup",
        ("components", tag, sf_dir),
        lambda: _local_checkpoint_stats_clean(build(), eager=False),
    )


def dedup_components_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the UNCAPPED MinHash-LSH pair graph —
    the full-corpus scale path (candidate generation is banded LSH, never
    all-pairs).

    Derivation: the full label table is produced by the INCREMENTAL path
    (corpus-state CC + quotient merge of the batch, dedup_graph_incremental)
    rather than a second from-scratch propagation over the whole corpus —
    hash-min labels are component-minimum ids at every level, so the
    merged state is bit-equal to a full rebuild, and the driver oracle
    (the full-rebuild recursive SQL) certifies exactly that equality
    every round. This is the steady-state production shape: one standing
    corpus propagation, then cost-∝-batch folds — and it removes the
    duplicated full-corpus propagation that made dedup_graph_build the
    bench's biggest line (VERDICT r3 item 4)."""

    def build() -> DataFrame:
        return dedup_graph_incremental(spark, sf_dir)

    return _memoized_components("minhash", spark, sf_dir, build)


COMPONENTS_MINHASH_SQL = f"""
WITH RECURSIVE
docs AS (SELECT doc_id FROM documents),
pairs AS (SELECT doc_a, doc_b FROM ({MINHASH_SQL})),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
comp(doc_id, label) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.dst, c.label FROM comp c JOIN edges e ON e.src = c.doc_id
)
SELECT doc_id, MIN(label) AS component FROM comp GROUP BY doc_id
"""


# --- SimHash --------------------------------------------------------------

def _simhash_fp(d: DataFrame, n_bits: int = 32) -> DataFrame:
    """SimHash fingerprint of width ``n_bits`` (≤ 60 — BIGINT-safe with
    headroom for the sign bit in both engines): per bit position, the
    sign of the sum of ±1 votes from each distinct token's hash bit.
    Integer arithmetic end-to-end — exact and portable.

    The per-bit sums are n_bits COLUMNS of ONE map-side-combinable
    aggregate over (doc_id, token-hash) rows — not an exploded
    (doc_id, bit) row per token per bit. The exploded shape shuffles
    n_bits× the token stream (the 50× probe measured 22 GB of sort
    spill from exactly that); the columnar shape's shuffle is partial
    aggregates ∝ docs × n_bits longs. Same algebra, same result —
    the DuckDB oracle keeps the exploded formulation and the driver
    hash certifies the equivalence."""
    assert n_bits <= 60 and n_bits % 4 == 0
    toks = (
        d.select("doc_id", F.explode(F.array_distinct(F.split(_norm_col(), " "))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    hashed = toks.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, n_bits // 4), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*votes)
    sig = per_doc.select(
        "doc_id",
        sum(
            (
                F.expr(
                    f"CASE WHEN s{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
                for b in range(n_bits)
            ),
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sig


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (see ``_simhash_fp``)."""
    return _simhash_fp(_docs(spark, sf_dir))


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks WHERE tok <> ''
),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(range(0, 32)) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""
# ^ The outer CAST matters: DuckDB SUM(BIGINT) yields HUGEINT (int128),
# which pandas/arrow fetch paths coerce to float64/decimal128 — the value
# hash then differs from Spark's int64 even though the numbers are equal
# (the round-1 driver-only hash mismatch). fetchall() hides this (Python
# ints), so the harness pins it with an arrow-schema audit instead
# (tests/test_analysis_oracle.py::test_no_hugeint_oracle_outputs).


# Hamming banding: split the 32-bit simhash into 4 disjoint 8-bit bands.
# Pigeonhole: ≤ HAMMING_THRESHOLD(=3) bit flips can touch at most 3 bands,
# so any qualifying pair agrees EXACTLY on ≥1 band — an equi-join on
# (band, byte) therefore finds the complete pair set with zero nested-loop
# stages (same shape as the MinHash band join). Completeness is proved by
# the all-pairs DuckDB oracle on dedup_simhash_banded.
N_SIMHASH_BANDS = HAMMING_THRESHOLD + 1


def hamming_banded_pairs(
    sh: DataFrame,
    n_bands: int = N_SIMHASH_BANDS,
    band_bits: int = 8,
    threshold: int = HAMMING_THRESHOLD,
) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ threshold) via the pigeonhole band
    equi-join; ``sh`` is (doc_id, simhash). Requires
    ``threshold < n_bands`` (≤ threshold flips can touch at most
    threshold bands, so a qualifying pair agrees exactly on ≥ 1 of the
    n_bands disjoint band_bits-wide slices). Parameterized so wider
    fingerprints or looser thresholds (more/narrower bands) reuse the
    same plan shape — e.g. the multimodal perceptual-hash entry's 8×4-bit
    banding at threshold 7."""
    assert threshold < n_bands, "pigeonhole needs more bands than bit flips"
    # The fingerprint aggregation tree feeds both join sides —
    # materialize once. STATS-CLEAN, not a plain localCheckpoint: the
    # inherited aggregate estimate undersizes the corpus-proportional
    # fingerprint table, so Catalyst STATICALLY broadcast the exploded
    # band table — ~300 MB of HashedRelation at the 50× probe scale,
    # which OOMed a default-heap driver and forced 22 GB of memory
    # pressure spill on a large one. With unknown stats the static plan
    # keeps a shuffle join and AQE still converts to broadcast at
    # runtime whenever the REAL band table is small (every tested SF).
    sh = _local_checkpoint_stats_clean(sh)
    mask = (1 << band_bits) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), band_bits * b)
                .bitwiseAND(F.lit(mask))
                .cast("int")
                .alias("byte"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sh.select("doc_id", "simhash", F.explode(band_arr).alias("bb")).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.byte").alias("byte")
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # A near-identical pair collides on SEVERAL bands — deduplicating
    # those emissions with .distinct() exchanged + aggregated every
    # collision row (the 50× probe's one remaining spiller: ~4× the
    # qualifying pairs through a 100M-row distinct, 27 GB spill).
    # Instead keep a matched row only at the pair's FIRST agreeing band
    # — computable from the two fingerprints already in the join row —
    # so each qualifying pair is emitted exactly once and the distinct
    # (and its exchange) disappears from the plan.
    first_match = F.coalesce(
        *[
            F.when(
                F.shiftright(F.col("a.simhash"), band_bits * bb)
                .bitwiseAND(F.lit(mask))
                == F.shiftright(F.col("b.simhash"), band_bits * bb)
                .bitwiseAND(F.lit(mask)),
                F.lit(bb),
            )
            for bb in range(n_bands)
        ]
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # Hamming BEFORE any shuffle: the verify is a per-row bit op, so
        # non-qualifying candidates never leave the join stage.
        .filter((ham <= threshold) & (F.col("a.band") == first_match))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
    )


def _simhash_banded_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with Hamming ≤ threshold via the band
    equi-join; ``sh`` is (doc_id, simhash)."""
    return hamming_banded_pairs(sh)


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ threshold) over the capped id
    range. Candidates come from the band equi-join (no all-pairs stage);
    the cap only keeps this entry's oracle aligned with round-1 history —
    ``dedup_simhash_banded`` is the uncapped form."""
    sh = simhash(spark, sf_dir).filter(F.col("doc_id") < DOC_CAP)
    return _simhash_banded_pairs(sh)


def simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncapped SimHash near-dup pairs over the FULL corpus via Hamming
    banding. The oracle is the brute-force all-pairs filter, so a green
    row certifies the band join finds the *identical* pair set.

    Scale note: band-bucket sizes drive candidate volume. With 32 bits and
    4 bands a byte has 256 values, so buckets ∝ N/256 — fine at bench
    scale; at 100 TB you widen the fingerprint (64-bit simhash, 16-bit
    bands → 65536 bucket values) exactly like production simhash systems,
    keeping the same plan shape."""
    return _simhash_banded_pairs(simhash(spark, sf_dir))


def _simhash_allpairs_sql(
    where: str, n_bits: int = 32, threshold: int = HAMMING_THRESHOLD
) -> str:
    """Brute-force all-pairs Hamming oracle (ground truth the band join
    must reproduce exactly), parameterized by fingerprint width."""
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
  FROM documents {where}
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, {n_bits // 4})) AS BIGINT) AS h
  FROM toks WHERE tok <> ''
),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(range(0, {n_bits})) AS bit)
  GROUP BY doc_id, bit
),
sim AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {threshold}
"""


SIMHASH_PAIRS_SQL = _simhash_allpairs_sql(f"WHERE doc_id < {DOC_CAP}")
SIMHASH_BANDED_SQL = _simhash_allpairs_sql("")

WIDE_BITS, WIDE_BANDS, WIDE_BAND_BITS = 60, 4, 15


def simhash_wide_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-width SimHash path the 32-bit entry's docstring
    promises: a 60-bit fingerprint banded 4×15 bits, so band buckets
    have 2^15 values (collision volume ∝ N/32768 instead of N/256) and
    the same Hamming ≤ 3 pigeonhole still holds — the plan shape at
    100 TB, driver-certified against the all-pairs oracle. 60 bits, not
    64: both engines' BIGINT shifts stay clear of the sign bit."""
    sh = _simhash_fp(_docs(spark, sf_dir), WIDE_BITS)
    return hamming_banded_pairs(
        sh, n_bands=WIDE_BANDS, band_bits=WIDE_BAND_BITS, threshold=HAMMING_THRESHOLD
    )


SIMHASH_WIDE_SQL = _simhash_allpairs_sql("", n_bits=WIDE_BITS)


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash document clustering, cluster-level view: one row per
    near-dup cluster over the UNCAPPED LSH component graph — size, total
    tokens, and the representative doc under the keep-longest policy
    (max tokens, tie-break lowest doc_id). This is the table a corpus
    curation pass reads ("how much is duplicated, what do we keep"):
    both the rank window and the aggregate partition by `component`, so
    after the components step it is one shuffle on the cluster key."""
    from pyspark.sql import Window

    comps = dedup_components_minhash(spark, sf_dir)
    norm = _norm_col()
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    joined = comps.join(toks, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"), "doc_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("representative_doc"),
        )
    )


CLUSTER_STATS_SQL = f"""
WITH RECURSIVE
docs AS (SELECT doc_id FROM documents),
pairs AS (SELECT doc_a, doc_b FROM ({MINHASH_SQL})),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
comp(doc_id, label) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.dst, c.label FROM comp c JOIN edges e ON e.src = c.doc_id
),
comps AS (SELECT doc_id, MIN(label) AS component FROM comp GROUP BY doc_id),
tok AS (
  SELECT doc_id,
         CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                   ELSE len(string_split({_NORM_SQL}, ' ')) END AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT c.doc_id, component, n_tokens,
         row_number() OVER (PARTITION BY component ORDER BY n_tokens DESC, c.doc_id) AS rn
  FROM comps c JOIN tok USING (doc_id)
)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS representative_doc
FROM ranked
GROUP BY component
"""


# --- Ingestion-time (cross-corpus) dedup ----------------------------------

# An id-keyed batch split (unlike the content-keyed shard split, which by
# construction never lets an exact duplicate straddle splits): every 5th
# doc_id plays the "incoming crawl batch", the rest the standing corpus.
_BATCH_MOD = 5


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch AGAINST the standing corpus — the
    production mode, where a new crawl is screened at ingestion and the
    corpus is never re-paired with itself. Cost ∝ batch (its shingles,
    its bands, its candidates), not corpus²: the corpus side contributes
    a fingerprint set (one semi-joinable hash per doc) and its LSH band
    table, both of which are write-once artifacts a real pipeline keeps
    materialized between crawls.

    Per batch doc: exact-dup flag (normalized-content fingerprint seen
    in the corpus), LSH candidate count, verified near-dup count
    (Jaccard >= threshold), and the best verified similarity."""
    d = _docs(spark, sf_dir)
    in_batch = F.col("doc_id") % _BATCH_MOD == 0
    fps = d.select("doc_id", F.md5(_norm_col()).alias("fingerprint"))
    corpus_fp = fps.filter(~in_batch).select("fingerprint").distinct()
    exact = (
        fps.filter(in_batch)
        .join(corpus_fp.withColumn("_hit", F.lit(1)), "fingerprint", "left")
        .select("doc_id", F.col("_hit").isNotNull().alias("is_exact_dup"))
    )

    arrs = _arrays_materialized(spark, sf_dir)
    bands = _bands_materialized(spark, sf_dir)
    cand = (
        bands.filter(F.col("doc_id") % _BATCH_MOD == 0)
        .alias("a")
        .join(
            bands.filter(F.col("doc_id") % _BATCH_MOD != 0).alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # r14: array verification kernel (two doc-level joins + map-side
    # intersect) instead of the inline exploded chain. Only the
    # ≥-threshold slice of `verified` is consumed below, so the array
    # path's extra jaccard-0 rows (zero-overlap candidates the exploded
    # inner join dropped early) change nothing.
    verified = _pair_overlap_counts(arrs, cand).withColumn(
        "jaccard",
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
    )
    per_doc = (
        cand.groupBy("doc_a").agg(F.count(F.lit(1)).alias("n_candidates"))
        .join(
            verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .groupBy("doc_a")
            .agg(
                F.count(F.lit(1)).alias("n_near_dups"),
                F.max("jaccard").alias("max_jaccard"),
            ),
            "doc_a",
            "left",
        )
    )
    return (
        exact.join(per_doc.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "is_exact_dup",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
            (F.coalesce("n_near_dups", F.lit(0)) > 0).alias("is_near_dup"),
            "max_jaccard",
        )
    )


def _jaccard_pairs(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """True-Jaccard verification of candidate pairs (doc_a, doc_b) —
    shingle intersection over union, candidates only, threshold-filtered.
    The shared tail of every LSH path: cost ∝ candidates — enforced
    physically by semi-filtering the shingle table to candidate-touched
    docs FIRST, so the joins below shuffle a candidate-sized slice, not
    the whole corpus (without this, each incremental fold was paying a
    full-corpus shingle shuffle: measured 12 s → ~1 s at sf0.1)."""
    touched = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = sh.join(touched, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


def _pair_overlap_counts(
    arrs: DataFrame, cand: DataFrame, n_parts: int | None = None
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) for candidate pairs over a
    per-doc distinct-shingle ARRAY frame (:func:`_shingle_arrays`' shape)
    — the array twin of the exploded verification kernels
    (:func:`_jaccard_pairs` / :func:`verified_containment`). Counts are
    bit-identical: ``n`` is the per-doc distinct shingle count either
    way, and ``size(array_intersect)`` over distinct arrays is exactly
    the exploded path's per-pair match count. Cost discipline is the
    same semi-filter-first contract (only candidate-touched docs'
    arrays move), but the shingle-level explode → two shingle joins →
    count groupBy → two size joins collapse to two doc-level joins plus
    a map-side intersect — ~4 fewer exchanges per call, and the
    shuffled rows carry one array per doc instead of one row per
    (doc, shingle). Equivalence is pinned by
    tests/test_dedup_guards.py::test_array_verification_kernels_match_exploded."""
    # No distinct on the probe side (r14): left_semi dedupes inherently
    # (its build side is a hash SET), so the pre-aggregation exchange
    # bought nothing — the union's ≤ 2·|cand| rows feed the semi join
    # directly, one exchange less per verification call.
    touched = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    t = arrs.join(touched, "doc_id", "left_semi")
    aa = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n").cast("long").alias("n_a"),
    )
    bb = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n").cast("long").alias("n_b"),
    )
    if n_parts:
        # scan-size-knee widening, the verified_containment discipline:
        # the pair rows carry whole shingle arrays through the two
        # joins, so their sort runs must stay a few MB per task at any
        # SF; the aliases preserve the explicit partitioning, so each
        # join is co-partitioned with no extra exchange.
        cand = cand.repartition(n_parts, "doc_a")
        aa = aa.repartition(n_parts, "doc_a")
        bb = bb.repartition(n_parts, "doc_b")
    j = cand.join(aa, "doc_a")
    if n_parts:
        j = j.repartition(n_parts, "doc_b")
    return j.join(bb, "doc_b").select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("arr_a", "arr_b")).cast("long").alias("n_common"),
        "n_a",
        "n_b",
    )


def _jaccard_pairs_from_arrays(arrs: DataFrame, cand: DataFrame) -> DataFrame:
    """True-Jaccard verification over a shingle-ARRAY frame — the array
    twin of :func:`_jaccard_pairs`: the same threshold filter over the
    same double division of the same integer counts, so the pair set is
    bit-identical (a zero-intersection candidate, which the exploded
    path drops at its inner join, scores jaccard 0 here and is dropped
    by the same ≥-threshold filter)."""
    c = _pair_overlap_counts(arrs, cand)
    return (
        c.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


def verified_containment_from_arrays(
    arrs: DataFrame, cand: DataFrame, n_parts: int | None = None
) -> DataFrame:
    """Exact containment verification over a shingle-ARRAY frame — the
    array twin of :func:`verified_containment` (same ratio expressions
    over the same integer counts → bit-identical link set; see
    _pair_overlap_counts for the count-equivalence argument)."""
    c = _pair_overlap_counts(arrs, cand, n_parts=n_parts)
    return (
        c.withColumn("containment_a", F.col("n_common") / F.col("n_a"))
        .withColumn("containment_b", F.col("n_common") / F.col("n_b"))
        .filter(
            F.greatest("containment_a", "containment_b") >= CONTAINMENT_THRESHOLD
        )
    )


def dedup_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the near-dup graph STATE — the answer
    to "the nightly dedup_graph_build is the biggest bench line": instead
    of re-pairing the whole corpus, a new batch updates the persisted
    band table and component labels at cost ∝ batch.

    Standing state (what a real pipeline keeps materialized): the
    corpus band table and the corpus-only component labels. Batch
    arrival:
      1. batch docs' band signatures (cost ∝ batch);
      2. new verified edges = LSH collisions with ≥1 batch endpoint
         (batch×corpus ∪ batch×batch — corpus×corpus pairs cannot
         change and are never recomputed);
      3. QUOTIENT merge: new edges are mapped through the current
         labels (stored corpus labels ∪ batch identity), and connected
         components run on that quotient graph — vertices ∝ touched
         components + batch, never the corpus;
      4. remap: every doc's label routes through the quotient result
         (broadcast join — the quotient mapping is small).

    Because hash-min labels are component-minimum doc_ids at every
    level, min-of-mins equals the global min, so the updated state is
    BIT-EQUAL to a full rebuild — which is exactly what the oracle
    (the full-rebuild recursive SQL) hash-certifies, the
    scd2_incremental pattern applied to the dedup graph."""
    in_batch = F.col("doc_id") % _BATCH_MOD == 0

    def build_corpus() -> DataFrame:
        # Corpus-only verified pairs ARE the full verified pairs with
        # both endpoints outside the batch: the band-collision predicate
        # and the Jaccard check are both per-pair, so restricting the
        # band table before pairing and filtering the pair table after
        # are the same set — and the latter reuses the memoized pair
        # build instead of re-running candidates+verification (this
        # halved the dedup_graph_build bench line).
        pairs = minhash_lsh_pairs(spark, sf_dir).filter(
            (F.col("doc_a") % _BATCH_MOD != 0) & (F.col("doc_b") % _BATCH_MOD != 0)
        ).select("doc_a", "doc_b")
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        vertices = _docs(spark, sf_dir).filter(~in_batch).select("doc_id")
        return connected_components(vertices, edges)

    corpus_labels = _memoized_components("minhash_corpus", spark, sf_dir, build_corpus)
    new_pairs = batch_new_pairs(spark, sf_dir)

    # 3-4. quotient merge over current labels
    current = corpus_labels.select("doc_id", F.col("component").alias("label")).unionByName(
        _docs(spark, sf_dir).filter(in_batch).select("doc_id", F.col("doc_id").alias("label"))
    )
    return merge_components_with_edges(current, new_pairs)


# Verified batch-touched pairs feed the graph merge AND the incremental
# diagnostics (PageRank / triangles) — one checkpointed build per
# (session, sf_dir), the `new_near_dup_pairs` staging table of a real fold.
def batch_new_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steps 1-2 of the incremental fold: the incoming batch's band
    signatures against the full band table → LSH collisions with ≥1
    batch endpoint (batch×corpus ∪ batch×batch — corpus×corpus pairs
    cannot change and are never recomputed) → true-Jaccard verification.
    Cost ∝ batch."""
    return memo.cached(
        spark, "dedup", ("new_pairs", sf_dir), lambda: _batch_new_pairs(spark, sf_dir)
    )


def _batch_new_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    in_batch = F.col("doc_id") % _BATCH_MOD == 0
    arrs = _arrays_materialized(spark, sf_dir)
    bands = _bands_materialized(spark, sf_dir)
    cand_new = (
        bands.filter(in_batch)
        .alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return _jaccard_pairs_from_arrays(arrs, cand_new).localCheckpoint(eager=False)


def merge_components_with_edges(current: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Union-find step as a quotient-graph CC: ``current`` is
    (doc_id, label) with labels = component-minimum ids (hash-min
    invariant); ``new_pairs`` is (doc_a, doc_b). New edges are mapped
    through the labels, components run on that quotient (vertices ∝
    touched components), and every doc's label is remapped through the
    broadcast-sized result. Min-of-mins keeps the output equal to a
    from-scratch CC over the union graph.

    New pairs that fit under GRAPH_COLLECT_CAP resolve the quotient on
    the driver with ``_cc_driver_resolve`` in one action instead of
    D iterations × (checkpoint + convergence agg) — the quotient CC was
    most of the 5 s incremental fold at sf0.1 although its graph had a
    handful of edges. The quotient mapping is broadcast back either
    way, so "fits on the driver" is already the operating assumption."""
    spark = current.sparkSession
    # Driver-first (r14): probe the NEW pairs directly — when they fit
    # under the cap (the operating assumption the quotient path already
    # makes), the edge→label mapping needs ONE bounded scan of
    # ``current`` semi-filtered by a broadcast local endpoint relation,
    # instead of two full lmap join legs + a distinct exchange ahead of
    # the probe. The mapped/deduplicated quotient edges are then pure
    # driver arithmetic; results are bit-identical (same label pairs,
    # same DSU).
    taken = driver_rows(new_pairs.select("doc_a", "doc_b"), GRAPH_COLLECT_CAP)
    if taken is not None:
        doc_a, doc_b = taken.column("doc_a").to_pylist(), taken.column("doc_b").to_pylist()
        ep = _endpoint_frame(spark, doc_a + doc_b)
        lab = {
            r["doc_id"]: r["label"]
            for r in current.join(ep, "doc_id", "left_semi").collect()
        }
        qedges = {
            (lab[a], lab[b])
            for a, b in zip(doc_a, doc_b)
            if a in lab and b in lab and lab[a] != lab[b]
        }
        qvertices = sorted({v for e in qedges for v in e})
        qcomp_rows = _cc_driver_resolve(sorted(qedges), [(v, v) for v in qvertices])
        if not qcomp_rows:
            return current.select("doc_id", F.col("label").alias("component"))
        qcomp = spark.createDataFrame(qcomp_rows, "label long, qcomp long")
    else:  # pathological batch: resolve distributed, same semantics
        lmap_a = current.select(
            F.col("doc_id").alias("doc_a"), F.col("label").alias("la")
        )
        lmap_b = current.select(
            F.col("doc_id").alias("doc_b"), F.col("label").alias("lb")
        )
        qedges_half = (
            new_pairs.join(lmap_a, "doc_a")
            .join(lmap_b, "doc_b")
            .filter(F.col("la") != F.col("lb"))
            .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
            .distinct()
        )
        qedges = qedges_half.unionByName(
            qedges_half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        qvertices = qedges.select(F.col("src").alias("doc_id")).distinct()
        qcomp = connected_components(qvertices, qedges).select(
            F.col("doc_id").alias("label"), F.col("component").alias("qcomp")
        )
    return current.join(F.broadcast(qcomp), "label", "left").select(
        "doc_id", F.coalesce("qcomp", "label").alias("component")
    )


INCREMENTAL_SQL = f"""
WITH sh AS ({_SHINGLES_SQL.format(where="")}),
base AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % {MERSENNE_P} AS h31
  FROM sh
),
hs AS (SELECT doc_id, list(h31) AS hs FROM base GROUP BY doc_id),
bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig
   AND a.doc_id % {_BATCH_MOD} = 0 AND b.doc_id % {_BATCH_MOD} <> 0
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT common.doc_a, n_common / (sa.n + sb.n - n_common) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
),
per_doc AS (
  SELECT c.doc_a,
         (SELECT COUNT(*) FROM cand c2 WHERE c2.doc_a = c.doc_a) AS n_candidates,
         COUNT(*) FILTER (WHERE v.jaccard >= {JACCARD_THRESHOLD}) AS n_near_dups,
         MAX(v.jaccard) FILTER (WHERE v.jaccard >= {JACCARD_THRESHOLD}) AS max_jaccard
  FROM (SELECT DISTINCT doc_a FROM cand) c
  LEFT JOIN verified v ON v.doc_a = c.doc_a
  GROUP BY c.doc_a
),
corpus_fp AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % {_BATCH_MOD} <> 0
),
batch AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % {_BATCH_MOD} = 0
)
SELECT b.doc_id,
       cf.fingerprint IS NOT NULL AS is_exact_dup,
       CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(p.n_near_dups, 0) AS BIGINT) AS n_near_dups,
       COALESCE(p.n_near_dups, 0) > 0 AS is_near_dup,
       p.max_jaccard
FROM batch b
LEFT JOIN corpus_fp cf ON cf.fingerprint = b.fingerprint
LEFT JOIN per_doc p ON p.doc_a = b.doc_id
"""


def _incremental_sql() -> str:
    return INCREMENTAL_SQL.format(bands=_minhash_bands_sql())


# --- Containment (asymmetric) near-dup ------------------------------------
# Jaccard misses the quote/excerpt case: a small doc wholly contained in
# a big one has tiny |A∩B|/|A∪B| but containment |A∩B|/|A| ≈ 1. The
# scale-safe candidate generator is prefix filtering over an inverted
# index of RARE shingles (document frequency bounded above): join cost
# is Σ df² over rare shingles ≤ RARE_DF_MAX per posting list, never
# all-pairs; exact containment verifies candidates only. Pairs sharing
# only ubiquitous shingles are skipped by design — a contained document
# shares its container's rare shingles in any real corpus, and the df
# bound is exactly what keeps the join safe at 100 TB.

CONTAINMENT_THRESHOLD = 0.5
RARE_DF_MIN = 2      # df=1 shingles cannot produce a pair
RARE_DF_MAX = 5


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs over the full corpus: candidates
    from the rare-shingle inverted index, verified with exact shingle
    counts; emits both direction ratios and a direction verdict.

    The candidate self-join and the verification joins sort shingle-table
    slices whose per-task runs grow ∝ corpus at a fixed partition count
    (2.7 GB disk spill at the 100× probe, VERDICT r10 #8), so their
    exchanges take the compressed-text scan-size knee over the documents
    parquet: ~256 KB of parquet ≈ ~13 MB of per-task sort run."""
    return containment_pairs(
        _shingles_materialized(spark, sf_dir),
        n_parts=scan_partitions(_docs(spark, sf_dir), text=True),
        arrs=_arrays_materialized(spark, sf_dir),
    )


def verified_containment(
    sh: DataFrame, cand: DataFrame, n_parts: int | None = None
) -> DataFrame:
    """Exact containment verification of candidate pairs over a shingle
    table, threshold-filtered — the shared stage of the batch kernel and
    the streaming fold (one definition so a semantics change cannot
    silently diverge them; review finding). Same cost discipline as
    _jaccard_pairs: the shingle table is semi-filtered to
    candidate-touched docs FIRST, so the joins and the sizes groupBy
    shuffle a candidate-sized slice, not the corpus (per-doc shingle
    counts are invariant under a doc_id filter — result identical).
    With ``n_parts`` the verification joins' exchanges are widened to
    the scan-size knee so their sort runs stay a few MB per task at any
    SF (the projection aliases preserve the explicit partitioning, so
    each join is co-partitioned with no extra exchange)."""
    # No distinct on the probe side (r14): left_semi dedupes inherently —
    # see _pair_overlap_counts.
    touched = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    sh = sh.join(touched, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh
    sb = sh
    if n_parts:
        cand = cand.repartition(n_parts, "doc_a")
        sa = sh.repartition(n_parts, "doc_id")
        sb = sh.repartition(n_parts, "doc_id", "shingle")
    common = cand.join(
        sa.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
    )
    if n_parts:
        common = common.repartition(n_parts, "doc_b", "shingle")
    common = (
        common.join(
            sb.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .withColumn("containment_a", F.col("n_common") / F.col("n_a"))
        .withColumn("containment_b", F.col("n_common") / F.col("n_b"))
        .filter(
            F.greatest("containment_a", "containment_b") >= CONTAINMENT_THRESHOLD
        )
    )


def containment_pairs(
    sh: DataFrame, n_parts: int | None = None, arrs: DataFrame | None = None
) -> DataFrame:
    """The containment kernel over any (doc_id, shingle) table. With
    ``n_parts`` the posting self-join and the pair DISTINCT run on
    knee-widened explicit exchanges (both join legs are the same subtree
    over the same exchange, so ReuseExchange shuffles the posting list
    once). With ``arrs`` (the per-doc shingle-array twin of ``sh``),
    verification runs the array kernel — bit-identical links, ~4 fewer
    exchanges (r14)."""
    df_ = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = df_.filter(
        (F.col("df") >= RARE_DF_MIN) & (F.col("df") <= RARE_DF_MAX)
    ).select("shingle")
    posting = sh.join(rare, "shingle", "left_semi")
    if n_parts:
        posting = posting.repartition(n_parts, "shingle")
    cand = (
        posting.alias("a")
        .join(
            posting.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if n_parts:
        cand = cand.repartition(n_parts, "doc_a", "doc_b")
    cand = cand.distinct()
    j = (
        verified_containment_from_arrays(arrs, cand, n_parts=n_parts)
        if arrs is not None
        else verified_containment(sh, cand, n_parts=n_parts)
    )
    direction = (
        F.when(
            (F.col("containment_a") >= CONTAINMENT_THRESHOLD)
            & (F.col("containment_b") >= CONTAINMENT_THRESHOLD),
            F.lit("mutual"),
        )
        .when(F.col("containment_a") >= CONTAINMENT_THRESHOLD, F.lit("a_in_b"))
        .otherwise(F.lit("b_in_a"))
    )
    return j.select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        "containment_a", "containment_b", direction.alias("direction"),
    )


def _containment_links_split_sql() -> str:
    """Replay of the streaming containment fold's two-epoch discovery
    log (streaming/containment_stream.py, even/odd playback): epoch 0
    pairs even docs on shingles rare in the EVEN-ONLY document
    frequency; epoch 1 pairs the odd batch against the full corpus on
    shingles rare in the FULL df — the same per-epoch df snapshots the
    fold sees. Verification counts are doc-local (invariant under the
    corpus split), so one shared verify tail serves both epochs."""
    return f"""
WITH sh AS ({_SHINGLES_SQL.format(where="")}),
sh0 AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
df0 AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
rare0 AS (SELECT shingle FROM df0 WHERE df BETWEEN {RARE_DF_MIN} AND {RARE_DF_MAX}),
posting0 AS (SELECT s.doc_id, s.shingle FROM sh0 s JOIN rare0 r ON r.shingle = s.shingle),
cand0 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM posting0 a JOIN posting0 b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
df1 AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
rare1 AS (SELECT shingle FROM df1 WHERE df BETWEEN {RARE_DF_MIN} AND {RARE_DF_MAX}),
posting1 AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare1 r ON r.shingle = s.shingle),
cand1 AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b
  FROM posting1 a JOIN posting1 b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  WHERE a.doc_id % 2 = 1
),
cand AS (SELECT doc_a, doc_b FROM cand0 UNION SELECT doc_a, doc_b FROM cand1),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
         CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b,
         n_common / za.n AS containment_a,
         n_common / zb.n AS containment_b
  FROM common
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
)
SELECT doc_a, doc_b, n_common, n_a, n_b
FROM j
WHERE GREATEST(containment_a, containment_b) >= {CONTAINMENT_THRESHOLD}
"""


CONTAINMENT_SQL = f"""
WITH sh AS ({{shingles}}),
df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
rare AS (SELECT shingle FROM df WHERE df BETWEEN {RARE_DF_MIN} AND {RARE_DF_MAX}),
posting AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare r ON r.shingle = s.shingle),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM posting a JOIN posting b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
         CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b,
         n_common / za.n AS containment_a,
         n_common / zb.n AS containment_b
  FROM common
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
)
SELECT doc_a, doc_b, n_common, n_a, n_b, containment_a, containment_b,
       CASE WHEN containment_a >= {CONTAINMENT_THRESHOLD}
             AND containment_b >= {CONTAINMENT_THRESHOLD} THEN 'mutual'
            WHEN containment_a >= {CONTAINMENT_THRESHOLD} THEN 'a_in_b'
            ELSE 'b_in_a' END AS direction
FROM j
WHERE GREATEST(containment_a, containment_b) >= {CONTAINMENT_THRESHOLD}
"""


def _containment_sql() -> str:
    return CONTAINMENT_SQL.format(shingles=_SHINGLES_SQL.format(where=""))


# --- Triangle counting / clustering coefficient ----------------------------


def dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count and local clustering coefficient over
    the capped near-dup graph — the graph-density signal that separates
    a tight duplicate CLIQUE (template spam: coefficient ≈ 1) from a
    CHAIN of marginal pairs (drifting revisions: coefficient ≈ 0), which
    changes what a curation pass should do with the cluster.

    The cyclic (triangle) join done scale-right: edges are kept in
    canonical (lo < hi) orientation, so each triangle is enumerated
    exactly once as (a<b<c) = e(a,b) ⋈ e(b,c) ⋈ e(a,c) — the standard
    wedge-close join, cost ∝ Σ deg² (wedges), never all-pairs. Counts
    are exact integers; the coefficient is one double division."""
    return triangle_stats(
        _local_checkpoint_stats_clean(
            ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b"),
            eager=False,
        )
    )


def dedup_triangles_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts / clustering coefficients over the UNCAPPED banded
    MinHash-LSH pair graph — the production graph (VERDICT r4 #1). The
    pair table is the memoized LSH build, so this entry adds only the
    wedge-close join (cost ∝ Σ deg² over the near-dup graph, which is
    tiny relative to the corpus) on top of it."""
    return triangle_stats(minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"))


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """The triangle kernel over any canonically-oriented (doc_a < doc_b)
    edge table.

    DEGREE-ORDERED orientation (round 6): wedges are enumerated at each
    edge's lower-degree endpoint (ties by id), not at the lower-ID
    endpoint. Under id-orientation a low-id boilerplate hub centers
    deg² wedges; orienting every edge toward the higher-degree endpoint
    bounds every vertex's out-degree by O(√m) (a vertex with out-degree
    d has ≥ d neighbors of degree ≥ d, so d(d−1) ≤ 2m), making total
    wedge work O(m^1.5) regardless of skew — the classic bound, and the
    difference between 'works on the test graph' and 'survives the hub
    the diagnostics exist to find'. Each triangle is counted exactly
    once (its vertices are totally ordered by (degree, id)); per-doc
    counts are orientation-invariant, so the DuckDB oracle keeps the
    plain formulation and the driver hash certifies equivalence."""
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e = (
        pairs.join(deg.select(F.col("doc_id").alias("doc_a"), F.col("degree").alias("dega")), "doc_a")
        .join(deg.select(F.col("doc_id").alias("doc_b"), F.col("degree").alias("degb")), "doc_b")
    )
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("ddeg"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.ddeg") < F.col("o2.ddeg"))
            | (
                (F.col("o1.ddeg") == F.col("o2.ddeg"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    # close the wedge: (b, c) is (deg, id)-ordered, so the closing edge
    # can only be oriented b → c
    tri = wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    per_doc = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
        .withColumn("clustering_coeff", coeff)
    )


def _triangles_sql(pairs_sql: str, materialize: bool = False) -> str:
    mat = "MATERIALIZED " if materialize else ""
    return f"""
WITH pairs AS {mat}(SELECT doc_a, doc_b FROM ({pairs_sql})),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_triangles
  FROM (SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY doc_id
),
deg AS (
  SELECT doc_id, COUNT(*) AS degree
  FROM (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN 2.0 * COALESCE(p.n_triangles, 0) / (d.degree * (d.degree - 1))
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


TRIANGLES_SQL = _triangles_sql(NGRAM_SQL)
TRIANGLES_BANDED_SQL = _triangles_sql(MINHASH_SQL, materialize=True)


# --- PageRank centrality over the near-dup graph ---------------------------
# Fixed-point integer PageRank: ranks are scaled by PR_SCALE and every
# update is integer arithmetic (floor division), so Spark and DuckDB
# agree bit-for-bit after any number of iterations — the same
# determinism trick as the micro-unit cosine (similarity.py) applied to
# an iterative graph algorithm. With a FIXED iteration count the whole
# recurrence is SQL-replayable as chained CTEs, which is what lets an
# iterative Spark loop be driver-hash-certified at all.

PR_SCALE = 1_000_000
PR_ITERATIONS = 5
PR_DAMP_NUM = 85          # damping 0.85 as a ratio
PR_BASE = (PR_SCALE * (100 - PR_DAMP_NUM)) // 100


def _pr_round(
    edges_deg: DataFrame, active: DataFrame, ranks: DataFrame
) -> DataFrame:
    """One PageRank round: push rank/deg along degree-annotated edges,
    sum at dst, damp. ``edges_deg`` carries the src degree pre-joined
    ONCE per build (not once per round — one less join per iteration),
    which also matters for skew: the edge-join hashes on ``src``, and a
    boilerplate hub — the very doc PageRank exists to find —
    concentrates its partition. With the degree already inlined, the
    join's output feeds only a map-side partial aggregate (no downstream
    co-partitioned consumer), so AQE's skew split applies without
    introducing an extra shuffle; the old per-round ``⋈ deg`` reused the
    src partitioning and made AQE decline the rewrite. Pinned by the
    planted-hub plan test (test_dedup_guards)."""
    contrib = edges_deg.join(ranks, edges_deg["src"] == ranks["doc_id"]).select(
        "dst", F.expr("rank div d").alias("c")
    )
    incoming = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
    return active.join(incoming, active["doc_id"] == incoming["dst"], "left").select(
        "doc_id",
        (
            F.lit(PR_BASE)
            + F.expr(f"({PR_DAMP_NUM} * coalesce(inc, 0)) div 100")
        ).cast("long").alias("rank"),
    )


def _pagerank_driver(spark: SparkSession, vertices: DataFrame, pairs) -> DataFrame:
    """Exact-integer PageRank on a collected (doc_a, doc_b) Arrow table:
    PR_ITERATIONS numpy rounds plus one endpoint-sized membership collect
    instead of (deg build + PR_ITERATIONS × (join + grouped sum +
    checkpoint)). Replicates the distributed loop bit-for-bit:
    undirected degree counts EVERY edge row (multiplicity preserved —
    pairs are fed as-is, exactly like the distributed union), ranks
    exist only for vertices-∩-endpoints, each round is floor(rank/deg)
    pushed both ways, summed at dst, damped with the same integer
    expression. Passive (edge-free) vertices rejoin lazily with the
    closed-form PR_BASE."""
    src = pairs.column("doc_a").to_numpy().astype(np.int64)
    dst = pairs.column("doc_b").to_numpy().astype(np.int64)
    ids = np.unique(np.concatenate([src, dst]))
    endpoints_df = _endpoint_frame(spark, ids.tolist())
    active = (
        vertices.join(endpoints_df, "doc_id", "left_semi")
        .toArrow()
        .column("doc_id")
        .to_numpy()
        .astype(np.int64)
    )
    si, di = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    # both directions, exactly like the distributed union
    si, di = np.concatenate([si, di]), np.concatenate([di, si])
    deg = np.bincount(si, minlength=len(ids)).astype(np.int64)
    is_active = np.isin(ids, active)
    rank = np.where(is_active, np.int64(PR_SCALE), np.int64(0))
    for _ in range(PR_ITERATIONS):
        contrib = np.where(is_active[si], rank[si] // deg[si], np.int64(0))
        inc = np.zeros(len(ids), dtype=np.int64)
        np.add.at(inc, di, contrib)
        rank = np.where(
            is_active, PR_BASE + (PR_DAMP_NUM * inc) // 100, np.int64(0)
        )
    at = np.searchsorted(ids, active)
    out = list(zip(active.tolist(), deg[at].tolist(), rank[at].tolist()))
    resolved = spark.createDataFrame(out, "doc_id long, degree long, rank long")
    passive = vertices.join(endpoints_df, "doc_id", "left_anti").select(
        "doc_id",
        F.lit(0).cast("long").alias("degree"),
        F.lit(PR_BASE).cast("long").alias("rank"),
    )
    return resolved.unionByName(passive)


def pagerank_stats(vertices: DataFrame, pairs: DataFrame) -> DataFrame:
    """The PageRank kernel over any canonically-oriented (doc_a < doc_b)
    edge table plus a vertex universe: classic damped PageRank,
    PR_ITERATIONS rounds, undirected edges fed both ways.

    Scale shape: the same iterative discipline as connected_components —
    each round is one edge-join + grouped sum with the lineage cut by
    localCheckpoint (at cluster scale: durable checkpoint), and the loop
    runs ONLY on edge-endpoint vertices. A singleton receives no mass
    and contributes none, so from round one onward its rank is the
    constant base PR_BASE — the (at 100 TB, overwhelming) singleton
    majority of the corpus bypasses every propagation shuffle and
    rejoins at the end with that closed form. Per-round cost ∝ edges,
    not ∝ corpus. Edge lists under GRAPH_COLLECT_CAP resolve on the
    driver (see _pagerank_driver)."""
    taken = driver_rows(pairs.select("doc_a", "doc_b"), GRAPH_COLLECT_CAP)
    if taken is not None:
        return _pagerank_driver(pairs.sparkSession, vertices, taken)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # repartition by (src, dst) — NOT by src — before the lineage cut:
    # the deg join leaves the table hash-partitioned on src, so a hub's
    # rows would all sit in ONE mapper of every round's re-shuffle, and
    # AQE skew-split (whose split unit is a mapper chunk) could never
    # split the hub's reduce partition. Spreading on the composite key
    # costs one build-time shuffle, amortized over PR_ITERATIONS rounds,
    # and is what makes the hub-skew AQE rewrite fire at all (pinned by
    # the planted-hub plan test in test_dedup_guards).
    edges_deg = (
        edges.join(deg, "src")
        .repartition(F.col("src"), F.col("dst"))
        .localCheckpoint(eager=False)
    )
    endpoints = edges.select(F.col("src").alias("doc_id")).distinct()
    active = vertices.join(endpoints, "doc_id", "left_semi")
    passive = vertices.join(endpoints, "doc_id", "left_anti")
    ranks = active.select("doc_id", F.lit(PR_SCALE).cast("long").alias("rank"))
    for _ in range(PR_ITERATIONS):
        ranks = _pr_round(edges_deg, active, ranks).localCheckpoint()
    ranks = ranks.unionByName(
        passive.select("doc_id", F.lit(PR_BASE).cast("long").alias("rank"))
    )
    degrees = deg.select(F.col("src").alias("doc_id"), F.col("d").alias("degree"))
    return ranks.join(degrees, "doc_id", "left").select(
        "doc_id",
        F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
        "rank",
    )


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the capped 3-gram near-dup graph — the signal a
    curation pass uses to pick the canonical representative of a dup
    cluster (most-connected version) or to find template/boilerplate
    hubs. The kernel is ``pagerank_stats``; this entry feeds it the
    capped verification graph, ``dedup_pagerank_banded`` the uncapped
    production graph."""
    vertices = _docs(spark, sf_dir).filter(F.col("doc_id") < DOC_CAP).select("doc_id")
    return pagerank_stats(
        vertices, ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )


def dedup_pagerank_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the UNCAPPED banded MinHash-LSH pair graph — the
    production graph the components/cluster-stats entries certify
    (VERDICT r4 #1: the diagnostics must run where the 100 TB claims
    live, not only on the capped verification graph). Candidate
    generation stays banded LSH (never all-pairs); the iteration runs
    on edge endpoints only, so corpus growth costs nothing beyond the
    pair build itself."""
    return pagerank_stats(
        _docs(spark, sf_dir).select("doc_id"),
        minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"),
    )


def _pagerank_sql(docs_sql: str, pairs_sql: str, materialize: bool = False) -> str:
    """Chained-CTE replay of the fixed-point recurrence: it0 = PR_SCALE,
    it{k} = PR_BASE + (85 · Σ_in floor(it{k−1}/deg)) div 100.
    ``materialize`` pins the pair CTE with AS MATERIALIZED so DuckDB
    doesn't inline (and so re-run) an expensive generator — the banded
    variant's MinHash pipeline — once per iteration CTE."""
    its = [f"it0 AS (SELECT doc_id, CAST({PR_SCALE} AS BIGINT) AS rank FROM docs)"]
    for k in range(1, PR_ITERATIONS + 1):
        its.append(f"""it{k} AS (
  SELECT d.doc_id,
         CAST({PR_BASE} + ({PR_DAMP_NUM} * COALESCE(SUM(r.rank // g.d), 0)) // 100
              AS BIGINT) AS rank
  FROM docs d
  LEFT JOIN edges e ON e.dst = d.doc_id
  LEFT JOIN it{k - 1} r ON r.doc_id = e.src
  LEFT JOIN deg g ON g.src = e.src
  GROUP BY d.doc_id
)""")
    chain = ",\n".join(its)
    mat = "MATERIALIZED " if materialize else ""
    return f"""
WITH docs AS {mat}({docs_sql}),
pairs AS {mat}(SELECT doc_a, doc_b FROM ({pairs_sql})),
edges AS {mat}(
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS {mat}(SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
{chain}
SELECT f.doc_id,
       CAST(COALESCE(g.d, 0) AS BIGINT) AS degree,
       f.rank
FROM it{PR_ITERATIONS} f
LEFT JOIN deg g ON g.src = f.doc_id
"""


# --- Incremental maintenance of the graph diagnostics ----------------------
# Triangles and PageRank never cross a component boundary (a triangle's
# three edges live inside one component; PageRank mass only flows along
# edges), so a batch of new edges can only change the diagnostics of the
# components it TOUCHES. The fold: keep the stored rows of untouched
# components, re-run the kernels on the touched components' edge
# subgraph only — cost ∝ touched components + batch, never corpus. The
# driver oracle is the full-rebuild SQL, so a green row certifies the
# fold is bit-equal to recomputing from scratch (the
# dedup_graph_incremental pattern applied to the diagnostics — VERDICT
# r4 #2, the last non-incremental stage in the curation story).


def _corpus_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing corpus-only verified pairs (both endpoints outside the
    batch) — same derivation as the graph fold's corpus state."""
    return minhash_lsh_pairs(spark, sf_dir).filter(
        (F.col("doc_a") % _BATCH_MOD != 0) & (F.col("doc_b") % _BATCH_MOD != 0)
    ).select("doc_a", "doc_b")


def _touched_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_ids of every member of a component touched by the batch's new
    edges, under the MERGED labeling (memoized — it is the standing
    label table)."""
    merged = dedup_components_minhash(spark, sf_dir)
    new_pairs = batch_new_pairs(spark, sf_dir)
    endpoints = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    touched = (
        merged.join(endpoints, "doc_id", "left_semi").select("component").distinct()
    )
    return merged.join(touched, "component", "left_semi").select("doc_id")


def _touched_pairs(spark: SparkSession, sf_dir: str, touched_docs: DataFrame) -> DataFrame:
    """All verified near-dup pairs inside touched components: standing
    corpus pairs ∪ the batch's new pairs, restricted by ONE endpoint
    (both endpoints of an edge share a component, so filtering doc_a
    suffices)."""
    union_pairs = _corpus_pairs(spark, sf_dir).unionByName(
        batch_new_pairs(spark, sf_dir)
    )
    return union_pairs.join(
        touched_docs.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
    )


def pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the full banded graph, maintained incrementally:
    stored corpus rows for untouched components + a kernel re-run on the
    touched components' subgraph + the constant base rank for edge-free
    batch docs (a singleton's rank is PR_BASE in closed form)."""
    in_batch = F.col("doc_id") % _BATCH_MOD == 0

    def build_stored() -> DataFrame:
        return pagerank_stats(
            _docs(spark, sf_dir).filter(~in_batch).select("doc_id"),
            _corpus_pairs(spark, sf_dir),
        )

    stored = _memoized_components("pagerank_corpus", spark, sf_dir, build_stored)
    touched = _touched_docs(spark, sf_dir).localCheckpoint(eager=False)
    keep = stored.join(touched, "doc_id", "left_anti")
    recomputed = pagerank_stats(touched, _touched_pairs(spark, sf_dir, touched))
    passive_batch = (
        _docs(spark, sf_dir)
        .filter(in_batch)
        .join(touched, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(0).cast("long").alias("degree"),
            F.lit(PR_BASE).cast("long").alias("rank"),
        )
    )
    return keep.unionByName(recomputed).unionByName(passive_batch)


def triangles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the full banded graph, maintained
    incrementally: stored corpus rows for untouched components + a
    kernel re-run on the touched components' subgraph. (Docs with no
    edges don't appear — matching the full rebuild's output shape.)"""

    def build_stored() -> DataFrame:
        return triangle_stats(_corpus_pairs(spark, sf_dir))

    stored = _memoized_components("triangles_corpus", spark, sf_dir, build_stored)
    touched = _touched_docs(spark, sf_dir).localCheckpoint(eager=False)
    keep = stored.join(touched, "doc_id", "left_anti")
    recomputed = triangle_stats(_touched_pairs(spark, sf_dir, touched))
    return keep.unionByName(recomputed)


# --- exact-substring span dedup ---------------------------------------------

# Window length (tokens) of the positional shingle: a repeated run of at
# least this many consecutive tokens counts as a duplicated span (the
# Lee et al. 2022 "Deduplicating Training Data Makes Language Models
# Better" substring-dedup semantic, re-expressed relationally — the
# suffix array becomes a positional-shingle group-join, which is the
# shape that distributes).
SUBSTR_K = 8


def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile per document: find every
    maximal token span covered by SUBSTR_K-token windows that occur at
    least twice in the corpus (cross-doc or self-repetition), the signal
    substring-level dedup trims where document-level dedup sees two
    "different" documents sharing a long boilerplate run.

    Kernel: positional shingles (doc_id, pos, md5(k-gram)) → window
    hashes with global count ≥ 2 → per-doc interval union of the
    surviving [pos, pos+K) windows via the running-max island trick
    (a window starts a new span iff its pos exceeds every previous
    window's end) → per-span coverage MAX(pos)+K−MIN(pos) → per-doc
    span count / covered tokens / longest span / covered fraction.
    Emits only documents with at least one duplicated span.

    Scale shape: the shingle stream is one row per token (the LM-scoring
    floor), the count table is a map-side-combinable groupBy on the
    128-bit window hash, the join back is key-partitioned on that hash,
    and both windows partition by doc_id — bounded by document length,
    never corpus-wide. No all-pairs stage anywhere: cost is ∝ corpus
    tokens + duplicated-window occurrences."""
    return substring_spans_df(_docs(spark, sf_dir))


def _positional_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, pos, h) stream of 1-based SUBSTR_K-token window
    hashes — the shared front end of the substring-dedup profile and
    apply entries. One row per token position; docs shorter than the
    window emit nothing."""
    toks = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= SUBSTR_K)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - SUBSTR_K + 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(
                F.concat_ws(
                    " ", *[F.element_at("toks", i + k) for k in range(SUBSTR_K)]
                )
            ).alias("h"),
        ),
    )
    return base.select(
        "doc_id", F.size("toks").alias("n_tokens"), F.explode(grams).alias("g")
    ).select("doc_id", "n_tokens", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))


def substring_spans_df(d: DataFrame) -> DataFrame:
    """Kernel of docs_exact_substring_dedup over any (doc_id, text)
    DataFrame — see :func:`exact_substring_spans`."""
    sh = _positional_shingles(d)
    dup_h = (
        sh.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).filter(F.col("cnt") >= 2)
    )
    return _spans_profile(sh.join(dup_h.select("h"), "h"))


def _spans_profile(dp: DataFrame) -> DataFrame:
    """Island-merge + per-doc span profile over a (doc_id, n_tokens, pos)
    frame of duplicated window positions — shared by the full profile and
    the incremental screen."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + SUBSTR_K).over(w_prev)
    flagged = dp.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("ni"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        flagged.select(
            "doc_id", "n_tokens", "pos", F.sum("ni").over(w_run).alias("island")
        )
        .groupBy("doc_id", "n_tokens", "island")
        .agg((F.max("pos") + SUBSTR_K - F.min("pos")).alias("span_tokens"))
    )
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
        F.max("span_tokens").alias("longest_span"),
        (F.sum("span_tokens").cast("double") / F.col("n_tokens")).alias(
            "dup_fraction"
        ),
    )


_SUBSTR_GRAM_SQL = " || ' ' || ".join(f"toks[i+{k}]" for k in range(SUBSTR_K))

# Shared CTE prefix of the substring-dedup profile and apply oracles:
# tokenized docs (d), window-bearing docs (b), positional window hashes (sh).
_POS_SH_CTES = f"""d AS (
  SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks
  FROM documents
),
b AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM d WHERE len(toks) >= {SUBSTR_K}),
sh AS (
  SELECT doc_id, n_tokens, i AS pos, md5({_SUBSTR_GRAM_SQL}) AS h
  FROM (SELECT doc_id, n_tokens, toks,
               unnest(range(1, n_tokens - {SUBSTR_K} + 2)) AS i
        FROM b)
)"""

SUBSTRING_SPANS_SQL = f"""
WITH {_POS_SH_CTES},
dups AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
dp AS (SELECT sh.* FROM sh JOIN dups USING (h)),
fl AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN MAX(pos + {SUBSTR_K}) OVER w IS NULL
                   OR pos > MAX(pos + {SUBSTR_K}) OVER w
              THEN 1 ELSE 0 END AS ni
  FROM dp
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
  SELECT doc_id, n_tokens, pos,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
),
sp AS (
  SELECT doc_id, n_tokens, island,
         MAX(pos) + {SUBSTR_K} - MIN(pos) AS span_tokens
  FROM isl GROUP BY doc_id, n_tokens, island
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
       CAST(MAX(span_tokens) AS BIGINT) AS longest_span,
       CAST(SUM(span_tokens) AS DOUBLE) / n_tokens AS dup_fraction
FROM sp GROUP BY doc_id, n_tokens
"""


# Composite occurrence key for picking the canonical copy of a repeated
# window: min(doc_id · 2³² + pos) — total order identical in Spark and
# SQL with pure int64 arithmetic (positions are bounded far below 2³²).
_CANON_MULT = 1 << 32


def substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of substring dedup: emit each document's CLEANED
    text with every redundant duplicated span removed, where redundant
    means "not the canonical occurrence" — for each repeated SUBSTR_K
    window, the occurrence with the smallest (doc_id, pos) survives, all
    others are cut (the Lee et al. keep-one-copy policy). Completes the
    substring family: docs_exact_substring_dedup profiles, this rewrites.

    Kernel: positional window hashes → per-hash canonical key
    min(doc_id·2³² + pos) over occurrences ≥ 2 → non-canonical positions
    → per-doc interval union (the profile entry's island windows) →
    removable ranges collected per doc (islands are few and disjoint) →
    one array-side projection rebuilds the text from uncovered token
    positions. Output is the cleaned string itself, so the driver hash
    certifies the rewrite byte-for-byte.

    Scale shape: same as the profile entry (token-stream scan, hash
    groupBy, key-partitioned join back, doc-partitioned windows) plus a
    per-doc collect of its OWN removable ranges — bounded by doc length,
    never corpus-wide — and a zero-shuffle final projection."""
    return substring_apply_df(_docs(spark, sf_dir))


# Tokens per rebuild shard: after tokenization every shuffled/joined row
# in the apply rebuild carries at most this many tokens, so a multi-MB web
# document never makes one row the memory unit (VERDICT r9 #1). Power of 2
# so the float division in the segment count is exact.
SUBSTR_APPLY_SEG = 4096


def _apply_seg_out(d: DataFrame, seg: int) -> DataFrame:
    """Segment stage of the sharded apply rebuild: one row per
    ``seg``-token range of each non-empty document, carrying that
    range's token count, kept-token count, and rebuilt kept-token string.
    Exposed separately so tests can pin the bounded-row-width contract
    (max seg_n ≤ seg regardless of document length)."""
    from pyspark.sql import Window

    sh = _positional_shingles(d)
    okey = F.col("doc_id") * _CANON_MULT + F.col("pos")
    canon = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min(okey).alias("canon_key"))
        .filter(F.col("cnt") >= 2)
    )
    red = (
        sh.join(canon, "h")
        .filter(okey != F.col("canon_key"))
        .select("doc_id", "pos")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + SUBSTR_K).over(w_prev)
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = red.select(
        "doc_id",
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("ni"),
    )
    # Removable islands stay as ROWS (doc_id, s, e) — never collected
    # into a per-doc array.
    ranges = (
        flagged.select("doc_id", "pos", F.sum("ni").over(w_run).alias("island"))
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + SUBSTR_K).alias("e"))
    )
    # Each island lands on exactly the segments it overlaps: positions
    # [s, e) with 1-based global pos p map to 0-based segment (p-1)/seg.
    seg_rng = (
        ranges.select(
            "doc_id",
            F.explode(
                F.sequence(
                    ((F.col("s") - 1) / seg).cast("int"),
                    ((F.col("e") - 2) / seg).cast("int"),
                )
            ).alias("seg_no"),
            "s",
            "e",
        )
        .groupBy("doc_id", "seg_no")
        .agg(F.collect_list(F.struct("s", "e")).alias("rng"))
    )
    toks = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    base = d.select("doc_id", toks.alias("toks"))
    # One bounded row per seg-token range; zero-token docs emit nothing
    # here and are restored by the final left join.
    segs = base.filter(F.size("toks") > 0).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), ((F.size("toks") - 1) / seg).cast("int")
                ),
                lambda s: F.slice("toks", s * seg + 1, seg),
            )
        ).alias("seg_no", "seg_toks"),
    )
    rngc = F.coalesce(
        F.col("rng"), F.array().cast("array<struct<s:int,e:int>>")
    )
    off = F.col("seg_no") * seg  # global pos = off + local 1-based index
    keep_i = F.filter(
        F.sequence(F.lit(1), F.size("seg_toks")),
        lambda i: ~F.exists(
            rngc, lambda r: (i + off >= r["s"]) & (i + off < r["e"])
        ),
    )
    return (
        segs.join(seg_rng, ["doc_id", "seg_no"], "left")
        .select("doc_id", "seg_no", "seg_toks", keep_i.alias("keep_i"))
        .select(
            "doc_id",
            "seg_no",
            F.size("seg_toks").alias("seg_n"),
            F.size("keep_i").alias("seg_kept"),
            F.concat_ws(
                " ", F.transform("keep_i", lambda i: F.element_at("seg_toks", i))
            ).alias("seg_text"),
        )
    )


def substring_apply_df(d: DataFrame, seg: int = SUBSTR_APPLY_SEG) -> DataFrame:
    """Kernel of docs_substring_dedup_apply over any (doc_id, text)
    DataFrame — see :func:`substring_dedup_apply`.

    The cleaned-text rebuild is SHARDED BY TOKEN RANGE (round 10,
    VERDICT r9 #1): each document's token stream splits into
    ``seg``-token segments (one row each), the removable [s, e) islands
    are exploded onto exactly the segments they overlap and joined
    key-partitioned on (doc_id, seg_no), each segment rebuilds its own
    kept-token string locally, and the per-doc cleaned text reassembles
    with concat_ws over the seg_no-sorted segment strings. Row width
    after the scan is bounded by ``seg`` tokens plus one segment-string
    per ``seg`` tokens at the reassembly — never the whole token array
    (the pre-round-10 shape carried every token of the document in one
    row, making a multi-MB document the memory unit)."""
    seg_out = _apply_seg_out(d, seg)
    # Reassemble per doc: sorted segment STRINGS (one per seg tokens),
    # empty segments dropped so the join separator never doubles.
    doc_agg = seg_out.groupBy("doc_id").agg(
        F.sum("seg_kept").alias("n_kept"),
        F.concat_ws(
            " ",
            F.filter(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_no", "seg_text"))),
                    lambda x: x["seg_text"],
                ),
                lambda t: t != "",
            ),
        ).alias("cleaned_text"),
    )
    toks = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    return (
        d.select("doc_id", F.size(toks).alias("n_tokens"))
        .join(doc_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed_tokens"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


SUBSTRING_APPLY_SQL = f"""
WITH {_POS_SH_CTES},
canon AS (
  SELECT h, MIN(doc_id * {_CANON_MULT} + pos) AS canon_key
  FROM sh GROUP BY h HAVING COUNT(*) >= 2
),
red AS (
  SELECT sh.doc_id, sh.pos FROM sh JOIN canon USING (h)
  WHERE sh.doc_id * {_CANON_MULT} + sh.pos <> canon.canon_key
),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN MAX(pos + {SUBSTR_K}) OVER w IS NULL
                   OR pos > MAX(pos + {SUBSTR_K}) OVER w
              THEN 1 ELSE 0 END AS ni
  FROM red
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
  SELECT doc_id, pos,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
),
rg AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {SUBSTR_K} AS e
  FROM isl GROUP BY doc_id, island
),
ts AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok FROM d
),
kept AS (
  SELECT t.doc_id, t.i, t.tok
  FROM ts t LEFT JOIN rg r ON t.doc_id = r.doc_id AND t.i >= r.s AND t.i < r.e
  WHERE r.doc_id IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed_tokens,
       COALESCE(cleaned_text, '') AS cleaned_text
FROM d LEFT JOIN agg USING (doc_id)
"""


def substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time substring screening — the incremental form of
    docs_exact_substring_dedup, at cost ∝ batch. A new crawl's window
    hashes are checked against (a) the standing corpus's DISTINCT
    window-hash set — the write-once artifact a real pipeline keeps
    materialized between crawls, exactly like dedup_incremental's
    fingerprint/band tables — and (b) the batch itself (within-batch
    repeats). Because batch ∪ standing = corpus and they are disjoint,
    "seen standing OR batch count ≥ 2" is EXACTLY the full profile's
    global count ≥ 2 — so the oracle is the full-rebuild SQL restricted
    to batch docs, certifying the fold ≡ rebuild bit-for-bit.

    Scale shape: batch windows ∝ batch tokens; the standing set joins
    key-partitioned on the 128-bit hash (batch-sized output); the
    island windows partition by batch doc. Nothing corpus² anywhere."""
    d = _docs(spark, sf_dir)
    in_batch = F.col("doc_id") % _BATCH_MOD == 0
    batch_sh = _positional_shingles(d.filter(in_batch))
    standing_h = _positional_shingles(d.filter(~in_batch)).select("h").distinct()
    bc = batch_sh.groupBy("h").agg(F.count(F.lit(1)).alias("bc"))
    dup = (
        batch_sh.join(bc, "h")
        .join(standing_h.withColumn("_hit", F.lit(1)), "h", "left")
        .filter((F.col("bc") >= 2) | F.col("_hit").isNotNull())
        .select("doc_id", "n_tokens", "pos")
    )
    return _spans_profile(dup)


SUBSTRING_INCR_SQL = f"""
SELECT * FROM ({SUBSTRING_SPANS_SQL}) WHERE doc_id % {_BATCH_MOD} = 0
"""


registry.register("dedup_exact", exact_dedup, EXACT_SQL)
registry.register(
    "docs_exact_substring_dedup", exact_substring_spans, SUBSTRING_SPANS_SQL
)
registry.register(
    "docs_substring_dedup_apply", substring_dedup_apply, SUBSTRING_APPLY_SQL
)
registry.register(
    "docs_substring_incremental", substring_incremental, SUBSTRING_INCR_SQL
)
registry.register("dedup_cluster_stats", dedup_cluster_stats, CLUSTER_STATS_SQL)
registry.register("dedup_connected_components", dedup_components, COMPONENTS_SQL)
registry.register("dedup_keep_best", dedup_keep_best, KEEP_BEST_SQL)
registry.register("dedup_components_minhash", dedup_components_minhash, COMPONENTS_MINHASH_SQL)
registry.register("dedup_ngram_jaccard", ngram_jaccard_pairs, NGRAM_SQL)
registry.register("dedup_minhash_lsh", minhash_lsh_pairs, MINHASH_SQL)
registry.register(
    "dedup_minhash_prefiltered", minhash_prefiltered_pairs, MINHASH_PREFILTERED_SQL
)
registry.register("dedup_simhash", simhash, SIMHASH_SQL)
registry.register("dedup_simhash_pairs", simhash_pairs, SIMHASH_PAIRS_SQL)
registry.register("dedup_simhash_banded", simhash_banded, SIMHASH_BANDED_SQL)
# --- Bloom ingestion screen -----------------------------------------------
#
# The "probably seen already" pre-filter a crawl pipeline runs BEFORE
# paying for exact dedup: the standing corpus folds its content
# fingerprints into an m = 2¹⁶-bit Bloom bitmap (k = 4 md5-derived
# positions — four disjoint 16-bit hex slices, so no modulo bias), each
# incoming batch doc tests its 4 bits, and only bloom hits proceed to
# the exact check.  Everything is integer and md5-derived, so the oracle
# replays the bitmap bit-for-bit — INCLUDING the false positives: the
# entry emits per batch doc the bloom verdict, the exact ground truth,
# and the is_false_positive flag, certifying the screen's one-sided
# error law (no false negative is possible — the oracle's
# exact_seen ⇒ bloom_hit is structural, and the pytest asserts it).
#
# Scale shape: the bitmap build is explode(4 positions) → groupBy(word)
# with a map-side-combinable bit_or — 2048 32-bit words REGARDLESS of
# corpus size (the sketch-partial discipline; 32-bit words because
# DuckDB raises on BIGINT 1<<63 where Spark silently wraps — sub-sign
# masks are the portable subset); the batch side joins its 4 rows/doc
# against the 2048-row bitmap (broadcast), cost ∝ batch.
BLOOM_BITS = 1 << 16
BLOOM_K = 4


def bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bloom_screen_on(_docs(spark, sf_dir))


def _bloom_screen_on(d: DataFrame, hex_digits: int = 4) -> DataFrame:
    """hex_digits controls the per-position width (4 → the production
    2¹⁶-bit filter). The pytest shrinks it to saturate a mini-bloom and
    drive the false-positive branch, which the production filter's
    occupancy makes astronomically rare at driver SFs."""
    in_batch = F.col("doc_id") % _BATCH_MOD == 0
    fps = d.select("doc_id", F.md5(_norm_col()).alias("fingerprint"))
    pos = F.explode(
        F.array(
            *[
                F.conv(
                    F.substring("fingerprint", 1 + hex_digits * i, hex_digits), 16, 10
                ).cast("int")
                for i in range(BLOOM_K)
            ]
        )
    ).alias("pos")
    bits = (
        fps.filter(~in_batch)
        .select(pos)
        .select(
            (F.col("pos") / 32).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )
    probes = fps.filter(in_batch).select("doc_id", "fingerprint", pos).select(
        "doc_id",
        "fingerprint",
        (F.col("pos") / 32).cast("int").alias("word"),
        (F.col("pos") % 32).cast("int").alias("bit"),
    )
    tested = probes.join(F.broadcast(bits), "word", "left").select(
        "doc_id",
        "fingerprint",
        F.coalesce(
            F.expr("shiftright(mask, bit) & CAST(1 AS BIGINT)"), F.lit(0)
        ).alias("hit"),
    )
    per_doc = tested.groupBy("doc_id", "fingerprint").agg(
        (F.sum("hit") == BLOOM_K).alias("bloom_hit")
    )
    corpus_fp = fps.filter(~in_batch).select("fingerprint").distinct()
    out = per_doc.join(
        corpus_fp.withColumn("_seen", F.lit(1)), "fingerprint", "left"
    ).select(
        "doc_id",
        "bloom_hit",
        F.col("_seen").isNotNull().alias("exact_seen"),
        (F.col("bloom_hit") & F.col("_seen").isNull()).alias("is_false_positive"),
    )
    return out


def _bloom_sql() -> str:
    slices = ", ".join(
        f"CAST(('0x' || substr(fingerprint, {1 + 4 * i}, 4)) AS BIGINT)"
        for i in range(BLOOM_K)
    )
    return f"""
WITH fps AS MATERIALIZED (
  SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents
),
corpus_pos AS (
  SELECT unnest([{slices}]) AS pos FROM fps WHERE doc_id % {_BATCH_MOD} <> 0
),
bits AS MATERIALIZED (
  SELECT CAST(pos // 32 AS INT) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS mask
  FROM corpus_pos GROUP BY 1
),
probes AS (
  SELECT doc_id, fingerprint, unnest([{slices}]) AS pos
  FROM fps WHERE doc_id % {_BATCH_MOD} = 0
),
tested AS (
  SELECT p.doc_id, p.fingerprint,
         COALESCE((b.mask >> CAST(p.pos % 32 AS INT)) & 1, 0) AS hit
  FROM probes p LEFT JOIN bits b ON b.word = CAST(p.pos // 32 AS INT)
),
per_doc AS (
  SELECT doc_id, fingerprint, SUM(hit) = {BLOOM_K} AS bloom_hit
  FROM tested GROUP BY doc_id, fingerprint
),
corpus_fp AS (
  SELECT DISTINCT fingerprint FROM fps WHERE doc_id % {_BATCH_MOD} <> 0
)
SELECT p.doc_id,
       p.bloom_hit,
       c.fingerprint IS NOT NULL AS exact_seen,
       p.bloom_hit AND c.fingerprint IS NULL AS is_false_positive
FROM per_doc p LEFT JOIN corpus_fp c USING (fingerprint)
"""


registry.register("dedup_bloom_screen", bloom_screen, _bloom_sql())
registry.register("dedup_incremental", incremental_dedup, _incremental_sql())
registry.register("dedup_graph_incremental", dedup_graph_incremental, COMPONENTS_MINHASH_SQL)
registry.register(
    "dedup_pagerank",
    dedup_pagerank,
    _pagerank_sql(f"SELECT doc_id FROM documents WHERE doc_id < {DOC_CAP}", NGRAM_SQL),
)
registry.register(
    "dedup_pagerank_banded",
    dedup_pagerank_banded,
    _pagerank_sql("SELECT doc_id FROM documents", MINHASH_SQL, materialize=True),
)
registry.register("dedup_containment", dedup_containment, _containment_sql())
registry.register("dedup_triangles", dedup_triangles, TRIANGLES_SQL)
registry.register("dedup_triangles_banded", dedup_triangles_banded, TRIANGLES_BANDED_SQL)
registry.register(
    "dedup_pagerank_incremental",
    pagerank_incremental,
    _pagerank_sql("SELECT doc_id FROM documents", MINHASH_SQL, materialize=True),
)
registry.register("dedup_triangles_incremental", triangles_incremental, TRIANGLES_BANDED_SQL)
registry.register("dedup_simhash_wide", simhash_wide_banded, SIMHASH_WIDE_SQL)
