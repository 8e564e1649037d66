"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Two paths (BASELINE.json north star):

- **Brute-force cosine top-k** — the exactness baseline. Queries (capped
  id range) × corpus via a broadcast-joined flat pair stream; at scale
  the corpus stays partitioned and only the query block broadcasts.
- **LSH-bucketed ANN** — random-hyperplane signs bucket the corpus; only
  same-bucket pairs are scored. Hyperplanes are derived deterministically
  from md5, so the oracle reproduces the exact same buckets. This is the
  scale path: bucket fan-out is tunable, no all-pairs stage.
- **IVF ANN** — corpus partitioned into inverted lists by nearest
  centroid; queries probe N_PROBE lists. At scale the lists are physical
  partitions and probing is partition pruning. Recall-tested like LSH.
- **Embedding near-dup** — cosine ≥ threshold pairs within the capped
  range (dedup-by-embedding for training pipelines).

Float-determinism design: embeddings are quantized once to integer
micro-units (round(x·10⁴)); dot products and norms are then *exact
integer* aggregations (order-independent, engine-independent), and cosine
is a single double division at the end — so Spark and DuckDB produce
bit-identical scores and identical rankings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..sources.testdata import load_table_parallel
from . import registry

QUERY_CAP = 100     # queries in the brute-force baseline
CORPUS_CAP = 2000   # corpus for capped all-pairs variants
TOP_K = 5
# Near-dup threshold: this synthetic corpus has no planted duplicates (max
# pairwise cosine ≈ 0.48), so 0.4 keeps the operator's output non-trivial;
# a production dedup would use ~0.95.
NEAR_DUP_COSINE = 0.4
N_TABLES = 16       # LSH hash tables (candidate union over tables)
N_PLANES = 4        # hyperplanes per table → 16 buckets/table
QUANT = 10000       # quantization: micro-units per 1.0


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_parallel(spark, sf_dir, "embeddings")


def _quantized(df: DataFrame) -> DataFrame:
    """vec_id, q: array<long> of round(x·QUANT), plus exact squared norm."""
    q = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double") * QUANT, 0).cast("long"))
    return df.select(
        "vec_id",
        "label",
        q.alias("q"),
    ).withColumn(
        "norm_sq",
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )


_QUANT_SQL = f"""
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}, 0) AS BIGINT)) AS q
  FROM embeddings
"""

_NORM_SQL = """
  SELECT vec_id, label, q,
         list_sum(list_transform(q, x -> x * x)) AS norm_sq
  FROM quant
"""


def _dot(a: str, b: str) -> F.Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cosine(dot: F.Column, na: F.Column, nb: F.Column) -> F.Column:
    return dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))


# --- numpy fast path ------------------------------------------------------
# Quantized vectors are integers, so numpy int64 matmuls are EXACT and the
# final cosine (one sqrt/mul/div chain) is the same IEEE arithmetic the SQL
# oracle performs — results stay bit-identical while running at BLAS speed
# instead of per-element Catalyst lambda evaluation.

def _round_half_away(v: np.ndarray) -> np.ndarray:
    """round() half away from zero — the convention Spark F.round and
    DuckDB round() apply to doubles.  Decided on the double ITSELF
    (frac >= 0.5 after an exact floor subtraction), not via
    floor(v + 0.5): for the representable double just below an x.5
    boundary, v + 0.5 can round UP to x+1.0 in IEEE arithmetic and
    floor would then disagree with std::round/BigDecimal-HALF_UP by 1.
    Everywhere outside that half-ULP window the two forms are equal,
    so switching changes no previously-hashed oracle output."""
    a = np.abs(v)
    f = np.floor(a)
    r = np.where(a - f >= 0.5, f + 1.0, f)  # a - f is exact (Sterbenz)
    return np.where(v >= 0, r, -r).astype(np.int64)


def _quant_np(col: pd.Series) -> np.ndarray:
    """round(x·QUANT) half-away-from-zero, matching Spark/DuckDB round()."""
    return _round_half_away(np.vstack(col.values).astype(np.float64) * QUANT)


def _collect_quantized(df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, Q) for a bounded (capped/broadcastable) vector block."""
    pdf = df.select("vec_id", "embedding").toPandas()
    return pdf["vec_id"].to_numpy(np.int64), _quant_np(pdf["embedding"])


# The brute-force truth and the IVF result each feed two driver entries
# (their own + sim_ann_ivf_recall). Both end in expensive stages (dense
# scoring / a corpus assignment pass), so the final DataFrames are
# memoized per session (memo group "ann") with localCheckpoint — same
# pattern and rationale as dedup's shingle/component memos. At cluster
# scale these are the persisted ann_truth / ivf_assignment tables an
# evaluation pipeline maintains.
def _memoized(tag: str, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    return memo.cached(
        spark, "ann", ("result", tag, sf_dir), lambda: build().localCheckpoint(eager=False)
    )


def _memoized_centroids(
    tag: str, spark: SparkSession, sf_dir: str, emb: DataFrame
) -> np.ndarray:
    """Per-session memo of a trained centroid matrix (driver-side numpy
    state — tiny, deterministic): the persisted centroid table a real
    pipeline stores."""
    return memo.cached(
        spark, "ann", ("centroids", tag, sf_dir), lambda: _train_centroids_on_sample(emb)
    )


# Corpus row count: the catalog statistic every size knee (plane depth,
# list count) derives from. The table is immutable per sf_dir, so count
# it once per session instead of once per entry invocation (opt guide
# §1.2: don't recompute what a catalog would already know).
def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    return memo.cached(spark, "ann", ("emb_count", sf_dir), lambda: _emb(spark, sf_dir).count())


# The bounded query block (vec_id < QUERY_CAP) as driver-side numpy
# state plus ONE session broadcast. Every ANN entry used to re-collect
# and re-broadcast this identical block per invocation — hundreds of
# broadcast relations accumulating over a bench run (driver GC pressure
# measured as late-session 2× inflation of exactly these entries).
def _assert_query_block_bounded(qids: np.ndarray) -> None:
    """Fail loudly if the collected query block exceeds the QUERY_CAP
    contract (VERDICT r13 #5): the driver-side (Q × C) argsort and the
    query broadcast are sized on Q ≤ QUERY_CAP, which the vec_id filter
    guarantees only while ids are unique non-negative integers — a
    duplicated-id corpus would silently collect more."""
    if len(qids) > QUERY_CAP:
        raise RuntimeError(
            f"query block has {len(qids)} rows > QUERY_CAP={QUERY_CAP}; "
            "the driver-side ANN probe math assumes a bounded block "
            "(duplicate vec_ids in the embeddings table?)"
        )


def _query_block(spark: SparkSession, sf_dir: str) -> tuple:
    """(qids, qmat, qnorm, qpos, bc) for the canonical query block; bc
    holds (qpos, qmat, qnorm) — the payload _topk_over_candidates ships."""

    def build() -> tuple:
        qids, qmat = _collect_quantized(
            _emb(spark, sf_dir).filter(F.col("vec_id") < QUERY_CAP)
        )
        _assert_query_block_bounded(qids)
        qpos = {int(v): i for i, v in enumerate(qids)}
        qnorm = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
        bc = spark.sparkContext.broadcast((qpos, qmat, qnorm))
        return qids, qmat, qnorm, qpos, bc

    return memo.cached(spark, "ann", ("query_block", sf_dir), build)


def brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < QUERY_CAP) against the capped
    corpus. Query block is broadcast; ranking is a per-query window with
    full tie-breaks."""
    return _memoized("brute", spark, sf_dir, lambda: _brute_force_topk(spark, sf_dir))


def _brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(_emb(spark, sf_dir))
    queries = e.filter(F.col("vec_id") < QUERY_CAP).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"), F.col("norm_sq").alias("na")
    )
    corpus = e.filter(F.col("vec_id") < CORPUS_CAP).select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"), F.col("norm_sq").alias("nb")
    )
    pairs = corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _cosine(_dot("qa", "qb"), F.col("na"), F.col("nb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    query vector, the top-k most-similar CORPUS vectors whose label
    differs — the negatives that actually move a contrastive loss
    (random negatives are trivially separable; the hard ones live next
    to the decision boundary). Same capped-exact conventions as
    sim_bruteforce_topk (broadcast query block, exact integer-dot
    cosine, per-query window with full tie-breaks), plus the label
    inequality pushed into the join condition so mismatched pairs never
    materialize.

    Scale shape: identical to the brute baseline — at full corpus size
    the mining runs over ANN shortlists instead (the sim_ann_ivf_topk /
    sim_ann_pca_rerank kernels), with the label filter applied to the
    shortlist; the capped-exact form here is the ground-truth path the
    ANN variant would be recall-checked against."""
    e = _quantized(_emb(spark, sf_dir))
    queries = e.filter(F.col("vec_id") < QUERY_CAP).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("q").alias("qa"),
        F.col("norm_sq").alias("na"),
    )
    corpus = e.filter(F.col("vec_id") < CORPUS_CAP).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("q").alias("qb"),
        F.col("norm_sq").alias("nb"),
    )
    pairs = corpus.join(
        F.broadcast(queries),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("query_label") != F.col("neighbor_label")),
    )
    scored = pairs.select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        _cosine(_dot("qa", "qb"), F.col("na"), F.col("nb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
            "cosine",
        )
    )


HARD_NEGATIVES_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
normed AS ({_NORM_SQL}),
pairs AS (
  SELECT a.vec_id AS query_id, a.label AS query_label,
         b.vec_id AS neighbor_id, b.label AS neighbor_label,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
  FROM normed a JOIN normed b ON a.vec_id < {QUERY_CAP} AND b.vec_id < {CORPUS_CAP}
   AND a.vec_id <> b.vec_id AND a.label <> b.label
),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# Mean recall the IVF hard-negative path certifies vs the exact miner
# (measured 0.792 / 0.752 / 0.758 at sf0.001 / 0.01 / 0.1 — the
# IVF_RECALL_FLOOR regime; negatives spread across lists like any other
# vector, so probing N_PROBE lists loses the same tail).
HARD_NEG_RECALL_FLOOR = 0.7


def hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of sim_hard_negatives: IVF shortlist generation
    with the label-inequality PRE-filter (same placement argument as
    sim_ann_ivf_filtered — a post-filter returns fewer than k whenever a
    label dominates a list), exact-cosine rerank, recall-gated against
    the exact miner. Emits the recall contract as a bounded boolean the
    driver hash pins (the sketch-entry convention): a mining regression
    flips recall_floor_met and the hash goes red.

    Scale shape: centroid training is the memoized bounded-sample Lloyd;
    the per-query work is N_PROBE probed lists, label lookup joins the
    candidate stream (∝ probed members, never the corpus — at cluster
    scale the assignment table carries the label and the join
    disappears); the truth side is the capped-exact miner. The index is
    trained AND assigned on the capped corpus so the gate is invariant
    to total corpus size (training on the full corpus knee-scales the
    list count and collapses capped-truth recall — caught by this
    round's 100× oracle run); the uncapped production path is
    _probe_topk(exclude_same_label) over the full assignment, whose
    scale behavior the IVF uncapped gate already characterizes."""
    emb = _emb(spark, sf_dir)
    capped = emb.filter(F.col("vec_id") < CORPUS_CAP)
    cmat = _memoized_centroids("hardneg_cmat", spark, sf_dir, capped)
    assigned = _assign_lists(spark, capped, cmat)
    ann = _probe_topk(
        spark, emb, cmat, assigned, exclude_same_label=True, sf_dir=sf_dir
    ).select("query_id", "neighbor_id")
    truth = hard_negatives(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    hits = (
        truth.join(
            ann,
            (truth["query_id"] == ann["query_id"])
            & (truth["true_neighbor"] == ann["neighbor_id"]),
            "left_semi",
        )
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = truth.groupBy().agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
    )
    return totals.crossJoin(hits).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(TOP_K).cast("long").alias("k"),
        F.lit(HARD_NEG_RECALL_FLOOR).alias("recall_floor"),
        (
            (F.col("n_truth") == 0)
            | ((F.col("n_hits") / F.col("n_truth")) >= HARD_NEG_RECALL_FLOOR)
        ).alias("recall_floor_met"),
    )


BRUTE_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
normed AS ({_NORM_SQL}),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
  FROM normed a JOIN normed b ON a.vec_id < {QUERY_CAP} AND b.vec_id < {CORPUS_CAP}
   AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""


def _plane_weights(table: int, plane: int, dims: int = 64) -> list[int]:
    """Deterministic ±1 hyperplane weights: parity of md5(f"{t}:{p}:{d}").
    Computed driver-side once and embedded as literals — the executor does
    pure integer arithmetic."""
    import hashlib

    return [
        1 if hashlib.md5(f"{table}:{plane}:{d}".encode()).digest()[0] % 2 == 0 else -1
        for d in range(dims)
    ]


def _bucketed(
    e: DataFrame,
    dims: int = 64,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    carry_all: bool = False,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: emits (vec_id, tbl, bucket) rows
    — one bucket id per hash table, packing the sign bit of q·w_p for each
    of that table's planes. Candidate pairs are unioned across tables, the
    standard recall/cost dial (L tables × k planes). Computed as one
    int64 matmul against the (L·k × dims) weight matrix per Arrow batch.

    ``carry_all`` adds an ``all_buckets`` column (this vec's bucket in
    every table, index = tbl) so a candidate self-join can emit each pair
    exactly once — at its FIRST agreeing table — instead of once per
    agreeing table followed by a corpus-scale DISTINCT (the sort that
    spilled at the 50× probe)."""
    W = np.array(
        [_plane_weights(t, p, dims) for t in range(n_tables) for p in range(n_planes)],
        dtype=np.int64,
    )
    pow2 = 2 ** np.arange(n_planes, dtype=np.int64)
    schema = "vec_id long, tbl int, bucket long"
    if carry_all:
        schema += ", all_buckets array<long>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            q = _quant_np(pdf["embedding"])
            signs = (q @ W.T > 0).astype(np.int64).reshape(len(pdf), n_tables, n_planes)
            bkt = (signs * pow2).sum(axis=2)  # (n, n_tables)
            ids = pdf["vec_id"].to_numpy(np.int64)
            out = {
                "vec_id": np.repeat(ids, n_tables),
                "tbl": np.tile(np.arange(n_tables), len(pdf)),
                "bucket": bkt.reshape(-1),
            }
            if carry_all:
                out["all_buckets"] = [list(row) for row in bkt for _ in range(n_tables)]
            yield pd.DataFrame(out)

    return e.mapInPandas(batches, schema)


# Knee for the query-path LSH depth (same discipline as SEM_TARGET_N):
# with a FIXED 4-plane table the 16 buckets make per-query candidates
# ∝ corpus/16 — at the 50× probe scale every query scans ~the whole
# corpus, i.e. the "approximate" path silently degenerates to brute
# force. One extra plane per corpus doubling past the knee keeps
# per-query candidate volume constant; below the knee (every oracle-
# verified SF) the construction is bit-identical to the static replay.
ANN_TARGET_N = 8192


def _plane_depth(n: int, base: int, target: int) -> int:
    """LSH plane depth for an n-vector corpus: ``base`` up to ``target``
    vectors, +1 per corpus doubling past it (bucket count ∝ n)."""
    import math

    if n <= target:
        return base
    return base + math.ceil(math.log2(n / target))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH: candidates are pairs
    sharing a bucket in ≥1 of the L tables; only candidates are scored.
    Approximate vs brute force (recall asserted in tests) yet fully
    deterministic — the md5-derived planes let the DuckDB oracle replay
    the exact bucketing (see ``_lsh_topk_sql``), so this entry is
    driver-verified bit-exactly despite being an ANN path. At 100 TB this
    is the scale path: cost ∝ corpus + candidates, the (L, k) choice
    tunes recall against candidate volume, and the plane depth grows
    with the corpus past ANN_TARGET_N so the candidate set never
    degenerates toward all-pairs-per-query."""
    emb = _emb(spark, sf_dir)
    n_planes, corpus_b = _lsh_corpus_bucketed(spark, sf_dir)
    # Bucket the tiny query block separately — bucketing is deterministic,
    # so this matches the corpus pass without streaming the corpus twice.
    # carry_all rides along for the emit-once candidate discipline
    # (r14 second pass — see _lsh_topk_from_probes).
    probes = _bucketed(
        emb.filter(F.col("vec_id") < QUERY_CAP), n_planes=n_planes, carry_all=True
    ).select(
        F.col("vec_id").alias("query_id"),
        "tbl",
        F.col("bucket").alias("qbucket"),
        F.col("all_buckets").alias("q_all_buckets"),
    )
    return _lsh_topk_from_probes(
        spark, emb, probes, n_planes=n_planes, sf_dir=sf_dir, corpus_bucketed=corpus_b
    )


def _lsh_corpus_bucketed(spark: SparkSession, sf_dir: str) -> tuple[int, DataFrame]:
    """The standing LSH index — (plane depth, bucketed corpus) — memoized
    per session like the IVF assignment table: both LSH entries probed
    the SAME deterministic index but each invocation re-streamed the
    corpus through the bucketing kernel. At cluster scale this is the
    persisted index table an ANN service maintains; bench bills the cold
    build under ann_index_build with the other shared ANN state."""
    n_planes = _plane_depth(_emb_count(spark, sf_dir), N_PLANES, ANN_TARGET_N)
    # carry_all (the per-vec bucket list across all tables) rides in the
    # index so the query path can emit each candidate pair exactly once
    # — at its first agreeing table — instead of DISTINCTing (r14 second
    # pass; the same discipline the neardup self-join already used).
    corpus = _memoized(
        "lsh_corpus",
        spark,
        sf_dir,
        lambda: _bucketed(_emb(spark, sf_dir), n_planes=n_planes, carry_all=True),
    )
    return n_planes, corpus


def _lsh_topk_from_probes(
    spark: SparkSession,
    emb: DataFrame,
    probes: DataFrame,
    n_planes: int = N_PLANES,
    sf_dir: str | None = None,
    corpus_bucketed: DataFrame | None = None,
    max_hamming: int = 0,
) -> DataFrame:
    """Shared LSH query path: join a (query_id, tbl, qbucket[, q_all_buckets])
    probe set against the bucketed corpus and score the candidates — one
    definition for the single-probe and multi-probe entries (review
    finding: a fix to the candidate join must not need making twice).

    Emit-once candidate discipline (r14 second pass, guide §2.4): both
    sides carry their full per-table bucket lists and a pair is emitted
    only at its FIRST agreeing table, replacing the (query, neighbor)
    DISTINCT exchange — the same trick the neardup self-join's carry_all
    already used. Within ONE table a corpus bucket can agree with at
    most one probe (the multiprobe XOR masks are distinct, so
    qb^m1 = qb^m2 ⇔ m1 = m2), so first-table uniqueness IS pair
    uniqueness; "agrees at table t" is bucket equality for single probe
    (max_hamming=0) and popcount(xor) ≤ 1 for Hamming-1 multiprobe —
    exactly the probe fan-out's coverage."""
    bucketed = (
        corpus_bucketed
        if corpus_bucketed is not None
        else _bucketed(emb, n_planes=n_planes, carry_all=True)
    )
    corpus = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), "tbl", "bucket", "all_buckets"
    ).alias("cs")
    probes = probes.alias("qs")
    if max_hamming == 0:
        agree = lambda a, b: a == b  # noqa: E731
    else:
        agree = lambda a, b: F.bit_count(a.bitwiseXOR(b)) <= max_hamming  # noqa: E731
    earlier_agrees = F.exists(
        F.zip_with(
            F.slice(F.col("cs.all_buckets"), 1, F.col("cs.tbl")),
            F.slice(F.col("qs.q_all_buckets"), 1, F.col("cs.tbl")),
            agree,
        ),
        lambda x: x,
    )
    cand = (
        corpus.join(
            F.broadcast(probes),
            (F.col("cs.tbl") == F.col("qs.tbl"))
            & (F.col("cs.bucket") == F.col("qs.qbucket"))
            & (F.col("qs.query_id") != F.col("cs.neighbor_id")),
        )
        .filter(~earlier_agrees)
        .select("query_id", "neighbor_id")
    )
    return _topk_over_candidates(spark, emb, cand, sf_dir=sf_dir)


def _topk_over_candidates(
    spark: SparkSession, emb: DataFrame, cand: DataFrame, sf_dir: str | None = None
) -> DataFrame:
    """Score (query_id, neighbor_id) candidate pairs and keep the top-k
    per query. Neighbor vectors stream through in Arrow batches; the
    bounded query block rides along as a broadcast numpy matrix, so each
    batch is one exact int64 matmul. With ``sf_dir`` the block and its
    broadcast come from the session memo (one collect + one broadcast per
    session instead of per entry invocation)."""
    if sf_dir is not None:
        _, _, _, _, bc = _query_block(spark, sf_dir)
    else:
        qids, qmat = _collect_quantized(emb.filter(F.col("vec_id") < QUERY_CAP))
        qpos = {int(v): i for i, v in enumerate(qids)}
        qnorm = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
        bc = spark.sparkContext.broadcast((qpos, qmat, qnorm))

    with_vec = cand.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    )

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qpos_, qmat_, qnorm_ = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            nq = _quant_np(pdf["embedding"])
            s = nq @ qmat_.T  # exact int64
            nn = np.sqrt((nq * nq).sum(axis=1).astype(np.float64))
            idx = pdf["query_id"].map(qpos_).to_numpy(np.int64)
            rows = np.arange(len(pdf))
            cos = s[rows, idx] / (nn * qnorm_[idx])
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "neighbor_id": pdf["neighbor_id"], "cosine": cos}
            )

    scored = with_vec.mapInPandas(score, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


N_CENTROIDS = 16   # IVF list count at/below the knee (≈√corpus there)
N_PROBE = 6        # probed lists per query (synthetic corpus is weakly
                   # clustered, so recall needs a deeper probe than the
                   # 1-2 lists a clustered production corpus would)
KMEANS_ITERATIONS = 8      # Lloyd steps on the training sample — driver-side
                           # numpy on ≤ the sample-size rows, so extra
                           # iterations are free (round 1 paid a full
                           # distributed corpus pass per step and stopped at 2)
TRAIN_SAMPLE_TARGET = 2048  # ≈ sample size at/below the knee
# Knee for the IVF list count: a FIXED 16-list index probes
# N_PROBE/16 ≈ 37% of the corpus per query AT ANY SCALE — the same
# degenerate-to-brute-force shape the LSH query path had. Past the
# knee the list count follows the standard √N discipline
# (FAISS-style nlist ≈ √corpus): probe cost ∝ N_PROBE·corpus/nlist =
# O(√corpus) per query. Below the knee (every oracle-verified SF) the
# construction — and so the stored index and every driver hash — is
# bit-identical to the static one.
IVF_TARGET_N = 8192


def _knee_scale(n: int, base: int, target: int) -> int:
    """The repo's standard √N knee: ``base`` at/below ``target`` corpus
    rows, then doubling per 4× the corpus. ONE implementation so the
    IVF list count, the k-means domain count, and any future knee stay
    in lockstep with their SQL twins (see ``_knee_sql``)."""
    import math

    if n <= target:
        return base
    return base * (2 ** math.ceil(math.log2(math.sqrt(n / target))))


def _knee_sql(n_expr: str, base: int, target: int) -> str:
    """DuckDB twin of ``_knee_scale`` as an inline expression."""
    return (
        f"CASE WHEN {n_expr} <= {target} THEN {base} "
        f"ELSE {base} * CAST(power(2, ceil(log2(sqrt(CAST({n_expr} AS DOUBLE) / {target})))) "
        f"AS BIGINT) END"
    )


def _ivf_centroids(n: int) -> int:
    """IVF list count for an n-vector corpus: the static N_CENTROIDS up
    to the knee, then ∝ √corpus (doubling per 4× the corpus)."""
    return _knee_scale(n, N_CENTROIDS, IVF_TARGET_N)


def _train_sample_target(n_centroids: int) -> int:
    """Training-sample size: ≥ 128 vectors per centroid (the usual
    k-means-for-IVF budget), never below the static target. Grows
    ∝ √corpus with the list count — bounded driver state at any scale."""
    return max(TRAIN_SAMPLE_TARGET, 128 * n_centroids)


def _train_centroids_on_sample(emb: DataFrame) -> np.ndarray:
    """IVF centroid training on a bounded deterministic sample.

    Sample rule: ``vec_id % mod == 0`` with mod sized so ≈ the sample
    target survives — deterministic, pushdown-friendly (a scan filter,
    no shuffle), and bounded ∝ √corpus (the 100 TB requirement:
    training state must not grow linearly with N). Lloyd runs in driver
    numpy on the collected sample; centroid updates are
    floor(exact-int64-sum / count) — identical arithmetic to the
    round-1 distributed version, so results are bit-reproducible."""
    n = emb.count()
    n_centroids = _ivf_centroids(n)
    mod = max(1, n // _train_sample_target(n_centroids))
    sids, smat = _collect_quantized(emb.filter(F.col("vec_id") % mod == 0))
    order = np.argsort(sids)
    smat = smat[order]
    cmat = smat[:n_centroids].copy()

    snorm = np.sqrt((smat * smat).sum(axis=1).astype(np.float64))
    for _ in range(KMEANS_ITERATIONS):
        cnorm = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))
        cos = (smat @ cmat.T) / (snorm[:, None] * cnorm[None, :])
        assign = cos.argmax(axis=1)
        new = cmat.copy()
        for c in range(n_centroids):
            members = smat[assign == c]
            if len(members):
                new[c] = members.sum(axis=0) // len(members)  # exact int64
        cmat = new
    return cmat


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF (inverted-file) partitioning: every corpus vector
    is assigned to its nearest centroid (one pass, Arrow-batched matmul
    against the broadcast centroid block); each query probes its N_PROBE
    nearest lists and scores only vectors in them.

    Centroids: trained on a bounded deterministic sample (vec_id % mod
    == 0, ≈TRAIN_SAMPLE_TARGET vectors) — seeded from its first
    N_CENTROIDS vectors, refined by KMEANS_ITERATIONS integer Lloyd steps
    in driver-side numpy (floor(sum/count) updates on exact int64 sums,
    so every run yields identical lists). The corpus is then streamed
    ONCE for list assignment — at 100 TB this is the only corpus pass;
    the round-1 design's distributed Lloyd iterations cost 3 full passes
    for the same centroid quality a few-MB sample delivers. Write the
    corpus partitioned by centroid id and probing becomes partition
    pruning — cost ∝ corpus/centroids × probes, never the full corpus."""
    return _memoized("ivf", spark, sf_dir, lambda: _ann_ivf_topk(spark, sf_dir))


def _assign_lists(spark: SparkSession, df: DataFrame, cmat: np.ndarray) -> DataFrame:
    """Assign each vector in ``df`` to its nearest centroid: one
    Arrow-batched pass, cost ∝ rows of ``df`` (the IVF index-build /
    index-grow primitive)."""
    cnorm_now = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((cmat, cnorm_now))

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm, cn = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            q = _quant_np(pdf["embedding"])
            nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
            cos = (q @ cm.T) / (nrm[:, None] * cn[None, :])
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["vec_id"],
                    "centroid": cos.argmax(axis=1).astype(np.int32),
                }
            )

    return df.mapInPandas(assign, "neighbor_id long, centroid int")


def _probe_topk(
    spark: SparkSession,
    emb: DataFrame,
    cmat: np.ndarray,
    assigned: DataFrame,
    exclude_same_label: bool = False,
    sf_dir: str | None = None,
) -> DataFrame:
    """IVF query side: each bounded-block query probes its N_PROBE nearest
    lists (driver-side numpy argsort on a (Q × C) matrix) and scores only
    vectors assigned to them. With ``exclude_same_label`` the candidate
    stream drops same-label members before scoring (hard-negative
    mining's pre-filter — a post-filter would return fewer than k).
    ``sf_dir`` keys the session query-block memo (emb must then be the
    canonical embeddings frame)."""
    if sf_dir is not None:
        qids, qmat, qnorm, _, _ = _query_block(spark, sf_dir)
    else:
        qids, qmat = _collect_quantized(emb.filter(F.col("vec_id") < QUERY_CAP))
        _assert_query_block_bounded(qids)
        qnorm = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
    cnorm = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))
    qcos = (qmat @ cmat.T) / (qnorm[:, None] * cnorm[None, :])
    # stable: exact cosine ties (possible when Lloyd converges two lists
    # to the same centroid) break on the lower list id — the same order
    # the SQL replay's (cos DESC, c ASC) row_number produces
    probe_idx = np.argsort(-qcos, axis=1, kind="stable")[:, :N_PROBE]
    if exclude_same_label:
        qlab = {
            int(r["vec_id"]): r["label"]
            for r in emb.filter(F.col("vec_id") < QUERY_CAP)
            .select("vec_id", "label")
            .collect()  # bounded query block
        }
        probes = [
            (int(qids[i]), int(c), qlab[int(qids[i])])
            for i in range(len(qids))
            for c in probe_idx[i]
        ]
        probe_df = spark.createDataFrame(
            probes, "query_id long, centroid int, query_label long"
        )
    else:
        probe_df = spark.createDataFrame(
            [
                (int(qids[i]), int(c))
                for i in range(len(qids))
                for c in probe_idx[i]
            ],
            "query_id long, centroid int",
        )

    cand = (
        assigned.join(F.broadcast(probe_df), "centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    if exclude_same_label:
        nl = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
        )
        # label lookup joins the candidate stream (∝ probed-list members,
        # never the whole corpus); at cluster scale the assignment table
        # would carry the label column and this join disappears
        cand = cand.join(nl, "neighbor_id").filter(
            F.col("neighbor_label") != F.col("query_label")
        )
    return _topk_over_candidates(
        spark, emb, cand.select("query_id", "neighbor_id"), sf_dir=sf_dir
    )


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cmat = _train_centroids_on_sample(emb)
    assigned = _assign_lists(spark, emb, cmat)
    return _probe_topk(spark, emb, cmat, assigned, sf_dir=sf_dir)


def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — ANN under a metadata predicate, the
    retrieval shape every RAG / vector-database workload runs (match the
    query AND label = X). Strategy is PRE-FILTER: the label predicate
    restricts the IVF assignment table before the probe join, so each
    probe scans only in-label members of its lists — at 100 TB, with the
    corpus stored partitioned by (centroid, label), this is pure
    partition pruning; a post-filter over unfiltered top-k would instead
    return fewer than k hits whenever the label is selective (the
    classic filtered-ANN failure). Target label is deterministic: the
    corpus's most frequent (COUNT DESC, label ASC). Same memoized
    centroid training, probing, and exact-cosine ranking as
    ann_ivf_topk; the oracle replays the whole lifecycle plus the
    filter, so the hash certifies the filter placement too."""
    return _memoized(
        "ivf_filtered", spark, sf_dir, lambda: _ann_ivf_filtered(spark, sf_dir)
    )


def _ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cmat = _memoized_centroids("ivf_filtered_cmat", spark, sf_dir, emb)
    tgt_label = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "label")
        .limit(1)
        .collect()[0]["label"]
    )  # bounded collect: one row
    assigned = _assign_lists(spark, emb, cmat)
    keep = emb.filter(F.col("label") == tgt_label).select(
        F.col("vec_id").alias("neighbor_id")
    )
    return _probe_topk(
        spark, emb, cmat, assigned.join(keep, "neighbor_id", "left_semi"), sf_dir=sf_dir
    )


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ threshold) within
    the capped range — exact integer dot products, one double division.

    The capped block rides along as a broadcast numpy matrix; each Arrow
    batch does one int64 matmul against it. At full scale the uncapped
    path is LSH-bucketed (ann_lsh_topk's bucketer) instead of block-dense."""
    capped = _emb(spark, sf_dir).filter(F.col("vec_id") < CORPUS_CAP)
    cids, cmat = _collect_quantized(capped)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((cids, cmat, cnorm))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids_, cmat_, cnorm_ = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            q = _quant_np(pdf["embedding"])
            ids = pdf["vec_id"].to_numpy(np.int64)
            s = q @ cmat_.T  # exact int64
            nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
            cos = s / (nrm[:, None] * cnorm_[None, :])
            mask = (ids[:, None] < cids_[None, :]) & (cos >= NEAR_DUP_COSINE)
            ai, bj = np.nonzero(mask)
            yield pd.DataFrame(
                {"vec_a": ids[ai], "vec_b": cids_[bj], "cosine": cos[ai, bj]}
            )

    return capped.mapInPandas(batches, "vec_a long, vec_b long, cosine double")


NEAR_DUP_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
normed AS ({_NORM_SQL})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
         / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
FROM normed a JOIN normed b ON a.vec_id < b.vec_id
WHERE a.vec_id < {CORPUS_CAP} AND b.vec_id < {CORPUS_CAP}
  AND CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
        / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) >= {NEAR_DUP_COSINE}
"""


def _lsh_topk_sql() -> str:
    """Complete DuckDB twin of ``ann_lsh_topk``: the hyperplane weights
    are deterministic md5-derived ±1 literals, so the oracle replays the
    exact bucketing — same buckets → same candidate pairs → same exact
    integer scores → same ranking. This upgrades the ANN path from
    "recall-tested" to bit-exact driver-verified: approximation here is a
    *fixed deterministic function*, not randomness."""
    rows = ", ".join(
        f"({t}, {p}, {_plane_weights(t, p)})"
        for t in range(N_TABLES)
        for p in range(N_PLANES)
    )
    return f"""
WITH quant AS ({_QUANT_SQL}),
normed AS ({_NORM_SQL}),
planes AS (SELECT * FROM (VALUES {rows}) AS v(t, p, w)),
buckets AS (
  SELECT n.vec_id, pl.t,
         CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(n.q, pl.w), z -> z[1] * z[2])) > 0
                  THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END) AS BIGINT) AS bucket
  FROM normed n CROSS JOIN planes pl
  GROUP BY n.vec_id, pl.t
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets c JOIN buckets qb ON c.t = qb.t AND c.bucket = qb.bucket
  WHERE qb.vec_id < {QUERY_CAP} AND c.vec_id <> qb.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
  FROM cand
  JOIN normed a ON a.vec_id = cand.query_id
  JOIN normed b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own bucket PLUS every
    bucket at Hamming distance 1 (one sign bit flipped) in each table —
    the standard recall booster that buys (1 + k) probes' worth of
    candidates from the SAME index instead of building more tables
    (memory-free, query-time-only). Bucket perturbation is a pure
    integer XOR on the packed sign bits, so the oracle replays the exact
    probe set and this stays bit-exact driver-verified like the
    single-probe entry. Candidates are a strict superset of
    single-probe's, so recall vs the brute truth is provably monotone
    (asserted in tests). Scale: corpus bucketing unchanged (one pass);
    only the broadcast query side fans out ×(1 + planes), and the
    plane depth follows the same corpus-size knee as the single-probe
    entry (ANN_TARGET_N)."""
    emb = _emb(spark, sf_dir)
    n_planes, corpus_b = _lsh_corpus_bucketed(spark, sf_dir)
    queries = _bucketed(
        emb.filter(F.col("vec_id") < QUERY_CAP), n_planes=n_planes, carry_all=True
    ).select(
        F.col("vec_id").alias("query_id"),
        "tbl",
        F.col("bucket").alias("qbucket"),
        F.col("all_buckets").alias("q_all_buckets"),
    )
    probes = queries.select(
        "query_id",
        "tbl",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(n_planes)
                ],
            )
        ).alias("qbucket"),
        "q_all_buckets",
    )
    return _lsh_topk_from_probes(
        spark,
        emb,
        probes,
        n_planes=n_planes,
        sf_dir=sf_dir,
        corpus_bucketed=corpus_b,
        max_hamming=1,
    )


def _lsh_multiprobe_sql() -> str:
    """DuckDB twin: the single-probe chain with the probe CTE expanded
    by XOR masks {0, 1, 2, 4, …} over the packed sign bits."""
    rows = ", ".join(
        f"({t}, {p}, {_plane_weights(t, p)})"
        for t in range(N_TABLES)
        for p in range(N_PLANES)
    )
    masks = ", ".join(f"({0 if i == 0 else 1 << (i - 1)})" for i in range(N_PLANES + 1))
    return f"""
WITH quant AS ({_QUANT_SQL}),
normed AS ({_NORM_SQL}),
planes AS (SELECT * FROM (VALUES {rows}) AS v(t, p, w)),
buckets AS (
  SELECT n.vec_id, pl.t,
         CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(n.q, pl.w), z -> z[1] * z[2])) > 0
                  THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END) AS BIGINT) AS bucket
  FROM normed n CROSS JOIN planes pl
  GROUP BY n.vec_id, pl.t
),
masks AS (SELECT * FROM (VALUES {masks}) AS m(mask)),
probes AS (
  SELECT b.vec_id, b.t, xor(b.bucket, CAST(m.mask AS BIGINT)) AS bucket
  FROM buckets b CROSS JOIN masks m
  WHERE b.vec_id < {QUERY_CAP}
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets c JOIN probes qb ON c.t = qb.t AND c.bucket = qb.bucket
  WHERE c.vec_id <> qb.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
  FROM cand
  JOIN normed a ON a.vec_id = cand.query_id
  JOIN normed b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""


# Mean-recall floor the IVF path certifies to the driver (measured ≈0.75
# at sf0.01 / ≈0.80 at sf0.001 with the sample-trained centroids; floor
# leaves margin for sf-dependent clustering of the synthetic corpus).
IVF_RECALL_FLOOR = 0.7


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF quality gate: recall@k of ``ann_ivf_topk``
    against the brute-force truth, computed over the same capped corpus.

    IVF's k-means training is iterative numpy — not SQL-expressible — so
    the oracle cannot replay the lists the way the LSH oracle replays its
    buckets. Instead the entry returns the exact-side facts the oracle
    *can* pin bit-exactly (query count, k) plus the accuracy contract as
    a boolean the Spark side computes genuinely: if a regression drops
    mean recall below the floor, recall_floor_met flips and the driver's
    value hash goes red. Mean recall itself is intentionally NOT a column
    (it would make the oracle impossible); tests track the raw number.

    The gate searches its OWN capped-corpus index (train + assign on
    vec_id < CORPUS_CAP), making it invariant to total corpus size:
    filtering the full-corpus ann_ivf_topk result to capped neighbors
    collapsed at the 100× replica (the list-count knee scales with the
    corpus while the truth stays capped — round-12 oracle catch, same
    mechanism as sim_hard_negatives_ann). The production path's scale
    behavior is what sim_ann_ivf_recall_uncapped certifies (green at
    the 100× replica's 200k vectors)."""
    truth = brute_force_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    emb = _emb(spark, sf_dir)
    capped = emb.filter(F.col("vec_id") < CORPUS_CAP)
    cmat = _memoized_centroids("ivf_recall_cmat", spark, sf_dir, capped)
    ann = _probe_topk(
        spark, emb, cmat, _assign_lists(spark, capped, cmat), sf_dir=sf_dir
    ).select("query_id", "neighbor_id")
    hits = (
        truth.join(
            ann,
            (truth["query_id"] == ann["query_id"])
            & (truth["true_neighbor"] == ann["neighbor_id"]),
            "left_semi",
        )
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = truth.groupBy().agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
    )
    return totals.crossJoin(hits).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(TOP_K).cast("long").alias("k"),
        F.lit(IVF_RECALL_FLOOR).alias("recall_floor"),
        (
            (F.col("n_truth") == 0)
            | ((F.col("n_hits") / F.col("n_truth")) >= IVF_RECALL_FLOOR)
        ).alias("recall_floor_met"),
    )


IVF_RECALL_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST({IVF_RECALL_FLOOR} AS DOUBLE) AS recall_floor,
       true AS recall_floor_met
FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < {QUERY_CAP})
"""


# Floor for the UNCAPPED recall gate: measured 0.80/0.75/0.75 at
# sf0.001/0.01/0.1 and 0.478 at the 50× probe scale (128 lists, 4.7%
# of the corpus scanned per query, deliberately unclustered corpus) —
# 0.45 is the PQ-floor discipline: certifies the machinery at every
# scale a probe can reach without flipping on corpus-quality noise.
IVF_UNCAPPED_RECALL_FLOOR = 0.45


def ann_ivf_recall_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall against the UNCAPPED brute truth — the honest version
    of sim_ann_ivf_recall at scale. The capped entry's truth lives under
    CORPUS_CAP ids (fully covering at every driver SF, so its gate is
    genuine there), but past ~10× the corpus a query's TRUE top-k is
    mostly outside the cap and the capped boolean measures the cap, not
    the index (the round-6 50× probe hit exactly that). Here the truth
    is exact cosine top-k over the WHOLE corpus: a broadcast query
    block against one corpus scan, a per-query window over the scored
    pairs — cost ∝ corpus × |query block|, the offline measurement
    harness a real pipeline runs to tune (nlist, nprobe), not a serving
    path. Same oracle contract as the capped gate: the SQL pins
    n_queries/k/floor and asserts the boolean true, so a recall
    regression flips the driver hash red."""
    e = _quantized(_emb(spark, sf_dir))
    queries = e.filter(F.col("vec_id") < QUERY_CAP).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"), F.col("norm_sq").alias("na")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"), F.col("norm_sq").alias("nb")
    )
    pairs = corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _cosine(_dot("qa", "qb"), F.col("na"), F.col("nb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    truth = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("neighbor_id").alias("true_neighbor"))
    )
    ann = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        truth.join(
            ann,
            (truth["query_id"] == ann["query_id"])
            & (truth["true_neighbor"] == ann["neighbor_id"]),
            "left_semi",
        )
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = truth.groupBy().agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
    )
    return totals.crossJoin(hits).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(TOP_K).cast("long").alias("k"),
        F.lit(IVF_UNCAPPED_RECALL_FLOOR).alias("recall_floor"),
        (
            (F.col("n_truth") == 0)
            | ((F.col("n_hits") / F.col("n_truth")) >= IVF_UNCAPPED_RECALL_FLOOR)
        ).alias("recall_floor_met"),
    )


IVF_RECALL_UNCAPPED_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST({IVF_UNCAPPED_RECALL_FLOOR} AS DOUBLE) AS recall_floor,
       true AS recall_floor_met
FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < {QUERY_CAP})
"""


# nprobe sweep: the (nprobe → recall) tuning curve an IVF deployment
# reads before fixing its probe budget. Floors are per-nprobe, set from
# measured values with the same margin discipline as IVF_RECALL_FLOOR:
# measured 0.31-0.34 / 0.44-0.49 / 0.63-0.65 / 0.75-0.80 at
# sf0.001/0.01/0.1 AND the 100× replica (identical at sf0.1 and 100× —
# the capped slice is literally the same 2000 vectors, the
# size-invariance the cap exists to buy). The N_PROBE floor equals
# IVF_RECALL_FLOOR — this sweep's last row IS that gate's contract.
PROBE_SWEEP = (1, 2, 4, N_PROBE)
PROBE_SWEEP_FLOORS = {1: 0.2, 2: 0.3, 4: 0.45, N_PROBE: IVF_RECALL_FLOOR}


def ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k at every nprobe in PROBE_SWEEP from ONE candidate pass —
    the tuning curve that decides an IVF deployment's probe budget.

    No per-nprobe re-search: each capped-corpus vector lives in exactly
    one list, so a candidate (query, neighbor) pair carries exactly one
    ``probe_rank`` — the rank of the neighbor's list in the query's
    centroid ranking — and the candidate set at nprobe=p is exactly
    ``probe_rank <= p``. Recall needs no scoring stage either: a true
    neighbor t (global top-k by exact cosine, ties broken on neighbor
    id) that appears among the candidates has at most k-1 candidates
    ranked above it under the SAME (cosine DESC, id ASC) order the
    search uses, so t always survives to the ANN top-k — therefore
    hits(p) = |truth ∩ candidates(p)| is the exact full-chain recall
    and is monotone in p because the candidate sets nest (pytest
    replays both facts independently in numpy).

    Oracle contract: per-nprobe rows pin (nprobe, n_queries, k, floor)
    bit-exactly and assert recall_floor_met / hits_monotone — a recall
    regression at ANY probed depth flips the driver hash red, not just
    at the deployed N_PROBE. Same capped-index discipline as
    sim_ann_ivf_recall (train + assign under CORPUS_CAP), so the gate
    is invariant to total corpus size; cost ∝ capped lists × queries."""
    truth = brute_force_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    emb = _emb(spark, sf_dir)
    capped = emb.filter(F.col("vec_id") < CORPUS_CAP)
    cmat = _memoized_centroids("ivf_recall_cmat", spark, sf_dir, capped)
    assigned = _assign_lists(spark, capped, cmat)
    qids, qmat = _collect_quantized(emb.filter(F.col("vec_id") < QUERY_CAP))
    qnorm = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
    cnorm = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))
    qcos = (qmat @ cmat.T) / (qnorm[:, None] * cnorm[None, :])
    probe_idx = np.argsort(-qcos, axis=1, kind="stable")[:, :N_PROBE]
    probe_df = spark.createDataFrame(
        [
            (int(qids[i]), int(c), r + 1)
            for i in range(len(qids))
            for r, c in enumerate(probe_idx[i])
        ],
        "query_id long, centroid int, probe_rank int",
    )
    cand = assigned.join(F.broadcast(probe_df), "centroid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    hit_ranks = truth.alias("t").join(
        cand.alias("c"),
        (F.col("t.query_id") == F.col("c.query_id"))
        & (F.col("t.true_neighbor") == F.col("c.neighbor_id")),
    ).select(F.col("c.probe_rank").alias("probe_rank"))
    hits = hit_ranks.groupBy().agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("probe_rank") <= p, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"h{p}")
            for p in PROBE_SWEEP
        ]
    )
    totals = truth.groupBy().agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
    )
    mono = F.lit(True)
    for lo, hi in zip(PROBE_SWEEP, PROBE_SWEEP[1:]):
        mono = mono & (F.col(f"h{lo}") <= F.col(f"h{hi}"))
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).cast("long").alias("nprobe"),
                    F.col(f"h{p}").alias("hits"),
                    F.lit(PROBE_SWEEP_FLOORS[p]).alias("recall_floor"),
                )
                for p in PROBE_SWEEP
            ]
        )
    )
    return (
        totals.crossJoin(hits)
        .select("n_queries", "n_truth", mono.alias("hits_monotone"), rows.alias("s"))
        .select(
            F.col("s.nprobe").alias("nprobe"),
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(TOP_K).cast("long").alias("k"),
            F.col("s.recall_floor").alias("recall_floor"),
            (
                (F.col("n_truth") == 0)
                | ((F.col("s.hits") / F.col("n_truth")) >= F.col("s.recall_floor"))
            ).alias("recall_floor_met"),
            "hits_monotone",
        )
    )


def _ivf_probe_sweep_sql() -> str:
    values = ", ".join(
        f"(CAST({p} AS BIGINT), CAST({PROBE_SWEEP_FLOORS[p]} AS DOUBLE))"
        for p in PROBE_SWEEP
    )
    return f"""
SELECT p.nprobe,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < {QUERY_CAP})) AS n_queries,
       CAST({TOP_K} AS BIGINT) AS k,
       p.recall_floor,
       true AS recall_floor_met,
       true AS hits_monotone
FROM (VALUES {values}) AS p(nprobe, recall_floor)
"""



# Cross-modal candidate generation: 4 tables × 8-bit buckets. The topk
# path's 16×4-bit setting collides ~25% of ALL pairs on this corpus (461k
# candidates at sf0.1 — measured); deeper buckets cut candidates ~16× per
# table, and 4 tables keep the union bounded — the standard (L, k) dial,
# mirrored exactly in the oracle.
SEM_TABLES = 4
SEM_PLANES = 8

# FIXED plane counts stop scaling: the bucket-table size is constant, so
# per-bucket occupancy grows ∝ corpus and the candidate SELF-join grows
# ∝ corpus² — the 50× probe measured exactly that (21 s at 10× → 458 s
# at 50×, 16 GB spill, 100 GB peak execution memory). The fix is the
# textbook one: add a plane (halve every bucket) each time the corpus
# doubles past a target occupancy, keeping expected bucket size — and
# with it candidate volume per vector — constant. Below SEM_TARGET_N
# vectors the depth stays exactly SEM_PLANES, so every oracle-verified
# scale (sf0.001–sf0.1 is ≤ 5k vectors) is bit-identical to the static
# construction the DuckDB oracle replays; past it, deeper buckets only
# ever DROP candidates (plane p's weights don't depend on the total
# plane count, so a collision on P+1 bits implies one on the first P —
# the containment is exact, pinned by pytest).
SEM_TARGET_N = 8192


def semantic_text_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage cross-modal near-dup detection — the shape production
    semantic dedup actually runs: EMBEDDING-LSH candidate generation
    (recall-oriented, cost ∝ corpus + collisions, never all-pairs)
    followed by LEXICAL verification of each candidate (3-gram Jaccard
    over the joined ``documents`` text, vec_id ≡ doc_id) — embeddings
    catch paraphrases that shingles miss, text verification kills the
    false neighbors embeddings invent. Emits per-candidate exact cosine
    (integer-quantized dot → one division), Jaccard (one division), and
    both stage verdicts.

    Fully oracle-replayable: the md5-derived hyperplanes reproduce the
    exact buckets in SQL (the sim_ann_lsh_topk construction) and the
    shingle chain is dedup's — so the driver hash certifies the whole
    cross-table composition bit-for-bit."""
    from .dedup import JACCARD_THRESHOLD, _shingle_arrays

    e = _emb(spark, sf_dir)
    # checkpointed so the Python bucketing stage runs once, not once per
    # self-join branch; plane depth scales with the corpus (see
    # SEM_TARGET_N) — constant-depth buckets made the self-join
    # quadratic, caught by the 50× probe
    from .dedup import _local_checkpoint_stats_clean

    b = _local_checkpoint_stats_clean(
        _bucketed(
            e,
            n_tables=SEM_TABLES,
            n_planes=_plane_depth(e.count(), SEM_PLANES, SEM_TARGET_N),
            carry_all=True,
        ),
        eager=False,
    )
    # Emit each pair exactly once — at its FIRST agreeing table — by
    # comparing the carried all_buckets prefixes JVM-side. The previous
    # shape emitted one row per agreeing table and ran a corpus-scale
    # DISTINCT whose sort was a top 50× spill site; the pair SET is
    # identical (slice(arr,1,0) = [] at tbl 0, so table 0 always emits).
    seen_earlier = F.exists(
        F.arrays_zip(
            F.slice(F.col("a.all_buckets"), F.lit(1), F.col("a.tbl")).alias("x"),
            F.slice(F.col("b.all_buckets"), F.lit(1), F.col("b.tbl")).alias("y"),
        ),
        lambda s: s["x"] == s["y"],
    )
    cand = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(~seen_earlier)
        .select(F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b"))
    )
    # checkpointed: cand feeds BOTH the cosine-scoring and the
    # shingle-intersection lineages; without this the bucket self-join
    # + distinct would execute twice. Stats-clean like every other
    # corpus-proportional memo (see _local_checkpoint_stats_clean).
    cand = _local_checkpoint_stats_clean(cand, eager=False)
    # Per-doc PROFILE: quantized vector + shingle array, pre-combined in
    # ONE corpus-sized co-keyed join (vec_id ≡ doc_id), so the PAIR
    # stream — the side that is 64×-corpus-sized by the occupancy knee —
    # is shuffled twice (once per endpoint) instead of four times.  The
    # 100× probe caught the four-join shape spilling 12 GB (each pair
    # join SMJ-sorted 12.8M rows carrying 64-long arrays); two
    # hash-hinted joins put the sort on nothing and the shuffle back
    # ∝ candidates.  The shingle arrays still come straight from the
    # documents scan as a projection (_shingle_arrays — the r9 fix for
    # the explode → collect_list rebuild), LEFT-combined so a vector
    # with no document keeps the coalesce(0) verify semantics.  Array
    # rows are ∝ document length — at extreme doc sizes shard the
    # verify by shingle-hash range; synthetic and web-scale docs fit.
    from .dedup import _docs

    q = _quantized(e)
    arrs = _shingle_arrays(_docs(spark, sf_dir))
    profile = q.join(
        arrs.select(F.col("doc_id").alias("vec_id"), "arr", "n"), "vec_id", "left"
    ).hint("shuffle_hash")
    pa = profile.select(
        F.col("vec_id").alias("doc_a"),
        F.col("q").alias("qa"),
        F.col("norm_sq").alias("na_sq"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("n_a"),
    )
    pb = profile.select(
        F.col("vec_id").alias("doc_b"),
        F.col("q").alias("qb"),
        F.col("norm_sq").alias("nb_sq"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("n_b"),
    )
    j = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _cosine(_dot("qa", "qb"), F.col("na_sq"), F.col("nb_sq")).alias("cosine"),
            F.coalesce(F.size(F.array_intersect("arr_a", "arr_b")), F.lit(0)).alias("nc"),
            F.coalesce("n_a", F.lit(0)).alias("na"),
            F.coalesce("n_b", F.lit(0)).alias("nb"),
        )
    )
    union_sz = F.col("na") + F.col("nb") - F.col("nc")
    jaccard = F.when(union_sz > 0, F.col("nc").cast("double") / union_sz).otherwise(
        F.lit(0.0)
    )
    return j.select(
        "doc_a",
        "doc_b",
        "cosine",
        jaccard.alias("jaccard"),
        (F.col("cosine") >= NEAR_DUP_COSINE).alias("is_semantic"),
        (jaccard >= JACCARD_THRESHOLD).alias("is_lexical"),
    )


def _semantic_text_sql() -> str:
    from .dedup import JACCARD_THRESHOLD, _SHINGLES_SQL

    rows = ", ".join(
        f"({t}, {p}, {_plane_weights(t, p)})"
        for t in range(SEM_TABLES)
        for p in range(SEM_PLANES)
    )
    return f"""
WITH quant AS ({_QUANT_SQL}),
normed AS ({_NORM_SQL}),
planes AS (SELECT * FROM (VALUES {rows}) AS v(t, p, w)),
buckets AS (
  SELECT n.vec_id, pl.t,
         CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(n.q, pl.w), z -> z[1] * z[2])) > 0
                  THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END) AS BIGINT) AS bucket
  FROM normed n CROSS JOIN planes pl
  GROUP BY n.vec_id, pl.t
),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT cand.doc_a, cand.doc_b,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
  FROM cand
  JOIN normed a ON a.vec_id = cand.doc_a
  JOIN normed b ON b.vec_id = cand.doc_b
),
sh AS ({_SHINGLES_SQL.format(where="")}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
j AS (
  SELECT s.doc_a, s.doc_b, s.cosine,
         COALESCE(cm.n_common, 0) AS nc,
         COALESCE(za.n, 0) AS na, COALESCE(zb.n, 0) AS nb
  FROM scored s
  LEFT JOIN common cm ON cm.doc_a = s.doc_a AND cm.doc_b = s.doc_b
  LEFT JOIN sizes za ON za.doc_id = s.doc_a
  LEFT JOIN sizes zb ON zb.doc_id = s.doc_b
),
fin AS (
  SELECT doc_a, doc_b, cosine,
         CASE WHEN na + nb - nc > 0
              THEN CAST(nc AS DOUBLE) / (na + nb - nc)
              ELSE CAST(0 AS DOUBLE) END AS jaccard
  FROM j
)
SELECT doc_a, doc_b, cosine, jaccard,
       cosine >= {NEAR_DUP_COSINE} AS is_semantic,
       jaccard >= {JACCARD_THRESHOLD} AS is_lexical
FROM fin
"""


# Incremental index maintenance: standing corpus = vec_id < SPLIT, the
# newly ingested batch = the rest (embeddings has dense ids from 0, 500
# rows at sf≤0.01 and 2000 at sf0.1, so a static split constant is
# replayable by the oracle at every sf; at sf0.1 the "batch" outweighs
# the standing corpus — a stress shape, not a contradiction).
IVF_INCR_SPLIT = 400
# Stale-centroid recall floor: centroids trained BEFORE the batch existed
# must still retrieve well over the grown corpus (measured ≈0.75 at
# sf0.01; floor leaves drift margin).
IVF_INCR_RECALL_FLOOR = 0.65


def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (the dedup_graph_incremental
    pattern applied to IVF, NEXT.md round-4 candidate): centroids are
    trained ONCE on the standing corpus (vec_id < IVF_INCR_SPLIT) and
    NOT retrained when a batch arrives — the batch is assigned against
    the stored centroid state in one Arrow pass, cost ∝ batch, and the
    inverted lists simply grow. That is the only maintenance shape that
    works at 100 TB (retraining would re-stream the corpus nightly).

    The gate this entry certifies to the driver: queries over the GROWN
    index — stale centroids, old + new lists — still meet the recall
    floor against the exact brute-force truth computed over the grown
    corpus. If centroid drift ever degrades retrieval below the floor,
    recall_floor_met flips and the driver value-hash goes red. Exact
    facts (corpus/batch sizes, k, floor) are pinned bit-exactly; mean
    recall itself is tracked by pytest (tests/test_similarity.py).

    The gate evaluates the grown index over the capped benchmark slice
    (standing = vec_id < IVF_INCR_SPLIT, batch = split..CORPUS_CAP) so
    the standing:batch ratio — and with it the stale-centroid stress —
    is FIXED at any corpus size. Post-filtering a full-corpus top-k to
    capped neighbors collapsed at the 100× replica, where the id-shifted
    replicas turned the split into 400 standing vs 199,600 batch —
    99.8% of the corpus arriving as one batch is a retrain, not
    incremental maintenance (round-12 oracle catch, the
    sim_ann_ivf_recall mechanism)."""
    emb = _emb(spark, sf_dir)
    capped = emb.filter(F.col("vec_id") < CORPUS_CAP)
    old = capped.filter(F.col("vec_id") < IVF_INCR_SPLIT)
    batch = capped.filter(F.col("vec_id") >= IVF_INCR_SPLIT)
    # The standing state (old-corpus centroids + old-corpus inverted
    # lists) is what a pipeline keeps materialized; memoize it so
    # repeated calls bill only the ∝-batch fold, not a state rebuild
    # (the dedup corpus-labels memo, applied to IVF).
    cmat = _memoized_centroids("ivf_incr_cmat", spark, sf_dir, old)
    old_lists = _memoized(
        "ivf_incr_oldlists", spark, sf_dir, lambda: _assign_lists(spark, old, cmat)
    )
    grown = old_lists.unionByName(
        _assign_lists(spark, batch, cmat)           # the ∝-batch maintenance pass
    )
    ann = _probe_topk(spark, emb, cmat, grown, sf_dir=sf_dir).select("query_id", "neighbor_id")
    truth = brute_force_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    hits = (
        truth.join(
            ann,
            (truth["query_id"] == ann["query_id"])
            & (truth["true_neighbor"] == ann["neighbor_id"]),
            "left_semi",
        )
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = capped.groupBy().agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum((F.col("vec_id") >= IVF_INCR_SPLIT).cast("long")).alias("n_batch"),
    )
    n_truth = truth.groupBy().agg(F.count(F.lit(1)).alias("n_truth"))
    return totals.crossJoin(hits).crossJoin(n_truth).select(
        F.col("n_corpus").cast("long").alias("n_corpus"),
        F.col("n_batch").cast("long").alias("n_batch"),
        F.lit(TOP_K).cast("long").alias("k"),
        F.lit(IVF_INCR_RECALL_FLOOR).alias("recall_floor"),
        (
            (F.col("n_truth") == 0)
            | ((F.col("n_hits") / F.col("n_truth")) >= IVF_INCR_RECALL_FLOOR)
        ).alias("recall_floor_met"),
    )


IVF_INCREMENTAL_SQL = f"""
SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < {CORPUS_CAP}) AS BIGINT)
         AS n_corpus,
       CAST((SELECT COUNT(*) FROM embeddings
             WHERE vec_id >= {IVF_INCR_SPLIT} AND vec_id < {CORPUS_CAP}) AS BIGINT)
         AS n_batch,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST({IVF_INCR_RECALL_FLOOR} AS DOUBLE) AS recall_floor,
       true AS recall_floor_met
"""


# ---- Product quantization (PQ) ------------------------------------------
PQ_M = 8            # subspaces (64 dims → 8 × 8-dim subvectors)
PQ_KS = 16          # codes per subspace → 4 bits/code, 4 bytes/vector (64×
                    # smaller than float32) — the memory shape that lets a
                    # billion-vector index fit in RAM
PQ_SHORTLIST = 64   # ADC candidates re-ranked exactly per query
# This synthetic corpus is near-random 64-dim (max cosine ≈ 0.48, no
# cluster structure) — PQ's worst case. Measured rerank recall@5: 0.67 /
# 0.79 / 0.53 at sf 0.001 / 0.01 / 0.1; real embedding corpora cluster and
# do far better. The gate certifies the machinery, not corpus quality.
PQ_RECALL_FLOOR = 0.45


def _train_pq_codebooks(emb: DataFrame) -> np.ndarray:
    """(PQ_M, PQ_KS, sub_dim) float64 codebooks, Lloyd per subspace on the
    bounded deterministic sample (same rule as IVF centroid training:
    state never grows with corpus size). Vectors are unit-normalized
    first so L2 code assignment ranks like cosine."""
    n = emb.count()
    mod = max(1, n // TRAIN_SAMPLE_TARGET)
    sids, smat = _collect_quantized(emb.filter(F.col("vec_id") % mod == 0))
    # Sort by vec_id before seeding: _emb round-robin repartitions, so
    # toPandas row order varies with core count; the first-PQ_KS-rows
    # seed (and hence codebooks/codes/recall) must not (same
    # bit-reproducibility rule as _train_centroids_on_sample).
    smat = smat[np.argsort(sids)]
    X = smat / np.maximum(np.sqrt((smat * smat).sum(axis=1)), 1)[:, None]
    d = X.shape[1] // PQ_M
    books = []
    for m in range(PQ_M):
        sub = X[:, m * d : (m + 1) * d]
        cb = sub[:PQ_KS].copy()
        for _ in range(KMEANS_ITERATIONS):
            a = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for c in range(PQ_KS):
                members = sub[a == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books.append(cb)
    return np.stack(books)


def _pq_encode(spark: SparkSession, df: DataFrame, books: np.ndarray) -> DataFrame:
    """One Arrow pass: vec_id → PQ code array (cost ∝ rows — the PQ
    index build; at 100 TB this replaces the float vectors with 4-byte
    codes on disk)."""
    bc = spark.sparkContext.broadcast(books)

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bk = bc.value
        d = bk.shape[2]
        for pdf in it:
            if pdf.empty:
                continue
            q = _quant_np(pdf["embedding"]).astype(np.float64)
            # max(norm, 1) guard: a zero embedding must encode as the
            # zero row, not NaN-poison code assignment.
            X = q / np.maximum(np.sqrt((q * q).sum(axis=1)), 1)[:, None]
            codes = np.stack(
                [
                    ((X[:, m * d : (m + 1) * d][:, None, :] - bk[m][None, :, :]) ** 2)
                    .sum(axis=2)
                    .argmin(axis=1)
                    for m in range(PQ_M)
                ],
                axis=1,
            ).astype(np.int32)
            yield pd.DataFrame(
                {"neighbor_id": pdf["vec_id"], "codes": list(codes)}
            )

    return df.mapInPandas(encode, "neighbor_id long, codes array<int>")


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization, the third index family (after LSH
    and IVF) and the production retrieval shape: 4-bit PQ codes (64×
    compression) score the WHOLE corpus by ADC table lookups — per query
    one (PQ_M × PQ_KS) inner-product LUT against its exact subvectors,
    broadcast to the coded corpus — then the top-PQ_SHORTLIST candidates
    are re-ranked with exact integer-quantized cosine and the final
    top-k recall is gated against the brute-force truth (the IVF recall
    companion pattern: exact facts pinned bit-exactly, the accuracy
    contract as a driver-hashed boolean; raw recall in pytest).

    At scale: codebooks train on a bounded sample, encoding is one
    corpus pass, ADC scans codes (4 bytes/vector) instead of floats,
    and the shortlist selection is a per-query top-N — per-partition
    top-N then merge, never a global sort of scores."""
    emb = _emb(spark, sf_dir)
    books = _train_pq_codebooks(emb)
    coded = _pq_encode(spark, emb, books)

    # Per-query ADC lookup tables from the EXACT query subvectors.
    qids, qmat = _collect_quantized(emb.filter(F.col("vec_id") < QUERY_CAP))
    Q = qmat / np.maximum(np.sqrt((qmat * qmat).sum(axis=1)), 1)[:, None]
    d = books.shape[2]
    lut = np.stack(
        [Q[:, m * d : (m + 1) * d] @ books[m].T for m in range(PQ_M)], axis=1
    )  # (n_queries, PQ_M, PQ_KS)
    bc = spark.sparkContext.broadcast((qids.astype(np.int64), lut))

    def adc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, lut_ = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            codes = np.stack(pdf["codes"].values).astype(np.int64)  # (n, M)
            scores = np.zeros((len(qids_), len(pdf)))
            for m in range(PQ_M):
                scores += lut_[:, m, :][:, codes[:, m]]
            nid = pdf["neighbor_id"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, len(pdf)),
                    "neighbor_id": np.tile(nid, len(qids_)),
                    "adc": scores.reshape(-1),
                }
            )

    scored = coded.mapInPandas(adc, "query_id long, neighbor_id long, adc double")
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    shortlist = (
        scored.filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("neighbor_id") < CORPUS_CAP)
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    reranked = _topk_over_candidates(spark, emb, shortlist, sf_dir=sf_dir).select(
        "query_id", "neighbor_id"
    )
    truth = brute_force_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    hits = (
        truth.join(
            reranked,
            (truth["query_id"] == reranked["query_id"])
            & (truth["true_neighbor"] == reranked["neighbor_id"]),
            "left_semi",
        )
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_truth = truth.groupBy().agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count_distinct("query_id").alias("n_queries"),
    )
    return n_truth.crossJoin(hits).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(TOP_K).cast("long").alias("k"),
        F.lit(PQ_M).cast("long").alias("m_subspaces"),
        F.lit(PQ_KS).cast("long").alias("ks_codes"),
        F.lit(PQ_SHORTLIST).cast("long").alias("shortlist"),
        F.lit(PQ_M * 4 // 8).cast("long").alias("code_bytes"),
        F.lit(PQ_RECALL_FLOOR).alias("recall_floor"),
        (
            (F.col("n_truth") == 0)
            | ((F.col("n_hits") / F.col("n_truth")) >= PQ_RECALL_FLOOR)
        ).alias("recall_floor_met"),
    )


PQ_RECALL_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST({PQ_M} AS BIGINT) AS m_subspaces,
       CAST({PQ_KS} AS BIGINT) AS ks_codes,
       CAST({PQ_SHORTLIST} AS BIGINT) AS shortlist,
       CAST({PQ_M * 4 // 8} AS BIGINT) AS code_bytes,
       CAST({PQ_RECALL_FLOOR} AS DOUBLE) AS recall_floor,
       true AS recall_floor_met
FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < {QUERY_CAP})
"""


EMB_DIM = 64


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid — the k-means/IVF update step as a pure
    JVM-side aggregation: element-wise sums of the integer-quantized
    vectors (exact, map-side-combinable — each executor pre-sums its
    partition before one shuffle of 64 longs per label) divided once by
    the count (single IEEE division per element, hash-portable). At
    100 TB this is THE way to re-train centroids on the full corpus:
    no Python, no per-row state, shuffle volume ∝ labels × dims.

    Output shape: one row per (label, dim) — the aggregated result is
    tiny (labels × EMB_DIM), and scalar rows are the driver-canonical
    form (top-level array columns are rejected by the contract:
    tests/test_driver_contract.py::test_no_array_or_map_output_columns)."""
    e = _quantized(_emb(spark, sf_dir))
    sums = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        *[
            F.sum(F.element_at("q", i + 1)).alias(f"_s{i}")
            for i in range(EMB_DIM)
        ],
    )
    centroid = F.array(
        *[(F.col(f"_s{i}") / F.col("n_vectors")).cast("double") for i in range(EMB_DIM)]
    )
    return (
        sums.select("label", "n_vectors", centroid.alias("_c"))
        .select(
            "label",
            "n_vectors",
            F.posexplode("_c").alias("_d0", "centroid_microunits"),
        )
        .select(
            "label",
            "n_vectors",
            (F.col("_d0") + 1).cast("long").alias("dim"),
            "centroid_microunits",
        )
    )


LABEL_CENTROIDS_SQL = f"""
WITH q AS ({_QUANT_SQL}),
ex AS (
  SELECT label, t.dim, q.q[t.dim] AS v
  FROM q, range(1, {EMB_DIM + 1}) t(dim)
),
sums AS (
  SELECT label, dim, CAST(SUM(v) AS BIGINT) AS s
  FROM ex GROUP BY label, dim
),
n AS (SELECT label, COUNT(*) AS n_vectors FROM q GROUP BY label)
SELECT n.label, n.n_vectors, CAST(sums.dim AS BIGINT) AS dim,
       CAST(s AS DOUBLE) / n.n_vectors AS centroid_microunits
FROM sums JOIN n ON sums.label = n.label
"""

def quantize_int8_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization — the 4× storage/bandwidth compression
    every large-scale vector store applies before ANN serving: per-vector
    max-abs scaling, q_i = round(x_i·127/scale) ∈ [−127, 127]. Emits the
    quantized vector plus its EXACT integer L1 and squared-L2 norms (the
    precomputed terms an int8 cosine/dot kernel needs), so downstream
    similarity stays in exact integer arithmetic — the same determinism
    design as the micro-unit quantization above (similarity.py:19-23).

    Scale shape: pure per-row projection (higher-order array expressions,
    no shuffle, no Python) — embarrassingly parallel; the natural
    map-side stage before writing an ANN-ready table. All outputs are
    integers except `scale`, which is an input float32 widened unchanged,
    so the driver hash is exact.

    Production shape: keeps the ``q8`` array column (what an ANN-ready
    table stores). The registered driver entry is ``quantize_int8``,
    which serializes the array — the driver contract forbids top-level
    array columns (tests/test_driver_contract.py)."""
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    df = _emb(spark, sf_dir).select("vec_id", x.alias("x"))
    maxabs = F.array_max(F.transform(F.col("x"), F.abs))
    df = df.withColumn("scale", maxabs).withColumn(
        "s_safe", F.when(F.col("scale") == 0, F.lit(1.0)).otherwise(F.col("scale"))
    )
    q8 = F.transform(
        F.col("x"),
        lambda v: F.round(v * F.lit(127.0) / F.col("s_safe"), 0).cast("int"),
    )
    df = df.withColumn("q8", q8)
    return df.select(
        "vec_id",
        "scale",
        "q8",
        F.aggregate(
            F.col("q8"), F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1"),
        F.aggregate(
            F.col("q8"), F.lit(0).cast("long"), lambda acc, v: acc + v * v
        ).alias("q_sq"),
    )


def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface of ``quantize_int8_vectors``: the quantized vector
    is emitted as ``q8_csv``, a deterministic comma-joined string of the
    int8 values (integer→string is exact and engine-portable) — scalar
    rows are the driver-canonical form; the production table keeps the
    array (see ``quantize_int8_vectors``)."""
    return quantize_int8_vectors(spark, sf_dir).select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform(F.col("q8"), lambda v: v.cast("string"))).alias(
            "q8_csv"
        ),
        "q_l1",
        "q_sq",
    )


QUANTIZE_INT8_SQL = """
WITH x AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
m AS (
  SELECT vec_id, x,
         list_max(list_transform(x, v -> abs(v))) AS scale
  FROM x
),
q AS (
  SELECT vec_id, scale,
         list_transform(
           x,
           v -> CAST(round(v * 127.0 / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END), 0)
                     AS INTEGER)) AS q8
  FROM m
)
SELECT vec_id, scale,
       array_to_string(list_transform(q8, v -> CAST(v AS VARCHAR)), ',') AS q8_csv,
       CAST(list_sum(list_transform(q8, v -> abs(v))) AS BIGINT) AS q_l1,
       CAST(list_sum(list_transform(q8, v -> v * v)) AS BIGINT) AS q_sq
FROM q
"""


_IVF_COS_VS = (
    "CAST(list_sum(list_transform(list_zip(v.q, s.m), p -> p[1] * p[2])) AS DOUBLE)"
    " / (sqrt(CAST(v.norm_sq AS DOUBLE)) * sqrt(CAST(s.msq AS DOUBLE)))"
)


def _ivf_train_ctes(train_src: str = "normed") -> tuple[list[str], str]:
    """The IVF centroid-training CTE chain (knee params → deterministic
    sample → KMEANS_ITERATIONS exact Lloyd rounds) over ``train_src`` —
    shared by the full-lifecycle replay and the streaming twin, whose
    training corpus is the first epoch only. Returns (parts,
    final_state_cte_name)."""
    cos_vs = _IVF_COS_VS
    parts = [
        f"""params AS (
  SELECT n, {_knee_sql("n", N_CENTROIDS, IVF_TARGET_N)} AS nc
  FROM (SELECT COUNT(*) AS n FROM {train_src})
)""",
        f"""params2 AS (
  SELECT n, nc,
         GREATEST(1, n // GREATEST({TRAIN_SAMPLE_TARGET}, 128 * nc)) AS smod
  FROM params
)""",
        f"""sample AS MATERIALIZED (
  SELECT vec_id, q, norm_sq FROM {train_src}
  WHERE vec_id % (SELECT smod FROM params2) = 0
)""",
        """state0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c,
         q AS m, norm_sq AS msq
  FROM sample ORDER BY vec_id LIMIT (SELECT nc FROM params2)
)""",
    ]
    for r in range(1, KMEANS_ITERATIONS + 1):
        parts.append(
            f"""assign{r} AS MATERIALIZED (
  SELECT vec_id, c FROM (
    SELECT v.vec_id, s.c,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos_vs} DESC, s.c) AS rn
    FROM sample v CROSS JOIN state{r - 1} s
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""state{r} AS MATERIALIZED (
  SELECT s.c, COALESCE(u.m, s.m) AS m,
         list_sum(list_transform(COALESCE(u.m, s.m), x -> x * x)) AS msq
  FROM state{r - 1} s LEFT JOIN (
    SELECT c, list(md ORDER BY dim) AS m FROM (
      SELECT a.c, t.dim,
             CASE WHEN SUM(v.q[t.dim]) >= 0
                  THEN SUM(v.q[t.dim]) // COUNT(*)
                  ELSE -((-SUM(v.q[t.dim]) + COUNT(*) - 1) // COUNT(*))
             END AS md
      FROM assign{r} a JOIN sample v USING (vec_id), range(1, {EMB_DIM + 1}) t(dim)
      GROUP BY a.c, t.dim
    ) GROUP BY c
  ) u USING (c)
)"""
        )
    return parts, f"state{KMEANS_ITERATIONS}"


def _ivf_lists_sql(train_where: str) -> str:
    """Replay of the streaming IVF fold's drained list state: centroids
    trained on the ``train_where`` slice (the first epoch), every vector
    assigned against that state — the stream twin of the full-lifecycle
    ``_ivf_topk_sql`` training chain, sharing its CTEs verbatim."""
    parts = [
        f"quant AS MATERIALIZED ({_QUANT_SQL})",
        f"normed AS MATERIALIZED ({_NORM_SQL})",
        f"tnormed AS MATERIALIZED (SELECT * FROM normed WHERE {train_where})",
    ]
    tparts, final = _ivf_train_ctes("tnormed")
    parts += tparts
    parts.append(
        f"""lists AS (
  SELECT vec_id AS neighbor_id, c FROM (
    SELECT v.vec_id, s.c,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_IVF_COS_VS} DESC, s.c) AS rn
    FROM normed v CROSS JOIN {final} s
  ) WHERE rn = 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT neighbor_id, CAST(c AS INTEGER) AS centroid FROM lists
"""
    )


def _ivf_topk_sql(label_filtered: bool = False) -> str:
    """Complete DuckDB twin of ``ann_ivf_topk`` — the ENTIRE index
    lifecycle replayed in SQL so the driver hash certifies training,
    assignment, probing, and ranking together (upgrading the entry from
    recall-gated to bit-exact, the same promotion the LSH path got):

    - corpus-size knee arithmetic (``_ivf_centroids`` /
      ``_train_sample_target``) as scalar CTEs — the SQL computes
      n_centroids and the sample modulus from COUNT(*) exactly as the
      Python does, so the oracle stays valid on either side of the knee;
    - the deterministic training sample (``vec_id % smod = 0``), seeds =
      its first n_centroids vec_ids;
    - KMEANS_ITERATIONS exact Lloyd rounds as chained MATERIALIZED CTE
      pairs (assign by cosine argmax with ties to the lower list id,
      update by FLOOR integer division of exact int64 sums — DuckDB's
      ``//`` truncates toward zero, so negative sums take the
      -((-s + cnt - 1) // cnt) form to match numpy's floor);
      empty lists carry the previous centroid (LEFT JOIN + COALESCE);
    - one corpus-wide assignment pass, the N_PROBE nearest lists per
      query (row_number over cos DESC, c ASC — the numpy side sorts
      with kind='stable' for the same tie order), and the exact-cosine
      top-k over probed candidates with the standard
      (cosine DESC, neighbor_id) presentation tie-break.

    Every cosine is CAST(int64 dot AS DOUBLE) / (sqrt(a)*sqrt(b)) — the
    identical IEEE op sequence the Arrow kernels run, so assignments,
    probes, and ranks agree bit-for-bit (dots bounded ≪ 2^53).

    ``label_filtered`` adds the metadata predicate of
    ``ann_ivf_filtered``: candidates restrict to corpus vectors whose
    label is the most frequent label (COUNT DESC, label ASC) — the same
    pre-filter the Spark side applies to the assignment table."""
    parts = [
        f"quant AS MATERIALIZED ({_QUANT_SQL})",
        f"normed AS MATERIALIZED ({_NORM_SQL})",
    ]
    tparts, final = _ivf_train_ctes()
    parts += tparts
    cos_vs = _IVF_COS_VS
    parts.append(
        f"""lists AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, c FROM (
    SELECT v.vec_id, s.c,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos_vs} DESC, s.c) AS rn
    FROM normed v CROSS JOIN {final} s
  ) WHERE rn = 1
)"""
    )
    parts.append(
        f"""probes AS (
  SELECT query_id, c FROM (
    SELECT v.vec_id AS query_id, s.c,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos_vs} DESC, s.c) AS rn
    FROM normed v CROSS JOIN {final} s
    WHERE v.vec_id < {QUERY_CAP}
  ) WHERE rn <= {N_PROBE}
)"""
    )
    label_join = ""
    if label_filtered:
        parts.append(
            """tgt AS (
  SELECT label FROM embeddings GROUP BY label
  ORDER BY COUNT(*) DESC, label LIMIT 1
)"""
        )
        label_join = (
            "\n  JOIN embeddings fe ON fe.vec_id = l.neighbor_id"
            "\n   AND fe.label = (SELECT label FROM tgt)"
        )
    parts.append(
        f"""scored AS (
  SELECT p.query_id, l.neighbor_id,
         CAST(list_sum(list_transform(list_zip(nb.q, qv.q), z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(nb.norm_sq AS DOUBLE)) * sqrt(CAST(qv.norm_sq AS DOUBLE))) AS cosine
  FROM lists l
  JOIN probes p USING (c){label_join}
  JOIN normed nb ON nb.vec_id = l.neighbor_id
  JOIN normed qv ON qv.vec_id = p.query_id
  WHERE p.query_id <> l.neighbor_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         cosine
  FROM scored
) WHERE rank <= {TOP_K}
"""
    )


# Matryoshka adaptive retrieval (Kusupati et al. 2022): stage 1 scores
# candidates on the embedding's FIRST MRL_DIMS dims (4× fewer multiplies
# per candidate; at cluster scale the truncated dims are what the ANN
# index — LSH planes or IVF lists — would be built over), stage 2
# reranks a bounded shortlist with the full vector.
MRL_DIMS = 16
MRL_SHORTLIST = 50


def mrl_truncate_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage matryoshka retrieval + in-plan evaluation: truncated-dim
    cosine builds a MRL_SHORTLIST-deep shortlist per query, the full
    64-dim exact cosine reranks it to TOP_K, and each query's result is
    scored against the memoized brute-force truth — emitting per query
    the overlap count and recall@k. One entry certifies the truncation,
    both rankings (deterministic tie-breaks), and the evaluation join.

    Vectors whose truncated prefix is all zeros are excluded from stage
    1 on both sides (their truncated cosine is undefined); recall is
    still measured against the FULL-corpus truth, so truncation damage
    is visible, not hidden. Everything is the integer-quantized exact
    arithmetic of the sibling entries — bit-replayable in SQL."""
    e = _quantized(_emb(spark, sf_dir))
    t = e.withColumn("qt", F.slice("q", 1, MRL_DIMS)).withColumn(
        "nt",
        F.aggregate(
            F.slice("q", 1, MRL_DIMS), F.lit(0).cast("long"), lambda a, x: a + x * x
        ),
    )
    queries = t.filter((F.col("vec_id") < QUERY_CAP) & (F.col("nt") > 0)).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("norm_sq").alias("na"),
        F.col("qt").alias("qta"),
        F.col("nt").alias("nta"),
    )
    corpus = t.filter((F.col("vec_id") < CORPUS_CAP) & (F.col("nt") > 0)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
        F.col("norm_sq").alias("nb"),
        F.col("qt").alias("qtb"),
        F.col("nt").alias("ntb"),
    )
    pairs = corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
    s1 = pairs.select(
        "query_id",
        "neighbor_id",
        "qa",
        "na",
        "qb",
        "nb",
        _cosine(_dot("qta", "qtb"), F.col("nta"), F.col("ntb")).alias("tc"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("tc"), "neighbor_id")
    short = s1.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= MRL_SHORTLIST
    )
    s2 = short.select(
        "query_id",
        "neighbor_id",
        _cosine(_dot("qa", "qb"), F.col("na"), F.col("nb")).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    topk = (
        s2.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    truth = brute_force_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("_t")
    )
    return (
        topk.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_topk"),
            F.sum(F.col("_t").isNotNull().cast("long")).alias("n_overlap"),
            (
                F.sum(F.col("_t").isNotNull().cast("long")).cast("double") / TOP_K
            ).alias("recall"),
        )
    )


MRL_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
normed AS ({_NORM_SQL}),
t AS (
  SELECT vec_id, q, norm_sq, q[1:{MRL_DIMS}] AS qt,
         list_sum(list_transform(q[1:{MRL_DIMS}], x -> x * x)) AS nt
  FROM normed
),
qs AS (SELECT * FROM t WHERE vec_id < {QUERY_CAP} AND nt > 0),
cs AS (SELECT * FROM t WHERE vec_id < {CORPUS_CAP} AND nt > 0),
s1 AS (
  SELECT qs.vec_id AS query_id, cs.vec_id AS neighbor_id,
         qs.q AS qa, qs.norm_sq AS na, cs.q AS qb, cs.norm_sq AS nb,
         CAST(list_sum(list_transform(list_zip(qs.qt, cs.qt), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(qs.nt AS DOUBLE)) * sqrt(CAST(cs.nt AS DOUBLE))) AS tc
  FROM qs JOIN cs ON qs.vec_id <> cs.vec_id
),
short AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY tc DESC, neighbor_id) AS r1
  FROM s1
),
s2 AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum(list_transform(list_zip(qa, qb), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
  FROM short WHERE r1 <= {MRL_SHORTLIST}
),
rer AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s2
),
mtopk AS (SELECT query_id, neighbor_id FROM rer WHERE rank <= {TOP_K}),
tpairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
  FROM normed a JOIN normed b ON a.vec_id < {QUERY_CAP} AND b.vec_id < {CORPUS_CAP}
   AND a.vec_id <> b.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM tpairs
  ) WHERE rank <= {TOP_K}
)
SELECT m.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_topk,
       CAST(SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlap,
       CAST(SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / {TOP_K} AS recall
FROM mtopk m
LEFT JOIN truth tr ON m.query_id = tr.query_id AND m.neighbor_id = tr.neighbor_id
GROUP BY m.query_id
"""

registry.register("sim_bruteforce_topk", brute_force_topk, BRUTE_SQL)
HARD_NEG_ANN_SQL = f"""
SELECT CAST(COUNT(DISTINCT a.vec_id) AS BIGINT) AS n_queries,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST({HARD_NEG_RECALL_FLOOR} AS DOUBLE) AS recall_floor,
       true AS recall_floor_met
FROM embeddings a JOIN embeddings b
  ON a.vec_id < {QUERY_CAP} AND b.vec_id < {CORPUS_CAP}
 AND a.vec_id <> b.vec_id AND a.label <> b.label
"""

registry.register("sim_hard_negatives", hard_negatives, HARD_NEGATIVES_SQL)
registry.register("sim_hard_negatives_ann", hard_negatives_ann, HARD_NEG_ANN_SQL)
registry.register("sim_mrl_truncate_rerank", mrl_truncate_rerank, MRL_SQL)
def _gram_agg(e: DataFrame) -> DataFrame:
    """Exact integer Gram + dim-sum reduction over a vector frame: each
    Arrow batch emits one numpy int64 QᵀQ partial flattened to 2080
    upper-triangle rows; the groupBy is map-side combinable.  The
    partials are ADDITIVE — the property emb_pca_incremental leans on:
    standing-corpus sums + batch sums == full-corpus sums exactly."""
    dims = EMB_DIM
    iu = np.triu_indices(dims)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            q = _quant_np(pdf["embedding"])
            g = q.T @ q
            s = q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu[0] + 1,
                    "j": iu[1] + 1,
                    "sp": g[iu],
                    "si": s[iu[0]],
                    "sj": s[iu[1]],
                    "nb": len(pdf),
                }
            )

    partials = e.mapInPandas(
        batches, "i int, j int, sp long, si long, sj long, nb long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("nb").alias("n"),
        F.sum("si").alias("sum_i"),
        F.sum("sj").alias("sum_j"),
        F.sum("sp").alias("sum_prod"),
    )


def covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Gram/covariance statistics over the quantized
    embeddings — the input every PCA / whitening / decorrelation pass
    needs, computed the way a 100 TB job must: each Arrow batch emits
    ONE numpy int64 partial Gram matrix QᵀQ (matmul on integers is
    exact) plus per-dim partial sums, flattened to the 2080 upper-
    triangle rows; the shuffle is 2080 rows per batch REGARDLESS of
    corpus size (the k-means partial-sum discipline), and the final
    groupBy is map-side combinable. Output per dim pair (i ≤ j): counts,
    dim sums, exact ΣxᵢxⱼB, the integer covariance numerator
    n·Σxᵢxⱼ − Σxᵢ·Σxⱼ, and the covariance as ONE IEEE division by n² —
    every column hash-portable. Eigen-solving the 64×64 result is
    driver-side numpy territory (it is 32 KB); the corpus-sized
    reduction here is the part that has to scale."""
    agg = _gram_agg(_emb(spark, sf_dir))
    cov_num = F.col("n") * F.col("sum_prod") - F.col("sum_i") * F.col("sum_j")
    return agg.select(
        "i",
        "j",
        "n",
        "sum_i",
        "sum_j",
        "sum_prod",
        cov_num.alias("cov_num"),
        (cov_num.cast("double") / (F.col("n") * F.col("n"))).alias("covariance"),
    )


COVARIANCE_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
el AS (
  SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS x FROM quant
),
nv AS (SELECT COUNT(*) AS n FROM quant),
ds AS (SELECT i, CAST(SUM(x) AS BIGINT) AS s FROM el GROUP BY i),
pairs AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS sum_prod
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT p.i, p.j,
       CAST(nv.n AS BIGINT) AS n,
       si.s AS sum_i, sj.s AS sum_j, p.sum_prod,
       CAST(nv.n * p.sum_prod - si.s * sj.s AS BIGINT) AS cov_num,
       CAST(nv.n * p.sum_prod - si.s * sj.s AS DOUBLE) / (nv.n * nv.n) AS covariance
FROM pairs p
CROSS JOIN nv
JOIN ds si ON si.i = p.i
JOIN ds sj ON sj.i = p.j
"""

# --- Semantic split contamination (benchmark-leakage screen) -------------
#
# The embedding-space decontamination pass (the semantic companion of
# docs_benchmark_contamination's 3-gram screen): does any EVAL vector
# have a near-twin in the TRAIN split?  N-gram screens miss paraphrases;
# this is the check a pipeline runs before trusting its benchmark.
#
# Split: md5(vec_id) % 10 == 0 AND vec_id < CONTAM_EVAL_CAP → eval (the
# text_shard_split idiom, replayed exactly in the oracle).  Benchmark
# sets are FIXED-SIZE by nature — they are benchmarks — so the eval
# block is id-capped, not a corpus percentage: the first 100× probe ran
# the UNCAPPED md5 split (eval grew to 20k vectors alongside the corpus)
# and the screen degenerated to a 249 s quasi-quadratic scan — the exact
# mistake the cap models away (every driver SF has vec_id < 2000, so the
# cap changes nothing the oracle hashes; at 100× it pins |eval| while
# the train side keeps growing — cost honestly ∝ corpus).  Shape: the
# eval block broadcasts as a numpy matrix; the train corpus streams
# through ONE matmul per Arrow batch, emitting |eval| partial rows per
# batch (count ≥ τ, batch max cosine); the only shuffle is the
# |eval|-sized final combine.  The matmul runs in float64 for BLAS
# throughput but stays EXACT: quantized components are < 2¹³, so every
# 64-term dot product is < 2⁵³ and float64 accumulation is integer-exact
# (the first probe's int64 matmul had no BLAS path and burned 4× the
# wall); cosines are then one double division — Spark and DuckDB agree
# bit-for-bit on every comparison and on max_cosine.
CONTAM_COSINE = 0.38
CONTAM_EVAL_CAP = 2000


def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(_emb(spark, sf_dir))
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 10
    )
    tagged = e.withColumn("b", bucket)
    ev = tagged.filter((F.col("b") == 0) & (F.col("vec_id") < CONTAM_EVAL_CAP))
    tr = tagged.filter((F.col("b") != 0) | (F.col("vec_id") >= CONTAM_EVAL_CAP))
    pdf = ev.select("vec_id", "label", "q").toPandas()
    eids = pdf["vec_id"].to_numpy(np.int64)
    elabels = pdf["label"].to_numpy(np.int64)
    emat = np.vstack(pdf["q"].values).astype(np.float64)  # exact: |q| < 2^13
    enorm = np.sqrt((emat * emat).sum(axis=1))
    bc = spark.sparkContext.broadcast((eids, elabels, emat, enorm))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        eids_, elabels_, emat_, enorm_ = bc.value
        for pdf_ in it:
            if pdf_.empty:
                continue
            q = np.vstack(pdf_["q"].values).astype(np.float64)
            s = q @ emat_.T  # BLAS float64, integer-exact (dots < 2^53)
            nrm = np.sqrt((q * q).sum(axis=1))
            cos = s / (nrm[:, None] * enorm_[None, :])
            yield pd.DataFrame(
                {
                    "vec_id": eids_,
                    "label": elabels_,
                    "cnt": (cos >= CONTAM_COSINE).sum(axis=0).astype(np.int64),
                    "mx": cos.max(axis=0),
                }
            )

    partials = tr.select("q").mapInPandas(
        batches, "vec_id long, label long, cnt long, mx double"
    )
    agg = partials.groupBy("vec_id", "label").agg(
        F.sum("cnt").alias("n_leaky_train"), F.max("mx").alias("max_cosine")
    )
    return agg.select(
        "vec_id",
        "label",
        "n_leaky_train",
        "max_cosine",
        (F.col("n_leaky_train") > 0).alias("leaked"),
    )


# Multiple benchmark suites screened in ONE corpus pass (VERDICT r10
# #5): real pipelines hold several eval sets (one per benchmark), and
# running the contamination screen per suite re-scans the corpus B
# times. Here the suites' embedding blocks stack into ONE broadcast
# matrix (each row tagged with its bench_id — a deterministic partition
# of the capped eval block, replayed by the oracle), the train corpus
# streams through ONE BLAS matmul per Arrow batch against the stacked
# block, and per-benchmark leak counts fall out of a two-level bounded
# aggregation (|eval| rows, then B rows). Cost ∝ corpus·Σ|eval_b| —
# exactly the sum of the individual screens, with one scan instead
# of B.
N_BENCHMARKS = 3


def multi_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(_emb(spark, sf_dir))
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 10
    )
    tagged = e.withColumn("b", bucket)
    ev = tagged.filter((F.col("b") == 0) & (F.col("vec_id") < CONTAM_EVAL_CAP))
    tr = tagged.filter((F.col("b") != 0) | (F.col("vec_id") >= CONTAM_EVAL_CAP))
    pdf = ev.select("vec_id", "q").toPandas()
    if pdf.empty:
        # No eval vectors in this corpus slice (possible at tiny SFs):
        # the oracle's join yields zero rows, so mirror it instead of
        # letting np.vstack crash on the empty column (ADVICE r11).
        return spark.createDataFrame(
            [],
            "bench_id long, n_eval long, n_leaked_eval long, "
            "total_leaky_pairs long, max_cosine double",
        )
    eids = pdf["vec_id"].to_numpy(np.int64)
    ebench = eids % N_BENCHMARKS
    emat = np.vstack(pdf["q"].values).astype(np.float64)  # exact: |q| < 2^13
    enorm = np.sqrt((emat * emat).sum(axis=1))
    bc = spark.sparkContext.broadcast((eids, ebench, emat, enorm))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        eids_, ebench_, emat_, enorm_ = bc.value
        for pdf_ in it:
            if pdf_.empty:
                continue
            q = np.vstack(pdf_["q"].values).astype(np.float64)
            s = q @ emat_.T  # one matmul covers ALL benchmarks
            nrm = np.sqrt((q * q).sum(axis=1))
            cos = s / (nrm[:, None] * enorm_[None, :])
            yield pd.DataFrame(
                {
                    "vec_id": eids_,
                    "bench_id": ebench_,
                    "cnt": (cos >= CONTAM_COSINE).sum(axis=0).astype(np.int64),
                    "mx": cos.max(axis=0),
                }
            )

    partials = tr.select("q").mapInPandas(
        batches, "vec_id long, bench_id long, cnt long, mx double"
    )
    pervec = partials.groupBy("vec_id", "bench_id").agg(
        F.sum("cnt").alias("cnt"), F.max("mx").alias("mx")
    )
    return pervec.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum((F.col("cnt") > 0).cast("long")).alias("n_leaked_eval"),
        F.sum("cnt").alias("total_leaky_pairs"),
        F.max("mx").alias("max_cosine"),
    )


MULTI_BENCH_CONTAM_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
normed AS MATERIALIZED ({_NORM_SQL}),
tagged AS (
  SELECT *, CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
  FROM normed
),
pairs AS (
  SELECT ev.vec_id, ev.vec_id % {N_BENCHMARKS} AS bench_id,
         CAST(list_sum(list_transform(list_zip(ev.q, tr.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(ev.norm_sq AS DOUBLE)) * sqrt(CAST(tr.norm_sq AS DOUBLE))) AS cosine
  FROM tagged ev JOIN tagged tr
    ON ev.b = 0 AND ev.vec_id < {CONTAM_EVAL_CAP}
   AND (tr.b <> 0 OR tr.vec_id >= {CONTAM_EVAL_CAP})
),
pervec AS (
  SELECT bench_id, vec_id,
         SUM(CASE WHEN cosine >= {CONTAM_COSINE} THEN 1 ELSE 0 END) AS cnt,
         MAX(cosine) AS mx
  FROM pairs GROUP BY bench_id, vec_id
)
SELECT bench_id,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_eval,
       CAST(SUM(cnt) AS BIGINT) AS total_leaky_pairs,
       MAX(mx) AS max_cosine
FROM pervec GROUP BY bench_id
"""


# Ingestion-direction screen: the benchmark (eval split) is FIXED
# standing state; each incoming TRAIN batch (vec_id ≥ PCA_INCR_SPLIT's
# convention, excluding eval members) is screened against it BEFORE
# joining the corpus — per batch vector, the count of benchmark
# near-twins and the exact max cosine, quarantine = any hit.  Cost ∝
# batch·|eval| inside one Arrow matmul per batch, zero shuffle, zero
# joins — the persisted-state discipline of the other *_incremental
# entries.  The eval block and its broadcast are built once per session
# (the stored benchmark-embedding table a real pipeline keeps next to its
# corpus).


def contamination_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(_emb(spark, sf_dir))
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 10
    )
    tagged = e.withColumn("b", bucket)

    def build_eval_block():
        pdf = tagged.filter(
            (F.col("b") == 0) & (F.col("vec_id") < CONTAM_EVAL_CAP)
        ).select("vec_id", "q").toPandas()
        emat = np.vstack(pdf["q"].values).astype(np.float64)  # exact: |q| < 2^13
        return spark.sparkContext.broadcast((emat, np.sqrt((emat * emat).sum(axis=1))))

    bc = memo.cached(spark, "ann", ("eval_block", sf_dir), build_eval_block)
    batch = tagged.filter(
        ((F.col("b") != 0) | (F.col("vec_id") >= CONTAM_EVAL_CAP))
        & (F.col("vec_id") >= IVF_INCR_SPLIT)
    ).select("vec_id", "label", "q")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        emat_, enorm_ = bc.value
        for pdf_ in it:
            if pdf_.empty:
                continue
            q = np.vstack(pdf_["q"].values).astype(np.float64)
            s = q @ emat_.T  # BLAS float64, integer-exact (dots < 2^53)
            nrm = np.sqrt((q * q).sum(axis=1))
            cos = s / (nrm[:, None] * enorm_[None, :])
            yield pd.DataFrame(
                {
                    "vec_id": pdf_["vec_id"].to_numpy(np.int64),
                    "label": pdf_["label"].to_numpy(np.int64),
                    "n_eval_hits": (cos >= CONTAM_COSINE).sum(axis=1).astype(np.int64),
                    "max_cosine": cos.max(axis=1),
                }
            )

    out = batch.mapInPandas(
        batches, "vec_id long, label long, n_eval_hits long, max_cosine double"
    )
    return out.select(
        "vec_id",
        "label",
        "n_eval_hits",
        "max_cosine",
        (F.col("n_eval_hits") > 0).alias("quarantine"),
    )


CONTAM_INCR_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
normed AS MATERIALIZED ({_NORM_SQL}),
tagged AS (
  SELECT *, CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
  FROM normed
),
pairs AS (
  SELECT ba.vec_id, ba.label,
         CAST(list_sum(list_transform(list_zip(ba.q, ev.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(ba.norm_sq AS DOUBLE)) * sqrt(CAST(ev.norm_sq AS DOUBLE))) AS cosine
  FROM tagged ba JOIN tagged ev
    ON (ba.b <> 0 OR ba.vec_id >= {CONTAM_EVAL_CAP})
   AND ba.vec_id >= {IVF_INCR_SPLIT}
   AND ev.b = 0 AND ev.vec_id < {CONTAM_EVAL_CAP}
)
SELECT vec_id,
       CAST(label AS BIGINT) AS label,
       CAST(SUM(CASE WHEN cosine >= {CONTAM_COSINE} THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
       MAX(cosine) AS max_cosine,
       SUM(CASE WHEN cosine >= {CONTAM_COSINE} THEN 1 ELSE 0 END) > 0 AS quarantine
FROM pairs
GROUP BY vec_id, label
"""


SPLIT_CONTAM_SQL = f"""
WITH quant AS ({_QUANT_SQL}),
normed AS MATERIALIZED ({_NORM_SQL}),
tagged AS (
  SELECT *, CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
  FROM normed
),
pairs AS (
  SELECT ev.vec_id, ev.label,
         CAST(list_sum(list_transform(list_zip(ev.q, tr.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(ev.norm_sq AS DOUBLE)) * sqrt(CAST(tr.norm_sq AS DOUBLE))) AS cosine
  FROM tagged ev JOIN tagged tr
    ON ev.b = 0 AND ev.vec_id < {CONTAM_EVAL_CAP}
   AND (tr.b <> 0 OR tr.vec_id >= {CONTAM_EVAL_CAP})
)
SELECT vec_id,
       CAST(label AS BIGINT) AS label,
       CAST(SUM(CASE WHEN cosine >= {CONTAM_COSINE} THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_train,
       MAX(cosine) AS max_cosine,
       SUM(CASE WHEN cosine >= {CONTAM_COSINE} THEN 1 ELSE 0 END) > 0 AS leaked
FROM pairs
GROUP BY vec_id, label
"""


# --- PCA: top principal component by exact-integer power iteration ------
#
# The missing half of the covariance story: emb_covariance_stats reduces
# the corpus to a 64×64 integer covariance (the distributed part); this
# entry eigen-solves it and projects every vector onto the top principal
# component (the whitening / decorrelation / dim-reduction primitive a
# training pipeline runs before PQ or MRL truncation).
#
# Float determinism is the design problem: numpy's eigensolver (LAPACK)
# and any SQL replay would disagree in the last ulp, so the whole
# iteration is EXACT INTEGER arithmetic on the covariance NUMERATORS
# (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ — scaling a matrix doesn't move its eigenvectors):
#
#   v⁰ = (PCA_SCALE, …, PCA_SCALE)
#   wʳ = C·vʳ⁻¹                       (exact integer mat-vec)
#   vʳ = sign(wʳ)·(|wʳ|·PCA_SCALE // max|wʳ|)   (∞-norm renormalization;
#        nonnegative // nonnegative is identical in Python and DuckDB)
#
# for a FIXED PCA_ROUNDS iterations — the result is a deterministic
# fixed point of the recurrence whether or not it has converged, so the
# oracle (the same recurrence unrolled as HUGEINT CTEs) matches
# bit-for-bit.  Sign is canonicalized by the largest-|component| rule
# (smallest dim index on ties).  The driver-side solve touches 2080
# integers (32 KB — the bounded-collect discipline); the corpus-scale
# work is the covariance reduction (2080 rows per Arrow batch) and the
# projection, a zero-shuffle array fold per vector.
#
# Convergence honesty: direction error decays as (λ₂/λ₁)^K, so on data
# with a planted dominant component (the pytest) K=24 recovers numpy's
# eigenvector to cos > 1−1e-9; on THIS synthetic corpus the spectrum is
# near-isotropic (λ₂/λ₁ ≈ 0.99 — random-matrix bulk, no real dominant
# direction) so after K rounds the vector is a deterministic point in
# the top-eigenspace whose Rayleigh quotient is within (λ₂/λ₁)^(2K) of
# λ₁ — the statistically meaningful convergence there, asserted by the
# pytest; the hash pins the exact deterministic output either way.
PCA_ROUNDS = 48
PCA_SCALE = 1_000_000


def _power_rounds(c: list[list[int]]) -> list[int]:
    """PCA_ROUNDS of exact-integer power iteration with ∞-norm
    renormalization (sign-magnitude truncating division) and leading-
    coordinate sign canonicalization — the recurrence the oracle unrolls
    as chained CTEs, bit-for-bit."""
    dims = EMB_DIM
    v = [PCA_SCALE] * dims
    for _ in range(PCA_ROUNDS):
        w = [sum(c[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        mx = max(abs(x) for x in w)
        if mx == 0:
            # Degenerate all-zero covariance: Python breaks cleanly to a
            # zero vector. The unrolled SQL oracles intentionally do NOT
            # guard their `// mx` divisions — a zero matrix means a
            # constant corpus, which no fixture produces; DuckDB would
            # raise rather than silently diverge (ADVICE r11: comment
            # previously claimed a NULLIF that was never there).
            break
        v = [(1 if x >= 0 else -1) * (abs(x) * PCA_SCALE // mx) for x in w]
    lead = max(range(dims), key=lambda i: (abs(v[i]), -i))
    if v[lead] < 0:
        v = [-x for x in v]
    return v


def _pca_eigvec_ints(rows) -> tuple[list[int], list[int], int]:
    """(eigenvector ints, per-dim sums, n) from collected covariance rows.

    Pure-Python ints: the mat-vec products overflow int64 (|C|·|v| ≈
    2⁴⁷·2²⁰) so arbitrary precision here, HUGEINT in the oracle."""
    dims = EMB_DIM
    c = [[0] * dims for _ in range(dims)]
    sums = [0] * dims
    n = 0
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        c[i][j] = c[j][i] = r["cov_num"]
        sums[i], sums[j] = r["sum_i"], r["sum_j"]
        n = r["n"]
    return _power_rounds(c), sums, n


# --- Top-k PCA via exact-integer deflation --------------------------------
#
# Whitening / decorrelation needs more than PC1; deflation extends the
# same integer machinery to the top-k components (VERDICT r10 #3).  After
# each component the matrix is deflated IN THE SAME EXACT-INTEGER
# ARITHMETIC the oracle can replay:
#   vr = v rescaled to ≤ 2⁸  (sign-magnitude truncation — keeps every
#        later product inside HUGEINT at ANY corpus size: |C| ≤ 2⁶² at
#        the 100× replica, so C·(vrᵀvr)² ≤ 2⁶²⁺⁴⁴ and (vrᵀCvr)·vrᵢvrⱼ ≤
#        2⁹⁰⁺¹⁶, both far under int128's 2¹²⁶)
#   D  = C·(vrᵀvr)² − (vrᵀCvr)·(vr vrᵀ)   ( == (vrᵀvr)²·(C − λ̂·v̂v̂ᵀ),
#        a positive multiple of the Rayleigh deflation, so the
#        eigendirections match)
#   C' = D renormalized to ∞-norm 2¹⁷ (sign-magnitude truncation).
#        2¹⁷ is the int128 ceiling, not a choice: the renormalizing
#        division computes |D|·DSCALE // max|D| and worst-case |D| ≤
#        |C|·(vrᵀvr)² ≤ 2⁶³⁺⁴⁴ = 2¹⁰⁷ (cov_num is BIGINT-bounded by the
#        covariance_stats contract), so DSCALE ≤ 2¹⁷ keeps the product
#        under 2¹²⁶ (DuckDB overflowed at 2⁴⁰ on the 100× replica).
#        It also bounds the NEXT iteration's mat-vec at 2¹⁷⁺²⁰⁺⁶ = 2⁴³
#        regardless of how many times we deflate, making the recursion
#        depth-uniform in k.
# The matrix truncation perturbs directions by ~2⁻¹⁷ — still far below
# the power iteration's own (λ₂/λ₁)^ROUNDS term (pytest pins < 1e-4
# numpy agreement on planted-gap data) — and the residual non-
# orthogonality it leaves is repaired by an exact-integer Gram–Schmidt
# polish (_orth_polish). The oracle replays every truncation
# bit-for-bit, so the hash certifies the whole lifecycle.
PCA_TOPK_K = 3
DEFL_VSCALE = 256
DEFL_DSCALE = 1 << 17


def _trunc_scale(x: int, scale: int, mx: int) -> int:
    return (1 if x >= 0 else -1) * (abs(x) * scale // mx)


def _orth_polish(v: list[int], prevs: list[list[int]]) -> list[int]:
    """Exact-integer Gram–Schmidt of ``v`` against earlier components:
    v ← v·(uᵀu) − u·(uᵀv), ∞-norm-rescaled to PCA_SCALE after each step
    (entries ≤ 2²⁰·2⁴⁶ — HUGEINT-safe), then sign-canonicalized. The
    deflation itself orthogonalizes only to the 2⁻⁸ truncation of vr;
    this polish tightens mutual orthogonality to ~2⁻²⁰ — the property a
    whitening consumer actually relies on."""
    for u in prevs:
        duv = sum(a * b for a, b in zip(u, v))
        uu = sum(a * a for a in u)
        w = [x * uu - ui * duv for x, ui in zip(v, u)]
        mx = max(abs(x) for x in w)
        if mx == 0:
            return [0] * len(v)
        v = [_trunc_scale(x, PCA_SCALE, mx) for x in w]
    lead = max(range(len(v)), key=lambda i: (abs(v[i]), -i))
    if v[lead] < 0:
        v = [-x for x in v]
    return v


def _pca_topk_ints(
    rows, k: int, stats_out: list | None = None
) -> tuple[list[list[int]], list[int], int]:
    """Top-k eigenvector int lists (deflation between components), per-dim
    sums, and n — pure-Python arbitrary-precision integers.

    When ``stats_out`` is given, each deflation appends the exact-integer
    triple (mx, s, md): the pre-deflation matrix ∞-norm, vrᵀvr, and the
    post-deflation (pre-rescale) ∞-norm. Since d = c·s² − num·vr vrᵀ,
    md/(mx·s²) is the residual spectral mass left after removing the
    component — the adaptive-K stopping statistic, comparable as pure
    integers (md·R ≥ mx·s²) in both Python and the SQL oracle."""
    dims = EMB_DIM
    c = [[0] * dims for _ in range(dims)]
    sums = [0] * dims
    n = 0
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        c[i][j] = c[j][i] = r["cov_num"]
        sums[i], sums[j] = r["sum_i"], r["sum_j"]
        n = r["n"]
    vecs: list[list[int]] = []
    for comp in range(k):
        v = _orth_polish(_power_rounds(c), vecs)
        vecs.append(v)
        if comp == k - 1:
            break
        vr = [_trunc_scale(x, DEFL_VSCALE, PCA_SCALE) for x in v]
        s = sum(x * x for x in vr)
        num = sum(
            c[i][j] * vr[i] * vr[j] for i in range(dims) for j in range(dims)
        )
        # C·(vrᵀvr)² − (vrᵀCvr)·vr vrᵀ == (vrᵀvr)²·(C − λ̂ v̂v̂ᵀ): the exact
        # positive multiple of the Rayleigh deflation.
        d = [
            [c[i][j] * s * s - num * vr[i] * vr[j] for j in range(dims)]
            for i in range(dims)
        ]
        md = max(abs(x) for row in d for x in row)
        if stats_out is not None:
            mx = max(abs(x) for row in c for x in row)
            stats_out.append((mx, s, md))
        if md == 0:  # rank-exhausted: remaining components are zero
            vecs.extend([[0] * dims for _ in range(k - 1 - comp)])
            break
        c = [[_trunc_scale(x, DEFL_DSCALE, md) for x in row] for row in d]
    return vecs, sums, n


def pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the corpus's top principal component.

    Mean-centering stays integer: the projection numerator is
    vᵀ(n·q − Σq) = n·(v·q) − Σⱼvⱼ·sumⱼ, exact int64 (≤ 2⁵⁰ at driver
    SFs); ``proj`` is ONE IEEE division by n·QUANT·PCA_SCALE, so Spark
    and DuckDB produce bit-identical doubles.  The per-vector dot
    product is an array fold on the scan — no shuffle beyond the
    covariance reduction itself.  At 100 TB the covariance numerators
    want the two-pass centered form (or DECIMAL(38)) once n·Σxᵢxⱼ
    approaches 2⁶³; the projection pass is shape-unchanged."""
    rows = covariance_stats(spark, sf_dir).collect()  # 2080 rows, bounded
    v, sums, n = _pca_eigvec_ints(rows)
    const = sum(v[j] * sums[j] for j in range(EMB_DIM))
    den = float(n * QUANT * PCA_SCALE)
    vlit = F.array([F.lit(x).cast("long") for x in v])
    q = _quantized(_emb(spark, sf_dir))
    proj_num = (F.lit(n).cast("long") * _dot("q", "v")).cast("long") - F.lit(
        const
    ).cast("long")
    return (
        q.withColumn("v", vlit)
        .select(
            "vec_id",
            "label",
            proj_num.alias("proj_num"),
            (proj_num.cast("double") / F.lit(den)).alias("proj"),
        )
    )


def pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the corpus's top-PCA_TOPK_K principal
    components — the whitening / decorrelation view a real embedding
    pipeline materializes (dimension diagnostics, decorrelated features,
    variance-ordered truncation). Components come from repeated exact-
    integer deflation of the covariance numerators (see _pca_topk_ints);
    every projection is the mean-centered integer numerator
    n·(v·q) − Σⱼvⱼ·sumⱼ (int64 at any probe SF) and ONE IEEE division,
    so Spark and DuckDB agree bit-for-bit on all 2k output doubles.

    Scale shape: identical to emb_pca_project — the eigen-solve touches
    the 2080-row (32 KB) covariance reduction on the driver; the k
    projections are ONE scan-side pass over the quantized embeddings
    (k array folds per row, no shuffle beyond the covariance
    reduction)."""
    rows = covariance_stats(spark, sf_dir).collect()  # 2080 rows, bounded
    vecs, sums, n = _pca_topk_ints(rows, PCA_TOPK_K)
    den = float(n * QUANT * PCA_SCALE)
    q = _quantized(_emb(spark, sf_dir))
    cols = [F.col("vec_id"), F.col("label")]
    for k, v in enumerate(vecs, 1):
        const = sum(v[j] * sums[j] for j in range(EMB_DIM))
        q = q.withColumn(f"v{k}", F.array([F.lit(x).cast("long") for x in v]))
        pn = (F.lit(n).cast("long") * _dot("q", f"v{k}")).cast("long") - F.lit(
            const
        ).cast("long")
        cols.append(pn.alias(f"proj{k}_num"))
        cols.append((pn.cast("double") / F.lit(den)).alias(f"proj{k}"))
    return q.select(*cols)


def _unrolled_power_sql(comp: int, mat: str) -> str:
    """The PCA_ROUNDS power-iteration rounds + sign canonicalization over
    matrix CTE ``mat``, producing ``vfin{comp}`` — the same recurrence as
    _pca_sql, with component-scoped CTE names."""
    parts = [
        f"""v{comp}r0 AS (SELECT i, CAST({PCA_SCALE} AS HUGEINT) AS val
       FROM range(1, {EMB_DIM + 1}) t(i))"""
    ]
    for r in range(1, PCA_ROUNDS + 1):
        parts.append(
            f"""w{comp}r{r} AS MATERIALIZED (
  SELECT m.i, SUM(m.c * v.val) AS w
  FROM {mat} m JOIN v{comp}r{r - 1} v ON v.i = m.j
  GROUP BY m.i
),
v{comp}r{r} AS MATERIALIZED (
  SELECT i,
         CASE WHEN w >= 0 THEN ABS(w) * {PCA_SCALE} // m.mx
              ELSE -(ABS(w) * {PCA_SCALE} // m.mx) END AS val
  FROM w{comp}r{r}, (SELECT MAX(ABS(w)) AS mx FROM w{comp}r{r}) m
)"""
        )
    parts.append(
        f"""sgn{comp} AS (
  SELECT CASE WHEN (SELECT val FROM v{comp}r{PCA_ROUNDS}
                    ORDER BY ABS(val) DESC, i ASC LIMIT 1) < 0
              THEN -1 ELSE 1 END AS s
),
vfin{comp} AS MATERIALIZED (
  SELECT i, val * sgn{comp}.s AS val FROM v{comp}r{PCA_ROUNDS}, sgn{comp}
)"""
    )
    return ",\n".join(parts)


def _orth_polish_sql(comp: int) -> str:
    """Gram–Schmidt polish CTEs: vfin{comp} orthogonalized against
    vort{1}..vort{comp-1} with the identical integer rescale, producing
    ``vort{comp}`` — the exact recurrence of _orth_polish."""
    cur = f"vfin{comp}"
    parts = []
    for p in range(1, comp):
        parts.append(
            f"""o{comp}p{p}raw AS MATERIALIZED (
  SELECT v.i, v.val * uu.s - u.val * duv.d AS val
  FROM {cur} v JOIN vort{p} u ON u.i = v.i,
       (SELECT SUM(val * val) AS s FROM vort{p}) uu,
       (SELECT SUM(a.val * b.val) AS d
        FROM {cur} a JOIN vort{p} b ON b.i = a.i) duv
),
o{comp}p{p} AS MATERIALIZED (
  SELECT i,
         CASE WHEN val >= 0 THEN ABS(val) * {PCA_SCALE} // m.mx
              ELSE -(ABS(val) * {PCA_SCALE} // m.mx) END AS val
  FROM o{comp}p{p}raw, (SELECT MAX(ABS(val)) AS mx FROM o{comp}p{p}raw) m
)"""
        )
        cur = f"o{comp}p{p}"
    parts.append(
        f"""vort{comp} AS MATERIALIZED (
  SELECT i, val * sg.s AS val
  FROM {cur},
       (SELECT CASE WHEN (SELECT val FROM {cur}
                          ORDER BY ABS(val) DESC, i ASC LIMIT 1) < 0
                    THEN -1 ELSE 1 END AS s) sg
)"""
    )
    return ",\n".join(parts)


def _deflate_sql(comp: int, mat: str) -> str:
    """Deflation CTEs: vort{comp} + matrix ``mat`` → renormalized matrix
    ``m{comp + 1}`` — the exact-integer recurrence of _pca_topk_ints."""
    return f"""vr{comp} AS MATERIALIZED (
  SELECT i,
         CASE WHEN val >= 0 THEN ABS(val) * {DEFL_VSCALE} // {PCA_SCALE}
              ELSE -(ABS(val) * {DEFL_VSCALE} // {PCA_SCALE}) END AS val
  FROM vort{comp}
),
s{comp} AS (SELECT SUM(val * val) AS s FROM vr{comp}),
num{comp} AS (
  SELECT SUM(m.c * a.val * b.val) AS t
  FROM {mat} m JOIN vr{comp} a ON a.i = m.i JOIN vr{comp} b ON b.i = m.j
),
draw{comp} AS MATERIALIZED (
  SELECT m.i, m.j,
         m.c * s{comp}.s * s{comp}.s - num{comp}.t * a.val * b.val AS c
  FROM {mat} m, s{comp}, num{comp}
  JOIN vr{comp} a ON a.i = m.i JOIN vr{comp} b ON b.i = m.j
),
m{comp + 1} AS MATERIALIZED (
  SELECT i, j,
         CASE WHEN c >= 0 THEN ABS(c) * {DEFL_DSCALE} // d.mx
              ELSE -(ABS(c) * {DEFL_DSCALE} // d.mx) END AS c
  FROM draw{comp}, (SELECT MAX(ABS(c)) AS mx FROM draw{comp}) d
)"""


def _pca_chain_cte(k: int) -> str:
    """The shared CTE body of the top-k PCA lifecycle: quantize -> integer
    covariance -> [power iteration -> polish -> deflation] x k, ending
    with per-vector integer dot products dotp{1..k} and constants
    vconst{1..k}. Used by the projection oracle and the PCA-rerank ANN
    oracle (one definition so the recurrences cannot diverge)."""
    blocks = []
    for comp in range(1, k + 1):
        mat = "covfull" if comp == 1 else f"m{comp}"
        blocks.append(_unrolled_power_sql(comp, mat))
        blocks.append(_orth_polish_sql(comp))
        if comp < k:
            blocks.append(_deflate_sql(comp, mat))
        blocks.append(
            f"""vconst{comp} AS (
  SELECT SUM(vf.val * ds.s) AS const FROM vort{comp} vf JOIN ds ON ds.i = vf.i
),
dotp{comp} AS MATERIALIZED (
  SELECT el.vec_id, SUM(CAST(el.x AS HUGEINT) * vf.val) AS d
  FROM el JOIN vort{comp} vf ON vf.i = el.i
  GROUP BY el.vec_id
)"""
        )
    blocks_sql = ",\n".join(blocks)
    return f"""quant AS MATERIALIZED ({_QUANT_SQL}),
el AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS x FROM quant
),
nv AS (SELECT COUNT(*) AS n FROM quant),
ds AS MATERIALIZED (SELECT i, CAST(SUM(x) AS BIGINT) AS s FROM el GROUP BY i),
pairs AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS sum_prod
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
cov AS MATERIALIZED (
  SELECT p.i, p.j,
         CAST(nv.n * p.sum_prod - si.s * sj.s AS HUGEINT) AS c
  FROM pairs p CROSS JOIN nv
  JOIN ds si ON si.i = p.i
  JOIN ds sj ON sj.i = p.j
),
covfull AS MATERIALIZED (
  SELECT i, j, c FROM cov
  UNION ALL
  SELECT j AS i, i AS j, c FROM cov WHERE i <> j
),
{blocks_sql}"""


def _pca_topk_sql() -> str:
    """The top-k PCA lifecycle as chained CTEs: quantize -> integer
    covariance -> [power iteration -> deflation] x k -> k per-vector
    projections, replaying every truncating division of _pca_topk_ints
    bit-for-bit."""
    k = PCA_TOPK_K
    proj_cols = ",\n".join(
        f"""       CAST(nv.n * d{c}.d - vc{c}.const AS BIGINT) AS proj{c}_num,
       CAST(nv.n * d{c}.d - vc{c}.const AS DOUBLE)
         / CAST(nv.n * {QUANT} * {PCA_SCALE} AS DOUBLE) AS proj{c}"""
        for c in range(1, k + 1)
    )
    joins = "\n".join(
        f"JOIN dotp{c} d{c} ON d{c}.vec_id = q.vec_id CROSS JOIN vconst{c} vc{c}"
        for c in range(1, k + 1)
    )
    return f"""
WITH {_pca_chain_cte(k)}
SELECT q.vec_id, q.label,
{proj_cols}
FROM quant q
CROSS JOIN nv
{joins}
"""


# --- Adaptive-K PCA: variance-explained stopping knee (VERDICT r11 #4) ----
#
# Fixed K is wrong in both directions: isotropic corpora waste compute
# on noise components, strongly low-rank corpora truncate signal. The
# stopping statistic is the deflation's own residual ratio: after
# removing component r, d = c·s² − num·vr vrᵀ, so md/(mx·s²) — the
# post-deflation ∞-norm over the pre-deflation scale — measures how much
# spectral mass the component left behind (≈ λ_{r+1}/λ_r on planted
# eigengap data; ≈ 1 on isotropic noise, which self-normalizes). Keep
# adding components while md·PCA_VAR_RATIO ≥ mx·s² — a PURE INTEGER
# comparison both Python and the HUGEINT oracle replay bit-for-bit —
# capped at PCA_ADAPTIVE_KMAX. Output is LONG format (vec_id, component,
# proj) so the schema is K-independent; the oracle unrolls all KMAX
# chains and gates each component's SELECT on the replayed keep flags.
# Measured on planted spectra (4 seeds, adjacent variance ratios ≥ 0.36,
# noise 0.002): real components score 0.25–1.0, past-the-last components
# 0.008–0.043 — PCA_VAR_RATIO = 8 (threshold 0.125) splits them with
# ≥ 2× margin both ways. The vr truncation (DEFL_VSCALE = 2⁸) floors the
# statistic near ~0.05, so adjacent eigenvalue ratios under ~0.1 are
# inherently unresolvable by this deflation — documented regime, not a
# tuning artifact. The isotropic driver fixtures sit at 0.9–1.0 and
# correctly take the cap.
PCA_ADAPTIVE_KMAX = 4
PCA_VAR_RATIO = 8


def _adaptive_k(stats: list[tuple[int, int, int]]) -> int:
    """1 + the number of LEADING deflations whose residual passes the
    integer knee test md·PCA_VAR_RATIO ≥ mx·s²."""
    k = 1
    for mx, s, md in stats:
        if md * PCA_VAR_RATIO >= mx * s * s:
            k += 1
        else:
            break
    return k


def pca_adaptive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projections onto the corpus's top-K principal
    components with DATA-ADAPTIVE K (variance-explained knee).

    Scale shape: identical to emb_pca_topk — the eigen-solve (and the
    stopping decision) happens on the bounded 2080-row covariance
    reduction driver-side; the K projections are ONE scan-side pass
    (K array folds per row, no extra shuffle); the long-format explode
    multiplies output rows by K ≤ PCA_ADAPTIVE_KMAX, a constant."""
    rows = covariance_stats(spark, sf_dir).collect()  # 2080 rows, bounded
    stats: list[tuple[int, int, int]] = []
    vecs, sums, n = _pca_topk_ints(rows, PCA_ADAPTIVE_KMAX, stats_out=stats)
    k_eff = _adaptive_k(stats)
    den = float(n * QUANT * PCA_SCALE)
    q = _quantized(_emb(spark, sf_dir))
    structs = []
    for c in range(1, k_eff + 1):
        v = vecs[c - 1]
        const = sum(v[j] * sums[j] for j in range(EMB_DIM))
        q = q.withColumn(f"v{c}", F.array([F.lit(x).cast("long") for x in v]))
        pn = (F.lit(n).cast("long") * _dot("q", f"v{c}")).cast("long") - F.lit(
            const
        ).cast("long")
        structs.append(
            F.struct(
                F.lit(c).cast("long").alias("component"),
                pn.alias("proj_num"),
                (pn.cast("double") / F.lit(den)).alias("proj"),
            )
        )
    return q.select(
        "vec_id", "label", F.explode(F.array(*structs)).alias("p")
    ).select("vec_id", "label", "p.component", "p.proj_num", "p.proj")


def _pca_adaptive_sql() -> str:
    """Adaptive-K oracle: the KMAX-component chain plus keep{r} flags
    replaying the integer knee test; each component's projection SELECT
    is gated on all earlier keeps."""
    kmax = PCA_ADAPTIVE_KMAX
    keeps = []
    for r in range(1, kmax):
        mat = "covfull" if r == 1 else f"m{r}"
        keeps.append(
            f"""keep{r} AS (
  SELECT CASE WHEN (SELECT MAX(ABS(c)) FROM draw{r}) * {PCA_VAR_RATIO}
              >= (SELECT MAX(ABS(c)) FROM {mat}) * s.s * s.s
         THEN 1 ELSE 0 END AS k
  FROM s{r} s
)"""
        )
    selects = []
    for c in range(1, kmax + 1):
        gate = " AND ".join(f"(SELECT k FROM keep{r}) = 1" for r in range(1, c))
        where = f"WHERE {gate}" if gate else ""
        selects.append(
            f"""SELECT q.vec_id, q.label, CAST({c} AS BIGINT) AS component,
       CAST(nv.n * d{c}.d - vc{c}.const AS BIGINT) AS proj_num,
       CAST(nv.n * d{c}.d - vc{c}.const AS DOUBLE)
         / CAST(nv.n * {QUANT} * {PCA_SCALE} AS DOUBLE) AS proj
FROM quant q
CROSS JOIN nv
JOIN dotp{c} d{c} ON d{c}.vec_id = q.vec_id CROSS JOIN vconst{c} vc{c}
{where}"""
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH {_pca_chain_cte(kmax)},
{",".join(keeps)}
{union}
"""


# --- MMR: diversity-aware rerank (maximal marginal relevance) -------------
#
# Carbonell & Goldstein (1998): after top-k retrieval, greedily pick the
# item maximizing λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the
# redundancy-penalized selection a retrieval pipeline (or a diverse
# few-shot/example selector over training data) runs on its shortlist.
# Exactly oracle-replayable because every pool is BOUNDED: relevance and
# pairwise sims are the engine's exact integer-dot cosines, λ = 0.7 is
# one double literal (identical parse in Python and DuckDB), each greedy
# step is argmax by (score DESC, neighbor_id ASC), and the oracle
# unrolls all TOP_K selection steps as chained CTEs (anti-join the
# selected set, MAX-join the pairwise sims).
MMR_POOL = 20
MMR_LAMBDA = 0.7
# The redundancy weight is a DELIBERATE exact-double literal, not
# computed as 1 - MMR_LAMBDA (0.30000000000000004 under IEEE754): both
# the Python greedy and the SQL oracle interpolate THESE two constants,
# so changing λ changes both sides together (ADVICE r11).
MMR_ONE_MINUS_LAMBDA = 0.3


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k: MMR over a per-query relevance pool.

    Scale shape: the pool build is the capped-corpus exact scoring of
    the sibling entries (broadcast query block, per-query bounded
    window); the greedy runs per query over ≤ MMR_POOL members and
    ≤ MMR_POOL² pairwise sims — an applyInPandas over query groups whose
    size is a CONSTANT, never corpus-sized."""
    e = _quantized(_emb(spark, sf_dir))
    queries = e.filter(F.col("vec_id") < QUERY_CAP).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("norm_sq").alias("na"),
    )
    corpus = e.filter(F.col("vec_id") < CORPUS_CAP).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
        F.col("norm_sq").alias("nb"),
    )
    pairs = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        "qb",
        "nb",
        _cosine(_dot("qa", "qb"), F.col("na"), F.col("nb")).alias("relevance"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("relevance"), "neighbor_id")
    pool = (
        pairs.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= MMR_POOL)
        .drop("pr")
    )
    pa = pool.select(
        "query_id",
        F.col("neighbor_id").alias("a"),
        F.col("relevance").alias("rel_a"),
        F.col("qb").alias("va"),
        F.col("nb").alias("wa"),
    )
    pb = pool.select(
        "query_id",
        F.col("neighbor_id").alias("b"),
        F.col("qb").alias("vb"),
        F.col("nb").alias("wb"),
    )
    rows = (
        pa.join(pb, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "rel_a",
            "b",
            _cosine(_dot("va", "vb"), F.col("wa"), F.col("wb")).alias("sim"),
        )
        # a pool of one member has no pairs: keep the member via union
        .unionByName(
            pa.select(
                "query_id",
                "a",
                "rel_a",
                F.lit(None).cast("long").alias("b"),
                F.lit(None).cast("double").alias("sim"),
            )
        )
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = {}
        sims = {}
        for r in pdf.itertuples(index=False):
            rel[int(r.a)] = float(r.rel_a)
            if r.b == r.b and r.b is not None:  # not NaN/None
                sims[(int(r.a), int(r.b))] = float(r.sim)
        qid = int(pdf["query_id"].iloc[0])
        selected: list[int] = []
        out = []
        for rank in range(1, TOP_K + 1):
            best = None
            best_score = None
            for d in sorted(rel):
                if d in selected:
                    continue
                if not selected:
                    score = rel[d]
                else:
                    ms = max(sims[(d, s)] for s in selected)
                    score = MMR_LAMBDA * rel[d] - MMR_ONE_MINUS_LAMBDA * ms
                if best is None or score > best_score:
                    best, best_score = d, score
            if best is None:
                break
            selected.append(best)
            out.append((qid, rank, best, rel[best], best_score))
        return pd.DataFrame(
            out,
            columns=["query_id", "rank", "neighbor_id", "relevance", "mmr_score"],
        )

    return rows.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, rank long, neighbor_id long, relevance double, mmr_score double",
    )


def _mmr_sql() -> str:
    steps = []
    prev_sel = "SELECT query_id, neighbor_id FROM s1"
    for t in range(2, TOP_K + 1):
        steps.append(
            f"""sel{t} AS ({prev_sel}),
c{t} AS (
  SELECT p.query_id, p.neighbor_id, p.relevance,
         CAST({MMR_LAMBDA} AS DOUBLE) * p.relevance
           - CAST({MMR_ONE_MINUS_LAMBDA} AS DOUBLE) * MAX(ps.sim) AS mmr_score
  FROM pool p
  LEFT JOIN sel{t} x
    ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
  JOIN psim ps ON ps.query_id = p.query_id AND ps.a = p.neighbor_id
  JOIN sel{t} s ON s.query_id = ps.query_id AND s.neighbor_id = ps.b
  WHERE x.neighbor_id IS NULL
  GROUP BY p.query_id, p.neighbor_id, p.relevance
),
s{t} AS (
  SELECT query_id, neighbor_id, relevance, mmr_score, {t} AS rank
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY mmr_score DESC, neighbor_id) AS rn
        FROM c{t})
  WHERE rn = 1
)"""
        )
        prev_sel += f" UNION ALL SELECT query_id, neighbor_id FROM s{t}"
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, rank, neighbor_id, relevance, mmr_score FROM s{t}"
        for t in range(1, TOP_K + 1)
    )
    steps_sql = ",\n".join(steps)
    return f"""
WITH quant AS ({_QUANT_SQL}),
normed AS MATERIALIZED ({_NORM_SQL}),
rel AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         b.q AS vq, b.norm_sq AS vn,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS relevance
  FROM normed a JOIN normed b ON a.vec_id < {QUERY_CAP} AND b.vec_id < {CORPUS_CAP}
   AND a.vec_id <> b.vec_id
),
pool AS MATERIALIZED (
  SELECT query_id, neighbor_id, vq, vn, relevance
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY relevance DESC, neighbor_id) AS pr
        FROM rel)
  WHERE pr <= {MMR_POOL}
),
psim AS MATERIALIZED (
  SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
         CAST(list_sum(list_transform(list_zip(p1.vq, p2.vq), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(p1.vn AS DOUBLE)) * sqrt(CAST(p2.vn AS DOUBLE))) AS sim
  FROM pool p1 JOIN pool p2
    ON p1.query_id = p2.query_id AND p1.neighbor_id <> p2.neighbor_id
),
s1 AS (
  SELECT query_id, neighbor_id, relevance, relevance AS mmr_score, 1 AS rank
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY relevance DESC, neighbor_id) AS rn
        FROM pool)
  WHERE rn = 1
),
{steps_sql}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rank AS BIGINT) AS rank,
       neighbor_id, relevance, mmr_score
FROM ({union})
"""


# --- PCA-rerank ANN: dimensionality-reduced coarse filter + exact rerank --
#
# The retrieval shape PCA exists for: the coarse pass scans THREE int64
# coordinates per vector (the top-3 PC dot products — 24 bytes, vs the
# 64-float embedding's 256: a real column-pruning win at 100 TB) and
# keeps the RERANK_COARSE_C most-similar per query by PC-space COSINE
# (the same metric the rerank uses — an L2 coarse filter misses
# high-cosine neighbors at different radii; measured recall 0.72 → the
# cosine form clears 0.9 on planted low-rank data); only those
# candidates are scored with the exact 64-dim cosine. Deterministic
# end-to-end: coordinates are exact int64 (q·v); the coarse cosine is
# ONE fixed-order float64 expression (both engines convert int64→double
# round-to-nearest and apply the same IEEE ops, sqrt is correctly
# rounded), zero-norm coordinates pin to -2.0, ties break by
# neighbor_id, and the oracle replays the whole lifecycle — covariance →
# deflated components → coordinates → coarse top-C → exact rerank — as
# one CTE chain.
RERANK_COARSE_C = 64


def ann_pca_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via PCA coarse filter + exact cosine rerank.

    Scale shape: the eigen-solve is the bounded 2080-row driver reduction
    (shared with emb_pca_topk); the coarse pass is ONE Arrow-batched scan
    emitting ≤ |queries|·C rows per batch (per-batch exact top-C — the
    global top-C is contained in the union of per-batch top-Cs); the
    global top-C uses the salted two-phase kernel (no corpus-sized
    single-query window); the rerank touches only |queries|·C vectors."""
    from .ranking import scalable_topk_per_group

    rows = covariance_stats(spark, sf_dir).collect()  # 2080 rows, bounded
    vecs, _sums, _n = _pca_topk_ints(rows, PCA_TOPK_K)
    vmat = np.array(vecs, dtype=np.int64)  # k×64
    e = _quantized(_emb(spark, sf_dir))
    qpdf = e.filter(F.col("vec_id") < QUERY_CAP).select("vec_id", "q").toPandas()
    qids = qpdf["vec_id"].to_numpy(np.int64)
    qcoords = np.vstack(qpdf["q"].values).astype(np.int64) @ vmat.T
    bc = spark.sparkContext.broadcast((qids, qcoords, vmat))
    c_top = RERANK_COARSE_C

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qc_, vmat_ = bc.value
        qf = qc_.astype(np.float64)
        qn = qf[:, 0] ** 2 + qf[:, 1] ** 2 + qf[:, 2] ** 2
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            cf = (np.vstack(pdf["q"].values).astype(np.int64) @ vmat_.T).astype(
                np.float64
            )
            cn = cf[:, 0] ** 2 + cf[:, 1] ** 2 + cf[:, 2] ** 2
            # fixed-order expressions — the oracle replays them verbatim
            dot = (
                cf[:, None, 0] * qf[None, :, 0]
                + cf[:, None, 1] * qf[None, :, 1]
                + cf[:, None, 2] * qf[None, :, 2]
            )
            den = np.sqrt(cn[:, None] * qn[None, :])
            cs = np.where(den == 0.0, -2.0, dot / np.where(den == 0.0, 1.0, den))
            cs = np.where(ids[:, None] == qids_[None, :], -np.inf, cs)
            out_q, out_n, out_d = [], [], []
            for j in range(len(qids_)):
                order = np.lexsort((ids, -cs[:, j]))[:c_top]
                keep = order[np.isfinite(cs[order, j])]
                out_q.append(np.full(len(keep), qids_[j], dtype=np.int64))
                out_n.append(ids[keep])
                out_d.append(cs[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "csim": np.concatenate(out_d),
                }
            )

    partials = e.select("vec_id", "q").mapInPandas(
        batches, "query_id long, neighbor_id long, csim double"
    )
    topc = scalable_topk_per_group(
        partials,
        ["query_id"],
        [F.desc("csim"), F.asc("neighbor_id")],
        c_top,
        salt_on="neighbor_id",
    )
    return _topk_over_candidates(
        spark, _emb(spark, sf_dir), topc.select("query_id", "neighbor_id"), sf_dir=sf_dir
    )


def _pca_rerank_sql() -> str:
    """The PCA-rerank lifecycle oracle: the shared PCA chain (covariance →
    deflated components → per-vector integer dot products) feeds the
    coarse distance / top-C / exact-cosine-rerank replay."""
    k = PCA_TOPK_K
    coord_cols = ", ".join(
        f"CAST(d{c}.d AS BIGINT) AS p{c}" for c in range(1, k + 1)
    )
    coord_joins = "\n".join(
        f"JOIN dotp{c} d{c} ON d{c}.vec_id = q.vec_id" for c in range(1, k + 1)
    )
    dot = " + ".join(
        f"CAST(co.p{c} AS DOUBLE) * CAST(qc.p{c} AS DOUBLE)"
        for c in range(1, k + 1)
    )
    nexpr = lambda t: " + ".join(  # noqa: E731
        f"CAST({t}.p{c} AS DOUBLE) * CAST({t}.p{c} AS DOUBLE)"
        for c in range(1, k + 1)
    )
    return f"""
WITH {_pca_chain_cte(k)},
normed AS ({_NORM_SQL}),
coords AS MATERIALIZED (
  SELECT q.vec_id, {coord_cols}
  FROM quant q
{coord_joins}
),
coarse AS (
  SELECT qc.vec_id AS query_id, co.vec_id AS neighbor_id,
         CASE WHEN sqrt(({nexpr('co')}) * ({nexpr('qc')})) = 0.0 THEN -2.0
              ELSE ({dot}) / sqrt(({nexpr('co')}) * ({nexpr('qc')}))
         END AS csim
  FROM coords qc JOIN coords co
    ON qc.vec_id < {QUERY_CAP} AND co.vec_id <> qc.vec_id
),
topc AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, neighbor_id) AS cr
        FROM coarse)
  WHERE cr <= {RERANK_COARSE_C}
),
rerank AS (
  SELECT t.query_id, t.neighbor_id,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
           / (sqrt(CAST(b.norm_sq AS DOUBLE)) * sqrt(CAST(a.norm_sq AS DOUBLE))) AS cosine
  FROM topc t
  JOIN normed a ON a.vec_id = t.query_id
  JOIN normed b ON b.vec_id = t.neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
       cosine
FROM rerank
QUALIFY rank <= {TOP_K}
"""


# Incremental PCA maintenance: the standing corpus's integer Gram/sum
# state (vec_id < PCA_INCR_SPLIT — the ivf_incremental split convention)
# is built once and memoized (the persisted statistics table a real
# pipeline stores next to the corpus); each batch pass reduces ONLY the
# batch vectors (cost ∝ batch), merges the integer sums driver-side —
# Gram partials are ADDITIVE, so the merged state is EXACTLY the
# full-corpus statistics, not an approximation — re-solves the 64×64
# eigenproblem, and projects the BATCH rows onto the refreshed
# component. The oracle is the full-lifecycle PCA replay restricted to
# batch rows, certifying incremental ≡ full-rebuild bit-for-bit.
PCA_INCR_SPLIT = IVF_INCR_SPLIT


def pca_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    standing = _memoized(
        "pca_standing",
        spark,
        sf_dir,
        lambda: _gram_agg(e.filter(F.col("vec_id") < PCA_INCR_SPLIT)),
    ).collect()  # 2080 rows, bounded
    batch = e.filter(F.col("vec_id") >= PCA_INCR_SPLIT)
    merged: dict[tuple[int, int], tuple[int, int, int, int]] = {}
    for rows in (standing, _gram_agg(batch).collect()):
        for r in rows:
            k = (r["i"], r["j"])
            n, si, sj, sp = merged.get(k, (0, 0, 0, 0))
            merged[k] = (
                n + r["n"],
                si + r["sum_i"],
                sj + r["sum_j"],
                sp + r["sum_prod"],
            )
    rows = [
        {"i": i, "j": j, "n": n, "sum_i": si, "sum_j": sj, "cov_num": n * sp - si * sj}
        for (i, j), (n, si, sj, sp) in merged.items()
    ]
    v, sums, n = _pca_eigvec_ints(rows)
    const = sum(v[j] * sums[j] for j in range(EMB_DIM))
    den = float(n * QUANT * PCA_SCALE)
    vlit = F.array([F.lit(x).cast("long") for x in v])
    q = _quantized(batch)
    proj_num = (F.lit(n).cast("long") * _dot("q", "v")).cast("long") - F.lit(
        const
    ).cast("long")
    return q.withColumn("v", vlit).select(
        "vec_id",
        "label",
        proj_num.alias("proj_num"),
        (proj_num.cast("double") / F.lit(den)).alias("proj"),
    )


def _pca_sql(batch_only: bool = False, batch_where: str | None = None) -> str:
    """The full PCA lifecycle as chained CTEs: quantize → integer
    covariance → PCA_ROUNDS unrolled power-iteration rounds (HUGEINT) →
    sign canonicalization → per-vector projection.  With ``batch_only``
    (or an explicit ``batch_where`` predicate — the streaming fold's
    even/odd split) the final projection is restricted to the batch
    rows — the STATISTICS still come from the whole corpus, which is
    exactly what Gram additivity guarantees for the merged state."""
    rounds = []
    for r in range(1, PCA_ROUNDS + 1):
        rounds.append(
            f"""w{r} AS MATERIALIZED (
  SELECT cf.i, SUM(cf.c * v.val) AS w
  FROM covfull cf JOIN v{r - 1} v ON v.i = cf.j
  GROUP BY cf.i
),
v{r} AS MATERIALIZED (
  SELECT i,
         CASE WHEN w >= 0 THEN ABS(w) * {PCA_SCALE} // m.mx
              ELSE -(ABS(w) * {PCA_SCALE} // m.mx) END AS val
  FROM w{r}, (SELECT MAX(ABS(w)) AS mx FROM w{r}) m
)"""
        )
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH quant AS MATERIALIZED ({_QUANT_SQL}),
el AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS x FROM quant
),
nv AS (SELECT COUNT(*) AS n FROM quant),
ds AS MATERIALIZED (SELECT i, CAST(SUM(x) AS BIGINT) AS s FROM el GROUP BY i),
pairs AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS sum_prod
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
cov AS MATERIALIZED (
  SELECT p.i, p.j,
         CAST(nv.n * p.sum_prod - si.s * sj.s AS HUGEINT) AS c
  FROM pairs p CROSS JOIN nv
  JOIN ds si ON si.i = p.i
  JOIN ds sj ON sj.i = p.j
),
covfull AS MATERIALIZED (
  SELECT i, j, c FROM cov
  UNION ALL
  SELECT j AS i, i AS j, c FROM cov WHERE i <> j
),
v0 AS (SELECT i, CAST({PCA_SCALE} AS HUGEINT) AS val
       FROM range(1, {EMB_DIM + 1}) t(i)),
{rounds_sql},
sgn AS (
  SELECT CASE WHEN (SELECT val FROM v{PCA_ROUNDS}
                    ORDER BY ABS(val) DESC, i ASC LIMIT 1) < 0
              THEN -1 ELSE 1 END AS s
),
vfin AS MATERIALIZED (
  SELECT i, val * sgn.s AS val FROM v{PCA_ROUNDS}, sgn
),
vconst AS (
  SELECT SUM(vf.val * ds.s) AS const FROM vfin vf JOIN ds ON ds.i = vf.i
),
dotp AS (
  SELECT el.vec_id, SUM(CAST(el.x AS HUGEINT) * vf.val) AS d
  FROM el JOIN vfin vf ON vf.i = el.i
  GROUP BY el.vec_id
)
SELECT q.vec_id, q.label,
       CAST(nv.n * dp.d - vc.const AS BIGINT) AS proj_num,
       CAST(nv.n * dp.d - vc.const AS DOUBLE)
         / CAST(nv.n * {QUANT} * {PCA_SCALE} AS DOUBLE) AS proj
FROM quant q
JOIN dotp dp ON dp.vec_id = q.vec_id
CROSS JOIN nv CROSS JOIN vconst vc
{f"WHERE {batch_where}" if batch_where else (f"WHERE q.vec_id >= {PCA_INCR_SPLIT}" if batch_only else "")}
"""


registry.register("emb_quantize_int8", quantize_int8, QUANTIZE_INT8_SQL)
registry.register("emb_covariance_stats", covariance_stats, COVARIANCE_SQL)
registry.register("emb_pca_project", pca_project, _pca_sql())
registry.register("emb_pca_incremental", pca_incremental, _pca_sql(batch_only=True))
registry.register("emb_pca_topk", pca_topk, _pca_topk_sql())
registry.register("emb_pca_adaptive_topk", pca_adaptive_topk, _pca_adaptive_sql())
registry.register("sim_ann_pca_rerank", ann_pca_rerank, _pca_rerank_sql())
registry.register("sim_mmr_rerank", mmr_rerank, _mmr_sql())
registry.register("emb_split_contamination", split_contamination, SPLIT_CONTAM_SQL)
registry.register(
    "emb_multi_benchmark_contamination",
    multi_benchmark_contamination,
    MULTI_BENCH_CONTAM_SQL,
)
registry.register(
    "emb_contamination_incremental", contamination_incremental, CONTAM_INCR_SQL
)
registry.register("sim_ann_lsh_topk", ann_lsh_topk, _lsh_topk_sql())
registry.register("sim_ann_lsh_multiprobe", ann_lsh_multiprobe, _lsh_multiprobe_sql())
registry.register("sim_ann_ivf_topk", ann_ivf_topk, _ivf_topk_sql())
registry.register("sim_ann_ivf_filtered", ann_ivf_filtered, _ivf_topk_sql(label_filtered=True))
registry.register("sim_ann_ivf_recall", ann_ivf_recall, IVF_RECALL_SQL)
registry.register("sim_ann_ivf_probe_sweep", ann_ivf_probe_sweep, _ivf_probe_sweep_sql)
registry.register(
    "sim_ann_ivf_recall_uncapped", ann_ivf_recall_uncapped, IVF_RECALL_UNCAPPED_SQL
)
registry.register("sim_ann_ivf_incremental", ann_ivf_incremental, IVF_INCREMENTAL_SQL)
registry.register("sim_ann_pq_recall", ann_pq_recall, PQ_RECALL_SQL)
registry.register("sim_embedding_near_dup", embedding_near_dup, NEAR_DUP_SQL)
# lazy: _semantic_text_sql imports dedup (cycle-breaking, see registry)
registry.register("sim_semantic_text_neardup", semantic_text_neardup, _semantic_text_sql)
registry.register("emb_label_centroids", label_centroids, LABEL_CENTROIDS_SQL)
