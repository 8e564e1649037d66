"""Driver-registry entries for the streaming folds (VERDICT r11 #6).

The streaming modules' foreachBatch folds are pytest-certified for
drain / replay-idempotence / checkpoint recovery
(tests/test_streaming_bm25.py, tests/test_streaming_pca.py); these
entries put the FOLD ARITHMETIC itself under the DuckDB differential
gate. Each plays the corpus through the fold in two deterministic
epochs (the even/odd split below) and returns the second epoch's
output; the oracle is the BATCH kernel over the same split:

- BM25 router: epoch-1 docs scored against epoch-0's standing
  statistics — the standing-statistics screen SQL with the even/odd
  split (shared builder with text_bm25_incremental).
- PCA fold: epoch-1 vectors projected onto the component solved from
  the MERGED Gram state. Gram partials are additive over disjoint
  document sets, so the merged two-epoch state IS the full-corpus
  statistics and the oracle is the full-lifecycle PCA replay restricted
  to epoch-1 rows — certifying streaming-fold ≡ full-rebuild
  bit-for-bit, through the driver gate rather than only pytest.
- DSIR screen: epoch-1 docs scored against epoch-0's standing bucket /
  language statistics — the standing-statistics screen SQL with the
  even/odd split (shared builder with docs_dsir_incremental).

State dirs live under ONE session-scoped temp root removed at process
exit; each invocation wipes and recreates its entry's dir, so a call
always starts from fresh state, repeated bench/driver invocations never
accumulate dirs in /tmp (ADVICE r12 #3), and the returned DataFrame's
lazy reads of the state parquet stay valid until the entry's NEXT
invocation (bench and the driver both materialize each entry before
re-invoking it). Playback order is the fold-call sequence, not file
mtimes — the availableNow drain machinery is exercised by the pytest
twins.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import registry
from .clustering import _kmeans_cte_sql, _semdedup_sql
from .dedup import _containment_links_split_sql, _minhash_pairs_sql
from .linkage import MAX_EDIT_DIST
from .quality import EXPECTATIONS_SQL
from .similarity import _emb, _ivf_lists_sql, _pca_sql
from .text import _bm25_split_sql, _docs, _dsir_split_sql

# Replay-state scratch on the fastest local storage available (same
# rationale as the session's spark.local.dir): the two-epoch playback
# writes and re-reads each fold's parquet state within one entry, so
# disk latency lands directly on the measured wall. Env-overridable;
# falls back to the default tempdir when /dev/shm is absent.
_STATE_ROOT = tempfile.mkdtemp(
    prefix="nrtdw_stream_folds_",
    dir=os.environ.get("SPARK_GRAFT_FOLD_STATE_DIR")
    or ("/dev/shm" if os.path.isdir("/dev/shm") else None),
)
atexit.register(shutil.rmtree, _STATE_ROOT, ignore_errors=True)


def _fresh_state(name: str) -> str:
    """Per-entry state dir under the session root: wiped on every call
    (fresh-state determinism), removed with the root at process exit."""
    path = os.path.join(_STATE_ROOT, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def stream_bm25_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming BM25 ingestion router
    (streaming/bm25_stream.py): even docs fold in as the cold-start
    index build, odd docs arrive as the next batch and are routed
    against the standing statistics. Returns the batch epoch's routing.

    Scale shape: the fold's per-epoch state is bounded (per-term df
    partials + one totals row); scoring is the broadcast-join screen of
    text_bm25_incremental, cost ∝ batch after the standing stats pass."""
    from ..streaming.bm25_stream import SCORE_SCHEMA, merge_bm25_batch

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    state = _fresh_state("bm25")
    merge_bm25_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 0), state, epoch_id=0
    )
    out = merge_bm25_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), state, epoch_id=1
    )
    if out is None:
        return spark.createDataFrame([], SCORE_SCHEMA)
    return out


def stream_pca_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming PCA maintenance fold
    (streaming/pca_stream.py): even vectors bootstrap the Gram state,
    odd vectors merge with it and project onto the refreshed component.
    Because Gram sums are additive over the disjoint epochs, the merged
    state equals the full-corpus statistics exactly — the oracle is the
    full PCA lifecycle restricted to the odd rows.

    Scale shape: each epoch reduces to the bounded 2080-row integer
    Gram partial (one Arrow matmul per batch); the eigen-solve is the
    32 KB driver reduction; the projection is one scan-side pass over
    the batch."""
    from ..streaming.pca_stream import SCORE_SCHEMA, merge_pca_batch

    e = _emb(spark, sf_dir).select("vec_id", "embedding", "label")
    state = _fresh_state("pca")
    merge_pca_batch(spark, e.filter(F.col("vec_id") % 2 == 0), state, epoch_id=0)
    out = merge_pca_batch(
        spark, e.filter(F.col("vec_id") % 2 == 1), state, epoch_id=1
    )
    if out is None:
        return spark.createDataFrame([], SCORE_SCHEMA)
    return out


def stream_dsir_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming DSIR maintenance fold
    (streaming/dsir_stream.py): even docs bootstrap the bucket/language
    statistics, odd docs arrive as the next batch and are screened
    against the standing distribution. Returns the batch epoch's scores.

    Scale shape: the fold's state is the bounded DSIR_BUCKETS stat
    table + one row per language per epoch; batch scoring joins the
    batch's hashed features against the broadcast bucket stats,
    cost ∝ batch."""
    from ..streaming.dsir_stream import SCORE_SCHEMA, merge_dsir_batch

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    state = _fresh_state("dsir")
    merge_dsir_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 0), state, epoch_id=0
    )
    out = merge_dsir_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), state, epoch_id=1
    )
    if out is None:
        return spark.createDataFrame([], SCORE_SCHEMA)
    return out


def stream_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming k-means domain fold
    (streaming/kmeans_stream.py): even vectors train the centroid state
    (full exact Lloyd on the first batch — the standing corpus) and are
    assigned against it; odd vectors arrive as the next batch and are
    assigned against the SAME stored state (never a retrain). Returns
    the maintained membership over both epochs; the oracle replays the
    Lloyd chain with the training corpus restricted to the even split
    and the final assignment over ALL vectors.

    Scale shape: training is the bounded Lloyd reduction on the first
    epoch only; every later batch is one Arrow-batched assignment pass
    against the broadcast K×64 centroid state, cost ∝ batch."""
    from ..streaming.kmeans_stream import merge_kmeans_batch, read_kmeans_state

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    state = _fresh_state("kmeans")
    merge_kmeans_batch(spark, e.filter(F.col("vec_id") % 2 == 0), state, epoch_id=0)
    merge_kmeans_batch(spark, e.filter(F.col("vec_id") % 2 == 1), state, epoch_id=1)
    return read_kmeans_state(spark, state)


def stream_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming SemDedup fold
    (streaming/semdedup_stream.py): even vectors train the centroids and
    pair among themselves; odd vectors are assigned against the stored
    state and paired against their clusters' standing members plus
    themselves. The union over epochs is exactly the within-cluster
    canonical (a<b) pair set under the even-trained centroids — the
    batch SemDedup SQL with the training corpus split.

    Scale shape: per batch, pairing cost ∝ batch members × touched
    clusters' standing members (the skew-capped block split of the
    batch kernel), never |cluster|² per epoch."""
    from ..streaming.semdedup_stream import merge_semdedup_batch, read_semdedup_pairs

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    state = _fresh_state("semdedup")
    merge_semdedup_batch(spark, e.filter(F.col("vec_id") % 2 == 0), state, epoch_id=0)
    merge_semdedup_batch(spark, e.filter(F.col("vec_id") % 2 == 1), state, epoch_id=1)
    return read_semdedup_pairs(spark, state)


def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming near-dup graph fold
    (streaming/dedup_stream.py): even docs build the standing LSH state,
    odd docs arrive as the next batch; returns the batch epoch's
    verified NEW pairs — band collisions with ≥ 1 odd endpoint, true-
    Jaccard-verified against the full shingle store. The oracle is the
    MinHash-LSH pairs replay with that endpoint restriction pushed into
    the candidate join.

    Scale shape: candidates are batch-bands × all-bands (∝ batch
    collisions, never corpus×corpus); verification is semi-filtered to
    candidate-touched docs."""
    from ..streaming.dedup_stream import merge_dedup_batch

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    state = _fresh_state("dedup")
    merge_dedup_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), state, epoch_id=0)
    out = merge_dedup_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), state, epoch_id=1
    )
    if out is None:
        return spark.createDataFrame([], "doc_a long, doc_b long")
    return out


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming data-quality gate
    (streaming/quality_stream.py): lineitem split by order-key parity,
    folded as two batches against the static orders parent. The drained
    state is bit-equal to the batch expectation suite over the full
    table (rule counts are associative sums, samples are MIN over
    epochs, PK uniqueness groups the per-epoch key counts), so the
    oracle is the batch gate's SQL UNCHANGED — the strongest form of
    the stream ≡ batch contract.

    Scale shape: per batch, one conditional-aggregate scan + one
    stream-static anti join; standing state ∝ distinct PK keys (the
    irreducible uniqueness state)."""
    from ..sources.testdata import load_table
    from ..streaming.quality_stream import merge_quality_batch, read_quality_state

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    state = _fresh_state("quality")
    merge_quality_batch(
        spark, li.filter(F.col("l_orderkey") % 2 == 0), orders, state, epoch_id=0
    )
    merge_quality_batch(
        spark, li.filter(F.col("l_orderkey") % 2 == 1), orders, state, epoch_id=1
    )
    return read_quality_state(spark, state, orders)


def stream_containment_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming containment fold
    (streaming/containment_stream.py): even docs build the rare-shingle
    posting state and pair among themselves under the even-only df;
    odd docs arrive as the next batch and pair against the full corpus
    under the full df. Returns the monotone discovery log — for this
    deterministic two-epoch split the log is EXACTLY the union of the
    two per-epoch pair sets, which the oracle replays with the same two
    df snapshots.

    Scale shape: per batch, candidates = batch postings × standing
    postings on currently-rare shingles (df-capped posting lists, never
    all-pairs); verification is semi-filtered to candidate-touched
    docs."""
    from ..streaming.containment_stream import (
        merge_containment_batch,
        read_containment_links,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    state = _fresh_state("containment")
    merge_containment_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 0), state, epoch_id=0
    )
    merge_containment_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), state, epoch_id=1
    )
    return read_containment_links(spark, state)


def stream_ivf_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming IVF index fold
    (streaming/ivf_stream.py): even vectors train the centroid matrix
    (bounded deterministic sample + integer Lloyd) and enter the
    inverted lists; odd vectors are assigned against the SAME stored
    centroids. Returns the maintained list membership; the oracle
    replays the training chain restricted to the even split and the
    assignment over all vectors (shared CTEs with the full-lifecycle
    _ivf_topk_sql).

    Scale shape: training state is the bounded sample (∝ √corpus);
    every batch is one Arrow-batched assignment pass, cost ∝ batch."""
    from ..streaming.ivf_stream import merge_ivf_batch, read_ivf_state

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    state = _fresh_state("ivf")
    merge_ivf_batch(spark, e.filter(F.col("vec_id") % 2 == 0), state, epoch_id=0)
    merge_ivf_batch(spark, e.filter(F.col("vec_id") % 2 == 1), state, epoch_id=1)
    return read_ivf_state(spark, state)


def stream_linkage_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch playback of the streaming record-linkage fold
    (streaming/linkage_stream.py): even parts' names self-link, odd
    parts' names link against the standing ∪ batch name set. Pairing is
    at distinct-NAME level, so the union over epochs is exactly the
    full-catalog blocked-Levenshtein pair set (a name appearing only in
    even rows is in the standing state when any odd partner arrives) —
    the batch kernel's SQL over distinct names, multiplicities dropped
    as the fold's link log drops them.

    Scale shape: per batch, candidates = batch names × same-block
    standing names (value-cardinality bounded, never row-level);
    state×state pairs are never recomputed."""
    from ..sources.testdata import load_table
    from ..streaming.linkage_stream import merge_linkage_batch, read_linkage_state

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    state = _fresh_state("linkage")
    merge_linkage_batch(
        spark, p.filter(F.col("p_partkey") % 2 == 0), state, epoch_id=0
    )
    merge_linkage_batch(
        spark, p.filter(F.col("p_partkey") % 2 == 1), state, epoch_id=1
    )
    _names, links = read_linkage_state(spark, state)
    return links


STREAM_BM25_SQL = _bm25_split_sql("doc_id % 2 = 1")
# label cast mirrors the fold's long-typed score schema
STREAM_PCA_SQL = f"""
SELECT vec_id, CAST(label AS BIGINT) AS label, proj_num, proj
FROM ({_pca_sql(batch_where="q.vec_id % 2 = 1")})
"""

STREAM_DSIR_SQL = _dsir_split_sql("doc_id % 2 = 1")

STREAM_KMEANS_SQL = f"""{_kmeans_cte_sql("vec_id % 2 = 0", assign_all=True)}
SELECT vec_id, cluster_id, CAST(dist_sq AS BIGINT) AS dist_sq
FROM final_assign
"""

STREAM_SEMDEDUP_SQL = _semdedup_sql("vec_id % 2 = 0")

STREAM_DEDUP_SQL = _minhash_pairs_sql(
    "a.doc_id % 2 = 1 OR b.doc_id % 2 = 1", with_jaccard=False
)

registry.register("stream_bm25_router", stream_bm25_router, STREAM_BM25_SQL)
registry.register("stream_pca_fold", stream_pca_fold, STREAM_PCA_SQL)
registry.register("stream_dsir_screen", stream_dsir_screen, STREAM_DSIR_SQL)
STREAM_CONTAINMENT_SQL = _containment_links_split_sql()

STREAM_IVF_SQL = _ivf_lists_sql("vec_id % 2 = 0")

STREAM_LINKAGE_SQL = f"""
WITH names AS (
  SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS block
  FROM part
),
pairs AS (
  SELECT a.block, LEAST(a.p_name, b.p_name) AS name_a,
         GREATEST(a.p_name, b.p_name) AS name_b
  FROM names a JOIN names b
    ON a.block = b.block AND a.p_name < b.p_name
   AND abs(length(a.p_name) - length(b.p_name)) <= {MAX_EDIT_DIST}
)
SELECT DISTINCT block, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS distance
FROM pairs
WHERE levenshtein(name_a, name_b) <= {MAX_EDIT_DIST}
"""

registry.register("stream_kmeans_assign", stream_kmeans_assign, STREAM_KMEANS_SQL)
registry.register("stream_semdedup_pairs", stream_semdedup_pairs, STREAM_SEMDEDUP_SQL)
registry.register("stream_dedup_pairs", stream_dedup_pairs, STREAM_DEDUP_SQL)
registry.register("stream_quality_gate", stream_quality_gate, EXPECTATIONS_SQL)
registry.register(
    "stream_containment_links", stream_containment_links, STREAM_CONTAINMENT_SQL
)
registry.register("stream_ivf_lists", stream_ivf_lists, STREAM_IVF_SQL)
registry.register("stream_linkage_links", stream_linkage_links, STREAM_LINKAGE_SQL)
