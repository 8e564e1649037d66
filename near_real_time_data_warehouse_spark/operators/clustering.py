"""K-means domain clustering over the ``embeddings`` table.

The clustering step of a training-data mixing pipeline (SemDedup-style
semantic bucketing / DoReMi-style domain discovery): partition the corpus
into K latent domains by embedding geometry, then reweight, filter, or
dedup per domain. The reference warehouse has no clustering operator —
this belongs to the LLM-pipeline brief, alongside the mixture
(docs_mixture_unimax) and perplexity-bucket entries it composes with.

Determinism design (the repo's standard exact-integer discipline,
similarity.py:19-23): embeddings are quantized once to integer
micro-units, and the centroid STATE is also integer micro-units —
after every Lloyd update the per-dimension mean is rounded back to a
micro-unit integer (one IEEE double division + one half-away-from-zero
round per dimension, the exact arithmetic `_QUANT_SQL` already proves
portable). Distances are then pure int64 ``Σ (q_i − m_i)²`` — no
floating-point accumulation anywhere, so Spark, numpy, and the DuckDB
oracle agree bit-for-bit on every assignment of every round, and ties
break on the smaller cluster id in all three.

Scale shape (100 TB): each Lloyd round is ONE corpus scan — an
Arrow-batched ``mapInPandas`` kernel does the exact int64 matmul
against the broadcast K×64 centroid matrix and emits per-batch
PARTIAL sums (K rows of 64 integer sums + a count per batch), so the
only shuffle per round is K × (EMB_DIM + 2) scalars per input
partition — map-side-combined by construction, independent of corpus
size. Driver state is the K×64 integer centroid matrix (bounded);
rounds are fixed (KMEANS_ROUNDS). Empty clusters drop out of the
state, exactly as in the SQL twin. The one-time init reads K vectors
chosen by md5 order (deterministic, content-independent spread).

Overflow audit: |q_i| ≤ ~6e4 micro-units ⇒ per-term (q_i − m_i)² ≤
1.5e10, ×64 dims < 1e12 ≪ 2^63 — int64-exact at ANY corpus size
(centroids are means, never sums, so nothing grows with N).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..profile import BYTES_PER_TASK, driver_rows
from . import registry
from .similarity import (
    _knee_scale,
    _knee_sql,
    _round_half_away,
    EMB_DIM,
    QUANT,
    _QUANT_SQL,
    _emb,
    _memoized,
    _quant_np,
)

K_CLUSTERS = 8      # latent domains at/below the corpus-size knee
KMEANS_ROUNDS = 4   # Lloyd updates (fixed — the oracle chains one CTE block each)
# Knee for the domain count (the standard √N discipline _plane_depth and
# _ivf_centroids already follow): a FIXED K=8 at 100 TB would average
# corpora of billions of documents into 8 means — domain discovery wants
# K to grow with corpus character. Below the knee (every oracle-tested
# SF) the construction is bit-identical to the static one; above it K
# doubles per 4× the corpus. Per-round cost stays ONE corpus scan — the
# shuffle is K(n)×(EMB_DIM+2) scalars per partition, still
# corpus-size-independent, and driver state stays a K×64 int matrix.
KMEANS_TARGET_N = 8192


def _k_clusters(n: int) -> int:
    """Domain count for an n-vector corpus: static K_CLUSTERS up to the
    knee, then ∝ √corpus (doubling per 4× the corpus)."""
    return _knee_scale(n, K_CLUSTERS, KMEANS_TARGET_N)


def _init_state_on(e: DataFrame, n: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """K seed centroids: the quantized vectors of the K vec_ids that sort
    first by md5(vec_id) — deterministic and content-independent (id order
    could correlate with generation order; the hash order cannot).
    ``e`` is any (vec_id, embedding) frame — the corpus for the batch
    entries, the first micro-batch for the streaming twin. ``n`` is the
    frame's row count when the caller already paid for it."""
    q = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * QUANT, 0).cast("long")
    )
    k = _k_clusters(e.count() if n is None else n)
    rows = (
        e.select("vec_id", q.alias("q"))
        .withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(k)
        .select("q")
        .collect()
    )
    m = np.array([r["q"] for r in rows], dtype=np.int64)
    return np.arange(len(rows), dtype=np.int64), m


def _dist_matrix(x: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Exact int64 squared euclidean distances, (n, k): Σ(q−m)² expanded
    as xx + mm − 2·X@Mᵀ (every term integer, bounds in module docstring)."""
    xx = (x * x).sum(axis=1)
    mm = (m * m).sum(axis=1)
    return xx[:, None] + mm[None, :] - 2 * (x @ m.T)


def _partial_sums(e: DataFrame, ids: np.ndarray, m: np.ndarray) -> DataFrame:
    """One Lloyd half-step as per-batch partials: assign each vector to
    its nearest centroid and emit, per Arrow batch, one row per cluster
    holding (count, per-dim integer sums). The downstream groupBy sums
    K·batches tiny rows — the corpus itself never shuffles."""
    k = len(ids)
    cols = ["cluster_id", "n"] + [f"s{i}" for i in range(EMB_DIM)]
    schema = "cluster_id long, n long, " + ", ".join(
        f"s{i} long" for i in range(EMB_DIM)
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Pre-reduce across the task's WHOLE iterator, not per Arrow
        # batch (ADVICE r13): integer partials are associative, so
        # accumulating here is bit-identical — and it makes "one partial
        # set per task" exact, which both caps the rows the adaptive
        # driver merge collects (K × tasks, no Arrow-batch multiplier)
        # and shrinks the distributed groupBy's shuffle at scale.
        s = np.zeros((k, EMB_DIM), dtype=np.int64)
        n = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in it:
            if pdf.empty:
                continue
            seen = True
            x = _quant_np(pdf["embedding"])
            near = np.argmin(_dist_matrix(x, m), axis=1)  # ties -> lowest id
            np.add.at(s, near, x)
            n += np.bincount(near, minlength=k).astype(np.int64)
        if seen:
            keep = n > 0
            out = np.column_stack([ids[keep], n[keep], s[keep]])
            yield pd.DataFrame(out, columns=cols)

    return e.mapInPandas(batches, schema)


# Above this many rows the trainer runs its distributed Lloyd rounds;
# at or below it, ONE ``driver_rows`` collect (≤ ~35 MB quantized)
# replaces init + KMEANS_ROUNDS actions with the identical numpy
# arithmetic on the driver — the graph kernels' GRAPH_COLLECT_CAP rule
# applied to training, with a smaller cap because each row is a 64-dim
# vector. Each distributed round costs a full job round-trip
# (mapInPandas + reduce + AQE replan) regardless of data size, which
# dominates micro-batch training; a 100 TB corpus exceeds the cap and
# trains distributed. Tests pin driver ≡ distributed by forcing the cap
# to 0.
DRIVER_LLOYD_CAP = 65536


def _train_state_driver(pdf: "pd.DataFrame") -> tuple[np.ndarray, np.ndarray]:
    """The full training loop on a collected (vec_id, embedding) frame —
    bit-identical to the distributed path: same _quant_np quantization
    (the executor kernel's), seed selection replicating _init_state_on's
    ORDER BY md5(cast(vec_id AS string)), vec_id LIMIT k (md5 hex sorts
    the same lexicographically in Spark and Python), and per-round exact
    int64 sums / _round_half_away means (order-insensitive integers, so
    any partitioning — including "all on the driver" — lands on the same
    state)."""
    import hashlib

    n = len(pdf)
    vids = pdf["vec_id"].to_numpy(np.int64)
    x = _quant_np(pdf["embedding"])
    k = _k_clusters(n)
    order = sorted(
        range(n),
        key=lambda i: (hashlib.md5(str(int(vids[i])).encode()).hexdigest(), int(vids[i])),
    )
    m: np.ndarray = x[order[:k]]
    ids = np.arange(len(m), dtype=np.int64)
    for _ in range(KMEANS_ROUNDS):
        near = np.argmin(_dist_matrix(x, m), axis=1)  # ties -> lowest id
        s = np.zeros((len(ids), EMB_DIM), dtype=np.int64)
        np.add.at(s, near, x)
        cnt = np.bincount(near, minlength=len(ids)).astype(np.int64)
        keep = cnt > 0
        ids = ids[keep]
        m = _round_half_away(s[keep].astype(np.float64) / cnt[keep][:, None].astype(np.float64))
    return ids, m


def _train_state_on(e: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Run the full training loop (init + KMEANS_ROUNDS exact Lloyd
    updates) over any (vec_id, embedding) frame.

    Training parallelism is scale-adaptive (opt guide §2): partial sums
    are additive and the per-row argmin is row-local, so the result is
    bit-identical at ANY partitioning — but every Lloyd round pays one
    Python-worker round-trip PER PARTITION. The input arrives at the
    session's parallelism (32 tasks for a 1000-row micro-batch at test
    SFs), so the round loop ran 32 near-empty Arrow kernels per round.
    Coalesce to ~bytes_per_task-sized tasks first (a narrow op, no
    shuffle): test-SF batches collapse to one task per round while a
    100 TB corpus still fans out to thousands.

    Small inputs (micro-batches, test SFs) take the bounded driver fast
    path: one ``driver_rows`` collect instead of count + init + one
    action per round — see DRIVER_LLOYD_CAP."""
    e = e.select("vec_id", "embedding")
    head = driver_rows(e, DRIVER_LLOYD_CAP)
    if head is not None:
        return _train_state_driver(head.to_pandas())
    n = e.count()
    # ~8 B per int64 dim + id, doubled for Arrow/pandas copies.
    rows_per_task = max(1, BYTES_PER_TASK // (16 * (EMB_DIM + 1)))
    n_tasks = max(1, -(-n // rows_per_task))
    e = e.coalesce(n_tasks)
    ids, m = _init_state_on(e, n)
    for _ in range(KMEANS_ROUNDS):
        partials = _partial_sums(e, ids, m)
        # Adaptive reduction level (opt guide §2.4 — remove the exchange
        # outright when it buys nothing): the kernel pre-reduces its
        # whole task iterator, so it emits ≤ K partial rows PER TASK
        # (exact — ADVICE r13's Arrow-batch multiplier is gone), and
        # with few tasks the whole partial set is a bounded driver
        # merge — one stage per round instead of map + exchange + AQE
        # replan + reduce. Past the cap (real corpora) the distributed
        # groupBy does the reduction exactly as before. Integer sums are
        # associative, so both levels produce bit-identical state.
        if len(ids) * n_tasks <= 4096:
            merged: dict[int, tuple] = {}
            for r in partials.collect():
                cid = r["cluster_id"]
                prev = merged.get(cid)
                row = (r["n"], *[r[f"s{i}"] for i in range(EMB_DIM)])
                merged[cid] = (
                    row
                    if prev is None
                    else tuple(a + b for a, b in zip(prev, row))
                )
            agg = [
                {"cluster_id": cid, "n": v[0], **{f"s{i}": v[i + 1] for i in range(EMB_DIM)}}
                for cid, v in merged.items()
            ]
        else:
            agg = (
                partials.groupBy("cluster_id")
                .agg(
                    F.sum("n").alias("n"),
                    *[F.sum(f"s{i}").alias(f"s{i}") for i in range(EMB_DIM)],
                )
                .collect()
            )
        agg.sort(key=lambda r: r["cluster_id"])
        ids = np.array([r["cluster_id"] for r in agg], dtype=np.int64)
        cnt = np.array([r["n"] for r in agg], dtype=np.float64)
        s = np.array([[r[f"s{i}"] for i in range(EMB_DIM)] for r in agg], dtype=np.float64)
        m = _round_half_away(s / cnt[:, None])
    return ids, m


def _trained_state(spark: SparkSession, sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(cluster_ids int64[k], centroid matrix int64[k,64]) per session —
    tiny driver-side trained state, the persisted centroid table a real
    pipeline maintains."""
    return memo.cached(
        spark, "kmeans", ("state", sf_dir), lambda: _train_state_on(_emb(spark, sf_dir))
    )


def _assign_frame(e: DataFrame, ids: np.ndarray, m: np.ndarray) -> DataFrame:
    """(vec_id, cluster_id, dist_sq) for any (vec_id, embedding) frame
    against a given centroid state — the shared assignment kernel of the
    batch entries and the streaming twin."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            x = _quant_np(pdf["embedding"])
            d = _dist_matrix(x, m)
            near = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "cluster_id": ids[near],
                    "dist_sq": d[np.arange(len(near)), near],
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        batches, "vec_id long, cluster_id long, dist_sq long"
    )


def _final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, cluster_id, dist_sq) against the trained state —
    the standing domain-assignment table the mixture/filter entries
    consume. Memoized like the ANN truth tables (similarity._memoized)."""

    def build() -> DataFrame:
        ids, m = _trained_state(spark, sf_dir)

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if pdf.empty:
                    continue
                x = _quant_np(pdf["embedding"])
                d = _dist_matrix(x, m)
                near = np.argmin(d, axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(np.int64),
                        "label": pdf["label"].to_numpy(np.int64),
                        "cluster_id": ids[near],
                        "dist_sq": d[np.arange(len(near)), near],
                    }
                )

        e = _emb(spark, sf_dir).select("vec_id", "label", "embedding")
        return e.mapInPandas(
            batches, "vec_id long, label long, cluster_id long, dist_sq long"
        )

    return _memoized("kmeans_final", spark, sf_dir, build)


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector domain assignment after KMEANS_ROUNDS exact Lloyd
    updates: (vec_id, label, cluster_id, dist_sq)."""
    return _final_assignment(spark, sf_dir)


def kmeans_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain profile: size, label diversity, the dominant source
    label with its count (ties → smaller label), and mean squared
    distance to the centroid (one IEEE division — hash-portable) —
    the table a data-mixing decision actually reads."""
    a = _final_assignment(spark, sf_dir)
    per_label = a.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("n_label")
    )
    w = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.desc("n_label"), "label")
    )
    top = per_label.withColumn("rn", w).filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("label").alias("top_label"),
        F.col("n_label").alias("top_label_n"),
    )
    stats = a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_distinct("label").alias("n_labels"),
        F.sum("dist_sq").alias("_sd"),
    )
    return (
        stats.join(top, "cluster_id")
        .select(
            "cluster_id",
            "n_vecs",
            "n_labels",
            "top_label",
            "top_label_n",
            (F.col("_sd").cast("double") / F.col("n_vecs")).alias("avg_dist_sq"),
        )
    )


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained centroid table itself, one scalar row per (cluster,
    dim) in integer micro-units — with kmeans_assign this fully
    serializes the clustering (same contract shape as
    emb_label_centroids: no array output columns)."""
    ids, m = _trained_state(spark, sf_dir)
    rows = [
        (int(ids[c]), d + 1, int(m[c, d]))
        for c in range(len(ids))
        for d in range(EMB_DIM)
    ]
    return spark.createDataFrame(
        rows, "cluster_id long, dim long, centroid_microunits long"
    )


def kmeans_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixing over LEARNED domains: the waterfill allocation
    (corpus.mixture_waterfill — same budget, same exact integer
    arithmetic) applied to the k-means cluster histogram instead of the
    source-language labels, then materialized by a salted-hash
    threshold on vec_id — the actual SemDedup→DoReMi-style composition
    a training pipeline runs when its mixing domains are discovered
    rather than annotated. Kept rows carry the inverse-rate weight.

    Scale shape: the cluster histogram is K rows; waterfill windows run
    over that tiny table; the rate table broadcasts back onto the
    assignment scan and membership is a scan-local hash filter — the
    corpus-sized path never shuffles beyond the assignment itself."""
    from .corpus import mixture_waterfill

    a = _final_assignment(spark, sf_dir)
    hist = (
        a.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("cluster_id").cast("string").alias("lang"), "c")
    )
    rates = mixture_waterfill(hist).select(
        F.col("lang").cast("long").alias("cluster_id"),
        F.least(F.lit(1000), F.expr("(1000 * alloc) div c")).alias("rate_k"),
    )
    strat = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmix|"), F.col("vec_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1000),
    )
    return (
        a.select("vec_id", "cluster_id", strat.alias("strat"))
        .join(F.broadcast(rates), "cluster_id")
        .filter(F.col("strat") < F.col("rate_k"))
        .select(
            "vec_id",
            "cluster_id",
            "rate_k",
            (
                F.lit(1000).cast("double") / F.col("rate_k").cast("double")
            ).alias("weight"),
        )
    )


def _kmeans_cte_sql(
    train_where: str | None = None, assign_all: bool = False
) -> str:
    """The shared DuckDB replay: init by md5 order, then KMEANS_ROUNDS
    chained (assign, state) CTE blocks — each state pinned AS MATERIALIZED
    because the next round references it twice (distance + update), same
    rationale as the BPE merge chain (text.py).

    ``train_where`` restricts the TRAINING corpus (the streaming folds
    train on the first epoch only); ``assign_all`` makes the
    ``final_assign`` CTE cover the FULL corpus regardless (via the
    ``aquant`` CTE) — the streaming twins assign every arriving batch
    against the first-epoch-trained state."""
    dist = (
        "list_sum(list_transform(list_zip(v.q, s.m), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    quant_cte = (
        f"quant AS MATERIALIZED (SELECT * FROM ({_QUANT_SQL}) WHERE {train_where})"
        if train_where
        else f"quant AS MATERIALIZED ({_QUANT_SQL})"
    )
    assign_src = "aquant" if assign_all else "quant"
    parts = [
        quant_cte,
        f"""kparams AS (
  SELECT {_knee_sql("n", K_CLUSTERS, KMEANS_TARGET_N)} AS k
  FROM (SELECT COUNT(*) AS n FROM quant)
)""",
        """init AS (
  SELECT vec_id, q FROM quant
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT (SELECT k FROM kparams)
)""",
        """state0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
              AS BIGINT) AS cluster_id,
         q AS m
  FROM init
)""",
    ]
    for r in range(1, KMEANS_ROUNDS + 1):
        parts.append(
            f"""assign{r} AS MATERIALIZED (
  SELECT vec_id, cluster_id, dist_sq FROM (
    SELECT v.vec_id, s.cluster_id, {dist} AS dist_sq,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, s.cluster_id) AS rn
    FROM quant v CROSS JOIN state{r - 1} s
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""state{r} AS MATERIALIZED (
  SELECT cluster_id, list(m ORDER BY dim) AS m FROM (
    SELECT a.cluster_id, t.dim,
           CAST(round(CAST(SUM(v.q[t.dim]) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS m
    FROM assign{r} a JOIN quant v USING (vec_id), range(1, {EMB_DIM + 1}) t(dim)
    GROUP BY a.cluster_id, t.dim
  ) GROUP BY cluster_id
)"""
        )
    if assign_all:
        parts.append(f"aquant AS MATERIALIZED ({_QUANT_SQL})")
    parts.append(
        f"""final_assign AS MATERIALIZED (
  SELECT vec_id, label, cluster_id, dist_sq FROM (
    SELECT v.vec_id, CAST(v.label AS BIGINT) AS label, s.cluster_id,
           {dist} AS dist_sq,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, s.cluster_id) AS rn
    FROM {assign_src} v CROSS JOIN state{KMEANS_ROUNDS} s
  ) WHERE rn = 1
)"""
    )
    return "WITH " + ",\n".join(parts)


KMEANS_ASSIGN_SQL = f"""{_kmeans_cte_sql()}
SELECT vec_id, label, cluster_id, CAST(dist_sq AS BIGINT) AS dist_sq
FROM final_assign
"""

KMEANS_DOMAINS_SQL = f"""{_kmeans_cte_sql()},
per_label AS (
  SELECT cluster_id, label, COUNT(*) AS n_label
  FROM final_assign GROUP BY cluster_id, label
),
top AS (
  SELECT cluster_id, label AS top_label, n_label AS top_label_n FROM (
    SELECT cluster_id, label, n_label,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_label DESC, label) AS rn
    FROM per_label
  ) WHERE rn = 1
),
stats AS (
  SELECT cluster_id, COUNT(*) AS n_vecs,
         COUNT(DISTINCT label) AS n_labels,
         SUM(dist_sq) AS sd
  FROM final_assign GROUP BY cluster_id
)
SELECT s.cluster_id, CAST(s.n_vecs AS BIGINT) AS n_vecs,
       CAST(s.n_labels AS BIGINT) AS n_labels,
       t.top_label, CAST(t.top_label_n AS BIGINT) AS top_label_n,
       CAST(s.sd AS DOUBLE) / s.n_vecs AS avg_dist_sq
FROM stats s JOIN top t ON s.cluster_id = t.cluster_id
"""

KMEANS_CENTROIDS_SQL = f"""{_kmeans_cte_sql()}
SELECT s.cluster_id, CAST(t.dim AS BIGINT) AS dim,
       s.m[t.dim] AS centroid_microunits
FROM state{KMEANS_ROUNDS} s, range(1, {EMB_DIM + 1}) t(dim)
"""

def _kmeans_mixture_sql() -> str:
    from .corpus import MIX_BUDGET_DEN, MIX_BUDGET_NUM

    return f"""{_kmeans_cte_sql()},
hist AS (
  SELECT CAST(cluster_id AS VARCHAR) AS lang, COUNT(*) AS c
  FROM final_assign GROUP BY cluster_id
),
w1 AS (
  SELECT lang, c,
         ROW_NUMBER() OVER (ORDER BY c, lang) AS rn,
         COALESCE(SUM(c) OVER (ORDER BY c, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prev,
         COUNT(*) OVER () AS n_langs,
         SUM(c) OVER () AS total
  FROM hist
),
w2 AS (
  SELECT *, (total * {MIX_BUDGET_NUM}) // {MIX_BUDGET_DEN} AS b FROM w1
),
w3 AS (
  SELECT *, CASE WHEN c > ((b - s_prev) // (n_langs - rn + 1))
                 THEN rn END AS fail_rn
  FROM w2
),
w4 AS (
  SELECT *, COALESCE(MIN(fail_rn) OVER () - 1, n_langs) AS k FROM w3
),
w5 AS (
  SELECT *, COALESCE(SUM(CASE WHEN rn <= k THEN c END) OVER (), 0) AS s_k
  FROM w4
),
alloc AS (
  SELECT lang, c,
         CASE WHEN rn <= k THEN c
              ELSE LEAST(c, (b - s_k) // GREATEST(n_langs - k, 1)) END AS alloc
  FROM w5
),
rates AS (
  SELECT CAST(lang AS BIGINT) AS cluster_id,
         CAST(LEAST(1000, (1000 * alloc) // c) AS BIGINT) AS rate_k
  FROM alloc
),
member AS (
  SELECT a.vec_id, a.cluster_id, r.rate_k,
         CAST(('0x' || substr(md5('kmix|' || CAST(a.vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000 AS strat
  FROM final_assign a JOIN rates r ON a.cluster_id = r.cluster_id
)
SELECT vec_id, cluster_id, rate_k,
       CAST(1000 AS DOUBLE) / CAST(rate_k AS DOUBLE) AS weight
FROM member WHERE strat < rate_k
"""


SEMDEDUP_COSINE = 0.35  # within-cluster near-dup threshold (both
                        # polarities live on the synthetic corpus:
                        # ~99 of ~15k cluster-mate pairs pass at sf0.01)


def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-shape semantic near-duplicate pairs: embedding-cosine
    near-dups searched ONLY among k-means cluster-mates — the published
    semantic-dedup recipe (cluster the corpus, dedup within clusters),
    composed from this module's certified assignment and similarity's
    exact integer cosine.

    Scale shape: candidate generation is the cluster partition itself —
    cost Σ|cluster|², never corpus², and each cluster's dense block is
    one Arrow group through ``applyInPandas`` (one int64 matmul). At
    100 TB oversized clusters are sub-sharded (recurse the same kernel
    on a secondary k-means inside the cluster); the knee-adaptive
    K(n) keeps expected cluster size ∝ √corpus.

    Semantics-visible restriction, NOT a silent approximation: pairs
    whose members land in different clusters are not candidates (the
    SemDedup trade), so this is its own entry + oracle — the same
    discipline as dedup_minhash_prefiltered — and the containment
    test pins semdedup ⊆ global near-dup at the same threshold.

    Plan note: the assignment is computed INLINE (broadcast K×64
    centroid matrix into the same Arrow pass that carries the
    embedding), not by joining the assignment table back onto the
    corpus — at the test SF that join broadcasts, but at 100 TB the
    assignment table is corpus-sized and the join becomes a second
    full-corpus shuffle. This shape has exactly ONE corpus shuffle
    (the cluster groupBy)."""
    ids, m = _trained_state(spark, sf_dir)
    return semdedup_pairs_on(
        _emb(spark, sf_dir).select("vec_id", "embedding"), ids, m
    )


# Executor-memory guard for the per-cluster kernel: applyInPandas
# materializes the whole group, so a skew-hot cluster above this many
# rows is hash-split into ⌈|c|/CAP⌉ sub-shards and paired block-by-block
# (each unordered shard pair is its own group — the classic triangle
# enumeration). Work stays Σ|c|²; replication factor is the shard count.
# Every tested SF sits far below the cap, so the fast path is the only
# one the oracle hashes — the sharded path is pinned pair-set-identical
# by monkeypatching the cap down in tests.
SEMDEDUP_CLUSTER_CAP = 4096

_PAIR_SCHEMA = "vec_a long, vec_b long, cluster_id long, cosine double"
ASSIGN_CARRY_SCHEMA = "cluster_id long, vec_id long, embedding array<float>"


def _assign_carry_fn(ids: np.ndarray, m: np.ndarray):
    """mapInPandas kernel factory shared by the batch entry and the
    streaming fold: assign each vector to its nearest centroid
    (broadcast K×64 integer state) and carry the embedding through."""

    def assign_carry(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            x = _quant_np(pdf["embedding"])
            near = np.argmin(_dist_matrix(x, m), axis=1)
            yield pd.DataFrame(
                {
                    "cluster_id": ids[near],
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "embedding": pdf["embedding"],
                }
            )

    return assign_carry


def _shard_counts(df: DataFrame) -> dict[int, int]:
    """Per-cluster shard count for the skew guard: ⌈|cluster|/CAP⌉ from
    one tiny map-side-combined aggregation (K rows to the driver)."""
    counts = {
        r["cluster_id"]: r["n"]
        for r in df.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {c: max(1, -(-n // SEMDEDUP_CLUSTER_CAP)) for c, n in counts.items()}


def _pair_frame(cluster_id, ids_a, q_a, nrm_a, ids_b, q_b, nrm_b, triangle):
    """Thresholded cosine pairs between two member blocks (the SAME
    block when ``triangle``): exact int64 dot / sqrt·sqrt, canonical
    vec_a < vec_b. The float op sequence is identical whichever block a
    pair's members sit in (multiplication is IEEE-commutative)."""
    cos = (q_a @ q_b.T) / (nrm_a[:, None] * nrm_b[None, :])
    if triangle:
        iu, ju = np.triu_indices(len(ids_a), k=1)
        keep = cos[iu, ju] >= SEMDEDUP_COSINE
        ii, jj = iu[keep], ju[keep]
    else:
        keep = cos >= SEMDEDUP_COSINE
        ii, jj = np.nonzero(keep)
    va, vb = ids_a[ii], ids_b[jj]
    return pd.DataFrame(
        {
            "vec_a": np.minimum(va, vb),
            "vec_b": np.maximum(va, vb),
            "cluster_id": np.full(len(ii), cluster_id, dtype=np.int64),
            "cosine": cos[ii, jj],
        },
        columns=["vec_a", "vec_b", "cluster_id", "cosine"],
    )


def semdedup_pairs_on(e: DataFrame, ids: np.ndarray, m: np.ndarray) -> DataFrame:
    """``semdedup_pairs`` against a GIVEN centroid state — the shared
    kernel of the batch entry (corpus-trained state) and the streaming
    fold's batch twin (first-batch-trained state)."""

    # ONE corpus pass: the assignment (with embeddings carried) is
    # localCheckpointed — the persisted assignment table a real pipeline
    # maintains — so the O(K) skew probe and the pair stage both read
    # the materialized result instead of re-running the scan + matmul.
    j = e.mapInPandas(_assign_carry_fn(ids, m), ASSIGN_CARRY_SCHEMA).localCheckpoint(
        eager=True
    )
    shards = _shard_counts(j)

    if all(v == 1 for v in shards.values()):

        def per_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("vec_id")
            q = _quant_np(pdf["embedding"])
            vids = pdf["vec_id"].to_numpy(np.int64)
            nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
            return _pair_frame(key[0], vids, q, nrm, vids, q, nrm, triangle=True)

        return j.groupBy("cluster_id").applyInPandas(per_cluster, _PAIR_SCHEMA)

    # Sharded path: replicate each member to every block pair its shard
    # belongs to; the group (cluster, bi, bj) holds at most 2·CAP rows.
    def explode_blocks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            out = []
            for cid, vid, emb in zip(
                pdf["cluster_id"].astype("int64"),
                pdf["vec_id"].astype("int64"),
                pdf["embedding"],
            ):
                n_sh = shards[int(cid)]
                s = int(vid) % n_sh
                for t in range(n_sh):
                    out.append(
                        {
                            "cluster_id": int(cid),
                            "bi": min(s, t),
                            "bj": max(s, t),
                            "shard": s,
                            "vec_id": int(vid),
                            "embedding": emb,
                        }
                    )
            yield pd.DataFrame(out)

    exploded = j.mapInPandas(
        explode_blocks,
        "cluster_id long, bi int, bj int, shard int, vec_id long, embedding array<float>",
    )

    def per_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cid, bi, bj = key
        pdf = pdf.sort_values("vec_id")
        q = _quant_np(pdf["embedding"])
        vids = pdf["vec_id"].to_numpy(np.int64)
        nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
        if bi == bj:
            return _pair_frame(cid, vids, q, nrm, vids, q, nrm, triangle=True)
        left = pdf["shard"].to_numpy() == bi
        # the (bi, bi) group handles within-shard pairs; here only cross
        return _pair_frame(
            cid,
            vids[left], q[left], nrm[left],
            vids[~left], q[~left], nrm[~left],
            triangle=False,
        )

    return exploded.groupBy("cluster_id", "bi", "bj").applyInPandas(
        per_block, _PAIR_SCHEMA
    )


def _semdedup_sql(train_where: str | None = None) -> str:
    """Within-cluster near-dup pairs. ``train_where`` restricts the
    Lloyd training corpus while pairs still cover ALL vectors — the
    streaming twin's shape (first epoch trains, every epoch pairs)."""
    cos = (
        "CAST(list_sum(list_transform(list_zip(a.q, b.q), z -> z[1] * z[2])) AS DOUBLE)"
        " / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE)))"
    )
    src = "aquant" if train_where else "quant"
    return f"""{_kmeans_cte_sql(train_where, assign_all=train_where is not None)},
sd_normed AS (
  SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS norm_sq FROM {src}
)
SELECT fa.vec_id AS vec_a, fb.vec_id AS vec_b,
       fa.cluster_id AS cluster_id, {cos} AS cosine
FROM final_assign fa
JOIN final_assign fb
  ON fa.cluster_id = fb.cluster_id AND fa.vec_id < fb.vec_id
JOIN sd_normed a ON a.vec_id = fa.vec_id
JOIN sd_normed b ON b.vec_id = fb.vec_id
WHERE {cos} >= {SEMDEDUP_COSINE}
"""


registry.register("emb_kmeans_assign", kmeans_assign, KMEANS_ASSIGN_SQL)
registry.register("emb_semdedup_pairs", semdedup_pairs, _semdedup_sql())
registry.register("emb_kmeans_mixture", kmeans_mixture, _kmeans_mixture_sql())
registry.register("emb_kmeans_domains", kmeans_domains, KMEANS_DOMAINS_SQL)
registry.register("emb_kmeans_centroids", kmeans_centroids, KMEANS_CENTROIDS_SQL)
