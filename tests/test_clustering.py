"""K-means domain clustering: kernel pins independent of the SQL oracle.

test_analysis_oracle.py already certifies the three emb_kmeans_* entries
against the DuckDB chained-CTE replay; these tests pin the KERNEL against
a from-scratch numpy reimplementation of the whole training loop (so a
bug mirrored into the oracle cannot hide), plus the edge semantics the
driver data never exercises (empty-cluster drop, distance ties).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from near_real_time_data_warehouse_spark.operators.clustering import (
    EMB_DIM,
    K_CLUSTERS,
    KMEANS_ROUNDS,
    _dist_matrix,
    _final_assignment,
    _partial_sums,
    _quant_np,
    _round_half_away,
    _trained_state,
)

from .conftest import SF_SMALL


def _numpy_replay(sf_dir: str) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """From-scratch sequential reimplementation: returns (vec_ids, labels,
    cluster assignment, trained centroid matrix aligned to sorted
    surviving cluster ids)."""
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT vec_id, label, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    labels = np.array([r[1] for r in rows], dtype=np.int64)
    import pandas as pd

    x = _quant_np(pd.Series([r[2] for r in rows]))

    order = sorted(range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
    seed = order[:K_CLUSTERS]
    cids = np.arange(len(seed), dtype=np.int64)
    m = x[seed].copy()
    for _ in range(KMEANS_ROUNDS):
        near = np.argmin(_dist_matrix(x, m), axis=1)
        keep = np.array([np.any(near == j) for j in range(len(cids))])
        new_m = []
        new_ids = []
        for j in range(len(cids)):
            if keep[j]:
                sel = x[near == j]
                new_m.append(_round_half_away(sel.sum(axis=0).astype(np.float64) / len(sel)))
                new_ids.append(cids[j])
        m = np.vstack(new_m)
        cids = np.array(new_ids, dtype=np.int64)
    final = np.argmin(_dist_matrix(x, m), axis=1)
    return ids, labels, cids[final], m


def test_trained_state_matches_numpy_replay(spark):
    ids, m = _trained_state(spark, SF_SMALL)
    _, _, _, m_ref = _numpy_replay(SF_SMALL)
    assert m.shape == m_ref.shape
    assert np.array_equal(m, m_ref)


def test_final_assignment_matches_numpy_replay(spark):
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist_sq"])
        for r in _final_assignment(spark, SF_SMALL).collect()
    }
    vec_ids, _, assign_ref, m_ref = _numpy_replay(SF_SMALL)
    import duckdb
    import pandas as pd

    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    x = _quant_np(pd.Series([r[1] for r in rows]))
    d = _dist_matrix(x, m_ref)
    for i, vid in enumerate(vec_ids):
        c, ds = got[int(vid)]
        assert c == assign_ref[i]
        assert ds == d[i].min()


def test_assignment_is_optimal_and_total(spark):
    """Every vector appears exactly once and its dist_sq is the true
    minimum over the trained centroids (optimality certificate)."""
    ids, m = _trained_state(spark, SF_SMALL)
    rows = _final_assignment(spark, SF_SMALL).collect()
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_SMALL}/embeddings.parquet')"
    ).fetchone()[0]
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    assert {r["cluster_id"] for r in rows} <= set(int(i) for i in ids)


def test_empty_clusters_drop_from_partials(spark):
    """With more centroids than occupied regions, unoccupied clusters emit
    no partial rows — they disappear from the state exactly as in the SQL
    twin (where an absent group is an absent row)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "embedding": [[0.5] * EMB_DIM, [0.5] * EMB_DIM, [0.5] * EMB_DIM],
        }
    )
    e = spark.createDataFrame(pdf)
    far = np.full((1, EMB_DIM), 10**6, dtype=np.int64)
    near = np.full((1, EMB_DIM), 5000, dtype=np.int64)
    m = np.vstack([near, far])
    out = (
        _partial_sums(e, np.array([0, 1], dtype=np.int64), m)
        .groupBy("cluster_id")
        .sum("n")
        .collect()
    )
    got = {r["cluster_id"]: r["sum(n)"] for r in out}
    assert got == {0: 3}


def test_distance_ties_break_to_lowest_cluster():
    """Duplicate centroids ⇒ equal distances; argmin must take the lowest
    cluster index (the ORDER BY dist, cluster_id tie-break in the SQL)."""
    x = np.array([[3] * EMB_DIM], dtype=np.int64)
    m = np.vstack([np.full(EMB_DIM, 7), np.full(EMB_DIM, 7)]).astype(np.int64)
    d = _dist_matrix(x, m)
    assert d[0, 0] == d[0, 1]
    assert np.argmin(d, axis=1)[0] == 0


def test_distance_matrix_exact_int64():
    rng = np.random.RandomState(7)
    x = rng.randint(-60000, 60000, size=(5, EMB_DIM)).astype(np.int64)
    m = rng.randint(-60000, 60000, size=(3, EMB_DIM)).astype(np.int64)
    d = _dist_matrix(x, m)
    for i in range(5):
        for j in range(3):
            ref = int(((x[i] - m[j]) ** 2).sum())
            assert int(d[i, j]) == ref


def test_round_half_away_parity():
    v = np.array([0.5, 1.5, -0.5, -1.5, 2.4999, -2.5])
    assert _round_half_away(v).tolist() == [1, 2, -1, -2, 2, -3]


def test_state_memo_cleared_by_session_hook(spark):
    from near_real_time_data_warehouse_spark import memo
    from near_real_time_data_warehouse_spark.session import clear_query_memos

    _trained_state(spark, SF_SMALL)
    assert any(k[0] == "kmeans" for k in memo._ENTRIES)
    clear_query_memos()
    assert not any(k[0] == "kmeans" for k in memo._ENTRIES)


def test_round_half_away_half_ulp_boundary():
    """The double just below x.5 must round DOWN (std::round semantics);
    the naive floor(v + 0.5) form rounds it up whenever v + 0.5 lands on
    x + 1.0 after IEEE rounding."""
    import numpy as np

    below = np.nextafter(0.5, -np.inf)          # 0.49999999999999994
    naive = np.floor(np.array([below]) + 0.5)   # the bug this pins against
    assert naive[0] == 1.0                       # naive form really diverges
    got = _round_half_away(np.array([below, -below, 2.5, -2.5, 2.0**53]))
    assert got.tolist() == [0, 0, 3, -3, 2**53]


def test_k_clusters_knee_formula():
    """√N domain-count discipline past the knee: static below it (every
    oracle-verified SF), doubling per 4× the corpus above it."""
    from near_real_time_data_warehouse_spark.operators.clustering import (
        K_CLUSTERS,
        KMEANS_TARGET_N,
        _k_clusters,
    )

    assert _k_clusters(100) == K_CLUSTERS
    assert _k_clusters(KMEANS_TARGET_N) == K_CLUSTERS
    assert _k_clusters(4 * KMEANS_TARGET_N) == 2 * K_CLUSTERS
    assert _k_clusters(16 * KMEANS_TARGET_N) == 4 * K_CLUSTERS
    # 50x-probe scale: 250k vectors -> 8x
    assert _k_clusters(250_000) == 8 * K_CLUSTERS


def test_kmeans_oracle_matches_above_knee(spark, tmp_path):
    """Above the knee the k-means entries must STILL match the DuckDB
    replay bit-for-bit: a 9000-vector corpus trains K=16 domains (knee
    engaged in both the Spark kernel and the SQL's kparams CTE)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from near_real_time_data_warehouse_spark.operators.clustering import (
        KMEANS_CENTROIDS_SQL,
        _k_clusters,
        kmeans_centroids,
    )
    from near_real_time_data_warehouse_spark.oracle_harness import compare

    n, dim = 9000, 64
    assert _k_clusters(n) == 16
    rng = np.random.default_rng(7)
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array((np.arange(n) % 5).astype(np.int32)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )
    r = compare(
        "kmeans_above_knee",
        kmeans_centroids(spark, str(tmp_path)),
        con,
        KMEANS_CENTROIDS_SQL,
    )
    assert r.ok, str(r)
    assert kmeans_centroids(spark, str(tmp_path)).count() <= 16 * 64


def test_semdedup_pairs_contained_in_global_neardup(spark):
    """SemDedup containment: within-cluster pairs at the threshold are a
    SUBSET of the global all-pairs near-dups at the same threshold (the
    restriction only removes cross-cluster candidates, never invents
    pairs or scores), every returned pair is cluster-consistent, and the
    dropped complement is genuinely nonempty on this corpus."""
    import numpy as np
    import pandas as pd

    from near_real_time_data_warehouse_spark.operators.clustering import (
        SEMDEDUP_COSINE,
        semdedup_pairs,
    )
    from near_real_time_data_warehouse_spark.operators.similarity import (
        _collect_quantized,
        _emb,
    )

    got = semdedup_pairs(spark, SF_SMALL).collect()
    assert got, "no within-cluster near-dup pairs at the test SF"
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in _final_assignment(spark, SF_SMALL).collect()
    }
    ids, q = _collect_quantized(_emb(spark, SF_SMALL))
    nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
    cos = (q @ q.T) / (nrm[:, None] * nrm[None, :])
    pos = {int(v): i for i, v in enumerate(ids)}
    global_pairs = {
        (min(int(ids[i]), int(ids[j])), max(int(ids[i]), int(ids[j])))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if cos[i, j] >= SEMDEDUP_COSINE
    }
    got_pairs = {(r["vec_a"], r["vec_b"]) for r in got}
    assert got_pairs <= global_pairs
    for r in got:
        assert assign[r["vec_a"]] == assign[r["vec_b"]] == r["cluster_id"]
        assert r["cosine"] == cos[pos[r["vec_a"]], pos[r["vec_b"]]]
    dropped = global_pairs - got_pairs
    assert dropped, "restriction vacuous: every global pair is intra-cluster"
    assert all(assign[a] != assign[b] for a, b in dropped)


def test_semdedup_sharded_path_equals_fast_path(spark, monkeypatch):
    """Skew guard: with the cluster cap forced below the test cluster
    sizes, every cluster hash-splits into blocks and pairs assemble from
    the triangle of block pairs — the pair set (ids, cluster, exact
    cosine) must equal the unsharded kernel's."""
    from near_real_time_data_warehouse_spark.operators import clustering as C

    ids, m = C._trained_state(spark, SF_SMALL)
    e = C._emb(spark, SF_SMALL).select("vec_id", "embedding")
    fast = {
        (r.vec_a, r.vec_b, r.cluster_id, r.cosine)
        for r in C.semdedup_pairs_on(e, ids, m).collect()
    }
    monkeypatch.setattr(C, "SEMDEDUP_CLUSTER_CAP", 16)  # clusters ~60 → 4 shards
    sharded = {
        (r.vec_a, r.vec_b, r.cluster_id, r.cosine)
        for r in C.semdedup_pairs_on(e, ids, m).collect()
    }
    assert fast and sharded == fast


def test_driver_lloyd_fast_path_matches_distributed(spark, monkeypatch):
    """The r14 bounded driver trainer must land on the exact same
    (ids, centroids) state as the distributed Lloyd rounds — forced by
    pinning DRIVER_LLOYD_CAP to 0 (distributed) and re-running with the
    default cap (driver) on the same fixture."""
    import numpy as np

    from near_real_time_data_warehouse_spark.operators import clustering as C
    from near_real_time_data_warehouse_spark.operators.similarity import _emb

    e = _emb(spark, "/root/testdata/sf0.001").select("vec_id", "embedding")
    ids_d, m_d = C._train_state_on(e)  # driver path (fixture << cap)
    monkeypatch.setattr(C, "DRIVER_LLOYD_CAP", 0)
    ids_x, m_x = C._train_state_on(e)  # distributed path
    assert np.array_equal(ids_d, ids_x)
    assert np.array_equal(m_d, m_x)
    assert m_d.dtype == m_x.dtype
