"""Guard-rail tests for the iterative dedup kernels."""

from __future__ import annotations

import pytest

from near_real_time_data_warehouse_spark.operators.dedup import connected_components


def test_connected_components_raises_when_iteration_capped(spark, monkeypatch):
    # A 6-vertex path graph has diameter 5: label 0 cannot reach vertex 5
    # in 2 rounds, so the kernel must refuse to return unconverged labels.
    # (Cap forced to 0 so the DISTRIBUTED loop runs — the driver-side
    # union-find fast path is exact in one action and never caps.)
    from near_real_time_data_warehouse_spark.operators import dedup

    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
    vertices = spark.range(6).withColumnRenamed("id", "doc_id")
    chain = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iterations=2)
    # and with enough rounds it converges to a single component
    labels = connected_components(vertices, edges, max_iterations=10)
    assert {r.component for r in labels.collect()} == {0}


def test_seeded_components_equal_unseeded(spark, monkeypatch):
    """Seeding the propagation with stored labels (the incremental
    path's quotient trick) must land on the same fixpoint as starting
    from identity labels, because hash-min labels are component minima
    at every level."""
    vertices = spark.range(8).withColumnRenamed("id", "doc_id")
    raw = [(0, 1), (1, 2), (3, 4), (6, 7)]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    want = {(r.doc_id, r.component) for r in connected_components(vertices, edges).collect()}
    # seed: {0,1,2}→0 and {3,4}→3 already merged, rest identity
    from pyspark.sql import functions as F

    seeded = vertices.withColumn(
        "label",
        F.when(F.col("doc_id") <= 2, F.lit(0))
        .when(F.col("doc_id") <= 4, F.lit(3))
        .otherwise(F.col("doc_id")),
    )
    got = {(r.doc_id, r.component) for r in connected_components(seeded, edges).collect()}
    assert got == want
    # and the distributed path agrees on the seeded graph too
    from near_real_time_data_warehouse_spark.operators import dedup

    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
    got_dist = {
        (r.doc_id, r.component)
        for r in connected_components(seeded, edges).collect()
    }
    assert got_dist == want


def test_cc_driver_endpoints_cover_selfloops_and_foreign(spark, monkeypatch):
    """r14: the CC fast path derives the endpoint set on the driver from
    the collected canonical half (src < dst), which drops self-loops —
    a vertex whose ONLY edge is a self-loop must still come back at its
    seed label (via the passive leg now, the resolve leg before), and a
    foreign endpoint (edge id absent from ``vertices``) must still be
    excluded from the output. Duplicate edges are exercised too. Pinned
    against the distributed loop (cap forced to 0)."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark.operators import dedup

    vertices = spark.range(6).withColumnRenamed("id", "doc_id")
    # 0-1 duplicated, self-loop on 2 (its only edge), edge 3-99 to a
    # foreign endpoint, 4 and 5 passive
    raw = [(0, 1), (0, 1), (2, 2), (3, 99)]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    seeded = vertices.withColumn(
        "label", F.when(F.col("doc_id") == 2, F.lit(0)).otherwise(F.col("doc_id"))
    )
    got = {
        (r.doc_id, r.component)
        for r in connected_components(seeded, edges).collect()
    }
    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
    want = {
        (r.doc_id, r.component)
        for r in connected_components(seeded, edges).collect()
    }
    assert got == want
    assert {d for d, _ in got} == set(range(6))  # no foreign rows, none lost
    assert (2, 0) in got  # self-loop-only vertex keeps its seed label


def test_quotient_merge_driver_first_matches_distributed(spark, monkeypatch):
    """r14: merge_components_with_edges resolves the quotient on the
    driver from the RAW pair probe (one bounded label fetch) — pairs with
    foreign endpoints are dropped exactly as the old lmap inner joins
    dropped them, duplicates collapse, and the result matches the
    distributed fallback (cap forced to 0) bit-for-bit."""
    from near_real_time_data_warehouse_spark.operators import dedup

    current = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 3), (4, 4)], "doc_id long, label long"
    )
    # duplicate pair, a pair inside one component (la == lb), a foreign
    # endpoint pair (99 absent from current), and a real merge 2-3
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (0, 1), (3, 99), (2, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.component)
        for r in dedup.merge_components_with_edges(current, pairs).collect()
    }
    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
    want = {
        (r.doc_id, r.component)
        for r in dedup.merge_components_with_edges(current, pairs).collect()
    }
    assert got == want
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (4, 4)}


def test_graph_incremental_equals_full_rebuild(spark):
    """The maintained state (corpus components + batch merged via the
    quotient graph) is bit-equal to rebuilding the full MinHash-LSH
    component labels from scratch — the Spark-side twin of the driver's
    full-rebuild-oracle hash certification."""
    from near_real_time_data_warehouse_spark.operators import dedup

    from .conftest import SF_SMALL

    inc = dedup.dedup_graph_incremental(spark, SF_SMALL)
    full = dedup.dedup_components_minhash(spark, SF_SMALL)
    assert inc.exceptAll(full).count() == 0 and full.exceptAll(inc).count() == 0


def test_diagnostics_incremental_equal_full_and_cost_bounded(spark):
    """The incrementally-maintained diagnostics (stored untouched-component
    rows + kernel re-run on touched components only) are bit-equal to the
    full-rebuild banded entries, AND the fold's recompute input is
    genuinely restricted: touched docs and touched pairs are strict
    subsets of the corpus/pair universe (cost ∝ touched components, the
    dedup_graph_incremental discipline — VERDICT r4 #2)."""
    from near_real_time_data_warehouse_spark.operators import dedup

    from .conftest import SF_SMALL

    def same(a, b):
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    assert same(
        dedup.pagerank_incremental(spark, SF_SMALL),
        dedup.dedup_pagerank_banded(spark, SF_SMALL),
    )
    assert same(
        dedup.triangles_incremental(spark, SF_SMALL),
        dedup.dedup_triangles_banded(spark, SF_SMALL),
    )
    touched = dedup._touched_docs(spark, SF_SMALL)
    n_docs = dedup._docs(spark, SF_SMALL).count()
    n_touched = touched.count()
    assert 0 < n_touched < n_docs
    n_all_pairs = dedup.minhash_lsh_pairs(spark, SF_SMALL).count()
    n_touched_pairs = dedup._touched_pairs(spark, SF_SMALL, touched).count()
    assert n_touched_pairs < n_all_pairs


def test_containment_planted_excerpt(spark):
    """A small doc wholly contained in a big one: containment toward the
    small side is exactly 1.0 and the direction verdict says so; an
    unrelated doc never pairs."""
    from near_real_time_data_warehouse_spark.operators.dedup import (
        containment_pairs,
    )

    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    small = "gamma delta epsilon zeta"          # an excerpt of big
    other = "one two three four five six"
    rows = []
    for doc_id, txt in [(1, big), (2, small), (3, other)]:
        toks = txt.split()
        for i in range(len(toks) - 2):
            rows.append((doc_id, " ".join(toks[i : i + 3])))
    sh = spark.createDataFrame(rows, "doc_id long, shingle string").distinct()
    got = {(r.doc_a, r.doc_b): r for r in containment_pairs(sh).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.containment_b == 1.0          # every shingle of small is in big
    assert r.direction == "b_in_a"
    assert r.n_common == r.n_b


def test_containment_invariants_on_corpus(spark):
    from near_real_time_data_warehouse_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        dedup_containment,
    )

    rows = dedup_containment(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.n_common <= min(r.n_a, r.n_b)
        assert max(r.containment_a, r.containment_b) >= CONTAINMENT_THRESHOLD
        expect = (
            "mutual"
            if r.containment_a >= CONTAINMENT_THRESHOLD
            and r.containment_b >= CONTAINMENT_THRESHOLD
            else ("a_in_b" if r.containment_a >= CONTAINMENT_THRESHOLD else "b_in_a")
        )
        assert r.direction == expect


def test_triangle_stats_planted_graph(spark):
    """A 4-clique plus a 3-chain: clique nodes sit in C(3,2)=3 triangles
    with clustering coefficient 1.0; chain nodes close no triangle."""
    from near_real_time_data_warehouse_spark.operators.dedup import triangle_stats

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = [(10, 11), (11, 12)]
    pairs = spark.createDataFrame(clique + chain, "doc_a long, doc_b long")
    got = {r.doc_id: r for r in triangle_stats(pairs).collect()}
    assert set(got) == {1, 2, 3, 4, 10, 11, 12}
    for d in (1, 2, 3, 4):
        assert got[d].degree == 3
        assert got[d].n_triangles == 3
        assert got[d].clustering_coeff == 1.0
    for d in (10, 12):
        assert got[d].n_triangles == 0 and got[d].clustering_coeff == 0.0
    assert got[11].degree == 2 and got[11].n_triangles == 0
    assert got[11].clustering_coeff == 0.0


def test_pagerank_round_aqe_splits_hub_degree_skew(spark):
    """VERDICT r5 #6: the per-round PageRank edge-join hashes on ``src``;
    a boilerplate hub (the exact doc PageRank exists to find) concentrates
    its partition. Plant a high-degree hub graph and assert AQE's
    skew-join rewrite actually fires on the kernel's own round join
    (`skew=true` in the executed adaptive plan) — and that the round's
    arithmetic still puts the hub's incoming mass where it belongs."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark.operators.dedup import (
        PR_BASE,
        PR_SCALE,
        _pr_round,
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n_spokes = 200_000
        # hub 0 — every pair is (0, i): after the kernel's symmetrization
        # the hub holds half of ALL edge rows on the join key
        pairs = spark.range(1, n_spokes + 1).select(
            F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
        )
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        # exactly the kernel's standing-edge-table construction: the
        # composite-key repartition before the lineage cut is what
        # spreads the hub across mappers so AQE CAN split its reduce
        # partition (a src-partitioned table gives the hub one mapper
        # chunk — unsplittable by design of the skew rewrite)
        edges_deg = (
            edges.join(deg, "src")
            .repartition(F.col("src"), F.col("dst"))
            .localCheckpoint()
        )
        active = spark.range(0, n_spokes + 1).select(F.col("id").alias("doc_id"))
        ranks = active.select(
            "doc_id", F.lit(PR_SCALE).cast("long").alias("rank")
        )
        out = _pr_round(edges_deg, active, ranks)
        rows = {r.doc_id: r.rank for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "skew=true" in plan, plan[:2000]
        # round arithmetic: every spoke sent rank/deg = PR_SCALE/1 to the
        # hub; each spoke got PR_SCALE/n_spokes from the hub
        assert rows[0] == PR_BASE + (85 * n_spokes * PR_SCALE) // 100
        assert rows[1] == PR_BASE + (85 * (PR_SCALE // n_spokes)) // 100
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_connected_components_converges_on_long_chain(spark, monkeypatch):
    """Found by the round-6 sf1 sweep: a 10× semantic-union graph chained
    into a path longer than the iteration cap and plain hash-min (rounds
    = diameter) raised. With pointer doubling, a 2000-vertex path
    (diameter 1999) must converge well inside 25 rounds to a single
    component labeled by its min vertex. (Cap forced to 0 so the
    distributed pointer-doubling loop is what's exercised.)"""
    from pyspark.sql import functions as F
    from near_real_time_data_warehouse_spark.operators import dedup

    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)

    n = 2000
    verts = spark.range(0, n).select(F.col("id").alias("doc_id"))
    fwd = spark.range(0, n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = connected_components(verts, edges).collect()
    assert len(got) == n
    assert {r.component for r in got} == {0}


def test_unlabeled_edge_endpoints_never_relay(spark, monkeypatch):
    """Edges touching a vertex NOT in the vertices input must not merge
    components through it: the distributed loop only propagates through
    labeled rows, and the driver fast path unions only edges with both
    endpoints seeded. Graph 0—1—2 with vertex 1 missing from the input
    must leave 0 and 2 in separate components — on BOTH paths."""
    from near_real_time_data_warehouse_spark.operators import dedup

    vertices = spark.createDataFrame([(0,), (2,)], "doc_id long")
    raw = [(0, 1), (1, 2)]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    want = {(0, 0), (2, 2)}
    got = {
        (r.doc_id, r.component)
        for r in connected_components(vertices, edges).collect()
    }
    assert got == want
    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
    got_dist = {
        (r.doc_id, r.component)
        for r in connected_components(vertices, edges).collect()
    }
    assert got_dist == want


def test_prefiltered_pairs_subset_of_lsh_with_agree_floor(spark):
    """dedup_minhash_prefiltered admits exactly the dedup_minhash_lsh
    pairs whose signatures agree on >= PREFILTER_MIN_AGREE permutations:
    survivors are a subset of the full verify's output, every survivor
    meets the agreement floor, and every dropped true pair fails it
    (the prefilter only ever rejects on the estimate, never admits a
    sub-threshold Jaccard)."""
    from near_real_time_data_warehouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        PREFILTER_MIN_AGREE,
        _band_candidates,
        _bands_materialized,
        _shingles_materialized,
        _signature_table,
        minhash_lsh_pairs,
        minhash_prefiltered_pairs,
    )

    sf = "/root/testdata/sf0.001"
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(spark, sf).collect()
    }
    pre = {
        (r["doc_a"], r["doc_b"]): (r["n_agree"], r["jaccard"])
        for r in minhash_prefiltered_pairs(spark, sf).collect()
    }
    assert set(pre) <= set(full)
    for pair, (n_agree, jac) in pre.items():
        assert n_agree >= PREFILTER_MIN_AGREE
        assert jac >= JACCARD_THRESHOLD
        assert jac == full[pair]
    # Independently recompute signature agreement for the dropped pairs.
    sigs = {
        r["doc_id"]: r["sig"]
        for r in _signature_table(_shingles_materialized(spark, sf))
        .select("doc_id", "sig")
        .collect()
    }
    dropped = set(full) - set(pre)
    for a, b in dropped:
        agree = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        assert agree < PREFILTER_MIN_AGREE


def test_prefilter_floor_is_live_in_the_plan(spark, monkeypatch):
    """On the synthetic corpus every band collision is a genuine near-dup,
    so the default floor rejects nothing at test SFs (the accidental-
    collision tail it exists for appears at probe scale). Pin the filter
    from both sides: an unreachable floor empties the output; the
    vacuous floor (ROWS_PER_BAND — already guaranteed by any band
    collision) reproduces the full verify exactly."""
    from near_real_time_data_warehouse_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(spark, sf).collect()
    }
    assert full
    monkeypatch.setattr(dedup, "PREFILTER_MIN_AGREE", dedup.N_PERM + 1)
    assert dedup.minhash_prefiltered_pairs(spark, sf).count() == 0
    monkeypatch.setattr(dedup, "PREFILTER_MIN_AGREE", dedup.ROWS_PER_BAND)
    vac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_prefiltered_pairs(spark, sf).collect()
    }
    assert vac == full


def test_substring_spans_island_merge_semantics(spark):
    """Pin docs_exact_substring_dedup's interval-union kernel on crafted
    docs: overlapping duplicated windows merge into ONE span, disjoint
    runs stay separate spans, within-doc repetition counts, and a doc
    with no repeated 8-gram emits nothing."""
    from near_real_time_data_warehouse_spark.operators.dedup import (
        SUBSTR_K,
        substring_spans_df,
    )

    assert SUBSTR_K == 8
    shared = " ".join(f"s{i}" for i in range(12))  # 12-token shared run
    tail = " ".join(f"t{i}" for i in range(10))
    other = " ".join(f"o{i}" for i in range(10))
    docs = [
        # doc 0 and 1 share a 12-token run (5 overlapping windows -> 1 span)
        (0, f"{shared} {tail}"),
        (1, f"{other} {shared}"),
        # doc 2: TWO disjoint copies of an 8-token self-repeat
        (2, " ".join(f"r{i}" for i in range(8))
            + " gap0 gap1 gap2 gap3 "
            + " ".join(f"r{i}" for i in range(8))),
        # doc 3: long but unique
        (3, " ".join(f"u{i}" for i in range(30))),
    ]
    out = {
        r["doc_id"]: r
        for r in substring_spans_df(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    # 12-token shared run: windows at 5 consecutive positions merge to one
    # span covering exactly the 12 shared tokens
    assert out[0]["n_dup_spans"] == 1 and out[0]["dup_tokens"] == 12
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 12
    assert out[1]["longest_span"] == 12
    # self-repetition: each 8-token copy is its own span (4-token gap)
    assert out[2]["n_dup_spans"] == 2 and out[2]["dup_tokens"] == 16
    assert out[2]["dup_fraction"] == 16 / 20


def test_substring_apply_keeps_canonical_copy_only(spark):
    """docs_substring_dedup_apply: the occurrence with the smallest
    (doc_id, pos) survives; every other copy is cut from the cleaned
    text — across documents AND within one document."""
    from near_real_time_data_warehouse_spark.operators.dedup import (
        substring_apply_df,
    )

    shared = " ".join(f"s{i}" for i in range(12))
    tail = " ".join(f"t{i}" for i in range(10))
    other = " ".join(f"o{i}" for i in range(10))
    rep = " ".join(f"r{i}" for i in range(8))
    docs = [
        (0, f"{shared} {tail}"),
        (1, f"{other} {shared}"),
        (2, f"{rep} gap0 gap1 gap2 gap3 {rep}"),
        (3, " ".join(f"u{i}" for i in range(30))),
    ]
    out = {
        r["doc_id"]: r
        for r in substring_apply_df(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    # doc 0 holds every canonical occurrence -> untouched
    assert out[0]["n_removed_tokens"] == 0
    assert out[0]["cleaned_text"] == f"{shared} {tail}"
    # doc 1's copy of the shared run is redundant -> cut
    assert out[1]["n_removed_tokens"] == 12
    assert out[1]["cleaned_text"] == other
    # doc 2: first self-repeat copy is canonical, second is cut
    assert out[2]["n_removed_tokens"] == 8
    assert out[2]["cleaned_text"] == f"{rep} gap0 gap1 gap2 gap3"
    # unique doc untouched
    assert out[3]["n_removed_tokens"] == 0


def test_substring_apply_sharded_rebuild_bounded_rows(spark):
    """Round-10 contract (VERDICT r9 #1): the apply rebuild shards by
    token range, so no post-scan row carries more than ``seg`` tokens
    even for a multi-megabyte document, and the sharded output is
    row-identical under any shard size (a one-segment-per-doc run is the
    pre-round-10 whole-array shape)."""
    import math

    from near_real_time_data_warehouse_spark.operators.dedup import (
        _apply_seg_out,
        substring_apply_df,
    )

    # ~2.3 MB document: unique prefix, a 100-token copy of an interior
    # run of the prefix (canonical copy lives at positions 501..600),
    # unique tail. With seg=64 the copy spans several shard boundaries.
    prefix = [f"a{i}" for i in range(12_000)]
    block = prefix[500:600]
    tail = [f"z{i}" for i in range(288_000)]
    doc0 = prefix + block + tail
    docs = [
        (0, " ".join(doc0)),
        (1, "one tiny unique doc"),
        (2, ""),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    assert len(" ".join(doc0)) > 2_000_000  # genuinely multi-MB

    seg = 64
    seg_rows = _apply_seg_out(d, seg).collect()
    per_doc = {}
    for r in seg_rows:
        assert r.seg_n <= seg, (r.doc_id, r.seg_no, r.seg_n)
        per_doc.setdefault(r.doc_id, []).append(r)
    # every non-empty doc shards into exactly ceil(n_tokens/seg) rows
    assert len(per_doc[0]) == math.ceil(len(doc0) / seg)
    assert len(per_doc[1]) == 1
    assert 2 not in per_doc  # zero-token doc emits no segments

    out = {r.doc_id: r for r in substring_apply_df(d, seg).collect()}
    # keep-one-copy: the interior copy (100 tokens) is cut, canonical kept
    assert out[0].n_tokens == len(doc0)
    assert out[0].n_removed_tokens == len(block)
    assert out[0].cleaned_text == " ".join(prefix + tail)
    assert out[2].n_tokens == 0 and out[2].cleaned_text == ""
    # shard-size invariance: one-segment-per-doc run is bit-identical
    whole = {r.doc_id: r for r in substring_apply_df(d, 1 << 30).collect()}
    assert out == whole


def test_substring_incremental_equals_rebuild_on_batch(spark):
    """The ingestion-time substring screen must equal the full-rebuild
    profile restricted to batch docs (batch and standing partition the
    corpus, so 'seen standing OR batch-repeat' == global count >= 2)."""
    from near_real_time_data_warehouse_spark.operators.dedup import (
        _BATCH_MOD,
        exact_substring_spans,
        substring_incremental,
    )

    sf = "/root/testdata/sf0.001"
    incr = {r["doc_id"]: r.asDict() for r in substring_incremental(spark, sf).collect()}
    full = {
        r["doc_id"]: r.asDict()
        for r in exact_substring_spans(spark, sf).collect()
        if r["doc_id"] % _BATCH_MOD == 0
    }
    assert incr == full and incr


def test_spans_profile_interval_union_property(spark):
    """Property: for ANY set of duplicated window positions, the span
    profile equals the interval union computed by a direct Python
    reference (coverage, span count, longest span)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from near_real_time_data_warehouse_spark.operators.dedup import (
        SUBSTR_K,
        _spans_profile,
    )

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.sets(st.integers(1, 60), min_size=1, max_size=12),
            min_size=1,
            max_size=4,
        )
    )
    def run(doc_positions):
        rows = [
            (doc_id, 80, pos)
            for doc_id, ps in enumerate(doc_positions)
            for pos in ps
        ]
        out = {
            r["doc_id"]: r
            for r in _spans_profile(
                spark.createDataFrame(rows, "doc_id long, n_tokens int, pos int")
            ).collect()
        }
        for doc_id, ps in enumerate(doc_positions):
            ivs = sorted((p, p + SUBSTR_K) for p in ps)
            merged = [list(ivs[0])]
            for s, e in ivs[1:]:
                if s <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
            r = out[doc_id]
            assert r["n_dup_spans"] == len(merged)
            assert r["dup_tokens"] == sum(e - s for s, e in merged)
            assert r["longest_span"] == max(e - s for s, e in merged)

    run()


def test_bloom_screen_one_sided_error_law(spark):
    """Bloom screens have a one-sided error law: exact_seen ⇒ bloom_hit
    (no false negatives, structurally), and is_false_positive ⇔
    (bloom_hit ∧ ¬exact_seen). Verified on the production filter, plus a
    deliberately saturated 2-hex-digit mini-bloom where false positives
    MUST occur — driving the branch the production occupancy makes
    astronomically rare."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    rows = dd.bloom_screen(spark, sf).collect()
    assert rows
    for r in rows:
        if r["exact_seen"]:
            assert r["bloom_hit"], "false negative — structurally impossible"
        assert r["is_false_positive"] == (r["bloom_hit"] and not r["exact_seen"])

    mini = dd._bloom_screen_on(dd._docs(spark, sf), hex_digits=2).collect()
    assert any(r["is_false_positive"] for r in mini), (
        "256-bit bloom over hundreds of docs must saturate into FPs"
    )
    for r in mini:
        if r["exact_seen"]:
            assert r["bloom_hit"]


def test_array_verification_kernels_match_exploded(spark):
    """The r14 fused array-verification kernels (the streaming folds'
    verify tail) must produce bit-identical pair/link sets to the
    exploded batch kernels they twin — over REAL fixture candidates
    (band collisions and rare-shingle collisions at sf0.001), plus a
    planted zero-overlap candidate, which the exploded path drops at its
    inner join and the array path must drop at the threshold filter."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = dd._docs(spark, sf).select("doc_id", "text")
    arrs = dd._shingle_arrays(docs).localCheckpoint()
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle")).localCheckpoint()

    # LSH band collisions — the dedup fold's candidate shape
    bands = dd._band_signatures_from_arrays(arrs)
    cand = dd._band_candidates(bands).localCheckpoint()
    assert cand.count() > 0
    got = {
        (r.doc_a, r.doc_b)
        for r in dd._jaccard_pairs_from_arrays(arrs, cand).collect()
    }
    want = {(r.doc_a, r.doc_b) for r in dd._jaccard_pairs(sh, cand).collect()}
    assert got == want and want

    # rare-shingle collisions — the containment fold's candidate shape,
    # plus one planted pair with zero shingle overlap
    df_ = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = df_.filter(
        (F.col("df") >= dd.RARE_DF_MIN) & (F.col("df") <= dd.RARE_DF_MAX)
    ).select("shingle")
    posting = sh.join(rare, "shingle", "left_semi")
    ccand = (
        posting.alias("a")
        .join(
            posting.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ids = sorted(r.doc_id for r in arrs.filter(F.col("n") > 0).select("doc_id").collect())
    no_overlap = next(
        (a, b)
        for a in ids[:5]
        for b in ids[-5:]
        if a < b
    )
    ccand = ccand.unionByName(
        spark.createDataFrame([no_overlap], "doc_a long, doc_b long")
    ).distinct().localCheckpoint()
    cols = ("doc_a", "doc_b", "n_common", "n_a", "n_b", "containment_a", "containment_b")
    got_l = {
        tuple(r[c] for c in cols)
        for r in dd.verified_containment_from_arrays(arrs, ccand).collect()
    }
    want_l = {
        tuple(r[c] for c in cols)
        for r in dd.verified_containment(sh, ccand).collect()
    }
    assert got_l == want_l and want_l


def test_pagerank_driver_path_matches_distributed(spark, monkeypatch):
    """The r14 driver-resolved PageRank must be bit-equal to the
    distributed loop — including multiplicity in the degree (pairs fed
    as-is), endpoints outside the vertex universe (rankless but mass-
    absorbing), and the passive closed form."""
    from near_real_time_data_warehouse_spark.operators import dedup

    # vertices 0..9; edges among 0..5 plus one edge touching 99 (an
    # endpoint OUTSIDE the vertex universe) and one duplicated pair
    raw = [(0, 1), (1, 2), (0, 2), (3, 4), (3, 4), (5, 99)]
    pairs = spark.createDataFrame(raw, "doc_a long, doc_b long")
    vertices = spark.range(10).withColumnRenamed("id", "doc_id")
    got = {
        (r.doc_id, r.degree, r.rank)
        for r in dedup.pagerank_stats(vertices, pairs).collect()
    }
    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
    want = {
        (r.doc_id, r.degree, r.rank)
        for r in dedup.pagerank_stats(vertices, pairs).collect()
    }
    assert got == want
    assert len(got) == 10


def test_unified_array_sketch_derivations_match_direct_builds(spark):
    """r14 (second pass): every shingle artifact now derives from ONE
    materialized per-doc array sketch. The derived exploded form, the
    sig/band chain over the memoized sketch, and the jaccard-bearing
    array verify must be bit-equal to the direct builds they replaced."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark import memo
    from near_real_time_data_warehouse_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    memo.clear("dedup")
    docs = dd._docs(spark, sf).select("doc_id", "text")

    # 1. derived exploded form == direct exploded build
    got_sh = {
        (r.doc_id, r.shingle)
        for r in dd._shingles_materialized(spark, sf).collect()
    }
    want_sh = {(r.doc_id, r.shingle) for r in dd._shingles(docs).collect()}
    assert got_sh == want_sh and want_sh

    # 2. memoized sig/band chain == direct from-docs build
    got_b = {
        (r.doc_id, r.band, r.band_sig)
        for r in dd._bands_materialized(spark, sf).collect()
    }
    want_b = {
        (r.doc_id, r.band, r.band_sig)
        for r in dd._band_signatures_from_docs(docs).collect()
    }
    assert got_b == want_b and want_b

    # 3. jaccard-bearing array verify == exploded verify, values included
    cand = dd._band_candidates(dd._bands_materialized(spark, sf)).localCheckpoint()
    assert cand.count() > 0
    arrs = dd._arrays_materialized(spark, sf)
    sh = dd._shingles_materialized(spark, sf)
    got_v = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dd._verify_jaccard_from_arrays(arrs, cand).collect()
    }
    want_v = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dd._verify_jaccard(sh, cand).collect()
    }
    assert got_v == want_v and want_v
