"""Property-based tests (hypothesis) for the two kernels with the most
subtle failure modes:

- iterative connected components vs a pure-Python union-find reference —
  random graphs probe convergence/termination cases (chains, stars,
  singletons, self-loops, duplicate edges) that fixed fixtures miss;
- SimHash Hamming banding vs brute-force — the pigeonhole argument
  ("≤3 flips leave ≥1 of 4 bands untouched") must hold for EVERY 32-bit
  value pair, not just corpus-derived fingerprints.

Examples are kept tiny (≤16 nodes / ≤20 fingerprints) so each Spark
round-trip stays sub-second; max_examples is tuned to keep the module
under a minute.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators.dedup import (
    HAMMING_THRESHOLD,
    _simhash_banded_pairs,
    connected_components,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _union_find_components(nodes: set[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        roots.setdefault(r, n)
        roots[r] = min(roots[r], n)
    return {n: roots[find(n)] for n in nodes}


@given(
    n_nodes=st.integers(min_value=1, max_value=16),
    edge_picks=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=20
    ),
)
@_SETTINGS
def test_connected_components_matches_union_find(spark, n_nodes, edge_picks):
    nodes = set(range(n_nodes))
    edges = [(a % n_nodes, b % n_nodes) for a, b in edge_picks]
    want = _union_find_components(nodes, edges)

    vertices = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    sym = edges + [(b, a) for a, b in edges]
    edge_df = spark.createDataFrame(sym or [], "src long, dst long")
    # driver-side union-find fast path (default cap)
    got = {
        r.doc_id: r.component
        for r in connected_components(vertices, edge_df).collect()
    }
    assert got == want
    # distributed label-propagation path (cap forced to 0) — identical
    from near_real_time_data_warehouse_spark.operators import dedup

    # (@given rejects function-scoped fixtures, hence the context form)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
        got_dist = {
            r.doc_id: r.component
            for r in connected_components(vertices, edge_df).collect()
        }
    assert got_dist == want


@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=2**32 - 1),
        min_size=2,
        max_size=20,
        unique=True,
    )
)
@_SETTINGS
def test_simhash_banding_finds_exact_hamming_pairs(spark, hashes):
    sh = spark.createDataFrame(list(enumerate(hashes)), "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in _simhash_banded_pairs(sh).collect()
    }
    want = {
        (i, j, (hashes[i] ^ hashes[j]).bit_count())
        for i in range(len(hashes))
        for j in range(i + 1, len(hashes))
        if (hashes[i] ^ hashes[j]).bit_count() <= HAMMING_THRESHOLD
    }
    assert got == want


def test_banding_boundary_exactly_threshold_plus_one(spark):
    """Deterministic boundary: Hamming == threshold+1 pairs may collide on
    a band but must be filtered; Hamming == threshold pairs must survive."""
    base = 0x12345678
    at = base ^ ((1 << 31) | (1 << 15) | (1 << 7))  # 3 flips, 3 bands
    over = at ^ (1 << 23)  # 4th flip, 4th band
    sh = spark.createDataFrame(
        [(0, base), (1, at), (2, over)], "doc_id long, simhash long"
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming for r in _simhash_banded_pairs(sh).collect()
    }
    assert pairs.get((0, 1)) == HAMMING_THRESHOLD
    assert (0, 2) not in pairs  # hamming 4: dropped by the verify
    assert pairs.get((1, 2)) == 1


def _py_scd2(observations):
    """Pure-Python SCD2 reference: collapse same-(key,ts) by min tie,
    compact no-op changes, emit versions with lead validity."""
    from collections import defaultdict

    by_key = defaultdict(dict)  # key -> ts -> (tie, attr)
    for k, ts, attr, tie in observations:
        cur = by_key[k].get(ts)
        if cur is None or tie < cur[0]:
            by_key[k][ts] = (tie, attr)
    out = {}
    for k, m in by_key.items():
        seq = [(ts, attr) for ts, (_, attr) in sorted(m.items())]
        compacted = [x for i, x in enumerate(seq) if i == 0 or x[1] != seq[i - 1][1]]
        for v, (ts, attr) in enumerate(compacted, start=1):
            nxt = compacted[v][0] if v < len(compacted) else None
            out[(k, v)] = (ts, nxt, attr, nxt is None)
    return out


@given(
    obs=st.lists(
        st.tuples(
            st.integers(0, 3),              # key
            st.integers(0, 6),              # ts (day number)
            st.sampled_from(["A", "B", "C"]),  # attr
        ),
        min_size=1,
        max_size=24,
    ),
    cut=st.integers(1, 6),
)
@_SETTINGS
def test_scd2_full_and_incremental_match_python_reference(spark, obs, cut):
    """scd2_versions matches the pure-Python model on adversarial feeds
    (same-day collisions, flip-flops), and applying the feed in two
    time-partitioned batches through scd2_apply_increment lands on the
    identical history."""
    import datetime as dtm

    from near_real_time_data_warehouse_spark.operators.scd import (
        scd2_apply_increment,
        scd2_versions,
    )

    rows = [
        (k, dtm.date(2024, 1, 1 + ts), attr, i)  # unique tie per observation
        for i, (k, ts, attr) in enumerate(obs)
    ]
    want = _py_scd2([(k, ts, a, t) for (k, ts, a, t) in rows])

    schema = "k long, ts date, attr string, tie long"
    feed = spark.createDataFrame(rows, schema)
    full = {
        (r.k, r.version_no): (r.valid_from, r.valid_to, r.attr, r.is_current)
        for r in scd2_versions(feed, "k", "ts", "attr", "tie").collect()
    }
    assert full == want

    # boundary-INCLUSIVE split: cut-day observations are applied in the
    # base AND re-delivered in the increment — the at-or-after contract's
    # equality edge (round-2 advisor's duplicate-(key, ts) finding) plus
    # at-least-once re-delivery; the tie-carrying re-collapse must make
    # both exact.
    cut_date = dtm.date(2024, 1, 1 + cut)
    early = [r for r in rows if r[1] <= cut_date]
    late = [r for r in rows if r[1] >= cut_date]
    if early and late:
        h = scd2_versions(spark.createDataFrame(early, schema), "k", "ts", "attr", "tie")
        h = scd2_apply_increment(h, spark.createDataFrame(late, schema), "k", "ts", "attr", "tie")
        inc = {
            (r.k, r.version_no): (r.valid_from, r.valid_to, r.attr, r.is_current)
            for r in h.collect()
        }
        assert inc == want


@given(
    obs=st.lists(
        st.tuples(
            st.integers(1, 3),
            st.integers(0, 9),
            st.sampled_from(["A", "B", "C"]),
        ),
        min_size=2,
        max_size=24,
    ),
    assign=st.lists(st.integers(0, 2), min_size=24, max_size=24),
)
@_SETTINGS
def test_scd2_observation_store_any_batch_order(spark, obs, assign):
    """The observation store is exact under ARBITRARY batch order:
    observations dealt into up to three batches by Hypothesis (so
    retro-inserts, interleavings, and no-op resurrections all occur)
    and applied in that order land bit-equal to the one-shot recompute."""
    import datetime as dtm

    from near_real_time_data_warehouse_spark.operators.scd import (
        scd2_obs_apply,
        scd2_observations,
        scd2_versions_from_observations,
    )

    rows = [
        (k, dtm.date(2024, 1, 1 + ts), attr, i)
        for i, (k, ts, attr) in enumerate(obs)
    ]
    want = _py_scd2(rows)
    schema = "k long, ts date, attr string, tie long"
    batches = [[], [], []]
    for r, b in zip(rows, assign):
        batches[b].append(r)
    batches = [b for b in batches if b]
    store = scd2_observations(
        spark.createDataFrame(batches[0], schema), "k", "ts", "attr", "tie"
    )
    for b in batches[1:]:
        store = scd2_obs_apply(
            store, spark.createDataFrame(b, schema), "k", "ts", "attr", "tie"
        )
    got = {
        (r.k, r.version_no): (r.valid_from, r.valid_to, r.attr, r.is_current)
        for r in scd2_versions_from_observations(store, "k", "ts", "attr").collect()
    }
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1)),
        min_size=2,
        max_size=24,
        unique=True,
    )
)
@_SETTINGS
def test_zvalue_interleave_matches_python(spark, pairs):
    """Morton coding must place bit i of column k at position i·n+k for
    arbitrary values; anchoring (0, 65535) in the set makes the max
    scaling the identity so the pure interleave is exposed."""
    from near_real_time_data_warehouse_spark.operators.layout import with_zvalue

    pairs = list({(0, 0), (65535, 65535)} | set(pairs))

    def morton(x: int, y: int) -> int:
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a long, b long")
    got = {(r.a, r.b): r.zval for r in with_zvalue(df, ["a", "b"]).collect()}
    assert got == {(a, b): morton(a, b) for a, b in pairs}


def test_cdc_chunks_partition_token_range_random_corpus(spark):
    """Property (pure-Python reference, 60 random docs, one Spark pass):
    CDC chunks partition each doc's token positions exactly — contiguous,
    non-overlapping, complete — and every boundary is where the reference
    rolling-hash says it is."""
    import hashlib
    import random

    from near_real_time_data_warehouse_spark.operators.corpus import (
        CDC_K,
        CDC_MOD,
        cdc_chunks_df,
    )

    rng = random.Random(421)
    words = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 80))))
        for i in range(60)
    ]

    def ref_chunks(text):
        toks = text.split()
        bnd = []
        for i in range(1, len(toks) + 1):
            if i >= CDC_K:
                h = int(
                    hashlib.md5(" ".join(toks[i - 3 : i]).encode()).hexdigest()[:15], 16
                ) % CDC_MOD
                bnd.append(1 if h == 0 else 0)
            else:
                bnd.append(0)
        out, cid = {}, 0
        for pos in range(len(toks)):
            if pos > 0 and bnd[pos - 1]:
                cid += 1
            out.setdefault(cid, []).append(pos)
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in cdc_chunks_df(df).collect():
        got.setdefault(r.doc_id, {})[r.chunk_id] = (r.start_pos, r.end_pos, r.n_tokens)
    for doc_id, text in docs:
        expect = ref_chunks(text)
        assert set(got[doc_id]) == set(expect), doc_id
        for cid, poss in expect.items():
            assert got[doc_id][cid] == (poss[0], poss[-1], len(poss)), (doc_id, cid)


def test_bigram_surprisal_matches_python_reference_random_corpus(spark):
    """Property: the all-integer bigram surprisal equals a direct Python
    reimplementation on a seeded random corpus (totals + backoff counts
    per doc)."""
    import random

    from near_real_time_data_warehouse_spark.operators.text import (
        BACKOFF_PENALTY_BITS,
        BIGRAM_MIN_COUNT,
        bigram_surprisal_df,
    )

    rng = random.Random(77)
    words = [f"t{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 40))))
        for i in range(40)
    ]
    toks = {i: t.split() for i, t in docs}
    c1, c2, cctx = {}, {}, {}
    n_total = 0
    for ts in toks.values():
        for t in ts:
            c1[t] = c1.get(t, 0) + 1
            n_total += 1
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            cctx[a] = cctx.get(a, 0) + 1
    bits = lambda x: len(bin(x)) - 2  # noqa: E731

    expect = {}
    for i, ts in toks.items():
        total = backoff = 0
        for pos, t in enumerate(ts):
            if pos == 0:
                total += bits(n_total) - bits(c1[t])
            elif c2[(ts[pos - 1], t)] >= BIGRAM_MIN_COUNT:
                total += bits(cctx[ts[pos - 1]]) - bits(c2[(ts[pos - 1], t)])
            else:
                total += BACKOFF_PENALTY_BITS + bits(n_total) - bits(c1[t])
                backoff += 1
        expect[i] = (len(ts), backoff, total)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_backoff_tokens, r.total_surprisal_bits)
        for r in bigram_surprisal_df(df).collect()
    }
    assert got == expect


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        max_size=60,
    )
)
def test_union_find_min_matches_bruteforce(edges):
    """_cc_driver_resolve with identity seeds (how the quotient merge
    calls it) must agree with a brute-force reachability closure: every
    touched label maps to the minimum label of its connected component."""
    from near_real_time_data_warehouse_spark.operators.dedup import _cc_driver_resolve

    edges = [(a, b) for a, b in edges if a != b]
    touched = sorted({v for e in edges for v in e})
    got = dict(_cc_driver_resolve(edges, [(v, v) for v in touched]))
    # brute force: adjacency closure over the touched vertices
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    seen = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x])
        m = min(comp)
        seen |= comp
        for x in comp:
            want[x] = m
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
def test_bpe_merge_round_matches_reference_greedy(spark, words):
    """The three-window greedy merge must equal the classic sequential
    reference (scan left to right, merge the best pair, skip the merged
    position) on arbitrary small vocabularies over {a, b} — the alphabet
    that maximizes overlapping-run cases."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark.operators import text as T

    vocab_rows = [(w, i + 1) for i, w in enumerate(words)]
    vocab = spark.createDataFrame(vocab_rows, "tok string, freq long")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.col("tok").substr(i, F.lit(1)),
    )
    sym = vocab.select(
        "tok", "freq", F.posexplode(chars).alias("pos0", "sym")
    ).select("tok", "freq", (F.col("pos0") + 1).alias("pos"), "sym")

    # reference: overlap-counted weighted pair counts → best pair →
    # sequential greedy rewrite
    counts = {}
    for w, f in vocab_rows:
        for i in range(len(w) - 1):
            counts[(w[i], w[i + 1])] = counts.get((w[i], w[i + 1]), 0) + f
    if not counts:
        import pytest

        with pytest.raises(ValueError):
            T._bpe_merge_round(sym)
        return
    # tie-break: count DESC, then (left, right) ASC
    L, R = min(p for p, c in counts.items() if c == max(counts.values()))

    def ref_merge(symbols):
        out, i = [], 0
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == L and symbols[i + 1] == R:
                out.append(L + R)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        return out

    want = {w: ref_merge(list(w)) for w, _ in vocab_rows}

    merged, left, right, cnt = T._bpe_merge_round(sym)
    assert (left, right) == (L, R)
    assert cnt == counts[(L, R)]
    got = {}
    for r in sorted(merged.collect(), key=lambda r: (r.tok, r.pos)):
        got.setdefault(r.tok, []).append(r.sym)
    assert got == want
