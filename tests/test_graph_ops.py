"""Semantic contracts for the graph operators (operators/graph.py) —
pinned against graph-theoretic invariants and a pandas recomputation,
independent of the DuckDB oracle parity that test_oracle_parity.py
already enforces."""

from __future__ import annotations

import pytest

from data_ingestion_worker_spark.operators.graph import (
    PR_SCALE,
    graph_degree_stats,
    graph_pagerank,
    graph_pagerank_adaptive,
)

SF_DIR = "/root/testdata/sf0.001"


def _pairs(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .select("l_orderkey", "l_suppkey")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey").distinct().collect()
    )


def test_pagerank_conserves_mass_and_follows_degree(spark):
    rows = graph_pagerank(spark, SF_DIR).collect()
    pairs = _pairs(spark)
    deg: dict[tuple[str, int], int] = {}
    for p in pairs:
        deg[("customer", p.o_custkey)] = \
            deg.get(("customer", p.o_custkey), 0) + 1
        deg[("supplier", p.l_suppkey)] = \
            deg.get(("supplier", p.l_suppkey), 0) + 1
    assert {(r.kind, r.key) for r in rows} == set(deg)
    total = sum(r.rank_scaled for r in rows)
    # Integer division truncates; each of the 3 iterations loses < 1
    # scaled unit per edge-contribution and per node, never gains.
    assert total <= PR_SCALE
    assert total >= PR_SCALE * 0.99
    assert all(r.rank_scaled > 0 for r in rows)
    # PageRank on an undirected graph correlates with degree: the top
    # degree quartile must out-rank the bottom quartile on average.
    ranked = sorted(rows, key=lambda r: deg[(r.kind, r.key)])
    q = len(ranked) // 4
    lo = sum(r.rank_scaled for r in ranked[:q]) / q
    hi = sum(r.rank_scaled for r in ranked[-q:]) / q
    assert hi > lo


def test_pagerank_adaptive_matches_fixed_at_same_iteration_count(spark):
    """With epsilon=0 and the cap pinned to PR_ITERATIONS, the adaptive
    loop is bit-identical to the fixed 3-iteration unroll (integer
    arithmetic — no room for drift)."""
    fixed = {(r.kind, r.key): r.rank_scaled
             for r in graph_pagerank(spark, SF_DIR).collect()}
    adaptive = {(r.kind, r.key): r.rank_scaled
                for r in graph_pagerank_adaptive(
                    spark, SF_DIR, max_iterations=3).collect()}
    assert fixed == adaptive


def test_pagerank_adaptive_early_exit_on_loose_epsilon(spark):
    """A tolerance of a full unit of mass is met after the very first
    superstep, so a cap of 6 must return the 1-superstep ranks — the
    early exit actually fires."""
    one_step = {(r.kind, r.key): r.rank_scaled
                for r in graph_pagerank_adaptive(
                    spark, SF_DIR, max_iterations=1).collect()}
    loose = {(r.kind, r.key): r.rank_scaled
             for r in graph_pagerank_adaptive(
                 spark, SF_DIR, max_iterations=6,
                 epsilon_scaled=PR_SCALE).collect()}
    assert loose == one_step


def test_degree_stats_sum_to_twice_the_edge_count(spark):
    rows = graph_degree_stats(spark, SF_DIR).collect()
    pairs = _pairs(spark)
    # Each undirected edge contributes 1 to a customer degree and 1 to
    # a supplier degree.
    assert sum(r.deg * r.n_nodes for r in rows) == 2 * len(pairs)
    by_kind = {}
    for r in rows:
        assert r.deg >= 1
        by_kind[r.kind] = by_kind.get(r.kind, 0) + r.n_nodes
    assert by_kind["customer"] == len({p.o_custkey for p in pairs})
    assert by_kind["supplier"] == len({p.l_suppkey for p in pairs})


def test_triangle_count_matches_bruteforce(spark):
    """Degree-ordered orientation must count exactly the triangles a
    naive common-neighbor enumeration finds (per node), and report the
    co-order graph degree."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from data_ingestion_worker_spark.operators.graph import (
        graph_triangle_count,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .select("l_orderkey", "l_partkey").distinct().collect()
    by_order: dict[int, set[int]] = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    edges: set[tuple[int, int]] = set()
    for supps in by_order.values():
        edges.update(combinations(sorted(supps), 2))
    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tris = {
        tuple(sorted((u, v, w)))
        for u, v in edges
        for w in adj[u] & adj[v]
    }
    per: Counter = Counter(n for t in tris for n in t)
    rows = graph_triangle_count(spark, SF_DIR).collect()
    assert {r.partkey: r.n_triangles for r in rows} \
        == {n: per.get(n, 0) for n in adj}
    assert {r.partkey: r.degree for r in rows} \
        == {n: len(adj[n]) for n in adj}
    assert tris, "fixture produced no triangles - test is vacuous"


def test_label_propagation_labels_are_member_seeded(spark, sf_dir):
    """Every community label is a node id that exists in the graph, and
    the argmax tie-break makes two runs bit-identical."""
    from data_ingestion_worker_spark.operators.graph import (
        graph_label_propagation,
    )

    rows = graph_label_propagation(spark, sf_dir).collect()
    node_ids = {
        (2 * r.key if r.kind == "customer" else 2 * r.key + 1)
        for r in rows
    }
    labels = {r.community for r in rows}
    assert labels <= node_ids, "community label is not a member node id"
    again = {(r.kind, r.key): r.community
             for r in graph_label_propagation(spark, sf_dir).collect()}
    assert again == {(r.kind, r.key): r.community for r in rows}


def test_windowed_topk_is_bounded_per_hour(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_worker_spark.operators.events import (
        ev_windowed_topk,
    )

    rows = ev_windowed_topk(spark, sf_dir).collect()
    per_hour = defaultdict(list)
    for r in rows:
        per_hour[r.bucket_start].append(r)
    for hour, rs in per_hour.items():
        assert 1 <= len(rs) <= 2
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        if len(rs) == 2:
            assert rs[0].total_value > rs[1].total_value or (
                rs[0].total_value == rs[1].total_value
                and rs[0].event_type < rs[1].event_type
            )


def test_assortativity_matches_python_pearson(spark, sf_dir):
    """The assortativity recomputed from the collected edge list with
    exact Python integers must match, and lie in [-1, 1]."""
    import math

    from data_ingestion_worker_spark.operators.graph import (
        _edges,
        graph_degree_assortativity,
    )

    r = graph_degree_assortativity(spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    edges = [(e.src, e.dst) for e in _edges(spark, sf_dir).collect()]
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    xs = [deg[s] for s, d in edges]
    ys = [deg[d] for s, d in edges]
    n = len(edges)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    expect = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy))
    assert r.n_edges == n
    assert abs(r.assortativity - expect) < 1e-5
    assert -1.0 <= r.assortativity <= 1.0


def test_k_core_matches_python_peeling(spark):
    """graph_k_core equals a pure-Python mirror of the same bounded
    peeling (k = half the integer mean degree, KCORE_ROUNDS rounds),
    node for node and degree for degree."""
    from data_ingestion_worker_spark.operators.graph import (
        KCORE_ROUNDS,
        graph_k_core,
    )

    pairs = _pairs(spark)
    edges = set()
    for p in pairs:
        c, s = p.o_custkey * 2, p.l_suppkey * 2 + 1
        edges.add((c, s))
        edges.add((s, c))

    def degrees(es):
        d: dict[int, int] = {}
        for src, _ in es:
            d[src] = d.get(src, 0) + 1
        return d

    deg0 = degrees(edges)
    k = sum(deg0.values()) // (len(deg0) * 2)
    es = edges
    deg = deg0
    for _ in range(KCORE_ROUNDS):
        keep = {n for n, d in deg.items() if d >= k}
        es = {(s, t) for s, t in es if s in keep and t in keep}
        deg = degrees(es)

    got = {(r.kind, r.key): r.core_deg
           for r in graph_k_core(spark, SF_DIR).collect()}
    want = {("customer" if n % 2 == 0 else "supplier", n // 2): d
            for n, d in deg.items()}
    assert got == want
    assert 0 < len(got) < len(deg0), "peeling must bite but not collapse"


def test_bfs_distance_matches_python_bfs(spark):
    """graph_bfs_distance equals a pure-Python BFS from the same seed,
    truncated at BFS_MAX_HOPS."""
    from collections import deque

    from data_ingestion_worker_spark.operators.graph import (
        BFS_MAX_HOPS,
        graph_bfs_distance,
    )

    pairs = _pairs(spark)
    adj: dict[int, set[int]] = {}
    for p in pairs:
        c, s = p.o_custkey * 2, p.l_suppkey * 2 + 1
        adj.setdefault(c, set()).add(s)
        adj.setdefault(s, set()).add(c)
    seed = min(r.s_suppkey for r in spark.read.parquet(
        f"{SF_DIR}/supplier.parquet").select("s_suppkey").collect()) * 2 + 1
    dist = {seed: 0}
    q = deque([seed])
    while q:
        n = q.popleft()
        if dist[n] == BFS_MAX_HOPS:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                q.append(m)

    got = {(r.kind, r.key): r.dist
           for r in graph_bfs_distance(spark, SF_DIR).collect()}
    want = {("customer" if n % 2 == 0 else "supplier", n // 2): d
            for n, d in dist.items()}
    assert got == want
    assert got[("supplier", seed // 2)] == 0


def test_weighted_pagerank_conserves_mass_and_differs_from_unweighted(
        spark):
    """Weighted PageRank keeps the integer-mass invariants of the
    unweighted walk (same node set, bounded truncation loss) while the
    co-order weights actually change the ranking — otherwise the weight
    plumbing is dead."""
    from data_ingestion_worker_spark.operators.graph import (
        graph_pagerank_weighted,
    )

    wr = {(r.kind, r.key): r.rank_scaled
          for r in graph_pagerank_weighted(spark, SF_DIR).collect()}
    ur = {(r.kind, r.key): r.rank_scaled
          for r in graph_pagerank(spark, SF_DIR).collect()}
    assert set(wr) == set(ur)
    total = sum(wr.values())
    assert PR_SCALE * 0.99 <= total <= PR_SCALE
    assert all(v > 0 for v in wr.values())
    assert any(wr[k] != ur[k] for k in wr), \
        "weights changed nothing — contribution split is ignoring them"


@pytest.fixture(scope="module")
def posting_lists(spark, sf_dir):
    """The hub-cut posting lists of the link-prediction indices, in
    plain Python: each customer's sorted supplier list, for customers
    with at most ``CN_HUB_CUTOFF`` suppliers."""
    from collections import defaultdict

    from data_ingestion_worker_spark.operators.graph import CN_HUB_CUTOFF
    from data_ingestion_worker_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey").collect()
    od = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey").collect()
    cust_of = {r.o_orderkey: r.o_custkey for r in od}
    by_cust: dict[int, set] = defaultdict(set)
    for r in li:
        by_cust[cust_of[r.l_orderkey]].add(r.l_suppkey)
    return [sorted(s) for s in by_cust.values() if len(s) <= CN_HUB_CUTOFF]


def _pair_scores(posting_lists, weight=lambda d: 0):
    """(s1, s2) -> [shared customers, Σ weight(bucket size)] over every
    supplier pair inside one posting list."""
    from collections import defaultdict

    scores: dict = defaultdict(lambda: [0, 0])
    for ss in posting_lists:
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                scores[(a, b)][0] += 1
                scores[(a, b)][1] += weight(len(ss))
    return scores


def _supplier_degrees(posting_lists):
    from collections import Counter

    return Counter(s for ss in posting_lists for s in ss)


def _top_k(rows, score):
    """The first CN_TOP_K rows under (score desc, s1, s2)."""
    from data_ingestion_worker_spark.operators.graph import CN_TOP_K

    return sorted(rows, key=lambda t: (-score(t), t[0], t[1]))[:CN_TOP_K]


def test_link_prediction_ra_matches_python_recompute(spark, sf_dir,
                                                     posting_lists):
    """RA scores recomputed with plain-Python dicts over the same
    hub-cut bipartite projection; the returned top-k must equal the
    python top-k under the same (score desc, s1, s2) order."""
    from data_ingestion_worker_spark.operators.graph import (
        RA_SCALE, graph_link_prediction_ra,
    )

    got = [(r.s1, r.s2, r.n_common, r.ra_scaled)
           for r in graph_link_prediction_ra(spark, sf_dir).collect()]
    scores = _pair_scores(posting_lists, lambda d: RA_SCALE // d)
    assert got == _top_k(
        [(a, b, n, ra) for (a, b), (n, ra) in scores.items()],
        lambda t: t[3])


def test_link_prediction_aa_matches_python_recompute(spark, sf_dir,
                                                     posting_lists):
    """Adamic–Adar recomputed with plain-Python dicts: same hub-cut
    projection, same precomputed integer weight table — the returned
    top-k must equal the python top-k under (score desc, s1, s2)."""
    from data_ingestion_worker_spark.operators.graph import (
        _AA_WEIGHTS, graph_link_prediction_aa,
    )

    got = [(r.s1, r.s2, r.n_common, r.aa_scaled)
           for r in graph_link_prediction_aa(spark, sf_dir).collect()]
    scores = _pair_scores(posting_lists, lambda d: _AA_WEIGHTS[d - 2])
    assert got == _top_k(
        [(a, b, n, aa) for (a, b), (n, aa) in scores.items()],
        lambda t: t[3])


def test_common_neighbors_matches_python_recompute(spark, sf_dir,
                                                   posting_lists):
    """Common-neighbor Jaccard over the same hub-cut posting lists, with
    supplier degrees counted on the kept graph; the score is the
    double-precision ratio floored to 4 decimals, as in the query."""
    import math

    from data_ingestion_worker_spark.operators.graph import (
        graph_common_neighbors_topk,
    )

    got = [(r.s1, r.s2, r.inter, r.jaccard)
           for r in graph_common_neighbors_topk(spark, sf_dir).collect()]
    deg = _supplier_degrees(posting_lists)
    rows = [
        (a, b, n,
         math.floor(n / (deg[a] + deg[b] - n) * 10000.0) / 10000.0)
        for (a, b), (n, _) in _pair_scores(posting_lists).items()
    ]
    assert got == _top_k(rows, lambda t: t[3])


def test_link_prediction_jaccard_matches_python_recompute(spark, sf_dir,
                                                          posting_lists):
    """Integer ppm Jaccard over the same hub-cut posting lists:
    ``(10^6 * common) // (d1 + d2 - common)`` with kept-graph degrees."""
    from data_ingestion_worker_spark.operators.graph import (
        graph_link_prediction_jaccard,
    )

    got = [tuple(r) for r in
           graph_link_prediction_jaccard(spark, sf_dir).collect()]
    deg = _supplier_degrees(posting_lists)
    rows = [
        (a, b, n, deg[a], deg[b],
         (10**6 * n) // (deg[a] + deg[b] - n))
        for (a, b), (n, _) in _pair_scores(posting_lists).items()
    ]
    assert got == _top_k(rows, lambda t: t[5])


def test_hits_matches_python_recompute(spark):
    from data_ingestion_worker_spark.operators.graph import (
        HITS_ITERATIONS, HITS_SCALE, graph_hits,
    )

    rows = graph_hits(spark, SF_DIR).collect()
    pairs = [(r.o_custkey, r.l_suppkey) for r in _pairs(spark)]
    hubs = {c: HITS_SCALE for c, _ in pairs}
    auths: dict[int, int] = {}
    for _ in range(HITS_ITERATIONS):
        raw_a: dict[int, int] = {}
        for c, s in pairs:
            raw_a[s] = raw_a.get(s, 0) + hubs[c]
        tot = sum(raw_a.values())
        auths = {s: (v * HITS_SCALE) // tot for s, v in raw_a.items()}
        raw_h: dict[int, int] = {}
        for c, s in pairs:
            raw_h[c] = raw_h.get(c, 0) + auths[s]
        tot = sum(raw_h.values())
        hubs = {c: (v * HITS_SCALE) // tot for c, v in raw_h.items()}
    got_h = {r.key: r.score_scaled for r in rows if r.kind == "hub"}
    got_a = {r.key: r.score_scaled for r in rows if r.kind == "authority"}
    assert got_h == hubs
    assert got_a == auths


def test_closeness_landmarks_matches_python_bfs(spark):
    from collections import deque

    from data_ingestion_worker_spark.operators.graph import (
        CLOSENESS_LANDMARKS, CLOSENESS_MAX_HOPS, graph_closeness_landmarks,
    )

    rows = graph_closeness_landmarks(spark, SF_DIR).collect()
    adj: dict[int, set[int]] = {}
    for r in _pairs(spark):
        c, s = r.o_custkey * 2, r.l_suppkey * 2 + 1
        adj.setdefault(c, set()).add(s)
        adj.setdefault(s, set()).add(c)
    deg = sorted(adj, key=lambda n: (-len(adj[n]), n))
    landmarks = deg[:CLOSENESS_LANDMARKS]
    dists: dict[int, dict[int, int]] = {}
    for lm in landmarks:
        seen = {lm: 0}
        q = deque([lm])
        while q:
            u = q.popleft()
            if seen[u] >= CLOSENESS_MAX_HOPS:
                continue
            for v in adj[u]:
                if v not in seen:
                    seen[v] = seen[u] + 1
                    q.append(v)
        for n, d in seen.items():
            dists.setdefault(n, {})[lm] = d
    got = {(r.kind, r.key): r for r in rows}
    assert len(got) == len(dists)
    for n, per_lm in dists.items():
        r = got[("customer" if n % 2 == 0 else "supplier", n // 2)]
        sum_d = sum(per_lm.values())
        assert r.n_reached == len(per_lm)
        assert r.sum_dist == sum_d
        assert r.harmonic_micro == sum(
            1000000 // d for d in per_lm.values() if d > 0
        )
        expect_c = (len(per_lm) * 1000000) // sum_d if sum_d > 0 else None
        assert r.closeness_micro == expect_c


def test_doulion_relative_error(spark, sf_dir):
    """DOULION estimator accuracy contract: the hash-gated 25% edge
    sample's 1/p³-scaled triangle estimate stays within 5% of the exact
    count (measured 0.04% at sf0.001, 1.2% at sf0.01 — deterministic
    given the md5 coin, so the bound is stable, not flaky)."""
    from pyspark.sql import functions as F

    from data_ingestion_worker_spark.operators.graph import (
        DOULION_P_MILLI,
        graph_triangle_count,
        graph_triangle_doulion,
    )

    est = graph_triangle_doulion(spark, sf_dir).collect()[0]
    exact3 = graph_triangle_count(spark, sf_dir) \
        .agg(F.sum("n_triangles")).collect()[0][0]
    exact = exact3 // 3                       # per-node counts each 3x
    assert exact3 % 3 == 0
    assert abs(est.tri_est - exact) <= 0.05 * exact
    # The sample is genuinely ~p of the edges (binomial concentration;
    # deterministic for the fixture).
    frac = est.n_edges_kept / est.n_edges
    assert abs(frac - DOULION_P_MILLI / 1000.0) < 0.05


def test_sssp_weighted_matches_python_bellman_ford(spark, sf_dir):
    """K-round Bellman-Ford recomputed in plain Python dictionaries over
    the same weighted edge list: identical distance map.  Also pins the
    triangle inequality within the explored set (a relaxation that
    still improves at round K would mean the operator under-iterated —
    allowed by the bounded contract, but it must match the oracle's
    bound exactly, which the dict recompute enforces)."""
    from data_ingestion_worker_spark.operators.graph import (
        SSSP_ROUNDS, _weighted_edges, graph_sssp_weighted,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {(r.kind, r.key): r.dist
           for r in graph_sssp_weighted(spark, sf_dir).collect()}

    edges = [(r.src, r.dst, r.w)
             for r in _weighted_edges(spark, sf_dir).collect()]
    seed = load_table(spark, sf_dir, "supplier").agg(
        {"s_suppkey": "min"}).collect()[0][0] * 2 + 1
    dist = {seed: 0}
    for _ in range(SSSP_ROUNDS):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    expect = {
        ("customer" if n % 2 == 0 else "supplier", n // 2): v
        for n, v in dist.items()
    }
    assert got == expect
    assert got[("supplier", seed // 2)] == 0
    assert all(v >= 0 for v in got.values())


def test_random_walk_follows_edges_and_hash_argmin(spark, sf_dir):
    """Every consecutive (step, step+1) pair must be a real edge, and
    each transition must be the true hash-argmin over the current
    node's neighbors (recomputed with hashlib)."""
    import hashlib
    from collections import defaultdict

    from data_ingestion_worker_spark.operators.graph import (
        WALK_SEED_MOD, WALK_STEPS, _edges, graph_random_walk_sample,
    )

    rows = graph_random_walk_sample(spark, sf_dir).collect()
    assert rows
    adj = defaultdict(set)
    for r in _edges(spark, sf_dir).collect():
        adj[r.src].add(r.dst)

    def node_id(r):
        return r.key * 2 + (0 if r.kind == "customer" else 1)

    walks = defaultdict(dict)
    for r in rows:
        walks[r.seed][r.step] = node_id(r)
    for seed, path in walks.items():
        assert seed % 2 == 1 and (seed // 2) % WALK_SEED_MOD == 0
        assert set(path) == set(range(WALK_STEPS + 1))
        assert path[0] == seed
        for s in range(1, WALK_STEPS + 1):
            cur, nxt = path[s - 1], path[s]
            neigh = adj[cur]
            assert nxt in neigh, (seed, s)
            def key(d):
                h = int(hashlib.md5(
                    f"{seed}:{s}:{d}".encode()).hexdigest()[:15], 16)
                return f"{h:019d}:{d}"
            assert key(nxt) == min(key(d) for d in neigh), (seed, s)


def test_conductance_matches_python_and_bounds(spark, sf_dir):
    """Conductance recomputed from the operator's own labels with plain
    Python counting; 0 ≤ φ ≤ 1e6 ppm, cut symmetry (Σ cut over
    communities is even: each cut edge is counted once per side), and
    consistency with modularity's per-community volumes."""
    from collections import Counter

    from data_ingestion_worker_spark.operators.graph import (
        _edges, _lpa_labels, graph_community_conductance,
    )

    got = {r.community: r
           for r in graph_community_conductance(spark, sf_dir).collect()}
    edges = [(r.src, r.dst) for r in _edges(spark, sf_dir).collect()]
    labels = {r.node: r.label
              for r in _lpa_labels(
                  _edges(spark, sf_dir)).collect()}
    vol: Counter = Counter()
    intra: Counter = Counter()
    for s, d in edges:
        c = labels[s]
        vol[c] += 1
        if labels[d] == c:
            intra[c] += 1
    dd = sum(vol.values())
    expect = {}
    for c, v in vol.items():
        denom = min(v, dd - v)
        if denom > 0:
            expect[c] = (v, v - intra[c],
                         (1000000 * (v - intra[c])) // denom)
    assert {c: (r.vol, r.cut_edges, r.conductance_ppm)
            for c, r in got.items()} == expect
    for r in got.values():
        assert 0 <= r.conductance_ppm <= 1000000
    assert sum(r.cut_edges for r in got.values()) % 2 == 0


def test_edge_support_and_ktruss_peel_match_python(spark):
    """_edge_support must equal a from-scratch per-edge triangle count
    on a handcrafted graph, and the bounded peel must equal the same
    rounds applied by a naive Python reference — including the edge
    that survives round 1 but dies in round 2 because its supporting
    triangles lost edges (the reason k-truss needs recomputation)."""
    from itertools import combinations

    from data_ingestion_worker_spark.operators.graph import (
        KTRUSS_K,
        KTRUSS_ROUNDS,
        _edge_support,
    )

    # K4 on {1,2,3,4} (every edge in 2 triangles) plus a triangle
    # {4,5,6} hanging off it and a pendant edge (6,7).
    edges = sorted(
        list(combinations([1, 2, 3, 4], 2)) + [(4, 5), (4, 6), (5, 6),
                                               (6, 7)])

    def py_support(es):
        s = {e: 0 for e in es}
        nodes = sorted({n for e in es for n in e})
        eset = set(es)
        for a, b, c in combinations(nodes, 3):
            if ((a, b) in eset and (a, c) in eset and (b, c) in eset):
                s[(a, b)] += 1
                s[(a, c)] += 1
                s[(b, c)] += 1
        return {e: v for e, v in s.items() if v > 0}

    df = spark.createDataFrame(edges, "u long, v long")
    got = {(r["u"], r["v"]): r["sup"]
           for r in _edge_support(df).collect()}
    assert got == py_support(edges)

    # Bounded peel, Python side.
    cur = list(edges)
    for _ in range(KTRUSS_ROUNDS):
        sup = py_support(cur)
        cur = [e for e in cur if sup.get(e, 0) >= KTRUSS_K - 2]
    # Spark side: same loop through _edge_support.
    sdf = spark.createDataFrame(edges, "u long, v long")
    import pyspark.sql.functions as SF
    for _ in range(KTRUSS_ROUNDS):
        sdf = (_edge_support(sdf.select("u", "v"))
               .filter(SF.col("sup") >= KTRUSS_K - 2))
    assert sorted((r["u"], r["v"]) for r in sdf.collect()) == cur
    # The K4 core survives; the side triangle and pendant must be gone.
    assert cur == sorted(combinations([1, 2, 3, 4], 2))


def test_orient_gives_one_arc_per_edge_from_the_smaller_endpoint(spark):
    """_orient turns each undirected edge into exactly one arc whose
    tail is the endpoint smaller by (deg, id), carrying the head's
    degree.  Hub 1 of the star has the smallest id but the largest
    degree, so degree must decide before id; the triangle edge 2—3
    ties on degree and falls back to id."""
    from collections import Counter

    from data_ingestion_worker_spark.operators.graph import _orient

    edges = [(1, 5), (1, 6), (1, 7), (1, 8), (1, 2), (1, 3), (2, 3)]
    deg_py = Counter(n for e in edges for n in e)
    deg, oriented = _orient(spark.createDataFrame(edges, "u long, v long"))
    assert {r.node: r.deg for r in deg.collect()} == deg_py
    arcs = sorted(tuple(r) for r in oriented.collect())
    assert arcs == sorted(
        (a, b, deg_py[b]) if (deg_py[a], a) < (deg_py[b], b)
        else (b, a, deg_py[a])
        for a, b in edges)
    assert (5, 1, 6) in arcs and (2, 3, 2) in arcs


def test_weighted_pagerank_equals_unweighted_at_unit_weights(spark,
                                                            tmp_path):
    """Both PageRank variants run the same superstep; only the
    contribution and degree expressions differ.  On a graph where every
    (customer, supplier) pair shares exactly one order, every weight is
    1, so the weighted degree equals the degree and the two rank maps
    must agree key for key."""
    from data_ingestion_worker_spark.operators.graph import (
        graph_pagerank_weighted,
    )

    # (order, customer, [suppliers]): no (customer, supplier) pair
    # appears in two orders.
    orders = [(1, 1, [1, 2]), (2, 2, [1]), (3, 3, [2, 3]), (4, 1, [3]),
              (5, 4, [1, 3]), (6, 2, [4])]
    spark.createDataFrame(
        [(o, c) for o, c, _ in orders], "o_orderkey long, o_custkey long"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(o, s) for o, _, ss in orders for s in ss],
        "l_orderkey long, l_suppkey long",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    sf = str(tmp_path)
    weighted = {(r.kind, r.key): r.rank_scaled
                for r in graph_pagerank_weighted(spark, sf).collect()}
    plain = {(r.kind, r.key): r.rank_scaled
             for r in graph_pagerank(spark, sf).collect()}
    assert len(plain) == 8
    assert weighted == plain


def test_frontier_keyed_by_landmark_matches_single_source(spark):
    """The shared frontier expansion keyed by ``node`` (BFS) and by
    ``(node, lm)`` with one landmark equal to the BFS seed reaches the
    same nodes at the same hop counts — on a path graph, exactly the
    first ``hops`` nodes past the seed."""
    from data_ingestion_worker_spark.operators.graph import _expand_frontier

    path = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long")
    hops = 3
    bfs = _expand_frontier(
        edges, spark.createDataFrame([(0, 0)], "node long, dist long"),
        ["node"], hops)
    multi = _expand_frontier(
        edges,
        spark.createDataFrame([(0, 0, 0)], "node long, lm long, dist long"),
        ["node", "lm"], hops)
    by_node = {r.node: r.dist for r in bfs.collect()}
    by_pair = {(r.node, r.lm): r.dist for r in multi.collect()}
    assert by_node == {n: n for n in range(hops + 1)}
    assert by_pair == {(n, 0): d for n, d in by_node.items()}
