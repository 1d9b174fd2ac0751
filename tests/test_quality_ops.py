"""Contracts for the corpus-quality layer beyond oracle parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_worker_spark.operators.dedup import dedup_lsh_recall
from data_ingestion_worker_spark.operators.quality import (
    MIN_TOKENS,
    doc_unigram_logprob,
    pipeline_filter_stats,
    pipeline_pretrain_filter,
)
from data_ingestion_worker_spark.operators.similarity import (
    KM_K,
    SEM_TAU,
    cluster_kmeans_embeddings,
    dedup_semantic,
    hybrid_search_rerank,
)


def test_lsh_recall_metrics_are_probabilities(spark, sf_dir):
    r = dedup_lsh_recall(spark, sf_dir).collect()[0]
    assert r.n_hits <= min(r.n_exact, r.n_lsh)
    assert 0.0 <= r.precision <= 1.0
    assert 0.0 <= r.recall <= 1.0
    # the synthetic corpus has confirmable near-dups; the harness must
    # actually see them or it is measuring nothing
    assert r.n_exact > 0 and r.n_lsh > 0


def test_kmeans_assigns_every_vector_to_a_valid_cluster(spark, sf_dir):
    df = cluster_kmeans_embeddings(spark, sf_dir)
    n_vec = df.count()
    from data_ingestion_worker_spark.tables import load_table
    assert n_vec == load_table(spark, sf_dir, "embeddings").count()
    bad = df.filter((F.col("cluster") < 0) | (F.col("cluster") >= KM_K))
    assert bad.count() == 0
    # at least two clusters survive two rounds on the synthetic corpus
    assert df.select("cluster").distinct().count() >= 2


def test_kmeans_stable_under_repartition(spark, sf_dir):
    base = {(r.vec_id, r.cluster)
            for r in cluster_kmeans_embeddings(spark, sf_dir).collect()}
    again = {(r.vec_id, r.cluster)
             for r in cluster_kmeans_embeddings(spark, sf_dir)
             .repartition(13).collect()}
    assert base == again


def test_hybrid_rerank_is_a_rerank_of_bm25_candidates(spark, sf_dir):
    """Stage 2 must only re-order (and possibly shrink, via the inner
    embedding join) the BM25 candidate set — never introduce new docs —
    and the output must be cosine-sorted."""
    from data_ingestion_worker_spark.operators.text import doc_bm25_rank

    cand = {r.doc_id: r.score
            for r in doc_bm25_rank(spark, sf_dir).collect()}
    rows = hybrid_search_rerank(spark, sf_dir).collect()
    assert rows, "hybrid rerank returned nothing"
    assert {r.doc_id for r in rows} <= set(cand)
    for r in rows:
        assert r.bm25 == cand[r.doc_id]
        assert -1.0 <= r.cosine <= 1.0
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_semantic_dedup_drop_rule_matches_numpy(spark, sf_dir):
    """The SemDeDup decision recomputed in numpy: dropped iff a
    smaller-id same-cluster vector has cosine >= SEM_TAU (on the same
    quantized integers the engine uses)."""
    import numpy as np

    from data_ingestion_worker_spark.tables import load_table

    out = {r.vec_id: r for r in dedup_semantic(spark, sf_dir).collect()}
    cluster = {v: r.cluster for v, r in out.items()}
    emb = {r.vec_id: np.round(np.array(r.embedding, dtype=np.float64)
                              * 10000).astype(np.int64)
           for r in load_table(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding").collect()}
    assert set(out) == set(emb)
    by_cluster: dict[int, list[int]] = {}
    for v, c in cluster.items():
        by_cluster.setdefault(c, []).append(v)
    n_dropped = 0
    for members in by_cluster.values():
        members.sort()
        for i, v2 in enumerate(members):
            expect_drop = any(
                round(float(emb[v1] @ emb[v2])
                      / (np.sqrt(float(emb[v1] @ emb[v1]))
                         * np.sqrt(float(emb[v2] @ emb[v2]))), 6)
                >= SEM_TAU
                for v1 in members[:i]
            )
            assert out[v2].kept == (not expect_drop), v2
            n_dropped += expect_drop
    # the synthetic corpus must actually contain semantic near-dups,
    # and the op must not collapse the corpus
    assert 0 < n_dropped < len(out)


def test_pretrain_filter_reason_precedence(spark, sf_dir):
    rows = pipeline_pretrain_filter(spark, sf_dir).collect()
    by_reason = {}
    for r in rows:
        by_reason.setdefault(r.reason, []).append(r)
        assert r.keep == (r.reason == "kept")
    # every too_short row really is short; no kept row is
    for r in by_reason.get("too_short", []):
        assert r.n_tokens < MIN_TOKENS
    for r in by_reason.get("kept", []):
        assert r.n_tokens >= MIN_TOKENS
    # stats roll up to the same totals
    stats = {r.reason: r.n_docs
             for r in pipeline_filter_stats(spark, sf_dir).collect()}
    assert sum(stats.values()) == len(rows)
    for reason, docs in by_reason.items():
        assert stats[reason] == len(docs)


def test_unigram_logprob_bits_nonnegative(spark, sf_dir):
    rows = doc_unigram_logprob(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.bits_total >= 0
        assert r.bits_per_token >= 0.0


def test_matryoshka_recall_matches_numpy(spark, sf_dir):
    """Truncated-vs-full recall@k recomputed with numpy on the quantized
    vectors must match the operator exactly (same rounding, same
    tie-break by ascending vec_id)."""
    import numpy as np

    from data_ingestion_worker_spark.operators.similarity import (
        MRL_DIMS,
        N_QUERIES,
        QUANT,
        TOP_K,
        emb_matryoshka_recall,
    )

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").collect()
    vecs = {
        r.vec_id: np.round(
            np.array(r.embedding, dtype=np.float64) * QUANT
        ).astype(np.int64)
        for r in raw
    }

    def topk(dim: int | None) -> dict[int, set[int]]:
        out: dict[int, set[int]] = {}
        for q in range(N_QUERIES):
            qv = vecs[q] if dim is None else vecs[q][:dim]
            scored = []
            for vid, v in vecs.items():
                if vid == q:
                    continue
                vv = v if dim is None else v[:dim]
                cos = round(
                    float(qv @ vv)
                    / (float(np.sqrt(qv @ qv)) * float(np.sqrt(vv @ vv))),
                    6,
                )
                scored.append((-cos, vid))
            scored.sort()
            out[q] = {vid for _, vid in scored[:TOP_K]}
        return out

    exact = topk(None)
    expected = {
        (q, d): len(exact[q] & trunc[q])
        for d in MRL_DIMS
        for trunc in (topk(d),)
        for q in range(N_QUERIES)
    }
    rows = emb_matryoshka_recall(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES * len(MRL_DIMS)
    for r in rows:
        assert r.n_hits == expected[(r.query_id, r.mrl_dim)]
        assert r.recall == r.n_hits / TOP_K


def test_corpus_mix_sample_is_deterministic_hash_gate(spark, sf_dir):
    """The sampled set must be exactly the md5-gate winners — bit-stable
    across runs and partitionings, thinning every language to ~min."""
    import hashlib
    from collections import Counter

    from data_ingestion_worker_spark.operators.text import corpus_mix_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang").collect()
    n_by_lang = Counter(r.lang for r in docs)
    min_docs = min(n_by_lang.values())
    expected = {
        (r.doc_id, r.lang)
        for r in docs
        if int(hashlib.md5(f"mix:{r.doc_id}".encode()).hexdigest()[:15], 16)
        % n_by_lang[r.lang] < min_docs
    }
    got = {(r.doc_id, r.lang)
           for r in corpus_mix_sample(spark, sf_dir).collect()}
    assert got == expected
    # The rarest language survives intact; no language oversamples.
    got_by_lang = Counter(lang for _, lang in got)
    assert got_by_lang[min(n_by_lang, key=n_by_lang.get)] == min_docs
    for lang, n in got_by_lang.items():
        assert n <= n_by_lang[lang]


def test_pq_codes_cover_every_vector_and_subspace(spark, sf_dir):
    """One code per (vector, subspace); codes in range; cluster sizes
    consistent with the assignment; distortion numerators non-negative."""
    from data_ingestion_worker_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        emb_pq_codes,
    )
    from data_ingestion_worker_spark.tables import load_table

    rows = emb_pq_codes(spark, sf_dir).collect()
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vec * PQ_M
    seen = {(r.vec_id, r.subspace) for r in rows}
    assert len(seen) == len(rows), "duplicate (vector, subspace) code"
    for r in rows:
        assert 0 <= r.code < PQ_K
        assert 0 <= r.subspace < PQ_M
        assert r.dist_num >= 0, "negative squared distortion"
        # cnt is the codebook cluster size from the training round (the
        # denominator of the distance algebra) — positive and bounded
        assert 1 <= r.cnt <= n_vec, r
    # a (subspace, code) cell reports one consistent codebook size
    cell_cnt = {(r.subspace, r.code): r.cnt for r in rows}
    for r in rows:
        assert r.cnt == cell_cnt[(r.subspace, r.code)], r


def test_pq_adc_topk_recall_and_ordering(spark, sf_dir):
    """ADC search returns a well-formed per-query top-k whose mean
    recall against the exact quantized-L2 top-k clears a floor — the
    operator must approximate the metric, not just run."""
    import numpy as np

    from data_ingestion_worker_spark.operators.similarity import (
        N_QUERIES,
        QUANT,
        TOP_K,
        ann_pq_adc_topk,
    )
    from data_ingestion_worker_spark.tables import load_table

    rows = ann_pq_adc_topk(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.vec_id != r.query_id, "self-match leaked into top-k"
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(N_QUERIES))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, TOP_K + 1))
        dists = [r.adc_milli for r in rs]
        assert dists == sorted(dists), "ADC distance not monotone in rank"

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb])
    V = np.array([np.round(np.array(r.embedding, dtype=np.float64) * QUANT)
                  for r in emb])
    recalls = []
    for q in range(N_QUERIES):
        qv = V[ids == q][0]
        d2 = ((V - qv) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))
        exact = {ids[i] for i in order if ids[i] != q}
        exact = set(list(sorted(exact, key=lambda v: (
            d2[np.where(ids == v)[0][0]], v)))[:TOP_K])
        approx = {r.vec_id for r in by_q[q]}
        recalls.append(len(exact & approx) / TOP_K)
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_rrf_is_a_fusion_of_the_rerank_rankings(spark, sf_dir):
    """RRF output covers exactly the rerank candidate set, both rank
    columns are permutations of 1..n consistent with the underlying
    scores, and the fused value is the two-term reciprocal sum."""
    from data_ingestion_worker_spark.operators.similarity import (
        RRF_K,
        hybrid_search_rrf,
    )

    scored = hybrid_search_rerank(spark, sf_dir).collect()
    fused = hybrid_search_rrf(spark, sf_dir).collect()
    assert {r.doc_id for r in fused} == {r.doc_id for r in scored}
    n = len(fused)
    assert sorted(r.bm25_rank for r in fused) == list(range(1, n + 1))
    assert sorted(r.cos_rank for r in fused) == list(range(1, n + 1))
    bm25_order = [r.doc_id for r in sorted(
        scored, key=lambda r: (-r.bm25, r.doc_id))]
    cos_order = [r.doc_id for r in sorted(
        scored, key=lambda r: (-r.cosine, r.doc_id))]
    for r in fused:
        assert bm25_order[r.bm25_rank - 1] == r.doc_id
        assert cos_order[r.cos_rank - 1] == r.doc_id
        expect = 1.0 / (RRF_K + r.bm25_rank) + 1.0 / (RRF_K + r.cos_rank)
        assert abs(r.rrf - expect) < 1e-6


def test_coreset_maxmin_matches_numpy_greedy(spark, sf_dir):
    """The selection order and radius ladder must match an independent
    numpy farthest-point traversal, and the ladder must be
    non-increasing (the k-center property)."""
    import hashlib

    import numpy as np

    from data_ingestion_worker_spark.operators.similarity import (
        CORESET_K,
        QUANT,
        emb_coreset_maxmin,
    )
    from data_ingestion_worker_spark.tables import load_table

    rows = sorted(emb_coreset_maxmin(spark, sf_dir).collect(),
                  key=lambda r: r.sel_order)
    assert len(rows) == CORESET_K
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb])
    V = np.array([np.round(np.array(r.embedding, dtype=np.float64) * QUANT)
                  for r in emb])

    def h(v):
        return int(hashlib.md5(f"coreset:{v}".encode()).hexdigest()[:15], 16)

    seed = min(ids, key=lambda v: (h(v), v))
    chosen = [seed]
    dm = {int(v): None for v in ids}
    ladder = [None]
    for _ in range(1, CORESET_K):
        c = V[ids == chosen[-1]][0]
        for v in ids:
            if int(v) in (int(x) for x in chosen):
                continue
            d2 = int(((V[ids == v][0] - c) ** 2).sum())
            cur = dm[int(v)]
            dm[int(v)] = d2 if cur is None else min(cur, d2)
        cands = [(int(v), dm[int(v)]) for v in ids
                 if int(v) not in (int(x) for x in chosen)]
        nxt = max(cands, key=lambda t: (t[1], -t[0]))
        chosen.append(nxt[0])
        ladder.append(nxt[1])
    assert [r.vec_id for r in rows] == [int(c) for c in chosen]
    assert [r.d2_sel for r in rows] == ladder
    radii = [r.d2_sel for r in rows[1:]]
    assert radii == sorted(radii, reverse=True)


def test_knn_label_vote_matches_numpy_probe(spark, sf_dir):
    """The kNN probe recomputed with numpy: same quantized cosine,
    same (cosine desc, vec_id) neighbor order, same (votes desc,
    label asc) vote tie-break — predictions must match exactly."""
    from collections import Counter

    import numpy as np

    from data_ingestion_worker_spark.operators.similarity import (
        KNN_K, KNN_N_QUERIES, QUANT, emb_knn_label_vote,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.query_id: (r.true_label, r.predicted_label, r.votes,
                        r.correct)
           for r in emb_knn_label_vote(spark, sf_dir).collect()}
    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: np.round(np.array(r.embedding, dtype=np.float64)
                               * QUANT).astype(np.int64)
            for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    corpus = sorted(v for v in vecs if v >= KNN_N_QUERIES)
    assert set(got) == set(v for v in vecs if v < KNN_N_QUERIES)
    for qid, (true_label, pred, votes, correct) in got.items():
        qq = vecs[qid]
        scored = []
        for cid in corpus:
            cv = vecs[cid]
            cos = round(float(qq @ cv)
                        / (float(np.sqrt(qq @ qq))
                           * float(np.sqrt(cv @ cv))), 6)
            scored.append((-cos, cid))
        scored.sort()
        top = [cid for _, cid in scored[:KNN_K]]
        counts = Counter(labels[c] for c in top)
        exp_pred = min(counts, key=lambda lb: (-counts[lb], lb))
        assert true_label == labels[qid]
        assert (pred, votes) == (exp_pred, counts[exp_pred]), qid
        assert correct == int(pred == true_label)


def test_centroid_drift_matches_numpy(spark, sf_dir):
    """Half-centroid cosine recomputed with numpy over the same
    quantized vectors; counts must partition each label exactly."""
    import numpy as np

    from data_ingestion_worker_spark.operators.similarity import (
        QUANT, emb_centroid_drift,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.label: r for r in emb_centroid_drift(spark, sf_dir).collect()}
    rows = load_table(spark, sf_dir, "embeddings").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    assert set(got) == set(by_label)
    for label, rs in by_label.items():
        sa = np.zeros(len(rs[0].embedding), dtype=np.int64)
        sb = np.zeros_like(sa)
        n_even = n_odd = 0
        for r in rs:
            q = np.round(np.array(r.embedding, dtype=np.float64)
                         * QUANT).astype(np.int64)
            if r.vec_id % 2 == 0:
                sa += q
                n_even += 1
            else:
                sb += q
                n_odd += 1
        g = got[label]
        assert (g.n_even, g.n_odd) == (n_even, n_odd)
        expect = round(float(sa @ sb) / (float(np.sqrt(sa @ sa))
                                         * float(np.sqrt(sb @ sb))), 6)
        assert g.centroid_cosine == expect, label
        assert -1.0 <= g.centroid_cosine <= 1.0


def test_outlier_knn_matches_numpy(spark, sf_dir):
    """k-th-NN distances recomputed with numpy; the p95 flag must mark
    at most ~5% of the sample."""
    import numpy as np

    from data_ingestion_worker_spark.operators.similarity import (
        OUT_K, OUT_SAMPLE, QUANT, emb_outlier_knn,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.query_id: (r.d2_k, r.is_outlier)
           for r in emb_outlier_knn(spark, sf_dir).collect()}
    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: np.round(np.array(r.embedding, dtype=np.float64)
                               * QUANT).astype(np.int64)
            for r in rows}
    ids = sorted(vecs)
    mat = np.stack([vecs[i] for i in ids])
    expect = {}
    for qid in [i for i in ids if i < OUT_SAMPLE]:
        d2 = ((mat - vecs[qid]) ** 2).sum(axis=1)
        scored = sorted((int(d), i) for d, i in zip(d2, ids) if i != qid)
        expect[qid] = scored[OUT_K - 1][0]
    assert {q: d for q, (d, _) in got.items()} == expect
    n_out = sum(f for _, f in got.values())
    assert n_out <= max(1, int(0.06 * len(got)))


def test_hamming_topk_matches_numpy(spark, sf_dir):
    """The binary-code search recomputed with numpy: same sign rule
    (bit set iff x > 0), same 64-bit packing, same (hamming asc,
    vec_id asc) ordering — the top-k lists must match exactly, and
    every reported distance must equal the popcount of the xor."""
    import numpy as np

    from data_ingestion_worker_spark.operators.similarity import (
        N_QUERIES, TOP_K, emb_hamming_topk,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {}
    for r in emb_hamming_topk(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.hamming))
    rows = load_table(spark, sf_dir, "embeddings").collect()
    codes = {
        r.vec_id: np.array(
            [1 if float(x) > 0 else 0 for x in r.embedding], dtype=np.int64)
        for r in rows
    }
    assert set(got) == {v for v in codes if v < N_QUERIES}
    for qid, triples in got.items():
        dists = sorted(
            (int(np.sum(codes[qid] != codes[vid])), vid)
            for vid in codes if vid != qid
        )
        expect = [(i + 1, vid, d) for i, (d, vid) in
                  enumerate(dists[:TOP_K])]
        assert sorted(triples) == expect, qid


def test_als_rank1_matches_python_alternation(spark, sf_dir):
    """The three ALS rounds recomputed with exact Python integers from
    the same ratings; also pins the model property that factorization
    should deliver: items ordered by v correlate positively with items
    ordered by raw popularity (Spearman > 0.5 on the common set)."""
    from collections import defaultdict

    from data_ingestion_worker_spark.operators.tpch_ext import (
        ALS_ROUNDS, ALS_SCALE, _als_ratings, rec_als_rank1,
    )

    got = {r.partkey: r.v_milli for r in rec_als_rank1(spark, sf_dir).collect()}
    ratings = [(r.u, r.i, r.r) for r in _als_ratings(spark, sf_dir).collect()]

    v = {i: ALS_SCALE for _, i, _ in ratings}
    for _ in range(ALS_ROUNDS):
        num, den = defaultdict(int), defaultdict(int)
        for u, i, r in ratings:
            num[u] += r * v[i]
            den[u] += v[i] * v[i]
        uf = {u: (ALS_SCALE * num[u]) // den[u] for u in num}
        num, den = defaultdict(int), defaultdict(int)
        for u, i, r in ratings:
            num[i] += r * uf[u]
            den[i] += uf[u] * uf[u]
        vr = {i: (ALS_SCALE * num[i]) // den[i] for i in num}
        n_i, s_v = len(vr), sum(vr.values())
        v = {i: (x * ALS_SCALE * n_i) // s_v for i, x in vr.items()}
    assert got == v

    # Factor sanity: v orders items consistently with raw popularity.
    pop = defaultdict(int)
    for _, i, r in ratings:
        pop[i] += r
    items = sorted(got)
    rank_v = {i: k for k, i in enumerate(
        sorted(items, key=lambda i: (got[i], i)))}
    rank_p = {i: k for k, i in enumerate(
        sorted(items, key=lambda i: (pop[i], i)))}
    n = len(items)
    d2 = sum((rank_v[i] - rank_p[i]) ** 2 for i in items)
    rho = 1 - 6 * d2 / (n * (n * n - 1))
    # Clearly positive, not near-1: v is affinity weighted by USER
    # factors (not raw popularity), and milli-quantization ties flatten
    # the v ranking — sf0.001 measures ρ≈0.50.
    assert rho > 0.3, rho


def test_ivfpq_is_pq_scoring_inside_probed_cells(spark, sf_dir):
    """The composed IVF-PQ index must be exactly: the flat PQ/ADC
    scoring restricted to each query's probed coarse cells — (a) every
    returned candidate's label is one of the query's IVFPQ_NPROBE
    cells, (b) its adc_milli equals the flat PQ scan's score for the
    same (query, candidate) pair bit-for-bit."""
    from data_ingestion_worker_spark.operators.similarity import (
        IVFPQ_NPROBE,
        _ivf_index,
        ann_ivfpq_topk,
        ann_pq_adc_topk,
    )

    _e, probe = _ivf_index(spark, sf_dir)
    cells_df = probe(IVFPQ_NPROBE)
    cells = {}
    for r in cells_df.collect():
        cells.setdefault(r["query_id"], set()).add(r["cell"])
    labels = {r["vec_id"]: r["label"] for r in _e.select(
        "vec_id", "label").collect()}
    flat = {(r["query_id"], r["vec_id"]): r["adc_milli"]
            for r in ann_pq_adc_topk(spark, sf_dir).collect()}
    rows = ann_ivfpq_topk(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert labels[r["vec_id"]] in cells[r["query_id"]]
        # The flat scan keeps only its own top-k, so only overlapping
        # pairs are comparable — but where both kept the pair, the
        # score must be identical (same codes, same LUT).
        key = (r["query_id"], r["vec_id"])
        if key in flat:
            assert flat[key] == r["adc_milli"]
    overlap = sum((r["query_id"], r["vec_id"]) in flat for r in rows)
    assert overlap > 0, "no overlap with the flat PQ top-k - vacuous"


def test_ivfpq_recall_is_priced_against_flat_pq(spark, sf_dir):
    """Cell pruning can only REMOVE candidates, so on shared scoring
    the composed index's exact-L2 recall is <= the flat PQ scan's —
    and must stay non-trivial (the index is useful).  This prices the
    nprobe dial the way ann_ivf_recall prices plain IVF."""
    from collections import defaultdict

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_ingestion_worker_spark.operators.similarity import (
        _QVEC,
        N_QUERIES,
        TOP_K,
        ann_ivfpq_topk,
        ann_pq_adc_topk,
    )
    from data_ingestion_worker_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv"))
    q = e.filter(F.col("vec_id") < N_QUERIES) \
        .withColumnRenamed("vec_id", "query_id") \
        .withColumnRenamed("qv", "qq")
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    dot = F.expr("aggregate(zip_with(qq, qv, (x, y) -> x * y), "
                 "cast(0 as bigint), (acc, v) -> acc + v)")
    na = F.expr("aggregate(transform(qq, x -> x * x), "
                "cast(0 as bigint), (acc, v) -> acc + v)")
    nb = F.expr("aggregate(transform(qv, x -> x * x), "
                "cast(0 as bigint), (acc, v) -> acc + v)")
    w = Window.partitionBy("query_id").orderBy(F.col("dist2"),
                                               F.col("vec_id"))
    exact = defaultdict(set)
    for r in (pairs.select("query_id", "vec_id",
                           (na + nb - 2 * dot).alias("dist2"))
              .withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= TOP_K).collect()):
        exact[r["query_id"]].add(r["vec_id"])

    def recall(df):
        got = defaultdict(set)
        for r in df.collect():
            got[r["query_id"]].add(r["vec_id"])
        hits = sum(len(got[q] & exact[q]) for q in exact)
        return hits / (len(exact) * TOP_K)

    r_flat = recall(ann_pq_adc_topk(spark, sf_dir))
    r_ivfpq = recall(ann_ivfpq_topk(spark, sf_dir))
    assert 0.0 < r_ivfpq <= r_flat + 1e-12, (r_ivfpq, r_flat)


def test_quantized_dims_match_python_rounding(spark, sf_dir):
    """The shared quantized vector, exploded: Spark's ``_qdims`` and its
    DuckDB twin ``_qv_sql`` (1-based ``d``, and 0-based with ``d0``)
    must both give ``round(x * QUANT)`` of every embedding component at
    its position."""
    import duckdb

    from data_ingestion_worker_spark.operators.similarity import (
        QUANT,
        _qdims,
        _qv_sql,
    )
    from data_ingestion_worker_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    want = {(r["vec_id"], i): round(float(x) * QUANT)
            for r in e.select("vec_id", "embedding").collect()
            for i, x in enumerate(r["embedding"])}
    assert len(want) > 1000
    got = {(r["vec_id"], r["d"]): r["v"]
           for r in _qdims(e, "vec_id").collect()}
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf_dir}/embeddings.parquet'")
    for d0, base in ((False, 1), (True, 0)):
        rows = con.execute(_qv_sql(d0=d0)).fetchall()
        assert {(i, d - base): v for i, d, v in rows} == want, d0


def test_ivf_recall_checkpoints_the_corpus_once(spark, sf_dir, monkeypatch):
    """Both nprobe settings of ``ann_ivf_recall`` search one IVF index:
    the quantized corpus is checkpointed once per call, not once per
    setting."""
    from data_ingestion_worker_spark.operators import similarity

    cuts = []

    def counting_cut(df, eager=False):
        cuts.append(eager)
        return df.localCheckpoint(eager=eager)

    monkeypatch.setattr(similarity, "cut_lineage", counting_cut)
    rows = similarity.ann_ivf_recall(spark, sf_dir).collect()
    assert {r["nprobe"] for r in rows} == {1, 2}
    assert cuts == [True]
