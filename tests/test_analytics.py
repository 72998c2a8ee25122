"""Property tests for the training-data-pipeline operators (dedup /
similarity, and the crawl's image decode/phash stage) over the sf0.001
driver testdata.

Engine-vs-oracle parity is covered by tools/check_oracle.py and the driver
gate; these tests check the *semantics*: planted duplicates are recovered,
LSH candidates are supersets/subsets of the exact answers where theory says
so.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _corpus(spark):
    from crawler_spark.plans.analytics_queries import _corpus

    return _corpus(spark, SF)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_recovers_planted_copies(spark):
    from crawler_spark.operators.dedup import exact_dup_groups

    groups = exact_dup_groups(_corpus(spark)).collect()
    planted = {
        r.doc_id
        for r in _docs(spark).filter(F.col("doc_id") % 17 == 0).collect()
    }
    # every planted exact copy forms a group keeping the original id
    found = {r.keep_doc_id for r in groups}
    assert planted <= found
    for r in groups:
        if r.keep_doc_id in planted:
            assert r.keep_doc_id + 2000000 in r.doc_ids


def test_minhash_est_tracks_exact_jaccard(spark):
    from crawler_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    corpus = _corpus(spark)
    sig = minhash_signatures(corpus, num_perm=16)
    pairs = {
        (r.a_id, r.b_id): r.est_jaccard
        for r in lsh_candidate_pairs(sig, min_est_jaccard=0.5).collect()
    }
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(corpus, k=3, min_jaccard=0.0).collect()
    }
    assert pairs, "no LSH candidates found"
    # exact copies (jaccard 1.0) must be found with est 1.0
    for (a, b), j in exact.items():
        if j == 1.0:
            assert pairs.get((a, b)) == 1.0
    # every reported candidate has genuinely high exact jaccard (16-perm
    # estimator at est>=0.5 is coarse; planted pairs are ~0.95+)
    for (a, b), est in pairs.items():
        assert exact.get((a, b), 0.0) >= 0.25, (a, b, est)


def test_minhash_broadcast_gate_fallback(spark):
    """The distinct-shingle hash-table broadcast is gated: forcing the
    fallback must produce byte-identical signatures through a NON-broadcast
    join plan (the shape the gate degrades to when the table outgrows the
    cap at real corpus scale)."""
    from crawler_spark.operators.dedup import minhash_signatures

    corpus = _corpus(spark)
    bc = minhash_signatures(corpus, num_perm=8, broadcast_hashes=True)
    ref = sorted(map(tuple, bc.drop("sig").collect()))
    # simulate "hash table over threshold": with auto-broadcast off, the
    # unhinted join must plan (and execute) as a shuffle join
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        nb = minhash_signatures(corpus, num_perm=8, broadcast_hashes=False)
        plan = nb._sc._jvm.PythonSQLUtils.explainString(
            nb._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" not in plan
        assert sorted(map(tuple, nb.drop("sig").collect())) == ref
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
    # a tiny corpus must auto-choose broadcast (the estimate path)
    auto = minhash_signatures(corpus, num_perm=8)
    aplan = auto._sc._jvm.PythonSQLUtils.explainString(
        auto._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in aplan


def test_simhash_exact_copies_distance_zero(spark):
    from crawler_spark.operators.dedup import simhash

    sim = {r.doc_id: r.simhash for r in simhash(_corpus(spark)).collect()}
    for did, h in sim.items():
        if did >= 2000000:  # exact copy
            assert sim[did - 2000000] == h


def test_simhash_pigeonhole_completeness(spark):
    """Chunk-join candidates must include every pair with hamming <= 3."""
    from crawler_spark.operators.dedup import simhash, simhash_near_pairs

    sim_df = simhash(_corpus(spark))
    sim = {r.doc_id: r.simhash for r in sim_df.collect()}
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_near_pairs(sim_df).collect()
    }
    ids = sorted(sim)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(sim[a] ^ sim[b]).count("1")
            if d <= 3:
                assert got.get((a, b)) == d


def test_embedding_near_pairs_finds_planted_vectors(spark):
    from crawler_spark.plans.analytics_queries import _vcorpus
    from crawler_spark.operators.dedup import embedding_near_pairs

    pairs = embedding_near_pairs(_vcorpus(spark, SF), min_cosine=0.8).collect()
    planted_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") % 25 == 0)
        .collect()
    }
    found = {(r.a_id, r.b_id) for r in pairs}
    for vid in planted_ids:
        assert (vid, vid + 1000000) in found
    # no false positives among natural (unplanted) pairs: max natural cosine
    # in this testdata is ~0.5
    for a, b in found:
        assert b >= 1000000


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _np_topk(emb: dict[int, np.ndarray], qid: int, k: int) -> list[int]:
    q = emb[qid]
    scores = []
    for vid, v in emb.items():
        if vid == qid:
            continue
        c = float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
        scores.append((-round(c, 4), vid))
    return [vid for _, vid in sorted(scores)[:k]]


def test_brute_force_topk_matches_numpy(spark):
    from crawler_spark.plans.analytics_queries import _queries_df
    from crawler_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()
    }
    edf = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    out = brute_force_topk(edf, _queries_df(spark, SF), k=10).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    for qid, got in by_q.items():
        assert got == _np_topk(emb, qid, 10)


def test_lsh_bucketed_candidates_share_bucket(spark):
    from crawler_spark.plans.analytics_queries import _LSH_DIMS, _queries_df
    from crawler_spark.operators.similarity import lsh_bucketed_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    edf = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    out = lsh_bucketed_topk(edf, _queries_df(spark, SF), k=5).collect()
    emb = {r.vec_id: r.embedding for r in e.collect()}

    def bucket(v):
        return sum((1 << i) for i, d in enumerate(_LSH_DIMS) if v[d] >= 0)

    assert out, "LSH returned nothing"
    for r in out:
        assert bucket(emb[r.vec_id]) == bucket(emb[r.query_id])


def test_ivf_trained_nprobe_recall_beats_nprobe1(spark):
    """kmeans_centroids + nprobe: (a) every centroid is the decimal-mean of
    its cell, (b) recall@5 vs brute force is measured and nprobe=2 recall ≥
    nprobe=1 recall (probing more cells can only add candidates)."""
    from crawler_spark.plans.analytics_queries import _queries_df
    from crawler_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    edf = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    q = _queries_df(spark, SF)
    cent = kmeans_centroids(edf, k=4, iters=2, seed="km1")
    crows = cent.collect()
    assert 1 < len(crows) <= 4

    # (a) iter-2 centroid == mean of the cell the iter-1 centroids assign,
    # to the 6-decimal contract
    cent1 = kmeans_centroids(edf, k=4, iters=1, seed="km1")
    assigned = ivf_assign(edf, cent1).collect()
    by_cell: dict[int, list] = {}
    for r in assigned:
        by_cell.setdefault(r.cell, []).append(np.array(r.embedding))
    for c in crows:
        got = np.array(c.c_embedding)
        want = np.round(np.mean(by_cell[c.centroid_id], axis=0), 6)
        assert np.allclose(got, want, atol=1e-6)

    def topk_sets(df):
        out: dict[int, set] = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    truth = topk_sets(brute_force_topk(edf, q, k=5))
    r1 = topk_sets(ivf_topk(edf, q, cent, k=5, nprobe=1))
    r2 = topk_sets(ivf_topk(edf, q, cent, k=5, nprobe=2))

    def recall(approx):
        hits = sum(len(approx.get(k, set()) & v) for k, v in truth.items())
        return hits / sum(len(v) for v in truth.items())

    assert recall(r2) >= recall(r1)
    assert recall(r2) > 0.3  # trained 4-cell/2-probe on sf0.001 is coarse
    # (b) the nprobe=1 candidate POOL is contained in the nprobe=2 pool:
    # with k ≥ corpus size, top-k returns every candidate the probe saw,
    # so the containment is asserted on the actual pools, per query
    n_corpus = edf.count()
    pool1 = topk_sets(ivf_topk(edf, q, cent, k=n_corpus, nprobe=1))
    pool2 = topk_sets(ivf_topk(edf, q, cent, k=n_corpus, nprobe=2))
    assert set(pool1) <= set(pool2)  # every probed query still probed
    for qid, s in pool1.items():
        assert s <= pool2[qid], f"query {qid}: nprobe=1 pool ⊄ nprobe=2 pool"


def _pq_py_codes(emb: dict, by_sub: dict, d: int) -> dict:
    """Reference PQ encoding: argmin of round(L2², 6), ties → lowest code,
    replicating the operator's exact fold ((x·x − 2·x·y) + y·y)."""
    from crawler_spark.operators.similarity import _py_l2

    codes = {}
    for vid, v in emb.items():
        cs = []
        for mi in sorted(by_sub):
            sv = v[mi * d : (mi + 1) * d]
            best = min(
                (round(_py_l2(sv, cw), 6), code)
                for code, cw in by_sub[mi].items()
            )
            cs.append(best[1])
        codes[vid] = cs
    return codes


def test_pq_encode_matches_python_reference(spark):
    """pq_encode's map-side argmin must equal the pure-Python reference on
    every corpus vector — pins the literal-codeword fold, the −0.0-free
    negation, and the tie order."""
    from crawler_spark.operators.similarity import pq_codebooks, pq_encode

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    edf = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    cb = pq_codebooks(edf, m=2, ksub=4, iters=1, seed="pq1")
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in cb.collect():
        by_sub.setdefault(r.subspace, {})[r.code_id] = [
            float(x) for x in r.codeword
        ]
    assert set(by_sub) == {0, 1}
    d = len(by_sub[0][next(iter(by_sub[0]))])
    emb = {r.vec_id: [float(x) for x in r.embedding] for r in edf.collect()}
    want = _pq_py_codes(emb, by_sub, d)
    got = {r.vec_id: list(r.codes) for r in pq_encode(edf, cb).collect()}
    assert got == want
    for cs in got.values():
        assert len(cs) == 2 and all(0 <= c < 4 for c in cs)


def test_pq_adc_planted_duplicate_attains_min_distance(spark):
    """A planted exact copy of a query vector shares the query's own codes,
    so its ADC distance is the per-subspace LUT minimum — no other corpus
    vector can score lower, and the copy must appear at the top of the
    ranking (ties only with vectors encoding to the same cells)."""
    from crawler_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    edf = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    dup = edf.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = edf.unionByName(dup)
    q = edf.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    cb = pq_codebooks(edf, m=2, ksub=4, iters=1, seed="pq1")
    out = pq_adc_topk(corpus, q, cb, k=corpus.count()).collect()
    by_vec = {r.vec_id: r.adc_e6 for r in out}
    assert by_vec[1_000_003] == min(by_vec.values())


def test_pq_adc_recovers_planted_clusters(spark):
    """PQ's promise is preserving COARSE structure, not hairline distances
    (the sf embeddings are near-isotropic, so exact top-5 there is
    concentration-of-measure noise no quantizer keeps).  Plant 5 tight
    clusters of 8 deterministic perturbations each; every ADC top-5 hit for
    a cluster-center query must come from that query's own cluster — even
    the coarsest 2×4 codebook must separate well-separated clusters."""
    from crawler_spark.operators.similarity import pq_adc_topk, pq_codebooks

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("cluster"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("bv"),
    )
    copies = spark.range(8).select(F.col("id").alias("copy"))
    corpus = base.crossJoin(copies).select(
        (F.col("cluster") * 100 + F.col("copy")).alias("vec_id"),
        F.expr(
            "transform(bv, (x, i) -> x + CAST(0.01 AS DOUBLE) * copy"
            " * CAST((i % 3) - 1 AS DOUBLE))"
        ).alias("embedding"),
    )
    q = base.select(
        F.col("cluster").alias("query_id"), F.col("bv").alias("q_embedding")
    )
    cb = pq_codebooks(corpus, m=2, ksub=4, iters=1, seed="pq1")
    out = pq_adc_topk(corpus, q, cb, k=5).collect()
    assert len(out) == 25
    for r in out:
        assert r.vec_id // 100 == r.query_id, (
            f"query {r.query_id} pulled {r.vec_id} from another cluster"
        )


def test_ivf_pq_probe_pruning_and_full_probe_equivalence(spark):
    """IVF-PQ invariants: (a) probing EVERY cell makes IVF-PQ identical to
    flat PQ-ADC (pruning only removes candidates, never rescores), and
    (b) at nprobe=1 every returned vector lives in its query's single
    probed cell."""
    from crawler_spark.operators.similarity import (
        ivf_assign,
        ivf_pq_topk,
        kmeans_centroids,
        pq_adc_topk,
        pq_codebooks,
    )
    from crawler_spark.plans.analytics_queries import _queries_df

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    edf = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    q = _queries_df(spark, SF)
    cent = kmeans_centroids(edf, k=4, iters=1, seed="km1")
    cb = pq_codebooks(edf, m=2, ksub=4, iters=1, seed="pq1")
    n_cells = cent.count()

    def rows(df):
        return sorted(
            (r.query_id, r.vec_id, r.adc_e6, r.rank) for r in df.collect()
        )

    full = rows(pq_adc_topk(edf, q, cb, k=5))
    assert rows(ivf_pq_topk(edf, q, cent, cb, k=5, nprobe=n_cells)) == full

    cells = {r.vec_id: r.cell for r in ivf_assign(edf, cent).collect()}
    got1 = ivf_pq_topk(edf, q, cent, cb, k=5, nprobe=1).collect()
    assert got1, "nprobe=1 returned nothing"
    for r in got1:
        assert cells[r.vec_id] == cells[r.query_id], (
            f"query {r.query_id} (cell {cells[r.query_id]}) pulled "
            f"{r.vec_id} from cell {cells[r.vec_id]}"
        )


def test_ivf_pq_residual_single_cell_equals_centered_flat_pq(spark):
    """With a k=1 coarse quantizer the residual is just x − mean, so
    residual IVF-PQ must be EXACTLY flat PQ-ADC over the centered data —
    same codebooks, same LUTs, same ranking."""
    from crawler_spark.operators.similarity import (
        ivf_assign,
        ivf_pq_residual_topk,
        ivf_residuals,
        kmeans_centroids,
        pq_adc_topk,
        pq_codebooks,
    )
    from crawler_spark.plans.analytics_queries import _queries_df

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    edf = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    q = _queries_df(spark, SF)
    cent1 = kmeans_centroids(edf, k=1, iters=1, seed="km1")
    centered = ivf_residuals(ivf_assign(edf, cent1), cent1).select(
        "vec_id", "embedding"
    )
    cb = pq_codebooks(centered, m=2, ksub=4, iters=1, seed="pq1")
    centered_q = (
        ivf_residuals(
            ivf_assign(
                q.select(
                    F.col("query_id").alias("vec_id"),
                    F.col("q_embedding").alias("embedding"),
                ),
                cent1,
            ),
            cent1,
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
    )

    def rows(df):
        return sorted(
            (r.query_id, r.vec_id, r.adc_e6, r.rank) for r in df.collect()
        )

    got = rows(ivf_pq_residual_topk(edf, q, cent1, cb, k=5, nprobe=1))
    want = rows(pq_adc_topk(centered, centered_q, cb, k=5))
    assert got == want


def test_ivf_pq_residual_recovers_planted_twin(spark):
    """Planted geometry where residual encoding matters: vectors are
    cell-center + displacement, each displacement planted TWICE per cell.
    Centers sit on distinct axes (clean cosine assignment), displacements
    are exact binary fractions with zero mean, and the codebook holds the
    displacement slices themselves — so a twin's residual quantizes to the
    query's own residual, its ADC is exactly 0, and every other in-cell
    candidate is strictly positive.  Pins the whole serve path (residual,
    encode, cell-keyed LUT, ranking) with no training luck involved."""
    from crawler_spark.operators.similarity import ivf_pq_residual_topk

    # sub0 and sub1 corners both pairwise distinct; mean over j is 0
    deltas = [
        [4.0, 4.0, 2.0, 2.0],
        [4.0, -4.0, 2.0, -2.0],
        [-4.0, 4.0, -2.0, 2.0],
        [-4.0, -4.0, -2.0, -2.0],
    ]
    rows_in, vid = [], 0
    for c in range(3):
        center = [256.0 if i == c else 0.0 for i in range(4)]
        for j in range(4):
            for _ in range(2):
                rows_in.append(
                    (vid, [center[i] + deltas[j][i] for i in range(4)])
                )
                vid += 1
    emb = spark.createDataFrame(
        rows_in, "vec_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(c, [256.0 if i == c else 0.0 for i in range(4)]) for c in range(3)],
        "centroid_id int, c_embedding array<double>",
    )
    cb = spark.createDataFrame(
        [
            (mi, j, deltas[j][mi * 2 : mi * 2 + 2])
            for mi in range(2)
            for j in range(4)
        ],
        "subspace int, code_id int, codeword array<double>",
    )
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = ivf_pq_residual_topk(emb, queries, cent, cb, k=1, nprobe=1).collect()
    top1 = {r.query_id: (r.vec_id, r.adc_e6) for r in got}
    twin = {v: v + 1 if v % 2 == 0 else v - 1 for v in range(vid)}
    for v in range(vid):
        assert top1[v] == (twin[v], 0), (
            f"query {v}: expected twin {twin[v]} at adc 0, got {top1.get(v)}"
        )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_connected_components_match_union_find(spark):
    from crawler_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    corpus = _corpus(spark)
    pairs_df = lsh_candidate_pairs(minhash_signatures(corpus, 16), 16)
    pairs = [(r.a_id, r.b_id) for r in pairs_df.collect()]
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs_df).collect()}

    # reference: plain union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want
    # cluster representative is the min member
    for doc, cl in got.items():
        assert cl <= doc

    # the O(log² n) large-star/small-star variant must produce the same
    # clustering on the same pairs
    from crawler_spark.operators.dedup import connected_components_star

    star = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(pairs_df).collect()
    }
    assert star == want


def test_connected_components_star_deep_chain(spark):
    """A 120-node path (+ a disjoint triangle + an isolated pair): diameter
    120 would need 120 min-label rounds; the star variant converges inside
    its default 12-round budget and still labels every node with the
    component min."""
    from crawler_spark.operators.dedup import connected_components_star

    chain = [(i, i + 1) for i in range(100, 220)]
    extra = [(500, 501), (501, 502), (500, 502), (900, 901)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in chain + extra], "a_id long, b_id long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(pairs).collect()
    }
    want = {i: 100 for i in range(100, 221)}
    want.update({500: 500, 501: 500, 502: 500, 900: 900, 901: 900})
    assert got == want


def test_incremental_lsh_equals_full_restricted(spark):
    """lsh_incremental_pairs over (index(old), new) must equal the full
    lsh_candidate_pairs over old ∪ new restricted to pairs with a new side
    — including new-new pairs — at identical est_jaccard values."""
    from crawler_spark.operators.dedup import (
        lsh_band_rows,
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_signatures,
    )

    corpus = _corpus(spark)
    is_new = F.col("doc_id") % 5 == 0
    sig_all = minhash_signatures(corpus, num_perm=16)
    full = {
        (r.a_id, r.b_id): r.est_jaccard
        for r in lsh_candidate_pairs(sig_all, min_est_jaccard=0.5).collect()
    }
    new_ids = {r.doc_id for r in corpus.filter(is_new).select("doc_id").collect()}
    want = {
        p: j for p, j in full.items() if p[0] in new_ids or p[1] in new_ids
    }

    sig_old = minhash_signatures(corpus.filter(~is_new), num_perm=16)
    sig_new = minhash_signatures(corpus.filter(is_new), num_perm=16)
    index = lsh_band_rows(sig_old)
    got = {
        (r.a_id, r.b_id): r.est_jaccard
        for r in lsh_incremental_pairs(
            index, sig_new, min_est_jaccard=0.5
        ).collect()
    }
    assert got == want and len(want) > 0

    # the LEAN persisted-index shape (no sig column; signatures joined back
    # on candidates only) must give the identical result
    lean = lsh_band_rows(sig_old, include_sig=False)
    got_lean = {
        (r.a_id, r.b_id): r.est_jaccard
        for r in lsh_incremental_pairs(
            lean, sig_new, min_est_jaccard=0.5, old_sigs=sig_old
        ).collect()
    }
    assert got_lean == want


def test_ngram_jaccard_max_df_lower_bound(spark):
    """The max_df skew guard: reported jaccard is a lower bound of the true
    value (never a false positive), boilerplate-only similarity disappears,
    and a near-dup pair whose shared shingles are rare keeps its exact
    value."""
    from crawler_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved by the content provider of this site"
    docs = spark.createDataFrame(
        [
            # near-dup pair with DISTINCTIVE shared text (rare shingles)
            (1, "quantum flux capacitor aligns the tachyon emitter array perfectly"),
            (2, "quantum flux capacitor aligns the tachyon emitter array badly"),
            # four unrelated docs sharing only the boilerplate sentence
            (3, f"alpha document body {boiler}"),
            (4, f"beta document body {boiler}"),
            (5, f"gamma document body {boiler}"),
            (6, f"delta document body {boiler}"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(docs, k=3, min_jaccard=0.0).collect()
    }
    capped = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, k=3, min_jaccard=0.0, max_df=3
        ).collect()
    }
    # lower bound + no false positives
    for p, j in capped.items():
        assert p in exact and j <= exact[p] + 1e-9, (p, j, exact.get(p))
    # the distinctive near-dup pair survives at its exact value
    assert abs(capped[(1, 2)] - exact[(1, 2)]) < 1e-9 and exact[(1, 2)] > 0.5
    # boilerplate-only pairs (shingles with df=4 > max_df) are not reported
    boiler_pairs = {(a, b) for (a, b) in exact if a >= 3 and b >= 3}
    assert boiler_pairs and not (boiler_pairs & set(capped))


def _fetched_assets(spark, rows):
    """Rows of (image_id, body, ext) shaped as the crawl's asset-fetch
    output, the input of ``images.decode_assets``."""
    return spark.createDataFrame(
        [(i, f"http://img.test/{i}.{e}", bytearray(b), e, "ok") for i, b, e in rows],
        "image_id string, asset_url string, body binary, ext string, status string",
    )


def _blocky_rgb(seed: int) -> np.ndarray:
    """Block-structured content (like real photos, unlike iid noise, which
    puts every aHash cell AT the mean): an 8x8 coarse pattern upsampled 4x,
    plus mild sensor-ish noise."""
    rng = np.random.default_rng(seed)
    coarse = rng.integers(0, 256, size=(8, 8, 3), dtype=np.int16)
    rgb = np.kron(coarse, np.ones((4, 4, 1), dtype=np.int16))
    return (rgb + rng.integers(-8, 9, size=rgb.shape)).clip(0, 255).astype(np.uint8)


def test_decode_features_match_bytes(spark):
    """The crawl's decode stage: every images-table feature (w, h, fmt,
    phash) is what the codec computes from that row's own bytes, and the
    bytes pass through unchanged."""
    from crawler_spark.operators.images import decode_assets
    from crawler_spark.sources import codecs

    srcs = {f"img-{i}": _blocky_rgb(i) for i in range(6)}
    rows = []
    for k, rgb in srcs.items():
        ext = "png" if k[-1] in "024" else "jpg"
        body = codecs.encode_png(rgb) if ext == "png" else codecs.encode_jpeg(rgb)
        rows.append((k, body, ext))
    bodies = {k: b for k, b, _ in rows}
    out = {r.image_id: r for r in decode_assets(_fetched_assets(spark, rows)).collect()}
    assert set(out) == set(srcs)
    for k, r in out.items():
        assert bytes(r.bytes) == bodies[k]
        assert r.fmt == ("png" if k[-1] in "024" else "jpeg")
        rgb = codecs.decode_image(bodies[k], r.fmt)
        assert (r.h, r.w) == rgb.shape[:2] == srcs[k].shape[:2]
        assert r.phash == codecs.phash64(rgb)


def test_resize_failure_isolation(spark):
    """The crawl's image stage stores fetched bytes as-is (no resize); its
    failure isolation (C3) is the decode's: an undecodable body becomes an
    error row (w = h = 0, phash 0) and never fails the batch its good
    neighbours decode in."""
    from crawler_spark.operators.images import decode_assets
    from crawler_spark.sources import codecs

    good = codecs.encode_png(_blocky_rgb(1))
    rows = [("ok-img", good, "png"), ("bad-img", b"not an image", "png")]
    out = {r.image_id: r for r in decode_assets(_fetched_assets(spark, rows)).collect()}
    assert (out["ok-img"].w, out["ok-img"].h) == (32, 32)
    assert out["ok-img"].phash != 0
    bad = out["bad-img"]
    assert (bad.w, bad.h, bad.phash) == (0, 0, 0)
    assert bytes(bad.bytes) == b"not an image"


def test_image_phash_near_dup_end_to_end(spark):
    """Image near-dup over REAL decoded pixels: encode distinct PNGs, plant
    a lossy JPEG re-encode per image, hash with the crawl's decode stage
    (codecs.phash64 over decoded RGB), pair with the pigeonhole chunk join.
    Every planted (orig, variant) pair is found; banded candidates equal the
    brute-force hamming scan (completeness for max_hamming <= chunks-1); an
    undecodable row isolates as an error row (w = 0)."""
    from crawler_spark.operators.dedup import hamming_near_pairs
    from crawler_spark.operators.images import decode_assets
    from crawler_spark.sources import codecs

    rows = []
    for k in range(12):
        rgb = _blocky_rgb(1000 + k)
        rows.append((f"i{k:02d}", codecs.encode_png(rgb), "png"))
        rows.append((f"i{k:02d}-v", codecs.encode_jpeg(rgb), "jpg"))
    rows.append(("broken", b"not an image", "png"))
    hashed = decode_assets(_fetched_assets(spark, rows))
    w = {r.image_id: r.w for r in hashed.collect()}
    assert w["broken"] == 0
    assert all(v > 0 for k, v in w.items() if k != "broken")

    ok = hashed.filter(F.col("w") > 0).select("image_id", "phash")
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in hamming_near_pairs(
            ok, "image_id", "phash", bits=64, chunks=8, max_hamming=6
        ).collect()
    }
    want_pairs = {(f"i{k:02d}", f"i{k:02d}-v") for k in range(12)}
    # every planted lossy variant is found within the aHash robustness bound
    assert want_pairs <= set(got)
    assert all(h <= 6 for h in got.values())

    # completeness: banded pairs == brute-force hamming scan
    ph = {r.image_id: r.phash for r in ok.collect()}
    mask = (1 << 64) - 1
    brute = {
        (a, b)
        for a in ph
        for b in ph
        if a < b and bin((ph[a] ^ ph[b]) & mask).count("1") <= 6
    }
    assert set(got) == brute


def test_hamming_near_pairs_randomized_completeness(spark):
    """hamming_near_pairs at a 60-bit, 10-chunk, max_hamming=4 shape:
    banded candidates == brute force on a randomized set with planted near
    pairs."""
    import numpy as np

    from crawler_spark.operators.dedup import hamming_near_pairs

    rng = np.random.default_rng(7)
    vals = [int(v) for v in rng.integers(0, 1 << 60, size=200)]
    # plant near pairs at distances 1..4 off the first 8 values
    for i in range(8):
        flip = 0
        for b in rng.choice(60, size=(i % 4) + 1, replace=False):
            flip |= 1 << int(b)
        vals.append(vals[i] ^ flip)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "image_id long, phash long"
    )
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in hamming_near_pairs(
            df, "image_id", "phash", bits=60, chunks=10, max_hamming=4
        ).collect()
    }
    brute = {}
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            d = bin(vals[i] ^ vals[j]).count("1")
            if d <= 4:
                brute[(i, j)] = d
    assert got == brute and len(brute) >= 8


def test_ivf_assign_zero_norm_vector_deterministic(spark):
    """ADVICE-r3: a zero-norm embedding has no cosine; both ivf_assign paths
    must pin it to the LOWEST centroid_id (cos treated as -1) instead of
    emitting NULL/NaN-poisoned cells, and kmeans must survive it."""
    from crawler_spark.operators.similarity import ivf_assign, kmeans_centroids

    emb = spark.createDataFrame(
        [("z", [0.0, 0.0]), ("a", [1.0, 0.0]), ("b", [0.0, 1.0]),
         ("c", [0.9, 0.1]), ("d", [0.1, 0.9])],
        "vec_id string, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(3, [1.0, 0.0]), (7, [0.0, 1.0])],
        "centroid_id int, c_embedding array<double>",
    )
    # inline (map-side argmin) path
    inline = {r.vec_id: r.cell for r in ivf_assign(emb, cent).collect()}
    assert inline["z"] == 3  # lowest centroid_id, deterministic
    assert inline["a"] == 3 and inline["b"] == 7
    # max_by fallback path must agree exactly
    fallback = {
        r.vec_id: r.cell
        for r in ivf_assign(emb, cent, max_inline_centroids=1).collect()
    }
    assert fallback == inline
    # zero-norm CENTROID: every real vector prefers the real centroid;
    # the zero vector ties both at -1 and takes the lowest id
    zc = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "centroid_id int, c_embedding array<double>",
    )
    got = {r.vec_id: r.cell for r in ivf_assign(emb, zc).collect()}
    assert got == {"z": 1, "a": 2, "b": 2, "c": 2, "d": 2}
    # and the full training loop survives a zero-norm row without a
    # None-cell crash
    assert kmeans_centroids(emb, k=2, iters=2, seed="km1").count() >= 1


def test_tz_pinned_queries_do_not_mutate_session(spark):
    """The timezone-sensitive crawl query analyzes under a UTC pin but must
    RESTORE the caller's session TZ (ADVICE r3: the old persistent conf.set
    leaked UTC into the grader's session).  The zone is baked into the
    analyzed plan, so results collected under a non-UTC session must still
    match the UTC-session results value-for-value."""
    from crawler_spark.plans.oracle_queries import q_c1_politeness_gaps

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        fn = q_c1_politeness_gaps
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        want = sorted(map(tuple, fn(spark, SF).collect()))
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = fn(spark, SF)
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        ), f"{fn.__name__} mutated the session timezone"
        got = sorted(map(tuple, df.collect()))
        assert got == want, f"{fn.__name__} is session-TZ-sensitive"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    """SemDeDup keep rule: inside a near-dup group (pairwise cos >= eps in
    one cell) the survivor is the member with the LOWEST centroid cosine
    (the cluster outlier), ties on vec_id; members below eps survive."""
    from crawler_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),   # cell 0, cent_cos 1.0
            (2, [2.0, 0.0]),   # same direction as 1 -> near-dup, cent_cos 1.0
            (3, [0.9, 0.1]),   # cos 0.9938 to 1/2 -> in the group, farthest
            (4, [0.5, 0.5]),   # cos 0.707 to centroid -> below eps, survives
            (5, [0.0, 1.0]),   # cell 1, alone
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, c_embedding array<double>",
    )
    rows = {r.vec_id: r for r in semantic_dedup(emb, cents, eps=0.99).collect()}
    assert {v for v, r in rows.items() if r.keep} == {3, 4, 5}
    assert rows[1].cell == 0 and rows[5].cell == 1
    # the survivor of the group is the one farthest from the centroid
    assert rows[3].cent_cos < rows[1].cent_cos


def test_sq8_quantization_error_and_topk(spark):
    """SQ8 invariants: codes lie in [0,255]; per-dim reconstruction error is
    within half a quantization step; top-1 recovers a well-separated
    nearest neighbour exactly."""
    from crawler_spark.operators.similarity import (
        sq8_adc_topk,
        sq8_encode,
        sq8_train,
    )

    vecs = [
        (1, [0.0, 0.0]),
        (2, [1.0, 10.0]),
        (3, [0.5, 5.0]),
        (4, [0.9, 9.5]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    mns, spans = sq8_train(emb)
    assert mns == [0.0, 0.0] and spans == [1.0, 10.0]
    codes = {r.vec_id: r.codes for r in sq8_encode(emb, mns, spans).collect()}
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)
    for vid, v in vecs:
        for d, c in enumerate(codes[vid]):
            recon = mns[d] + c * spans[d] / 255.0
            assert abs(recon - v[d]) <= spans[d] / 255.0 / 2 + 1e-12
    q = spark.createDataFrame(
        [(2, [1.0, 10.0])], "query_id long, q_embedding array<double>"
    )
    top = sorted(sq8_adc_topk(emb, q, k=2).collect(), key=lambda r: r.rank)
    assert top[0].vec_id == 4  # nearest non-self under L2, exactly recovered


def test_ivf_sq8_single_cell_equals_flat_sq8(spark):
    """With a single-cell quantizer (k=1, nprobe=1) IVF-SQ8 degenerates to
    flat SQ8 — the probed cell IS the corpus, so results must be
    identical."""
    from crawler_spark.operators.similarity import ivf_sq8_topk, sq8_adc_topk
    from crawler_spark.plans.analytics_queries import _queries_df

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    one_cell = e.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("centroid_id"),
        F.col("embedding").alias("c_embedding"),
    )
    q = _queries_df(spark, SF)
    flat = sorted(map(tuple, sq8_adc_topk(e, q, k=5).collect()))
    ivf = sorted(map(tuple, ivf_sq8_topk(e, q, one_cell, k=5).collect()))
    assert ivf == flat


def test_dedup_representatives_keep_longest(spark):
    """Representative selection over a hand-built cluster structure: the
    longest text wins, doc_id breaks ties, singletons self-represent."""
    from crawler_spark.operators.dedup import connected_components
    from pyspark.sql import functions as F

    # emulate the query's composition on explicit pairs
    docs = [(1, "aaaa"), (2, "aaaaaa"), (3, "aaaaaa"), (7, "zz")]
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "a_id long, b_id long"
    )
    c = spark.createDataFrame(docs, "doc_id long, text string")
    cc = connected_components(pairs)
    lab = (
        c.select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .join(cc, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    rep = lab.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.min(
            F.struct((-F.col("n_chars")).alias("a"), F.col("doc_id").alias("b"))
        ).alias("__m"),
    )
    out = {
        r.doc_id: r
        for r in lab.join(rep, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            F.col("__m.b").alias("rep_id"),
            (F.col("doc_id") == F.col("__m.b")).alias("is_rep"),
        )
        .collect()
    }
    # cluster {1,2,3}: longest = 2 and 3 (6 chars), tie -> doc_id 2
    for d in (1, 2, 3):
        assert out[d].cluster_id == 1 and out[d].cluster_size == 3
        assert out[d].rep_id == 2
        assert out[d].is_rep == (d == 2)
    assert out[7].cluster_id == 7 and out[7].cluster_size == 1
    assert out[7].rep_id == 7 and out[7].is_rep


def _minhash_eval_replay(spark, sf: str, num_perm: int, bands: int) -> dict:
    """Pure-Python replay of the estimator self-evaluation: the
    num_perm/bands minhash pipeline (60-bit md5 prefixes, band keys,
    est >= 0.5 candidates) AND the true distinct-3-shingle Jaccard per
    pair, as {(a_id, b_id): (est_e4, true_e4, err_e4)} with
    est_e4 = (10000·eq) div num_perm."""
    from itertools import combinations

    base = {
        int(r.doc_id): r.text
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    corpus = dict(base)
    for d, t in base.items():
        if d % 10 == 0:
            corpus[d + 1000000] = t[t.find(" ") + 1 :]
        if d % 17 == 0:
            corpus[d + 2000000] = t
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    sh = {
        d: {
            " ".join(w[i : i + 3])
            for i in range(len(w) - 2)
        }
        for d, t in corpus.items()
        if len(w := t.split()) >= 3
    }
    sig = {
        d: [
            min(int(md5(f"{i}:{s}")[:15], 16) for s in shs)
            for i in range(num_perm)
        ]
        for d, shs in sh.items()
    }
    rows = num_perm // bands
    bkeys = {
        d: {
            md5("|".join(str(x) for x in s[b * rows : (b + 1) * rows]))
            for b in range(bands)
        }
        for d, s in sig.items()
    }
    want = {}
    for a, b in combinations(sorted(sig), 2):
        if not (bkeys[a] & bkeys[b]):
            continue
        eq = sum(1 for x, y in zip(sig[a], sig[b]) if x == y)
        if 2 * eq < num_perm:
            continue
        inter = len(sh[a] & sh[b])
        est_e4 = (10000 * eq) // num_perm
        true_e4 = (10000 * inter) // (len(sh[a]) + len(sh[b]) - inter)
        want[(a, b)] = (est_e4, true_e4, abs(est_e4 - true_e4))
    return want


def test_minhash_estimate_eval_matches_python_replay(spark):
    """Full pure-Python replay of the estimator self-evaluation at
    sf0.001 (16 perms, 4 bands): row-exact agreement with the Spark
    query — estimator output, ground truth, and error columns all integer
    e4.  Also pins the headline property: every planted exact copy that
    survives the LSH gate reports est_e4 = true_e4 = 10000, err 0."""
    from crawler_spark.plans.analytics_queries import q_minhash_estimate_eval

    sf = "/root/testdata/sf0.001"
    want = _minhash_eval_replay(spark, sf, 16, 4)
    got = {
        (r.a_id, r.b_id): (r.est_e4, r.true_e4, r.err_e4)
        for r in q_minhash_estimate_eval(spark, sf).collect()
    }
    assert got == want and len(got) > 0
    exact = {p: v for p, v in got.items() if p[1] == p[0] + 2000000}
    assert exact and all(v == (10000, 10000, 0) for v in exact.values())


@pytest.mark.parametrize("num_perm,bands", [(10, 5), (12, 4)])
def test_minhash_eval_sql_est_e4_integer_exact(spark, num_perm, bands):
    """The DuckDB oracle helper matches the Python replay's
    est_e4 = (10000·eq) div num_perm for any num_perm, not only a divisor
    of 10000: at 12 perms a unit of 10000 // 12 = 833 reported a planted
    exact copy as 9996."""
    import duckdb

    from crawler_spark.plans.analytics_queries import _minhash_eval_sql

    sf = "/root/testdata/sf0.001"
    want = _minhash_eval_replay(spark, sf, num_perm, bands)
    exact = [v for p, v in want.items() if p[1] == p[0] + 2000000]
    assert exact and all(v == (10000, 10000, 0) for v in exact)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    got = {
        (a, b): (est, true, err)
        for a, b, est, true, err in con.execute(
            _minhash_eval_sql(num_perm, bands)
        ).fetchall()
    }
    assert got == want


@pytest.mark.parametrize("name", ["q_dedup_ngram_jaccard"])
def test_builder_is_lazy_and_empty_safe(spark, monkeypatch, name):
    """Building the query starts no Spark job (its corpus-wide counts are
    aggregates joined inside the plan, never collected), and an empty
    documents table yields 0 rows rather than a division by zero.  ``_t``
    is stubbed with a pre-read empty frame because a parquet read runs its
    own schema-inference job."""
    from crawler_spark.plans import analytics_queries as AQ

    empty = spark.createDataFrame([], _docs(spark).schema)
    monkeypatch.setattr(AQ, "_t", lambda _spark, _sf, _table: empty)
    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, "query build only")
    try:
        query = getattr(AQ, name)(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert query.count() == 0
