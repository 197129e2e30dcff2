"""Similarity-search invariants that the SQL oracles can't express:
BLAS-vs-HOF agreement, k-means convergence, and IVF recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.operators import simsearch
from shippai_knowledge_etl_spark.tables import load


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


def test_blas_topk_matches_hof_ids(spark, emb):
    """The vectorized numpy path must return the same neighbor ids as
    the expression path (sims may differ in the last ulp)."""
    q = emb.filter(F.col("vec_id") == 0)
    hof = simsearch.topk_cosine(emb, q, k=10)
    blas = simsearch.topk_cosine_blas(emb, q, k=10)
    hof_ids = [r.vec_id for r in hof.collect()]
    blas_ids = [r.vec_id for r in blas.collect()]
    assert hof_ids == blas_ids
    # and the sims agree to far better than the ranking granularity
    hof_sims = {r.vec_id: r.sim for r in hof.collect()}
    for r in blas.collect():
        assert abs(hof_sims[r.vec_id] - r.sim) < 1e-6


def test_kmeans_objective_decreases(spark, emb):
    """Lloyd's iterations must not increase the within-cluster SSE."""
    prev = None
    for n in (1, 2, 3):
        assigned, _ = simsearch.kmeans_fit(emb, k=8, n_iter=n)
        sse = assigned.agg(F.sum("dist").alias("s")).collect()[0]["s"]
        if prev is not None:
            assert sse <= prev + 1e-6, f"SSE rose at iter {n}: {prev} -> {sse}"
        prev = sse


def test_kmeans_assignment_shape(spark, emb):
    assigned, centroids = simsearch.kmeans_fit(emb, k=8, n_iter=3)
    n = emb.count()
    assert assigned.count() == n  # every vector assigned exactly once
    clusters = {r.cluster for r in assigned.select("cluster").distinct().collect()}
    assert clusters <= set(range(8)) and len(clusters) >= 2
    cents = centroids.collect()
    assert len(cents) == len({r.cluster for r in cents})
    assert all(len(r.centroid) == 64 for r in cents)


def test_lloyd_round_plan_has_no_lambda(spark):
    """The centroid rebuild sorts (pos, x) structs and extracts the x
    array: no lambda function survives into the optimized plan of a
    Lloyd update, keyed or not."""
    assigned = spark.createDataFrame(
        [(0, 1, 0, [1.0, 2.0]), (0, 2, 0, [3.0, 4.0]), (1, 1, 1, [5.0, 6.0])],
        "sub_id int, vec_id long, cluster int, embedding array<double>",
    )
    for keys in ((), ("sub_id",)):
        upd = simsearch._update_centroids(assigned, "embedding", keys)
        plan = upd._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan.lower(), plan
    got = {
        r.cluster: r.centroid
        for r in simsearch._update_centroids(assigned, "embedding").collect()
    }
    assert got == {0: [2.0, 3.0], 1: [5.0, 6.0]}


def test_pq_seeds_are_lowest_ids_per_subspace(spark, emb):
    """With no rounds, pq_train returns its seeds: per subspace, the
    subvectors of the k lowest-id vectors, coded by id rank."""
    from pyspark.sql import Window

    m, k, dims = 4, 3, 64
    books = simsearch.pq_train(emb, m, k, dims, n_iter=0)
    sub = simsearch.subvectors(emb, m, dims)
    rn = F.row_number().over(Window.partitionBy("sub_id").orderBy("vec_id"))
    want = (
        sub.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select("sub_id", (F.col("rn") - 1).alias("code"), "subvec")
    )
    assert sorted(map(tuple, books.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_ivf_recall_vs_brute_force(spark, emb):
    """Searching only the query's learned bucket must recover a decent
    fraction of the true top-10 (recall bound is loose: the corpus is
    random, so clusters are weak — the invariant is that pruned search
    returns plausible neighbors, not garbage)."""
    assigned, _ = simsearch.kmeans_fit(emb, k=8, n_iter=3)
    corpus = emb.join(assigned.select("vec_id", "cluster"), "vec_id")
    q = corpus.filter(F.col("vec_id") == 0)
    truth = {r.vec_id for r in simsearch.topk_cosine(emb, q, k=10).collect()}
    pruned = {
        r.vec_id
        for r in simsearch.topk_cosine_bucketed(
            corpus, q, k=10, bucket_col="cluster"
        ).collect()
    }
    assert len(pruned) == 10
    assert len(truth & pruned) >= 2


def test_lsh_buckets_spread_and_collide(spark, emb):
    """Sign-LSH buckets must (a) give identical ids to identical
    vectors, (b) spread a random corpus over many buckets, and (c) keep
    a slightly perturbed copy in the same bucket most of the time."""
    planes = simsearch._planes(64)
    bucketed = emb.select(
        "vec_id",
        simsearch.sign_lsh_bucket(F.col("embedding"), planes).alias("bucket"),
    )
    n_buckets = bucketed.select("bucket").distinct().count()
    assert n_buckets >= 32  # 500 random vectors over 256 buckets

    # perturb: nudge the first component; signs should survive mostly
    perturbed = emb.select(
        "vec_id",
        simsearch.sign_lsh_bucket(
            F.concat(
                F.array(F.get("embedding", 0).cast("double") + F.lit(0.001)),
                F.transform(
                    F.slice("embedding", 2, 63), lambda x: x.cast("double")
                ),
            ),
            planes,
        ).alias("bucket_p"),
    )
    joined = bucketed.join(perturbed, "vec_id")
    same = joined.filter(F.col("bucket") == F.col("bucket_p")).count()
    assert same / joined.count() >= 0.9


def test_pq_adc_recall_vs_exact(spark, emb):
    """PQ-ADC top-10 must overlap the exact L2 top-10 far beyond
    chance (10/N ≈ 2%) — the standard recall@k check for a compressed
    index. Also: codes are complete (no null slots) and bounded."""
    from shippai_knowledge_etl_spark.queries.simsearch import (
        EMB_DIMS,
        PQ_K,
        PQ_M,
    )

    books = simsearch.pq_train(emb, PQ_M, PQ_K, EMB_DIMS)
    assert books.count() == PQ_M * PQ_K
    codes = simsearch.pq_encode(emb, books, PQ_M, EMB_DIMS)
    bad = codes.filter(
        F.exists("codes", lambda c: c.isNull() | (c < 0) | (c >= PQ_K))
        | (F.size("codes") != PQ_M)
    )
    assert bad.count() == 0

    q = emb.filter(F.col("vec_id") == 0)
    qvec = [float(x) for x in q.first()["embedding"]]
    approx = simsearch.pq_search_adc(
        codes.filter(F.col("vec_id") != 0), books, qvec, 10, PQ_M
    )
    approx_ids = {r.vec_id for r in approx.collect()}

    # exact L2 top-10 (same metric ADC approximates)
    corpus = emb.filter(F.col("vec_id") != 0).crossJoin(
        F.broadcast(q.select(F.col("embedding").alias("qv")))
    )
    d = simsearch._sq_dist(F.col("embedding"), F.col("qv"))
    exact = (
        corpus.select("vec_id", d.alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(10)
    )
    exact_ids = {r.vec_id for r in exact.collect()}
    assert len(approx_ids & exact_ids) >= 3  # ≫ 2% chance overlap

    # the production two-stage form: ADC shortlist → exact re-rank
    rer = simsearch.pq_search_rerank(
        codes.filter(F.col("vec_id") != 0),
        books,
        emb.filter(F.col("vec_id") != 0),
        qvec,
        10,
        PQ_M,
        shortlist=50,
    )
    rer_ids = {r.vec_id for r in rer.collect()}
    assert len(rer_ids & exact_ids) >= 6  # shortlist recall ≫ ADC-only


def test_pq_encode_deterministic_across_partitionings(spark, emb):
    from shippai_knowledge_etl_spark.queries.simsearch import (
        EMB_DIMS,
        PQ_K,
        PQ_M,
    )

    books = simsearch.pq_train(emb, PQ_M, PQ_K, EMB_DIMS)
    a = simsearch.pq_encode(emb, books, PQ_M, EMB_DIMS)
    b = simsearch.pq_encode(emb.repartition(17), books, PQ_M, EMB_DIMS)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_semantic_dedup_evicts_planted_copies(spark, emb):
    e = emb.select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = simsearch.semantic_dedup(e.unionByName(copies), threshold=0.99)
    planted = out.filter(F.col("vec_id") >= 100000)
    n = planted.count()
    assert n > 0
    # an exact copy always lands in its original's cluster (identical
    # vector → identical argmin) and cosine 1.0 ≥ any threshold → the
    # higher id is evicted, against an id no larger than the original
    assert planted.filter(~F.col("is_dropped")).count() == 0
    bad = planted.filter(
        F.col("drop_against") > F.col("vec_id") - 100000
    )
    assert bad.count() == 0
    # originals are never evicted BY their planted copy (min-id policy)
    originals = out.filter(
        (F.col("vec_id") < 100000) & F.col("is_dropped")
    )
    assert originals.filter(F.col("drop_against") >= 100000).count() == 0


def test_align_best_match_prefers_exact_partner(spark):
    from shippai_knowledge_etl_spark.operators import simsearch as S

    # side B: two distinct vectors; side A: a copy of each plus a
    # mild distractor that must map to its closest B vector
    b = spark.createDataFrame(
        [(1, [1.0] * 8 + [0.0] * 56), (2, [0.0] * 56 + [1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    a = spark.createDataFrame(
        [
            (101, [1.0] * 8 + [0.0] * 56),
            (102, [0.0] * 56 + [1.0] * 8),
            (103, [1.0] * 7 + [0.5] + [0.0] * 56),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["id_a"]: r for r in S.align_best_match(a, b).collect()}
    assert rows[101]["id_b"] == 1 and rows[101]["sim"] == 1.0
    assert rows[102]["id_b"] == 2 and rows[102]["sim"] == 1.0
    # the distractor lands in vector-1's bucket and matches it
    assert 103 in rows and rows[103]["id_b"] == 1 and rows[103]["sim"] < 1.0


def test_align_best_match_threshold_drops_weak(spark):
    from shippai_knowledge_etl_spark.operators import simsearch as S

    b = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    a = spark.createDataFrame(
        [(10, [1.0] * 64), (11, [1.0] * 33 + [-1.0] * 31)],
        "vec_id long, embedding array<float>",
    )
    out = S.align_best_match(a, b, threshold=0.9)
    ids = {r["id_a"] for r in out.collect()}
    assert 10 in ids and 11 not in ids


def test_lsh_entry_points_tolerate_empty_inputs(spark):
    from shippai_knowledge_etl_spark.operators import simsearch as S

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    b = spark.createDataFrame(
        [(1, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    out = S.align_best_match(empty, b)
    assert out.columns == ["id_a", "id_b", "sim"] and out.count() == 0
    pairs = S.near_dup_pairs_lsh(empty, threshold=0.9)
    assert pairs.columns == ["id_a", "id_b", "sim"] and pairs.count() == 0


def test_hard_negatives_exclude_query_label(spark, sf_dir):
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators.simsearch import hard_negatives
    from shippai_knowledge_etl_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    qlabel = q.collect()[0]["label"]
    rows = hard_negatives(e, q, 10, "label").collect()
    ids = [r["vec_id"] for r in rows]
    labels = {
        r["label"]
        for r in e.filter(F.col("vec_id").isin(ids)).collect()
    }
    assert qlabel not in labels and len(rows) == 10


def test_sample_negatives_contract(spark, sf_dir):
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators.simsearch import sample_negatives
    from shippai_knowledge_etl_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") % 25 == 0)
    out = sample_negatives(e, 4, 8, "label", anchors=anchors).collect()
    by_anchor = {}
    for r in out:
        assert r["partner_id"] != r["anchor_id"]
        assert r["partner_label"] != r["anchor_label"]
        by_anchor.setdefault(r["anchor_id"], []).append(r["neg_rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_anchor.values())
    assert all(len(v) <= 4 for v in by_anchor.values())
    # reproducible
    again = sample_negatives(e, 4, 8, "label", anchors=anchors).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_hard_negatives_batch_is_per_query(spark, sf_dir):
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators.simsearch import hard_negatives
    from shippai_knowledge_etl_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id").isin([0, 1, 2]))
    rows = hard_negatives(e, qs, 5, "label").collect()
    per = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(r["sim"])
    assert set(per) == {0, 1, 2}
    assert all(len(v) == 5 for v in per.values())


def test_sample_negatives_empty_and_distinct(spark):
    from shippai_knowledge_etl_spark.operators.simsearch import sample_negatives

    empty = spark.createDataFrame([], "vec_id long, label int")
    assert sample_negatives(empty, 4, 8, "label").count() == 0
    # n_rows = 69 divides 40503: without partner dedup all draws alias
    small = spark.createDataFrame(
        [(i, i % 3) for i in range(69)], "vec_id long, label int"
    )
    rows = sample_negatives(small, 4, 8, "label").collect()
    for aid in {r["anchor_id"] for r in rows}:
        partners = [r["partner_id"] for r in rows if r["anchor_id"] == aid]
        assert len(partners) == len(set(partners))


def test_mrl_funnel_reranks_within_coarse_candidates(spark, sf_dir):
    """The funnel's output must be the exact full-dim cosine ranking of
    its own coarse candidate set — stage 2 adds no new docs and its
    scores equal the brute-force cosine for those ids."""
    from shippai_knowledge_etl_spark.operators import simsearch as ss

    e = load(spark, sf_dir, "embeddings")
    out = ss.truncated_rerank(e, "vec_id", "embedding", 0, 16, 50, 10).collect()
    assert len(out) == 10
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    coarse = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                ss.cosine(F.slice("embedding", 1, 16), F.slice("qvec", 1, 16)),
                6,
            ).alias("sc"),
        )
        .orderBy(F.desc("sc"), F.asc("vec_id"))
        .limit(50)
    )
    cand_ids = {r["vec_id"] for r in coarse.collect()}
    full = {
        r["vec_id"]: r["sim"]
        for r in (
            e.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.round(ss.cosine(F.col("embedding"), F.col("qvec")), 6).alias(
                    "sim"
                ),
            )
            .collect()
        )
    }
    for r in out:
        assert r["vec_id"] in cand_ids
        assert r["sim_full"] == full[r["vec_id"]]
    # ordering is by full-dim score within the candidate pool
    sims = [r["sim_full"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_pca_whiten_invariants(spark, sf_dir):
    """Whitening contract: (1) projected components have ~unit variance
    and ~zero pairwise covariance (that IS whitening); (2) component
    order follows descending original variance; (3) the sign canon
    makes repeated runs identical."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    rows = simsearch.pca_whiten(e, "vec_id", "embedding", k=4).collect()
    p = np.array([[r[f"pc{j}"] for j in range(1, 5)] for r in rows])
    assert p.shape[0] == e.count()
    cov = np.cov(p, rowvar=False, bias=True)
    assert np.allclose(cov, np.eye(4), atol=2e-3), cov
    n, mu, full_cov = simsearch.corpus_moments(e, "embedding", 64)
    assert n == p.shape[0]
    vals = np.sort(np.linalg.eigvalsh(full_cov))[::-1]
    # raw projections BEFORE the 1/sqrt(lam) scaling would have these
    # variances; whitened variance ~1 means the scaling used the same
    # descending eigenvalues — check ordering via reconstruction:
    assert all(vals[i] >= vals[i + 1] for i in range(3))
    again = simsearch.pca_whiten(e, "vec_id", "embedding", k=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_class_separation_planted(spark):
    """Well-separated planted classes score high; a single class has
    zero between-distance by construction."""
    from shippai_knowledge_etl_spark.catalog import load_catalog

    # exercise the registered query end-to-end at sf0.001 first
    out = {
        r["label"]: r
        for r in load_catalog()["emb_class_separation"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert len(out) == 10
    for r in out.values():
        assert r["within_var"] > 0
        assert r["between_dist2"] >= 0
        assert r["separation"] >= 0

    # planted two tight, far-apart clusters -> separation >> 1
    import pyspark.sql.functions as F

    rows = []
    for i in range(20):
        base = [0.0] * 64
        base[0] = 10.0 if i % 2 == 0 else -10.0
        base[1] = 0.01 * (i % 5)  # tiny within-class jitter
        rows.append((i, [float(v) for v in base], i % 2))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    # reuse the query's internals by registering a temp view path:
    # simplest is to mimic via the same operator-less inline logic —
    # instead assert through the public query on a temp parquet dir
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.select(
            "vec_id",
            F.col("embedding").cast("array<float>").alias("embedding"),
            F.col("label").cast("int").alias("label"),
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        sep = {
            r["label"]: r["separation"]
            for r in load_catalog()["emb_class_separation"]
            .fn(spark, td)
            .collect()
        }
    assert set(sep) == {0, 1}
    assert all(s > 100 for s in sep.values()), sep


def test_ivf_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """nprobe=2 candidates ⊇ the nprobe=1 bucket, and recall@10 vs the
    exact brute-force top-10 is >= the single-probe recall — the knob
    must only ever ADD candidates."""
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.catalog import load_catalog
    from shippai_knowledge_etl_spark.operators.simsearch import (
        kmeans_fit,
        probe_clusters,
    )
    from shippai_knowledge_etl_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_fit(e, k=8, n_iter=3)
    q = e.filter(F.col("vec_id") == 0)
    p1 = {r.cluster for r in probe_clusters(q, centroids, 1).collect()}
    p2 = {r.cluster for r in probe_clusters(q, centroids, 2).collect()}
    assert p1 <= p2 and len(p2) == 2

    exact = {
        r.vec_id
        for r in load_catalog()["simsearch_topk_cosine"].fn(spark, sf_dir).collect()
    }
    multi = {
        r.vec_id
        for r in load_catalog()["simsearch_ivf_multiprobe"].fn(spark, sf_dir).collect()
    }
    single = {
        r.vec_id
        for r in load_catalog()["simsearch_ivf_kmeans"].fn(spark, sf_dir).collect()
    }
    assert len(multi & exact) >= len(single & exact)


def test_margin_mining_matches_numpy_bruteforce(spark, sf_dir):
    """Third-implementation check for the margin criterion: replicate
    the whole query (top-1 match, both 4-NN neighborhood sums, the
    8*cos/(sumx+sumy) margin) in numpy from the raw parquet and
    require identical matches/acceptance and margins to 1e-6 — the
    DuckDB oracle shares the rounding discipline with the Spark plan,
    numpy does not, so this pins the MATH, not the mirroring."""
    import numpy as np
    import pyarrow.parquet as pq

    from shippai_knowledge_etl_spark.queries.simsearch import (
        simsearch_margin_mining,
    )

    got = {
        r["query_id"]: r
        for r in simsearch_margin_mining(spark, sf_dir).collect()
    }
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    m = np.array([np.array(v, dtype=np.float64) for v in t["embedding"]])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = np.round(m @ m.T, 6)

    def knn(i, k):
        order = sorted(
            (j for j in range(len(ids)) if j != i),
            key=lambda j: (-cos[i, j], ids[j]),
        )
        return order[:k]

    for qi in np.nonzero(ids % 100 == 0)[0]:
        nn = knn(qi, 4)
        top1 = nn[0]
        sum4x = sum(cos[qi, j] for j in nn)
        sum4y = sum(cos[top1, j] for j in knn(top1, 4))
        margin = 8 * cos[qi, top1] / (sum4x + sum4y)
        r = got[ids[qi]]
        assert r["matched_id"] == ids[top1]
        assert abs(r["sim"] - cos[qi, top1]) < 1e-9
        assert abs(r["margin"] - margin) < 1e-6
        assert r["accepted"] == (margin > 1.0)
    assert len(got) == int((ids % 100 == 0).sum())
