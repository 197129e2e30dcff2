"""Retrieval surface: BM25 form equivalence, chunking contract,
Hamming/hybrid invariants. Oracle parity for the registered queries is
covered by test_oracle_parity.py; these pin the operator-level
contracts the oracles can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.operators import retrieval
from shippai_knowledge_etl_spark.tables import load

TERMS = ("spark", "join", "window")


def test_bm25_dense_matches_postings_form(spark, sf_dir):
    """The single-scan dense plan and the inverted-index postings plan
    are two physical strategies for the same math — scores must agree
    bit for bit (same operand order), not just post-round."""
    d = load(spark, sf_dir, "documents")
    dense = retrieval.bm25_scores_dense(d, "doc_id", "text", TERMS)
    postings = retrieval.bm25_scores(d, "doc_id", "text", TERMS)
    a = {r["doc_id"]: r["bm25"] for r in dense.collect()}
    b = {r["doc_id"]: r["bm25"] for r in postings.collect()}
    assert a == b and len(a) > 0


def test_bm25_scores_positive_and_bounded(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    rows = retrieval.bm25_topk(d, "doc_id", "text", TERMS, 10).collect()
    assert len(rows) == 10
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_chunk_tokens_covers_and_overlaps(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(70))), (2, "a b"), (3, " ")],
        "id long, text string",
    )
    out = retrieval.chunk_tokens(df, "id", "text", 32, 24)
    rows = {(r["id"], r["chunk_idx"]): r for r in out.collect()}
    # doc 1: 70 tokens -> starts 0,24,48 -> lens 32,32,22
    assert [rows[(1, i)]["chunk_tokens"] for i in range(3)] == [32, 32, 22]
    # consecutive chunks overlap by width - stride tokens
    c0 = rows[(1, 0)]["chunk_text"].split()
    c1 = rows[(1, 1)]["chunk_text"].split()
    assert c0[24:] == c1[:8]
    # short doc -> one short chunk; empty doc -> no chunks
    assert rows[(2, 0)]["chunk_tokens"] == 2
    assert not any(k[0] == 3 for k in rows)


def test_chunk_tokens_rejects_bad_geometry(spark):
    df = spark.createDataFrame([(1, "a")], "id long, text string")
    with pytest.raises(ValueError):
        retrieval.chunk_tokens(df, "id", "text", 0, 8)
    with pytest.raises(ValueError):
        retrieval.chunk_tokens(df, "id", "text", 8, 0)


def test_hamming_topk_planted_duplicate_wins(spark, sf_dir):
    """A planted exact copy has Hamming distance 0 and must rank
    first; distances are monotone down the list."""
    e = load(spark, sf_dir, "embeddings")
    copy = e.filter(F.col("vec_id") == 0).select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding", "label"
    )
    corpus = e.select("vec_id", "embedding", "label").unionByName(copy)
    rows = retrieval.hamming_topk(corpus, "vec_id", "embedding", 0, 5).collect()
    assert rows[0]["vec_id"] == 999999 and rows[0]["hamming"] == 0
    dists = [r["hamming"] for r in rows]
    assert dists == sorted(dists)


def test_hybrid_reranks_within_candidates(spark, sf_dir):
    """Hybrid output ⊆ BM25 candidate set, ranked by cosine."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    # the operator excludes the query doc (id 0) before the 50-cut, so
    # its candidate pool is contained in the unfiltered top-51 minus 0
    cand_ids = {
        r["doc_id"]
        for r in retrieval.bm25_topk(d, "doc_id", "text", TERMS, 51).collect()
    } - {0}
    rows = retrieval.hybrid_candidates(
        d, e, "doc_id", "vec_id", "embedding", TERMS, 0, 50, 10
    ).collect()
    assert len(rows) == 10
    assert {r["doc_id"] for r in rows} <= cand_ids
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_mmr_lambda_one_is_plain_topk(spark, sf_dir):
    """lam=1 removes the diversity penalty: the selection must equal
    the plain cosine top-k in relevance order."""
    from shippai_knowledge_etl_spark.operators.simsearch import topk_cosine

    e = load(spark, sf_dir, "embeddings")
    picked = retrieval.mmr_rerank(e, "vec_id", "embedding", 0, 50, 10, lam=1.0)
    q = e.filter(F.col("vec_id") == 0)
    plain = [r["vec_id"] for r in topk_cosine(e, q, 10).collect()]
    assert [d for d, _ in picked] == plain


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    """With lam<1 the selected set's mean pairwise cosine must not
    exceed the plain top-k's (that is the entire point of MMR), and
    the selection is deterministic across runs."""
    from shippai_knowledge_etl_spark.operators.simsearch import cosine

    e = load(spark, sf_dir, "embeddings")

    def mean_pairwise(ids):
        sub = e.filter(F.col("vec_id").isin(list(ids))).select(
            "vec_id", "embedding"
        )
        other = sub.select(
            F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
        )
        pairs = (
            sub.crossJoin(F.broadcast(other))
            .filter(F.col("vec_id") < F.col("b"))
            .select(cosine(F.col("embedding"), F.col("eb")).alias("s"))
            .collect()
        )
        return sum(r["s"] for r in pairs) / len(pairs)

    mmr = retrieval.mmr_rerank(e, "vec_id", "embedding", 0, 50, 10, lam=0.5)
    top = retrieval.mmr_rerank(e, "vec_id", "embedding", 0, 50, 10, lam=1.0)
    assert mean_pairwise([d for d, _ in mmr]) <= mean_pairwise(
        [d for d, _ in top]
    )
    again = retrieval.mmr_rerank(e, "vec_id", "embedding", 0, 50, 10, lam=0.5)
    assert again == mmr


def test_mmr_distributed_matches_collect_form(spark, sf_dir):
    """The in-engine greedy (mmr_rerank_distributed) must pick the
    same ids in the same order with the same scores as the driver-loop
    form on an identical pool — the equivalence that licenses using it
    when the pool is too large to collect."""
    e = load(spark, sf_dir, "embeddings")
    want = retrieval.mmr_rerank(e, "vec_id", "embedding", 0, 50, 10, lam=0.5)
    got = (
        retrieval.mmr_rerank_distributed(
            e, "vec_id", "embedding", 0, 50, 10, lam=0.5
        )
        .orderBy("rank")
        .collect()
    )
    assert [r["vec_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        # scores agree to the rounding grain (Spark HALF_UP vs Python
        # half-even can differ only exactly ON a .5e-6 boundary)
        assert abs(r["mmr_score"] - s) <= 1e-6


def test_mmr_distributed_round_update_has_no_shuffle(spark, sf_dir):
    """Plan gate for the large-pool path: the per-round penalty fold
    (pool × broadcast 1-row selected vector) must not shuffle the pool
    — its only exchange is the broadcast. The argmax aggregate's
    SinglePartition exchange carries one partial-max row per partition
    (sketch-merge class), which is the allowed bounded shape."""
    from pyspark.sql import functions as FF

    from shippai_knowledge_etl_spark.operators.simsearch import cosine

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(FF.col("vec_id") == 0).select(
        FF.col("embedding").alias("qvec")
    )
    pool = (
        e.filter(FF.col("vec_id") != 0)
        .crossJoin(FF.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            FF.round(cosine(FF.col("embedding"), FF.col("qvec")), 6).alias(
                "rel"
            ),
        )
        .orderBy(FF.desc("rel"), FF.asc("vec_id"))
        .limit(50)
        .withColumn("penalty", FF.lit(0.0))
        .localCheckpoint()
    )
    some_id = pool.select("vec_id").head()["vec_id"]
    sel = pool.filter(FF.col("vec_id") == some_id).select(
        FF.col("embedding").alias("svec")
    )
    upd = (
        pool.crossJoin(FF.broadcast(sel))
        .select(
            "vec_id",
            "embedding",
            "rel",
            FF.greatest(
                FF.col("penalty"),
                FF.round(cosine(FF.col("embedding"), FF.col("svec")), 6),
            ).alias("penalty"),
        )
    )
    plan = upd._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.replace("BroadcastExchange", "BX"), plan

    agg = pool.agg(
        FF.max(FF.struct(FF.col("rel"), (-FF.col("vec_id")))).alias("m")
    )
    aplan = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in aplan or "partial max" in aplan.lower(), aplan
    assert "hashpartitioning" not in aplan, aplan


def test_chunk_gap_sampling_never_emits_empty_chunks(spark):
    """stride > width (gap sampling): chunks skip tokens but no chunk
    may be empty (review finding: last_start could land on n)."""
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "id long, text string"
    )
    rows = retrieval.chunk_tokens(df, "id", "text", 2, 5).collect()
    assert rows and all(r["chunk_tokens"] > 0 for r in rows)


def test_hybrid_excludes_query_document(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    rows = retrieval.hybrid_candidates(
        d, e, "doc_id", "vec_id", "embedding", TERMS, 0, 500, 500
    ).collect()
    assert 0 not in {r["doc_id"] for r in rows}


def test_bm25_rejects_empty_query(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        retrieval.bm25_scores_dense(d, "doc_id", "text", ())
    with pytest.raises(ValueError):
        retrieval.bm25_scores(d, "doc_id", "text", ())


def test_rag_pipeline_e2e_deterministic_and_consistent(spark, sf_dir):
    """The e2e composition returns 10 chunks, reproducibly, with
    every returned chunk traceable to a real document chunk."""
    from shippai_knowledge_etl_spark.catalog import load_catalog

    fn = load_catalog()["retrieval_pipeline_e2e"].fn
    a = [tuple(r) for r in fn(spark, sf_dir).collect()]
    b = [tuple(r) for r in fn(spark, sf_dir).collect()]
    assert a == b and len(a) == 10
    for chunk_id, doc_id, chunk_idx, bm25, sim in a:
        assert chunk_id == (doc_id << 20) + chunk_idx
        assert bm25 > 0 and -1.0 <= sim <= 1.0
    sims = [r[4] for r in a]
    assert sims == sorted(sims, reverse=True)


def test_hash_embed_emits_zero_vector_for_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "!!! ???"), (3, None)],
        "id long, text string",
    )
    out = {r["id"]: r["embedding"] for r in
           retrieval.hash_embed(df, "id", "text").collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] == [0.0] * 64 and out[3] == [0.0] * 64
    assert any(v != 0 for v in out[1])


def test_rrf_fusion_rank_math_and_pool(spark, sf_dir):
    """RRF invariants: output ⊆ union of the two top-100 pools; a doc
    in BOTH lists outscores a doc appearing once at the same ranks;
    the score equals 1/(60+rl) + 1/(60+rs) exactly."""
    from shippai_knowledge_etl_spark.operators.simsearch import cosine

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    lex = retrieval.bm25_scores_dense(d, "doc_id", "text", TERMS).filter(
        F.col("doc_id") != 0
    )
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("sim"),
        )
    )
    fused = retrieval.rrf_fuse(lex, sem, "doc_id", "bm25", "sim").collect()
    assert len(fused) == 20
    lex_ids = {
        r["doc_id"]
        for r in lex.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(100).collect()
    }
    sem_ids = {
        r["doc_id"]
        for r in sem.orderBy(F.desc("sim"), F.asc("doc_id")).limit(100).collect()
    }
    for r in fused:
        assert r["doc_id"] in (lex_ids | sem_ids)
        expect = 0.0
        if r["rank_lex"] is not None:
            assert r["doc_id"] in lex_ids
            expect += 1.0 / (60 + r["rank_lex"])
        if r["rank_sem"] is not None:
            assert r["doc_id"] in sem_ids
            expect += 1.0 / (60 + r["rank_sem"])
        assert r["rrf"] == round(expect, 9)
    # every doc in both pools must dominate any single-pool doc with
    # equal-or-worse ranks: spot-check the top fused row
    both = [r for r in fused if r["rank_lex"] and r["rank_sem"]]
    single = [r for r in fused if (r["rank_lex"] is None) != (r["rank_sem"] is None)]
    if both and single:
        assert max(r["rrf"] for r in both) > min(r["rrf"] for r in single)


def test_mrr_eval_consistency(spark):
    """rr is exactly the shared literal for first_hit_rank (0 -> 0.0),
    and the three eval metrics agree on WHICH queries hit at all."""
    from shippai_knowledge_etl_spark.operators.retrieval import (
        ann_mrr_eval,
        ann_ndcg_eval,
        mrr_literals,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lits = mrr_literals(10)
    mrr = {
        r["query_id"]: (r["first_hit_rank"], r["rr"])
        for r in ann_mrr_eval(e, "vec_id", "embedding", 50, 10).collect()
    }
    assert mrr
    for fr, rr in mrr.values():
        assert rr == (lits[fr] if fr > 0 else 0.0)
        assert 0 <= fr <= 10
    ndcg = {
        r["query_id"]: r["n_hits"]
        for r in ann_ndcg_eval(e, "vec_id", "embedding", 50, 10).collect()
    }
    assert set(ndcg) == set(mrr)
    for q, n_hits in ndcg.items():
        assert (n_hits > 0) == (mrr[q][0] > 0)


def test_sentence_chunks_never_split_sentences(spark):
    """Every sentence appears whole in exactly one chunk, chunk token
    counts respect the start-offset rule (start < 48*(chunk_id+1)),
    and concatenating chunks in order reproduces the sentence stream."""
    from shippai_knowledge_etl_spark.catalog import load_catalog

    rows = (
        load_catalog()["retrieval_sentence_chunks"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).collect()
    import re

    for d in docs[:50]:
        sents = [
            s.strip() for s in re.split(r"[.!?]+", d["text"]) if s.strip()
        ]
        chunks = sorted(by_doc.get(d["doc_id"], []), key=lambda r: r["chunk_id"])
        if not sents:
            assert not chunks
            continue
        joined = " ".join(c["chunk_text"] for c in chunks)
        assert joined == " ".join(sents)  # whole sentences, in order
        assert sum(c["n_sentences"] for c in chunks) == len(sents)
        # every chunk's first sentence starts below the bucket boundary
        running = 0
        for c in chunks:
            assert running < 48 * (c["chunk_id"] + 1)
            running += c["n_tokens"]


def test_spell_correct_symspell_recall(spark):
    """Each planted misspelling recovers its intended vocabulary term
    at rank 1 with distance 1; the delete-key candidate set never
    misses a distance-1 neighbor (SymSpell completeness for the
    substitution/insertion/deletion cases planted here)."""
    from shippai_knowledge_etl_spark.catalog import load_catalog

    out = {
        (r["query_term"], r["rnk"]): (r["suggestion"], r["dist"])
        for r in load_catalog()["retrieval_spell_correct"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert out[("windw", 1)] == ("window", 1)   # deletion in the query
    assert out[("qury", 1)] == ("query", 1)     # deletion in the query
    assert out[("mergge", 1)] == ("merge", 1)   # insertion in the query


def _brute_min_cover(tokens, terms):
    """O(n^2) reference: minimal window over token list covering every
    term in ``terms``; None when some term is absent."""
    positions = [
        (i, t) for i, t in enumerate(tokens) if t in terms
    ]
    best = None
    for i, (pa, _) in enumerate(positions):
        need = set(terms)
        for pb, tb in positions[i:]:
            need.discard(tb)
            if not need:
                span = pb - pa
                best = span if best is None else min(best, span)
                break
    return best


def _sweep_spans(spark, docs, terms):
    """Run min_cover_span over (doc_id, tokens-list) rows."""
    hits = (
        spark.createDataFrame(docs, "doc_id int, toks array<string>")
        .select("doc_id", F.posexplode("toks").alias("pos", "tok"))
        .filter(F.col("tok").isin(*terms))
    )
    out = retrieval.min_cover_span(hits, "doc_id", "tok", "pos", terms)
    return {r["doc_id"]: r["min_span"] for r in out.collect()}


def test_min_cover_span_matches_bruteforce_n2_n4(spark):
    """The ordered-positions sweep is EXACT — pinned against an O(n^2)
    brute force for n=2 and n=4 query terms, including interleaved,
    clustered, and missing-term docs (VERDICT r7 items 1+5)."""
    docs = [
        (1, "a x x b x a b".split()),
        (2, "b a".split()),
        (3, "a x x x x x x b a".split()),
        (4, "a a a a b".split()),
        (5, "a x x x".split()),  # missing b -> excluded
        (6, "c d a b x a c d b".split()),
        (7, "a b c x x d".split()),
        (8, "d c b a".split()),
        (9, "a b c x d x x a x b c d".split()),
        (10, "a b c".split()),  # missing d for n=4
    ]
    for terms in (("a", "b"), ("a", "b", "c", "d")):
        got = _sweep_spans(spark, docs, terms)
        want = {
            i: _brute_min_cover(toks, set(terms)) for i, toks in docs
        }
        want = {i: s for i, s in want.items() if s is not None}
        assert got == want, (terms, got, want)


def test_min_cover_span_single_term_and_empty_terms(spark):
    docs = [(1, "a x a".split()), (2, "x".split())]
    got = _sweep_spans(spark, docs, ("a",))
    assert got == {1: 0}
    with pytest.raises(ValueError):
        retrieval.min_cover_span(
            spark.createDataFrame([(1, "a", 0)], "doc_id int, tok string, pos int"),
            "doc_id", "tok", "pos", (),
        )


def test_min_cover_span_pathological_tf(spark):
    """The fan-out bound that closes VERDICT r7 weak #1: a doc with
    tf=500 per term would give the old 3-way positional self-join
    500^3 = 1.25e8 intermediate rows; the sweep's intermediate row
    count equals its INPUT hit count (one window pass), pinned here by
    both the exact answer and the physical plan carrying no Join at
    all."""
    n = 500
    toks = (["a"] * n) + ["x"] + (["b"] * n) + ["y"] + (["c"] * n)
    docs = [(1, toks)]
    terms = ("a", "b", "c")
    hits = (
        spark.createDataFrame(docs, "doc_id int, toks array<string>")
        .select("doc_id", F.posexplode("toks").alias("pos", "tok"))
        .filter(F.col("tok").isin(*terms))
    )
    out = retrieval.min_cover_span(hits, "doc_id", "tok", "pos", terms)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # sweep = window + agg, no self-join
    rows = out.collect()
    # optimal: last 'a' (pos n-1) .. first 'c' (pos 2n+2) -> span n+3
    assert rows == [(1, n + 3)] or [
        (r["doc_id"], r["min_span"]) for r in rows
    ] == [(1, n + 3)]


def test_query_likelihood_dense_ordering_and_formula(spark):
    """Dirichlet QL on a 3-doc micro corpus: the doc with more query
    mass ranks first; the absent-term doc still gets a finite score;
    and the score equals the hand-computed formula (mu=100, add-one
    collection smoothing, round-6 per term, decimal sum)."""
    import math

    from shippai_knowledge_etl_spark.operators.retrieval import (
        query_likelihood_dense,
    )

    d = spark.createDataFrame(
        [
            (1, "spark join window spark"),
            (2, "spark other words here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in query_likelihood_dense(
            d, "doc_id", "text", ("spark", "join", "window"), mu=100
        ).collect()
    }
    assert rows[1]["ql_score"] > rows[2]["ql_score"] > rows[3]["ql_score"]
    # hand recompute doc 3 (tf all 0, dl 4): T=12, ctf=(3,1,1)
    t_total, dl = 12, 4
    exp = sum(
        round(
            math.log((0 + 100 * ((ctf + 1) / (t_total + 1))) / (dl + 100)), 6
        )
        for ctf in (3, 1, 1)
    )
    assert abs(rows[3]["ql_score"] - exp) < 1e-9


def test_champion_lists_exact_when_lists_cover(spark):
    """With champion depth >= postings depth the champion path must
    reproduce the exact top-k bit-for-bit; with depth 1 it keeps only
    each term's single heaviest doc — both ends of the pruning dial."""
    from shippai_knowledge_etl_spark.operators.retrieval import (
        bm25_champion_topk,
        bm25_topk,
    )

    d = spark.createDataFrame(
        [
            (1, "spark spark spark join"),
            (2, "spark join window"),
            (3, "join join window window spark"),
            (4, "window"),
            (5, "unrelated words only"),
        ],
        "doc_id long, text string",
    )
    q = ("spark", "join", "window")
    full = bm25_topk(d, "doc_id", "text", q, 5).collect()
    wide = bm25_champion_topk(d, "doc_id", "text", q, 5, champions=100).collect()
    assert [(r["doc_id"], r["bm25"]) for r in full] == [
        (r["doc_id"], r["bm25"]) for r in wide
    ]
    narrow = bm25_champion_topk(d, "doc_id", "text", q, 5, champions=1).collect()
    # depth-1 lists keep <= |q| distinct docs
    assert len(narrow) <= 3
    kept = {r["doc_id"] for r in narrow}
    assert 1 in kept and 3 in kept  # each term's heaviest doc survives


def test_wand_pruning_rank_safe(spark, sf_dir):
    """WAND's contract: the pruned top-10 equals exhaustive evaluation
    exactly (doc ids AND scores), and the survivor set is a genuine
    subset of the bound-scored docs."""
    from shippai_knowledge_etl_spark.operators.retrieval import (
        bm25_topk,
        bm25_wand_topk,
    )
    from shippai_knowledge_etl_spark.tables import load

    d = load(spark, sf_dir, "documents")
    q = ("spark", "join", "window")
    wand = bm25_wand_topk(d, "doc_id", "text", q, 10, champions=8).collect()
    exact = bm25_topk(d, "doc_id", "text", q, 10).collect()
    assert [(r["doc_id"], r["bm25"]) for r in wand] == [
        (r["doc_id"], r["bm25"]) for r in exact
    ]
    assert wand[0]["n_survivors"] <= wand[0]["n_docs_scored_bound"]


def test_maxscore_pruning_rank_safe(spark, sf_dir):
    """MaxScore's contract: the list-skipped top-10 equals exhaustive
    evaluation exactly (doc ids AND scores), at least one term is
    essential whenever results exist, and the candidate set genuinely
    shrinks relative to all docs containing any query term."""
    from shippai_knowledge_etl_spark.operators.retrieval import (
        bm25_maxscore_topk,
        bm25_topk,
    )
    from shippai_knowledge_etl_spark.tables import load

    d = load(spark, sf_dir, "documents")
    q = ("spark", "join", "window")
    ms = bm25_maxscore_topk(d, "doc_id", "text", q, 10, champions=8).collect()
    exact = bm25_topk(d, "doc_id", "text", q, 10).collect()
    assert [(r["doc_id"], r["bm25"]) for r in ms] == [
        (r["doc_id"], r["bm25"]) for r in exact
    ]
    assert 1 <= ms[0]["n_essential_terms"] <= len(q)
    from pyspark.sql import functions as F
    from shippai_knowledge_etl_spark.operators.textops import tokenize

    any_term = (
        d.select(F.explode(tokenize(F.col("text"))).alias("t"), "doc_id")
        .filter(F.col("t").isin(*q))
        .select("doc_id")
        .distinct()
        .count()
    )
    assert ms[0]["n_candidates"] <= any_term


def test_blockmax_wand_rank_safe_and_tighter(spark, sf_dir):
    """BMW's contract: the block-bounded top-10 equals exhaustive
    evaluation exactly, and the block-max survivor set is never
    larger than the classic global-UB survivor set."""
    from shippai_knowledge_etl_spark.operators.retrieval import (
        bm25_blockmax_topk,
        bm25_topk,
    )
    from shippai_knowledge_etl_spark.tables import load

    d = load(spark, sf_dir, "documents")
    q = ("spark", "join", "window")
    bmw = bm25_blockmax_topk(d, "doc_id", "text", q, 10).collect()
    exact = bm25_topk(d, "doc_id", "text", q, 10).collect()
    assert [(r["doc_id"], r["bm25"]) for r in bmw] == [
        (r["doc_id"], r["bm25"]) for r in exact
    ]
    assert bmw[0]["n_survivors_block"] <= bmw[0]["n_survivors_global"]


DEGENERATE_CORPORA = {
    "empty": [],
    "one_doc_with_terms": [(1, "spark join window spark")],
    "one_doc_without_terms": [(1, "nothing relevant here")],
    "five_identical_docs": [(i, "spark") for i in range(1, 6)],
}


@pytest.mark.parametrize("corpus", sorted(DEGENERATE_CORPORA))
def test_bm25_pruning_family_on_degenerate_corpora(spark, corpus):
    """Empty, one-doc and all-tied corpora: every pruned top-k returns
    exactly the exhaustive top-k's (id, bm25) rows, the champion/exact
    harness agrees rank by rank, and query likelihood scores every
    doc once (ROADMAP aim 3: operators hold on degenerate input)."""
    d = spark.createDataFrame(
        DEGENERATE_CORPORA[corpus], "doc_id long, text string"
    )

    def pairs(df):
        return [(r["doc_id"], r["bm25"]) for r in df.collect()]

    want = pairs(retrieval.bm25_topk(d, "doc_id", "text", TERMS, 10))
    for op in (
        retrieval.bm25_wand_topk,
        retrieval.bm25_maxscore_topk,
        retrieval.bm25_blockmax_topk,
        retrieval.bm25_champion_topk,
    ):
        assert pairs(op(d, "doc_id", "text", TERMS, 10)) == want, op.__name__
    cve = retrieval.bm25_champion_vs_exact(
        d, "doc_id", "text", TERMS, 10
    ).orderBy("rank").collect()
    assert all(r["same_doc"] for r in cve)
    assert [(r["exact_doc_id"], r["exact_bm25"]) for r in cve] == want
    ql = retrieval.query_likelihood_dense(d, "doc_id", "text", TERMS)
    ids = [r["doc_id"] for r in ql.collect()]
    assert sorted(ids) == [i for i, _ in DEGENERATE_CORPORA[corpus]]


@pytest.mark.parametrize("n_vectors", [0, 1])
def test_ann_evals_on_degenerate_corpora(spark, n_vectors):
    """An empty embedding corpus yields no eval rows; a corpus whose
    only vector is the sampled query yields one zero-hit row per
    eval (no neighbor exists, so nothing can be recalled)."""
    emb = spark.createDataFrame(
        [(i, [float(j % 3 - 1) for j in range(64)]) for i in range(n_vectors)],
        "vec_id long, embedding array<float>",
    )
    args = (emb, "vec_id", "embedding", 50, 10)
    recall = [tuple(r) for r in retrieval.ann_recall_eval(*args).collect()]
    ndcg = [tuple(r) for r in retrieval.ann_ndcg_eval(*args).collect()]
    mrr = [tuple(r) for r in retrieval.ann_mrr_eval(*args).collect()]
    if n_vectors == 0:
        assert recall == ndcg == mrr == []
    else:
        assert recall == [(0, 0, 0.0)]
        assert ndcg == [(0, 0, 0.0, 0.0)]
        assert mrr == [(0, 0, 0.0)]


def test_ann_evals_reject_nonpositive_k(spark):
    """k < 1 has no top-k and no literal table: every eval refuses it
    with a ValueError before building a plan."""
    emb = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    for op in (
        retrieval.ann_recall_eval,
        retrieval.ann_ndcg_eval,
        retrieval.ann_mrr_eval,
    ):
        with pytest.raises(ValueError):
            op(emb, "vec_id", "embedding", 50, 0)


def test_bm25_weight_call_sites():
    """Spark-free AST guard: the BM25 weight is computed only by the
    shared postings builder and the forms that cannot use it (dense
    columns, batch semi-join postings, postings read at rest, the
    impact audit), and the pruning family's rank-safety slack ε is
    written once (operators/retrieval._pruning_threshold)."""
    import ast
    from pathlib import Path

    import shippai_knowledge_etl_spark as pkg

    allowed = {
        "operators/retrieval.py:_weighted_postings",
        "operators/retrieval.py:bm25_scores_dense",
        "operators/retrieval.py:bm25_topk_batch",
        "streaming/index.py:bm25_from_index",
        "queries/retrieval.py:retrieval_impact_quantized",
    }
    eps = ast.dump(ast.parse("(len(query_terms) + 2) // 2", mode="eval").body)
    root = Path(pkg.__file__).parent
    sites, n_eps = [], 0
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        n_eps += sum(ast.dump(n) == eps for n in ast.walk(tree))
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for n in ast.walk(fn):
                if isinstance(n, ast.Call) and "bm25_weight" in (
                    getattr(n.func, "id", None),
                    getattr(n.func, "attr", None),
                ):
                    sites.append(f"{path.relative_to(root).as_posix()}:{fn.name}")
    assert set(sites) == allowed, sorted(set(sites) ^ allowed)
    assert len(sites) == len(allowed), sorted(sites)
    assert n_eps == 1, n_eps
