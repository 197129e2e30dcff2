"""Full-text retrieval operators for RAG-style pipelines
(SURVEY.md §2.11 [EXT], third wave).

A training-data / RAG platform needs lexical retrieval next to the
vector stack (``operators/simsearch.py``):

  - :func:`bm25_scores` / :func:`bm25_topk` — Okapi BM25 scoring.
    The postings form (:func:`_weighted_postings`) is the
    inverted-index shape: tokenize → postings (doc, term, tf) →
    per-term document frequency → weight. The postings are filtered
    to the query vocabulary BEFORE the tf aggregation, which is the
    relational analogue of probing a term-bucketed inverted index at
    rest: only the query terms' postings ever shuffle, everything else
    dies in the scan stage. The champion-list and rank-safe pruning
    operators (WAND, MaxScore, Block-Max WAND) all start from it;
    :func:`bm25_topk` uses the single-scan dense form.
  - :func:`chunk_tokens` — sliding-window document chunking with
    overlap (the standard RAG pre-embedding step). One tokenize pass,
    chunk starts from ``sequence()`` + ``posexplode`` (codegen'd, no
    lambda HOFs), chunk text via ``slice`` — a narrow per-row
    expansion, no shuffle at all.
  - :func:`sign_pack64` / :func:`hamming_topk` — 64-dim sign
    quantization packed into two 32-bit words and Hamming-distance
    top-k via ``bit_count(xor)``. Integer-exact end to end, so unlike
    cosine it is byte-reproducible on any engine — the cheapest ANN
    probe there is (2 longs per vector ≈ 64x smaller than float32).
  - :func:`hybrid_candidates` — the two-stage hybrid pattern: BM25
    candidate generation (cheap, lexical, index-prunable) followed by
    exact cosine re-ranking of the small candidate set (semantic).

Scale notes (100 TB):
  - BM25: per-term df is vocabulary-sized after the query-vocab filter
    (== len(query) rows) → broadcast; corpus-level stats (N, avgdl)
    are a 1-row broadcast; the per-doc score is a fixed-order sum of
    per-term pivots, so no double-summation nondeterminism and no
    wide shuffle beyond the single postings aggregation.
  - top-k everywhere via orderBy+limit → TakeOrderedAndProject
    (per-partition heaps, k-row driver merge).
  - chunking/sign-packing are narrow maps: they pipeline into the
    scan stage and scale linearly with input splits.

Reference scope note: the reference pipeline (a scraper→JSON/PDF ETL)
has no retrieval engine; this module is part of the beyond-reference
LLM-pipeline surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.operators.textops import tokenize

# Okapi defaults (Robertson & Walker; the values ES/Lucene ship).
BM25_K1 = 1.2
BM25_B = 0.75

# exact type of every round-6 DECIMAL bound, threshold and sum
DEC6 = "decimal(18,6)"


def bm25_weight(
    tf: Column,
    df_: Column,
    dl: Column,
    n_docs: Column,
    avgdl: Column,
    k1: float,
    b: float,
) -> Column:
    """The Okapi BM25 per-(doc, term) weight — the ONE source of truth
    for the scoring arithmetic. Five call sites: the postings form
    (:func:`_weighted_postings`, which serves :func:`bm25_scores` and
    the whole pruning family), the dense form
    (:func:`bm25_scores_dense`), the batch form
    (:func:`bm25_topk_batch`), the streaming-index form
    (``streaming/index.bm25_from_index``) and the impact-quantization
    audit (``queries/retrieval.retrieval_impact_quantized``);
    tests/test_retrieval.py::test_bm25_weight_call_sites pins the list.
    Operand order is part of the contract: the DuckDB oracles mirror it
    token for token so doubles agree before the final round(6)."""
    idf = F.log(
        F.lit(1.0) + (n_docs - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )
    return (
        idf
        * (tf * F.lit(k1 + 1.0))
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
    )


def pivot_score(
    scored: DataFrame, id_col: str, query_terms: tuple[str, ...]
) -> DataFrame:
    """(id, term, w) rows → (id, bm25): each query term pivots to its
    own column with ``max(CASE ...)`` (exactly one posting per
    (doc, term), so max is an exact pick) and the final score adds the
    per-term columns in FIXED query order — the determinism device
    that replaces an order-dependent double sum. Shared by every
    postings-shaped scorer: :func:`bm25_scores`, the champion-list and
    pruning family, and the streaming-index form."""
    pivots = [
        F.max(F.when(F.col("term") == t, F.col("w"))).alias(f"w_{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = scored.groupBy(id_col).agg(*pivots)
    score = F.coalesce(F.col("w_0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        score = score + F.coalesce(F.col(f"w_{i}"), F.lit(0.0))
    return per_doc.select(F.col(id_col), F.round(score, 6).alias("bm25"))


def hamming_dist(lo: Column, hi: Column, qlo: Column, qhi: Column) -> Column:
    """Hamming distance between two packed sign signatures — shared by
    the top-k probe and the recall-evaluation harness."""
    return (
        F.bit_count(lo.bitwiseXOR(qlo)) + F.bit_count(hi.bitwiseXOR(qhi))
    ).cast("long")


def _corpus_stats(doc_lens: DataFrame) -> DataFrame:
    """1-row (n_docs, sum_dl) — integer-exact so avgdl = sum/n is the
    SAME double on every engine/partitioning (a float avg() would not
    be: double partial sums re-associate)."""
    return doc_lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )


def _count(df: DataFrame, name: str) -> DataFrame:
    """1-row row count of ``df`` as column ``name``."""
    return df.agg(F.count(F.lit(1)).alias(name))


def _top(scores: DataFrame, id_col: str, k: int) -> DataFrame:
    """orderBy(rounded bm25 desc, id) + limit → TakeOrderedAndProject.
    Ordering on the ROUNDED score keeps the k-boundary identical across
    engines."""
    return scores.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def _weighted_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k1: float,
    b: float,
) -> DataFrame:
    """Query-term postings with their BM25 weight: (term, id, dl, tf,
    df, n_docs, sum_dl, avgdl, w), one row per (doc, query term) — the
    postings form every postings-shaped scorer starts from.

    The postings are filtered to the query vocabulary BEFORE the tf
    aggregation (the relational analogue of probing a term-bucketed
    inverted index: only query-term postings survive the scan). df is
    vocabulary-sized (== |q| rows) and the corpus stats are one row,
    so both broadcast; both come from the FULL postings, so any later
    cut (champion lists, pruning) prunes rows, never statistics."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokenize(F.col(text_col))
    docs = df.select(F.col(id_col), toks.alias("toks")).select(
        id_col, "toks", F.size("toks").alias("dl")
    )
    postings = (
        docs.select(id_col, "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*query_terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = _corpus_stats(docs.select(id_col, "dl"))
    return (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("sum_dl") / F.col("n_docs"))
        .withColumn(
            "w",
            bm25_weight(
                F.col("tf"),
                F.col("df"),
                F.col("dl"),
                F.col("n_docs"),
                F.col("avgdl"),
                k1,
                b,
            ),
        )
    )


def _champions(weighted: DataFrame, id_col: str, champions: int) -> DataFrame:
    """The champion-list cut (Manning, Raghavan & Schütze, IIR §7.1.3):
    each term keeps its ``champions`` highest-tf postings, ties by id.
    A per-term window (partitioned by term — never a global sort), so
    everything downstream sees ≤ |q|·champions rows."""
    rank = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc(id_col))
    return weighted.withColumn(
        "champ_rank", F.row_number().over(rank)
    ).filter(F.col("champ_rank") <= champions)


def _pruning_threshold(
    weighted: DataFrame,
    id_col: str,
    query_terms: tuple[str, ...],
    k: int,
    champions: int,
) -> tuple[DataFrame, DataFrame, Column]:
    """The shared front half of the rank-safe pruning family (WAND,
    MaxScore, Block-Max WAND — one idea: a threshold from an achieved
    score plus upper bounds). Returns ``(weighted, theta, floor)``:

    - ``weighted``, lazily localCheckpointed. It is REUSED by four
      consumers (upper bounds, champion θ, the bound filter, the
      survivor scoring); without the barrier Catalyst re-plans the
      whole corpus explode for each — measured 27 FileScans / 18
      Generates in the first WAND cut. The frame holds only query-term
      postings (|q|·df rows, index-sized, tiny next to the corpus), so
      a lazy checkpoint materializes it once on first use and every
      consumer reads it back — 2 corpus scans total, the "postings
      index at rest" scale posture.
    - ``theta``, the 1-row frame holding θ: the k-th best score of a
      champion-list pass of depth ``champions``. θ is ACHIEVED by a
      real document with at most its full score, so it lower-bounds
      the true k-th score — pruning strictly below θ can never evict a
      true top-k member.
    - ``floor``, the DECIMAL(18,6) column θ − ε, valid on any frame
      crossJoined with ``theta``. A bound must reach it to survive.

    Rounding accounting (survivor / essential-term counts are
    hash-gated, so membership must be round-6-STABLE on both engines
    AND rank-safety must survive the rounding): every per-term bound
    is round(·, 6) DECIMAL(18,6) (:func:`_round6_max`) and bounds add
    as exact DECIMAL in fixed query order (:func:`_bound_and_filter`;
    the eval_bleu_log pattern — no cross-engine double-sum ulp flips),
    and θ is the round-6 champion score cast to the same DECIMAL. Both
    can sit up to 5e-7 off their true values (θ can round UP past the
    achieved score; each rounded bound can round DOWN below the true
    one), so the comparison widens by ε = ceil((|q| + 1) / 2) µ. Then
    for a true top-k doc: Σbound_rounded ≥ Σbound_true − |q|·5e-7 ≥
    score_true − |q|·5e-7 ≥ θ_true − |q|·5e-7 ≥ θ_rounded −
    (|q|+1)·5e-7 ≥ θ_rounded − ε, so it always survives: the filter
    only ever ADMITS a few extra boundary docs, never prunes a true
    member."""
    weighted = weighted.localCheckpoint(eager=False)
    champ = _champions(weighted, id_col, champions)
    theta = _top(pivot_score(champ, id_col, query_terms), id_col, k).agg(
        F.min("bm25").alias("theta")
    )
    eps_micros = (len(query_terms) + 2) // 2
    eps = F.lit(f"0.{eps_micros:06d}").cast(DEC6)
    floor = F.col("theta").cast(DEC6) - eps
    return weighted, theta, floor


def _round6_max(name: str) -> Column:
    """max(w) of a group, round(·, 6) then DECIMAL(18,6), as ``name``
    — the per-term (or per-block) upper bound of the pruning family."""
    return F.round(F.max("w"), 6).cast(DEC6).alias(name)


def _bound_and_filter(
    rows: DataFrame,
    id_col: str,
    bcol: str,
    query_terms: tuple[str, ...],
    theta: DataFrame,
    floor: Column,
) -> tuple[DataFrame, DataFrame]:
    """(id, term, ``bcol``) bound rows → ``(bound, survivors)``: the
    per-doc bound sum over PRESENT terms, pivoted per term and added as
    exact DECIMAL in fixed query order (the :func:`pivot_score`
    discipline — no cross-row sum), and the ids whose sum reaches
    :func:`_pruning_threshold`'s floor θ − ε."""
    per_doc = rows.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, F.col(bcol))).alias(f"b_{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    zero_dec = F.lit("0").cast(DEC6)
    bsum = F.coalesce(F.col("b_0"), zero_dec)
    for i in range(1, len(query_terms)):
        bsum = bsum + F.coalesce(F.col(f"b_{i}"), zero_dec)
    bound = per_doc.select(id_col, bsum.alias("bsum"))
    survivors = (
        bound.crossJoin(F.broadcast(theta))
        .filter(F.col("bsum") >= floor)
        .select(id_col)
    )
    return bound, survivors


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-document BM25 score for a fixed query vocabulary — the
    postings form (:func:`_weighted_postings` + :func:`pivot_score`).

    Determinism contract (driver hash gate): the per-doc score is NOT
    ``sum(weight)`` over postings rows — double summation order under
    partial aggregation is engine/partitioning-dependent. Instead each
    query term is pivoted to its own column with ``max(CASE ...)``
    (exactly one posting per (doc, term), so max is an exact pick) and
    the final score adds the per-term columns in fixed query order.
    """
    return pivot_score(
        _weighted_postings(df, id_col, text_col, query_terms, k1, b),
        id_col,
        query_terms,
    )


def _dense_tf(
    df: DataFrame, id_col: str, text_col: str, query_terms: tuple[str, ...]
) -> DataFrame:
    """(id, dl, tf_0..tf_q): each query term's tf as a COLUMN on the
    doc row via the lambda-free ``size(toks) - size(array_remove(toks,
    term))`` counting trick (codegen'd, narrow) — one corpus scan, no
    shuffle. The row shape of every dense single-scan scorer."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokenize(F.col(text_col))
    tf_cols = [
        (F.size("toks") - F.size(F.array_remove(F.col("toks"), t)))
        .cast("long")
        .alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    return df.select(F.col(id_col), toks.alias("toks")).select(
        id_col, F.size("toks").cast("long").alias("dl"), *tf_cols
    )


def bm25_scores_dense(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Single-scan BM25 for a FIXED small query vocabulary — the shape
    to use per query at 100 TB.

    The postings form (:func:`bm25_scores`) is the general
    inverted-index build, but as a per-query plan it reads the corpus
    three times (postings, df, corpus stats). Here ONE scan yields
    (doc, dl, tf_0..tf_q) (:func:`_dense_tf`); a single
    map-side-combined global aggregate produces the 1-row
    (n_docs, sum_dl, df_0..df_q) stats which broadcast back. Total
    cost: one corpus scan, one 1-row exchange, zero wide shuffles.
    Only viable when q is small (columns ∝ query terms) — exactly the
    per-query case; the postings form remains the bulk-index path.
    """
    per_doc = _dense_tf(df, id_col, text_col, query_terms)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("sum_dl") / F.col("n_docs")
    )

    def weight(i: int) -> Column:
        tf = F.col(f"tf_{i}")
        w = bm25_weight(
            tf,
            F.col(f"df_{i}"),
            F.col("dl"),
            F.col("n_docs"),
            F.col("avgdl"),
            k1,
            b,
        )
        return F.when(tf > 0, w).otherwise(F.lit(0.0))

    score = weight(0)
    for i in range(1, len(query_terms)):
        score = score + weight(i)
    any_hit = F.col("tf_0") > 0
    for i in range(1, len(query_terms)):
        any_hit = any_hit | (F.col(f"tf_{i}") > 0)
    return scored.filter(any_hit).select(
        F.col(id_col), F.round(score, 6).alias("bm25")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 over the single-scan dense plan
    (:func:`bm25_scores_dense`), cut by :func:`_top`. The postings form
    (:func:`bm25_scores`) produces bit-identical scores (pytest
    cross-checked), so both verify against the same oracle."""
    return _top(
        bm25_scores_dense(df, id_col, text_col, query_terms, k1, b), id_col, k
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int,
    stride: int,
) -> DataFrame:
    """Overlapping token-window chunks: starts 0, stride, 2*stride …
    stopping at the FIRST chunk that reaches the end of the document
    (last start = ceil((n - width)/stride)*stride, or 0 when n <=
    width). The final chunk may be short; every other chunk has
    exactly ``width`` tokens, and no chunk is a redundant suffix of
    its predecessor — the property test caught the naive
    starts-while-start<n geometry emitting strict sub-chunks for
    short docs. Empty/all-separator docs yield no chunks. With
    ``stride > width`` (gap sampling) the last start additionally
    clamps to n-1 so no empty chunk is ever emitted."""
    if stride <= 0 or width <= 0:
        raise ValueError("width and stride must be positive")
    toks = tokenize(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    last_start = F.when(
        n > width,
        # least(): for stride <= width the ceil form is already < n,
        # but gap-sampling geometries (stride > width) can land ON n,
        # which would slice an empty chunk
        F.least(
            F.floor((n - F.lit(width) + F.lit(stride - 1)) / F.lit(stride))
            * stride,
            (n - 1).cast("long"),
        ),
    ).otherwise(F.lit(0)).cast("long")
    starts = F.sequence(
        F.lit(0).cast("long"), last_start, F.lit(stride).cast("long")
    )
    return (
        base.select(
            id_col,
            "toks",
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.slice(F.col("toks"), F.col("start") + 1, width).alias("c"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("c").cast("long").alias("chunk_tokens"),
            F.concat_ws(" ", "c").alias("chunk_text"),
        )
    )


def sign_pack64(vec: Column) -> tuple[Column, Column]:
    """Pack the signs of a 64-dim vector into two 32-bit words
    (lo = dims 1..32, hi = dims 33..64) held in longs. Two words
    instead of one keep every bit out of the BIGINT sign position, so
    the packed value is identical on any engine. Strictly-positive
    test keeps ties (0.0) deterministic."""

    def word(lo_dim: int) -> Column:
        acc = F.lit(0).cast("long")
        for i in range(32):
            bit = F.when(
                F.element_at(vec, lo_dim + i) > 0, F.lit(1 << i)
            ).otherwise(0)
            acc = acc + bit.cast("long")
        return acc

    return word(1), word(33)


def hamming_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int,
) -> DataFrame:
    """Hamming-distance top-k over sign-quantized signatures.

    The corpus is reduced to (id, 2 longs) — a 64x compression of
    float32[64] — and the query row broadcasts, so at 100 TB the scan
    reads the slim signature projection only and never shuffles.
    Integer-exact: no float tolerance needed anywhere."""
    lo, hi = sign_pack64(F.col(vec_col))
    sigs = emb.select(F.col(id_col), lo.alias("lo"), hi.alias("hi"))
    q = (
        sigs.filter(F.col(id_col) == query_id)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("lo").alias("qlo"),
            F.col("hi").alias("qhi"),
        )
    )
    return (
        sigs.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            id_col,
            hamming_dist(
                F.col("lo"), F.col("hi"), F.col("qlo"), F.col("qhi")
            ).alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(k)
    )


def hybrid_candidates(
    docs: DataFrame,
    emb: DataFrame,
    doc_id_col: str,
    vec_id_col: str,
    vec_col: str,
    query_terms: tuple[str, ...],
    query_vec_id: int,
    n_candidates: int,
    k: int,
    text_col: str = "text",
) -> DataFrame:
    """Two-stage hybrid retrieval: BM25 lexical candidate generation
    (index-prunable, cheap) → exact cosine re-rank of the candidate
    set (semantic, expensive but now candidate-bounded).

    The candidate set (n_candidates rows) broadcasts into the
    embedding join, so the full embedding corpus is filtered by a
    broadcast semi-probe — never shuffled. Final ranking is cosine;
    BM25 rides along for inspection. The query's own document
    (vec id == query_vec_id) is excluded BEFORE the candidate cut —
    otherwise it would silently occupy one of the n_candidates BM25
    slots whenever it matches its own terms, shrinking the effective
    lexical pool to n_candidates-1. Corpus statistics (n_docs, df,
    avgdl) stay over the FULL corpus, the standard IR posture:
    excluding a document from the result list does not remove it from
    the collection model."""
    from shippai_knowledge_etl_spark.operators.simsearch import cosine

    cand = _top(
        bm25_scores_dense(docs, doc_id_col, text_col, query_terms).filter(
            F.col(doc_id_col) != query_vec_id
        ),
        doc_id_col,
        n_candidates,
    )
    qv = emb.filter(F.col(vec_id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    cand_vecs = (
        emb.filter(F.col(vec_id_col) != query_vec_id)
        .join(F.broadcast(cand), emb[vec_id_col] == cand[doc_id_col])
        .select(F.col(vec_id_col).alias("doc_id"), "bm25", vec_col)
    )
    return (
        cand_vecs.crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "bm25",
            F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(k)
    )


def mmr_rerank(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    n_candidates: int,
    k: int,
    lam: float = 0.7,
) -> list[tuple[int, float]]:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k of n_candidates maximizing
    ``lam*rel(d) - (1-lam)*max_sim(d, selected)``.

    Scale shape: relevance and the candidate×candidate similarity
    matrix are both computed IN-ENGINE (broadcast query vector /
    broadcast candidate set); the candidate table is materialized once
    with ``localCheckpoint`` so the corpus scan runs exactly once —
    the pair job and the relevance collect both read the checkpoint.
    Only the n_candidates-bounded score tables reach the driver
    (n=50 → 50 rel rows + 1225 pair rows), where the O(k·n) greedy
    loop runs — same bounded-driver-collect discipline as the PQ
    codebooks and DSIR bucket table. Determinism: sims round to 6 dp
    and ties break by id, so the selection is a pure function of the
    corpus.

    Returns the ordered [(id, mmr_score)] selection.
    """
    from shippai_knowledge_etl_spark.operators.simsearch import cosine

    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec")
    )
    rel_df = (
        emb.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            vec_col,
            F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc(id_col))
        .limit(n_candidates)
        # materialize the bounded candidate table once: without this,
        # the pair job, its broadcast side, and the rel collect would
        # each re-run the full corpus scan
        .localCheckpoint()
    )
    cand = rel_df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    pair_rows = (
        rel_df.crossJoin(
            F.broadcast(cand)
        )
        .filter(F.col(id_col) < F.col("cid"))
        .select(
            F.col(id_col).alias("a"),
            F.col("cid").alias("b"),
            F.round(cosine(F.col(vec_col), F.col("cvec")), 6).alias("sim"),
        )
        .collect()
    )
    rel = {r[id_col]: r["rel"] for r in rel_df.collect()}
    pair = {}
    for r in pair_rows:
        pair[(r["a"], r["b"])] = r["sim"]
        pair[(r["b"], r["a"])] = r["sim"]

    selected: list[tuple[int, float]] = []
    remaining = set(rel)
    while remaining and len(selected) < k:
        best = None
        for d in sorted(remaining):  # sorted → deterministic tie-break
            penalty = max(
                (pair[(d, s)] for s, _ in selected), default=0.0
            )
            score = round(lam * rel[d] - (1.0 - lam) * penalty, 6)
            if best is None or score > best[1]:
                best = (d, score)
        selected.append(best)
        remaining.discard(best[0])
    return selected


def mmr_rerank_distributed(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    n_candidates: int,
    k: int,
    lam: float = 0.7,
) -> DataFrame:
    """:func:`mmr_rerank` with the candidate pool kept IN-ENGINE — the
    large-pool form. The collect variant materializes the full
    candidate×candidate similarity matrix on the driver (O(n²) rows:
    fine at n=50, impossible at n=10⁶); here the pool never leaves the
    cluster and the driver holds only the k picks.

    Per greedy round: (1) argmax of ``lam*rel - (1-lam)*penalty`` via
    ``max(struct(score, -id, ...))`` — a plain aggregate, map-side
    partial, no sort, no window; (2) the ONE selected row broadcasts
    back (1-row BNLJ, the query-vector pattern) and every remaining
    candidate folds it into its running penalty with
    ``greatest(penalty, round(cos, 6))``. So each round is one scan of
    the (checkpointed) pool + a 1-row collect: O(k·n) similarity work
    total — identical to the driver loop's arithmetic — but
    distributed, with per-round ``localCheckpoint`` truncating lineage
    exactly like the k-means / PageRank iteration loops.

    Determinism matches the collect form: rel and pairwise sims round
    to 6 dp before use and ties break by smallest id
    (``-id`` as the struct's second field). The two forms are
    pytest-pinned equal on the same pool
    (tests/test_retrieval.py::test_mmr_distributed_matches_collect_form).

    Returns a k-row DataFrame (rank, id, mmr_score) in pick order.
    """
    from shippai_knowledge_etl_spark.operators.simsearch import cosine

    spark = emb.sparkSession
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec")
    )
    pool = (
        emb.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc(id_col))
        .limit(n_candidates)
        # NULL, not 0.0: cosines can be NEGATIVE, and max-to-selected
        # over one dissimilar pick must stay negative (raising the
        # score — dissimilarity is rewarded). A 0.0 seed would clamp
        # it via greatest(); the collect form's `default=0.0` applies
        # only to the empty-selection round, mirrored here by the
        # coalesce in `score`. greatest() ignores NULLs, so the first
        # fold replaces the seed outright.
        .withColumn("penalty", F.lit(None).cast("double"))
        .localCheckpoint()
    )
    picks: list[tuple[int, int, float]] = []
    for rank in range(k):
        if pool.isEmpty():
            break
        score = F.round(
            F.lit(lam) * F.col("rel")
            - F.lit(1.0 - lam) * F.coalesce(F.col("penalty"), F.lit(0.0)),
            6,
        )
        m = pool.agg(
            F.max(
                F.struct(
                    score.alias("score"),
                    (-F.col(id_col)).alias("neg_id"),
                    F.col(id_col).alias("id"),
                )
            ).alias("m")
        ).collect()[0]["m"]
        picks.append((rank, m["id"], m["score"]))
        if rank == k - 1:
            break
        sel = pool.filter(F.col(id_col) == m["id"]).select(
            F.col(vec_col).alias("svec")
        )
        pool = (
            pool.filter(F.col(id_col) != m["id"])
            .crossJoin(F.broadcast(sel))
            .select(
                id_col,
                vec_col,
                "rel",
                F.greatest(
                    F.col("penalty"),
                    F.round(cosine(F.col(vec_col), F.col("svec")), 6),
                ).alias("penalty"),
            )
            .localCheckpoint()
        )
    return spark.createDataFrame(
        picks, f"rank int, {id_col} long, mmr_score double"
    )


def build_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Full inverted-index build: (term_bucket, term, doc_id, tf, dl)
    for EVERY term — the bulk-index complement to the per-query dense
    plan. Written ``partitionBy("term_bucket")``, a probe for any
    query vocabulary prunes to |query| directories at PLAN time
    (PartitionFilters) with the term equality pushed into the scan —
    the at-rest layout that turns lexical retrieval from a corpus scan
    into an index read (tests/test_retrieval_index.py pins the pruned
    plan and its parity with the unpruned postings). Bucketing by
    ``pmod(xxhash64(term), n_buckets)`` keeps directory counts bounded
    regardless of vocabulary size."""
    toks = tokenize(F.col(text_col))
    docs = df.select(F.col(id_col), toks.alias("toks")).select(
        id_col, "toks", F.size("toks").alias("dl")
    )
    return (
        docs.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
        )
    )


def bm25_topk_batch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Multi-query BM25: score a BATCH of queries in one plan.

    ``queries`` is a (query_id, term) table — tiny, broadcast twice:
    once as the semi-join probe that prunes the postings to the batch
    vocabulary (at rest: a partition-pruned index read, see
    :func:`build_postings`), once as the scoring join fanning each
    posting out to the queries containing its term.

    Determinism: per-term weights round to 6 dp and sum as
    DECIMAL(18,6) — exact, order-independent under partial
    aggregation (the curation_lm_quality pattern), unlike a double
    sum whose partial-agg order is partitioning-dependent. The
    per-query top-k window partitions by query_id, never global.
    """
    toks = tokenize(F.col(text_col))
    docs = df.select(F.col(id_col), toks.alias("toks")).select(
        id_col, "toks", F.size("toks").alias("dl")
    )
    vocab = queries.select("term").distinct()
    postings = (
        docs.select(id_col, "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(vocab), "term", "left_semi")
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = _corpus_stats(docs.select(id_col, "dl"))

    w = bm25_weight(
        F.col("tf"),
        F.col("df"),
        F.col("dl"),
        F.col("n_docs"),
        F.col("avgdl"),
        k1,
        b,
    )
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("sum_dl") / F.col("n_docs"))
        .join(F.broadcast(queries), "term")
        .select(
            "query_id",
            F.col(id_col),
            F.round(w, 6).cast("decimal(18,6)").alias("w6"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("w6").alias("score_dec"))
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("score_dec"), F.asc(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col(id_col),
            F.col("rnk"),
            F.col("score_dec").cast("double").alias("bm25"),
        )
    )


def _ann_rankings(
    emb: DataFrame, id_col: str, vec_col: str, query_mod: int, k: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The exact/probe ranking pair of the ANN eval harness, for the
    query sample of every ``query_mod``-th id. Returns ``(qs,
    exact_top, probe_top)``: the sample (query_id, qvec), the
    exact-cosine top-k (query_id, id) and the Hamming sign-signature
    probe top-k (query_id, id, rn), each query's own vector excluded.

    Both rankings are computed batch-style in ONE plan each — corpus
    crossJoin'd with the BROADCAST query sample, per-query top-k via a
    query-partitioned window (WindowGroupLimit pushes the k-limit
    below the shuffle). Cosine rounds to 6 dp with id tie-breaks and
    Hamming is integer, so both are pure functions of the corpus."""
    from shippai_knowledge_etl_spark.operators.simsearch import cosine

    if k < 1:
        raise ValueError("k must be positive")

    def top_k(ranked: DataFrame, order: Column) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(order, F.asc(id_col))
        return ranked.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= k
        )

    is_query = F.col(id_col) % query_mod == 0
    base = emb.select(F.col(id_col), F.col(vec_col))
    qs = base.filter(is_query).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    exact_top = top_k(
        base.crossJoin(F.broadcast(qs))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("sim"),
        ),
        F.desc("sim"),
    ).select("query_id", id_col)
    lo, hi = sign_pack64(F.col(vec_col))
    sigs = base.select(F.col(id_col), lo.alias("lo"), hi.alias("hi"))
    qsigs = sigs.filter(is_query).select(
        F.col(id_col).alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    probe_top = top_k(
        sigs.crossJoin(F.broadcast(qsigs))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            hamming_dist(
                F.col("lo"), F.col("hi"), F.col("qlo"), F.col("qhi")
            ).alias("hamming"),
        ),
        F.asc("hamming"),
    ).select("query_id", id_col, "rn")
    return qs, exact_top, probe_top


def ann_recall_eval(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 50,
    k: int = 10,
) -> DataFrame:
    """Evaluation harness: recall@k of the Hamming sign-signature
    probe against exact-cosine ground truth, for a deterministic
    query sample (every ``query_mod``-th id).

    Both rankings come from :func:`_ann_rankings` and are intersected
    per query. Determinism: cosine rounds to 6 dp with id tie-breaks,
    Hamming is integer, so recall is a pure function of the corpus and
    the driver hash gate can check the EVALUATION itself.
    """
    qs, exact_top, probe_top = _ann_rankings(emb, id_col, vec_col, query_mod, k)
    hits = (
        exact_top.join(probe_top, ["query_id", id_col])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        qs.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall_at_k"),
        )
    )


def _literal_case(col: Column, table: dict[int, float]) -> Column:
    """``CASE col WHEN r THEN <literal> ...`` (no ELSE) over a shared
    {rank: value} literal table, so the Spark plan consumes the same
    constants the DuckDB oracle embeds."""
    cases = iter(table.items())
    r, v = next(cases)
    expr = F.when(col == r, F.lit(v))
    for r, v in cases:
        expr = expr.when(col == r, F.lit(v))
    return expr


def ndcg_discounts(k: int) -> tuple[dict[int, float], float]:
    """({rank: round(1/log2(rank+1), 6)}, idcg) — the nDCG discount
    table as PYTHON literals, so both the Spark plan and the DuckDB
    oracle consume byte-identical constants instead of each engine's
    own log2 (whose last-ulp differences would leak through a 6 dp
    round on unlucky values). idcg is their sum rounded to 6 dp
    (binary relevance with k relevant documents → the ideal ranking
    hits every slot)."""
    import math

    d = {i: round(1.0 / math.log2(i + 1), 6) for i in range(1, k + 1)}
    return d, round(sum(d.values()), 6)


def ann_ndcg_eval(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 50,
    k: int = 10,
) -> DataFrame:
    """nDCG@k of the Hamming sign-signature probe against exact-cosine
    ground truth — the rank-sensitive companion of
    :func:`ann_recall_eval` (recall treats slot 1 and slot k alike;
    nDCG charges the probe for burying a true neighbor).

    Binary relevance: a probe result at rank r earns discount
    1/log2(r+1) iff it appears in the exact top-k. Discounts come from
    :func:`ndcg_discounts` as shared literals, each hit's term is a
    DECIMAL(18,6) so the per-query sum is exact and
    partitioning-independent, and dcg/ndcg round to 6 dp at the gate
    boundary. Same plan shape as the recall eval (both rankings from
    :func:`_ann_rankings`); the join of the two k-row-per-query tables
    is trivially small."""
    disc, idcg = ndcg_discounts(k)
    qs, exact_top, probe_top = _ann_rankings(emb, id_col, vec_col, query_mod, k)
    # the same discount literals the oracle embeds, cast to exact
    # DECIMAL before the sum
    term = F.when(
        F.col("hit").isNotNull(), _literal_case(F.col("rn"), disc).cast(DEC6)
    ).otherwise(F.lit(0).cast(DEC6))
    scored = (
        probe_top.join(
            exact_top.withColumn("hit", F.lit(1)),
            ["query_id", id_col],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count_if(F.col("hit").isNotNull()).alias("n_hits"),
            F.sum(term).alias("dcg6"),
        )
    )
    return (
        qs.select("query_id")
        .join(scored, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                "n_hits"
            ),
            F.round(
                F.coalesce(F.col("dcg6"), F.lit(0)).cast("double"), 6
            ).alias("dcg"),
            F.round(
                F.coalesce(F.col("dcg6"), F.lit(0)).cast("double")
                / F.lit(idcg),
                6,
            ).alias("ndcg"),
        )
    )


def hash_embed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
) -> DataFrame:
    """Feature-hashing document embeddings (the hashing trick,
    Weinberger et al. 2009): each token lands in ``pmod(xxhash64(tok),
    dim)`` with a ±1 sign from an independent hash bit, per-dimension
    counts summed exactly. The zero-training embedder — what a
    pipeline uses for similarity/dedup before a learned model exists,
    and the deterministic stand-in for one in tests.

    Shape: one explode + one doc-keyed aggregate carrying ``dim`` int
    sums (map-side combined); the dense array assembles from the
    aggregated (dim, value) pairs via the sorted-struct trick — no
    per-dimension conditional-sum blowup, no global window. Integer
    end to end → bit-identical at any parallelism (pytest-pinned);
    xxhash64 is engine-specific → rows-only at the driver gate.
    """
    toks = tokenize(F.col(text_col))
    feats = (
        df.select(F.col(id_col), F.explode(toks).alias("tok"))
        .select(
            id_col,
            F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("int").alias("d"),
            F.when(
                F.pmod(F.xxhash64("tok", F.lit(1)), F.lit(2)) == 0, F.lit(1)
            )
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
        .groupBy(id_col, "d")
        .agg(F.sum("sign").cast("long").alias("v"))
    )
    # dense vector: map lookup over a fixed index sequence — absent
    # dims coalesce to 0, no zero-grid join, order independent of the
    # collect_list arrival order by construction
    dense = feats.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("d", "v"))).alias("m")
    ).select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            # try_element_at: absent keys are NULL→0 (plain element_at
            # throws under ANSI mode)
            lambda i: F.coalesce(
                F.try_element_at(F.col("m"), i.cast("int")), F.lit(0)
            ).cast("float"),
        ).alias("embedding"),
    )
    # restore docs whose tokenization is empty as the ZERO vector —
    # explode dropped them, but the contract is one embedding per
    # input row (review finding: silent row loss breaks joins keyed
    # on the embedding table)
    zero = F.array_repeat(F.lit(0.0).cast("float"), dim)
    return (
        df.select(F.col(id_col))
        .join(dense, id_col, "left")
        .select(id_col, F.coalesce("embedding", zero).alias("embedding"))
    )


def _ranked(
    df: DataFrame, id_col: str, score_col: str, depth: int, rank_name: str
) -> DataFrame:
    """Top-``depth`` rows by (score desc, id asc) with their 1-based
    rank. The limit runs first (TakeOrderedAndProject — no global
    sort), so the unpartitioned row_number window only ever sees the
    bounded ``depth``-row set (plan-gate allowlisted: bounded-input
    global window, the retrieval_mmr candidate-pool discipline)."""
    top = df.orderBy(F.desc(score_col), F.asc(id_col)).limit(depth)
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return top.select(
        F.col(id_col),
        F.row_number().over(w).cast("long").alias(rank_name),
    )


def rrf_fuse(
    lex: DataFrame,
    sem: DataFrame,
    id_col: str,
    lex_score: str,
    sem_score: str,
    rrf_k: int = 60,
    depth: int = 100,
    k: int = 20,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009): fuse a
    lexical and a semantic ranking by rrf = Σ 1/(rrf_k + rank) over the
    lists a doc appears in — the standard training-free hybrid
    combiner, robust to incomparable score scales (vs the re-rank
    cascade in :func:`hybrid_candidates`, which trusts one stage's
    scores). Ranks come from rounded scores with id tie-breaks, so the
    fusion is a pure function of the corpus; the two reciprocal terms
    add in fixed order (two doubles — no summation-order hazard).

    Scale shape: each input list cuts to ``depth`` BEFORE ranking
    (TakeOrderedAndProject over however large the scored corpus is);
    everything after operates on ≤ 2·depth rows."""
    a = _ranked(lex, id_col, lex_score, depth, "rank_lex")
    b = _ranked(sem, id_col, sem_score, depth, "rank_sem")
    fused = a.join(b, id_col, "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")), F.lit(0.0))
        + F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_sem")), F.lit(0.0)
        ),
        9,
    )
    return (
        fused.select(F.col(id_col), "rank_lex", "rank_sem", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )


def mrr_literals(k: int) -> dict[int, float]:
    """{rank: round(1/rank, 6)} — reciprocal-rank literals shared by
    the Spark plan and the DuckDB oracle (the ndcg_discounts
    convention: neither engine's own division participates)."""
    return {i: round(1.0 / i, 6) for i in range(1, k + 1)}


def ann_mrr_eval(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int = 50,
    k: int = 10,
) -> DataFrame:
    """MRR@k of the Hamming sign-signature probe against exact-cosine
    ground truth — the third leg of the eval harness: recall asks
    "how many true neighbors surfaced", nDCG "how well is the whole
    list ordered", MRR "how deep must a user scroll to the FIRST true
    neighbor" (the navigational-query metric; Voorhees, TREC-8).

    first_hit_rank is the min probe rank holding an exact-top-k
    member (0 = no hit); rr maps it through the shared literal table.
    Plan shape identical to the recall/ndcg evals (both rankings from
    :func:`_ann_rankings`), then a k-rows-per-query join and min-agg —
    integers end to end until the literal lookup."""
    qs, exact_top, probe_top = _ann_rankings(emb, id_col, vec_col, query_mod, k)
    first_hit = (
        probe_top.join(exact_top, ["query_id", id_col])
        .groupBy("query_id")
        .agg(F.min("rn").alias("fr"))
    )
    rr = _literal_case(F.col("first_hit_rank"), mrr_literals(k))
    return (
        qs.select("query_id")
        .join(first_hit, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("fr"), F.lit(0))
            .cast("long")
            .alias("first_hit_rank"),
        )
        .select(
            "query_id",
            "first_hit_rank",
            rr.otherwise(F.lit(0.0)).alias("rr"),
        )
    )


def min_cover_span(
    hits: DataFrame,
    id_col: str,
    term_col: str,
    pos_col: str,
    terms: tuple[str, ...],
) -> DataFrame:
    """Minimal token window per document covering one occurrence of
    EVERY term in ``terms`` — the ordered-positions sweep a positional
    index runs per candidate doc (Manning et al., IR ch. 2, positional
    postings intersection), generalized to n query terms.

    Sweep: walk each doc's query-term hits in position order keeping
    the LAST seen position of every term; once all terms have been
    seen, the window ``[min(last), max(last)]`` at the current row
    contains one occurrence of each, and the minimum of
    ``max(last) - min(last)`` over all rows is exactly the minimal
    cover span. (Any candidate is a valid cover; conversely, at the
    row holding the optimal window's rightmost occurrence, every
    ``last[t]`` lies inside the optimal window, so the candidate there
    is <= the optimal span — hence the minimum equals it.) Exact, not
    a heuristic — safe under a hash-match oracle gate.

    Scale shape: ONE doc-keyed sort window over the query-term hits
    (O(sum tf) rows per doc, n ``last()`` running columns sharing the
    single window frame) replaces the n-way positional self-join whose
    fan-out is the PER-DOC TF PRODUCT — the shape that turns one
    pathological doc (tf=1e3 per term) into 1e9 intermediate rows in a
    single task at 100 TB. The sweep's row count never exceeds its
    input's. Returns (id_col, min_span) for conjunctive docs only.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    w = (
        Window.partitionBy(id_col)
        .orderBy(pos_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lasts = [
        F.last(
            F.when(F.col(term_col) == F.lit(t), F.col(pos_col)),
            ignorenulls=True,
        )
        .over(w)
        .alias(f"_last_{i}")
        for i, t in enumerate(terms)
    ]
    staged = hits.select(F.col(id_col), *lasts)
    cols = [F.col(f"_last_{i}") for i in range(len(terms))]
    seen_all = cols[0].isNotNull()
    for c in cols[1:]:
        seen_all = seen_all & c.isNotNull()
    if len(cols) == 1:
        span = F.lit(0).cast("long")
    else:
        span = (F.greatest(*cols) - F.least(*cols)).cast("long")
    return (
        staged.filter(seen_all)
        .groupBy(id_col)
        .agg(F.min(span).alias("min_span"))
    )


def query_likelihood_dense(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    mu: int = 100,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    2001, "A Study of Smoothing Methods for Language Models Applied to
    Ad Hoc Information Retrieval") for a FIXED small query — the
    language-model scoring alternative to BM25, single-scan dense form
    (:func:`bm25_scores_dense`'s shape arguments apply verbatim).

    score(q, d) = Σ_{t∈q} ln( (tf_{t,d} + μ·p̂(t|C)) / (dl_d + μ) )
    with p̂(t|C) = (ctf_t + 1)/(T + 1) (add-one so an absent query term
    scores finitely everywhere). Unlike BM25, every document gets a
    term contribution even at tf = 0 — the smoothing IS the ranking
    signal for non-matching docs — so the per-term weights are dense
    columns, not postings rows.

    Hash discipline: each per-term ln is rounded at 6 and the three
    terms sum in exact DECIMAL(18,6) (the eval_bleu_log lesson: a
    double-domain sum of rounded terms flips the 6th digit between
    engines), then casts to DOUBLE at the gate boundary.

    Scale: one corpus scan producing (doc, dl, tf_*) via the
    lambda-free array_remove counting trick; one map-side-combined
    1-row global aggregate (T, ctf_*) broadcast back; zero wide
    shuffles. Columns ∝ |query| — the per-query case by construction.
    """
    per_doc = _dense_tf(df, id_col, text_col, query_terms)
    stats = per_doc.agg(
        F.sum("dl").alias("t_total"),
        *[
            F.sum(f"tf_{i}").alias(f"ctf_{i}")
            for i in range(len(query_terms))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    term_lns = [
        F.round(
            F.log(
                (
                    F.col(f"tf_{i}")
                    + mu
                    * ((F.col(f"ctf_{i}") + 1) / (F.col("t_total") + 1).cast("double"))
                )
                / (F.col("dl") + mu).cast("double")
            ),
            6,
        ).cast(DEC6)
        for i in range(len(query_terms))
    ]
    score = term_lns[0]
    for t in term_lns[1:]:
        score = score + t
    return j.select(
        id_col,
        "dl",
        *[F.col(f"tf_{i}") for i in range(len(query_terms))],
        score.cast("double").alias("ql_score"),
    )


def bm25_champion_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int,
    champions: int = 32,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Champion-list (impact-ordered) BM25 top-k — the tiered-index
    pruning strategy (Manning, Raghavan & Schütze, IIR §7.1.3): at
    index-build time each term keeps only its ``champions`` highest-tf
    postings; at query time scoring touches ONLY those lists, an upper
    bound of |q|·champions rows regardless of corpus size. The price
    is possible rank error for documents that are mediocre on every
    term — the classic recall/latency trade the demo query pins
    against the exact top-k.

    df (document frequency) and corpus stats (N, avgdl) are computed
    from the FULL postings before the cut — champion lists store
    global statistics; only the posting ROWS are pruned.

    Scale shape: the champion cut (:func:`_champions`) is a per-term
    window over the postings produced by the one vocabulary-filtered
    explode; everything downstream operates on ≤ |q|·champions rows,
    so the final pivot/top-k is driver-trivial. At 100 TB the cut
    itself is the index-build pass; queries never see the corpus
    again.
    """
    weighted = _weighted_postings(df, id_col, text_col, query_terms, k1, b)
    champ = _champions(weighted, id_col, champions)
    return _top(pivot_score(champ, id_col, query_terms), id_col, k)


def bm25_wand_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int,
    champions: int = 8,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Rank-SAFE top-k via WAND-style upper-bound pruning (Broder et
    al. 2003, "Efficient query evaluation using a two-level retrieval
    process"): each term stores its maximum attainable BM25 weight
    (the index-time upper bound UB_t); a document can enter the top-k
    only if the sum of UB_t over its present terms reaches the
    threshold θ of :func:`_pruning_threshold` (a champion pass's
    achieved k-th score, depth ``champions``), widened by its rounding
    slack ε. The returned top-k is therefore identical to exhaustive
    evaluation (pinned by pytest), while the evaluated candidate set
    shrinks to the docs whose bound clears θ − ε. The rank-safety and
    rounding proof lives on :func:`_pruning_threshold`.

    Returns the top-k rows plus constant bookkeeping columns
    (n_docs_scored_bound, n_survivors) so the pruning ratio is data
    the gate hashes, not a claim.

    Scale shape: UB is a |q|-row broadcast; θ a 1-row broadcast from
    the champion pass (itself term-partitioned windows); the survivor
    filter (:func:`_bound_and_filter`) is a per-doc fixed-order pivot
    comparison applied BEFORE the final top-k — at 100 TB this is the
    difference between scoring every document containing any query
    term and scoring the small bound-clearing candidate set (DAAT
    skipping's relational analog).
    """
    weighted, theta, floor = _pruning_threshold(
        _weighted_postings(df, id_col, text_col, query_terms, k1, b),
        id_col,
        query_terms,
        k,
        champions,
    )
    ub = weighted.groupBy("term").agg(_round6_max("ub"))
    bound, survivors = _bound_and_filter(
        weighted.select(id_col, "term").join(F.broadcast(ub), "term"),
        id_col,
        "ub",
        query_terms,
        theta,
        floor,
    )
    final = _top(
        pivot_score(weighted.join(survivors, id_col), id_col, query_terms),
        id_col,
        k,
    )
    return final.crossJoin(
        F.broadcast(_count(bound, "n_docs_scored_bound"))
    ).crossJoin(F.broadcast(_count(survivors, "n_survivors")))


def bm25_champion_vs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int,
    champions: int = 32,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Champion-list top-k and exhaustive top-k side by side, rank by
    rank, from ONE weighted-postings frame — the comparison harness
    for :func:`bm25_champion_topk`'s pruning trade. Running the two
    operators separately re-plans the corpus explode for each path
    (measured 5 FileScans); here the query-term postings are weighted
    once, lazily localCheckpointed (they are index-sized — |q|·df
    rows), and both rankings read the same materialization: 2 corpus
    scans total (postings + corpus stats).

    Output: (rank, cl_doc_id, cl_bm25, exact_doc_id, exact_bm25,
    same_doc); the rank windows run after each path's
    TakeOrderedAndProject cut, ≤k rows each.
    """
    weighted = _weighted_postings(
        df, id_col, text_col, query_terms, k1, b
    ).localCheckpoint(eager=False)
    by_score = Window.orderBy(F.desc("bm25"), F.asc(id_col))

    def ranked(postings: DataFrame, prefix: str) -> DataFrame:
        return (
            _top(pivot_score(postings, id_col, query_terms), id_col, k)
            .withColumn("rank", F.row_number().over(by_score))
            .select(
                "rank",
                F.col(id_col).alias(f"{prefix}_doc_id"),
                F.col("bm25").alias(f"{prefix}_bm25"),
            )
        )

    cl = ranked(_champions(weighted, id_col, champions), "cl")
    full = ranked(weighted, "exact")
    return cl.join(full, "rank").select(
        "rank",
        "cl_doc_id",
        "cl_bm25",
        "exact_doc_id",
        "exact_bm25",
        (F.col("cl_doc_id") == F.col("exact_doc_id")).alias("same_doc"),
    )


def bm25_maxscore_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int,
    champions: int = 8,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Rank-SAFE top-k via MaxScore essential-term pruning (Turtle &
    Flood 1995, "Query evaluation: strategies and optimizations") —
    the TERM-level counterpart of :func:`bm25_wand_topk`'s per-doc
    bound filter: sort terms by their index-time upper bound UB_t
    descending and call a term NON-ESSENTIAL when the tail sum
    Σ UB over it and every weaker term stays below θ — a document
    containing ONLY non-essential terms cannot reach θ, so the
    candidate set is "docs containing at least one essential term",
    decided per POSTINGS LIST, before any per-doc arithmetic. Where
    WAND prunes documents one bound at a time, MaxScore skips whole
    lists — at 100 TB that is the difference between reading a stop
    word's postings and never opening them.

    Safety/rounding accounting (n_essential_terms and n_candidates are
    hash-gated, so membership must be round-6-stable AND rank-safe):
    θ, ε and the barrier come from :func:`_pruning_threshold`; UBs are
    round(·,6) DECIMAL(18,6) and the tail is their exact DECIMAL sum,
    so with each rounding ≤ 5e-7 off and θ rounding up ≤ 5e-7, a doc
    of only-suffix terms truly scores < tail_rounded + |q|·5e-7 —
    marking non-essential only when tail_rounded < θ − ε therefore
    never prunes a true top-k member (that helper's proof, applied to
    tails). The equals-exhaustive property is pinned by pytest.

    Returns the top-k rows plus (n_essential_terms, n_candidates) as
    gated bookkeeping columns."""
    weighted, theta, floor = _pruning_threshold(
        _weighted_postings(df, id_col, text_col, query_terms, k1, b),
        id_col,
        query_terms,
        k,
        champions,
    )
    ub = weighted.groupBy("term").agg(_round6_max("ub"))
    # tail sums over the |q|-row UB frame (a global window over a
    # bounded dimension — allowlisted plan shape): exact DECIMAL sums,
    # order pinned by (ub DESC, term ASC)
    tail_w = (
        Window.orderBy(F.desc("ub"), F.asc("term"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    tails = ub.select("term", "ub", F.sum("ub").over(tail_w).alias("tail"))
    essential = tails.crossJoin(F.broadcast(theta)).filter(
        F.col("tail") >= floor
    )
    cand = (
        weighted.join(
            F.broadcast(essential.select("term")), "term", "semi"
        )
        .select(id_col)
        .distinct()
    )
    final = _top(
        pivot_score(weighted.join(cand, id_col), id_col, query_terms),
        id_col,
        k,
    )
    return final.crossJoin(
        F.broadcast(_count(essential, "n_essential_terms"))
    ).crossJoin(F.broadcast(_count(cand, "n_candidates")))


def bm25_blockmax_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int,
    block: int = 64,
    champions: int = 8,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Rank-SAFE top-k via Block-Max WAND (Ding & Suel 2011, "Faster
    top-k document retrieval using block-max indexes") — the third
    member of the dynamic-pruning family: where classic WAND bounds a
    document by each term's GLOBAL maximum weight, BMW stores a
    maximum per fixed-size block of the postings list and bounds the
    document by the maxima of the blocks it actually sits in — a
    strictly tighter bound, so strictly fewer candidates survive.
    Relationally: block = id div ``block``, per-(term, block) round-6
    DECIMAL maxima, and the per-doc bound joins each present posting
    to ITS OWN block's maximum (same fixed-order DECIMAL bound sum as
    WAND's, :func:`_bound_and_filter`).

    Safety: bm(t, block(d)) ≥ w(t, d) for every posting by
    construction, so the bound dominates the true score; θ, ε and the
    rounding proof are :func:`_pruning_threshold`'s, unchanged (the
    bound is still a |q|-term fixed-order DECIMAL sum).

    Both survivor counts are returned gated (n_survivors_block and
    the classic global-UB n_survivors_global), so the tightening is
    measured data, and equals-exhaustive is pinned by pytest."""
    weighted, theta, floor = _pruning_threshold(
        _weighted_postings(
            df, id_col, text_col, query_terms, k1, b
        ).withColumn("blk", F.expr(f"{id_col} div {block}")),
        id_col,
        query_terms,
        k,
        champions,
    )
    # per-(term, block) maxima — the block-max index; per-term global
    # UBs ride the same frame for the comparison count
    bmax = weighted.groupBy("term", "blk").agg(_round6_max("bm"))
    ub = weighted.groupBy("term").agg(_round6_max("ub"))
    _, surv_blk = _bound_and_filter(
        weighted.select(id_col, "term", "blk").join(bmax, ["term", "blk"]),
        id_col,
        "bm",
        query_terms,
        theta,
        floor,
    )
    _, surv_glob = _bound_and_filter(
        weighted.select(id_col, "term").join(F.broadcast(ub), "term"),
        id_col,
        "ub",
        query_terms,
        theta,
        floor,
    )
    final = _top(
        pivot_score(weighted.join(surv_blk, id_col), id_col, query_terms),
        id_col,
        k,
    )
    return final.crossJoin(
        F.broadcast(_count(surv_blk, "n_survivors_block"))
    ).crossJoin(F.broadcast(_count(surv_glob, "n_survivors_global")))
