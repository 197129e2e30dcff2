"""Similarity search over embedding columns (SURVEY.md §2.11 [EXT]).

Brute-force cosine top-k as the exactness baseline, and a bucket-pruned
(IVF-style) variant as the scale path. Dot products are higher-order-
function expressions (zip_with + aggregate) — JVM-side, no Python UDF;
at 100 TB the upgrade is a Pandas-UDF batched BLAS kernel at the same
call sites (signature-compatible).

Scale notes:
  - query vectors broadcast (never shuffle the corpus for one query);
  - top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    heaps + k-row driver merge);
  - IVF: restrict the scan to the query's bucket(s) — partition-prune
    by a cluster-id column at rest, so the scan itself shrinks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.operators.fixpoint import iterate


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — deterministic summation order,
    so results are reproducible at any parallelism. NB: ``aggregate``/
    ``zip_with`` lambdas are CodegenFallback (interpreted); on hot paths
    with a KNOWN dim prefer :func:`dot_fixed`."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Unrolled left-to-right sum of ``element_at`` products for a
    KNOWN embedding dim — no lambda HOFs. Summation order is identical
    to the fold's, so values match bit for bit and the same DuckDB
    oracle verifies both forms.

    MEASURED SLOWER than the fold at real widths (sf0.1, 2k×64 corpus:
    fold 0.35 s, this 1.42 s, chunked-projection variant 1.72 s): a
    cosine needs 3 dots = 192 element_at nodes, and the expression-tree
    optimization/codegen cost plus JIT-hostile generated method size
    swamp the interpreter overhead it removes. Kept as the documented
    negative result + for small dims (≤ ~8, e.g. geo/time features)
    where the unrolled tree is tiny and codegen wins. The actual scale
    path for wide embeddings is ``topk_cosine_blas``."""
    terms = [
        F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
        for i in range(1, dim + 1)
    ]
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    return s


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_fixed(a: Column, b: Column, dim: int) -> Column:
    return dot_fixed(a, b, dim) / (
        F.sqrt(dot_fixed(a, a, dim)) * F.sqrt(dot_fixed(b, b, dim))
    )


def topk_cosine(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force top-k: broadcast the query row(s), score every
    corpus vector, TakeOrderedAndProject. Tie-break on id.

    ``dim`` switches to the unrolled ``cosine_fixed`` dot product —
    same values, no lambda HOFs. NB this is NOT automatically faster:
    at real widths the 3·dim ``element_at`` expression tree exceeds
    JIT method limits and measured ~4× SLOWER than the fold at 64 dims
    (1.42 s vs 0.35 s — see ``dot_fixed``'s docstring); it wins only
    at small dims or on sessions whose interpreter call sites are
    already lambda-polluted. For the genuinely fast scale path use the
    BLAS ``mapInPandas`` form (``topk_cosine_blas``), which is the
    witnessed + benched default."""
    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col("query_id")
    )
    if dim is not None:
        sim = cosine_fixed(F.col(vec_col), F.col("query_vec"), dim)
    else:
        sim = cosine(F.col(vec_col), F.col("query_vec"))
    return (
        scored.select(
            "query_id",
            F.col(id_col),
            F.round(sim, 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def topk_cosine_bucketed(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style pruned search: score only vectors sharing the query's
    bucket (coarse cluster id). With the corpus partitioned by bucket at
    rest this is a partition-pruned scan — the 1000× speedup at scale.
    Recall depends on bucket quality; nprobe>1 = union more buckets."""
    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col(bucket_col).alias("query_bucket"),
    )
    scored = corpus.join(
        F.broadcast(q), F.col(bucket_col) == F.col("query_bucket")
    ).filter(F.col(id_col) != F.col("query_id"))
    sim = cosine(F.col(vec_col), F.col("query_vec"))
    return (
        scored.select("query_id", F.col(id_col), F.round(sim, 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def topk_cosine_blas(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The 100 TB form of ``topk_cosine``: per-Arrow-batch matrix·vector
    scoring in numpy (BLAS dgemv) via ``mapInPandas``, then the same
    TakeOrderedAndProject top-k. One Python worker call scores a whole
    batch (~10k vectors) — versus one fold per row — so the Python
    boundary amortizes to noise while the heavy math runs vectorized.

    Same ids as the HOF version; similarity values can differ in the
    last ulp (pairwise vs sequential summation), which is why this
    registers as a rows-only check with a pytest id-set cross-check."""
    import numpy as np
    import pandas as pd

    q_rows = query.select(id_col, vec_col).collect()  # 1-row query side
    q_id = q_rows[0][id_col]
    q_vec = np.asarray(q_rows[0][vec_col], dtype=np.float64)
    q_unit = q_vec / np.linalg.norm(q_vec)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1)
            sims = (m @ q_unit) / np.where(norms == 0, 1.0, norms)
            out = pd.DataFrame(
                {
                    "query_id": q_id,
                    id_col: pdf[id_col].to_numpy(),
                    "sim": np.round(sims, 6),
                }
            )
            yield out[out[id_col] != q_id]

    schema = f"query_id long, {id_col} long, sim double"
    return (
        corpus.select(id_col, vec_col)
        .mapInPandas(score, schema)
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid table
    against every vector, argmin via min_by with a deterministic
    cluster-id tie-break. One narrow pass over the corpus — the corpus
    itself never shuffles. Returns (*keys, id, cluster, vec, dist).

    ``keys`` scopes the centroids (PQ's ``("sub_id",)``: one codebook
    per subspace), making the broadcast an equi-join; unkeyed it stays
    a cross join, as ``join(on=[])`` raises in PySpark. The vector
    rides through ``min_by`` so the update needs no join back."""
    if keys:
        scored = corpus.join(F.broadcast(centroids), list(keys))
    else:
        scored = corpus.crossJoin(F.broadcast(centroids))
    d = _sq_dist(F.col(vec_col), F.col("centroid"))
    return (
        scored.select(
            *keys,
            F.col(id_col),
            F.col(vec_col),
            F.col("cluster"),
            F.round(d, 9).alias("dist"),
        )
        .groupBy(id_col, *keys)
        .agg(
            F.min_by(
                F.struct(F.col("cluster"), F.col(vec_col).alias("vec")),
                F.struct("dist", "cluster"),
            ).alias("_m"),
            F.min("dist").alias("dist"),
        )
        .select(
            *keys,
            id_col,
            F.col("_m.cluster").alias("cluster"),
            F.col("_m.vec").alias(vec_col),
            "dist",
        )
    )


def _update_centroids(
    assigned: DataFrame, vec_col: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Lloyd's update over an :func:`assign_clusters` frame: explode
    (cluster, dim, value), average per (cluster, dim) — a shuffle of
    corpus×dims scalar rows with map-side combine, the standard
    MapReduce k-means shape — and rebuild each centroid in dim order.
    The rebuild sorts (pos, x) structs and extracts the field array,
    so no lambda runs per row. Returns (*keys, cluster, centroid)."""
    return (
        assigned.select(
            *keys, "cluster", F.posexplode(vec_col).alias("pos", "x")
        )
        .groupBy(*keys, "cluster", "pos")
        .agg(F.avg("x").alias("x"))
        .groupBy(*keys, "cluster")
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "x")))
            .getField("x")
            .alias("centroid")
        )
    )


def _seeds(corpus: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """(cluster, centroid): the k lowest-id vectors, numbered by id."""
    from pyspark.sql import Window

    return (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cluster"),
            F.col(vec_col).alias("centroid"),
        )
    )


def _lloyd(
    points: DataFrame, seeds: DataFrame, n_iter: int, id_col: str,
    vec_col: str, keys: tuple[str, ...] = (),
) -> DataFrame:
    """``n_iter`` Lloyd rounds from ``seeds``; the centroid table is
    checkpointed each round, and eagerly at the end."""

    def step(centroids: DataFrame, _i: int) -> DataFrame:
        assigned = assign_clusters(points, centroids, id_col, vec_col, keys)
        return _update_centroids(assigned, vec_col, keys)

    centroids, _, _ = iterate(seeds, step, n_iter, eager_final=True)
    return centroids


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Distributed Lloyd's iterations for IVF coarse quantization —
    the real version of the ``label``-as-bucket stand-in.

    Per round: assignment is a broadcast-join argmin (narrow over the
    corpus), then :func:`_update_centroids`. At cluster scale swap the
    per-round localCheckpoint for a reliable checkpoint(). Returns
    (assignments, centroids).

    Deterministic: seeds are the k lowest-id vectors, ties in argmin
    break on cluster id, and per-dim means use exact double sums over a
    fixed grouping — same result at any parallelism up to FP summation
    order in avg() (bounded by shuffle determinism of groupBy keys)."""
    centroids = _lloyd(
        corpus, _seeds(corpus, k, id_col, vec_col), n_iter, id_col, vec_col
    )
    # final assignment runs against the RETURNED centroids — otherwise a
    # caller routing query vectors by centroid searches buckets the
    # corpus was never assigned to (and n_iter=0 stays well-defined)
    assigned = assign_clusters(corpus, centroids, id_col, vec_col)
    return assigned.select(id_col, "cluster", "dist"), centroids


N_PLANES = 8
_PLANE_SEED = 42


def _planes(dims: int = 64, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded, rounded to 6dp so the
    identical constants can be stated in a DuckDB oracle)."""
    import numpy as np

    rng = np.random.default_rng(_PLANE_SEED)
    return [
        [round(float(x), 6) for x in rng.uniform(-1.0, 1.0, dims)]
        for _ in range(n_planes)
    ]


def sign_lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane (SimHash-for-cosine) bucket id: bit p is the
    sign of vec·plane_p, packed into an int. Pure expressions — the
    bucket computes in the scan stage; cosine-similar vectors agree on
    most signs, so near-dups collide while the corpus spreads over
    2^n_planes buckets."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(w) for w in plane]))
        bucket = bucket + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def near_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Embedding near-dup at scale: bucket by hyperplane signs, exact
    cosine verify only within buckets. Unlike ``near_dup_pairs`` (which
    needs a caller-supplied blocking column), the blocking key here is
    LEARNED from geometry — candidate count is driven by collision
    probability (1 - θ/π per plane), not by any label."""
    head = corpus.select(vec_col).first()
    if head is None:  # empty corpus → empty pair set, same schema
        return corpus.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(None).cast("double").alias("sim"),
        ).limit(0)
    dims = len(head[0])
    planes = _planes(dims, n_planes)
    with_bucket = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        sign_lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    return near_dup_pairs(
        with_bucket, threshold, bucket_col="bucket", id_col=id_col, vec_col=vec_col
    )


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: all pairs within a bucket whose cosine
    meets the threshold. Bucketing bounds the pair space; the 100 TB
    form replaces the self-join with LSH banding over sign-projections."""
    # Round 13 (guide §1.2 per-task work): cosine(a, b) evaluates
    # THREE interpreted folds per pair (dot + both norms). The norms
    # depend only on the vector, so compute each ONCE per row before
    # the join and carry the scalar — dot(a,a) is the identical fold
    # expression, so norm values (and therefore sim, the round(…,6)
    # and the threshold cut) are bit-for-bit unchanged; only the
    # per-pair work drops from 3 folds to 1.
    a = corpus.select(
        F.col(bucket_col).alias("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("nrm_a"),
    )
    b = corpus.select(
        F.col(bucket_col).alias("bucket_b"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("nrm_b"),
    )
    pairs = a.join(
        b, (a.bucket == b.bucket_b) & (a.id_a < b.id_b)
    )
    sim = dot(F.col("vec_a"), F.col("vec_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("sim")
    ).filter(F.col("sim") >= threshold)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN (Jégou et al. 2011, "Product
# Quantization for Nearest Neighbor Search")
# ---------------------------------------------------------------------------


def subvectors(
    df: DataFrame, m: int, dims: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub_id, subvec) rows: the vector split into ``m`` equal
    slices. Pure codegen'd slices + one Generate — no lambda HOFs, no
    shuffle. ``dims`` must be divisible by ``m``."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    d = dims // m
    subs = F.array(*[F.slice(F.col(vec_col), j * d + 1, d) for j in range(m)])
    return df.select(
        F.col(id_col), F.posexplode(subs).alias("sub_id", "subvec")
    )


def pq_train(
    corpus: DataFrame, m: int, k: int, dims: int, n_iter: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Train the m per-subspace codebooks (k codes each) — ALL
    subspaces in one distributed k-means loop: the (id, sub_id, subvec)
    frame carries every subspace and the shared Lloyd round is keyed
    by sub_id (assignment joins on sub_id against the broadcast
    codebook table; the update groups on (sub_id, code, dim)). One
    loop, m codebooks — the shuffle volume per round is corpus×dims
    scalars with map-side combine, identical to one full-width
    k-means, never m of them.

    Deterministic: seeds are the k lowest-id vectors per subspace —
    the subvectors of k-means' own seeds; argmin ties break on code.
    Returns (sub_id, code, centroid)."""
    sub = subvectors(corpus, m, dims, id_col, vec_col).localCheckpoint(
        eager=True  # the train loop re-reads it every round
    )
    seeds = subvectors(
        _seeds(corpus, k, id_col, vec_col), m, dims, "cluster", "centroid"
    ).withColumnRenamed("subvec", "centroid")
    books = _lloyd(sub, seeds, n_iter, id_col, "subvec", ("sub_id",))
    return books.select("sub_id", F.col("cluster").alias("code"), "centroid")


def pq_encode(
    corpus: DataFrame, books: DataFrame, m: int, dims: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each vector compressed to m codebook
    indices — dims×4 bytes down to m×~1 byte, the at-rest form a
    100 TB ANN index stores. The codes array is rebuilt lambda-free
    with m conditional-max agg columns (same order-safe trick as
    span_dedup_profile)."""
    assigned = assign_clusters(
        subvectors(corpus, m, dims, id_col, vec_col),
        books.withColumnRenamed("code", "cluster"),
        id_col, "subvec", ("sub_id",),
    )
    per_sub = [
        F.max(F.when(F.col("sub_id") == j, F.col("cluster"))).alias(f"c{j}")
        for j in range(m)
    ]
    return (
        assigned.groupBy(id_col)
        .agg(*per_sub)
        .select(
            id_col, F.array(*[f"c{j}" for j in range(m)]).alias("codes")
        )
    )


def pq_search_adc(
    codes_df: DataFrame, books: DataFrame, query_vec: list[float],
    top_k: int, m: int, id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    full-precision; per (sub_id, code) squared distances to the query's
    sub-slices are computed DRIVER-side (m×k floats — the same
    legitimately-tiny driver set as a 1-row query vector) and baked
    into m literal lookup maps, so scoring is Σ_j map_j[codes[j]] —
    pure codegen'd expressions over the compressed index, never
    touching a raw vector. TakeOrderedAndProject gives the k results.

    Output: (id, adc_dist) — approximate L2², ranked ascending with an
    id tie-break."""
    if len(query_vec) % m:  # same contract as subvectors() corpus-side
        raise ValueError(
            f"query dim {len(query_vec)} not divisible by m {m}"
        )
    rows = books.collect()
    d = len(query_vec) // m
    tables: dict[int, dict[int, float]] = {j: {} for j in range(m)}
    for r in rows:
        q = query_vec[r["sub_id"] * d : (r["sub_id"] + 1) * d]
        dist = sum((float(a) - float(b)) ** 2 for a, b in zip(q, r["centroid"]))
        tables[r["sub_id"]][r["code"]] = round(dist, 9)

    def table_map(j: int) -> Column:
        items: list[Column] = []
        for code, dist in sorted(tables[j].items()):
            items += [F.lit(code), F.lit(dist)]
        return F.create_map(*items)

    score = F.lit(0.0)
    for j in range(m):
        score = score + F.element_at(
            table_map(j), F.element_at(F.col("codes"), j + 1)
        )
    return (
        codes_df.select(F.col(id_col), F.round(score, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: Abbas et al. 2023)
# ---------------------------------------------------------------------------


def semantic_dedup(
    corpus: DataFrame, threshold: float, n_clusters: int = 8,
    n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space dedup: k-means buckets the corpus, exact cosine
    runs only within a bucket, and any vector cosine-≥-threshold to a
    lower-id bucket-mate is dropped (min-id greedy representative —
    SemDeDup's per-cluster policy). Composition of shipped pieces:
    kmeans_fit (broadcast-argmin assign; corpus never shuffles for
    assignment) + near_dup_pairs (bucket-bounded pair space).

    Returns (id, cluster, is_dropped, drop_against) — drop_against is
    the smallest lower id that evicted the row (null if kept)."""
    assigned, _ = kmeans_fit(
        corpus, n_clusters, n_iter, id_col=id_col, vec_col=vec_col
    )
    # Round 13 (the dedup_semantic_int8 lazy-barrier idiom, guide
    # §2.3): with_vec feeds THREE consumers — both sides of the
    # within-bucket pair self-join and the final keep/drop select —
    # and each re-ran the k-means assignment (broadcast argmin over
    # the full corpus union) from the scan; measured 34 s median at
    # sf0.1 with ~12 scan leaves. One materialization of the
    # (id, cluster, vec) frame is strictly cheaper.
    with_vec = (
        assigned.select(id_col, "cluster")
        .join(corpus.select(id_col, vec_col), id_col)
        .localCheckpoint(eager=False)
    )
    pairs = near_dup_pairs(
        with_vec, threshold, bucket_col="cluster", id_col=id_col,
        vec_col=vec_col,
    )
    evicted = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("drop_against")
    )
    return (
        with_vec.select(id_col, "cluster")
        .join(evicted, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("drop_against").isNotNull().alias("is_dropped"),
            "drop_against",
        )
    )


def pq_search_rerank(
    codes_df: DataFrame, books: DataFrame, corpus: DataFrame,
    query_vec: list[float], top_k: int, m: int, shortlist: int = 50,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """The production two-stage ANN: ADC over the compressed index
    produces a ``shortlist`` of candidates (cheap, codes-only scan),
    then ONLY those rows fetch their raw vectors (semi-join against the
    corpus — at rest a point-lookup by id) for an exact L2 re-rank.
    Recall is set by the shortlist size; the expensive exact math runs
    on ``shortlist`` rows instead of the corpus.

    Output: (id, d2) — exact squared L2, ascending, id tie-break."""
    short = pq_search_adc(codes_df, books, query_vec, shortlist, m, id_col)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = corpus.join(F.broadcast(short.select(id_col)), id_col)
    d = _sq_dist(F.col(vec_col), qcol)
    return (
        cand.select(F.col(id_col), F.round(d, 6).alias("d2"))
        .orderBy(F.asc("d2"), F.asc(id_col))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# Cross-corpus alignment (bitext-mining style best match)
# ---------------------------------------------------------------------------


def align_best_match(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    threshold: float | None = None,
) -> DataFrame:
    """Cross-corpus best-match mining (the retrieval core of bitext
    mining à la LASER / Artetxe & Schwenk 2019): for every vector on
    side A, find its highest-cosine partner on side B. Both sides are
    bucketed by the SAME sign-LSH hyperplanes, so candidates are only
    generated within a bucket — near-identical pairs (translations in
    an aligned embedding space) agree on every sign and are never
    missed, while the cross join the naive form needs never exists.

    Output: (id_a, id_b, sim) — one row per side-A vector that found a
    bucket-mate; ``threshold`` optionally drops weak matches. Argmax is
    ``max(struct(sim, id_b))`` — deterministic under ties, map-side
    partially aggregated.

    100 TB shape: one shuffle per side (the bucket hash join; broadcast
    the smaller side's buckets if lopsided) + the per-id argmax, which
    partial-aggregates to one row per side-A id before the exchange.
    Recall is governed by plane count exactly as in
    :func:`near_dup_pairs_lsh`. The 1-row dims probe at plan-build is
    the same legitimately-tiny driver action as a query vector; an
    empty side A short-circuits to an empty result instead of
    crashing the probe."""
    head = side_a.select(vec_col).first()
    if head is None:
        return side_a.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(None).cast("double").alias("sim"),
        ).limit(0)
    dims = len(head[0])
    planes = _planes(dims, n_planes)
    a = side_a.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        sign_lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    b = side_b.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        sign_lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    sim = F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6)
    best = (
        a.join(b, "bucket")
        .select("id_a", F.struct(sim.alias("sim"), F.col("id_b")).alias("m"))
        .groupBy("id_a")
        .agg(F.max("m").alias("m"))
        .select("id_a", F.col("m.id_b").alias("id_b"), F.col("m.sim").alias("sim"))
    )
    if threshold is not None:
        best = best.filter(F.col("sim") >= threshold)
    return best


def hard_negatives(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    label_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: the k
    vectors MOST similar to the query whose label differs — near-miss
    negatives carry the training signal that random negatives lack
    (the standard dense-retrieval recipe, e.g. DPR, Karpukhin et al.
    2020). ``query`` may hold a BATCH of query vectors: top-k is a
    query-partitioned window (WindowGroupLimit pushes the limit below
    the shuffle), never a global orderBy that would mix queries'
    results (review finding). The label inequality is one more pushed
    predicate on the broadcast join."""
    from pyspark.sql import Window

    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col(label_col).alias("query_label"),
    )
    scored = corpus.crossJoin(F.broadcast(q)).filter(
        (F.col(id_col) != F.col("query_id"))
        & (F.col(label_col) != F.col("query_label"))
    )
    sim = cosine(F.col(vec_col), F.col("query_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.select("query_id", F.col(id_col), F.round(sim, 6).alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def sample_negatives(
    corpus: DataFrame,
    k: int,
    n_candidates: int,
    label_col: str,
    id_col: str = "vec_id",
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Deterministic random negative sampling: for every anchor, draw
    k different-label partners by a pure hash draw — the bulk
    counterpart to :func:`hard_negatives` (contrastive batches mix
    both). Candidate partner ids come from a multiplicative integer
    hash (Knuth constant) over a small oversample (n_candidates per
    anchor), same-label and self pairs are filtered, and the first k
    survivors (by draw order) are kept. Integer arithmetic instead of
    the repo's usual md5 draw because the ORACLE needs the identical
    value and DuckDB has no clean hex→int conversion; the discipline
    is the same — a pure function of (id, draw index), reproducible
    at any partitioning/engine, no rand(), auditable and
    re-buildable.

    Shapes: the candidate explosion is a narrow per-row map
    (n_candidates rows per anchor); the partner lookup joins on the
    derived partner id — one hash-join shuffle keyed by id, map-side
    nothing else. Labels travel with both sides; no window is global.
    """
    from pyspark.sql import Window

    # CONTRACT: ids must be (near-)dense 0..max — the draw is modulo
    # max(id)+1, so a sparse id space makes most draws miss and
    # anchors silently under-fill; re-key (e.g. corpus_shuffle's hash
    # shard + rank) before sampling if ids are sparse.
    m = corpus.select(F.max(id_col).alias("m")).collect()[0]["m"]
    if m is None:
        return corpus.sparkSession.createDataFrame(
            [],
            "anchor_id long, anchor_label int, neg_rank int, "
            "partner_id long, partner_label int",
        )
    n_rows = m + 1
    # anchors default to the whole corpus; pre-filter at scale so the
    # candidate explosion only runs for rows that need pairs
    anchors = (anchors if anchors is not None else corpus).select(
        F.col(id_col).alias("anchor_id"), F.col(label_col).alias("anchor_label")
    )
    cand = anchors.select(
        "anchor_id",
        "anchor_label",
        F.posexplode(
            F.sequence(F.lit(0), F.lit(n_candidates - 1))
        ).alias("draw_idx", "i"),
    ).withColumn(
        "partner_id",
        (
            F.col("anchor_id") * F.lit(2654435761)
            + (F.col("i") + 1) * F.lit(40503)
        )
        % F.lit(int(n_rows)),
    )
    partners = corpus.select(
        F.col(id_col).alias("partner_id"),
        F.col(label_col).alias("partner_label"),
    )
    valid = (
        cand.join(partners, "partner_id")
        .filter(
            (F.col("partner_id") != F.col("anchor_id"))
            & (F.col("partner_label") != F.col("anchor_label"))
        )
        # draw aliasing (n_rows | 40503*(i-j)) can repeat a partner for
        # one anchor — keep only its FIRST draw so the k kept negatives
        # are distinct (review finding)
        .groupBy("anchor_id", "anchor_label", "partner_id", "partner_label")
        .agg(F.min("draw_idx").alias("draw_idx"))
    )
    w = Window.partitionBy("anchor_id").orderBy("draw_idx")
    return (
        valid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("rn").alias("neg_rank"),
            "partner_id",
            "partner_label",
        )
    )


def truncated_rerank(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    dim_coarse: int,
    n_candidates: int,
    k: int,
) -> DataFrame:
    """Matryoshka-style two-stage search (MRL, Kusupati et al. 2022):
    stage 1 scores cosine on only the FIRST ``dim_coarse`` dimensions
    (MRL-trained embeddings front-load information, so the prefix is a
    usable coarse representation) and keeps ``n_candidates``; stage 2
    re-ranks those exactly on the full vector. At rest the coarse
    stage reads a dim_coarse-wide column/index — a dim/dim_coarse scan
    reduction (4x at 16 of 64) before any full-width vector is touched;
    here the prefix is sliced in-plan. The re-rank set is broadcast-
    bounded (n_candidates rows), the retrieval_mmr discipline."""
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec")
    )
    pre = lambda c: F.slice(c, 1, dim_coarse)  # noqa: E731
    scored = (
        emb.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("qvec"),
            F.round(cosine(pre(F.col(vec_col)), pre(F.col("qvec"))), 6).alias(
                "sim_coarse"
            ),
        )
    )
    cand = scored.orderBy(F.desc("sim_coarse"), F.asc(id_col)).limit(
        n_candidates
    )
    return (
        cand.select(
            F.col(id_col),
            "sim_coarse",
            F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias(
                "sim_full"
            ),
        )
        .orderBy(F.desc("sim_full"), F.asc(id_col))
        .limit(k)
    )


def corpus_moments(
    emb: DataFrame, vec_col: str, dim: int
) -> tuple[int, "object", "object"]:
    """(n, mean vector, covariance matrix) of an embedding corpus in
    ONE distributed pass: ``mapInPandas`` accumulates per-partition
    (count, Σx, ΣxxT) — constant d + d² doubles per partition no
    matter the corpus size (the sketch-merge shape: partials combine
    by addition) — and the driver folds the ≤num_partitions partial
    rows. The d×d Gram never materializes per row; BLAS syrk-style
    ``X.T @ X`` runs per Arrow batch."""
    import numpy as np

    def partials(batches):
        import pandas as pd

        n = 0
        s = np.zeros(dim, dtype=np.float64)
        g = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(
                np.float64
            )
            n += m.shape[0]
            s += m.sum(axis=0)
            g += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    rows = (
        emb.select(vec_col)
        .mapInPandas(partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("empty embedding corpus")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    return n, mu, cov


def pca_whiten(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int = 64,
    eps: float = 1e-9,
) -> DataFrame:
    """PCA whitening of an embedding corpus (the standard retrieval
    post-processing — Jégou & Chum 2012 showed whitening fixes the
    co-occurrence over-counting that hurts cosine search; also the
    projection step of SemDeDup-style pipelines). Distributed shape:
    :func:`corpus_moments` reduces the corpus to one d×d covariance
    (single pass, constant-size partials), the d×d eigendecomposition
    runs driver-side (codebook-class: 64×64), and the whitening matrix
    W = V_k / sqrt(λ_k) ships back inside the projection closure — the
    corpus is touched exactly twice, shuffled never.

    Eigenvector sign is canonicalized (max-|component| positive) so
    the projection is deterministic given the covariance; component
    VALUES are float math over partial sums → the registered query is
    rows-only, with whitened-covariance≈I and variance-ordering
    invariants pytest-pinned."""
    import numpy as np

    _, mu, cov = corpus_moments(emb, vec_col, dim)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    lam = vals[order]
    v = vecs[:, order]
    # sign canon: the max-|x| component of each direction is positive
    flips = np.sign(v[np.argmax(np.abs(v), axis=0), np.arange(v.shape[1])])
    v = v * np.where(flips == 0, 1.0, flips)
    w = v / np.sqrt(np.maximum(lam, 0.0) + eps)

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(
                np.float64
            )
            p = (m - mu) @ w
            out = {id_col: pdf[id_col].to_numpy()}
            for j in range(k):
                out[f"pc{j + 1}"] = np.round(p[:, j], 6)
            yield pd.DataFrame(out)

    schema = f"{id_col} long, " + ", ".join(
        f"pc{j + 1} double" for j in range(k)
    )
    return emb.select(id_col, vec_col).mapInPandas(project, schema)


def probe_clusters(
    query: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``nprobe`` nearest centroids per query vector — IVF's
    recall knob (Jégou et al. 2011): a query near a cell boundary has
    true neighbors in the ADJACENT cell, so production IVF probes
    several; nprobe=1 is the fastest/lowest-recall corner
    (simsearch_ivf_kmeans), nprobe=k degenerates to brute force.
    Returns (query id, cluster) rows — ≤ nprobe per query. Broadcast
    centroid table, per-query top-nprobe by (dist, cluster): the
    query side is tiny by construction, so the rank window is
    query-partitioned and the corpus is untouched here."""
    from pyspark.sql import Window

    scored = query.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col).alias("query_id"),
        F.col("cluster"),
        F.round(_sq_dist(F.col(vec_col), F.col("centroid")), 9).alias("d"),
    )
    w = Window.partitionBy("query_id").orderBy("d", "cluster")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cluster")
    )
