"""Deduplication query surface (SURVEY.md §2.11 [EXT]).

Exact and n-gram-Jaccard dedup carry full DuckDB oracles (the exact
oracle groups by raw text — ground truth that hashing ≡ equality).
MinHash/SimHash use engine hashes (xxhash64) with no DuckDB equivalent,
so the driver records rows-only checks; their invariants (planted
duplicates are found; LSH candidates ⊇ high-jaccard pairs) are pytest-
verified in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.catalog import register
from shippai_knowledge_etl_spark.operators import dedup
from shippai_knowledge_etl_spark.operators.fixpoint import iterate
from shippai_knowledge_etl_spark.operators.textops import tokenize
from shippai_knowledge_etl_spark.tables import load, scale_out, table_rowcount


def documents_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of every 25th doc (id + 100000) — so
    dedup results are non-trivially non-empty and fully predictable."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    copies = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "source"
    )
    return d.unionByName(copies)


_PLANTED_SQL = """
    planted AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text, source
      FROM documents WHERE doc_id % 25 = 0)
"""


@register(
    "dedup_exact",
    survey_ref="[EXT] exact dedup: sha2 grouping, canonical = min id",
    bench=True,
    oracle=f"""
    WITH {_PLANTED_SQL}
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY text) AS canonical_id,
           doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_duplicate
    FROM planted
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-group dedup. The oracle partitions by raw text, proving the
    sha2-256 grouping is equivalent to content equality on this corpus."""
    df = documents_with_planted_dups(spark, sf_dir)
    return dedup.exact_dedup(df, "doc_id", "text").select(
        "doc_id", "canonical_id", "is_duplicate"
    )


@register(
    "dedup_ngram_jaccard",
    survey_ref="[EXT] n-gram Jaccard all-pairs within a blocking key",
    bench=True,
    oracle=f"""
    WITH {_PLANTED_SQL},
    sh AS (
      SELECT doc_id, source AS block, unnest(list_distinct(sh0)) AS shingle
      FROM (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(0, len(toks) - 2),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
               ELSE [array_to_string(toks, ' ')] END AS sh0
        FROM (SELECT doc_id, source,
                     list_filter(str_split(trim(regexp_replace(
                       lower(text), '[^\\p{{L}}\\p{{Nd}}]+', ' ', 'g')), ' '),
                       x -> x <> '') AS toks
              FROM planted))),
    counts AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b
        ON a.block = b.block AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, n_inter, ca.n_shingles AS n_a, cb.n_shingles AS n_b,
           n_inter / CAST(ca.n_shingles + cb.n_shingles - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE n_inter / CAST(ca.n_shingles + cb.n_shingles - n_inter AS DOUBLE) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational all-pairs Jaccard, blocked by ``source``, over the
    FULL shingle sets (round-1's 12-token demo cap is lifted) and the
    planted-duplicate corpus so matches are guaranteed. Single-pass
    shape: one codegen'd shingle evaluation per doc, groupBy
    (block, shingle) owner lists (single-owner keys — the vast
    majority — drop before any pair exists), i<j pair expansion,
    pair-count agg; see ``dedup.jaccard_pairs`` for the full scale
    argument and the ``max_df`` fanout knob."""
    d = scale_out(documents_with_planted_dups(spark, sf_dir))
    return dedup.jaccard_pairs(d, "doc_id", "text", "source", threshold=0.2)


_TOKS_SQL = (
    "list_filter(str_split(trim(regexp_replace(lower(text), "
    "'[^\\p{L}\\p{Nd}]+', ' ', 'g')), ' '), x -> x <> '')"
)


@register(
    "dedup_containment",
    survey_ref="[EXT] asymmetric shingle-containment near-dup "
    "(Broder 1997): |A∩B| / min(|A|,|B|) catches near-SUPERSET "
    "duplicates — a doc quoted/wrapped inside a larger one — that "
    "symmetric Jaccard structurally misses (contained-in-4x-larger ⇒ "
    "Jaccard ≤ 0.25, containment 1.0)",
    oracle=f"""
    WITH toks0 AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
    planted AS (
      SELECT doc_id, source, toks FROM toks0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, source,
             list_slice(toks, 1, greatest(len(toks) // 2, 5)) AS toks
      FROM toks0 WHERE doc_id % 25 = 0),
    sh AS (
      SELECT doc_id, source AS block, unnest(list_distinct(sh0)) AS shingle
      FROM (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(0, len(toks) - 2),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
               ELSE [array_to_string(toks, ' ')] END AS sh0
        FROM planted)),
    counts AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b
        ON a.block = b.block AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, n_inter, ca.n_shingles AS n_a, cb.n_shingles AS n_b,
           n_inter / CAST(least(ca.n_shingles, cb.n_shingles) AS DOUBLE)
             AS containment
    FROM inter
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE n_inter / CAST(least(ca.n_shingles, cb.n_shingles) AS DOUBLE) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over a corpus where every 25th doc also
    appears as its own first-half token fragment (id + 200000) —
    guaranteed containment-1.0 pairs that Jaccard at the same
    threshold would drop. Same single-pass blocked shape as
    ``dedup_ngram_jaccard`` (see ``dedup.containment_pairs``); the
    score is one exact integer division, so the gate needs no float
    tolerance."""
    from shippai_knowledge_etl_spark.operators.textops import tokenize

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    toks = tokenize(F.col("text"))
    # (size/2).cast(int) vs the oracle's `len(toks) // 2`: audited in
    # the r9 parity sweep — divisor 2 is a power of two, so the double
    # division is EXACT and trunc == floor == integer div for the
    # nonnegative size; the structural difference cannot diverge.
    frag_toks = F.slice(
        toks, 1, F.greatest((F.size(toks) / 2).cast("int"), F.lit(5))
    )
    frags = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(frag_toks, " ").alias("text"),
        "source",
    )
    corpus = scale_out(d.unionByName(frags))
    return dedup.containment_pairs(
        corpus, "doc_id", "text", "source", threshold=0.8
    )


@register(
    "dedup_minhash_lsh",
    survey_ref="[EXT] MinHash+LSH banding (engine hashes → rows-only check)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs from 128-permutation signatures in 16 bands
    of 8 (s-curve midpoint ≈ 0.71 Jaccard). Only signatures shuffle
    (~1 KB/doc); candidates verified downstream by
    dedup_ngram_jaccard's exact pass.

    scale_out (round 13): the 128 seeded hashes per shingle row run in
    the SCAN stage — a single-split local scan computed ~640 M
    xxhash64 calls on 1 of 32 cores (7.6 s median; no-op on real
    multi-split layouts)."""
    df = scale_out(documents_with_planted_dups(spark, sf_dir))
    return dedup.minhash_candidate_pairs(df, "doc_id", "text")


@register(
    "dedup_minhash_verified",
    survey_ref="[EXT] two-stage near-dup: MinHash-LSH candidates → exact "
    "Jaccard verification on candidate pairs only (engine hashes pick the "
    "candidates → rows-only; invariants pytest-pinned)",
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup shape at 100 TB: candidate set sized by
    the banding s-curve, exact Jaccard only where it matters.
    scale_out: same single-task scan-stage hashing as dedup_minhash_lsh."""
    df = scale_out(documents_with_planted_dups(spark, sf_dir))
    return dedup.verified_near_dup_pairs(df, "doc_id", "text", threshold=0.2)


@register(
    "dedup_simhash",
    survey_ref="[EXT] SimHash 64-bit per-doc signature (engine hashes → rows-only)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = documents_with_planted_dups(spark, sf_dir)
    return dedup.simhash_signatures(df, "doc_id", "text")


_CLUSTERS_CTES = """
    WITH RECURSIVE
    planted AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text, source
      FROM documents WHERE doc_id % 25 = 0),
    sh AS (
      SELECT doc_id, source AS block, unnest(list_distinct(sh0)) AS shingle
      FROM (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(0, len(toks) - 2),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
               ELSE [array_to_string(toks, ' ')] END AS sh0
        FROM (SELECT doc_id, source,
                     list_filter(str_split(trim(regexp_replace(
                       lower(text), '[^\\p{L}\\p{Nd}]+', ' ', 'g')), ' '),
                       x -> x <> '') AS toks
              FROM planted))),
    counts AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT id_a, id_b
      FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b
              ON a.block = b.block AND a.shingle = b.shingle
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) i
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b
      WHERE n_inter / CAST(ca.n_shingles + cb.n_shingles - n_inter AS DOUBLE)
            >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, node) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node)
    """

_CLUSTERS_ORACLE = (
    _CLUSTERS_CTES
    + "SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src"
)


@register(
    "dedup_clusters",
    survey_ref="[EXT] dedup clustering: connected components over the "
    "near-dup pair graph (iterative min-label propagation)",
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup groups. The oracle computes the same
    components via a recursive reachability CTE — an iterative Spark
    algorithm checked exactly against declarative SQL."""
    df = scale_out(documents_with_planted_dups(spark, sf_dir))
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", "source", threshold=0.5)
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("node").alias("doc_id"), "component")


@register(
    "dedup_clusters_lss",
    survey_ref="[EXT] dedup clustering, large-star/small-star form "
    "(O(log^2 n) rounds regardless of graph diameter — the 100 TB "
    "deep-graph path); same recursive-CTE oracle as dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical contract to dedup_clusters via star alternation —
    BOTH iterative implementations hash-match the same declarative
    reachability oracle."""
    df = scale_out(documents_with_planted_dups(spark, sf_dir))
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", "source", threshold=0.5)
    comp = dedup.connected_components_lss(pairs, "id_a", "id_b")
    return comp.select(F.col("node").alias("doc_id"), "component")


@register(
    "dedup_cluster_representatives",
    survey_ref="[EXT] canonical-document selection: near-dup clusters "
    "(same pair graph + components as dedup_clusters) extended to the "
    "FULL corpus (singletons are their own cluster), one kept "
    "representative per cluster by longest text with id tie-break — "
    "the decision stage that turns dedup clustering into an actual "
    "keep/drop verdict; windows cluster-partitioned, never global",
    oracle=_CLUSTERS_CTES
    + """,
    comp AS (
      SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src),
    uni AS (
      SELECT p.doc_id, length(p.text) AS len,
             COALESCE(c.component, p.doc_id) AS component
      FROM planted p LEFT JOIN comp c USING (doc_id)),
    ranked AS (
      SELECT doc_id, component, len,
             row_number() OVER (PARTITION BY component
                                ORDER BY len DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY component) AS cluster_size
      FROM uni)
    SELECT doc_id, component,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           rn = 1 AS keep
    FROM ranked
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering turned into a per-document keep/drop
    verdict: every document joins its connected component (docs
    outside the pair graph form singleton clusters of themselves),
    and each cluster keeps exactly one representative — the longest
    text, smallest id on ties (prefer the most complete copy, the
    standard canon in crawl dedup).

    Scale shape: the pair generation and component iteration are the
    audited dedup_clusters path; the verdict adds one left join of
    the (pairs-only, much smaller) component table onto the corpus id
    universe and two cluster-partitioned window functions sharing one
    partitioning — no global window, no second corpus scan beyond the
    length projection."""
    from pyspark.sql import Window

    df = scale_out(documents_with_planted_dups(spark, sf_dir))
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", "source", threshold=0.5)
    comp = dedup.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    uni = (
        df.select("doc_id", F.length("text").alias("len"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "len",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    w = Window.partitionBy("component")
    wo = w.orderBy(F.desc("len"), F.asc("doc_id"))
    return uni.select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.row_number().over(wo) == 1).alias("keep"),
    )


def _link_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int, DataFrame]:
    """The synthetic link graph the graph_* queries run on: returns
    (documents, n = their row count, edges) where doc i links to
    (i*7+1) mod n and (i*13+2) mod n — self-loops kept, the operators
    drop them. Sizing happens here, in the query layer, because the
    edge list is synthesized modulo n; the operators in
    operators/graph.py take edge lists and never trigger actions."""
    d = load(spark, sf_dir, "documents")
    n = table_rowcount(sf_dir, "documents")
    i = F.col("doc_id")
    edges = d.select(
        i.alias("src"), ((i * 7 + 1) % n).alias("dst")
    ).unionAll(d.select(i.alias("src"), ((i * 13 + 2) % n).alias("dst")))
    return d, n, edges


_PR_N = "(SELECT count(*) FROM documents)"
_PR_EDGES = f"""
    e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_PR_N} AS dst FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_PR_N} FROM documents),
    edges AS (SELECT src, dst FROM e0 WHERE src <> dst),
    outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT doc_id AS id FROM documents)
"""
# one damped update round: rank' = reset + 85% of inflow, all in
# floor-divided scaled integers (see operators/graph.py)
_PR_STEP = """
    c{i} AS (
      SELECT e.dst, sum(r.r // o.outdeg) AS inflow
      FROM edges e JOIN outdeg o USING (src) JOIN r{p} r ON r.id = e.src
      GROUP BY e.dst),
    r{i} AS (
      SELECT nodes.id,
             ((1000000000000 // {n}) * 15) // 100
               + (85 * COALESCE(c{i}.inflow, 0)) // 100 AS r
      FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.id)
"""


@register(
    "graph_pagerank",
    survey_ref=(
        "[EXT] crawl-graph PageRank (Page et al. 1999): frontier "
        "priority via iterative damped link-mass propagation; "
        "scaled-integer floor arithmetic makes the fixed-iteration "
        "run exactly oracle-checkable (operators/graph.py)"
    ),
    oracle=(
        "WITH "
        + _PR_EDGES
        + ", r0 AS (SELECT id, 1000000000000 // "
        + _PR_N
        + " AS r FROM nodes),"
        + ",".join(
            _PR_STEP.format(i=i, p=i - 1, n=_PR_N) for i in (1, 2, 3)
        )
        + " SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_scaled FROM r3"
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over a deterministic synthetic link graph
    (each doc links to (id*7+1) mod N and (id*13+2) mod N, self-loops
    dropped). The oracle unrolls the identical three damped rounds as
    CTEs — an iterative Spark algorithm checked exactly against
    declarative SQL, like ``dedup_clusters``. Scale shape in
    ``operators/graph.py:pagerank``: per-round state is 2 longs per
    node, one dst-keyed shuffle, lineage truncated by localCheckpoint."""
    from shippai_knowledge_etl_spark.operators.graph import pagerank

    d, n, edges = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    ranks = pagerank(nodes, edges, n_iters=3, n_nodes=n)
    return ranks.select(
        F.col("id").alias("doc_id"), F.col("rank_scaled").cast("long")
    )


@register(
    "graph_anchor_text",
    survey_ref=(
        "[EXT] anchor-text aggregation: per-target inlink count + "
        "distinct anchor phrases (sorted, capped) — the web-corpus "
        "signal that describes a page by what OTHERS call it; "
        "map-side partial agg on dst, collect_set bounded by the cap"
    ),
    oracle=f"""
    WITH {_PR_N.replace("(SELECT count(*) FROM documents)", "n AS (SELECT count(*) AS n FROM documents)")},
    e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT n FROM n) AS dst,
             'nav-' || CAST(doc_id % 7 AS VARCHAR) AS anchor
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % (SELECT n FROM n),
             'cite-' || CAST(doc_id % 5 AS VARCHAR)
      FROM documents),
    edges AS (SELECT * FROM e0 WHERE src <> dst)
    SELECT dst AS doc_id,
           CAST(count(*) AS BIGINT) AS n_inlinks,
           CAST(to_json(list_slice(list_sort(list_distinct(list(anchor))),
                                   1, 20)) AS VARCHAR) AS anchors
    FROM edges GROUP BY dst
    """,
)
def graph_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate inbound anchor text per target over the same synthetic
    link graph as ``graph_pagerank``. Scale shape: one dst-keyed
    shuffle; ``collect_set`` partial-aggregates map-side and the
    distinct-anchor vocabulary per target is capped (sorted, first 20)
    so no cell grows with corpus size — the anchors column is a
    BOUNDED summary, not an unbounded collect."""
    d = load(spark, sf_dir, "documents")
    n = table_rowcount(sf_dir, "documents")
    i = F.col("doc_id")
    # not _link_graph: each side of the union carries its own anchor
    edges = (
        d.select(
            i.alias("src"),
            ((i * 7 + 1) % n).alias("dst"),
            F.concat(F.lit("nav-"), (i % 7).cast("string")).alias("anchor"),
        )
        .unionAll(
            d.select(
                i.alias("src"),
                ((i * 13 + 2) % n).alias("dst"),
                F.concat(F.lit("cite-"), (i % 5).cast("string")).alias(
                    "anchor"
                ),
            )
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return edges.groupBy(F.col("dst").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.to_json(
            F.slice(F.array_sort(F.collect_set("anchor")), 1, 20)
        ).alias("anchors"),
    )


@register(
    "dedup_edit_distance",
    survey_ref=(
        "[EXT] edit-distance near-dup verify: blocked candidate pairs "
        "(source + token-count bucket) scored by JVM-side levenshtein — "
        "the character-level verify stage for candidates too short for "
        "shingle Jaccard to be meaningful"
    ),
    oracle=f"""
    WITH {_PLANTED_SQL},
    docs AS (
      SELECT doc_id, text, source,
             len(list_filter(str_split(trim(regexp_replace(lower(text),
               '[^\\p{{L}}\\p{{Nd}}]+', ' ', 'g')), ' '), x -> x <> ''))
               // 8 AS len_bucket
      FROM planted),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(a.text, b.text) AS edit_dist,
             greatest(length(a.text), length(b.text)) AS max_len
      FROM docs a JOIN docs b
        ON a.source = b.source AND a.len_bucket = b.len_bucket
       AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(edit_dist AS INT) AS edit_dist,
           round(1.0 - edit_dist / CAST(greatest(max_len, 1) AS DOUBLE), 6)
             AS edit_sim
    FROM pairs
    WHERE 1.0 - edit_dist / CAST(greatest(max_len, 1) AS DOUBLE) >= 0.8
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein-verified near-dup pairs over the planted-duplicate
    corpus, candidates blocked by (source, token-count bucket).

    Scale shape: blocking bounds the self-join exactly like
    ``jaccard_pairs`` — pairs exist only within (source, bucket) cells,
    so the join is an equi-join Catalyst hash-partitions on the block
    key, never a cross product; ``levenshtein`` is a JVM builtin
    (O(len^2) per pair — this stage is for SHORT texts; long-text
    near-dup goes through MinHash->Jaccard, where cost is linear in
    shingles). Planted exact copies score edit_sim = 1.0.

    Round 13 (guide §1/§3.2 — measured 125 s median at sf0.1, the
    heaviest query in the engine, previously unbenched):
    - ``scale_out`` on the doc side: the broadcast join streamed the
      single-split local scan, so EVERY pair's O(len²) levenshtein ran
      on 1 of 32 cores;
    - a LENGTH-DIFFERENCE prune before the DP: edit distance is
      ≥ |len_a − len_b| (each unmatched character costs ≥1 edit), and
      the final filter is monotone in the distance through the same
      round(…, 6) expression, so pairs whose length gap alone already
      fails the 0.8 cut are dropped WITHOUT evaluating levenshtein —
      a pure lower-bound prune, no false negatives, result identical.
    """
    from shippai_knowledge_etl_spark.operators.textops import tokenize
    from shippai_knowledge_etl_spark.tables import scale_out

    df = scale_out(documents_with_planted_dups(spark, sf_dir))
    n_toks = F.size(tokenize(F.col("text")))
    # lazy barrier: BOTH self-join sides read the one materialized
    # (doc, text, block-key) frame instead of each re-running the
    # planted-dup synthesis + tokenize (plan: 4 scans → 1)
    docs = df.select(
        "doc_id",
        "text",
        "source",
        F.length("text").alias("len"),
        F.floor(n_toks / 8).alias("len_bucket"),
    ).localCheckpoint(eager=False)
    a, b = docs.alias("a"), docs.alias("b")
    max_len = F.greatest(F.col("a.len"), F.col("b.len"))
    lb_sim = 1.0 - F.abs(
        F.col("a.len") - F.col("b.len")
    ) / F.greatest(max_len, F.lit(1)).cast("double")
    pairs = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # upper bound on the final similarity: prune BEFORE the DP
        .filter(F.round(lb_sim, 6) >= 0.8)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.text"), F.col("b.text")).alias(
                "edit_dist"
            ),
            max_len.alias("max_len"),
        )
    )
    sim = 1.0 - F.col("edit_dist") / F.greatest(F.col("max_len"), F.lit(1)).cast(
        "double"
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("edit_dist").cast("int"),
        F.round(sim, 6).alias("edit_sim"),
    ).filter(F.round(sim, 6) >= 0.8)


# Undirected synthetic link graph shared with graph_pagerank's family:
# both deterministic links plus their reverses, self-loops dropped.
_LPA_N = "(SELECT count(*) FROM documents)"
_LPA_EDGES = f"""
    le0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_LPA_N} AS dst FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_LPA_N} FROM documents),
    led AS (
      SELECT src, dst FROM le0 WHERE src <> dst
      UNION ALL
      SELECT dst, src FROM le0 WHERE src <> dst),
    l0 AS (
      SELECT doc_id AS id,
             CASE WHEN doc_id % 10 = 0
                  THEN CAST(doc_id % 4 AS BIGINT) END AS lbl,
             doc_id % 10 = 0 AS is_seed
      FROM documents)
"""
# one synchronous vote round: majority labeled-neighbor label,
# smallest label on ties, seeds clamped, keep old label if no
# labeled neighbor (see operators/graph.py:label_propagation)
_LPA_STEP = """
    v{i} AS (
      SELECT e.dst, l.lbl, count(*) AS cnt
      FROM led e JOIN l{p} l ON l.id = e.src
      WHERE l.lbl IS NOT NULL
      GROUP BY e.dst, l.lbl),
    b{i} AS (
      SELECT dst, lbl FROM (
        SELECT dst, lbl,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY cnt DESC, lbl ASC) AS rn
        FROM v{i}) WHERE rn = 1),
    l{i} AS (
      SELECT l.id,
             CASE WHEN l.is_seed THEN l.lbl
                  ELSE COALESCE(b.lbl, l.lbl) END AS lbl,
             l.is_seed
      FROM l{p} l LEFT JOIN b{i} b ON b.dst = l.id)
"""


@register(
    "graph_label_propagation",
    survey_ref=(
        "[EXT] semi-supervised label propagation (Zhu & Ghahramani "
        "2002, clamped seeds): scarce trusted tags spread across the "
        "link graph by iterated integer majority vote with smallest-"
        "label tie-break — fixed 3 rounds unrolled as oracle CTEs, "
        "exactly hash-checkable like graph_pagerank "
        "(operators/graph.py:label_propagation)"
    ),
    oracle=(
        "WITH "
        + _LPA_EDGES
        + ","
        + ",".join(_LPA_STEP.format(i=i, p=i - 1) for i in (1, 2, 3))
        + " SELECT id AS doc_id, lbl AS label, is_seed FROM l3"
    ),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round clamped-seed label propagation: every 10th document is
    a seed carrying label doc_id % 4 (the human-rated-tag stand-in);
    votes travel the UNDIRECTED synthetic link graph (both
    deterministic links plus reverses — parallel edges count
    multiply). Docs unreached within 3 hops keep NULL — visible in
    the output rather than papered over.

    Scale shape in ``operators/graph.py:label_propagation``: one
    (dst,label)-keyed shuffle per round with map-side partial counts,
    argmin served from the same partitioning, ~17-byte per-node state,
    localCheckpoint lineage truncation."""
    from shippai_knowledge_etl_spark.operators.graph import label_propagation

    d, _, fwd = _link_graph(spark, sf_dir)
    fwd = fwd.filter(F.col("src") != F.col("dst"))
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    i = F.col("doc_id")
    nodes = d.select(
        i.alias("id"),
        F.when(i % 10 == 0, (i % 4).cast("long")).alias("label"),
        (i % 10 == 0).alias("is_seed"),
    )
    out = label_propagation(nodes, edges, n_iters=3)
    return out.select(F.col("id").alias("doc_id"), "label", "is_seed")


# one HITS round: authority <- L1-normalized inflow of hub mass,
# hub <- L1-normalized outflow of the NEW authority mass (see
# operators/graph.py:hits; 1000000 = HITS_SCALE)
_HITS_STEP = """
    ar{i} AS (
      SELECT e.dst, sum(h.h) AS ra
      FROM edges e JOIN h{p} h ON h.id = e.src GROUP BY e.dst),
    at{i} AS (SELECT sum(ra) AS t FROM ar{i}),
    a{i} AS (
      SELECT n.id, CAST(COALESCE((r.ra * 1000000) // t.t, 0) AS BIGINT) AS a
      FROM nodes n LEFT JOIN ar{i} r ON r.dst = n.id CROSS JOIN at{i} t),
    hr{i} AS (
      SELECT e.src, sum(a.a) AS rh
      FROM edges e JOIN a{i} a ON a.id = e.dst GROUP BY e.src),
    ht{i} AS (SELECT sum(rh) AS t FROM hr{i}),
    h{i} AS (
      SELECT n.id, CAST(COALESCE((r.rh * 1000000) // t.t, 0) AS BIGINT) AS h
      FROM nodes n LEFT JOIN hr{i} r ON r.src = n.id CROSS JOIN ht{i} t)
"""


@register(
    "graph_hits",
    survey_ref=(
        "[EXT] HITS hubs-and-authorities (Kleinberg 1999): the "
        "complement of PageRank's single score — hub mass finds "
        "link-directory pages, authority mass canonical content; "
        "L1-normalized scaled-integer rounds are exactly "
        "oracle-checkable (operators/graph.py:hits)"
    ),
    oracle=(
        "WITH "
        + _PR_EDGES
        + ", h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),"
        + ",".join(_HITS_STEP.format(i=i, p=i - 1) for i in (1, 2))
        + """ SELECT a2.id AS doc_id, a2.a AS auth_scaled,
                     h2.h AS hub_scaled
              FROM a2 JOIN h2 ON h2.id = a2.id"""
    ),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration HITS over the same deterministic synthetic link
    graph as ``graph_pagerank``. The oracle unrolls both rounds —
    four aggregate/normalize stages — as CTEs; L1 normalization (not
    the classical L2) keeps every step in integer floor division so
    the hash gate is exact (rankings are norm-invariant).

    Scale shape in ``operators/graph.py:hits``: 3 longs per node
    state, two key-keyed shuffles per round with map-side partial
    sums, 1-row broadcast totals, localCheckpoint lineage."""
    from shippai_knowledge_etl_spark.operators.graph import hits

    d, _, edges = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    out = hits(nodes, edges, n_iters=2)
    return out.select(
        F.col("id").alias("doc_id"), "auth_scaled", "hub_scaled"
    )


@register(
    "graph_triangles",
    survey_ref=(
        "[EXT] triangle counting + local clustering coefficient "
        "(Schank 2007 forward algorithm / Suri & Vassilvitskii 2011): "
        "community-structure diagnostic over the link graph; "
        "degree-ordered orientation bounds wedge fan-out by O(sqrt m) "
        "(operators/graph.py:triangle_counts)"
    ),
    oracle=f"""
    WITH e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_LPA_N} AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_LPA_N} FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e0 WHERE src <> dst),
    deg AS (
      SELECT id, count(*) AS deg FROM (
        SELECT u AS id FROM und UNION ALL SELECT v FROM und)
      GROUP BY id),
    ori AS (
      SELECT CASE WHEN du.deg < dv.deg
                    OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.u ELSE e.v END AS a,
             CASE WHEN du.deg < dv.deg
                    OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.v ELSE e.u END AS b,
             CASE WHEN du.deg < dv.deg
                    OR (du.deg = dv.deg AND e.u < e.v)
                  THEN dv.deg ELSE du.deg END AS db
      FROM und e
      JOIN deg du ON du.id = e.u
      JOIN deg dv ON dv.id = e.v),
    tri AS (
      SELECT w1.a AS x, w1.b AS y, w2.b AS z
      FROM ori w1
      JOIN ori w2 ON w1.a = w2.a
        AND (w1.db < w2.db OR (w1.db = w2.db AND w1.b < w2.b))
      JOIN ori w3 ON w3.a = w1.b AND w3.b = w2.b),
    per_node AS (
      SELECT id, count(*) AS tri FROM (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      GROUP BY id)
    SELECT d.doc_id,
           CAST(COALESCE(g.deg, 0) AS BIGINT) AS degree,
           CAST(COALESCE(p.tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN COALESCE(g.deg, 0) >= 2
                THEN round(CAST(2 * COALESCE(p.tri, 0) AS DOUBLE)
                           / (g.deg * (g.deg - 1)), 6)
                ELSE 0.0 END AS clustering
    FROM documents d
    LEFT JOIN deg g ON g.id = d.doc_id
    LEFT JOIN per_node p ON p.id = d.doc_id
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count and local clustering coefficient
    over the UNDIRECTED simple version of the synthetic link graph
    (the community-density signal: templated link farms show
    near-zero clustering, organic topic clusters show high). Exact
    integer counts; the single clustering division rounds 6 dp with
    identical operand order on both engines.

    Scale shape in ``operators/graph.py:triangle_counts``: degree-
    ordered orientation (each triangle counted once at its lowest-
    degree pivot) caps wedge fan-out at O(sqrt m) per node, the two
    triangle joins are plain equi-joins on edge keys, per-node counts
    partial-aggregate map-side, and nothing collects to the driver."""
    from shippai_knowledge_etl_spark.operators.graph import triangle_counts

    d, _, edges = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    out = triangle_counts(nodes, edges)
    return out.select(
        F.col("id").alias("doc_id"), "degree", "n_triangles", "clustering"
    )


@register(
    "dedup_prefix_allpairs",
    survey_ref=(
        "[EXT] prefix-filtering all-pairs similarity join (Bayardo et "
        "al. 2007 AllPairs + PPJoin length filter): candidates only "
        "from each doc's rarest tokens — the df-pruning upgrade the "
        "dedup module docstring promises over blocked jaccard_pairs "
        "(operators/dedup.py:prefix_filter_pairs)"
    ),
    oracle=f"""
    WITH {_PLANTED_SQL},
    toks AS (
      SELECT doc_id AS doc, unnest(list_distinct(sh0)) AS tok
      FROM (
        SELECT doc_id,
               CASE WHEN len(t0) >= 3 THEN
                 list_transform(range(0, len(t0) - 2),
                   i -> array_to_string(list_slice(t0, i + 1, i + 3), ' '))
               ELSE [array_to_string(t0, ' ')] END AS sh0
        FROM (SELECT doc_id,
                     list_filter(str_split(trim(regexp_replace(
                       lower(text), '[^\\p{{L}}\\p{{Nd}}]+', ' ', 'g')), ' '),
                       x -> x <> '') AS t0
              FROM planted))),
    sizes AS (SELECT doc, count(*) AS sz FROM toks GROUP BY doc),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    ordered AS (
      SELECT t.doc, t.tok, s.sz,
             row_number() OVER (PARTITION BY t.doc
                                ORDER BY f.tf, t.tok) AS pos
      FROM toks t JOIN freq f USING (tok) JOIN sizes s USING (doc)),
    prefix AS (
      SELECT doc, tok, sz FROM ordered
      WHERE pos <= sz - (1 * sz + 2 - 1) // 2 + 1),
    cand AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM prefix a JOIN prefix b
        ON a.tok = b.tok AND a.doc < b.doc
       AND 2 * least(a.sz, b.sz) >= 1 * greatest(a.sz, b.sz)),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN toks ta ON ta.doc = c.id_a
      JOIN toks tb ON tb.doc = c.id_b AND tb.tok = ta.tok
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.sz AS BIGINT) AS n_a,
           CAST(sb.sz AS BIGINT) AS n_b,
           round(CAST(i.n_inter AS DOUBLE)
                 / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc = i.id_a
    JOIN sizes sb ON sb.doc = i.id_b
    WHERE 2 * i.n_inter >= 1 * (sa.sz + sb.sz - i.n_inter)
    """,
)
def dedup_prefix_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set Jaccard >= 1/2 pairs over the planted-duplicate
    corpus via prefix filtering: each doc exposes only its rarest
    ``sz - ceil(sz/2) + 1`` shingles to the candidate join, so hot
    shingles (boilerplate) never generate pairs, yet the
    prefix-intersection theorem guarantees zero missed pairs (recall
    vs brute force pinned in tests/test_dedup.py). Threshold math is
    integer end to end — the survivor SET is engine- and
    partitioning-exact; only the display ``jaccard`` is a rounded
    double."""
    d = documents_with_planted_dups(spark, sf_dir)
    return dedup.prefix_filter_pairs(d, "doc_id", "text", 1, 2, gram_n=3)


# one k-core peel round: degrees among the previous survivor set,
# then drop nodes under k (see operators/graph.py:k_core; k = 3)
_KCORE_STEP = """
    d{i} AS (
      SELECT t.a AS id, count(*) AS deg FROM adj t
      JOIN s{p} x ON x.id = t.a JOIN s{p} y ON y.id = t.b
      GROUP BY t.a),
    s{i} AS (SELECT id FROM d{i} WHERE deg >= 3)
"""


@register(
    "graph_kcore",
    survey_ref=(
        "[EXT] k-core peeling (Seidman 1983 / Montresor et al. 2013): "
        "dense-subgraph membership after 3 cascading peel rounds at "
        "k=3 — fixed rounds unrolled as oracle CTEs, the "
        "PageRank/HITS convention; convergence semantics pinned in "
        "tests/test_dedup.py (operators/graph.py:k_core)"
    ),
    oracle=(
        f"""
    WITH e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_LPA_N} AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_LPA_N} FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e0 WHERE src <> dst),
    adj AS (SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v, u FROM und),
    s0 AS (SELECT doc_id AS id FROM documents),
    """
        + ",".join(_KCORE_STEP.format(i=i, p=i - 1) for i in (1, 2, 3))
        + """,
    fd AS (
      SELECT t.a AS id, count(*) AS deg FROM adj t
      JOIN s3 x ON x.id = t.a JOIN s3 y ON y.id = t.b
      GROUP BY t.a)
    SELECT d.doc_id, s.id IS NOT NULL AS in_core,
           CAST(coalesce(f.deg, 0) AS BIGINT) AS core_degree
    FROM documents d
    LEFT JOIN s3 s ON s.id = d.doc_id
    LEFT JOIN fd f ON f.id = d.doc_id
    """
    ),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k=3 core peeling over the undirected simple synthetic
    link graph — the dense-subgraph membership signal (spam/link-farm
    cores, well-connected topic hubs). Each round drops every node
    whose degree among survivors is < 3, so removals cascade; the
    oracle unrolls the identical three rounds as CTEs. Fixpoint
    semantics (true k-core) are the operator's convergence loop,
    pinned in tests/test_dedup.py on known graphs."""
    from shippai_knowledge_etl_spark.operators.graph import k_core

    d, _, edges = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    out = k_core(nodes, edges, k=3, n_iters=3)
    return out.select(
        F.col("id").alias("doc_id"), "in_core", "core_degree"
    )


@register(
    "graph_assortativity",
    survey_ref=(
        "[EXT] degree assortativity (Newman 2002): Pearson correlation "
        "of endpoint degrees over the undirected edge list — social "
        "graphs assort (r>0), web/crawl graphs disassort (r<0); "
        "integer degree sums with the Zipf closed-form discipline"
    ),
    oracle=f"""
    WITH e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_LPA_N} AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_LPA_N} FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e0 WHERE src <> dst),
    deg AS (
      SELECT id, count(*) AS deg FROM (
        SELECT u AS id FROM und UNION ALL SELECT v FROM und)
      GROUP BY id),
    pairs AS (
      SELECT du.deg AS x, dv.deg AS y FROM und e
      JOIN deg du ON du.id = e.u
      JOIN deg dv ON dv.id = e.v
      UNION ALL
      SELECT dv.deg, du.deg FROM und e
      JOIN deg du ON du.id = e.u
      JOIN deg dv ON dv.id = e.v),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pairs)
    SELECT CAST(n AS BIGINT) AS n_endpoints,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS assortativity
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do well-linked pages link to other well-linked pages? Pearson r
    of endpoint degrees over every undirected edge (both orientations,
    the standard symmetrization). Every sum is an exact integer
    (degrees and their products), so only the final closed-form
    correlation runs in double with token-identical operand order —
    sqrt is IEEE-exactly-rounded in both engines (the
    curation_temperature_mix precedent).

    Scale shape: the degree table is one node-keyed count; the edge
    list joins it twice on node id (equi-joins, co-partitioned); the
    correlation is one 6-column aggregate with map-side partials. No
    windows, no collects."""
    from shippai_knowledge_etl_spark.operators.graph import assortativity

    return assortativity(_link_graph(spark, sf_dir)[2])


@register(
    "graph_negative_edges",
    survey_ref=(
        "[EXT] link-prediction training pairs: observed edges labeled "
        "1 + deterministic hash-corrupted non-edges labeled 0 "
        "(TransE/GNN corrupted-negative recipe), false negatives "
        "anti-joined away; md5 draws make the sample a pure function "
        "of the graph (operators/graph.py:negative_edges)"
    ),
    oracle=f"""
    WITH e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_LPA_N} AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_LPA_N} FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e0 WHERE src <> dst),
    pos AS (SELECT u AS src, v AS dst, 1 AS label FROM und),
    cand AS (
      SELECT u,
             CAST(CAST('0x' || substring(md5(CAST(u AS VARCHAR) || ':'
                    || CAST(v AS VARCHAR) || ':negedge:'
                    || CAST(i.i AS VARCHAR)), 1, 8) AS BIGINT)
                  % {_LPA_N} AS BIGINT) AS w
      FROM und CROSS JOIN (SELECT unnest(range(0, 2)) AS i) i),
    neg_key AS (
      SELECT least(u, w) AS u, greatest(u, w) AS v
      FROM cand WHERE u <> w),
    neg AS (
      SELECT n.u AS src, n.v AS dst, 0 AS label
      FROM neg_key n ANTI JOIN und e ON e.u = n.u AND e.v = n.v)
    SELECT src, dst, label FROM pos
    UNION ALL
    SELECT src, dst, label FROM neg
    """,
)
def graph_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train pairs for a link predictor over the synthetic graph:
    every canonical edge (label 1) plus ≤2 hash-corrupted non-edges
    per edge (label 0), false negatives removed by an anti-join
    against the real edge set. Deterministic md5 draws — the sample
    is reproducible at any parallelism, and both engines generate
    the identical multiset (duplicate negatives from colliding draws
    are kept by both). Scale shape in
    ``operators/graph.py:negative_edges``."""
    from shippai_knowledge_etl_spark.operators.graph import negative_edges

    d, n, edges = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    return negative_edges(nodes, edges, k=2, n_nodes=n)


@register(
    "graph_node_profile",
    survey_ref=(
        "[EXT] graph-diagnostics composition flagship: PageRank + "
        "k-core membership + triangles/clustering joined into ONE "
        "node-profile table — the per-page feature row a crawl "
        "scheduler or spam model consumes; each stage is the "
        "registered operator, the oracle is the three unrolled "
        "oracles joined on doc_id"
    ),
    oracle=(
        "WITH "
        + _PR_EDGES
        + ", r0 AS (SELECT id, 1000000000000 // "
        + _PR_N
        + " AS r FROM nodes),"
        + ",".join(
            _PR_STEP.format(i=i, p=i - 1, n=_PR_N) for i in (1, 2, 3)
        )
        + f""",
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM edges),
    adj AS (SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v, u FROM und),
    s0 AS (SELECT doc_id AS id FROM documents),
    """
        + ",".join(_KCORE_STEP.format(i=i, p=i - 1) for i in (1, 2, 3))
        + """,
    tdeg AS (
      SELECT id, count(*) AS deg FROM (
        SELECT u AS id FROM und UNION ALL SELECT v FROM und)
      GROUP BY id),
    tori AS (
      SELECT CASE WHEN du.deg < dv.deg
                    OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.u ELSE e.v END AS a,
             CASE WHEN du.deg < dv.deg
                    OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.v ELSE e.u END AS b,
             CASE WHEN du.deg < dv.deg
                    OR (du.deg = dv.deg AND e.u < e.v)
                  THEN dv.deg ELSE du.deg END AS db
      FROM und e
      JOIN tdeg du ON du.id = e.u
      JOIN tdeg dv ON dv.id = e.v),
    ttri AS (
      SELECT w1.a AS x, w1.b AS y, w2.b AS z
      FROM tori w1
      JOIN tori w2 ON w1.a = w2.a
        AND (w1.db < w2.db OR (w1.db = w2.db AND w1.b < w2.b))
      JOIN tori w3 ON w3.a = w1.b AND w3.b = w2.b),
    tper AS (
      SELECT id, count(*) AS tri FROM (
        SELECT x AS id FROM ttri
        UNION ALL SELECT y FROM ttri
        UNION ALL SELECT z FROM ttri)
      GROUP BY id)
    SELECT d.doc_id,
           CAST(r3.r AS BIGINT) AS rank_scaled,
           s.id IS NOT NULL AS in_core,
           CAST(COALESCE(g.deg, 0) AS BIGINT) AS degree,
           CAST(COALESCE(p.tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN COALESCE(g.deg, 0) >= 2
                THEN round(CAST(2 * COALESCE(p.tri, 0) AS DOUBLE)
                           / (g.deg * (g.deg - 1)), 6)
                ELSE 0.0 END AS clustering
    FROM documents d
    JOIN r3 ON r3.id = d.doc_id
    LEFT JOIN s3 s ON s.id = d.doc_id
    LEFT JOIN tdeg g ON g.id = d.doc_id
    LEFT JOIN tper p ON p.id = d.doc_id
    """
    ),
)
def graph_node_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One feature row per page: link authority (3-round scaled-int
    PageRank), dense-subgraph membership (3-round k=3 core), and
    local community density (triangles + clustering) — the node
    profile a crawl scheduler, spam classifier, or mixture weighter
    consumes. Every stage is the registered operator composed
    unchanged; the joins are node-keyed equi-joins of three
    node-sized tables, so the composition adds no shuffle class
    beyond its parts."""
    from shippai_knowledge_etl_spark.operators.graph import (
        k_core,
        pagerank,
        triangle_counts,
    )

    d, n, edges = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    pr = pagerank(nodes, edges, n_iters=3, n_nodes=n).select(
        F.col("id").alias("doc_id"), F.col("rank_scaled").cast("long")
    )
    kc = k_core(nodes, edges, k=3, n_iters=3).select(
        F.col("id").alias("doc_id"), "in_core"
    )
    tc = triangle_counts(nodes, edges).select(
        F.col("id").alias("doc_id"), "degree", "n_triangles", "clustering"
    )
    return pr.join(kc, "doc_id").join(tc, "doc_id")


# ---------------------------------------------------------------------------
# Cross-document duplicated-passage spans (substring dedup)
# ---------------------------------------------------------------------------

# Plant: a middle-slice fragment (tokens 11..40, 1-based) of every 25th
# doc re-enters as its own document, so originals exhibit an INTERNAL
# maximal duplicated passage (start=10, 30 tokens, 0-based) rather than
# the full-copy degenerate case — exactly what substring dedup exists to
# find and block dedup (dedup_spans) cannot localize.
_FRAG_SQL = f"""
    fragged AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             array_to_string(list_slice({{toks}}, 11, 40), ' ') AS text
      FROM documents
      WHERE doc_id % 25 = 0 AND len({{toks}}) >= 40)
"""


@register(
    "dedup_dup_passages",
    survey_ref=(
        "[EXT] duplicated-passage spans (substring dedup, Lee et al. "
        "2022): maximal runs of 10-gram positions shared with another "
        "document, merged gaps-and-islands style into (start, length) "
        "spans — localizes WHAT to cut where block dedup only flags"
    ),
    oracle="WITH "
    + _FRAG_SQL.format(toks=_TOKS_SQL)
    + f""",
    base AS (SELECT doc_id, {_TOKS_SQL} AS toks
             FROM fragged),
    sh0 AS (SELECT doc_id, toks, unnest(range(len(toks) - 9)) AS pos
            FROM base WHERE len(toks) >= 10),
    sh AS (SELECT doc_id, pos,
                  array_to_string(list_slice(toks, pos + 1, pos + 10), ' ')
                    AS gram
           FROM sh0),
    multi AS (SELECT gram FROM sh GROUP BY gram
              HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT s.doc_id, s.pos FROM sh s JOIN multi USING (gram)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM dup)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_tokens,
           count(*) AS n_grams
    FROM isl GROUP BY doc_id, grp
    """,
)
def dedup_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated passages over a corpus with
    planted middle-slice fragments: each fragmented original reports
    one island at span_start 10 / span_tokens 30, the fragment doc
    reports its full extent, and organic 10-gram collisions surface as
    short spans. See ``dedup.duplicated_passage_spans`` for the
    gram-shuffle + islands plan; this is the operator substring-level
    dedup pipelines run where block-level (dedup_spans) merely flags."""
    d = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    frags = d.filter((F.col("doc_id") % 25 == 0) & (F.size(toks) >= 40)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(toks, 11, 30), " ").alias("text"),
    )
    corpus = scale_out(d.select("doc_id", "text").unionByName(frags))
    return dedup.duplicated_passage_spans(corpus, "doc_id", "text", n=10)


@register(
    "graph_link_prediction",
    survey_ref=(
        "[EXT] neighborhood link prediction (Liben-Nowell & Kleinberg "
        "2003): common-neighbor / Adamic-Adar / neighbor-Jaccard "
        "scores for every 2-hop pair, generated AT the shared "
        "neighbor (wedge fan-out, never all-pairs); complements "
        "graph_negative_edges' sampled training set with the "
        "classical scoring side"
    ),
    oracle=f"""
    WITH e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_LPA_N} AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_LPA_N} FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e0 WHERE src <> dst),
    adj AS (SELECT u AS z, v AS nb FROM und
            UNION ALL SELECT v, u FROM und),
    deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY z),
    pairs AS (
      SELECT a1.nb AS i, a2.nb AS j,
             CAST(round(1.0 / ln(d.deg), 6) AS DECIMAL(18,6)) AS aa_term
      FROM adj a1
      JOIN adj a2 ON a1.z = a2.z AND a1.nb < a2.nb
      JOIN deg d ON d.z = a1.z),
    sc AS (SELECT i, j, count(*) AS common_neighbors, sum(aa_term) AS aa
           FROM pairs GROUP BY i, j)
    SELECT sc.i, sc.j,
           CAST(sc.common_neighbors AS BIGINT) AS common_neighbors,
           round(CAST(sc.aa AS DOUBLE), 6) AS adamic_adar,
           round(CAST(sc.common_neighbors AS DOUBLE)
                 / (di.deg + dj.deg - sc.common_neighbors), 6) AS jaccard,
           COALESCE(e.ef, FALSE) AS is_edge
    FROM sc
    JOIN deg di ON di.z = sc.i
    JOIN deg dj ON dj.z = sc.j
    LEFT JOIN (SELECT u, v, TRUE AS ef FROM und) e
      ON e.u = sc.i AND e.v = sc.j
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores over the synthetic link graph: every
    node pair with a common neighbor gets common-neighbor,
    Adamic-Adar, and neighbor-Jaccard scores plus an is_edge flag —
    ranking the high-score non-edges IS the prediction
    (graph_negative_edges supplies the matching negative training
    sample; this supplies the classical feature/score side). See
    ``graph.link_prediction_scores`` for the wedge-bounded plan."""
    from shippai_knowledge_etl_spark.operators.graph import (
        link_prediction_scores,
    )

    return link_prediction_scores(_link_graph(spark, sf_dir)[2])


@register(
    "dedup_cdc_chunks",
    survey_ref=(
        "[EXT] content-defined chunking dedup (Rabin/FastCDC family, "
        "token-level): chunk boundaries where a token's hash ≡ 0 "
        "(mod 16), so boundaries move WITH the content — a prepended "
        "edit shifts every fixed block (dedup_spans finds nothing) "
        "but re-synchronizes CDC at the first boundary; chunk "
        "fingerprints then dedup across docs like exact dedup"
    ),
    oracle=f"""
    WITH shifted AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 300000 AS doc_id,
             'prefix alpha beta ' || text AS text
      FROM documents WHERE doc_id % 25 = 0),
    base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM shifted),
    ex AS (SELECT doc_id, unnest(toks) AS tok,
                  unnest(range(len(toks))) AS pos FROM base),
    fl AS (SELECT doc_id, pos, tok,
                  CASE WHEN CAST('0x' || substring(md5(tok || ':cdc'),
                       1, 4) AS INT) % 16 = 0 THEN 1 ELSE 0 END AS b
           FROM ex),
    ch AS (SELECT doc_id, pos, tok,
                  sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
           FROM fl),
    chunks AS (
      SELECT doc_id, chunk, count(*) AS n_toks,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
      FROM ch GROUP BY doc_id, chunk),
    fps AS (SELECT fp, count(DISTINCT doc_id) AS nd
            FROM chunks GROUP BY fp)
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(c.n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(sum(CASE WHEN f.nd >= 2 THEN c.n_toks ELSE 0 END)
             AS BIGINT) AS n_dup_tokens
    FROM chunks c JOIN fps f USING (fp)
    GROUP BY c.doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup over a corpus with planted
    PREPENDED-edit variants (every 25th doc re-enters with 3 extra
    leading tokens, id + 300000). Fixed-width blocks all shift under
    a prepend — block dedup reports nothing — while CDC boundaries
    (token md5 ≡ 0 mod 16 → ~16-token expected chunks) re-synchronize
    at the first boundary after the edit, so the pair's chunks
    fingerprint-match from there on: the storage-dedup argument
    (Muthitacharoen et al. 2001 LBFS) applied to corpus text.

    Scale shape: one tokenize+posexplode pass; the running boundary
    count, the (doc, chunk) rollup (lambda-free sorted-struct text
    rebuild → md5 fingerprint), and the final per-doc rollup all ride
    ONE doc-keyed partitioning; the only other shuffle is the
    fingerprint-keyed distinct-doc count over chunk-sized rows (the
    exact-dedup class). Gate output is pure integers."""
    d = load(spark, sf_dir, "documents")
    planted = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(F.lit("prefix alpha beta "), F.col("text")).alias(
                "text"
            ),
        )
    )
    return dedup.cdc_chunk_profile(scale_out(planted), "doc_id", "text")


@register(
    "dedup_threshold_histogram",
    survey_ref=(
        "[EXT] dedup-threshold calibration: histogram of candidate-"
        "pair Jaccard similarities in INTEGER-DIVISION buckets "
        "(n_inter·10 // union — no float boundary can move a pair "
        "across a bucket edge) — the report that picks the dedup "
        "threshold BEFORE committing a corpus-wide delete"
    ),
    oracle=f"""
    WITH {_PLANTED_SQL},
    sh AS (
      SELECT doc_id, source AS block, unnest(list_distinct(sh0)) AS shingle
      FROM (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(0, len(toks) - 2),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
               ELSE [array_to_string(toks, ' ')] END AS sh0
        FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM planted))),
    counts AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b
        ON a.block = b.block AND a.shingle = b.shingle
           AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT n_inter * 10 // (ca.n_shingles + cb.n_shingles - n_inter)
               AS bucket
      FROM inter
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b)
    SELECT CAST(bucket AS INT) AS sim_decile,
           count(*) AS n_pairs
    FROM pairs GROUP BY bucket
    """,
)
def dedup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of candidate-pair similarity over the planted
    corpus, bucketed by Jaccard decile — the calibration report run
    BEFORE choosing a dedup threshold (where does the organic-pair
    mass end and the duplicate mass begin). Buckets come from pure
    integer division (n_inter·10 // union-size), so a pair can never
    straddle a bucket edge differently across engines — the float
    form floor(j·10) can, exactly at the decile boundaries.

    Scale shape: identical single-pass blocked-shingle machinery as
    dedup_ngram_jaccard (one shingle evaluation, owner lists, i<j
    pairs) with NO similarity threshold — every candidate pair lands
    in a bucket — then a ≤10-key count; the histogram is the
    mergeable-sketch class (one map-side-combined agg)."""
    d = scale_out(documents_with_planted_dups(spark, sf_dir))
    pairs = dedup.jaccard_pairs(
        d, "doc_id", "text", "source", threshold=0.0
    )
    return (
        pairs.select(
            F.expr("n_inter * 10 div (n_a + n_b - n_inter)")
            .cast("int")
            .alias("sim_decile")
        )
        .groupBy("sim_decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "dedup_savings_report",
    survey_ref=(
        "[EXT] dedup cost/benefit summary: docs, bytes, and share "
        "removable by exact dedup over the planted corpus — the "
        "one-row report that justifies (or kills) running the heavier "
        "near-dup passes; pure rollup over the hash groups"
    ),
    oracle=f"""
    WITH {_PLANTED_SQL},
    g AS (
      SELECT doc_id, length(text) AS chars,
             min(doc_id) OVER (PARTITION BY text) AS canonical_id
      FROM planted)
    SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dup_docs,
           CAST(sum(chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN doc_id <> canonical_id THEN chars ELSE 0 END)
             AS BIGINT) AS chars_removable,
           round(CAST(sum(CASE WHEN doc_id <> canonical_id
                          THEN chars ELSE 0 END) AS DOUBLE)
                 / sum(chars), 6) AS savings_frac
    FROM g
    """,
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row that answers "is dedup worth running here": document
    and character counts removable by exact dedup (keep the min-id
    canonical per content group). Production flow: run THIS cheap
    report on a sample first; a high savings fraction justifies the
    heavier near-dup passes (minhash/CDC/substring), a near-zero one
    kills them. Sizes are CHARACTER counts on purpose: DuckDB
    ``strlen`` is bytes while Spark ``length`` is characters — equal
    on this ASCII corpus but silently divergent on any multibyte one,
    so the contract pins the unit both engines define identically.
    Exact integer sums; one rounded division.

    Scale shape: the exact-dedup hash-group window (one sha2-class
    shuffle — here the oracle's text-partition ground-truth form)
    followed by a map-side-combinable global rollup; lengths ride the
    shuffle as longs."""
    df = documents_with_planted_dups(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("text")
    g = df.select(
        "doc_id",
        F.length("text").alias("chars"),
        F.min("doc_id").over(w).alias("canonical_id"),
    )
    dup = F.col("doc_id") != F.col("canonical_id")
    return g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(dup.cast("int")).cast("long").alias("n_dup_docs"),
        F.sum("chars").cast("long").alias("chars_total"),
        F.sum(F.when(dup, F.col("chars")).otherwise(0))
        .cast("long")
        .alias("chars_removable"),
        F.round(
            F.sum(F.when(dup, F.col("chars")).otherwise(0)).cast("double")
            / F.sum("chars"),
            6,
        ).alias("savings_frac"),
    )


@register(
    "dedup_blocking_eval",
    survey_ref=(
        "[EXT] blocking-quality evaluation (pair completeness + "
        "reduction ratio, the Christen 2012 blocking metrics): does "
        "the source-block + shared-shingle candidate generation find "
        "every true duplicate pair, and how many of the O(N^2) pairs "
        "did it never have to score — the report you run BEFORE "
        "trusting any blocked dedup at 100 TB"
    ),
    oracle=f"""
    WITH {_PLANTED_SQL},
    sh AS (
      SELECT doc_id, source AS block, unnest(list_distinct(sh0)) AS shingle
      FROM (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(0, len(toks) - 2),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
               ELSE [array_to_string(toks, ' ')] END AS sh0
        FROM (SELECT doc_id, source,
                     list_filter(str_split(trim(regexp_replace(
                       lower(text), '[^\\p{{L}}\\p{{Nd}}]+', ' ', 'g')), ' '),
                       x -> x <> '') AS toks
              FROM planted))),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b
        ON a.block = b.block AND a.shingle = b.shingle
           AND a.doc_id < b.doc_id),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM planted a JOIN planted b
        ON a.text = b.text AND a.doc_id < b.doc_id),
    n AS (SELECT count(*) AS n_docs FROM planted),
    m AS (
      SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM truth t
              JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
               AS n_found)
    SELECT CAST(n.n_docs AS BIGINT) AS n_docs,
           CAST(m.n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(m.n_candidates AS BIGINT) AS n_candidates,
           CAST(m.n_found AS BIGINT) AS n_found,
           round(CAST(m.n_found AS DOUBLE) / m.n_true_pairs, 6)
             AS pair_completeness,
           round(1 - CAST(2 * m.n_candidates AS DOUBLE)
                     / CAST(n.n_docs * (n.n_docs - 1) AS DOUBLE), 6)
             AS reduction_ratio
    FROM n, m
    """,
)
def dedup_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking quality report for the catalog's candidate-generation
    scheme (source block + >=1 shared 3-gram shingle, the
    dedup.jaccard_pairs machinery at threshold 0): PAIR COMPLETENESS
    (found true pairs / all true pairs, truth = exact-text equality —
    the planted copies plus any organic twins) and REDUCTION RATIO
    (1 - candidates / C(N,2) — the fraction of the quadratic pair
    space the blocking never scores). The eval loop every blocked
    dedup needs before a corpus-wide delete: completeness < 1 means
    real duplicates cross blocks (here: same text under different
    sources), and reduction ~1 is WHY blocking scales where all-pairs
    cannot.

    Scale shape: candidates reuse the single-pass owner-list expansion
    (never a corpus self-join); truth pairs join on the sha2 content
    hash (group sizes are duplicate-class sizes, tiny); the four
    grand totals are 1-row aggregates crossJoined for the two gate
    divisions (allowlisted 1-row stats class)."""
    df = documents_with_planted_dups(spark, sf_dir)
    cand = dedup.jaccard_pairs(
        df, "doc_id", "text", "source", threshold=0.0
    ).select("id_a", "id_b")
    h = df.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
    truth = (
        h.select(F.col("doc_id").alias("id_a"), "h")
        .join(h.select(F.col("doc_id").alias("id_b"), "h"), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    nd = df.agg(F.count(F.lit(1)).alias("n_docs"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nf = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    row = (
        nd.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nf))
    )
    return row.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_found").cast("long").alias("n_found"),
        F.round(
            F.col("n_found").cast("double") / F.col("n_true_pairs"), 6
        ).alias("pair_completeness"),
        F.round(
            F.lit(1)
            - (F.lit(2) * F.col("n_candidates")).cast("double")
            / (F.col("n_docs") * (F.col("n_docs") - 1)).cast("double"),
            6,
        ).alias("reduction_ratio"),
    )


@register(
    "dedup_fellegi_sunter",
    survey_ref=(
        "[EXT] Fellegi-Sunter record-linkage scoring (1969; the "
        "probabilistic ER canon behind Splink/dedupe.io): per-field "
        "m/u probabilities estimated from the labeled candidate set, "
        "agreement/disagreement log-weights (rounded-6 ln, computed "
        "ONCE on 1-row stats), per-pair score = fixed-order 3-term "
        "sum — the decision scores a match threshold is set on"
    ),
    oracle=f"""
    WITH {_PLANTED_SQL},
    sh AS (
      SELECT doc_id, source AS block, unnest(list_distinct(sh0)) AS shingle
      FROM (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(0, len(toks) - 2),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
               ELSE [array_to_string(toks, ' ')] END AS sh0
        FROM (SELECT doc_id, source,
                     list_filter(str_split(trim(regexp_replace(
                       lower(text), '[^\\p{{L}}\\p{{Nd}}]+', ' ', 'g')), ' '),
                       x -> x <> '') AS toks
              FROM planted))),
    counts AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b
        ON a.block = b.block AND a.shingle = b.shingle
           AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    cand AS (
      SELECT id_a, id_b, n_inter,
             ca.n_shingles AS n_a, cb.n_shingles AS n_b
      FROM inter
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b),
    hx AS (SELECT doc_id, md5(text) AS h FROM planted),
    lab AS (
      SELECT c.*,
             (ha.h = hb.h) AS is_match,
             (10 * abs(c.n_a - c.n_b) <= least(c.n_a, c.n_b)) AS agr_len,
             (c.n_a = c.n_b) AS agr_eq,
             (2 * c.n_inter >= c.n_a) AS agr_sim
      FROM cand c
      JOIN hx ha ON ha.doc_id = c.id_a
      JOIN hx hb ON hb.doc_id = c.id_b),
    mu AS (
      SELECT sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS nm,
             sum(CASE WHEN is_match THEN 0 ELSE 1 END) AS nu,
             sum(CASE WHEN is_match AND agr_len THEN 1 ELSE 0 END) AS m1,
             sum(CASE WHEN NOT is_match AND agr_len THEN 1 ELSE 0 END) AS u1,
             sum(CASE WHEN is_match AND agr_eq THEN 1 ELSE 0 END) AS m2,
             sum(CASE WHEN NOT is_match AND agr_eq THEN 1 ELSE 0 END) AS u2,
             sum(CASE WHEN is_match AND agr_sim THEN 1 ELSE 0 END) AS m3,
             sum(CASE WHEN NOT is_match AND agr_sim THEN 1 ELSE 0 END) AS u3
      FROM lab),
    w AS (
      SELECT
        round(ln((CAST(m1 + 1 AS DOUBLE) / (nm + 2))
                 / (CAST(u1 + 1 AS DOUBLE) / (nu + 2))), 6) AS wa1,
        round(ln((1 - CAST(m1 + 1 AS DOUBLE) / (nm + 2))
                 / (1 - CAST(u1 + 1 AS DOUBLE) / (nu + 2))), 6) AS wd1,
        round(ln((CAST(m2 + 1 AS DOUBLE) / (nm + 2))
                 / (CAST(u2 + 1 AS DOUBLE) / (nu + 2))), 6) AS wa2,
        round(ln((1 - CAST(m2 + 1 AS DOUBLE) / (nm + 2))
                 / (1 - CAST(u2 + 1 AS DOUBLE) / (nu + 2))), 6) AS wd2,
        round(ln((CAST(m3 + 1 AS DOUBLE) / (nm + 2))
                 / (CAST(u3 + 1 AS DOUBLE) / (nu + 2))), 6) AS wa3,
        round(ln((1 - CAST(m3 + 1 AS DOUBLE) / (nm + 2))
                 / (1 - CAST(u3 + 1 AS DOUBLE) / (nu + 2))), 6) AS wd3
      FROM mu)
    SELECT l.id_a, l.id_b, l.is_match, l.agr_len, l.agr_eq, l.agr_sim,
           round((CASE WHEN l.agr_len THEN w.wa1 ELSE w.wd1 END
                  + CASE WHEN l.agr_eq THEN w.wa2 ELSE w.wd2 END)
                 + CASE WHEN l.agr_sim THEN w.wa3 ELSE w.wd3 END,
                 6) AS score
    FROM lab l, w
    """,
)
def dedup_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over the blocked candidate
    pairs: three deterministic agreement fields (shingle counts within
    10%, exactly equal, containment >= 1/2), per-field m/u rates
    estimated from the exact-text truth labels with Laplace smoothing
    (integer counts), and the classic agreement/disagreement weights
    ln(m/u) / ln((1-m)/(1-u)) — rounded 6 ONCE on the 1-row stats, so
    the per-pair score is a fixed-order sum of three pre-rounded
    doubles (identical both engines; never a cross-row float sum).
    Scores separate: planted duplicates land at the positive weight
    sum, organic pairs at the negative — the distribution a linkage
    threshold (and Splink-style EM refinement) is set on.

    Scale shape: candidates come from the owner-list blocking pass
    (never all-pairs); the truth join is content-hash keyed; m/u is
    ONE 1-row aggregate broadcast back (allowlisted); scoring is a
    per-row CASE expression."""
    df = documents_with_planted_dups(spark, sf_dir)
    cand = dedup.jaccard_pairs(
        df, "doc_id", "text", "source", threshold=0.0
    ).select("id_a", "id_b", "n_inter", "n_a", "n_b")
    hx = df.select("doc_id", F.md5(F.col("text")).alias("h"))
    lab = (
        cand.join(
            hx.select(F.col("doc_id").alias("id_a"), F.col("h").alias("ha")),
            "id_a",
        )
        .join(
            hx.select(F.col("doc_id").alias("id_b"), F.col("h").alias("hb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (F.col("ha") == F.col("hb")).alias("is_match"),
            (
                10 * F.abs(F.col("n_a") - F.col("n_b"))
                <= F.least("n_a", "n_b")
            ).alias("agr_len"),
            (F.col("n_a") == F.col("n_b")).alias("agr_eq"),
            (2 * F.col("n_inter") >= F.col("n_a")).alias("agr_sim"),
        )
    )
    mu = lab.agg(
        F.sum(F.col("is_match").cast("int")).alias("nm"),
        F.sum((~F.col("is_match")).cast("int")).alias("nu"),
        *[
            F.sum((F.col("is_match") & F.col(c)).cast("int")).alias(f"m{i}")
            for i, c in enumerate(
                ("agr_len", "agr_eq", "agr_sim"), start=1
            )
        ],
        *[
            F.sum((~F.col("is_match") & F.col(c)).cast("int")).alias(
                f"u{i}"
            )
            for i, c in enumerate(
                ("agr_len", "agr_eq", "agr_sim"), start=1
            )
        ],
    )

    def wcols():
        out = []
        for i in (1, 2, 3):
            m = (F.col(f"m{i}") + 1).cast("double") / (F.col("nm") + 2)
            u = (F.col(f"u{i}") + 1).cast("double") / (F.col("nu") + 2)
            out.append(F.round(F.log(m / u), 6).alias(f"wa{i}"))
            out.append(
                F.round(F.log((1 - m) / (1 - u)), 6).alias(f"wd{i}")
            )
        return out

    w = mu.select(*wcols())
    score = F.round(
        (
            F.when(F.col("agr_len"), F.col("wa1")).otherwise(F.col("wd1"))
            + F.when(F.col("agr_eq"), F.col("wa2")).otherwise(F.col("wd2"))
        )
        + F.when(F.col("agr_sim"), F.col("wa3")).otherwise(F.col("wd3")),
        6,
    )
    return lab.crossJoin(F.broadcast(w)).select(
        "id_a",
        "id_b",
        "is_match",
        "agr_len",
        "agr_eq",
        "agr_sim",
        score.alias("score"),
    )


_PPR_STEP = """
    pc{i} AS (
      SELECT e.dst, sum(r.r // o.outdeg) AS inflow
      FROM edges e JOIN outdeg o USING (src) JOIN pr{p} r ON r.id = e.src
      GROUP BY e.dst),
    pr{i} AS (
      SELECT nodes.id,
             CASE WHEN nodes.id % 50 = 0
                  THEN ((1000000000000 // {s}) * 15) // 100
                  ELSE 0 END
               + (85 * COALESCE(pc{i}.inflow, 0)) // 100 AS r
      FROM nodes LEFT JOIN pc{i} ON pc{i}.dst = nodes.id)
"""

_PPR_S = "(SELECT count(*) FROM documents WHERE doc_id % 50 = 0)"


@register(
    "graph_personalized_pagerank",
    survey_ref=(
        "[EXT] personalized / topic-sensitive PageRank (Haveliwala "
        "2002): teleport mass returns ONLY to the seed set, so ranks "
        "measure proximity-to-seeds (recommendation / related-items / "
        "crawl-focus) instead of global centrality; same "
        "scaled-integer exactly-checkable rounds as graph_pagerank"
    ),
    oracle=(
        "WITH "
        + _PR_EDGES
        + ", pr0 AS (SELECT id, CASE WHEN id % 50 = 0 THEN "
        + "1000000000000 // "
        + _PPR_S
        + " ELSE 0 END AS r FROM nodes),"
        + ",".join(
            _PPR_STEP.format(i=i, p=i - 1, s=_PPR_S) for i in (1, 2, 3)
        )
        + " SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_scaled"
        + " FROM pr3"
    ),
)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """3-iteration personalized PageRank over the same deterministic
    synthetic link graph as ``graph_pagerank``, seeded at every 50th
    doc: the teleport CASE makes non-seed ranks pure link-inherited
    mass, so high-ranked non-seeds are the graph's
    'related-to-the-seeds' answer — what a recommender or a focused
    crawler actually consumes. The oracle unrolls the identical three
    seeded rounds as CTEs (the graph_pagerank discipline: iterative
    Spark vs declarative SQL, bit-exact through scaled-integer floor
    arithmetic). Scale shape in
    ``operators/graph.py:personalized_pagerank``: seed membership is a
    broadcast flag, everything else identical to pagerank's one
    dst-keyed shuffle per round."""
    from shippai_knowledge_etl_spark.operators.graph import (
        personalized_pagerank,
    )

    d, n, edges = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    seeds = nodes.filter(F.col("id") % 50 == 0)
    # |S| in closed form: seeds are ids {0, 50, 100, ...} < n, so
    # ceil(n/50) — no second sizing action beyond the demo-graph count
    ranks = personalized_pagerank(
        nodes, edges, seeds, n_iters=3, n_seeds=(n + 49) // 50
    )
    return ranks.select(
        F.col("id").alias("doc_id"), F.col("rank_scaled").cast("long")
    )


# one BFS min-dist round: previous state unioned with its neighbors at
# dist+1, re-minimized per (seed, node) — multi_source_bfs unrolled
# (see operators/graph.py:multi_source_bfs)
_BFS_STEP = """
    h{i} AS (
      SELECT seed, node, min(dist) AS dist FROM (
        SELECT seed, node, dist FROM h{p}
        UNION ALL
        SELECT h.seed, a.b, h.dist + 1 FROM h{p} h
        JOIN adj a ON a.a = h.node)
      GROUP BY seed, node)
"""


@register(
    "graph_bfs_closeness",
    survey_ref=(
        "[EXT] landmark BFS centrality (Eppstein–Wang 2004 sampling "
        "estimator): exact min-dist from every 50th node as seed, 3 "
        "level-synchronous rounds unrolled as oracle CTEs (the "
        "pagerank/k-core convention); closeness reported as integer "
        "sum_dist and harmonic centrality as the EXACT ×6-scaled "
        "integer sum (dist 1→6, 2→3, 3→2) — no cross-row double sum"
    ),
    oracle=(
        f"""
    WITH e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % {_LPA_N} AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % {_LPA_N} FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e0 WHERE src <> dst),
    adj AS (SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v, u FROM und),
    h0 AS (
      SELECT doc_id AS seed, doc_id AS node, 0 AS dist
      FROM documents WHERE doc_id % 50 = 0),
    """
        + ",".join(_BFS_STEP.format(i=i, p=i - 1) for i in (1, 2, 3))
        + """
    SELECT d.doc_id,
           CAST(count(h.seed) AS BIGINT) AS n_seeds_reached,
           CAST(coalesce(sum(h.dist), 0) AS BIGINT) AS sum_dist,
           CAST(coalesce(sum(CASE h.dist WHEN 1 THEN 6 WHEN 2 THEN 3
                             WHEN 3 THEN 2 ELSE 0 END), 0) AS BIGINT)
             AS harmonic_x6
    FROM documents d
    LEFT JOIN h3 h ON h.node = d.doc_id
    GROUP BY d.doc_id
    """
    ),
)
def graph_bfs_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled centrality over the synthetic link graph:
    exact BFS distances from every 50th node (the landmark sample),
    horizon 3 hops, then per node the number of landmarks reached, the
    integer distance sum (closeness numerator) and harmonic centrality
    as the exact ×6-scaled integer sum — 6/dist is integral for every
    dist in the horizon, so the usual Σ 1/d float sum (order-dependent
    across rows, a hash-gate hazard) becomes pure BIGINT arithmetic.

    Scale shape: see operators/graph.py:multi_source_bfs — state rows
    are bounded by |landmarks|·|nodes| with |landmarks| an O(1)
    sample; each round is one node-keyed join + one (seed, node)-keyed
    min, lineage truncated per round. The final rollup is one
    node-keyed aggregate."""
    from shippai_knowledge_etl_spark.operators.graph import multi_source_bfs

    d, _, edges = _link_graph(spark, sf_dir)
    i = F.col("doc_id")
    seeds = d.filter(i % 50 == 0).select(i.alias("seed"))
    dists = multi_source_bfs(edges, seeds, n_rounds=3)
    per_node = dists.groupBy("node").agg(
        F.count("seed").alias("n_seeds_reached"),
        F.sum("dist").alias("sum_dist"),
        F.sum(
            F.when(F.col("dist") == 1, 6)
            .when(F.col("dist") == 2, 3)
            .when(F.col("dist") == 3, 2)
            .otherwise(0)
        ).alias("harmonic_x6"),
    )
    return (
        d.select("doc_id")
        .join(per_node, d["doc_id"] == per_node["node"], "left")
        .select(
            "doc_id",
            F.coalesce("n_seeds_reached", F.lit(0))
            .cast("long")
            .alias("n_seeds_reached"),
            F.coalesce("sum_dist", F.lit(0)).cast("long").alias("sum_dist"),
            F.coalesce("harmonic_x6", F.lit(0)).cast("long").alias("harmonic_x6"),
        )
    )


@register(
    "graph_modularity",
    survey_ref=(
        "[EXT] Newman modularity scoring of a community partition "
        "(Newman & Girvan 2004): Q = Σ_c [e_c/m − (D_c/2m)²] put over "
        "the common denominator 4m² so every per-community term is the "
        "exact BIGINT 4m·e_c − D_c² — the quality metric that judges "
        "ANY community assignment (label propagation, Louvain rounds, "
        "a sharding plan) with one edge-keyed pass; here scored "
        "against the arithmetic partition community = node mod 8"
    ),
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT n FROM n) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id AS src, (doc_id * 13 + 2) % (SELECT n FROM n) AS dst
      FROM documents),
    e AS (SELECT src, dst FROM edges WHERE src <> dst),
    m AS (SELECT count(*) AS m FROM e),
    degs AS (
      SELECT node, count(*) AS deg FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
      GROUP BY node),
    comm AS (
      SELECT node, deg, node % 8 AS community FROM degs),
    dsum AS (
      SELECT community, count(*) AS n_nodes, sum(deg) AS deg_sum
      FROM comm GROUP BY community),
    ein AS (
      SELECT src % 8 AS community, count(*) AS e_in
      FROM e WHERE src % 8 = dst % 8
      GROUP BY src % 8),
    rows_ AS (
      SELECT d.community, d.n_nodes,
             coalesce(ei.e_in, 0) AS e_in, d.deg_sum,
             4 * mm.m * coalesce(ei.e_in, 0) - d.deg_sum * d.deg_sum
               AS contrib_x4m2,
             mm.m AS m
      FROM dsum d
      LEFT JOIN ein ei USING (community)
      CROSS JOIN m mm)
    SELECT CAST(community AS BIGINT) AS community,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(e_in AS BIGINT) AS e_in,
           CAST(deg_sum AS BIGINT) AS deg_sum,
           CAST(contrib_x4m2 AS BIGINT) AS contrib_x4m2,
           round(CAST(contrib_x4m2 AS DOUBLE) / (4 * m * m), 6)
             AS q_contribution
    FROM rows_
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity decomposition of the synthetic link graph under the
    node-mod-8 partition: per community, the within-community edge
    count e_c, the degree mass D_c, and the exact integer numerator
    4m·e_c − D_c² of its modularity contribution (Q itself is the sum
    of the round-6 contributions — kept per-community so the gate
    checks the decomposition, not just the scalar). Every quantity is
    an exact BIGINT; the one float op is the final identically-ordered
    division by 4m². This is the scoring half of community detection —
    the fixpoint loops (label propagation, k-core, PageRank variants)
    are witnessed elsewhere; what was missing is the metric that
    decides whether any of their outputs is good.

    Scale shape: one edge scan builds degrees (a node-keyed rollup)
    and within-community counts (the same scan, community keys from
    pure arithmetic); everything downstream lives on the |communities|
    grid with a 1-row m broadcast. At 100 TB: two linear shuffles of
    (node)/(community) keys, no pairs, no iteration."""
    edges = _link_graph(spark, sf_dir)[2].filter(
        F.col("src") != F.col("dst")
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    degs = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dsum = degs.groupBy((F.col("node") % 8).alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("deg").alias("deg_sum")
    )
    ein = (
        edges.filter(F.col("src") % 8 == F.col("dst") % 8)
        .groupBy((F.col("src") % 8).alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    rows = (
        dsum.join(ein, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            "deg_sum",
        )
        .crossJoin(F.broadcast(m))
    )
    contrib = (
        F.lit(4) * F.col("m") * F.col("e_in")
        - F.col("deg_sum") * F.col("deg_sum")
    )
    return rows.select(
        F.col("community").cast("long").alias("community"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("e_in").cast("long").alias("e_in"),
        F.col("deg_sum").cast("long").alias("deg_sum"),
        contrib.cast("long").alias("contrib_x4m2"),
        F.round(
            contrib.cast("double") / (F.lit(4) * F.col("m") * F.col("m")), 6
        ).alias("q_contribution"),
    )


@register(
    "graph_random_walks",
    survey_ref=(
        "[EXT] deterministic random-walk corpus generation (Perozzi et "
        "al. 2014 DeepWalk / Grover & Leskovec 2016 node2vec — the "
        "sampling pass that feeds graph-embedding training): one walk "
        "of four steps from EVERY node, the step choice drawn from "
        "salted md5 of (position, step) mod out-degree — hash "
        "randomness, so both engines walk the identical paths and the "
        "md5 path fingerprint is hash-gated end to end; the walk "
        "advances by four bounded adjacency joins, never a collect"
    ),
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM documents),
    e0 AS (
      SELECT doc_id AS src,
             CASE WHEN (doc_id * 7 + 1) % (SELECT n FROM n) = doc_id
                  THEN (doc_id + 1) % (SELECT n FROM n)
                  ELSE (doc_id * 7 + 1) % (SELECT n FROM n) END AS dst
      FROM documents
      UNION ALL
      SELECT doc_id AS src,
             CASE WHEN (doc_id * 13 + 2) % (SELECT n FROM n) = doc_id
                  THEN (doc_id + 2) % (SELECT n FROM n)
                  ELSE (doc_id * 13 + 2) % (SELECT n FROM n) END AS dst
      FROM documents),
    adj AS (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk
      FROM e0),
    deg AS (SELECT src, count(*) AS d FROM adj GROUP BY src),
    w0 AS (
      SELECT doc_id AS start, doc_id AS pos,
             CAST(doc_id AS VARCHAR) AS path
      FROM documents),
    w1 AS (
      SELECT w.start, a.dst AS pos, w.path || '->' || a.dst AS path
      FROM w0 w
      JOIN deg g ON g.src = w.pos
      JOIN adj a ON a.src = w.pos
       AND a.rnk = 1 + CAST('0x' || substring(
             md5(CAST(w.pos AS VARCHAR) || ':0:walk'), 1, 13) AS BIGINT)
             % g.d),
    w2 AS (
      SELECT w.start, a.dst AS pos, w.path || '->' || a.dst AS path
      FROM w1 w
      JOIN deg g ON g.src = w.pos
      JOIN adj a ON a.src = w.pos
       AND a.rnk = 1 + CAST('0x' || substring(
             md5(CAST(w.pos AS VARCHAR) || ':1:walk'), 1, 13) AS BIGINT)
             % g.d),
    w3 AS (
      SELECT w.start, a.dst AS pos, w.path || '->' || a.dst AS path
      FROM w2 w
      JOIN deg g ON g.src = w.pos
      JOIN adj a ON a.src = w.pos
       AND a.rnk = 1 + CAST('0x' || substring(
             md5(CAST(w.pos AS VARCHAR) || ':2:walk'), 1, 13) AS BIGINT)
             % g.d),
    w4 AS (
      SELECT w.start, a.dst AS pos, w.path || '->' || a.dst AS path
      FROM w3 w
      JOIN deg g ON g.src = w.pos
      JOIN adj a ON a.src = w.pos
       AND a.rnk = 1 + CAST('0x' || substring(
             md5(CAST(w.pos AS VARCHAR) || ':3:walk'), 1, 13) AS BIGINT)
             % g.d)
    SELECT start AS start_node,
           CAST(pos AS BIGINT) AS final_node,
           md5(path) AS path_fp
    FROM w4
    """,
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One 4-step walk from every node of the (self-loop-repaired)
    synthetic link graph, with hash randomness: at step t from node p
    the chosen out-edge rank is 1 + int(md5(p‖':t:walk')[:13 hex]) mod
    deg(p) — deterministic, unbiased across nodes, and identical on
    both engines, so the md5 fingerprint of the full path string is a
    value the gate can hash (the dedup_semantic_int8 move applied to
    stochastic graph sampling: replace the RNG with salted content
    hashing and the 'random' algorithm becomes oracle-checkable).

    Scale shape: the walk frontier is |nodes| rows advancing through
    four (pos = src)-keyed equi-joins against the ranked adjacency
    list + degree table — the standard distributed walk plan (one
    shuffle per step, frontier never grows); at 100 TB walk corpora
    this runs walks-per-node × steps joins of key-sized rows. No
    collect, no Python, no iteration state outside the frame."""
    d = load(spark, sf_dir, "documents")
    n = table_rowcount(sf_dir, "documents")
    i = F.col("doc_id")

    # not _link_graph: a self-loop is redirected to i + bump, not dropped
    def repaired(mult: int, add: int, bump: int):
        raw = (i * mult + add) % n
        return F.when(raw == i, (i + bump) % n).otherwise(raw)

    from pyspark.sql import Window as SqlWindow

    e0 = d.select(i.alias("src"), repaired(7, 1, 1).alias("dst")).unionAll(
        d.select(i.alias("src"), repaired(13, 2, 2).alias("dst"))
    )
    adj = e0.withColumn(
        "rnk",
        F.row_number().over(SqlWindow.partitionBy("src").orderBy("dst")),
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    walk = d.select(
        i.alias("start"),
        i.alias("pos"),
        i.cast("string").alias("path"),
    )

    def walk_step(walk: DataFrame, t: int) -> DataFrame:
        choice = F.lit(1) + F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("pos").cast("string"), F.lit(f":{t}:walk")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long") % F.col("d")
        return (
            walk.join(deg, deg["src"] == walk["pos"])
            .withColumn("choice", choice)
            .join(
                adj.select(
                    F.col("src").alias("a_src"),
                    F.col("rnk").alias("a_rnk"),
                    F.col("dst").alias("a_dst"),
                ),
                (F.col("a_src") == F.col("pos"))
                & (F.col("a_rnk") == F.col("choice")),
            )
            .select(
                "start",
                F.col("a_dst").alias("pos"),
                F.concat(
                    "path", F.lit("->"), F.col("a_dst").cast("string")
                ).alias("path"),
            )
        )

    # one cut at the end: per-step cuts lose the reuse of adj's and deg's
    # exchanges across steps (measured 1.64x slower at sf0.1)
    walk, _, _ = iterate(walk, walk_step, 4, checkpoint_every=4)
    return walk.select(
        F.col("start").alias("start_node"),
        F.col("pos").cast("long").alias("final_node"),
        F.md5("path").alias("path_fp"),
    )


_SSSP_INF = 10**15
_SSSP_ROUNDS = 20
# AS MATERIALIZED: each step references its predecessor twice (the
# relax subquery and the least() join); without materialization DuckDB
# inlines CTEs, so 20 chained steps expand 2^20 copies of s0 and the
# planner opens the parquet once per copy ("Too many open files")
_SSSP_STEP = """
    s{i} AS MATERIALIZED (
      SELECT n.id, least(s{p}.dist, COALESCE(m.relax, {inf})) AS dist
      FROM nodes n JOIN s{p} ON s{p}.id = n.id
      LEFT JOIN (SELECT e.dst, min(s.dist + e.w) AS relax
                 FROM edges e JOIN s{p} s ON s.id = e.src
                 WHERE s.dist < {inf}
                 GROUP BY e.dst) m ON m.dst = n.id)
"""


@register(
    "graph_sssp",
    survey_ref=(
        "[EXT] multi-source weighted shortest paths (round 12 — the "
        "first operator built ON the generic fixpoint loop, "
        "operators/fixpoint.py:iterate, VERDICT r11 item 8's named "
        "stretch): Bellman-Ford relaxation dist'(v) = min(dist(v), "
        "min over (u,v,w) of dist(u)+w) over the deterministic "
        "two-out-link graph with weights 1+(src+dst)%7 from seeds "
        "id%101==0; the Spark loop EARLY-EXITS at the fixpoint "
        "(unchanged-state probe) yet hash-matches an oracle that "
        "unrolls all 20 budget rounds as chained CTEs — monotone "
        "relaxation makes a converged run equal any larger budget, "
        "which is the property the fixpoint operator exists to "
        "exploit"
    ),
    oracle=(
        "WITH nodes AS (SELECT doc_id AS id FROM documents),\n"
        "e0 AS (\n"
        f"  SELECT doc_id AS src, (doc_id*7+1) % {_PR_N} AS dst"
        " FROM documents\n"
        "  UNION ALL\n"
        f"  SELECT doc_id, (doc_id*13+2) % {_PR_N} FROM documents),\n"
        "edges AS MATERIALIZED (SELECT src, dst, 1 + (src + dst) % 7 AS w"
        " FROM e0 WHERE src <> dst),\n"
        "s0 AS MATERIALIZED (SELECT id, CASE WHEN id % 101 = 0 THEN 0 ELSE "
        f"{_SSSP_INF} END AS dist FROM nodes),\n"
        + ",\n".join(
            _SSSP_STEP.format(i=i, p=i - 1, inf=_SSSP_INF)
            for i in range(1, _SSSP_ROUNDS + 1)
        )
        + f"""
    SELECT id AS doc_id,
           CAST(CASE WHEN dist >= {_SSSP_INF} THEN -1 ELSE dist END
                AS BIGINT) AS dist,
           dist < {_SSSP_INF} AS reached
    FROM s{_SSSP_ROUNDS}
    """
    ),
)
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP to the FIXPOINT: the catalog's iterative graph
    loops all run a fixed oracle-matched budget; this one runs the
    generic ``iterate`` loop with a convergence probe and stops the
    round nothing relaxes (~12 rounds on this corpus, under the
    20-round budget the oracle unrolls), proving the engine's
    recursive-CTE-class semantics — terminate-on-fixpoint — not just
    bounded unrolling. Distances are exact integers; unreachable
    nodes surface as dist -1, reached false.

    Scale shape (operators/graph.py:shortest_paths): per round one
    src-keyed equi-join of the persisted weighted edges against the
    reachable state + one dst-keyed min with map-side partials; the
    convergence probe is a bounded exceptAll().limit(1) action — the
    pagerank_until sanctioned class. State is 2 longs per node;
    lineage localCheckpoint-truncated each round."""
    from shippai_knowledge_etl_spark.operators.graph import shortest_paths

    d, _, e0 = _link_graph(spark, sf_dir)
    nodes = d.select(F.col("doc_id").alias("id"))
    edges = e0.filter(F.col("src") != F.col("dst")).select(
        "src", "dst", (1 + (F.col("src") + F.col("dst")) % 7).alias("w")
    )
    seeds = nodes.filter(F.col("id") % 101 == 0)
    dist, _rounds = shortest_paths(nodes, edges, seeds, _SSSP_ROUNDS)
    inf = F.lit(_SSSP_INF)
    return dist.select(
        F.col("id").alias("doc_id"),
        F.when(F.col("dist") >= inf, F.lit(-1))
        .otherwise(F.col("dist"))
        .cast("long")
        .alias("dist"),
        (F.col("dist") < inf).alias("reached"),
    )


@register(
    "dedup_sorted_neighborhood",
    survey_ref=(
        "[EXT] sorted-neighborhood dedup (round 12 — Hernandez & "
        "Stolfo 1995, the SORT-based candidate generator beside the "
        "family's hash blocking, LSH banding and prefix filtering): "
        "docs ranked by a 16-char sort key, candidates = pairs within "
        "window w=2 of the sorted order (generated as an EQUI-join on "
        "rank+gap, never an inequality self-join), then exact "
        "token-set Jaccard through the relational gram-keyed spine "
        "(distinct-token explode + pair-token equi-joins — the "
        "lambda-free dedup_ngram_jaccard idiom, no HOFs); rank gaps, "
        "intersection/union sizes and integer jaccard_pct all gated"
    ),
    oracle="""
    WITH r AS (
      SELECT doc_id, text,
             row_number() OVER (ORDER BY substr(text, 1, 16), doc_id)
               AS rnk
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             g.g AS rank_gap
      FROM r a
      CROSS JOIN (SELECT unnest([1, 2]) AS g) g
      JOIN r b ON b.rnk = a.rnk + g.g),
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, count(*) AS ni
      FROM pairs p
      JOIN toks ta ON ta.doc_id = p.id_a
      JOIN toks tb ON tb.doc_id = p.id_b AND tb.tok = ta.tok
      GROUP BY p.id_a, p.id_b),
    out AS (
      SELECT p.id_a, p.id_b, p.rank_gap,
             COALESCE(i.ni, 0) AS n_inter,
             sa.n + sb.n - COALESCE(i.ni, 0) AS n_union
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b)
    SELECT id_a, id_b, CAST(rank_gap AS BIGINT) AS rank_gap,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_union AS BIGINT) AS n_union,
           CAST((100 * n_inter) // n_union AS BIGINT) AS jaccard_pct
    FROM out
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third candidate-generation geometry: hashing blocks on
    equality, LSH blocks on signature collisions — SNM blocks on
    ADJACENCY under a domain sort key, which catches near-dups whose
    difference sits exactly where a hash key would split them. The
    window-w pairing is an equi-join on (rank + gap), so the plan
    stays a bounded join, not an inequality blow-up; the verify stage
    is the family's exact relational Jaccard.

    Scale shape: ONE global sort of (key, id) — at 100 TB this is a
    range-partitioned sort (the Exchange rangepartitioning Spark
    already emits for orderBy) with ranks assigned per range + offset;
    the demo's row_number window is that plan's local[] form (plan
    gate carries the comment). Pair fan-out is exactly w·N — linear
    by construction, the property that made SNM the classic
    large-record-linkage algorithm."""
    from pyspark.sql import Window as SqlWindow

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    r = d.withColumn(
        "rnk",
        F.row_number().over(
            SqlWindow.orderBy(F.substring("text", 1, 16), "doc_id")
        ),
    ).select("doc_id", "rnk")
    # gap fan-out by explode, not a tiny crossJoin: same 2N rows,
    # zero join operators in the plan
    a = r.select(
        F.col("doc_id").alias("id_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("g"),
    )
    pairs = a.join(
        r.select(F.col("doc_id").alias("id_b"), F.col("rnk").alias("rnk_b")),
        F.col("rnk_b") == F.col("rnk_a") + F.col("g"),
    ).select("id_a", "id_b", F.col("g").alias("rank_gap"))
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(
            toks.select(F.col("doc_id").alias("id_a"), "tok"), "id_a"
        )
        .join(
            toks.select(F.col("doc_id").alias("id_b"), "tok"),
            ["id_b", "tok"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    out = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.col("rank_gap").cast("long"),
            F.coalesce("ni", F.lit(0)).cast("long").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.coalesce("ni", F.lit(0)))
            .cast("long")
            .alias("n_union"),
            F.expr("(100 * coalesce(ni, 0)) div (na + nb - coalesce(ni, 0))")
            .cast("long")
            .alias("jaccard_pct"),
        )
    )
    return out
