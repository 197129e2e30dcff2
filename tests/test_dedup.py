"""Invariant tests for the engine-hash dedup ops (no SQL oracle).

MinHash/SimHash use xxhash64 — DuckDB can't replicate them, so the
driver only rows-checks those queries. These tests pin the semantic
invariants instead: planted exact duplicates MUST collide.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.operators import dedup, simsearch
from shippai_knowledge_etl_spark.queries.dedup import documents_with_planted_dups
from shippai_knowledge_etl_spark.tables import load


@pytest.fixture(scope="module")
def planted(spark, sf_dir):
    return documents_with_planted_dups(spark, sf_dir).cache()


def test_minhash_finds_planted_duplicates(planted):
    expected = {
        (r.doc_id, r.doc_id + 100000)
        for r in planted.filter(
            (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidate_pairs(planted, "doc_id", "text").collect()
    }
    # Identical docs have identical signatures → every band collides.
    assert expected <= got


def test_simhash_identical_docs_equal_signature(planted):
    sigs = dedup.simhash_signatures(planted, "doc_id", "text").collect()
    by_id = {r.doc_id: r.simhash for r in sigs}
    for doc_id, sig in by_id.items():
        if doc_id >= 100000:
            assert sig == by_id[doc_id - 100000]
    # full-width long signature: bit 63 participates, so values span
    # the signed-long range rather than [0, 2^16)
    assert dedup.SIMHASH_BITS == 64
    assert any(s < 0 for s in by_id.values()) or max(by_id.values()) >= (1 << 16)


def test_simhash_near_dup_small_hamming(planted, spark):
    """A one-token edit must move few signature bits; unrelated docs
    should differ in many — the property SimHash banding relies on."""
    rows = [(1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank zone"),
            (3, "completely different content about spark shuffles and parquet footers")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = {r.doc_id: r.simhash for r in dedup.simhash_signatures(df, "doc_id", "text").collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(sig[1], sig[2]) < ham(sig[1], sig[3])
    assert ham(sig[1], sig[2]) <= 16


def test_minhash_verified_two_stage(planted):
    """LSH→exact-verify pipeline: planted exact duplicates survive both
    stages with jaccard 1.0, every output passes the threshold, and any
    verified pair that shares a blocking key agrees exactly with the
    blocked all-pairs operator's jaccard value."""
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.verified_near_dup_pairs(
            planted, "doc_id", "text", threshold=0.2
        ).collect()
    }
    expected = {
        (r.doc_id, r.doc_id + 100000)
        for r in planted.filter(
            (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    }
    for pair in expected:
        assert verified.get(pair) == 1.0, (pair, verified.get(pair))
    assert all(j >= 0.2 for j in verified.values())

    blocked = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(
            planted, "doc_id", "text", "source", threshold=0.2
        ).collect()
    }
    overlap = set(verified) & set(blocked)
    assert expected <= overlap
    for pair in overlap:
        assert verified[pair] == blocked[pair]


def test_lss_matches_label_propagation_on_random_graphs(spark):
    """Large-star/small-star must produce byte-identical components to
    min-label propagation on arbitrary graphs."""
    import random

    rng = random.Random(11)
    for _ in range(3):
        n = rng.randint(5, 120)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 2 * n))
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        a = {
            (r.node, r.component)
            for r in dedup.connected_components(df, "id_a", "id_b").collect()
        }
        b = {
            (r.node, r.component)
            for r in dedup.connected_components_lss(df, "id_a", "id_b").collect()
        }
        assert a == b


def test_lss_converges_on_deep_chain(spark):
    """Diameter-200 path graph: label propagation needs 200 rounds;
    star alternation converges in O(log^2 n) — the reason it exists."""
    chain = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        (r.node, r.component)
        for r in dedup.connected_components_lss(
            df, "id_a", "id_b", max_iter=30
        ).collect()
    }
    assert got == {(i, 0) for i in range(201)}


def test_minhash_signature_shape(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
        "doc_id long, text string",
    )
    sig = dedup.minhash_signatures(df, "doc_id", "text")
    assert len(sig.columns) == dedup.N_HASHES + 1
    rows = {r.doc_id: tuple(r)[1:] for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_cosine_self_similarity(spark, sf_dir):
    from shippai_knowledge_etl_spark.tables import load

    e = load(spark, sf_dir, "embeddings").limit(5)
    sims = e.select(
        F.round(simsearch.cosine(F.col("embedding"), F.col("embedding")), 6).alias("s")
    ).collect()
    assert all(abs(r.s - 1.0) < 1e-9 for r in sims)


def test_connected_components_planted_copies(spark, sf_dir):
    """Every planted exact copy (doc_id + 100000) must share a component
    with its original, and components are canonical minima."""
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators import dedup
    from shippai_knowledge_etl_spark.queries.dedup import (
        documents_with_planted_dups,
    )

    df = documents_with_planted_dups(spark, sf_dir)
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", "source", threshold=0.5)
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    label = {r.node: r.component for r in comp.collect()}
    planted = [
        r.doc_id
        for r in df.filter(F.col("doc_id") >= 100000).select("doc_id").collect()
    ]
    assert planted
    for copy_id in planted:
        assert label[copy_id] == label[copy_id - 100000]
    # component ids are the min of their members
    for node, c in label.items():
        assert c <= node
        assert label[c] == c


def test_pagerank_mass_and_ordering(spark):
    """Rank mass stays ~1 (minus floor residue + dangling loss) and a
    node every other node links to outranks the periphery."""
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import SCALE, pagerank

    n = 20
    nodes = spark.range(n).select(F.col("id"))
    # star + ring: everyone links to hub 0 and to (id+1) % n
    base = spark.range(n)
    edges = base.select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    ).unionAll(
        base.select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
    )
    ranks = {
        r["id"]: r["rank_scaled"]
        for r in pagerank(
            nodes, edges, n_iters=10, checkpoint_every=2, n_nodes=n
        ).collect()
    }
    assert len(ranks) == n
    hub = ranks[0]
    # node 1 legitimately inherits the hub's mass through the ring (the
    # hub's star edge is a dropped self-loop), so compare against the
    # periphery instead of max(others)
    assert hub == max(ranks.values())
    assert hub > 3 * ranks[10], (hub, ranks[10])
    total = sum(ranks.values())
    assert 0.80 * SCALE < total <= SCALE  # floor residue only shrinks mass


def test_pagerank_until_converges_and_matches_fixed(spark):
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import (
        pagerank,
        pagerank_until,
    )

    n = 30
    nodes = spark.range(n).select(F.col("id"))
    base = spark.range(n)
    edges = base.select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    ).unionAll(
        base.select(F.col("id").alias("src"), ((F.col("id") * 3 + 1) % n).alias("dst"))
    )
    conv = {
        r["id"]: r["rank_scaled"]
        for r in pagerank_until(nodes, edges, n_nodes=n).collect()
    }
    assert len(conv) == n
    # a long fixed run lands within tolerance of the converged state
    fixed = {
        r["id"]: r["rank_scaled"]
        for r in pagerank(
            nodes, edges, n_iters=40, checkpoint_every=5, n_nodes=n
        ).collect()
    }
    for k in conv:
        assert abs(conv[k] - fixed[k]) <= 2_000_000, (k, conv[k], fixed[k])


def test_pagerank_until_raises_without_convergence(spark):
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import pagerank_until

    n = 30
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 3 + 1) % n).alias("dst")
    )
    with pytest.raises(RuntimeError, match="no convergence to 0 within 1"):
        pagerank_until(nodes, edges, tol_scaled=0, max_iters=1, n_nodes=n)


def test_containment_catches_fragment_jaccard_misses(spark, sf_dir):
    """A doc's first-third fragment is containment-1.0 but Jaccard
    ~0.33 against its parent: at threshold 0.8 the containment pass
    must surface the pair and the Jaccard pass must not."""
    from shippai_knowledge_etl_spark.operators import dedup
    from shippai_knowledge_etl_spark.operators.textops import tokenize

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    base = d.filter(F.col("doc_id") == 1)
    toks = tokenize(F.col("text"))
    frag = base.select(
        F.lit(900001).cast("long").alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, (F.size(toks) / 3).cast("int")), " "
        ).alias("text"),
        "source",
    )
    corpus = d.filter(F.col("doc_id") < 50).unionByName(frag)
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            corpus, "doc_id", "text", "source", threshold=0.8
        ).collect()
    }
    assert (1, 900001) in cont and cont[(1, 900001)] == 1.0
    jac = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(
            corpus, "doc_id", "text", "source", threshold=0.8
        ).collect()
    }
    assert (1, 900001) not in jac


def test_label_propagation_majority_clamp_and_reach(spark):
    """Hand-built graph pinning the three contract points: seeds never
    change, majority wins with smallest-label tie-break, and nodes
    keep their old label (or NULL) when no labeled neighbor votes."""
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import label_propagation

    # 0(seed:1) -> 2 <- 1(seed:0); 1 -> 3 ; 4 isolated ; 5 -> 6 chain
    # tie at node 2 (one vote each for 0 and 1) -> smallest label 0
    rows = [
        (0, 1, True),
        (1, 0, True),
        (2, None, False),
        (3, None, False),
        (4, None, False),
        (5, 3, True),
        (6, None, False),
    ]
    nodes = spark.createDataFrame(rows, "id long, label long, is_seed boolean")
    edges = spark.createDataFrame(
        [(0, 2), (1, 2), (1, 3), (5, 6)], "src long, dst long"
    )
    got = {
        r["id"]: (r["label"], r["is_seed"])
        for r in label_propagation(nodes, edges, n_iters=2).collect()
    }
    assert got[0] == (1, True) and got[1] == (0, True) and got[5] == (3, True)
    assert got[2][0] == 0  # tie 0-vs-1 breaks to smallest label
    assert got[3][0] == 0  # single labeled neighbor
    assert got[4][0] is None  # isolated: never labeled
    assert got[6][0] == 3  # chain reached in round 1, stable after


def test_label_propagation_converges_on_two_cliques(spark):
    """Two 5-cliques bridged by one edge, one seed per clique: every
    member adopts its own clique's seed label (bridge votes are
    outnumbered by intra-clique majority)."""
    from shippai_knowledge_etl_spark.operators.graph import label_propagation

    ids = list(range(10))
    pairs = [
        (a, b)
        for grp in (ids[:5], ids[5:])
        for a in grp
        for b in grp
        if a != b
    ] + [(4, 5), (5, 4)]
    nodes = spark.createDataFrame(
        [(i, 0 if i == 0 else (7 if i == 9 else None),
          i in (0, 9)) for i in ids],
        "id long, label long, is_seed boolean",
    )
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: r["label"]
        for r in label_propagation(nodes, edges, n_iters=4).collect()
    }
    assert all(got[i] == 0 for i in ids[:5])
    assert all(got[i] == 7 for i in ids[5:])


def test_hits_star_hub_authority(spark):
    """Star graph: spokes all link to node 0 -> node 0 takes ~all
    authority; spokes (the only out-linkers) share all hub mass; and
    L1 mass stays ~HITS_SCALE minus floor residue."""
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import HITS_SCALE, hits

    n = 12
    nodes = spark.range(n).select(F.col("id"))
    edges = (
        spark.range(1, n)
        .select(F.col("id").alias("src"), F.lit(0).cast("long").alias("dst"))
    )
    got = {
        r["id"]: (r["auth_scaled"], r["hub_scaled"])
        for r in hits(nodes, edges, n_iters=3).collect()
    }
    assert got[0][0] == HITS_SCALE  # sole authority takes all mass
    assert got[0][1] == 0  # ...and has no out-edge -> zero hub
    spoke_hubs = [got[i][1] for i in range(1, n)]
    assert all(a == 0 for a, _ in (got[i] for i in range(1, n)))
    assert len(set(spoke_hubs)) == 1  # symmetric spokes tie exactly
    assert 0.99 * HITS_SCALE <= sum(spoke_hubs) <= HITS_SCALE


def test_triangle_counts_known_graph(spark):
    """Triangle + pendant: exact per-node counts and clustering; K4:
    every node closes every wedge (clustering 1.0)."""
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import triangle_counts

    # nodes 0-1-2 form a triangle; 3 hangs off node 2
    nodes = spark.range(4).select(F.col("id"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], ["src", "dst"]
    )
    got = {
        r["id"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in triangle_counts(nodes, edges).collect()
    }
    assert got == {
        0: (2, 1, 1.0),
        1: (2, 1, 1.0),
        2: (3, 1, round(2 * 1 / (3 * 2), 6)),
        3: (1, 0, 0.0),
    }

    k4_nodes = spark.range(4).select(F.col("id"))
    k4_edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], ["src", "dst"]
    )
    for r in triangle_counts(k4_nodes, k4_edges).collect():
        assert (r["degree"], r["n_triangles"], r["clustering"]) == (3, 3, 1.0)


def test_triangle_counts_direction_and_multiplicity_invariant(spark):
    """Reversed duplicates, parallel edges, and self-loops must not
    change the simple-graph triangle counts."""
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import triangle_counts

    nodes = spark.range(4).select(F.col("id"))
    clean = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], ["src", "dst"]
    )
    noisy = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (0, 2), (2, 3), (1, 1)],
        ["src", "dst"],
    )
    canon = lambda df: sorted(map(tuple, triangle_counts(nodes, df).collect()))
    assert canon(clean) == canon(noisy)


def test_prefix_filter_matches_bruteforce(spark):
    """Prefix filtering must find EXACTLY the pairs brute force finds
    (the prefix-intersection theorem is lossless): survivor sets and
    integer intersection counts compare equal on a mixed corpus of
    copies, overlaps, and unrelated docs."""
    from shippai_knowledge_etl_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    alt = "a completely different sentence about spark catalyst planning"
    rows = [
        (1, base),
        (2, base),  # exact copy -> jaccard 1.0
        (3, base + " with a small appended tail here"),  # high overlap
        (4, alt),
        (5, alt + " plus some extra trailing words now appended"),
        (6, "nothing shares any shingle with this standalone text row"),
        (7, "yet another fully unrelated document body for the corpus"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["n_inter"]
        for r in prefix_filter_pairs(df, "doc_id", "text", 1, 2).collect()
    }

    def shingle_set(text, n=3):
        toks = text.lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingle_set(t) for i, t in rows}
    want = {}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and 2 * inter >= union:
                    want[(a, b)] = inter
    assert got == want
    assert (1, 2) in got  # the exact copy is found
    assert (6, 7) not in got


def test_prefix_filter_unigram_mode(spark):
    """gram_n=1 degrades to raw token sets; permuted word order is
    then identical (set semantics)."""
    from shippai_knowledge_etl_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    rows = [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prefix_filter_pairs(df, "doc_id", "text", 1, 2, gram_n=1).collect()
    assert len(out) == 1 and out[0]["jaccard"] == 1.0


def test_kcore_peel_cascade_and_fixpoint(spark):
    """K4 with a 3-node tail: the 2-core is exactly K4, reached only
    after the peel CASCADES (3 rounds); k=4 empties the graph."""
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import k_core

    nodes = spark.range(7).select(F.col("id"))
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(
        k4 + [(3, 4), (4, 5), (5, 6)], ["src", "dst"]
    )

    def core_ids(k, r):
        return {
            row["id"]
            for row in k_core(nodes, edges, k=k, n_iters=r).collect()
            if row["in_core"]
        }

    # one round only strips the tail's endpoint; the cascade needs 3
    assert core_ids(2, 1) == {0, 1, 2, 3, 4, 5}
    assert core_ids(2, 3) == {0, 1, 2, 3}
    # extra rounds past the fixpoint change nothing
    assert core_ids(2, 5) == {0, 1, 2, 3}
    assert core_ids(4, 2) == set()
    # core_degree reports the within-core degree (3 inside K4)
    final = {
        row["id"]: (row["in_core"], row["core_degree"])
        for row in k_core(nodes, edges, k=2, n_iters=4).collect()
    }
    assert final == {
        0: (True, 3), 1: (True, 3), 2: (True, 3), 3: (True, 3),
        4: (False, 0), 5: (False, 0), 6: (False, 0),
    }


def test_assortativity_known_graphs(spark):
    """A star is maximally disassortative (r = -1): every edge pairs
    the hub's high degree with a leaf's degree 1; direction noise and
    duplicate edges don't change it."""
    from shippai_knowledge_etl_spark.operators.graph import assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(3, 0), (0, 4)], ["src", "dst"]
    )
    row = assortativity(star).collect()[0]
    assert row["n_endpoints"] == 10  # 5 undirected edges, both ways
    assert row["assortativity"] == -1.0
    # degree-regular graphs (one edge given three times, a 5-cycle) have
    # zero degree variance: r is undefined, NULL like the DuckDB oracle
    for regular, n_end in (
        ([(1, 2), (2, 1), (1, 2)], 2),
        ([(i, (i + 1) % 5) for i in range(5)], 10),
    ):
        row = assortativity(
            spark.createDataFrame(regular, ["src", "dst"])
        ).collect()[0]
        assert (row["n_endpoints"], row["assortativity"]) == (n_end, None)


def test_negative_edges_are_true_non_edges(spark):
    """Every label-0 pair is a genuine non-edge and not a self-loop;
    positives are exactly the canonical edge set; the negative ratio
    is bounded by k; resampling is deterministic."""
    import pyspark.sql.functions as F

    from shippai_knowledge_etl_spark.operators.graph import negative_edges

    nodes = spark.range(20).select(F.col("id"))
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 20) for i in range(20)], ["src", "dst"]
    )
    out = negative_edges(nodes, edges, k=3, n_nodes=20).collect()
    und = {
        (min(a, b), max(a, b))
        for a, b in [(i, (i * 3 + 1) % 20) for i in range(20)]
        if a != b
    }
    pos = {(r["src"], r["dst"]) for r in out if r["label"] == 1}
    negs = [(r["src"], r["dst"]) for r in out if r["label"] == 0]
    assert pos == und
    assert negs, "hash corruption produced no negatives at all"
    assert len(negs) <= 3 * len(und)
    for u, v in negs:
        assert u != v and (u, v) not in und and u < v
    out2 = negative_edges(nodes, edges, k=3, n_nodes=20).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_duplicated_passage_spans_localize_planted_fragment(spark):
    """A doc whose tokens 5..24 re-enter as a fragment doc must report
    exactly one island (span_start=5, span_tokens=20); a doc sharing
    nothing reports none; the fragment itself spans its full extent."""
    words = [f"w{i}x" for i in range(60)]
    donor = " ".join(words)
    frag = " ".join(words[5:25])
    other = " ".join(f"q{i}z" for i in range(40))
    df = spark.createDataFrame(
        [(1, donor), (2, frag), (3, other)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.span_start, r.span_tokens, r.n_grams)
        for r in dedup.duplicated_passage_spans(
            df, "doc_id", "text", n=10
        ).collect()
    }
    assert got == {1: (5, 20, 11), 2: (0, 20, 11)}


def test_duplicated_passage_spans_merge_adjacent_runs(spark):
    """Two overlapping shared regions in one doc merge into ONE maximal
    island — the gaps-and-islands property block dedup lacks."""
    words = [f"w{i}x" for i in range(50)]
    donor = " ".join(words)
    # f1 duplicates donor 10-gram positions 0..10, f2 positions 8..18:
    # the position runs overlap, so ONE island [0..18] must come back
    # (span_tokens = 18 + 10 = 28), never two abutting spans.
    f1 = " ".join(words[0:20])
    f2 = " ".join(words[8:28])
    df = spark.createDataFrame(
        [(1, donor), (2, f1), (3, f2)], ["doc_id", "text"]
    )
    got = dedup.duplicated_passage_spans(df, "doc_id", "text", n=10)
    donor_spans = [
        (r.span_start, r.span_tokens)
        for r in got.filter(F.col("doc_id") == 1).collect()
    ]
    assert donor_spans == [(0, 28)]


def test_duplicated_passage_spans_short_docs_empty(spark):
    """Documents shorter than n tokens cannot host a passage."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    assert dedup.duplicated_passage_spans(df, "doc_id", "text", n=10).count() == 0


def test_cdc_chunks_resynchronize_after_prepended_edit(spark):
    """A prepended edit shifts every fixed-width block, but CDC
    boundaries re-synchronize at the first boundary after the edit:
    the shifted pair must share the bulk of its tokens as duplicate
    chunks, and a disjoint doc must share none."""
    words = " ".join(f"tok{i}word" for i in range(200))
    shifted = "zz yy xx " + words
    other = " ".join(f"alien{i}term" for i in range(100))
    df = spark.createDataFrame(
        [(1, words), (2, shifted), (3, other)], ["doc_id", "text"]
    )
    prof = {
        r.doc_id: r
        for r in dedup.cdc_chunk_profile(df, "doc_id", "text").collect()
    }
    for d in (1, 2):
        frac = prof[d].n_dup_tokens / prof[d].n_tokens
        assert frac >= 0.7, (d, frac)
    assert prof[3].n_dup_chunks == 0
    # chunks before the first post-edit boundary differ → not all dup
    assert prof[2].n_dup_chunks < prof[2].n_chunks


def test_multi_source_bfs_exact_distances(spark):
    """Path graph 0-1-2-3-4 plus chord (0,3): BFS from seed 0 with a
    3-hop horizon must return the true shortest distances (the chord
    shortcuts node 3 and, transitively, node 4) and respect the
    horizon for anything farther."""
    from shippai_knowledge_etl_spark.operators.graph import multi_source_bfs

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (4, 5), (5, 6), (6, 7)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(edges, seeds, n_rounds=3).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2, 5: 3}
    # two seeds: per-seed distances stay independent
    seeds2 = spark.createDataFrame([(0,), (7,)], "seed long")
    out2 = {
        (r["seed"], r["node"]): r["dist"]
        for r in multi_source_bfs(edges, seeds2, n_rounds=2).collect()
    }
    assert out2[(7, 5)] == 2 and out2[(0, 4)] == 2 and (7, 4) not in out2


def test_fixpoint_iterate_modes(spark):
    """The generic loop: fixed-budget mode runs exactly n rounds;
    fixpoint mode early-exits the round nothing changes and the
    result equals any larger budget (the monotone-map property the
    SSSP gate exploits)."""
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators.fixpoint import (
        iterate,
        unchanged,
    )

    state0 = spark.range(0, 8).select(
        F.col("id"), F.least(F.col("id"), F.lit(5)).alias("v")
    )

    def step(state, _i):
        # monotone: v -> max(v - 2, 0); fixpoint (all zeros) after 3
        return state.select(
            "id", F.greatest(F.col("v") - 2, F.lit(0)).alias("v")
        )

    fixed, r_fixed, conv_fixed = iterate(state0, step, 2)
    assert r_fixed == 2 and not conv_fixed
    assert {r["v"] for r in fixed.collect()} == {0, 1}  # 5->3->1, small->0

    conv, r_conv, did_conv = iterate(state0, step, 50, stop_when=unchanged)
    assert r_conv == 4 and did_conv  # 3 shrinking rounds + 1 confirming
    assert all(r["v"] == 0 for r in conv.collect())

    big, _r_big, _ = iterate(state0, step, 10)
    assert sorted(map(tuple, conv.collect())) == sorted(
        map(tuple, big.collect())
    )


# Loops whose per-round result lives on the driver, so they cannot be
# a fixpoint.iterate step; every other DataFrame loop must be one.
EXEMPT = {
    "operators/bpe.py:bpe_train": "merge list, stopped by a collected argmax",
    "operators/curate.py:logreg_quality_train": "weight dict on the driver",
    "operators/retrieval.py:mmr_rerank_distributed": (
        "greedy pick list collected per round; stops on an empty pool"
    ),
}
_DF_OPS = {"join", "groupBy", "agg", "crossJoin", "localCheckpoint"}


def _loop_carried_df_names(loop) -> set[str]:
    """Names a loop rebinds from a DataFrame op (directly or through
    other names bound in the loop) that it also reads before the
    rebinding, i.e. whose value flows from one round to the next."""
    import ast

    def df_op(node) -> bool:
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in _DF_OPS
            # "sep".join(...) is a string op
            and not isinstance(n.func.value, ast.Constant)
            for n in ast.walk(node)
        )

    def names(node, ctx) -> set[str]:
        return {
            n.id for n in ast.walk(node)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ctx)
        }

    def bound(st) -> set[str]:
        tgts = st.targets if isinstance(st, ast.Assign) else [st.target]
        return set().union(*(names(t, ast.Store) for t in tgts))

    binds = [
        (st, bound(st))
        for part in loop.body for st in ast.walk(part)
        if isinstance(st, (ast.Assign, ast.AugAssign, ast.AnnAssign))
        and st.value is not None
    ]
    tainted: set[str] = set()
    while True:
        grown = {
            t for st, targets in binds
            if df_op(st.value) or names(st.value, ast.Load) & tainted
            for t in targets
        } | tainted
        if grown == tainted:
            break
        tainted = grown
    first_end = {}  # name -> end of its first binding statement
    for st, targets in binds:
        end = (st.end_lineno, st.end_col_offset)
        for t in targets:
            first_end[t] = min(first_end.get(t, end), end)
    head = [loop.test] if isinstance(loop, ast.While) else []
    carried = {
        n.id for part in head + loop.body for n in ast.walk(part)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        and n.id in first_end
        and (part in head or (n.lineno, n.col_offset) < first_end[n.id])
    } | {t for st, ts in binds if isinstance(st, ast.AugAssign) for t in ts}
    return carried & tainted


def test_dataframe_loops_use_iterate():
    """Spark-free AST guard: no loop outside fixpoint.py carries a
    DataFrame from round to round (rebinding a name read earlier in
    the loop with a join/groupBy/agg/crossJoin/localCheckpoint result)
    — such loops are steps for fixpoint.iterate. Only the EXEMPT
    driver-state loops may."""
    import ast
    from pathlib import Path

    import shippai_knowledge_etl_spark as pkg

    root = Path(pkg.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        if path.name == "fixpoint.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        owner = {}  # loop -> innermost enclosing function
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for loop in ast.walk(fn):
                    if isinstance(loop, (ast.For, ast.While)):
                        owner[loop] = fn.name
        for loop, fn_name in owner.items():
            carried = _loop_carried_df_names(loop)
            if carried:
                where = f"{path.relative_to(root).as_posix()}:{fn_name}"
                found[where] = (loop.lineno, sorted(carried))
    unexpected = {k: v for k, v in found.items() if k not in EXEMPT}
    assert not unexpected, f"DataFrame loops off fixpoint.iterate: {unexpected}"
    # every exemption still names a live loop
    assert set(EXEMPT) == set(found), set(EXEMPT) - set(found)


def test_shortest_paths_exact_and_early_exit(spark):
    """Hand-checked Bellman-Ford on a weighted diamond + an
    unreachable island; the converged run equals a fixed over-budget
    run and rounds_run reflects the true convergence round."""
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators.graph import (
        INF_DIST,
        shortest_paths,
    )

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    # 0->1 (w4), 0->2 (w1), 2->1 (w1), 1->3 (w2), 4->5 (w1); 4,5 island
    edges = spark.createDataFrame(
        [(0, 1, 4), (0, 2, 1), (2, 1, 1), (1, 3, 2), (4, 5, 1)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    out, rounds = shortest_paths(nodes, edges, seeds, 10)
    got = {r["id"]: r["dist"] for r in out.collect()}
    assert got == {0: 0, 1: 2, 2: 1, 3: 4, 4: INF_DIST, 5: INF_DIST}
    assert rounds == 4  # dists settle after 3 rounds + 1 confirming

    fixed, _ = shortest_paths(nodes, edges, seeds, 9, converge=False)
    assert {r["id"]: r["dist"] for r in fixed.collect()} == got
