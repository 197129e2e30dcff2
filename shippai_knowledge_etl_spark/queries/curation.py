"""Corpus-curation pipeline (SURVEY.md §2.11 [EXT]).

The LLM-data-pipeline operators chained the way a training-data build
actually runs them, as ONE declarative plan: exact dedup → language ID
→ quality gate → per-language token budget. Each stage is demonstrated
standalone elsewhere (dedup_exact, ext_langid_predict,
ext_quality_score, ext_token_counts); this query is the composition —
what a user pointing the engine at a raw crawl would run first.

Plan shape (the 100 TB argument):
  - ONE pass over the text: tokenize once behind a Generate barrier
    (``explode(array(...))`` pins a single evaluation; without it,
    CollapseProject would inline the tokenize expression into every
    derived column — measured ~9 copies of the regex+split per row).
  - All per-row features (token counts, stopword hits, language argmax)
    are built-in array expressions over that one token array — no
    Python, whole-stage codegen end to end.
  - Language argmax is ``sort_array(array(struct(-score, lang)))[0]``,
    i.e. per-row and shuffle-free — the window-based form
    (ext_langid_predict) demonstrates the relational shape; a curation
    pass over 100 TB cannot afford a doc_id shuffle just for argmax.
  - The raw text column is DROPPED before the only wide shuffle: dedup
    partitions by the 256-bit content hash carrying ~40 bytes/row of
    features, not documents.
  - The quality gate is integer arithmetic (``200*n_stop >= n_tokens``
    ⟺ stopword_ratio ≥ 0.005) so the kept-set is bit-identical across
    engines and partitionings — no FP threshold flicker.
  - Final per-language rollup aggregates exact integer sums; the only
    double (kept_stop_ratio) is one division at the very end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.catalog import register
from shippai_knowledge_etl_spark.operators.textops import (
    LANG_MARKERS,
    marker_hits,
    tokenize,
)
from shippai_knowledge_etl_spark.queries.dedup import (
    _PLANTED_SQL,
    documents_with_planted_dups,
)
from shippai_knowledge_etl_spark.tables import load, scale_out

MIN_TOKENS = 25  # ≈ p15 of the corpus: drops fragments, keeps bulk

_TOKS = (
    "list_filter(str_split(trim(regexp_replace(lower(text), "
    "'[^\\p{L}\\p{Nd}]+', ' ', 'g')), ' '), x -> x <> '')"
)

_STOP_EN = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])

_SCORES_SQL = " UNION ALL ".join(
    f"""SELECT doc_id, '{lang}' AS lang,
        len(list_filter(toks, x -> x IN ({", ".join("'" + w + "'" for w in words)})))
          AS score FROM base"""
    for lang, words in sorted(LANG_MARKERS.items())
)


@register(
    "curation_pipeline_e2e",
    survey_ref=(
        "[EXT] corpus curation end-to-end: exact dedup → langid argmax → "
        "integer quality gate → per-language token budget (composition of "
        "dedup_exact + ext_langid_predict + ext_quality_score)"
    ),
    oracle=f"""
    WITH {_PLANTED_SQL},
    dd AS (SELECT doc_id, text,
                  min(doc_id) OVER (PARTITION BY text) AS canon
           FROM planted),
    base AS (SELECT doc_id, {_TOKS} AS toks FROM dd WHERE doc_id = canon),
    feat AS (SELECT doc_id, len(toks) AS n_tokens,
                    len(list_filter(toks, x -> x IN ({_STOP_EN}))) AS n_stop
             FROM base),
    pred AS (SELECT doc_id, lang AS pred_lang FROM ({_SCORES_SQL})
             QUALIFY row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, lang ASC) = 1),
    j AS (SELECT f.n_tokens, f.n_stop, p.pred_lang,
                 (f.n_tokens >= {MIN_TOKENS}
                  AND 200 * f.n_stop >= f.n_tokens) AS kept
          FROM feat f JOIN pred p USING (doc_id))
    SELECT pred_lang,
           count(*) AS n_docs,
           CAST(coalesce(sum(CASE WHEN kept THEN 1 END), 0) AS BIGINT)
             AS n_kept,
           CAST(coalesce(sum(CASE WHEN kept THEN n_tokens END), 0) AS BIGINT)
             AS kept_tokens,
           round(coalesce(sum(CASE WHEN kept THEN n_stop END), 0)
             / CAST(greatest(coalesce(sum(CASE WHEN kept THEN n_tokens END),
                                      0), 1) AS DOUBLE), 6) AS kept_stop_ratio
    FROM j GROUP BY pred_lang
    """,
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = scale_out(documents_with_planted_dups(spark, sf_dir))

    # Generate barrier: tokenize evaluated exactly once per row, every
    # feature below reads the pinned array (same trick as coverage.py /
    # diagram.py). Raw text survives only long enough to be hashed.
    toked = corpus.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("h"),
        F.explode(F.array(tokenize(F.col("text")))).alias("toks"),
    )

    toks = F.col("toks")

    # per-row argmax: min of (-score, lang) == max score, ties → lang asc
    best = F.sort_array(
        F.array(
            *[
                F.struct(
                    (-marker_hits(toks, words)).alias("neg_score"),
                    F.lit(lang).alias("lang"),
                )
                for lang, words in sorted(LANG_MARKERS.items())
            ]
        )
    ).getItem(0)

    feats = toked.select(
        "doc_id",
        "h",
        F.size(toks).cast("long").alias("n_tokens"),
        marker_hits(toks, LANG_MARKERS["en"]).cast("long").alias("n_stop"),
        best.getField("lang").alias("pred_lang"),
    )

    # the ONLY wide shuffle: dedup on the content hash, text long gone
    w = Window.partitionBy("h")
    canon = feats.withColumn("canon", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canon")
    )

    kept = (F.col("n_tokens") >= MIN_TOKENS) & (
        200 * F.col("n_stop") >= F.col("n_tokens")
    )
    zero = F.lit(0).cast("long")
    k_tokens = F.sum(F.when(kept, F.col("n_tokens")).otherwise(zero))
    k_stop = F.sum(F.when(kept, F.col("n_stop")).otherwise(zero))
    return canon.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        k_tokens.alias("kept_tokens"),
        F.round(
            k_stop / F.greatest(k_tokens, F.lit(1)).cast("double"), 6
        ).alias("kept_stop_ratio"),
    )


@register(
    "crawl_robots_filter",
    survey_ref=(
        "[EXT] robots.txt longest-match filtering (round 12 — RFC "
        "9309, the compliance gate every crawl pipeline runs before "
        "spending fetch budget; the reference fetches pages with NO "
        "robots check, src/fetch.py): per-domain rule sets (3-5 "
        "Allow/Disallow path prefixes plus the implicit empty-prefix "
        "allow), candidate URLs matched by prefix, the MOST SPECIFIC "
        "(longest) rule winning with allow beating disallow on ties "
        "— resolved as one max(struct(match_len, is_allow)) per URL, "
        "pure integer/boolean arithmetic both engines replay"
    ),
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             doc_id % 50 AS domain,
             '/p' || CAST(doc_id % 20 AS VARCHAR) ||
               '/x' || CAST(doc_id % 7 AS VARCHAR) AS path
      FROM documents),
    rules AS (
      SELECT DISTINCT domain,
             unnest(list_transform(range(0, 3 + domain % 3), r ->
               struct_pack(
                 prefix := '/p' ||
                   CAST((domain * 7 + r * 13) % 20 AS VARCHAR),
                 is_allow := CAST((domain + r) % 3 = 0 AS INT)))) AS rule
      FROM urls),
    flat AS (
      SELECT domain, rule.prefix AS prefix, rule.is_allow AS is_allow
      FROM rules
      UNION ALL
      SELECT DISTINCT domain, '' AS prefix, 1 AS is_allow FROM urls),
    matched AS (
      SELECT u.doc_id, u.domain, u.path,
             max(struct_pack(
               len := length(f.prefix), allow := f.is_allow)) AS best
      FROM urls u JOIN flat f
        ON f.domain = u.domain AND starts_with(u.path, f.prefix)
      GROUP BY u.doc_id, u.domain, u.path)
    SELECT doc_id,
           CAST(domain AS BIGINT) AS domain,
           path,
           CAST(best.len AS BIGINT) AS matched_len,
           best.allow = 1 AS allowed
    FROM matched
    """,
)
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would a compliant crawler fetch this URL: the RFC 9309
    resolution — collect every rule whose path prefix matches,
    take the longest, allow wins length ties — falls out of ONE
    ordered struct max (len, is_allow), since (len, 1) > (len, 0)
    encodes the tiebreak and the implicit '' allow rule (length 0)
    guarantees a match for every URL. Rule sets are deterministic
    per domain so both engines derive identical rule tables.

    Scale shape: the rule table is domains x ~5 rules — broadcast
    side by construction (real robots files are per-host and tiny);
    the match is a broadcast theta-join (prefix startswith) against
    the URL frontier with a map-side-partial struct-max per URL — no
    fact-side shuffle at all. At 100 TB frontier scale this is the
    politeness gate before fetch scheduling. Cites
    /root/reference/src/fetch.py:66 (fetches with no robots check;
    compliance is [EXT] surface)."""
    d = load(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        (F.col("doc_id") % 50).alias("domain"),
        F.concat(
            F.lit("/p"), (F.col("doc_id") % 20).cast("string"),
            F.lit("/x"), (F.col("doc_id") % 7).cast("string"),
        ).alias("path"),
    )
    domains = urls.select("domain").distinct()
    rules = (
        domains.select(
            "domain",
            F.explode(
                F.expr(
                    "transform(sequence(0, 2 + domain % 3), r -> "
                    "struct(concat('/p', CAST((domain * 7 + r * 13) % 20 "
                    "AS STRING)) AS prefix, "
                    "CAST(CASE WHEN (domain + r) % 3 = 0 THEN 1 ELSE 0 "
                    "END AS INT) AS is_allow))"
                )
            ).alias("rule"),
        )
        .select(
            "domain",
            F.col("rule.prefix").alias("prefix"),
            F.col("rule.is_allow").alias("is_allow"),
        )
        .unionByName(
            domains.select(
                "domain",
                F.lit("").alias("prefix"),
                F.lit(1).alias("is_allow"),
            )
        )
    )
    matched = (
        urls.alias("u")
        .join(
            F.broadcast(rules.alias("r")),
            F.expr(
                "u.domain = r.domain AND startswith(u.path, r.prefix)"
            ),
        )
        .groupBy(F.col("u.doc_id"), F.col("u.domain"), F.col("u.path"))
        .agg(
            F.max(
                F.struct(
                    F.length("r.prefix").alias("len"),
                    F.col("r.is_allow").alias("allow"),
                )
            ).alias("best")
        )
    )
    return matched.select(
        F.col("doc_id"),
        F.col("domain").cast("long").alias("domain"),
        F.col("path"),
        F.col("best.len").cast("long").alias("matched_len"),
        (F.col("best.allow") == 1).alias("allowed"),
    )
