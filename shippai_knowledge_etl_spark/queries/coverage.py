"""Remaining SURVEY.md §2 coverage: S2, P12, A3, tf-idf, approx-distinct."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.catalog import register
from shippai_knowledge_etl_spark.tables import load, scale_out


@register(
    "s2_worklist_expand",
    survey_ref="S2/O2 (src/extract.py:396-407, src/run.py:70-73): list-page "
    "expansion with limit pushdown",
    oracle="""
    WITH lists AS (
      SELECT n_nationkey AS list_id, 3 + n_nationkey % 5 AS n_links FROM nation),
    expanded AS (
      SELECT list_id,
             printf('https://www.shippai.org/fkd/cf/CZ%d_%d.html',
                    list_id, CAST(i AS INT)) AS case_url,
             CAST(i AS INT) AS pos
      FROM lists, LATERAL unnest(range(0, n_links)) AS t(i))
    SELECT list_id, case_url, pos FROM expanded
    WHERE pos < 4
    """,
)
def s2_worklist_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One list URL → many case URLs (UDTF-shaped: an array-returning
    expression + posexplode; a Python @udtf is the row-based alternative
    when the expansion needs imperative parsing). The per-list ``limit``
    is a filter on the exploded position — the reference's in-scan break
    (src/extract.py:404-406) expressed declaratively so Catalyst can
    push it below anything downstream."""
    n = load(spark, sf_dir, "nation")
    links = F.transform(
        F.sequence(F.lit(0), F.lit(2) + F.col("n_nationkey") % 5),
        lambda i: F.format_string(
            "https://www.shippai.org/fkd/cf/CZ%d_%d.html",
            F.col("n_nationkey"),
            i.cast("int"),
        ),
    )
    return (
        n.select(
            F.col("n_nationkey").alias("list_id"),
            F.posexplode(links).alias("pos", "case_url"),
        )
        .filter(F.col("pos") < 4)
        .select("list_id", "case_url", F.col("pos").cast("int"))
    )


@register(
    "p12_conditional_sections",
    survey_ref="P12 (src/render_pdf.py:376-390,443-466): emit a section "
    "only when its value is truthy",
    oracle="""
    WITH fields AS (
      SELECT o_orderkey AS case_key, s.*
      FROM orders, LATERAL (VALUES
        ('summary', o_orderpriority),
        ('response', CASE WHEN o_orderkey % 3 = 0 THEN '' ELSE o_orderstatus END),
        ('notes', CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE 'note' END)
      ) s(section, value))
    SELECT case_key, section, value FROM fields
    WHERE value IS NOT NULL AND length(value) > 0
    """,
)
def p12_conditional_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sectioned-report emission as a filter over (section, value) rows —
    empty and null sections disappear, mirroring the reference's
    ``if value:`` guards around each flowable block."""
    o = load(spark, sf_dir, "orders")
    sections = F.array(
        F.struct(F.lit("summary").alias("section"), F.col("o_orderpriority").alias("value")),
        F.struct(
            F.lit("response").alias("section"),
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("")).otherwise(
                F.col("o_orderstatus")
            ).alias("value"),
        ),
        F.struct(
            F.lit("notes").alias("section"),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit(None).cast("string"))
            .otherwise(F.lit("note"))
            .alias("value"),
        ),
    )
    return (
        o.select(F.col("o_orderkey").alias("case_key"), F.explode(sections).alias("s"))
        .select("case_key", "s.section", "s.value")
        .filter(F.col("value").isNotNull() & (F.length("value") > 0))
    )


@register(
    "a3_manifest_collect",
    survey_ref="A3/U2 (src/run.py:86-132): per-case records collected into "
    "the manifest array",
    oracle="""
    WITH validated AS (
      SELECT o.o_orderkey,
             CASE
               WHEN o.o_orderstatus = 'P' THEN 'error'
               WHEN c.c_custkey IS NULL
                 OR o.o_totalprice IS NULL OR o.o_totalprice <= 0
                 OR o.o_orderpriority IS NULL OR o.o_orderpriority = ''
                 OR c.c_acctbal < 0
               THEN 'excluded'
               ELSE 'success'
             END AS status
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT status,
           count(*) AS n,
           CAST(to_json(coalesce(
             array_agg(printf('CZ%07d', o_orderkey) ORDER BY o_orderkey)
               FILTER (o_orderkey % 97 = 0), [])) AS VARCHAR) AS sample_cases
    FROM validated GROUP BY status
    """,
)
def a3_manifest_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list with a deterministic sort — the manifest's ``cases``
    array per status (sampled so the array stays manifest-sized; at
    scale the full per-case records go to the JSON sink, not into one
    aggregated row)."""
    from shippai_knowledge_etl_spark.queries.manifest import validated_orders

    df = validated_orders(spark, sf_dir)
    return df.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        # gate boundary: to_json the collected array (driver can't hash lists)
        F.to_json(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("o_orderkey") % 97 == 0,
                        F.format_string("CZ%07d", F.col("o_orderkey")),
                    )
                )
            )
        ).alias("sample_cases"),
    )


@register(
    "ext_tfidf",
    survey_ref="[EXT] tf-idf via term/doc-frequency joins (SURVEY §2.11)",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(trim(regexp_replace(lower(text),
               '[^\\p{L}\\p{Nd}]+', ' ', 'g')), ' '), x -> x <> '') AS t
      FROM documents),
    terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    df_ AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM terms)
    SELECT tf.doc_id, tf.term, tf.tf, df_.df,
           round(tf.tf * ln((n.n_docs + 1.0) / (df_.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df_ USING (term) CROSS JOIN n
    WHERE tf.doc_id % 50 = 0
    """,
)
def ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic two-aggregation tf-idf: term frequencies and document
    frequencies are separate groupBys joined on term (df side is
    vocabulary-sized → broadcast at any corpus scale). Output restricted
    to every 50th doc to keep the gate result small."""
    from shippai_knowledge_etl_spark.operators.textops import tokenize

    d = scale_out(load(spark, sf_dir, "documents"))
    terms = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = terms.select(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_id") % 50 == 0)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            # rounded to 6dp on both sides: Spark's and DuckDB's ln()
            # differ in the last ulp, which the driver's exact hash sees
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "a_approx_distinct",
    survey_ref="approx_count_distinct (SURVEY §2.4 scale path) — sketch "
    "values are engine-specific → rows-only check",
)
def a_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts — the 100 TB substitute for exact
    countDistinct (no expand, single pass, mergeable partials)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@register(
    "run_pipeline_e2e",
    survey_ref="§3.1 entry point 1 end-to-end: expand (S2) → fetch/parse "
    "(S1/P2) → pivot (P3) → validate (P10) → summarize (A1)",
    bench=True,
    oracle="""
    -- Same generated page corpus as s1_html_parse, taken through the
    -- whole run loop: pivot label rows wide, validate required labels,
    -- classify, summarize. 概要 is absent when o_orderkey % 13 = 0 →
    -- those cases are 'excluded' with that missing field.
    WITH parsed AS (
      SELECT o_orderkey AS case_key, r.*
      FROM orders, LATERAL (VALUES
        (0, '事例名称', o_orderpriority),
        (1, '事例概要', CASE WHEN o_orderkey % 13 = 0 THEN NULL
                            ELSE 'img' || o_orderstatus END)
      ) r(row_idx, label, value)),
    wide AS (
      SELECT case_key,
             coalesce(arg_min(value, row_idx) FILTER (label = '事例名称'), '') AS case_name,
             coalesce(arg_min(value, row_idx) FILTER (label = '事例概要'), '') AS summary
      FROM parsed GROUP BY case_key),
    validated AS (
      SELECT *, CASE WHEN summary = '' THEN 'excluded' ELSE 'success' END AS status
      FROM wide)
    SELECT count(*) AS total,
           count(CASE WHEN status = 'success' THEN 1 END) AS n_success,
           count(CASE WHEN status = 'excluded' THEN 1 END) AS n_excluded,
           CAST(0 AS BIGINT) AS n_error
    FROM validated
    """,
)
def run_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `run.py` loop as ONE declarative plan: generate a
    case page per order (the offline stand-in for fetch), parse with the
    real HTML edge UDF, bgcolor-filter, first-wins array label lookup,
    required-field validation, status summary. Every stage after the UDF
    is whole-stage-codegen'd and per-row local; the only shuffles are
    the edge-stage repartition and the final status aggregation."""
    from shippai_knowledge_etl_spark.functions.nested import first_val
    from shippai_knowledge_etl_spark.operators import quality
    from shippai_knowledge_etl_spark.sources.html_parse import label_rows

    # the parse edge is per-row Python: make sure the stage has as many
    # tasks as the cluster has slots (no-op on real multi-split layouts)
    o = scale_out(load(spark, sf_dir, "orders"))
    page = F.format_string(
        "<table>"
        '<tr><td bgcolor="#DFE9F2">事例名称</td><td>%s</td></tr>'
        '<tr><td bgcolor="#FFFFFF">無視</td><td>skipped</td></tr>'
        "%s"
        "</table>",
        F.col("o_orderpriority"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("")).otherwise(
            F.format_string(
                '<tr><td bgcolor="#dfe9f2">事例概要</td>'
                '<td><a href="/mf/m%d.jpg">img</a>%s</td></tr>',
                (F.col("o_orderkey") % 9).cast("int"),
                F.col("o_orderstatus"),
            )
        ),
    )
    # First-wins label lookup straight on the parsed array — the
    # reference's per-page dict build (src/extract.py:58,82) is per-row
    # local, so the wide record needs NO shuffle at any scale. (A row
    # pivot here would force SortAggregate: min_by carries a string
    # buffer, which is not hash-aggregatable — measured 3x slower.)
    # The relational pivot operator itself is demonstrated by
    # p3_label_pivot; parse output order is document order, so the
    # first array_position hit IS the first occurrence.
    # Generate barrier (same trick as diagram.py): both lookups below
    # reference the parse result, and without the barrier the Python UDF
    # is extracted into TWO ArrowEvalPython nodes — every page parsed
    # twice. explode(array(x)) pins one evaluation, costs no shuffle.
    parsed = o.select(
        F.col("o_orderkey").alias("case_key"),
        F.explode(F.array(label_rows(page))).alias("__rows"),
    )

    rows = F.col("__rows")
    wide = parsed.select(
        "case_key",
        first_val(rows, "事例名称").alias("case_name"),
        first_val(rows, "事例概要").alias("summary"),
    )
    validated = quality.with_status(
        wide, {"summary": F.col("summary") == ""}, F.lit(False)
    )
    return quality.status_summary(validated)


@register(
    "agg_salted_skew",
    survey_ref="skew mitigation: salted two-phase aggregation "
    "(SURVEY §4.2 / BASELINE 'salting for skew')",
    oracle="""
    SELECT user_id, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
               AS sum_value
    FROM events GROUP BY user_id
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: partial agg on (key, salt) spreads
    a hot key over 16 reducers, final agg merges the partials. The
    result is EXACTLY the plain groupBy (the oracle); the plan trades
    one extra (tiny) shuffle for immunity to single-key skew. AQE's
    skew-join handling covers joins; this is the agg-side equivalent.
    (events has only 15 users at this SF — the 16× salt fanout IS the
    skewed-world shape.)"""
    e = load(spark, sf_dir, "events")
    salted = e.withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("psum"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n"),
        # DECIMAL merge stays exact; gate boundary casts to rounded DOUBLE
        F.round(F.sum("psum").cast("double"), 4).alias("sum_value"),
    )


@register(
    "a_percentiles",
    survey_ref="percentile/median aggregates (SURVEY §2.4 built-in demo)",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (quantities are small integers, so
    interpolation arithmetic is engine-stable). approx_percentile is the
    100 TB substitute — demoed rows-only in a_approx_distinct's family."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@register(
    "a_approx_percentile",
    survey_ref="approx_percentile (SURVEY §2.4 scale path for quantiles)",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS apx_median_qty,
           quantile_disc(l_quantity, 0.87) AS apx_p87_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quantile path: approx_percentile's mergeable GK
    sketch (single pass, no sort, bounded memory) vs a_percentiles'
    exact sort-based form. Oracle-checkable rather than rows-only
    ONLY because the explicit accuracy parameter (1e6) exceeds the
    row count at every verified SF, making the sketch exact — the
    default 10000 is smaller than sf0.01's ~60k lineitem rows. The
    probed upper quantile is 0.87, NOT 0.9: with l_quantity
    near-uniform over 1..50 the 0.9 rank sits exactly on the 45/46
    value boundary, where any future verification above ~1M rows per
    group (sketch re-entering approximate territory) could flip the
    answer by merge order; 0.87 lands mid-run of value 44, so the
    gate stays exact with headroom on both sides."""
    li = load(spark, sf_dir, "lineitem")
    acc = F.lit(1_000_000)
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), acc).alias("apx_median_qty"),
        F.approx_percentile("l_quantity", F.lit(0.87), acc).alias("apx_p87_qty"),
    )


@register(
    "p3b_unpivot",
    survey_ref="unpivot/melt — inverse of P3 (wide record → tall label/value)",
    oracle="""
    SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
    """,
)
def p3b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's wide-record→field-table direction: melt numeric
    columns back to (key, metric, value) rows — the exact inverse of the
    P3 pivot, via the native unpivot operator (no explode needed)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    ).unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "value")


@register(
    "ext_table_profile",
    survey_ref="[EXT] data-profiling report: per-column rows/nulls/"
    "distinct/length stats in ONE scan (all aggregates share one map-"
    "side-combined aggregation; the wide 1-row result unpivots to the "
    "tall report) — the corpus health check a pipeline runs before and "
    "after every transform",
    oracle="""
    SELECT 'doc_id' AS "column", count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(length(CAST(doc_id AS VARCHAR))) AS BIGINT) AS min_len,
           CAST(max(length(CAST(doc_id AS VARCHAR))) AS BIGINT) AS max_len,
           round(sum(coalesce(length(CAST(doc_id AS VARCHAR)), 0))
             / CAST(greatest(count(*)
               - sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 1)
               AS DOUBLE), 6) AS avg_len
    FROM documents
    UNION ALL
    SELECT 'lang', count(*),
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT lang),
           CAST(min(length(lang)) AS BIGINT),
           CAST(max(length(lang)) AS BIGINT),
           round(sum(coalesce(length(lang), 0))
             / CAST(greatest(count(*)
               - sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 1)
               AS DOUBLE), 6)
    FROM documents
    UNION ALL
    SELECT 'text', count(*),
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT text),
           CAST(min(length(text)) AS BIGINT),
           CAST(max(length(text)) AS BIGINT),
           round(sum(coalesce(length(text), 0))
             / CAST(greatest(count(*)
               - sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 1)
               AS DOUBLE), 6)
    FROM documents
    """,
)
def ext_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shippai_knowledge_etl_spark.operators.quality import profile_table

    d = load(spark, sf_dir, "documents")
    return profile_table(d, ["doc_id", "lang", "text"])


@register(
    "j7_salted_skew_join",
    survey_ref="skew mitigation, join side: salt-replicated build "
    "table spreads one hot probe key over 8 reducers; the oracle "
    "(plain join) proves the rewrite is result-invariant "
    "(SURVEY §4.2 — the companion to agg_salted_skew)",
    oracle="""
    WITH stats AS (
      SELECT user_id, count(*) AS n_user_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
               AS user_value_sum
      FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id, s.n_user_events, s.user_value_sum
    FROM events e JOIN stats s USING (user_id)
    """,
)
def j7_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich every event with its user's totals through a SALTED
    join: the probe side gets salt = event_id mod 8, the build side
    replicates each user row across all 8 salts, and the join key
    becomes (user_id, salt) — one hot user's rows now land on 8
    reducers instead of one. The build side carries a merge hint so
    the demo keeps the shuffle-join shape it exists to show (at this
    SF Spark would otherwise broadcast 15 rows and hide the point;
    at the 100 TB end BOTH sides are too big to broadcast and THIS
    is the plan). The oracle is the plain unsalted join — the gate
    proves the rewrite changes the partitioning, not the answer.
    AQE's skewedJoin covers sort-merge skew automatically; explicit
    salting remains the fix when the hot key is known up front or
    AQE is unavailable (streaming joins)."""
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_user_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("user_value_sum"),
    )
    probe = e.select("event_id", "user_id").withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(8)).cast("int")
    )
    build = stats.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(8)]))
    )
    return (
        probe.join(build.hint("merge"), ["user_id", "salt"])
        .select("event_id", "user_id", "n_user_events", "user_value_sum")
    )


# Poisson(1) CDF as exact 16-bit integer thresholds (floor(cdf*65536)),
# SHARED literals so neither engine's exp() participates — a 16-bit
# md5 draw under ts[k] means the row's bootstrap weight is <= k
_BOOT_TS = (24109, 48218, 60273, 64291, 65296, 65497)
_BOOT_B = 40  # replicates; 95% CI = ranks 2 and 39 of the sorted means


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_TS)
    )
    return f"CASE {cases} ELSE 6 END"


@register(
    "a_bootstrap_ci",
    survey_ref="§2.4-adjacent (beyond-reference built-in): "
    "deterministic Poisson-bootstrap 95% CI for the event-value mean "
    "(Efron 1979; the Poisson(1)-weight streaming form is the "
    "standard one-pass variant) — resample weights are md5 hash draws "
    "against SHARED literal CDF thresholds, so the whole CI is a pure "
    "function of the data, reproducible across engines and runs",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
    w AS (
      SELECT r.b,
             {_boot_w_sql("CAST('0x' || substring(md5(CAST(e.event_id AS VARCHAR) || ':boot:' || CAST(r.b AS VARCHAR)), 1, 4) AS INT)")} AS wt,
             CAST(round(e.value, 4) AS DECIMAL(18,4)) AS xr
      FROM events e CROSS JOIN reps r),
    means AS (
      SELECT b,
             round(CAST(sum(wt * xr) AS DOUBLE) / sum(wt), 6) AS m
      FROM w WHERE wt > 0 GROUP BY b),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means),
    full_mean AS (
      SELECT round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4)))
                        AS DOUBLE) / count(*), 6) AS mean_value,
             count(*) AS n_rows
      FROM events)
    SELECT f.n_rows, f.mean_value,
           max(CASE WHEN r.rn = 2 THEN r.m END) AS ci_lo,
           max(CASE WHEN r.rn = {_BOOT_B - 1} THEN r.m END) AS ci_hi
    FROM ranked r CROSS JOIN full_mean f
    GROUP BY f.n_rows, f.mean_value
    """,
)
def a_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean(value) over events,
    fully deterministic: each (row, replicate) draws a Poisson(1)
    resample weight from a 16-bit md5 hash against shared literal CDF
    thresholds, replicate means use exact DECIMAL weighted sums, and
    the CI is the 2nd / 39th of the 40 sorted replicate means
    (percentile-rank convention documented here; B=40 puts 2.5% and
    97.5% exactly on integer ranks).

    Scale shape: ONE scan exploded x40 (narrow), per-replicate
    weighted sums partial-aggregate map-side to 40 rows, and the rank
    window runs over those 40 rows only (bounded-input global window,
    allowlisted). No second pass over the data, no driver loop — the
    classic one-pass streaming bootstrap. The |rows| x B md5 draws are
    pure per-row work pinned to the scan stage, so the single-split
    local layout would serialize all of them onto one core —
    scale_out spreads the draw stage (measured 10.1 -> 3.2 s cold /
    1.8 s warm at sf0.1; a no-op on real multi-split layouts). Draws
    are pure
    functions of (event_id, b): partitioning cannot change any
    result."""
    from pyspark.sql import Window

    b = _BOOT_B
    ev = scale_out(
        load(spark, sf_dir, "events").select("event_id", "value")
    )
    reps = ev.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(b - 1)))
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":boot:"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    wt = F.when(u < _BOOT_TS[0], 0)
    for k, t in enumerate(_BOOT_TS[1:], start=1):
        wt = wt.when(u < t, k)
    wt = wt.otherwise(6)
    xr = F.round(F.col("value"), 4).cast("decimal(18,4)")
    means = (
        reps.select("b", wt.alias("wt"), xr.alias("xr"))
        .filter(F.col("wt") > 0)
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("wt") * F.col("xr")).cast("double")
                / F.sum("wt"),
                6,
            ).alias("m")
        )
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m", "b"))
    )
    full_mean = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_value"),
    )
    return (
        ranked.crossJoin(F.broadcast(full_mean))
        .groupBy("n_rows", "mean_value")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == b - 1, F.col("m"))).alias("ci_hi"),
        )
    )


@register(
    "profile_key_skew",
    survey_ref="§4.2-adjacent (beyond-reference built-in): shuffle-key "
    "skew profiler — Gini coefficient + head shares of the user_id "
    "distribution, the measurement that decides between a plain "
    "join, AQE skew handling, and explicit salting "
    "(j7_salted_skew_join is the mitigation this detects the need "
    "for); integer rank sums over the key-sized rollup",
    oracle="""
    WITH counts AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c, user_id) AS rn,
             count(*) OVER () AS nk, sum(c) OVER () AS tot
      FROM counts)
    SELECT CAST(max(nk) AS BIGINT) AS n_keys,
           CAST(max(tot) AS BIGINT) AS n_rows,
           round(CAST(sum((2 * rn - nk - 1) * c) AS DOUBLE)
                 / (max(nk) * max(tot)), 6) AS gini,
           round(CAST(max(CASE WHEN rn = nk THEN c END) AS DOUBLE)
                 / max(tot), 6) AS top1_share
    FROM ranked
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How skewed is the events shuffle key? Gini coefficient of the
    per-user row counts (0 = perfectly even, →1 = one user owns the
    stream) plus the heaviest key's share — the numbers that justify
    (or veto) the salting rewrite ``j7_salted_skew_join`` demos.

    Scale shape: the per-key rollup cuts the stream to |keys| rows
    with map-side partials FIRST; the rank and the two analytic
    totals run over that key-sized table (bounded-input global
    window, allowlisted); the Gini rank-sum formula
    Σ(2·rank − n − 1)·c / (n·total) is exact integer arithmetic with
    one final rounded division. (max(nk)/max(tot) inside the final
    aggregate just re-reads the constant analytic columns — every row
    carries the same value.)"""
    from pyspark.sql import Window

    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wall = Window.partitionBy()
    ranked = counts.select(
        "c",
        F.row_number().over(Window.orderBy("c", "user_id")).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("nk"),
        F.sum("c").over(wall).alias("tot"),
    )
    return ranked.agg(
        F.max("nk").cast("long").alias("n_keys"),
        F.max("tot").cast("long").alias("n_rows"),
        F.round(
            F.sum(
                (2 * F.col("rn") - F.col("nk") - 1) * F.col("c")
            ).cast("double")
            / (F.max("nk") * F.max("tot")),
            6,
        ).alias("gini"),
        F.round(
            F.max(
                F.when(F.col("rn") == F.col("nk"), F.col("c"))
            ).cast("double")
            / F.max("tot"),
            6,
        ).alias("top1_share"),
    )


@register(
    "quality_referential_integrity",
    survey_ref="§2.3-adjacent (beyond-reference built-in): warehouse "
    "referential-integrity audit — orphan counts for every FK edge of "
    "the TPC-H-ish schema via LEFT ANTI joins (the dimension side "
    "broadcasts; the fact side never shuffles for the probe), plus "
    "row totals so the report is self-normalizing",
    oracle="""
    SELECT
      (SELECT count(*) FROM orders o ANTI JOIN customer c
        ON c.c_custkey = o.o_custkey) AS orphan_orders,
      (SELECT count(*) FROM lineitem l ANTI JOIN orders o
        ON o.o_orderkey = l.l_orderkey) AS orphan_lineitems,
      (SELECT count(*) FROM lineitem l ANTI JOIN part p
        ON p.p_partkey = l.l_partkey) AS orphan_part_refs,
      (SELECT count(*) FROM lineitem l ANTI JOIN supplier s
        ON s.s_suppkey = l.l_suppkey) AS orphan_supp_refs,
      (SELECT count(*) FROM orders) AS n_orders,
      (SELECT count(*) FROM lineitem) AS n_lineitems
    """,
)
def quality_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orphan-row counts for each foreign-key edge (orders→customer,
    lineitem→orders/part/supplier) — the load-audit run after every
    ingest; zero means the snapshot is join-safe, nonzero localizes
    WHICH edge broke. Anti-joins broadcast the key-only dimension
    projection, so the fact side is scanned once per edge and never
    shuffles; at 100 TB the four probes share the fact scan via
    column pruning (each reads one key column)."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey")
    oo = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti"
    ).count()
    okeys = o.select("o_orderkey")
    ol = li.join(
        F.broadcast(okeys), li.l_orderkey == okeys.o_orderkey, "left_anti"
    ).count()
    op = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey, "left_anti"
    ).count()
    os_ = li.join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey, "left_anti"
    ).count()
    return spark.createDataFrame(
        [(oo, ol, op, os_, o.count(), li.count())],
        "orphan_orders long, orphan_lineitems long, orphan_part_refs long,"
        " orphan_supp_refs long, n_orders long, n_lineitems long",
    )
