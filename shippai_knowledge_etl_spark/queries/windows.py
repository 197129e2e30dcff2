"""Event-time window demos + edge-source demos (SURVEY.md §2.10, §2.9).

The window functions are the SAME code the streaming pipelines use
(streaming/windows.py) — run here in batch mode so the driver's DuckDB
oracle can check them. True streaming execution (watermarks advancing,
foreachBatch manifests, dropDuplicatesWithinWatermark) is exercised in
tests/test_streaming.py with availableNow triggers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.catalog import register
from shippai_knowledge_etl_spark.operators.fixpoint import iterate
from shippai_knowledge_etl_spark.schemas import CASE_SCHEMA
from shippai_knowledge_etl_spark.streaming import windows as W
from shippai_knowledge_etl_spark.tables import load, scale_out, table_rowcount


def _day() -> Column:
    """The UTC day bucket of ``ts`` (epoch days), aliased ``day`` — the
    oracles' ``CAST(floor(epoch(ts)) AS BIGINT) // 86400``. A function,
    not a module Column: building a Column needs a live session."""
    return F.expr("CAST(unix_timestamp(ts) AS LONG) div 86400").alias("day")


@register(
    "stream_tumbling_window",
    survey_ref="§2.10 tumbling window over events (batch=streaming code)",
    bench=True,
    oracle="""
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
               AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shared streaming op aggregates in exact DECIMAL; the gate
    # boundary casts to rounded DOUBLE (driver hashes Decimal != float64).
    out = W.tumbling_counts(load(spark, sf_dir, "events"))
    return out.withColumn("sum_value", F.round(F.col("sum_value").cast("double"), 4))


@register(
    "stream_sliding_window",
    survey_ref="§2.10 sliding window (10m width / 5m slide)",
    oracle="""
    WITH starts AS (
      SELECT event_id,
             unnest([CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT),
                     CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)]) AS window_start
      FROM events)
    SELECT window_start, count(*) AS n FROM starts GROUP BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event lands in exactly two 10m/5m windows; the oracle
    derives both starts arithmetically."""
    return W.sliding_counts(load(spark, sf_dir, "events"))


@register(
    "stream_session_window",
    survey_ref="§2.10 session windows (30m gap) per user",
    oracle="""
    WITH gaps AS (
      -- (ts, event_id) tiebreaker in BOTH windows (w12 discipline,
      -- ADVICE r8): ts-only cumsum tie order is engine-dependent
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps)
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS session_end,
           count(*) AS n
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window vs an independent gaps-and-islands oracle — the
    strongest cross-check in the streaming cluster."""
    return W.session_counts(load(spark, sf_dir, "events"))


@register(
    "stream_dead_letter_manifest",
    survey_ref="§2.10 fault isolation + A1 manifest over a batch "
    "(src/run.py:93-131)",
    oracle="""
    SELECT count(*) AS total,
           count(CASE WHEN NOT (event_type = 'error' OR value < 0.1)
                 THEN 1 END) AS n_success,
           count(CASE WHEN event_type <> 'error' AND value < 0.1
                 THEN 1 END) AS n_excluded,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
    FROM events
    """,
)
def stream_dead_letter_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.status_manifest(load(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Edge sources: HTML parse (S1/P2) and the assembled nested case model
# --------------------------------------------------------------------------


@register(
    "s1_html_parse",
    survey_ref="S1/P2 (src/extract.py:34-38,57-82): HTML→tall rows edge UDF",
    oracle="""
    -- Oracle restates the EXPECTED parse of the generated page: three
    -- label rows (one with the wrong bgcolor, which the parser keeps
    -- but the P2 filter drops → only 2 survive) + the /mf/ anchor row.
    WITH expected AS (
      SELECT o_orderkey, r.*
      FROM orders, LATERAL (VALUES
        (0, '事例名称', o_orderpriority, '#DFE9F2', NULL),
        (2, '事例概要', 'img' || o_orderstatus, '#DFE9F2',
             printf('/mf/m%d.jpg', o_orderkey % 9))
      ) r(row_idx, label, value, bgcolor, href))
    SELECT o_orderkey AS case_key, row_idx, label, value,
           upper(bgcolor) AS bgcolor, href
    FROM expected
    """,
)
def s1_html_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate a reference-shaped case page per order, parse it with
    the stdlib-HTML edge UDF, filter on the bgcolor sentinel. The
    middle row has bgcolor #FFFFFF and must be dropped by P2."""
    from shippai_knowledge_etl_spark.sources.html_parse import label_rows

    o = scale_out(load(spark, sf_dir, "orders"))
    page = F.format_string(
        "<table>"
        '<tr><td bgcolor="#DFE9F2">事例名称</td><td>%s</td></tr>'
        '<tr><td bgcolor="#FFFFFF">無視</td><td>skipped</td></tr>'
        '<tr><td bgcolor="#dfe9f2">事例概要</td>'
        '<td><a href="/mf/m%d.jpg">img</a>%s</td></tr>'
        "</table>",
        F.col("o_orderpriority"),
        (F.col("o_orderkey") % 9).cast("int"),
        F.col("o_orderstatus"),
    )
    rows = label_rows(page)
    return (
        o.select(F.col("o_orderkey").alias("case_key"), F.explode(rows).alias("r"))
        .select(
            "case_key",
            "r.row_idx",
            "r.label",
            "r.value",
            F.upper("r.bgcolor").alias("bgcolor"),
            "r.href",
        )
    )


@register(
    "s2_list_page_scan",
    survey_ref="S2 (src/extract.py:396-407): REAL ul.list_all anchor parse "
    "→ /cf/ filter → per-list limit → urljoin absolutize",
    oracle="""
    -- Expected walk of the generated page: anchors i in 0..n_links-1
    -- inside ul.list_all (a decoy ul precedes it); /cf/ hrefs are the
    -- i%4<>3 ones; the reference keeps the first 4 matches per list.
    WITH lists AS (
      SELECT n_nationkey AS list_id, 5 + n_nationkey % 6 AS n_links FROM nation),
    links AS (
      SELECT list_id, CAST(i AS INT) AS i
      FROM lists, LATERAL unnest(range(0, n_links)) t(i)
      WHERE i % 4 <> 3),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY list_id ORDER BY i) - 1
                     AS INT) AS pos
      FROM links)
    SELECT list_id, pos,
           printf('https://www.shippai.org/fkd/cf/CZ%d_%d.html', list_id, i)
             AS case_url,
           printf('case %d', i) AS link_text
    FROM ranked WHERE pos < 4
    """,
)
def s2_list_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real S2 edge: a reference-shaped list page is generated per
    nation (a decoy ``<ul>`` plus ``<ul class="list_all">`` holding a
    mix of /cf/ case links and /sf/ noise), parsed with the stdlib
    anchor-list UDF, filtered to /cf/ hrefs, limited to 4 per list
    (the reference's in-scan break), and absolutized against the list
    page's URL with urljoin semantics."""
    from shippai_knowledge_etl_spark.functions import scalar as fscalar
    from shippai_knowledge_etl_spark.sources.html_parse import list_page_links

    n = load(spark, sf_dir, "nation")
    list_id = F.col("n_nationkey")
    n_links = F.lit(5) + list_id % 6
    items = F.transform(
        F.sequence(F.lit(0), n_links - 1),
        lambda i: F.format_string(
            '<li><a href="%s">case %d</a></li>',
            F.when(
                i % 4 == 3, F.format_string("../sf/skip%d.html", i.cast("int"))
            ).otherwise(
                F.format_string(
                    "../cf/CZ%d_%d.html", list_id, i.cast("int")
                )
            ),
            i.cast("int"),
        ),
    )
    page = F.concat(
        F.lit('<ul class="other"><li><a href="/cf/DECOY.html">no</a></li></ul>'),
        F.lit('<ul class="list_all">'),
        F.array_join(items, ""),
        F.lit("</ul>"),
    )
    page_url = F.format_string(
        "https://www.shippai.org/fkd/lis/lis%d.html", list_id
    )
    links = list_page_links(page)
    kept = F.slice(
        F.filter(links, lambda r: r.getField("href").contains("/cf/")), 1, 4
    )
    return (
        n.select(
            list_id.alias("list_id"),
            page_url.alias("_page_url"),
            F.posexplode(kept).alias("pos", "r"),
        )
        .select(
            "list_id",
            F.col("pos").cast("int"),
            fscalar.resolve_url(F.col("_page_url"), F.col("r.href")).alias(
                "case_url"
            ),
            F.col("r.text").alias("link_text"),
        )
    )


@register(
    "case_assembly",
    survey_ref="full nested case model (requirements.md:107-142; §3.2 "
    "end-to-end assembly)",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             str_split(text, ' ') AS t,
             CAST(4 + doc_id % 9 AS INT) AS n_items
      FROM documents)
    SELECT printf('CZ%07d', doc_id) AS case_id,
           t[1] AS case_name,
           printf('https://www.shippai.org/fkd/cf/CZ%07d.html', doc_id) AS url,
           CASE WHEN doc_id % 5 = 0 THEN 'June 2006'
                ELSE printf('%04d-%02d-%02d', 1995 + doc_id % 7,
                            1 + doc_id % 12, 1 + doc_id % 28) END AS date_str,
           CASE WHEN doc_id % 5 <> 0
                THEN CAST(printf('%04d-%02d-%02d', 1995 + doc_id % 7,
                                 1 + doc_id % 12, 1 + doc_id % 28) AS DATE)
           END AS date,
           CAST(doc_id % 4 AS INT) AS deaths,
           CAST(doc_id % 7 AS INT) AS injuries,
           CAST(to_json(CASE WHEN doc_id % 3 = 2 THEN [t[2] || ' ' || t[3]]
                ELSE [t[2], t[3]] END) AS VARCHAR) AS knowledge,
           CAST(to_json(list_slice(t, 1, 3)) AS VARCHAR) AS sources_list,
           true AS has_scenario
    FROM tok
    """,
)
def case_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end nested assembly using the engine's own operators:
    F1 date normalize (with passthrough), F2 casualty ints, F6
    knowledge parse, F7 source split, W1/W2 scenario chunking, P11
    presence — the §3.2 extract pipeline minus the network edge.
    Output keeps SQL-comparable columns; the full CASE_SCHEMA
    round-trip (incl. scenario struct) is pytest-checked via
    sinks.json_roundtrip_check."""
    from shippai_knowledge_etl_spark.functions import listparse, nested, scalar
    from shippai_knowledge_etl_spark.queries.nested import (
        scenario_source,
        scenario_struct,
    )

    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    date_raw = F.when(F.col("doc_id") % 5 == 0, F.lit("June 2006")).otherwise(
        F.format_string(
            "%04d年%d月%d日",
            (F.lit(1995) + F.col("doc_id") % 7).cast("int"),
            (F.lit(1) + F.col("doc_id") % 12).cast("int"),
            (F.lit(1) + F.col("doc_id") % 28).cast("int"),
        )
    )
    knowledge_text = F.when(
        F.col("doc_id") % 3 == 2,
        F.concat(F.get(t, 1), F.lit(" "), F.get(t, 2)),
    ).otherwise(F.concat(F.lit("・"), F.get(t, 1), F.lit("\n・"), F.get(t, 2)))
    scenario = scenario_struct(scenario_source(spark, sf_dir)).select(
        "doc_id", "scenario"
    )
    assembled = d.join(scenario, "doc_id").select(
        "doc_id",
        F.format_string("CZ%07d", F.col("doc_id")).alias("case_id"),
        F.get(t, 0).alias("case_name"),
        F.format_string(
            "https://www.shippai.org/fkd/cf/CZ%07d.html", F.col("doc_id")
        ).alias("url"),
        scalar.normalize_jp_date(date_raw).alias("date_str"),
        scalar.try_date(date_raw).alias("date"),
        # casualties kept flat here: the driver's value-hash treatment of
        # struct columns is unspecified; the nested form round-trips in
        # tests/test_sinks.py under CASE_SCHEMA.
        (F.col("doc_id") % 4).cast("int").alias("deaths"),
        (F.col("doc_id") % 7).cast("int").alias("injuries"),
        # gate boundary: arrays to_json'd (driver can't hash list cells);
        # the typed nested form round-trips under CASE_SCHEMA in tests.
        F.to_json(listparse.parse_knowledge(knowledge_text)).alias("knowledge"),
        F.to_json(
            F.slice(scalar.split_nonblank(F.col("text"), " "), 1, 3)
        ).alias("sources_list"),
        nested.scenario_presence(F.col("scenario")).alias("has_scenario"),
    )
    return assembled.drop("doc_id")


@register(
    "stream_interval_join",
    survey_ref="§2.10 [EXT] stream-stream interval join (batch=streaming "
    "code; true streaming execution in tests/test_streaming.py)",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_s
    FROM events c JOIN events p
      ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase correlation within a 10-minute horizon — the SAME
    function the streaming test runs with watermarks on both sides.
    (floor(epoch) per side in the oracle mirrors unix_timestamp's
    sub-second truncation.)"""
    from shippai_knowledge_etl_spark.streaming.joins import click_purchase_pairs

    ev = load(spark, sf_dir, "events")
    return click_purchase_pairs(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


@register(
    "w9_rolling_range_window",
    survey_ref=(
        "§2.9-adjacent (beyond-reference built-in): event-time RANGE "
        "window — rolling 1-hour per-user sum/count framed by VALUE "
        "(rangeBetween), not row position; the frame is a pure function "
        "of the timestamp so ties and partitioning can't change it"
    ),
    oracle="""
    -- floor(epoch), not CAST: DuckDB CAST rounds fractional seconds
    -- while Spark unix_timestamp floors
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE), 4)
             AS rolling_sum,
           CAST(count(*) OVER w AS BIGINT) AS rolling_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def w9_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour window per user over event time using
    ``rangeBetween`` — the value-framed window form (rows-framed W5/W7
    cover the positional form). DECIMAL inside, rounded DOUBLE at the
    gate boundary; the window shuffle is user-partitioned, never
    global. At 100 TB this is the 'recent activity per key' primitive:
    state per partition is one sort run, and AQE handles user skew."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    ts_epoch = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_epoch)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        ts_epoch.alias("ts_epoch"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double"),
            4,
        ).alias("rolling_sum"),
        F.count(F.lit(1)).over(w).alias("rolling_n"),
    )


@register(
    "stream_static_enrich",
    survey_ref="§2.10 [EXT] stream-static enrichment join (batch=streaming "
    "code; true streaming execution in tests/test_streaming.py): events → "
    "broadcast customer dim → broadcast nation dim → keyed aggregate",
    oracle="""
    SELECT n.n_name, count(*) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, batch-checked: the SAME function the
    streaming test runs against readStream events. Both dims broadcast
    (no state store, no stream-side shuffle before the final keyed
    aggregate — the third §2.10 join shape next to stream-stream and
    batch J1)."""
    from shippai_knowledge_etl_spark.streaming.joins import enriched_nation_counts

    return enriched_nation_counts(
        load(spark, sf_dir, "events"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
    )


@register(
    "w10_funnel_conversion",
    survey_ref="§2.9-adjacent (beyond-reference built-in): ordered-event "
    "funnel (view → click → purchase): stage timestamps are min() over "
    "stage-filtered events constrained to follow the prior stage — the "
    "sequential-pattern analytics a MATCH_RECOGNIZE engine does, as "
    "three user-keyed aggregates + broadcastable per-user joins",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id)
    SELECT v.user_id,
           CAST(floor(epoch(v.t_view)) AS BIGINT) AS t_view,
           CAST(floor(epoch(c.t_click)) AS BIGINT) AS t_click,
           CAST(floor(epoch(p.t_purchase)) AS BIGINT) AS t_purchase,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS stage_reached
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def w10_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel: first view, first click at-or-after it, first
    purchase at-or-after that; stage_reached summarizes how deep each
    user got. Every stage is a user-keyed min() aggregate (map-side
    combined) joined on user_id — AQE broadcasts the shrinking stage
    tables at scale, and nothing ever sorts the raw event stream."""
    ev = load(spark, sf_dir, "events")

    def stage(event_type: str, after: DataFrame | None, after_col: str):
        e = ev.filter(F.col("event_type") == event_type)
        if after is not None:
            e = e.join(after, "user_id").filter(
                F.col("ts") >= F.col(after_col)
            )
        return e.groupBy("user_id").agg(
            F.min("ts").alias(f"ts_{event_type}")
        )

    v = stage("view", None, "")
    c = stage("click", v.select("user_id", F.col("ts_view")), "ts_view")
    p = stage(
        "purchase", c.select("user_id", F.col("ts_click")), "ts_click"
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.unix_timestamp("ts_view").alias("t_view"),
            F.unix_timestamp("ts_click").alias("t_click"),
            F.unix_timestamp("ts_purchase").alias("t_purchase"),
            F.when(F.col("ts_purchase").isNotNull(), 3)
            .when(F.col("ts_click").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("stage_reached"),
        )
    )


@register(
    "w12_sessionization",
    survey_ref="§2.9-adjacent (beyond-reference built-in): gap-based "
    "batch sessionization — per-user lag + running session counter, "
    "both windows user-partitioned over ONE user-keyed shuffle that "
    "the per-session rollup reuses; integer epoch-second gap math",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             value,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
             ) AS prev_t
      FROM events),
    f AS (
      SELECT user_id, event_id, t, value,
             CASE WHEN prev_t IS NULL OR t - prev_t > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM o),
    s AS (
      SELECT user_id, t, value,
             sum(new_s) OVER (PARTITION BY user_id
                              ORDER BY t, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM f)
    SELECT user_id, CAST(session_idx AS INT) AS session_idx,
           CAST(min(t) AS BIGINT) AS session_start,
           CAST(max(t) AS BIGINT) AS session_end,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def w12_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity boundary): a new
    session opens when a user's inter-event gap exceeds 1800 s; each
    session reports its bounds, event count, and value sum.

    Scale shape: ONE hash shuffle on user_id serves everything — the
    lag window, the running session counter, and the per-session
    rollup all share the user partitioning (AQE coalesces, never
    re-shuffles), and nothing sorts the raw stream globally. Ordering
    is (epoch-second, event_id) on BOTH engines so within-second ties
    can't diverge; gap math is pure integer. The DECIMAL value sum is
    exact and order-independent, cast to rounded DOUBLE only at the
    gate boundary."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("t"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    prev = F.lag("t").over(w)
    new_s = F.when(
        prev.isNull() | ((F.col("t") - prev) > 1800), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("new_s", new_s)
        .withColumn(
            "session_idx",
            F.sum("new_s")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("int"),
        )
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("t").alias("session_start"),
        F.max("t").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    )


@register(
    "w11_retention_cohorts",
    survey_ref="§2.9-adjacent (beyond-reference built-in): retention "
    "cohort matrix — users bucketed by first-seen week, activity counted "
    "per weeks-since-cohort offset; two user/week-keyed aggregates plus "
    "a broadcastable first-seen join, pure integer epoch-week math",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             CAST(floor(floor(epoch(min(ts))) / 604800) AS BIGINT)
               AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS week
      FROM events)
    SELECT f.cohort_week,
           CAST(a.week - f.cohort_week AS INT) AS weeks_since,
           count(*) AS n_active_users
    FROM activity a JOIN first_seen f USING (user_id)
    GROUP BY f.cohort_week, weeks_since
    """,
)
def w11_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many users of each first-seen-week cohort are active N
    weeks later. Epoch-week bucketing is integer division (no
    calendar/timezone arithmetic to diverge between engines); the
    per-user first-seen table shrinks to one row per user so the join
    broadcasts at scale."""
    ev = load(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    first_seen = ev.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = ev.select("user_id", week.alias("week")).distinct()
    return (
        activity.join(F.broadcast(first_seen), "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias(
                "weeks_since"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "w13_markov_transitions",
    survey_ref="§2.9-adjacent (beyond-reference built-in): first-order "
    "Markov transition matrix over per-user event sequences — lag on "
    "the same user-keyed shuffle as w12_sessionization, pair counts "
    "partial-aggregated map-side to at most |types|^2 rows, "
    "row-normalized against a broadcastable outgoing total",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
             ) AS prev_type
      FROM events),
    pairs AS (
      SELECT prev_type, event_type AS next_type,
             count(*) AS n_transitions
      FROM o WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type),
    tot AS (
      SELECT prev_type, sum(n_transitions) AS n_out
      FROM pairs GROUP BY prev_type)
    SELECT p.prev_type, p.next_type,
           CAST(p.n_transitions AS BIGINT) AS n_transitions,
           round(CAST(p.n_transitions AS DOUBLE) / t.n_out, 6) AS prob
    FROM pairs p JOIN tot t USING (prev_type)
    """,
)
def w13_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    P(next event type | previous event type), the behavioral model
    behind next-action prediction and anomaly scoring (an observed
    transition with near-zero probability is the anomaly signal).

    Scale shape: the lag window rides ONE user-keyed hash shuffle —
    the identical partitioning ``w12_sessionization`` uses, so a
    pipeline computing both reuses the exchange. The (prev, next) pair
    counts partial-aggregate map-side and the result is bounded by
    |event types|^2 regardless of corpus size, so the normalizing
    outgoing-total join broadcasts. Ordering is (epoch-second,
    event_id) on BOTH engines so within-second ties can't diverge;
    counts are exact integers and the single division happens once per
    output row, ``round(x, 6)`` with identical operand order."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("t"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = pairs.groupBy("prev_type").agg(
        F.sum("n_transitions").alias("n_out")
    )
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.round(
            F.col("n_transitions").cast("double") / F.col("n_out"), 6
        ).alias("prob"),
    )


# 16-bit Morton interleave of (user bucket, epoch-minute bucket) —
# the Spark side builds the identical term order via operators/layout
from shippai_knowledge_etl_spark.operators.layout import (  # noqa: E402
    zorder_key2,
    zorder_key2_sql,
)

_Z_SQL = zorder_key2_sql("xb", "yb", bits=16)


@register(
    "layout_zorder_events",
    survey_ref="[EXT] Z-order (Morton) clustering key over "
    "(user, event-minute) — the OPTIMIZE ZORDER BY primitive: sorting "
    "by the interleaved key gives min/max-pruned scans locality in "
    "BOTH dimensions; pure codegen bit math, no UDF, no shuffle "
    "(operators/layout.py:zorder_key2)",
    oracle=f"""
    WITH b AS (
      SELECT event_id,
             user_id & 65535 AS xb,
             (CAST(floor(epoch(ts)) AS BIGINT) // 60) & 65535 AS yb
      FROM events)
    SELECT event_id, CAST(xb AS BIGINT) AS xb, CAST(yb AS BIGINT) AS yb,
           CAST({_Z_SQL} AS BIGINT) AS zkey
    FROM b
    """,
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key per event over (user_id low 16 bits, epoch-minute
    low 16 bits). Writing the table sorted by ``zkey``
    (repartitionByRange + sortWithinPartitions) makes BOTH
    per-user scans and time-range scans prune on parquet min/max —
    a lexicographic (user, ts) sort serves only the user axis.
    The key is exact integer bit math (disjoint-bit fixed-order
    addition ≡ OR), so the demo is fully hash-checked; the quadrant
    locality property is pinned in tests/test_functions.py."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(65535)).alias("xb"),
        (F.floor(F.unix_timestamp("ts") / 60).cast("long"))
        .bitwiseAND(F.lit(65535))
        .alias("yb"),
    )
    return ev.select(
        "event_id",
        F.col("xb").cast("long").alias("xb"),
        F.col("yb").cast("long").alias("yb"),
        zorder_key2(F.col("xb"), F.col("yb"), bits=16)
        .cast("long")
        .alias("zkey"),
    )


@register(
    "w14_attribution_last_touch",
    survey_ref="§2.9-adjacent (beyond-reference built-in): last-touch "
    "conversion attribution — each purchase credited to the user's "
    "most recent PRIOR non-purchase event via a conditional running "
    "max over the shared user-keyed shuffle; the (t, event_id) pair "
    "packs into one BIGINT so the argmax is pure integer",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type
      FROM events),
    marked AS (
      SELECT user_id, event_id, t, event_type,
             max(CASE WHEN event_type <> 'purchase'
                      THEN t * 1000000000 + event_id END) OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS touch_key
      FROM ev),
    conv AS (
      SELECT user_id, event_id AS conv_event_id, t AS conv_t, touch_key
      FROM marked WHERE event_type = 'purchase')
    SELECT c.user_id, c.conv_event_id, c.conv_t,
           c.touch_key % 1000000000 AS touch_event_id,
           e.event_type AS touch_type,
           c.conv_t - c.touch_key // 1000000000 AS gap_s
    FROM conv c
    LEFT JOIN ev e ON e.event_id = c.touch_key % 1000000000
    """,
)
def w14_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which action gets credit for each purchase: the user's most
    recent earlier non-purchase event (last-touch attribution), with
    the seconds gap between touch and conversion. Purchases with no
    prior touch keep NULL credit — visible, not dropped.

    Scale shape: the conditional running max rides the SAME
    user-keyed shuffle as w12/w13 (one hash partitioning serves the
    whole behavioral family); the (t, event_id) argmax packs into ONE
    BIGINT (t*1e9 + id — integer-exact, no struct comparisons at the
    gate boundary; epoch*1e9 + id stays under 2^63 through year ~2262
    for ids < 1e9, and an id-richer stream would carry a struct
    argmax instead), so state per row is one long; the touch-type
    lookup is an event_id equi-join. Ordering is (epoch-second,
    event_id) on both engines."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("t"),
        "event_type",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = F.when(
        F.col("event_type") != "purchase",
        F.col("t") * 1000000000 + F.col("event_id"),
    )
    conv = (
        ev.withColumn("touch_key", F.max(packed).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("conv_event_id"),
            F.col("t").alias("conv_t"),
            "touch_key",
        )
    )
    touch = ev.select(
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
    )
    return (
        conv.withColumn(
            "touch_event_id", F.col("touch_key") % 1000000000
        )
        .join(touch, "touch_event_id", "left")
        .select(
            "user_id",
            "conv_event_id",
            "conv_t",
            "touch_event_id",
            "touch_type",
            (
                F.col("conv_t") - F.expr("touch_key div 1000000000")
            ).alias("gap_s"),
        )
    )


@register(
    "w15_cusum_drift",
    survey_ref="§2.9-adjacent (beyond-reference built-in): CUSUM "
    "change-point detection on daily event volume (Page 1954) — the "
    "volume-drift monitor for ingest pipelines; the recurrence "
    "max(0, prev + x - k) is rewritten as prefix-sum minus running "
    "min, so it is two plain windows over the DAY-sized rollup, "
    "integer end to end",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY day),
    k AS (
      SELECT sum(n) // count(*) AS kk, count(*) AS n_days FROM daily),
    s AS (
      SELECT d.day, d.n, d.n - k.kk AS dev,
             sum(d.n - k.kk) OVER (ORDER BY d.day
               ROWS UNBOUNDED PRECEDING) AS ps
      FROM daily d CROSS JOIN k),
    c AS (
      SELECT day, n, ps,
             min(ps) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS mn
      FROM s)
    SELECT day, CAST(n AS BIGINT) AS n,
           CAST(ps - least(mn, 0) AS BIGINT) AS cusum
    FROM c
    """,
)
def w15_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day CUSUM statistic of event volume against the corpus-mean
    daily rate: a sustained rate shift accumulates, noise cancels —
    the classic ingest-drift alarm (threshold the ``cusum`` column).

    The textbook recurrence C_t = max(0, C_{t-1} + x_t - k) is not a
    plain aggregate, but C_t = S_t - min(0, min_{i<=t} S_i) for the
    prefix sums S of (x - k) — two stacked windows, no recursion, no
    UDF. Scale shape: the day rollup cuts the stream to |days| rows
    FIRST (map-side partial count), so the two global running windows
    move only day-sized data through their SinglePartition exchange
    (the ext_zipf_fit bounded-input discipline); k is an integer
    floor-mean from a 1-row broadcast. Everything is exact integer
    math — no float drift, no rounding."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.unix_timestamp("ts").cast("long") / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    k = daily.agg(
        (F.sum("n") / F.count(F.lit(1)))
        .cast("long")
        .alias("kk")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    s = daily.crossJoin(F.broadcast(k)).withColumn(
        "ps", F.sum(F.col("n") - F.col("kk")).over(w)
    )
    c = s.withColumn("mn", F.min("ps").over(w))
    return c.select(
        "day",
        F.col("n").cast("long").alias("n"),
        (F.col("ps") - F.least(F.col("mn"), F.lit(0)))
        .cast("long")
        .alias("cusum"),
    )


@register(
    "w16_time_weighted_avg",
    survey_ref="§2.9-adjacent (beyond-reference built-in): "
    "time-weighted average over irregularly sampled values — the "
    "hypertable-rollup signature aggregate (left-constant "
    "interpolation): per-user lead window on the shared user-keyed "
    "shuffle, DECIMAL value x integer-second areas summed exactly",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(round(value, 4) AS DECIMAL(18,4)) AS xr,
             lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
             ) AS nxt
      FROM events),
    agg AS (
      SELECT user_id,
             count(*) AS n_samples,
             max(t) - min(t) AS span_s,
             sum(CASE WHEN nxt IS NOT NULL
                      THEN xr * (nxt - t)
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS area,
             min(CASE WHEN rn = 1 THEN xr END) AS first_x
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id
              ORDER BY t, event_id) AS rn FROM o)
      GROUP BY user_id)
    SELECT user_id, CAST(n_samples AS BIGINT) AS n_samples,
           CAST(span_s AS BIGINT) AS span_s,
           CASE WHEN span_s > 0
                THEN round(CAST(area AS DOUBLE) / span_s, 6)
                ELSE round(CAST(first_x AS DOUBLE), 6) END AS twa
    FROM agg
    """,
)
def w16_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted mean of ``value`` per user over irregular event
    times (left-constant / last-observation-carried-forward
    interpolation): Σ value_i·(t_{i+1}−t_i) / (t_last−t_first). A
    plain average over-weights bursts of samples; the TWA weights
    each observation by how long it was current — the canonical
    irregular-time-series rollup Spark has no builtin for.
    Zero-span users (one event, or all within one second) fall back
    to the first value, visibly via span_s = 0.

    Scale shape: ONE user-keyed shuffle carries the lead window, the
    first-value rank, and the rollup (the w12/w13/w14 shared
    partitioning); areas are DECIMAL(18,4) values × integer-second
    gaps — exact and partitioning-independent — with the single
    division rounded 6 dp at the gate."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("t"),
        F.round(F.col("value"), 4).cast("decimal(18,4)").alias("xr"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    o = ev.withColumn("nxt", F.lead("t").over(w)).withColumn(
        "rn", F.row_number().over(w)
    )
    zero = F.lit(0).cast("decimal(18,4)")
    agg = o.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        (F.max("t") - F.min("t")).cast("long").alias("span_s"),
        F.sum(
            F.when(
                F.col("nxt").isNotNull(),
                F.col("xr") * (F.col("nxt") - F.col("t")),
            ).otherwise(zero)
        ).alias("area"),
        F.min(F.when(F.col("rn") == 1, F.col("xr"))).alias("first_x"),
    )
    return agg.select(
        "user_id",
        "n_samples",
        "span_s",
        F.when(
            F.col("span_s") > 0,
            F.round(F.col("area").cast("double") / F.col("span_s"), 6),
        )
        .otherwise(F.round(F.col("first_x").cast("double"), 6))
        .alias("twa"),
    )


@register(
    "w17_gapfill_locf",
    survey_ref="§2.9-adjacent (beyond-reference built-in): "
    "time_bucket_gapfill + last-observation-carried-forward — "
    "resample each user's irregular series onto a regular 1-hour "
    "grid, empty buckets filled from the last observed bucket; grid "
    "generation is per-user sequence/explode (narrow), the fill is "
    "one IGNORE NULLS window on the user-keyed shuffle",
    oracle="""
    WITH o AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bkt,
             CAST(round(value, 4) AS DECIMAL(18,4)) AS xr,
             CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
      FROM events),
    per_bucket AS (
      SELECT user_id, bkt,
             CAST(count(*) AS BIGINT) AS n_obs,
             min(CASE WHEN rn = 1 THEN xr END) AS last_x
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id, bkt
              ORDER BY t DESC, event_id DESC) AS rn FROM o)
      GROUP BY user_id, bkt),
    bounds AS (
      SELECT user_id, min(bkt) AS lo, max(bkt) AS hi
      FROM per_bucket GROUP BY user_id),
    grid AS (
      SELECT b.user_id, unnest(range(b.lo, b.hi + 1)) AS bkt
      FROM bounds b),
    joined AS (
      SELECT g.user_id, g.bkt,
             coalesce(p.n_obs, 0) AS n_obs,
             p.last_x
      FROM grid g LEFT JOIN per_bucket p
        ON p.user_id = g.user_id AND p.bkt = g.bkt)
    SELECT user_id, CAST(bkt AS BIGINT) AS bkt,
           CAST(n_obs AS BIGINT) AS n_obs,
           n_obs = 0 AS filled,
           round(CAST(last_value(last_x IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bkt
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS x_locf
    FROM joined
    """,
)
def w17_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's event series onto a 1-hour grid: every
    bucket between the user's first and last observation exists in
    the output, empty buckets are marked ``filled`` and carry the
    last observed bucket's closing value forward (LOCF) — the
    time_bucket_gapfill + locf combination dashboards and
    feature-window pipelines need before any rolling computation.

    Scale shape: per-bucket closing values partial-aggregate on
    (user, bucket); the grid is a per-user sequence/explode (narrow —
    never a calendar cross join against the user dimension); the fill
    is ONE ``last(..., ignorenulls)`` window on the same user-keyed
    shuffle the behavioral family shares. The closing value per
    bucket is picked by (t, event_id) DESC rank on both engines, so
    within-bucket ties can't diverge; values are 4-dp DECIMAL until
    the gate boundary."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("t"),
        F.round(F.col("value"), 4).cast("decimal(18,4)").alias("xr"),
    ).withColumn("bkt", F.expr("t div 3600"))
    wb = Window.partitionBy("user_id", "bkt").orderBy(
        F.desc("t"), F.desc("event_id")
    )
    per_bucket = (
        ev.withColumn("rn", F.row_number().over(wb))
        .groupBy("user_id", "bkt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.min(F.when(F.col("rn") == 1, F.col("xr"))).alias("last_x"),
        )
    )
    bounds = per_bucket.groupBy("user_id").agg(
        F.min("bkt").alias("lo"), F.max("bkt").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bkt"),
    )
    joined = grid.join(per_bucket, ["user_id", "bkt"], "left").select(
        "user_id",
        "bkt",
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
        "last_x",
    )
    wfill = (
        Window.partitionBy("user_id")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.col("bkt").cast("long").alias("bkt"),
        "n_obs",
        (F.col("n_obs") == 0).alias("filled"),
        F.round(
            F.last("last_x", ignorenulls=True).over(wfill).cast("double"),
            4,
        ).alias("x_locf"),
    )


@register(
    "w18_lttb_downsample",
    survey_ref="§2.9-adjacent (beyond-reference built-in): "
    "largest-triangle-three-buckets downsampling (Steinarsson 2013) — "
    "per-series sequential selection as a grouped applyInPandas "
    "(series independent, one series per task); no relational analog "
    "for the recurrence → rows-only, golden kernel + invariants in "
    "tests/test_functions.py (operators/timeseries.py:lttb_downsample)",
)
def w18_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's value series downsampled to <= 12 visually
    representative points: endpoints always kept, each interior
    bucket contributes the point forming the largest triangle with
    the previous pick and the next bucket's centroid — peaks and
    reversals survive where uniform sampling flattens them. Ties
    break to the earliest point, so the result is deterministic at
    any parallelism."""
    from shippai_knowledge_etl_spark.operators.timeseries import (
        lttb_downsample,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.col("value").alias("x"),
    )
    return lttb_downsample(ev, "user_id", "t", "x", k=12)


@register(
    "behavior_user_profile",
    survey_ref="behavioral composition flagship (beyond-reference "
    "built-in): per-user profile — event count, gap-based session "
    "count (the w12 machinery), conversion count, modal event type, "
    "exact value sum — everything served off ONE user-keyed hash "
    "partitioning; the oracle re-assembles each stage's CTE",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t, value,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
             ) AS prev_t
      FROM events),
    sess AS (
      SELECT user_id,
             sum(CASE WHEN prev_t IS NULL OR t - prev_t > 1800
                      THEN 1 ELSE 0 END) AS n_sessions
      FROM o GROUP BY user_id),
    mode_t AS (
      SELECT user_id, event_type AS top_event_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY count(*) DESC, event_type ASC) AS rn
        FROM events GROUP BY user_id, event_type)
      WHERE rn = 1),
    base AS (
      SELECT user_id, count(*) AS n_events,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_conversions,
             round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4)))
                        AS DOUBLE), 4) AS sum_value
      FROM events GROUP BY user_id)
    SELECT b.user_id, CAST(b.n_events AS BIGINT) AS n_events,
           CAST(s.n_sessions AS BIGINT) AS n_sessions,
           CAST(b.n_conversions AS BIGINT) AS n_conversions,
           m.top_event_type, b.sum_value
    FROM base b
    JOIN sess s USING (user_id)
    JOIN mode_t m USING (user_id)
    """,
)
def behavior_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One feature row per user: activity volume, gap-based session
    count (30-min boundary, the w12_sessionization machinery),
    conversion count, modal event type (count-desc, name-asc
    tie-break), and the exact DECIMAL value sum — the profile a
    personalization or LTV model consumes.

    Scale shape: the session counter's lag window, the per-user
    rollup, and the final joins all ride ONE user-keyed hash
    partitioning (AQE coalesces, never re-shuffles); the modal type
    adds a (user, type) partial agg whose argmax window is
    user-partitioned; joins are user-keyed equi-joins of
    user-sized tables."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("t"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    prev = F.lag("t").over(w)
    sess = (
        ev.withColumn(
            "new_s",
            F.when(prev.isNull() | ((F.col("t") - prev) > 1800), 1)
            .otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_s").cast("long").alias("n_sessions"))
    )
    wmode = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    mode_t = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(wmode))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"))
    )
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("n_conversions"),
        F.round(
            F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)"))
            .cast("double"),
            4,
        ).alias("sum_value"),
    )
    return base.join(sess, "user_id").join(mode_t, "user_id").select(
        "user_id",
        "n_events",
        "n_sessions",
        "n_conversions",
        "top_event_type",
        "sum_value",
    )


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, day, n) event-count rollup under the grid; w31,
    w36 and w38 read it directly."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type", _day()).agg(F.count(F.lit(1)).alias("n"))


def _daily_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (event_type, day, n) daily-volume grid: every type crossed
    with every day that has any event, missing cells counted as 0, so
    ROWS frames equal true time windows. The one grid fill of the
    time-series family — w19, w20, w21, w22, w23, w28, w35,
    stream_holt_replay, w37 and stream_hw_replay all read it (the
    oracles' ``_DAILY_GRID_SQL`` / ``grid`` CTEs)."""
    daily = _daily_counts(spark, sf_dir)
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    grid = types.crossJoin(days)
    return grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )


_DAILY_GRID_SQL = """
    daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY event_type, day),
    days AS (SELECT DISTINCT day FROM daily),
    types AS (SELECT DISTINCT event_type FROM daily),
    grid AS (SELECT t.event_type, d.day FROM types t CROSS JOIN days d),
    filled AS (
      SELECT g.event_type, g.day, coalesce(x.n, 0) AS n
      FROM grid g LEFT JOIN daily x
        ON x.event_type = g.event_type AND x.day = g.day)
"""


@register(
    "w19_burst_detection",
    survey_ref="§2.9-adjacent (beyond-reference built-in): per-key "
    "burst detection — each event type's daily volume against its own "
    "trailing-7-day baseline (CUSUM's per-key complement: CUSUM finds "
    "sustained global drift, this finds per-category spikes); dense "
    "(type, day) grid fill so ROWS frames equal time windows, "
    "integer-exact burst flag gated on a FULL baseline week",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY event_type, day),
    days AS (SELECT DISTINCT day FROM daily),
    types AS (SELECT DISTINCT event_type FROM daily),
    grid AS (SELECT t.event_type, d.day FROM types t CROSS JOIN days d),
    filled AS (
      SELECT g.event_type, g.day, coalesce(x.n, 0) AS n
      FROM grid g LEFT JOIN daily x
        ON x.event_type = g.event_type AND x.day = g.day),
    scored AS (
      SELECT event_type, day, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS base7,
             count(*) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS days7
      FROM filled)
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CAST(coalesce(base7, 0) AS BIGINT) AS base7,
           CAST(days7 AS INT) AS days7,
           round(CAST(days7 * n AS DOUBLE)
                 / greatest(coalesce(base7, 0), 1), 6) AS burst_ratio,
           days7 = 7 AND coalesce(base7, 0) > 0
             AND 7 * n >= 2 * coalesce(base7, 0) AS is_burst
    FROM scored
    """,
)
def w19_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily volume against its own trailing-week
    baseline: burst_ratio ≈ today / trailing-daily-average, and an
    integer-exact flag at the 2x threshold (7·n ≥ 2·base7 — no float
    boundary). CUSUM (w15) finds sustained global drift; this finds
    which CATEGORY spiked today.

    Scale shape: the (type, day) rollup cuts the stream first
    (map-side partials); the grid fill is a dimension-by-dimension
    cross of two SMALL distinct sets (types × days — never the raw
    stream) so missing days count as zero and the ROWS frame equals a
    true time window; the baseline is one type-partitioned window on
    the rollup."""
    from pyspark.sql import Window

    filled = _daily_grid(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    scored = filled.withColumn(
        "base7", F.coalesce(F.sum("n").over(w), F.lit(0))
    ).withColumn("days7", F.count(F.lit(1)).over(w))
    return scored.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("base7").cast("long").alias("base7"),
        F.col("days7").cast("int").alias("days7"),
        F.round(
            (F.col("days7") * F.col("n")).cast("double")
            / F.greatest(F.col("base7"), F.lit(1)),
            6,
        ).alias("burst_ratio"),
        (
            (F.col("days7") == 7)
            & (F.col("base7") > 0)
            & (7 * F.col("n") >= 2 * F.col("base7"))
        ).alias("is_burst"),
    )


@register(
    "w20_forecast_backtest",
    survey_ref="§2.9-adjacent (beyond-reference built-in): "
    "seasonal-naive forecast backtest — predict each (type, day) "
    "volume as the same type's volume 7 days earlier, score MAE and "
    "bias per type over the evaluable window; the baseline every "
    "real forecaster must beat, and the backtest harness is the "
    "reusable part (lag on the dense grid, integer errors)",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY event_type, day),
    days AS (SELECT DISTINCT day FROM daily),
    types AS (SELECT DISTINCT event_type FROM daily),
    grid AS (SELECT t.event_type, d.day FROM types t CROSS JOIN days d),
    filled AS (
      SELECT g.event_type, g.day, coalesce(x.n, 0) AS n
      FROM grid g LEFT JOIN daily x
        ON x.event_type = g.event_type AND x.day = g.day),
    preds AS (
      SELECT event_type, day, n,
             lag(n, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS pred
      FROM filled)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(abs(n - pred)) AS BIGINT) AS abs_err_sum,
           CAST(sum(n - pred) AS BIGINT) AS bias_sum,
           round(CAST(sum(abs(n - pred)) AS DOUBLE) / count(*), 6)
             AS mae
    FROM preds WHERE pred IS NOT NULL
    GROUP BY event_type
    """,
)
def w20_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict = value 7
    days earlier) on per-type daily volumes: MAE and signed bias per
    type over every day with a week of history. Seasonal-naive is
    the floor any real model must beat, and this harness — dense
    grid, lag-k prediction column, integer error aggregates — is
    what a real backtest reuses with a better ``pred``.

    Scale shape: identical to w19's — the (type, day) rollup cuts
    the stream first, the grid is a small-dimension cross, the lag
    and error aggregates ride the type-keyed partitioning; errors
    are exact integers with one rounded division per type."""
    from pyspark.sql import Window

    filled = _daily_grid(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    preds = filled.withColumn("pred", F.lag("n", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.col("n") - F.col("pred")
    return preds.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_scored"),
        F.sum(F.abs(err)).cast("long").alias("abs_err_sum"),
        F.sum(err).cast("long").alias("bias_sum"),
        F.round(
            F.sum(F.abs(err)).cast("double") / F.count(F.lit(1)), 6
        ).alias("mae"),
    )


# Dyadic EWMA kernel: alpha = 1/2 truncated at 7 taps. Integer weights
# 64..1 (newest..oldest) sum to 127, so the smoother is ONE integer
# dot product and ONE division — no float recurrence, no cross-engine
# pow(), and the truncation error vs the infinite kernel is bounded by
# x_max/128 (documented, deterministic).
_EWMA_WEIGHTS = (64, 32, 16, 8, 4, 2, 1)


@register(
    "w21_ewma_smoother",
    survey_ref="§2.9-adjacent (beyond-reference built-in): EWMA "
    "trend smoother over per-type daily volume — alpha=1/2 kernel "
    "truncated at 7 taps with dyadic integer weights (64..1)/127, so "
    "the recurrence becomes one integer dot product over lags on the "
    "dense grid; NULL until a full window (ramp-in rows visible, the "
    "w19 lesson)",
    oracle=f"""
    WITH {_DAILY_GRID_SQL},
    lagged AS (
      SELECT event_type, day, n,
             {", ".join(
                 f"lag(n, {k}) OVER (PARTITION BY event_type ORDER BY day)"
                 f" AS l{k}" for k in range(1, 7)
             )},
             count(*) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS days7
      FROM filled)
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CASE WHEN days7 = 7 THEN CAST(
             64 * n + 32 * l1 + 16 * l2 + 8 * l3 + 4 * l4 + 2 * l5 + l6
             AS BIGINT) END AS ewma_num,
           CASE WHEN days7 = 7 THEN round(CAST(
             64 * n + 32 * l1 + 16 * l2 + 8 * l3 + 4 * l4 + 2 * l5 + l6
             AS DOUBLE) / 127.0, 6) END AS ewma
    FROM lagged
    """,
)
def w21_ewma_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each event type's
    daily volume — the trend line dashboards draw and alerting
    baselines subtract. The classic EWMA is a sequential float
    recurrence (unexpressible exactly in either engine without UDFs);
    at alpha = 1/2 the kernel is dyadic, so truncating at 7 taps gives
    integer weights 64..1 over the lag columns — one codegen'd dot
    product, numerator exact at any parallelism, a single rounded
    division at the gate. Ramp-in rows (fewer than 7 grid days) emit
    NULL rather than a silently-underweighted average.

    Scale shape: the (type, day) rollup cuts the stream map-side; the
    lag window and the full-window count share the one type-keyed
    shuffle of the w19/w20 family; the grid fill crosses two SMALL
    distinct dims, never the raw stream."""
    from pyspark.sql import Window

    filled = _daily_grid(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = filled.select(
        "event_type",
        "day",
        "n",
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in range(1, 7)],
        F.count(F.lit(1))
        .over(w.rowsBetween(-6, 0))
        .alias("days7"),
    )
    num = sum(
        (F.lit(wt) * (F.col("n") if k == 0 else F.col(f"l{k}")))
        for k, wt in enumerate(_EWMA_WEIGHTS)
    )
    full = F.col("days7") == 7
    return lagged.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.when(full, num.cast("long")).alias("ewma_num"),
        F.when(full, F.round(num.cast("double") / 127.0, 6)).alias("ewma"),
    )


@register(
    "w22_mad_outliers",
    survey_ref="§2.9-adjacent (beyond-reference built-in): "
    "median/MAD robust outlier flag per event type — the robust "
    "complement of w19's trailing-mean burst ratio (one 10x day "
    "cannot drag a median the way it drags a mean); exact "
    "interpolated percentiles on integer counts are dyadic rationals, "
    "so the 3-MAD threshold compare is bit-identical across engines",
    oracle=f"""
    WITH {_DAILY_GRID_SQL},
    med AS (
      SELECT event_type, quantile_cont(n, 0.5) AS med
      FROM filled GROUP BY event_type),
    dev AS (
      SELECT f.event_type, f.day, f.n, m.med,
             abs(f.n - m.med) AS adev
      FROM filled f JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
           round(d.med, 6) AS med,
           round(m.mad, 6) AS mad,
           d.n > d.med + 3 * m.mad AS is_outlier
    FROM dev d JOIN mad m USING (event_type)
    """,
)
def w22_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier days: flag any day whose volume exceeds
    median + 3·MAD of that type's own daily history. The mean-based
    burst ratio (w19) is itself dragged by the spike it is trying to
    flag; median/MAD is the standard robust replacement (Leys et al.
    2013). All quantities are exact interpolated percentiles of
    integers — dyadic rationals that both engines represent exactly —
    so the threshold comparison cannot flicker at the boundary.

    Scale shape: the dense grid aggregates to |types| median rows
    twice (exact percentile is a sort-based agg over each type's ~day
    count — bounded by the calendar, not the stream); both joins
    broadcast the tiny per-type tables back onto the grid."""
    filled = _daily_grid(spark, sf_dir)
    med = filled.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = filled.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        (F.col("n") > F.col("med") + 3 * F.col("mad")).alias("is_outlier"),
    )


@register(
    "w23_theil_sen_trend",
    survey_ref="§2.9-adjacent (beyond-reference built-in): Theil-Sen "
    "robust trend per event type — median of all pairwise day-slopes "
    "on the dense grid (Theil 1950/Sen 1968); the |days|²-bounded "
    "pair expansion never touches the raw stream, and the slope "
    "multiset is identical on both engines so the interpolated "
    "median matches bit-for-bit",
    oracle=f"""
    WITH {_DAILY_GRID_SQL},
    pairs AS (
      SELECT a.event_type,
             (b.n - a.n) / CAST(b.day - a.day AS DOUBLE) AS slope
      FROM filled a
      JOIN filled b ON b.event_type = a.event_type AND b.day > a.day)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS sen_slope,
           quantile_cont(slope, 0.5) > 0 AS rising
    FROM pairs GROUP BY event_type
    """,
)
def w23_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of each event type's daily volume — the robust
    trend estimate (median of all pairwise slopes) that one anomalous
    day cannot drag, where least-squares moves with every outlier;
    the w22 median/MAD philosophy applied to TREND instead of level.

    Scale shape: the (type, day) rollup cuts the stream first; the
    pair self-join is type-keyed with fan-out C(|days|, 2) — bounded
    by the CALENDAR squared, not the corpus (a year is ~66k pairs per
    type); the median is one exact interpolated percentile per type
    over that bounded multiset. Slopes are integer-difference /
    integer-difference doubles — the same multiset on both engines,
    so the interpolated median is bit-identical; one round at the
    gate, and the rising flag compares the raw (unrounded) median to
    zero identically."""
    filled = _daily_grid(spark, sf_dir)
    a = filled.select(
        "event_type", F.col("day").alias("da"), F.col("n").alias("na")
    )
    b = filled.select(
        "event_type", F.col("day").alias("db"), F.col("n").alias("nb")
    )
    pairs = a.join(b, "event_type").filter(F.col("db") > F.col("da")).select(
        "event_type",
        (
            (F.col("nb") - F.col("na"))
            / (F.col("db") - F.col("da")).cast("double")
        ).alias("slope"),
    )
    med = F.percentile("slope", F.lit(0.5))
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(med, 6).alias("sen_slope"),
        (med > 0).alias("rising"),
    )


@register(
    "behavior_ab_test",
    survey_ref="§2.9-adjacent (beyond-reference built-in): two-"
    "proportion z-test for an A/B experiment — deterministic "
    "event_id%2 assignment, purchase-rate per variant, pooled-"
    "variance z statistic; the experimentation readout every product "
    "analytics stack runs, as ONE map-side-combined global aggregate",
    oracle="""
    WITH t AS (
      SELECT event_id % 2 AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events),
    s AS (
      SELECT sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS c_a,
             sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS n_b,
             sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS c_b
      FROM t)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
           round(c_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           round(c_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           round((c_a / CAST(n_a AS DOUBLE) - c_b / CAST(n_b AS DOUBLE))
                 / sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score,
           abs((c_a / CAST(n_a AS DOUBLE) - c_b / CAST(n_b AS DOUBLE))
               / sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                      * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant
    FROM s
    """,
)
def behavior_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase rate between a deterministic
    50/50 split (event_id parity stands in for the experiment's
    assignment hash): the readout every experimentation platform
    computes. Pooled-variance z (the standard test statistic); the
    1.96 significance gate compares the RAW z on both engines — the
    whole chain (two divisions, pooled p, sqrt) is IEEE-exactly-
    rounded ops in identical order on integer inputs, so the doubles
    are bit-identical and the flag cannot flicker.

    Scale shape: ONE global aggregate with map-side partials (four
    conditional integer sums) — the 100 TB cost is a scan plus a
    1-row exchange; no join, no window, no per-variant shuffle."""
    ev = load(spark, sf_dir, "events").select(
        (F.col("event_id") % 2).alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    s = ev.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("v") == 0, F.col("conv")).otherwise(0)).alias(
            "c_a"
        ),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("v") == 1, F.col("conv")).otherwise(0)).alias(
            "c_b"
        ),
    )
    ra = F.col("c_a") / F.col("n_a").cast("double")
    rb = F.col("c_b") / F.col("n_b").cast("double")
    pp = (F.col("c_a") + F.col("c_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (ra - rb) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("c_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


def _boundary_sweep(spark: SparkSession, sf_dir: str):
    """The sweep line w24 and w29 share: each event opens a 5-minute
    interval [s, s + 300), whose ends become +1/−1 boundary points
    ``(user_id, t, d)``. Returns the points, their user-keyed window
    ordered (t, d DESC) — an interval opening at the second another
    closes keeps the count contiguous — and the running active count
    over it, aliased ``active``."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("s")
    )
    iv = ev.select("user_id", "s", (F.col("s") + 300).alias("e"))
    pts = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t"), F.col("d").desc())
    active = F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return pts, w, active.alias("active")


@register(
    "w24_interval_coverage",
    survey_ref="§2.9-adjacent (beyond-reference built-in): interval "
    "union length via relational sweep line — each event opens a "
    "5-minute activity interval, overlaps within a user merge (+1/-1 "
    "boundary points, running active count, lead-gap sum where "
    "active > 0); the overlap-dedup every time-accounting / uptime / "
    "billing pipeline needs, one user-keyed shuffle",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events),
    pts AS (
      SELECT user_id, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT user_id, e, -1 FROM iv),
    sw AS (
      SELECT user_id, t, d,
             sum(d) OVER (PARTITION BY user_id ORDER BY t, d DESC
                          ROWS UNBOUNDED PRECEDING) AS active,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, d DESC)
               AS nxt
      FROM pts),
    sg AS (
      SELECT user_id, t, d, nxt, active,
             coalesce(lag(active) OVER (PARTITION BY user_id
                                        ORDER BY t, d DESC), 0) AS prev
      FROM sw)
    SELECT user_id,
           CAST(sum(CASE WHEN active > 0 AND nxt IS NOT NULL
                    THEN nxt - t ELSE 0 END) AS BIGINT)
             AS covered_seconds,
           CAST(sum(CASE WHEN active > 0 AND prev = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_segments
    FROM sg GROUP BY user_id
    """,
)
def w24_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total activity-covered seconds per user when every event opens
    a 5-minute interval and overlaps must NOT double-count — the
    interval-union problem behind uptime, billing, and session-
    coverage accounting. Relational sweep line: interval ends become
    +1/−1 boundary points, a running sum gives the active count, and
    the union length is the sum of gaps to the next boundary while
    active > 0. Ties order (t, d DESC) so an interval opening at the
    exact second another closes keeps coverage contiguous — written
    identically in both engines.

    Scale shape: 2 boundary rows per event; the running sum, the
    lead, and the per-user rollup all share ONE user-keyed shuffle
    (the w12/w13/w14 behavioral-family partitioning). Pure integer
    epoch arithmetic — exact at any parallelism."""
    pts, w, active = _boundary_sweep(spark, sf_dir)
    sw = pts.select(
        "user_id", "t", "d", active, F.lead("t").over(w).alias("nxt")
    )
    sg = sw.withColumn(
        "prev", F.coalesce(F.lag("active").over(w), F.lit(0))
    )
    act = F.col("active") > 0
    return sg.groupBy("user_id").agg(
        F.sum(
            F.when(
                act & F.col("nxt").isNotNull(), F.col("nxt") - F.col("t")
            ).otherwise(0)
        )
        .cast("long")
        .alias("covered_seconds"),
        F.sum((act & (F.col("prev") == 0)).cast("int"))
        .cast("long")
        .alias("n_segments"),
    )


@register(
    "w25_rolling_correlation",
    survey_ref="§2.9-adjacent (beyond-reference built-in): trailing "
    "14-day Pearson correlation between two metric series (click vs "
    "purchase daily volume) — the metric-coupling monitor; all five "
    "sufficient statistics are INTEGER window sums on the dense day "
    "grid, the r formula is one per-row double expression, so the "
    "gate holds exactly despite a rolling float statistic",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY day),
    w AS (
      SELECT day, x, y,
             count(*) OVER win AS n,
             sum(x) OVER win AS sx,
             sum(y) OVER win AS sy,
             sum(x * y) OVER win AS sxy,
             sum(x * x) OVER win AS sxx,
             sum(y * y) OVER win AS syy
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING
                     AND CURRENT ROW))
    SELECT day, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(n AS INT) AS n_days,
           CASE WHEN n = 14
                 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0 THEN
             round((n * sxy - sx * sy)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS r
    FROM w
    """,
)
def w25_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-14-day Pearson correlation between click and purchase
    daily volumes — do conversions still track traffic, or has the
    coupling broken (the incident signal a pure volume alert misses).
    The rolling statistic is float, but every sufficient statistic
    (Σx, Σy, Σxy, Σx², Σy²) is an INTEGER window sum over integer
    counts, so both engines hold identical integers and the single
    per-row r expression (cross-multiplied covariance over the sqrt
    of integer variances) is bit-identical; ramp-in and zero-variance
    windows emit NULL visibly rather than a fake r.

    Scale shape: the day rollup cuts the stream map-side (two
    conditional sums); all five window sums share ONE bounded global
    window over |days| rows (the w15/zipf discipline, allowlisted)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(_day()).agg(
        F.sum((F.col("event_type") == "click").cast("int")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("y"),
    )
    win = Window.orderBy("day").rowsBetween(-13, 0)
    w = daily.select(
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return w.select(
        "day",
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("n").cast("int").alias("n_days"),
        F.when(
            (F.col("n") == 14) & (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx.cast("double") * vy.cast("double")), 6),
        ).alias("r"),
    )


@register(
    "w26_percentile_bands",
    survey_ref="§2.9-adjacent (beyond-reference built-in): daily "
    "p10/p50/p90 value bands — the dashboard envelope chart behind "
    "every latency/value SLO; exact dyadic percentiles of integer "
    "cents per day-keyed rollup, no global sort",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT day,
           count(*) AS n,
           round(quantile_cont(cents, 0.1) / 100.0, 4) AS p10,
           round(quantile_cont(cents, 0.5) / 100.0, 4) AS p50,
           round(quantile_cont(cents, 0.9) / 100.0, 4) AS p90
    FROM c GROUP BY day
    """,
)
def w26_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p10/p50/p90 envelope of event value — the band chart
    behind every SLO dashboard (is today's median inside its usual
    envelope). Exact interpolated percentiles of integer cents are
    dyadic rationals both engines represent identically (the w22
    discipline), divided back to currency once at the gate.

    Scale shape: one day-keyed rollup; exact percentile is a
    sort-based agg WITHIN each day group (bounded by the day's
    traffic, distributed across days), never a global sort. The
    mergeable-sketch path for heavier tails is ext_hist_quantiles."""
    ev = load(spark, sf_dir, "events")
    c = ev.select(
        _day(),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return c.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("cents", F.lit(0.1)) / 100.0, 4).alias("p10"),
        F.round(F.percentile("cents", F.lit(0.5)) / 100.0, 4).alias("p50"),
        F.round(F.percentile("cents", F.lit(0.9)) / 100.0, 4).alias("p90"),
    )


@register(
    "stream_window_topk",
    survey_ref="§2.10-adjacent: per-window top event type — the "
    "windowed-rank composition (F.window tumbling buckets + one "
    "max(struct) argmax per window) that powers 'trending now' "
    "panels; defined on the batch/stream-shared window operators so "
    "the same plan runs under readStream",
    oracle="""
    WITH w AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_bucket,
             event_type, count(*) AS n
      FROM events GROUP BY hour_bucket, event_type)
    SELECT hour_bucket,
           CAST(max(n) AS BIGINT) AS top_n,
           string_split(max(
             lpad(CAST(n AS VARCHAR), 10, '0') || '|' || event_type
           ), '|')[2] AS top_type,
           count(*) AS n_types
    FROM w GROUP BY hour_bucket
    """,
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most active event type per hour — the 'trending now' rollup.
    Argmax inside each window is ONE ``max(struct(n, event_type))``
    aggregate (no rank window, no per-window shuffle beyond the
    rollup's own): the conditional-max pivot idiom, here with the
    (count, type) struct max mirrored in DuckDB as a zero-padded
    sortable string — ties break toward the lexically larger type in
    BOTH engines by the same total order.

    Scale/streaming shape: the (window, type) rollup partial-
    aggregates map-side; under ``readStream`` the identical plan runs
    with a watermark bounding window state (the stream_tumbling
    machinery — the windowed aggregation operators are batch/stream
    shared by construction, SURVEY §2.10)."""
    ev = load(spark, sf_dir, "events")
    w = ev.groupBy(
        F.expr("CAST(unix_timestamp(ts) AS LONG) div 3600").alias(
            "hour_bucket"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    top = F.max(F.struct(F.col("n"), F.col("event_type")))
    return w.groupBy("hour_bucket").agg(
        F.max("n").cast("long").alias("top_n"),
        top.getField("event_type").alias("top_type"),
        F.count(F.lit(1)).alias("n_types"),
    )


@register(
    "behavior_dau_wau",
    survey_ref="§2.9-adjacent (beyond-reference built-in): DAU / "
    "trailing-7-day WAU / stickiness per day — THE product-health "
    "triple; WAU via a bounded 7× fan-out of the (day, user) distinct "
    "rollup onto the day grid (COUNT(DISTINCT) over a trailing window "
    "exists in neither engine; the fan-out form is exact and linear)",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d
      JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day)
    SELECT d.day,
           CAST(a.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           round(CAST(a.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM days d JOIN dau a USING (day) JOIN wau w USING (day)
    """,
)
def behavior_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day weekly active users, and the
    DAU/WAU stickiness ratio — the product-health triple on every
    growth dashboard. Neither engine supports COUNT(DISTINCT) over a
    sliding window, so WAU fans the (day, user) DISTINCT rollup out
    to the ≤7 trailing grid days it serves and re-counts distinct per
    day — exact, and the fan-out is a constant 7× of the rollup (per-
    user-day rows, already a tiny fraction of the raw stream). The
    HLL-register form (ext_hll_rolling_distinct) is the constant-
    state alternative when even the rollup is too hot.

    Hash-safety: distinct integer counts and one rounded division."""
    ev = load(spark, sf_dir, "events")
    du = ev.select(_day(), "user_id").distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    d = days.alias("d")
    u = du.alias("u")
    wau = (
        d.join(
            u,
            (F.col("u.day") >= F.col("d.day") - 6)
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "behavior_market_basket",
    survey_ref="§2.9-adjacent (beyond-reference built-in): market-"
    "basket association over (user, day) baskets — support / "
    "confidence / lift for every event-type pair (the 2-itemset "
    "Apriori core): candidate pairs generated AT the basket by an "
    "i<j self-join of the distinct basket-item rollup, counts "
    "integer-exact, three rounded divisions per output row",
    oracle="""
    WITH items AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             event_type
      FROM events),
    nb AS (SELECT count(DISTINCT (user_id, day)) AS n_baskets FROM items),
    sup AS (SELECT event_type, count(*) AS n FROM items
            GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS item_a, b.event_type AS item_b,
             count(*) AS n_ab
      FROM items a
      JOIN items b ON b.user_id = a.user_id AND b.day = a.day
                   AND b.event_type > a.event_type
      GROUP BY item_a, item_b)
    SELECT p.item_a, p.item_b,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(CAST(p.n_ab AS DOUBLE) / nb.n_baskets, 6) AS support,
           round(CAST(p.n_ab AS DOUBLE) / sa.n, 6) AS confidence_a_b,
           round(CAST(p.n_ab AS DOUBLE) * nb.n_baskets
                 / (CAST(sa.n AS DOUBLE) * sb.n), 6) AS lift
    FROM pairs p
    JOIN sup sa ON sa.event_type = p.item_a
    JOIN sup sb ON sb.event_type = p.item_b
    CROSS JOIN nb
    """,
)
def behavior_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event types co-occur in the same (user, day) basket more
    than chance — support, confidence, and lift for every type pair
    (the Apriori 2-itemset core behind cross-sell and feature-bundle
    analysis; lift > 1 = genuinely associated, < 1 = substitutes).

    Scale shape: baskets collapse to DISTINCT (user, day, type) rows
    first (the stream never self-joins); the pair join is basket-
    keyed with i<j halving and fan-out bounded by items-per-basket²
    (≤|event types|² here — itemset mining always caps basket width);
    per-item supports and the 1-row basket count broadcast back.
    Exact integer counts; three rounded divisions with identical
    operand order."""
    ev = load(spark, sf_dir, "events")
    items = ev.select("user_id", _day(), "event_type").distinct()
    nb = items.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    sup = items.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.day") == F.col("a.day"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = sup.select(F.col("event_type").alias("item_a"), F.col("n").alias("n_a"))
    sb = sup.select(F.col("event_type").alias("item_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("n_ab").cast("double") / F.col("n_baskets"), 6)
            .alias("support"),
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
                "confidence_a_b"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "w27_time_to_convert",
    survey_ref="§2.9-adjacent (beyond-reference built-in): funnel "
    "latency — per-user first signup → first SUBSEQUENT purchase gap, "
    "p50/p90/max over converters plus the never-converted count "
    "(w10 gives the conversion RATE; this gives the HOW LONG); "
    "conditional min-aggs on one user-keyed rollup, exact dyadic "
    "percentiles of integer seconds",
    oracle="""
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                 THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS s0
      FROM events GROUP BY user_id),
    p AS (
      SELECT e.user_id,
             min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS p0
      FROM events e JOIN u ON u.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(floor(epoch(e.ts)) AS BIGINT) >= u.s0
      GROUP BY e.user_id),
    g AS (
      SELECT u.user_id, u.s0, p.p0, p.p0 - u.s0 AS gap_s
      FROM u LEFT JOIN p ON p.user_id = u.user_id
      WHERE u.s0 IS NOT NULL)
    SELECT count(*) AS n_signed_up,
           CAST(count(gap_s) AS BIGINT) AS n_converted,
           CAST(count(*) - count(gap_s) AS BIGINT) AS n_never,
           round(quantile_cont(gap_s, 0.5), 4) AS p50_seconds,
           round(quantile_cont(gap_s, 0.9), 4) AS p90_seconds,
           CAST(max(gap_s) AS BIGINT) AS max_seconds
    FROM g
    """,
)
def w27_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long from first signup to first subsequent purchase — the
    funnel-LATENCY readout beside w10's conversion rate (a funnel can
    hold its rate while its latency doubles; only this query sees
    it). Per-user first-signup and first-qualifying-purchase are
    conditional min-aggregates; non-converters stay visible in
    n_never rather than silently dropping.

    Scale shape: one user-keyed rollup for signups, one filtered
    user-keyed min for qualifying purchases (the join probe pushes
    the signup floor per user), a 1-row reduction with exact dyadic
    percentiles of integer-second gaps over the converter set."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("t"),
    )
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("t"))).alias(
            "s0"
        )
    ).filter(F.col("s0").isNotNull())
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u, "user_id")
        .filter(F.col("t") >= F.col("s0"))
        .groupBy("user_id")
        .agg(F.min("t").alias("p0"))
    )
    g = u.join(p, "user_id", "left").select(
        "user_id", (F.col("p0") - F.col("s0")).alias("gap_s")
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_signed_up"),
        F.count("gap_s").cast("long").alias("n_converted"),
        (F.count(F.lit(1)) - F.count("gap_s"))
        .cast("long")
        .alias("n_never"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 4).alias("p50_seconds"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 4).alias("p90_seconds"),
        F.max("gap_s").cast("long").alias("max_seconds"),
    )


@register(
    "w28_anomaly_consensus",
    survey_ref="§2.9-adjacent composition flagship: three anomaly "
    "detectors — trailing-mean burst (w19), median/MAD robust (w22), "
    "EWMA deviation (w21's dyadic smoother) — voting on ONE dense "
    "(type, day) grid with every window sharing the same type-keyed "
    "shuffle; consensus ≥ 2 of 3 is the alert that pages (single-"
    "detector alerts page on their own failure modes)",
    oracle=f"""
    WITH {_DAILY_GRID_SQL},
    lagged AS (
      SELECT event_type, day, n,
             sum(n) OVER w7p AS base7,
             count(*) OVER w7p AS days7,
             {", ".join(
                 f"lag(n, {k}) OVER (PARTITION BY event_type ORDER BY day)"
                 f" AS l{k}" for k in range(1, 8)
             )}
      FROM filled
      WINDOW w7p AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
    med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
            FROM filled GROUP BY event_type),
    dev AS (SELECT f.event_type, f.day, abs(f.n - m.med) AS adev
            FROM filled f JOIN med m USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type),
    flags AS (
      SELECT l.event_type, l.day, l.n,
             (l.days7 = 7 AND coalesce(l.base7, 0) > 0
              AND 7 * l.n >= 2 * coalesce(l.base7, 0)) AS f_burst,
             (l.n > m.med + 3 * d.mad) AS f_mad,
             (l.days7 = 7 AND 127 * l.n > 2 *
              (64 * l.l1 + 32 * l.l2 + 16 * l.l3 + 8 * l.l4
               + 4 * l.l5 + 2 * l.l6 + l.l7)) AS f_ewma
      FROM lagged l
      JOIN med m USING (event_type)
      JOIN mad d USING (event_type))
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           f_burst, f_mad, f_ewma,
           CAST(f_burst::INT + f_mad::INT + f_ewma::INT AS INT)
             AS n_flags,
           f_burst::INT + f_mad::INT + f_ewma::INT >= 2 AS consensus
    FROM flags
    """,
)
def w28_anomaly_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three independent detectors vote per (type, day): the trailing-
    mean burst test (drags with sustained shifts), the median/MAD
    robust test (immune to the spike it flags), and an EWMA-deviation
    test (n > 2× the PRIOR day's dyadic smoother, full-window-gated) — alert on
    consensus ≥ 2. Each detector alone pages on its own failure mode;
    the vote is the standard ensembling fix, and because all three
    are integer-exact relational tests the ensemble is hash-exact
    too.

    Scale shape: ONE dense grid feeds all three — the burst window,
    seven EWMA lag taps, and the full-window counters share a single
    type-keyed shuffle (WINDOW clause reuse); the median/MAD tables
    are per-type rows broadcast back. The composition adds no shuffle
    class beyond its parts (the graph_node_profile discipline)."""
    from pyspark.sql import Window

    filled = _daily_grid(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = filled.select(
        "event_type",
        "day",
        "n",
        F.coalesce(F.sum("n").over(w.rowsBetween(-7, -1)), F.lit(0)).alias(
            "base7"
        ),
        F.count(F.lit(1)).over(w.rowsBetween(-7, -1)).alias("days7"),
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in range(1, 8)],
    )
    med = filled.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = filled.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("n") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    # PRIOR-day smoother (lags 1..7): a kernel including the current
    # day carries it at weight 64/127, capping n/ewma below 2 — the
    # deviation test could NEVER fire (caught by the planted-spike
    # pytest). The forecast form compares today against yesterday's
    # smoothed level.
    ewma_num = sum(
        F.lit(wt) * F.col(f"l{k + 1}")
        for k, wt in enumerate(_EWMA_WEIGHTS)
    )
    j = lagged.join(F.broadcast(med), "event_type").join(
        F.broadcast(mad), "event_type"
    )
    f_burst = (
        (F.col("days7") == 7)
        & (F.col("base7") > 0)
        & (7 * F.col("n") >= 2 * F.col("base7"))
    )
    f_mad = F.col("n") > F.col("med") + 3 * F.col("mad")
    f_ewma = (F.col("days7") == 7) & (
        127 * F.col("n") > 2 * ewma_num
    )
    nf = f_burst.cast("int") + f_mad.cast("int") + f_ewma.cast("int")
    return j.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        f_burst.alias("f_burst"),
        f_mad.alias("f_mad"),
        f_ewma.alias("f_ewma"),
        nf.cast("int").alias("n_flags"),
        (nf >= 2).alias("consensus"),
    )


@register(
    "w29_peak_concurrency",
    survey_ref="§2.9-adjacent (beyond-reference built-in): peak "
    "concurrent activity per user from the w24 sweep line — the "
    "capacity/licensing metric (max simultaneous open intervals = "
    "max of the running +1/−1 boundary sum); same one user-keyed "
    "shuffle, deterministic earliest-peak tie-break",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events),
    pts AS (
      SELECT user_id, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT user_id, e, -1 FROM iv),
    sw AS (
      SELECT user_id, t,
             sum(d) OVER (PARTITION BY user_id ORDER BY t, d DESC
                          ROWS UNBOUNDED PRECEDING) AS active
      FROM pts)
    SELECT user_id,
           CAST(max(active) AS BIGINT) AS peak_concurrent,
           CAST(min(CASE WHEN active = m THEN t END) AS BIGINT)
             AS first_peak_epoch
    FROM (SELECT user_id, t, active,
                 max(active) OVER (PARTITION BY user_id) AS m
          FROM sw)
    GROUP BY user_id
    """,
)
def w29_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous activity per user — how many 5-minute
    intervals were open at once at the worst moment, and when it
    first happened: the capacity-planning / licensing metric (w24
    answers how MUCH time was covered; this answers how DEEP the
    overlap got). The peak is the max of the same +1/−1 running
    boundary sum the coverage sweep uses; the timestamp takes the
    EARLIEST boundary achieving it (min over the max-filter —
    deterministic without a second sort).

    Scale shape: identical to w24 — 2 boundary rows per event, the
    running sum, the per-user max window, and the rollup share ONE
    user-keyed shuffle."""
    from pyspark.sql import Window

    pts, _w, active = _boundary_sweep(spark, sf_dir)
    sw = pts.select("user_id", "t", active).withColumn(
        "m", F.max("active").over(Window.partitionBy("user_id"))
    )
    return sw.groupBy("user_id").agg(
        F.max("active").cast("long").alias("peak_concurrent"),
        F.min(F.when(F.col("active") == F.col("m"), F.col("t")))
        .cast("long")
        .alias("first_peak_epoch"),
    )


@register(
    "w30_usage_heatmap",
    survey_ref="§2.9-adjacent (beyond-reference built-in): the "
    "day-of-week x hour usage heatmap behind every traffic dashboard "
    "— one (dow, hour) rollup (≤168 cells at any stream size) with "
    "per-cell share of total; epoch integer arithmetic, no "
    "calendar/timezone functions (the q12 discipline)",
    oracle="""
    WITH c AS (
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS dow,
             (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS hour
      FROM events),
    g AS (SELECT dow, hour, count(*) AS n FROM c GROUP BY dow, hour),
    t AS (SELECT sum(n) AS tn FROM g)
    SELECT CAST(g.dow AS INT) AS dow,
           CAST(g.hour AS INT) AS hour,
           CAST(g.n AS BIGINT) AS n,
           round(CAST(g.n AS DOUBLE) / t.tn, 6) AS share
    FROM g, t
    """,
)
def w30_usage_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume by (day-of-week, hour-of-day) with share of total
    — the 7×24 heatmap behind every traffic dashboard and the input
    to load-based scheduling. Day-of-week comes from pure epoch
    integer arithmetic ((epoch_days + 4) % 7 — 1970-01-01 was a
    Thursday; 0 = Sunday), NOT from calendar functions whose locale/
    timezone defaults differ between engines.

    Scale shape: one rollup onto ≤168 cells with map-side partials —
    the whole stream collapses in the scan stage — plus a 1-row total
    broadcast (allowlisted class)."""
    ev = load(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("t")
    )
    c = ev.select(
        ((F.expr("t div 86400") + 4) % 7).alias("dow"),
        F.expr("(t % 86400) div 3600").alias("hour"),
    )
    g = c.groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n"))
    t = g.agg(F.sum("n").alias("tn"))
    return g.crossJoin(F.broadcast(t)).select(
        F.col("dow").cast("int").alias("dow"),
        F.col("hour").cast("int").alias("hour"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.col("tn"), 6).alias("share"),
    )


# --------------------------------------------------------------------------
# Streaming replay witnesses (VERDICT r7 item 8): batch-shaped queries
# that run the EXACT streaming/windows.py operator code over generation
# slices (micro-batch stand-ins) and hash-gate the MERGED final state
# against a one-shot oracle — the stream_sketch_state_merge precedent
# applied to the window family. The property proven is the one the
# incremental design rests on: per-batch partial window state, merged,
# equals the one-shot computation.
# --------------------------------------------------------------------------


def _generations(good: DataFrame, batch) -> DataFrame:
    """Three stand-in micro-batches (``event_id`` mod 3), each through
    ``batch``, unioned in generation order — the partial states a
    replay witness then merges the way its state store would."""
    gen = F.col("event_id") % 3
    g0, g1, g2 = (batch(good.filter(gen == i)) for i in range(3))
    return g0.unionAll(g1).unionAll(g2)


@register(
    "stream_window_replay",
    survey_ref=(
        "§2.10 streaming tumbling-window state merge (batch-shaped "
        "witness): three micro-batch generations through the SAME "
        "tumbling_counts operator the streaming pipeline runs, partial "
        "(window,type) states sum-merged (the update-mode state-store "
        "accumulation), watermark-closed flag derived from the final "
        "max event time — hash-gated against a one-shot oracle"
    ),
    oracle="""
    WITH good AS (
      SELECT * FROM events
      WHERE NOT (value IS NULL OR value < 0 OR event_type = 'error')
    ),
    agg AS (
      SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
             event_type, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,4))) AS sv
      FROM good GROUP BY 1, 2),
    wm AS (
      SELECT CAST(floor(max(epoch(ts))) AS BIGINT) - 900 AS wm FROM good)
    SELECT window_start, event_type, CAST(n AS BIGINT) AS n,
           round(CAST(sv AS DOUBLE), 4) AS sum_value,
           window_start + 600 <= wm.wm AS closed
    FROM agg, wm
    """,
)
def stream_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the streaming tumbling-count pipeline batch-shaped: the
    dead-letter split, then THREE generations (event_id mod 3 — stand-
    ins for micro-batches) each through ``W.tumbling_counts`` (the same
    code ``streaming_pipeline`` wires behind ``writeStream``), then the
    per-(window, type) partial states merged by summation — exactly
    what the update-mode state store does across micro-batches. The
    ``closed`` flag marks windows whose end the final watermark
    (max event time − 15 min, the ``with_watermark`` delay) has passed
    — the append-mode emission predicate.

    The oracle computes the aggregation ONE-SHOT, so the hash gate
    proves the partial-state merge is exact (counts and DECIMAL sums
    are associative and order-free; a float sum here would flunk the
    gate, which is WHY tumbling_counts aggregates in DECIMAL).

    Scale shape: each generation's partial agg collapses map-side onto
    (window, type) cells before any shuffle; the merge is a second
    bounded-key agg over cells, never events; the watermark is a 1-row
    broadcast (allowlisted class)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    good, _bad = W.dead_letter_split(ev)
    u = _generations(good, W.tumbling_counts)
    merged = u.groupBy("window_start", "event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_value").alias("sv"),
    )
    wm = good.agg(
        (F.max(F.unix_timestamp("ts")) - F.lit(900)).alias("wm")
    )
    return merged.crossJoin(F.broadcast(wm)).select(
        "window_start",
        "event_type",
        "n",
        F.round(F.col("sv").cast("double"), 4).alias("sum_value"),
        (F.col("window_start") + 600 <= F.col("wm")).alias("closed"),
    )


@register(
    "stream_session_replay",
    survey_ref=(
        "§2.10 streaming session-window state merge (batch-shaped "
        "witness): per-generation session_window states merged by the "
        "interval-within-gap rule (the session-state-store merge), "
        "hash-gated against the one-shot gaps-and-islands oracle — "
        "proving cross-batch session stitching is exact"
    ),
    oracle="""
    WITH good AS (
      SELECT * FROM events
      WHERE NOT (value IS NULL OR value < 0 OR event_type = 'error')
    ),
    gaps AS (
      -- (ts, event_id) tiebreaker in BOTH windows (w12 discipline,
      -- ADVICE r8): ts-only cumsum tie order is engine-dependent
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM good WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps)
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS session_end,
           count(*) AS n
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed per generation (event_id mod 3) with
    the SAME ``session_window`` operator the streaming pipeline uses,
    then stitched across generations: per user, order the partial
    sessions and merge any whose gap to the running latest event is
    <= the 30-minute threshold — the exact merge Spark's session-window
    state store performs when a new micro-batch's events bridge two
    stored sessions. The one-shot oracle never sees generations, so a
    hash match proves the stitching reproduces one-shot sessionization
    exactly (session structure depends only on the event SET; each
    partial session is internally gap-valid, and two partials merge iff
    their boundary events are within the gap — the connected-component
    argument in the docstring of W.session_counts applies).

    Scale shape: per-generation session aggs shuffle once on user_id;
    the stitch is ONE user-keyed sort window over per-session rows
    (corpus cut to sessions already, orders of magnitude smaller), then
    a bounded re-rollup. No event row is ever re-shuffled."""
    from pyspark.sql import Window as SqlWindow

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    good, _bad = W.dead_letter_split(ev)
    segs = _generations(good, W.session_counts).select(
        "user_id",
        F.col("session_start").alias("s"),
        (F.col("session_end") - F.lit(1800)).alias("l"),  # last event
        "n",
    )
    w = SqlWindow.partitionBy("user_id").orderBy("s", "l")
    prev_max_l = F.max("l").over(
        w.rowsBetween(SqlWindow.unboundedPreceding, -1)
    )
    marked = segs.select(
        "user_id",
        "s",
        "l",
        "n",
        F.when(
            prev_max_l.isNull() | (F.col("s") - prev_max_l > 1800),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_sess"),
    )
    sessed = marked.select(
        "user_id",
        "s",
        "l",
        "n",
        F.sum("new_sess")
        .over(w.rowsBetween(SqlWindow.unboundedPreceding, 0))
        .alias("sess_id"),
    )
    return sessed.groupBy("user_id", "sess_id").agg(
        F.min("s").alias("session_start"),
        (F.max("l") + F.lit(1800)).alias("session_end"),
        F.sum("n").cast("long").alias("n"),
    ).select("user_id", "session_start", "session_end", "n")


@register(
    "w31_paa_sax",
    survey_ref=(
        "[EXT] PAA + SAX time-series symbolization (Lin et al. 2003): "
        "weekly piecewise-aggregate means of per-type daily volume, "
        "z-normalized against INTEGER sufficient statistics of the "
        "daily series, mapped to a 3-letter alphabet — the "
        "dimensionality-reduced representation similarity indexes and "
        "motif mining run on"
    ),
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             count(*) AS nd,
             sum(cnt) AS sx,
             sum(cnt * cnt) AS sxx,
             min(day) AS d0
      FROM daily GROUP BY event_type),
    seg AS (
      SELECT d.event_type,
             (d.day - s.d0) // 7 AS segment,
             sum(d.cnt) AS seg_sum,
             count(*) AS seg_days,
             max(s.nd) AS nd, max(s.sx) AS sx, max(s.sxx) AS sxx
      FROM daily d JOIN stats s USING (event_type)
      GROUP BY 1, 2),
    z AS (
      SELECT event_type, segment, seg_sum, seg_days,
             round(CAST(seg_sum AS DOUBLE) / seg_days, 6) AS paa,
             round((CAST(seg_sum AS DOUBLE) / seg_days
                    - CAST(sx AS DOUBLE) / nd)
                   / nullif(sqrt(CAST(sxx AS DOUBLE) / nd
                                 - (CAST(sx AS DOUBLE) / nd)
                                   * (CAST(sx AS DOUBLE) / nd)), 0.0),
                   6) AS zn
      FROM seg)
    SELECT event_type,
           CAST(segment AS BIGINT) AS segment,
           CAST(seg_sum AS BIGINT) AS seg_sum,
           CAST(seg_days AS BIGINT) AS seg_days,
           paa,
           zn,
           CASE WHEN zn IS NULL THEN 'b'
                WHEN zn < -0.43 THEN 'a'
                WHEN zn < 0.43 THEN 'b'
                ELSE 'c' END AS sax
    FROM z
    """,
)
def w31_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbolic Aggregate approXimation of per-type daily event volume:
    7-day PAA segments (piecewise means), z-normalized, discretized to
    {a,b,c} at the 3-symbol Gaussian breakpoints ±0.43 — the
    representation under SAX motif/discord mining and the string-space
    similarity indexes (Lin et al. 2003). Hash discipline: the mean
    and variance come from INTEGER sufficient statistics (n, Σx, Σx²)
    of the daily series — never a cross-row double sum — so μ, σ, and
    every z are single per-row double expressions with identical
    operand order on both engines; z is rounded 6 BEFORE the
    breakpoint CASE so the letter compare reads the same value both
    sides; constant series (σ=0) map to NULL z → 'b', visibly.

    Scale shape: the daily rollup is the family's ONE type-keyed
    shuffle; segments re-aggregate the bounded ≤|days| grid; the
    stats join moves |event_type| rows. Letters per (type, week) —
    constant-size output at any event volume."""
    daily = _daily_counts(spark, sf_dir)
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.min("day").alias("d0"),
    )
    seg = (
        daily.join(stats, "event_type")
        .select(
            "event_type",
            F.expr("(day - d0) div 7").alias("segment"),
            "n",
            "nd",
            "sx",
            "sxx",
        )
        .groupBy("event_type", "segment")
        .agg(
            F.sum("n").alias("seg_sum"),
            F.count(F.lit(1)).alias("seg_days"),
            F.max("nd").alias("nd"),
            F.max("sx").alias("sx"),
            F.max("sxx").alias("sxx"),
        )
    )
    mu = F.col("sx").cast("double") / F.col("nd")
    sd = F.sqrt(
        F.col("sxx").cast("double") / F.col("nd") - mu * mu
    )
    zn = F.round(
        (F.col("seg_sum").cast("double") / F.col("seg_days") - mu)
        / F.nullif(sd, F.lit(0.0)),
        6,
    )
    out = seg.select(
        "event_type",
        F.col("segment").cast("long").alias("segment"),
        F.col("seg_sum").cast("long").alias("seg_sum"),
        F.col("seg_days").cast("long").alias("seg_days"),
        F.round(
            F.col("seg_sum").cast("double") / F.col("seg_days"), 6
        ).alias("paa"),
        zn.alias("zn"),
    )
    return out.withColumn(
        "sax",
        F.when(F.col("zn").isNull(), F.lit("b"))
        .when(F.col("zn") < -0.43, F.lit("a"))
        .when(F.col("zn") < 0.43, F.lit("b"))
        .otherwise(F.lit("c")),
    )


@register(
    "stream_dedup_replay",
    survey_ref=(
        "§2.10 streaming keyed-dedup state merge (batch-shaped "
        "witness, completing the replay triple with "
        "stream_window_replay/stream_session_replay): per-generation "
        "first-occurrence state on (user_id, event_type), merged by "
        "keyed min — the dropDuplicatesWithinWatermark state-store "
        "keep-earliest rule — hash-gated against the one-shot oracle"
    ),
    oracle="""
    WITH good AS (
      SELECT * FROM events
      WHERE NOT (value IS NULL OR value < 0 OR event_type = 'error')
    )
    SELECT user_id, event_type,
           CAST(floor(min(epoch(ts))) AS BIGINT) AS first_seen,
           count(*) AS n_events
    FROM good GROUP BY user_id, event_type
    """,
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-dedup state replay: each generation (event_id mod 3)
    reduces to its per-(user, type) earliest-timestamp state — what
    ``dropDuplicatesWithinWatermark`` keeps per key — and the merged
    state takes the keyed MIN across generations plus the summed
    event counts. The one-shot oracle proves the keep-earliest merge
    is exact (min and count are associative; a state store that ever
    kept a later-generation first-seen would hash-mismatch). Within
    the watermark horizon this IS the streaming dedup semantics; the
    unbounded-history batch analog is o3_first_occurrence_dedup.

    Scale shape: each generation collapses map-side onto its key set
    before one keyed shuffle; the merge re-aggregates key-sized rows.
    No event row crosses the exchange twice."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    good, _bad = W.dead_letter_split(ev)
    first = _generations(
        good,
        lambda g: g.groupBy("user_id", "event_type").agg(
            F.min(F.unix_timestamp("ts")).alias("fs"),
            F.count(F.lit(1)).alias("n"),
        ),
    )
    return first.groupBy("user_id", "event_type").agg(
        F.min("fs").cast("long").alias("first_seen"),
        F.sum("n").cast("long").alias("n_events"),
    )


@register(
    "behavior_survival_km",
    survey_ref=(
        "[EXT] Kaplan-Meier survival estimator with right-censoring "
        "(Kaplan & Meier 1958): hourly user-lifetime curve where users "
        "still active near the corpus edge are CENSORED, not counted as "
        "churned — the estimator naive retention curves get wrong; "
        "per-day hazard factors ln-rounded then DECIMAL-cumsummed "
        "(the BM25 round-6 ln discipline), at-risk counts pure "
        "integer running sums over the bounded lifetime grid"
    ),
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(floor(min(epoch(ts))) AS BIGINT) AS t0,
             CAST(floor(max(epoch(ts))) AS BIGINT) AS t1
      FROM events GROUP BY user_id),
    mx AS (SELECT CAST(floor(max(epoch(ts))) AS BIGINT) AS m FROM events),
    lif AS (
      SELECT (u.t1 - u.t0) // 3600 AS life,
             CASE WHEN mx.m - u.t1 < 6 * 3600 THEN 1 ELSE 0 END
               AS censored
      FROM u, mx),
    tot AS (SELECT count(*) AS n_users FROM lif),
    days AS (
      SELECT life,
             sum(1 - censored) AS d,
             sum(censored) AS c
      FROM lif GROUP BY life),
    r AS (
      SELECT life, d, c,
             tot.n_users
               - coalesce(sum(d + c) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_at_risk
      FROM days, tot),
    f AS (
      SELECT life, d, c, n_at_risk,
             CASE WHEN d > 0 AND n_at_risk > d
                  THEN round(ln(CAST(n_at_risk - d AS DOUBLE)
                                / n_at_risk), 6)
                  ELSE 0.0 END AS lf,
             CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS extinct
      FROM r),
    s AS (
      SELECT life, d, c, n_at_risk,
             sum(CAST(lf AS DECIMAL(18,6))) OVER (ORDER BY life
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
             max(extinct) OVER (ORDER BY life
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext
      FROM f)
    SELECT CAST(life AS BIGINT) AS lifetime_hours,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_deaths,
           CAST(c AS BIGINT) AS n_censored,
           CASE WHEN ext = 1 THEN 0.0
                ELSE round(exp(CAST(cl AS DOUBLE)), 6) END AS survival
    FROM s
    """,
)
def behavior_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve, Kaplan-Meier: lifetime = hours
    between a user's first and last event (column ``lifetime_hours``),
    but users whose last event falls within 6 HOURS of the corpus edge
    (the 6*3600 constant below) are RIGHT-CENSORED — they
    leave the at-risk pool without counting as churn, which is exactly
    what a naive retention curve gets wrong (it books every
    still-active user as a death at the observation boundary). S(t) =
    prod over death-days <= t of (1 - d/n): hazard factors take ONE
    rounded-6 ln each (the BM25 discipline — ln is the only
    non-exactly-rounded op, so it rounds immediately), the cumulative
    sum runs in exact DECIMAL over the bounded lifetime grid, and the
    final exp/round(6) reads identical inputs on both engines. Total
    extinction (d = n at some day) zeroes the curve explicitly via a
    running flag rather than feeding ln(0) — DuckDB says -inf, Spark
    says NULL, so the case must never reach ln.

    Scale shape: the event stream collapses to per-user (first, last)
    in one user-keyed rollup; everything after lives on the <=|days|
    lifetime grid (bounded-input global windows, allowlisted w15
    class); the corpus max and user total are 1-row broadcasts
    (allowlisted)."""
    from pyspark.sql import Window as SqlWindow

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("t")
    )
    u = ev.groupBy("user_id").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    mx = ev.agg(F.max("t").alias("m"))
    lif = u.crossJoin(F.broadcast(mx)).select(
        F.expr("(t1 - t0) div 3600").alias("life"),
        (F.col("m") - F.col("t1") < 6 * 3600).cast("int").alias(
            "censored"
        ),
    )
    tot = lif.agg(F.count(F.lit(1)).alias("n_users"))
    days = lif.groupBy("life").agg(
        F.sum(1 - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    wo = SqlWindow.orderBy("life")
    r = days.crossJoin(F.broadcast(tot)).select(
        "life",
        "d",
        "c",
        (
            F.col("n_users")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(
                    wo.rowsBetween(SqlWindow.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("n_at_risk"),
    )
    lf = F.when(
        (F.col("d") > 0) & (F.col("n_at_risk") > F.col("d")),
        F.round(
            F.log(
                (F.col("n_at_risk") - F.col("d")).cast("double")
                / F.col("n_at_risk")
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    f = r.select(
        "life",
        "d",
        "c",
        "n_at_risk",
        lf.alias("lf"),
        (F.col("d") >= F.col("n_at_risk")).cast("int").alias("extinct"),
    )
    s = f.select(
        "life",
        "d",
        "c",
        "n_at_risk",
        F.sum(F.col("lf").cast("decimal(18,6)"))
        .over(wo.rowsBetween(SqlWindow.unboundedPreceding, 0))
        .alias("cl"),
        F.max("extinct")
        .over(wo.rowsBetween(SqlWindow.unboundedPreceding, 0))
        .alias("ext"),
    )
    return s.select(
        F.col("life").cast("long").alias("lifetime_hours"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_deaths"),
        F.col("c").cast("long").alias("n_censored"),
        F.when(F.col("ext") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cl").cast("double")), 6))
        .alias("survival"),
    )


_BT_STEP = """
    bt{i} AS (
      SELECT pl.id,
             CASE WHEN pl.w = 0 THEN 0
                  ELSE (pl.w * 1000000000000000000)
                       // (SELECT sum((p.n * 1000000000000000000)
                                      // (ra.s + rb.s))
                           FROM pairs p
                           JOIN bt{p} ra ON ra.id = p.lo
                           JOIN bt{p} rb ON rb.id = p.hi
                           WHERE p.lo = pl.id OR p.hi = pl.id)
             END AS s
      FROM players pl)
"""


@register(
    "behavior_bradley_terry",
    survey_ref=(
        "[EXT] Bradley-Terry preference-strength estimation (1952; "
        "the pairwise-comparison model behind RLHF reward-data "
        "curation and match ranking): 3 minorization-maximization "
        "rounds in scaled-integer floor arithmetic, bit-exact against "
        "unrolled CTEs — the graph_pagerank discipline applied to an "
        "MM fixpoint instead of damped propagation"
    ),
    oracle=(
        """
    WITH n AS (SELECT count(*) AS n FROM documents),
    docs AS (SELECT doc_id, length(text) AS len FROM documents),
    m0 AS (
      SELECT d.doc_id AS a, (d.doc_id * 3 + 1) % (SELECT n FROM n) AS b
      FROM docs d
      UNION ALL
      SELECT d.doc_id, (d.doc_id * 11 + 4) % (SELECT n FROM n)
      FROM docs d),
    matches AS (
      SELECT m.a, m.b,
             CASE WHEN da.len > db.len THEN m.a
                  WHEN db.len > da.len THEN m.b
                  WHEN m.a < m.b THEN m.a ELSE m.b END AS winner
      FROM m0 m
      JOIN docs da ON da.doc_id = m.a
      JOIN docs db ON db.doc_id = m.b
      WHERE m.a <> m.b),
    players AS (
      SELECT d.doc_id AS id,
             coalesce(w.w, 0) AS w,
             coalesce(g.g, 0) AS g
      FROM docs d
      LEFT JOIN (SELECT winner, count(*) AS w FROM matches
                 GROUP BY winner) w ON w.winner = d.doc_id
      LEFT JOIN (SELECT id, count(*) AS g FROM (
                   SELECT a AS id FROM matches
                   UNION ALL SELECT b FROM matches)
                 GROUP BY id) g ON g.id = d.doc_id),
    pairs AS (
      SELECT least(a, b) AS lo, greatest(a, b) AS hi, count(*) AS n
      FROM matches GROUP BY 1, 2),
    bt0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS s FROM players
            WHERE g > 0),
"""
        + ",".join(_BT_STEP.format(i=i, p=i - 1) for i in (1, 2, 3))
        + """
    SELECT pl.id AS doc_id,
           CAST(pl.w AS BIGINT) AS wins,
           CAST(pl.g AS BIGINT) AS games,
           CAST(bt3.s AS BIGINT) AS strength_scaled
    FROM players pl JOIN bt3 ON bt3.id = pl.id
    WHERE pl.g > 0
    """
    ),
)
def behavior_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths over a deterministic pairwise-preference
    tournament (each doc challenges (3i+1) mod N and (11i+4) mod N;
    longer text wins, ties to the smaller id — a stand-in for the
    human-preference labels RLHF reward datasets carry). Three MM
    rounds pi'_i = w_i / sum_j n_ij/(pi_i + pi_j) run in scaled-
    integer floor arithmetic (pi in 1e9 units, per-pair terms scaled
    by 1e18 BEFORE the floor-div so ~9 digits of precision survive;
    all magnitudes bounded within int64 because n_ij <= 2 and w <= g),
    making the iterative Spark loop bit-exact against the oracle's
    unrolled CTEs — the graph_pagerank discipline applied to an MM
    fixpoint. Zero-win players pin to 0 (their true BT limit); an
    undefeated player's strength grows round over round, which is the
    model's honest divergence, visible rather than clamped.

    Scale shape: matches and wins are one key-keyed rollup each; each
    MM round joins the bounded pair table (2 rows per player) to the
    strength state twice and re-aggregates per player — the
    per-round cost of pagerank with |edges| = 2N; localCheckpoint
    truncates lineage."""
    d = load(spark, sf_dir, "documents")
    n = table_rowcount(sf_dir, "documents")
    docs = d.select("doc_id", F.length("text").alias("len"))
    m0 = docs.select(
        F.col("doc_id").alias("a"),
        ((F.col("doc_id") * 3 + 1) % n).alias("b"),
    ).unionAll(
        docs.select(
            F.col("doc_id").alias("a"),
            ((F.col("doc_id") * 11 + 4) % n).alias("b"),
        )
    )
    da = docs.select(F.col("doc_id").alias("a"), F.col("len").alias("la"))
    db = docs.select(F.col("doc_id").alias("b"), F.col("len").alias("lb"))
    matches = (
        m0.filter(F.col("a") != F.col("b"))
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.when(F.col("la") > F.col("lb"), F.col("a"))
            .when(F.col("lb") > F.col("la"), F.col("b"))
            .otherwise(F.least("a", "b"))
            .alias("winner"),
        )
    )
    wins = matches.groupBy(F.col("winner").alias("id")).agg(
        F.count(F.lit(1)).alias("w")
    )
    games = (
        matches.select(F.col("a").alias("id"))
        .unionAll(matches.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("g"))
    )
    players = (
        docs.select(F.col("doc_id").alias("id"))
        .join(wins, "id", "left")
        .join(games, "id", "left")
        .select(
            "id",
            F.coalesce("w", F.lit(0)).alias("w"),
            F.coalesce("g", F.lit(0)).alias("g"),
        )
        .filter(F.col("g") > 0)
        .persist()
    )
    pairs = matches.groupBy(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).agg(F.count(F.lit(1)).alias("pn")).persist()

    def mm_round(s: DataFrame, _i: int) -> DataFrame:
        terms = (
            pairs.join(
                s.select(F.col("id").alias("lo"), F.col("s").alias("sa")),
                "lo",
            )
            .join(
                s.select(F.col("id").alias("hi"), F.col("s").alias("sb")),
                "hi",
            )
            .select(
                "lo",
                "hi",
                F.expr(
                    "(pn * 1000000000000000000) div (sa + sb)"
                ).alias("t"),
            )
        )
        denom = (
            terms.select(F.col("lo").alias("id"), "t")
            .unionAll(terms.select(F.col("hi").alias("id"), "t"))
            .groupBy("id")
            .agg(F.sum("t").alias("den"))
        )
        return players.join(denom, "id", "left").select(
            "id",
            F.when(F.col("w") == 0, F.lit(0))
            .otherwise(
                F.expr("(w * 1000000000000000000) div den")
            )
            .cast("long")
            .alias("s"),
        )

    s0 = players.select("id", F.lit(1000000000).cast("long").alias("s"))
    s, _, _ = iterate(s0, mm_round, 3)
    out = players.join(s, "id").select(
        F.col("id").alias("doc_id"),
        F.col("w").cast("long").alias("wins"),
        F.col("g").cast("long").alias("games"),
        F.col("s").cast("long").alias("strength_scaled"),
    )
    out = out.localCheckpoint(eager=True)
    players.unpersist()
    pairs.unpersist()
    return out


@register(
    "behavior_session_grammar",
    survey_ref=(
        "[EXT] sequence pattern matching over sessions — the "
        "MATCH_RECOGNIZE analog (Flink CEP / Oracle row-pattern "
        "matching, which Spark SQL lacks): per-session ordered "
        "event-type strings classified by regex grammars (clean "
        "funnel / error-interrupted / browse-only), assembled "
        "lambda-free with the sorted-struct idiom inside ONE "
        "user-keyed shuffle"
    ),
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_type,
             sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps),
    seqs AS (
      SELECT user_id, session_id,
             count(*) AS n_events,
             string_agg(event_type, '>' ORDER BY ts, event_type)
               AS seq
      FROM sess GROUP BY user_id, session_id)
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(n_events AS BIGINT) AS n_events,
           seq,
           regexp_matches(seq,
             '^(signup>)?(view|click)(>(view|click))*>purchase(>.*)?$')
             AS clean_funnel,
           (seq LIKE '%error%') AS error_touched,
           NOT (seq LIKE '%purchase%') AS browse_only
    FROM seqs
    """,
)
def behavior_session_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching over sessionized event sequences — the
    MATCH_RECOGNIZE surface Spark SQL lacks, expressed relationally:
    gap-sessionize (the w12 lag+cumsum machinery), assemble each
    session's ordered event-type string with the sorted-struct idiom
    (no collect_list-ordering nondeterminism: the sort key is
    (ts, event_type), written identically in the oracle's ordered
    string_agg), then classify by regex grammar — clean_funnel
    (optional signup, browsing, then a purchase), error_touched,
    browse_only. This is how funnel DEFINITIONS get expressed in CEP
    systems; w10/w27 measure one fixed funnel, this matches arbitrary
    grammars.

    Scale shape: sessionize + sequence assembly + classification all
    ride ONE user-keyed shuffle (the w12 discipline); the per-session
    string is bounded by session length; regex runs scan-side on the
    session rollup. At 100 TB the grammar table would broadcast and
    regexp_like vectorizes per session row — never per event."""
    from pyspark.sql import Window as SqlWindow

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = SqlWindow.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    # cumsum window carries the SAME (ts, event_id) tiebreaker as the
    # lag window (the w12 discipline, ADVICE r8): with duplicate
    # (user_id, ts) rows a ts-only ROWS-frame cumsum tie order is
    # engine-dependent and session membership could flake the gate.
    wts = SqlWindow.partitionBy("user_id").orderBy("ts", "event_id")
    sess = gaps.select(
        "user_id",
        "ts",
        "event_type",
        F.sum("new_session")
        .over(wts.rowsBetween(SqlWindow.unboundedPreceding, 0))
        .alias("session_id"),
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.array_join(
            F.sort_array(
                F.collect_list(
                    F.struct("ts", "event_type")
                )
            ).getField("event_type"),
            ">",
        ).alias("seq"),
    )
    return seqs.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        "seq",
        F.col("seq").rlike(
            "^(signup>)?(view|click)(>(view|click))*>purchase(>.*)?$"
        ).alias("clean_funnel"),
        F.col("seq").contains("error").alias("error_touched"),
        (~F.col("seq").contains("purchase")).alias("browse_only"),
    )


@register(
    "stream_lateness_profile",
    survey_ref=(
        "[EXT] event-time lateness profile — the diagnostic a "
        "watermark DELAY is actually set from: per-user arrival-order "
        "running max of event time, lateness = runmax - ts for each "
        "late arrival, bucketed histogram + the minimal delay bucket "
        "covering >=95% of events; one user-keyed shuffle (arrival "
        "order proxied by event_id, the ingestion sequence)"
    ),
    oracle="""
    WITH arr AS (
      SELECT user_id, ts,
             event_id * 10
               + CASE WHEN event_id % 7 = 0
                      THEN 1000 * (1 + event_id % 5) + 1
                      ELSE 0 END AS arrival
      FROM events),
    lat AS (
      SELECT user_id,
             greatest(0,
               CAST(floor(max(epoch(ts)) OVER (PARTITION BY user_id
                     ORDER BY arrival
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT)) AS late_s
      FROM arr),
    b AS (
      -- // not CAST(x/3600): DuckDB's int / is float division and
      -- CAST rounds half-even (the README double->BIGINT note)
      SELECT least(12, late_s // 3600) AS late_hours
      FROM lat),
    h AS (
      SELECT late_hours, count(*) AS n FROM b GROUP BY late_hours),
    c AS (
      SELECT late_hours, n,
             sum(n) OVER (ORDER BY late_hours
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(n) OVER () AS total
      FROM h)
    SELECT CAST(late_hours AS BIGINT) AS late_hours,
           CAST(n AS BIGINT) AS n,
           CAST(cum AS BIGINT) AS cum_n,
           round(CAST(cum AS DOUBLE) / total, 6) AS cum_frac,
           20 * cum >= 19 * total AS covers_p95
    FROM c
    """,
)
def stream_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How late do events actually arrive? Per user, walk events in
    INGESTION order (event_id — the arrival sequence) keeping the
    running max event time; every event whose timestamp is behind that
    max is late by the difference. The bucketed histogram (hours,
    capped at 12+) with cumulative coverage is THE input for choosing
    `withWatermark`'s delay: the first bucket with covers_p95 true
    (integer cross-multiplied 20·cum ≥ 19·total — no float boundary)
    is the smallest delay that keeps ≥95 % of events inside the
    watermark; everything beyond it is the data you're agreeing to
    drop. Guessing this number is how pipelines silently lose data —
    this measures it.

    Scale shape: ONE user-keyed sort window (the behavioral-family
    discipline — per-key lateness is what keyed state actually
    experiences), then a ≤13-bucket rollup whose cumulative windows
    move bucket rows only (allowlisted bounded class)."""
    from pyspark.sql import Window as SqlWindow

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        (
            F.col("event_id") * 10
            + F.when(
                F.col("event_id") % 7 == 0,
                1000 * (1 + F.col("event_id") % 5) + 1,
            ).otherwise(F.lit(0))
        ).alias("arrival"),
        F.unix_timestamp("ts").alias("t"),
    )
    w = SqlWindow.partitionBy("user_id").orderBy("arrival")
    lat = ev.select(
        F.greatest(
            F.lit(0),
            F.max("t").over(
                w.rowsBetween(SqlWindow.unboundedPreceding, 0)
            )
            - F.col("t"),
        ).alias("late_s")
    )
    b = lat.select(
        F.least(F.lit(12), F.expr("late_s div 3600")).alias("late_hours")
    )
    h = b.groupBy("late_hours").agg(F.count(F.lit(1)).alias("n"))
    wo = SqlWindow.orderBy("late_hours")
    wall = SqlWindow.partitionBy()
    c = h.select(
        "late_hours",
        "n",
        F.sum("n")
        .over(wo.rowsBetween(SqlWindow.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("n").over(wall).alias("total"),
    )
    return c.select(
        F.col("late_hours").cast("long").alias("late_hours"),
        F.col("n").cast("long").alias("n"),
        F.col("cum").cast("long").alias("cum_n"),
        F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
            "cum_frac"
        ),
        (20 * F.col("cum") >= 19 * F.col("total")).alias("covers_p95"),
    )


@register(
    "behavior_ab_cuped",
    survey_ref=(
        "[EXT] CUPED variance-reduced A/B readout (Deng et al. 2013, "
        "the pre-experiment-covariate adjustment every large "
        "experimentation platform runs): theta from POOLED integer "
        "sufficient statistics (n, Σx, Σy, Σxy, Σx²) of pre-period "
        "activity vs outcome, per-variant adjusted means — integer "
        "sums end-to-end, fixed-order double divisions at the gate"
    ),
    oracle="""
    WITH mn AS (
      SELECT CAST(floor(min(epoch(ts))) AS BIGINT) // 86400 AS d0
      FROM events),
    u AS (
      SELECT e.user_id,
             e.user_id % 2 AS variant,
             sum(CASE WHEN CAST(floor(epoch(e.ts)) AS BIGINT) // 86400
                           < mn.d0 + 15
                      AND e.event_type = 'view'
                      THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN CAST(floor(epoch(e.ts)) AS BIGINT) // 86400
                           >= mn.d0 + 15
                      AND e.event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS y
      FROM events e, mn GROUP BY e.user_id),
    pool AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM u),
    v AS (
      SELECT variant, count(*) AS n_users,
             sum(x) AS vsx, sum(y) AS vsy
      FROM u GROUP BY variant)
    SELECT CAST(v.variant AS BIGINT) AS variant,
           CAST(v.n_users AS BIGINT) AS n_users,
           CAST(v.vsx AS BIGINT) AS sum_x,
           CAST(v.vsy AS BIGINT) AS sum_y,
           round(CAST(v.vsy AS DOUBLE) / v.n_users, 6) AS mean_y,
           round(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                 / (p.n * p.sxx - p.sx * p.sx), 6) AS theta,
           round(CAST(v.vsy AS DOUBLE) / v.n_users
                 - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                    / (p.n * p.sxx - p.sx * p.sx))
                   * (CAST(v.vsx AS DOUBLE) / v.n_users
                      - CAST(p.sx AS DOUBLE) / p.n), 6)
             AS cuped_mean_y
    FROM v, pool p
    """,
)
def behavior_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout: user-level assignment
    (user_id parity — never event-level, which splits a unit across
    arms), pre-period covariate x = views before day 15, outcome y =
    purchases after; theta = cov(x,y)/var(x) from POOLED integer
    sufficient statistics (n, Σx, Σy, Σxy, Σx² — exact longs), and
    each arm's adjusted mean ȳ_v − θ(x̄_v − x̄) removes the outcome
    variance the pre-period already explains — the adjustment that
    makes experiments read out at a fraction of the sample size.
    Every aggregate is an integer sum; theta and the adjusted means
    are fixed-order double expressions over those integers, rounded
    once at the gate, so the hash holds at any parallelism.

    Scale shape: one user-keyed rollup builds (x, y) per unit; the
    pooled stats are a 1-row broadcast (allowlisted) onto the 2-row
    variant table; the min-date anchor is a 1-row broadcast too."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", _day()
    )
    mn = ev.agg(F.min("day").alias("d0"))
    u = (
        ev.crossJoin(F.broadcast(mn))
        .groupBy("user_id")
        .agg(
            F.sum(
                (
                    (F.col("day") < F.col("d0") + 15)
                    & (F.col("event_type") == "view")
                ).cast("int")
            ).alias("x"),
            F.sum(
                (
                    (F.col("day") >= F.col("d0") + 15)
                    & (F.col("event_type") == "purchase")
                ).cast("int")
            ).alias("y"),
        )
        .select(
            (F.col("user_id") % 2).alias("variant"), "x", "y"
        )
    )
    pool = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("vsx"),
        F.sum("y").alias("vsy"),
    )
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        )
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    mean_y = F.col("vsy").cast("double") / F.col("n_users")
    return v.crossJoin(F.broadcast(pool)).select(
        F.col("variant").cast("long").alias("variant"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("vsx").cast("long").alias("sum_x"),
        F.col("vsy").cast("long").alias("sum_y"),
        F.round(mean_y, 6).alias("mean_y"),
        F.round(theta, 6).alias("theta"),
        F.round(
            mean_y
            - theta
            * (
                F.col("vsx").cast("double") / F.col("n_users")
                - F.col("sx").cast("double") / F.col("n")
            ),
            6,
        ).alias("cuped_mean_y"),
    )


@register(
    "behavior_power_mde",
    survey_ref=(
        "[EXT] A/B power analysis (Cohen 1988 normal-approximation "
        "two-proportion form): minimum detectable effect at the "
        "current sample size and required per-arm n for the observed "
        "delta, at alpha=0.05 / power=0.80 — the pre-launch sizing "
        "readout that pairs with behavior_ab_test's post-hoc z; "
        "z-quantiles enter as SHARED literals (1.959964, 0.841621) so "
        "neither engine's inverse-normal participates (the "
        "coverage.py:522 shared-literal rule); everything else is an "
        "IEEE exactly-rounded chain on integer aggregates, bit-"
        "identical by the behavior_ab_test argument"
    ),
    oracle="""
    WITH t AS (
      SELECT event_id % 2 AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events),
    s AS (
      SELECT sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS c_a,
             sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS n_b,
             sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS c_b
      FROM t),
    d AS (
      SELECT n_a, c_a, n_b, c_b,
             c_a / CAST(n_a AS DOUBLE) AS pa,
             c_b / CAST(n_b AS DOUBLE) AS pb,
             (c_a + c_b) / CAST(n_a + n_b AS DOUBLE) AS pbar
      FROM s)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
           round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
           round((1.959964 + 0.841621)
                 * sqrt(2.0 * pbar * (1.0 - pbar) / n_a), 6) AS mde_abs,
           CASE WHEN pa <> pb THEN CAST(ceil(
             (1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
                 + 0.841621 * sqrt(pa * (1.0 - pa) + pb * (1.0 - pb)))
             * (1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
                 + 0.841621 * sqrt(pa * (1.0 - pa) + pb * (1.0 - pb)))
             / ((pa - pb) * (pa - pb))) AS BIGINT) END AS n_required_per_arm
    FROM d
    """,
)
def behavior_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from observed data: with the current per-arm
    n, the minimum absolute rate difference detectable at alpha=0.05 /
    power=0.80 (MDE = (z_{a/2}+z_b)·sqrt(2·pbar·(1-pbar)/n)), and the
    per-arm sample size required to detect the delta actually observed
    (the standard two-proportion formula with pooled variance under H0
    and unpooled under H1). The z quantiles are shared 6-digit
    literals — no engine evaluates an inverse normal — and the rest is
    divisions/sqrt/multiplications on integer aggregates in identical
    operand order, so the doubles are bit-identical (behavior_ab_test's
    argument) and even the ceil() cannot straddle. The H1 numerator
    squares via x*x, NOT pow(x, 2): *, /, sqrt are IEEE
    exactly-rounded, but pow is correctly-rounded in neither Java's
    Math.pow nor libm, so pow could diverge by an ulp near an integer
    boundary and flip the gated BIGINT (round-9 ADVICE finding).

    Scale shape: identical to behavior_ab_test — ONE map-side-combined
    global aggregate (four conditional integer sums), then 1-row
    arithmetic. A 100 TB event log costs a scan plus a 1-row
    exchange."""
    e = load(spark, sf_dir, "events")
    t = e.select(
        (F.col("event_id") % 2).alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    s = t.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("v") == 0, F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("v") == 1, F.col("conv")).otherwise(0)).alias("c_b"),
    )
    pa = F.col("c_a") / F.col("n_a").cast("double")
    pb = F.col("c_b") / F.col("n_b").cast("double")
    pbar = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b")).cast(
        "double"
    )
    z_a, z_b = F.lit(1.959964), F.lit(0.841621)
    mde = F.round(
        (z_a + z_b) * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar) / F.col("n_a")),
        6,
    )
    # degenerate-input guard (the ADVICE structural-parity class):
    # with pa == pb the divisor is 0 — Spark's ANSI mode RAISES on
    # division by zero while DuckDB yields NULL, so the guard must be
    # an explicit CASE on BOTH sides, not an incidental NULL
    # x*x, never pow(x, 2): multiplication is IEEE exactly-rounded so
    # the bit-identical chain holds; pow is not correctly-rounded in
    # Java's Math.pow or libm (round-9 ADVICE finding)
    h1 = z_a * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar)) + z_b * F.sqrt(
        pa * (F.lit(1.0) - pa) + pb * (F.lit(1.0) - pb)
    )
    n_req = F.when(
        pa != pb,
        F.ceil(h1 * h1 / ((pa - pb) * (pa - pb))).cast("long"),
    )
    return s.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        mde.alias("mde_abs"),
        n_req.alias("n_required_per_arm"),
    )


@register(
    "behavior_rfm_segments",
    survey_ref=(
        "[EXT] RFM segmentation (Hughes 1994, the classic "
        "recency/frequency/monetary customer scoring) with FIXED "
        "integer bins — quantile bins would need a global sort, fixed "
        "bins are one per-user aggregate; monetary sums in exact cents "
        "(value·100 rounded per row THEN summed as BIGINT — never a "
        "cross-row double sum), every score a pure-integer CASE"
    ),
    oracle="""
    WITH u AS (
      SELECT user_id,
             count(*) AS frequency,
             sum(CAST(round(value * 100) AS BIGINT)) AS monetary_cents,
             max(CAST(ts AS DATE)) AS last_day
      FROM events GROUP BY user_id),
    m AS (SELECT max(last_day) AS max_day FROM u),
    s AS (
      SELECT user_id, frequency, monetary_cents,
             datediff('day', last_day, max_day) AS recency_days
      FROM u CROSS JOIN m),
    sc AS (
      SELECT user_id, recency_days, frequency, monetary_cents,
             5 - least(4, recency_days) AS r_score,
             CASE WHEN frequency >= 80 THEN 5 WHEN frequency >= 70 THEN 4
                  WHEN frequency >= 60 THEN 3 WHEN frequency >= 50 THEN 2
                  ELSE 1 END AS f_score,
             CASE WHEN monetary_cents >= 450000 THEN 5
                  WHEN monetary_cents >= 380000 THEN 4
                  WHEN monetary_cents >= 310000 THEN 3
                  WHEN monetary_cents >= 240000 THEN 2
                  ELSE 1 END AS m_score
      FROM s)
    SELECT user_id,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(monetary_cents AS BIGINT) AS monetary_cents,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champions'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN m_score >= 4 THEN 'big_spender'
                WHEN r_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM sc
    """,
)
def behavior_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM scoring with fixed bins: recency in days against
    the corpus's latest active day, frequency as raw event count,
    monetary as exact integer cents (per-row round THEN BIGINT sum —
    the README's no-double-sum rule), each mapped to a 1-5 score by
    fixed thresholds and folded into the standard first-match segment
    ladder (champions → loyal → big_spender → at_risk → regular).
    Fixed bins instead of quantile bins is the scale decision: ntile
    over users needs a global sort; thresholds need one per-user
    aggregate and a 1-row max-day broadcast.

    Scale shape: ONE user-keyed aggregate with map-side partials, a
    1-row broadcast (quality_sequence_gaps' allowlisted class), then
    per-row integer CASEs. A 100 TB event log costs its scan."""
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
        F.max(F.col("ts").cast("date")).alias("last_day"),
    )
    m = u.agg(F.max("last_day").alias("max_day"))
    s = u.crossJoin(F.broadcast(m)).withColumn(
        "recency_days", F.datediff("max_day", "last_day")
    )
    f_score = (
        F.when(F.col("frequency") >= 80, 5)
        .when(F.col("frequency") >= 70, 4)
        .when(F.col("frequency") >= 60, 3)
        .when(F.col("frequency") >= 50, 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("monetary_cents") >= 450000, 5)
        .when(F.col("monetary_cents") >= 380000, 4)
        .when(F.col("monetary_cents") >= 310000, 3)
        .when(F.col("monetary_cents") >= 240000, 2)
        .otherwise(1)
    )
    sc = s.select(
        "user_id",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_cents",
        (F.lit(5) - F.least(F.lit(4), F.col("recency_days")))
        .cast("int")
        .alias("r_score"),
        f_score.cast("int").alias("f_score"),
        m_score.cast("int").alias("m_score"),
    )
    return sc.withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champions",
        )
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spender")
        .when(F.col("r_score") <= 2, "at_risk")
        .otherwise("regular"),
    )


@register(
    "w34_cohort_ltv",
    survey_ref=(
        "[EXT] cohort LTV curve (the retention-revenue companion to "
        "w11_retention_cohorts): per signup-week cohort, cumulative "
        "revenue per user by age week — revenue in exact per-row-"
        "rounded cents (no cross-row double sum), the cumsum a window "
        "over the bounded (cohort_week, age_week) grid, LTV an "
        "integer division of non-negative cents"
    ),
    oracle="""
    WITH r AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    m AS (SELECT min(day) AS d0 FROM r),
    u AS (
      SELECT user_id, min(day) AS cohort_day FROM r GROUP BY user_id),
    uw AS (
      SELECT u.user_id,
             datediff('day', m.d0, u.cohort_day) // 7 AS cohort_week,
             u.cohort_day
      FROM u CROSS JOIN m),
    cohort_sizes AS (
      SELECT cohort_week, count(*) AS n_users FROM uw GROUP BY cohort_week),
    cells AS (
      SELECT uw.cohort_week,
             datediff('day', uw.cohort_day, r.day) // 7 AS age_week,
             sum(r.cents) AS revenue_cents
      FROM r JOIN uw USING (user_id)
      GROUP BY uw.cohort_week, datediff('day', uw.cohort_day, r.day) // 7),
    cum AS (
      SELECT cohort_week, age_week, revenue_cents,
             sum(revenue_cents) OVER (PARTITION BY cohort_week
                                      ORDER BY age_week) AS cum_cents
      FROM cells)
    SELECT c.cohort_week, c.age_week,
           CAST(s.n_users AS BIGINT) AS n_users,
           CAST(c.revenue_cents AS BIGINT) AS revenue_cents,
           CAST(c.cum_cents AS BIGINT) AS cum_revenue_cents,
           CAST(c.cum_cents // s.n_users AS BIGINT) AS ltv_cents_per_user
    FROM cum c JOIN cohort_sizes s USING (cohort_week)
    """,
)
def w34_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-revenue-per-user curves by signup cohort: users are
    grouped into cohort weeks by first activity, revenue lands in
    (cohort_week, age_week) cells as exact integer cents, and each
    cohort's running total divides by its size — the LTV readout that
    pairs with w11's retention triangle. All arithmetic integer; the
    cumsum runs AFTER the cell rollup, so the window moves the bounded
    |cohorts|×|ages| grid, never the event stream.

    Scale shape: one user-keyed aggregate (cohort assignment), one
    (cohort, age)-keyed aggregate with map-side partials, a 1-row
    min-day broadcast (the quality_sequence_gaps allowlisted class),
    and a cohort-partitioned grid window."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    r = e.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    u = r.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    # the corpus min day IS the min over per-user minima — deriving it
    # from u (user-sized) instead of r saves an event scan; uw is
    # reused by the sizes rollup and the cell join, so a lazy
    # localCheckpoint keeps the event table at two scans total
    m = u.agg(F.min("cohort_day").alias("d0"))
    uw = (
        u.crossJoin(F.broadcast(m))
        .select(
            "user_id",
            F.expr("datediff(cohort_day, d0) div 7").alias("cohort_week"),
            "cohort_day",
        )
        .localCheckpoint(eager=False)
    )
    sizes = uw.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_users"))
    cells = (
        r.join(uw, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(day, cohort_day) div 7").alias("age_week"),
        )
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    w = Window.partitionBy("cohort_week").orderBy("age_week")
    cum = cells.withColumn("cum_cents", F.sum("revenue_cents").over(w))
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "age_week",
        F.col("n_users").cast("long").alias("n_users"),
        "revenue_cents",
        F.col("cum_cents").alias("cum_revenue_cents"),
        F.expr("cum_cents div n_users").alias("ltv_cents_per_user"),
    )


@register(
    "behavior_path_trigrams",
    survey_ref=(
        "[EXT] top behavioral 3-step paths (the n=3 extension of "
        "w13_markov_transitions' pair counts — sequence-pattern mining "
        "à la Agrawal & Srikant 1995, bounded to contiguous trigrams): "
        "per-user event order pinned by (ts, event_id) per the w12 tie "
        "discipline; two seq-keyed self-joins, integer counts, "
        "deterministic (count desc, path asc) top-10"
    ),
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS seq
      FROM events),
    tri AS (
      SELECT a.event_type || '>' || b.event_type || '>' || c.event_type
               AS path
      FROM s a
      JOIN s b ON b.user_id = a.user_id AND b.seq = a.seq + 1
      JOIN s c ON c.user_id = a.user_id AND c.seq = a.seq + 2)
    SELECT path, CAST(count(*) AS BIGINT) AS n
    FROM tri GROUP BY path
    ORDER BY n DESC, path ASC LIMIT 10
    """,
)
def behavior_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ten most-travelled contiguous 3-step event paths: per-user
    sequences ordered by (ts, event_id) — the established duplicate-ts
    tiebreak — then trigrams assembled by joining seq to seq+1 to
    seq+2 within the user and counted corpus-wide.

    Scale shape: ONE user-keyed window pass (lead(1), lead(2) share
    the same frame — one shuffle, one sort); the path rollup is
    map-side partial-aggregated and the top-10 is
    TakeOrderedAndProject. The oracle keeps the seq-keyed self-join
    form as an independent derivation of the same trigrams."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # lead() assembles the trigram inside ONE user-keyed window pass —
    # the seq-keyed self-join form (the oracle's independent
    # derivation) re-planned the event scan and the ranking window
    # once per joined side (3 FileScans / 3 Windows measured)
    tri = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    paths = tri.select(
        F.concat_ws(">", "t1", "t2", "t3").alias("path")
    ).groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    return paths.orderBy(F.desc("n"), F.asc("path")).limit(10)


# one scaled-integer power-iteration round over the bounded transition
# grid: pi'[j] = sum_i (pi[i] * C[i][j]) div rowsum[i] — per-term
# truncating division on non-negative operands, bit-identical across
# engines (the pagerank discipline on a |types|-sized chain)
_MARKOV_STEP = """
    pi{i} AS (
      SELECT t.b AS event_type,
             CAST(sum((p.mass * t.c) // r.rowsum) AS BIGINT) AS mass
      FROM trans t
      JOIN pi{p} p ON p.event_type = t.a
      JOIN rowsums r ON r.a = t.a
      GROUP BY t.b)
"""


@register(
    "behavior_markov_stationary",
    survey_ref=(
        "[EXT] stationary distribution of the event-type Markov chain "
        "(the long-run companion to w13_markov_transitions): 3 "
        "power-iteration rounds in ×1e6 scaled-integer arithmetic over "
        "the bounded |types|² transition grid, unrolled as oracle CTEs "
        "(the pagerank/k-core convention); transition order pinned by "
        "(ts, event_id) per the w12 tie discipline"
    ),
    oracle=(
        """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    trans AS (
      SELECT event_type AS a, nxt AS b, count(*) AS c
      FROM s WHERE nxt IS NOT NULL GROUP BY event_type, nxt),
    rowsums AS (SELECT a, sum(c) AS rowsum FROM trans GROUP BY a),
    types AS (SELECT DISTINCT a AS event_type FROM trans),
    k AS (SELECT count(*) AS n FROM types),
    pi0 AS (
      SELECT event_type, CAST(1000000 // k.n AS BIGINT) AS mass
      FROM types CROSS JOIN k),
    """
        + ",".join(_MARKOV_STEP.format(i=i, p=i - 1) for i in (1, 2, 3))
        + """
    SELECT t.event_type,
           CAST(r.rowsum AS BIGINT) AS out_transitions,
           p0.mass AS mass_uniform,
           CAST(coalesce(p3.mass, 0) AS BIGINT) AS mass_3rounds
    FROM types t
    JOIN rowsums r ON r.a = t.event_type
    JOIN pi0 p0 ON p0.event_type = t.event_type
    LEFT JOIN pi3 p3 ON p3.event_type = t.event_type
    """
    ),
)
def behavior_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the behavioral chain settles: three exact power-iteration
    rounds of π'ᵀ = πᵀP over the event-type transition matrix, kept in
    ×1e6 scaled BIGINT (each term (π[i]·C[i][j]) div rowsum[i] — the
    truncating division both engines share on non-negative ints), so a
    fixed-round run is CTE-unrollable and hash-exact. The chain here
    mixes fast (event types are nearly independent draws), so three
    rounds already sit at the stationary mix — the readout that ranks
    types by long-run visit share rather than raw counts.

    Scale shape: one user-keyed lead window collapses the stream to a
    ≤|types|² grid; every iteration joins |types|-sized frames — at
    100 TB the event scan is the entire cost, exactly like
    w13_markov_transitions."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = (
        s.groupBy(F.col("event_type").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    rowsums = trans.groupBy("a").agg(F.sum("c").alias("rowsum"))
    types = trans.select(F.col("a").alias("event_type")).distinct()
    k = types.agg(F.count(F.lit(1)).alias("n"))
    pi = types.crossJoin(F.broadcast(k)).select(
        "event_type", F.expr("CAST(1000000 div n AS BIGINT)").alias("mass")
    )
    tr = trans.join(rowsums, "a")

    def power_step(pi: DataFrame, _i: int) -> DataFrame:
        return (
            tr.join(pi, tr["a"] == pi["event_type"])
            .select(
                F.col("b"),
                F.expr("(mass * c) div rowsum").alias("term"),
            )
            .groupBy(F.col("b").alias("event_type"))
            .agg(F.sum("term").alias("mass"))
        )

    # one cut at the end: per-round cuts lose the reuse of tr's exchanges
    # across rounds (measured 1.46x slower at sf0.1)
    pi, _, _ = iterate(pi, power_step, 3, checkpoint_every=3)
    p0 = types.crossJoin(F.broadcast(k)).select(
        "event_type", F.expr("CAST(1000000 div n AS BIGINT)").alias("mass_uniform")
    )
    return (
        types.join(rowsums, types["event_type"] == rowsums["a"])
        .select("event_type", F.col("rowsum").cast("long").alias("out_transitions"))
        .join(p0, "event_type")
        .join(
            pi.select("event_type", F.col("mass").alias("mass_3rounds")),
            "event_type",
            "left",
        )
        .select(
            "event_type",
            "out_transitions",
            "mass_uniform",
            F.coalesce("mass_3rounds", F.lit(0)).cast("long").alias("mass_3rounds"),
        )
    )


# Scaled-integer smoothing folds shared by w35/stream_holt_replay
# (Holt) and w37/stream_hw_replay (Holt-Winters): α = β = γ = 1/2 in
# micro-units, floor division by 2 done as (v + 2^41) // 2 − 2^40 so
# every numerator is non-negative, where Python //, Spark div and
# DuckDB // agree. Module-level so each batch query and its replay
# witness run the SAME fold, and the split-at-every-point identities
# are pytest-pinnable (tests/test_streaming.py, test_windows_ext.py).
_S, _B = 1_000_000, 1 << 41
_H = _B // 2
_HW_SCHEMA = (
    "event_type string, n_days long, level_scaled long, "
    "trend_scaled long, season_next_scaled long"
)


def _holt_step(c_t: int, lvl: int, b: int) -> tuple:
    """One Holt update, l' = ⌊(x + l + b)/2⌋ and b' = ⌊(l' − l + b)/2⌋,
    with x = c_t in micro-units."""
    ln = (c_t * _S + lvl + b + _B) // 2 - _H
    return ln, (ln - lvl + b + _B) // 2 - _H


def _holt_resume(lvl: int, b: int, c: list) -> tuple:
    """Continue the Holt fold from (level, trend) over counts c."""
    for c_t in c:
        lvl, b = _holt_step(c_t, lvl, b)
    return lvl, b


def _holt_state_after(c: list) -> tuple:
    """(level, trend) after folding counts c from t=0: level seeded
    with c0, trend with c1 − c0 (0 while only one count is seen)."""
    b = (c[1] - c[0]) * _S if len(c) >= 2 else 0
    return _holt_resume(c[0] * _S, b, c[1:])


def _holt_row(n: int, lvl: int, b: int) -> dict:
    """A Holt output row: n days folded to (level, trend)."""
    return {"n_days": n, "level_scaled": lvl, "trend_scaled": b}


def _hw_state_after(c: list) -> tuple:
    """(n, level, trend, seasonal[7]) after folding counts c from t=0.
    Below 7 counts the init window is still filling — level/trend/s
    are not yet defined (the caller carries raw counts instead)."""
    n = len(c)
    if n < 7:
        return n, 0, 0, [0] * 7
    lvl = (sum(c[:7]) * _S) // 7
    b = 0
    s = [c[j] * _S - lvl for j in range(7)]
    for t in range(7, n):
        lvl, b = _hw_step(c[t], t, lvl, b, s)
    return n, lvl, b, s


def _hw_step(c_t: int, t: int, lvl: int, b: int, s: list) -> tuple:
    """One Holt-Winters update at absolute position t (mutates s)."""
    x = c_t * _S
    dow = t % 7
    ln = (x - s[dow] + lvl + b + _B) // 2 - _H
    bn = (ln - lvl + b + _B) // 2 - _H
    s[dow] = (x - ln + s[dow] + _B) // 2 - _H
    return ln, bn


def _hw_resume(n1: int, lvl: int, b: int, s: list, c2: list) -> tuple:
    """Continue the fold from carried state over generation-2 counts."""
    s = list(s)
    for i, c_t in enumerate(c2):
        lvl, b = _hw_step(c_t, n1 + i, lvl, b, s)
    return n1 + len(c2), lvl, b, s


def _hw_row(n: int, lvl: int, b: int, s: list) -> dict | None:
    """A Holt-Winters output row, or None below 7 days: the oracles'
    recursion starts at t = 6, so a shorter series has no state."""
    if n < 7:
        return None
    return {
        "n_days": n,
        "level_scaled": lvl,
        "trend_scaled": b,
        "season_next_scaled": s[n % 7],
    }


def _grouped_fold(grid: DataFrame, fold, schema: str) -> DataFrame:
    """Per-type grouped map of a pure fold over the daily grid: each
    type's rows reach ``fold`` as its day-ordered counts — plus, when
    ``grid`` carries columns beyond (event_type, day, n), the first
    row's values of them as a dict (None where a left join found no
    state) — and ``fold`` returns the type's output columns, or None
    for no row."""
    extra = [c for c in grid.columns if c not in ("event_type", "day", "n")]

    def run(pdf):
        import pandas as pd

        pdf = pdf.sort_values("day")
        first = pdf.iloc[0]
        c = [int(v) for v in pdf["n"]]
        if extra:
            st = None if pd.isna(first[extra[0]]) else {
                k: int(first[k]) for k in extra
            }
            row = fold(c, st)
        else:
            row = fold(c)
        if row is None:
            return pd.DataFrame([])
        return pd.DataFrame([{"event_type": first["event_type"], **row}])

    return grid.groupBy("event_type").applyInPandas(run, schema)


def _split_replay(
    spark: SparkSession, sf_dir: str, gen1, state_schema: str, gen2, schema
) -> DataFrame:
    """Two micro-batch generations over the daily grid: the days below
    the corpus midpoint ⌈(min + max) / 2⌉ fold per type in ``gen1``
    into one state row (``state_schema``), which a left join hands to
    ``gen2`` with the remaining days (None where a type has no
    generation-1 rows) — what a stateful streaming operator's store
    does between micro-batches. The midpoint is a 1-row broadcast, the
    behavior_did threshold class."""
    days = _daily_counts(spark, sf_dir).select("day").distinct()
    mid = days.agg(F.expr("(min(day) + max(day) + 1) div 2").alias("mid"))
    g = _daily_grid(spark, sf_dir).crossJoin(F.broadcast(mid))
    cols = ("event_type", "day", "n")
    state = _grouped_fold(
        g.filter(F.col("day") < F.col("mid")).select(*cols), gen1, state_schema
    )
    late = g.filter(F.col("day") >= F.col("mid")).select(*cols)
    return _grouped_fold(late.join(state, "event_type", "left"), gen2, schema)


@register(
    "w35_holt_linear",
    survey_ref=(
        "[EXT] Holt linear-trend exponential smoothing (Holt 1957; "
        "the level+trend upgrade over w20's seasonal-naive floor and "
        "w21's trendless EWMA): α=β=1/2 so the recurrence is exact "
        "scaled-integer arithmetic — level and trend in micro-units "
        "with floor-div-by-2 via the bias trick (v + 2^41) div 2 − "
        "2^40, keeping every division numerator non-negative where "
        "Python //, Spark div and DuckDB // agree — run as a per-type "
        "grouped-map over the bounded day grid and replayed by the "
        "oracle as a RECURSIVE CTE: two engines, two execution "
        "models, one integer fixpoint"
    ),
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    dseq AS (
      SELECT day, row_number() OVER (ORDER BY day) - 1 AS t
      FROM (SELECT DISTINCT day FROM daily)),
    nmax AS (SELECT count(*) AS T FROM dseq),
    grid AS (
      SELECT ty.event_type, d.t, coalesce(da.n, 0) AS c
      FROM (SELECT DISTINCT event_type FROM daily) ty
      CROSS JOIN dseq d
      LEFT JOIN daily da ON da.event_type = ty.event_type
                        AND da.day = d.day),
    rec AS (
      SELECT g0.event_type, 0 AS t,
             g0.c * 1000000 AS l,
             CASE WHEN (SELECT T FROM nmax) >= 2
                  THEN (g1.c - g0.c) * 1000000 ELSE 0 END AS b
      FROM grid g0
      LEFT JOIN grid g1 ON g1.event_type = g0.event_type AND g1.t = 1
      WHERE g0.t = 0
      UNION ALL
      SELECT r.event_type, r.t + 1,
             (g.c * 1000000 + r.l + r.b + 2199023255552) // 2
               - 1099511627776 AS l,
             (((g.c * 1000000 + r.l + r.b + 2199023255552) // 2
               - 1099511627776) - r.l + r.b + 2199023255552) // 2
               - 1099511627776 AS b
      FROM rec r
      JOIN grid g ON g.event_type = r.event_type AND g.t = r.t + 1)
    SELECT r.event_type,
           CAST(n.T AS BIGINT) AS n_days,
           CAST(r.l AS BIGINT) AS level_scaled,
           CAST(r.b AS BIGINT) AS trend_scaled,
           round(CAST(r.l + r.b AS DOUBLE) / 1000000, 6) AS forecast_next
    FROM rec r CROSS JOIN nmax n
    WHERE r.t = n.T - 1
    """,
)
def w35_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoother over per-type daily volumes, exact
    to the last micro-unit: with α = β = 1/2 every update is
    l' = ⌊(x·10⁶ + l + b)/2⌋, b' = ⌊(l' − l + b)/2⌋ — floor division
    by 2 done as (v + 2^41) div 2 − 2^40 so the numerator is
    non-negative (below zero Python //, Spark div and DuckDB //
    all disagree — the layout_hilbert_order lesson, README division
    audit). The Spark side runs the recurrence as a grouped-map over
    the dense (type, day) grid (bounded state: one int pair per type);
    the oracle replays it as a DuckDB RECURSIVE CTE — independent
    execution models that must land on the identical integer, which
    is the strongest cross-engine gate a sequential recurrence can
    get. Output: final level/trend in micro-units and the one-step
    forecast l+b, the only float being that display division.

    Scale shape: one (type, day) rollup cuts the stream (w19/w20
    class); the grid fill is a bounded dimension cross; the
    grouped-map holds two integers per type regardless of history
    length. At 100 TB the recurrence still touches only the
    |types|×|days| grid."""
    out = _grouped_fold(
        _daily_grid(spark, sf_dir),
        lambda c: _holt_row(len(c), *_holt_state_after(c)),
        "event_type string, n_days long, level_scaled long, "
        "trend_scaled long",
    )
    return out.select(
        "event_type",
        "n_days",
        "level_scaled",
        "trend_scaled",
        F.round(
            (F.col("level_scaled") + F.col("trend_scaled")).cast("double")
            / 1000000,
            6,
        ).alias("forecast_next"),
    )


@register(
    "behavior_did",
    survey_ref=(
        "[EXT] difference-in-differences readout (Card & Krueger 1994 "
        "design; the quasi-experimental counterpart of behavior_ab_test"
        "/behavior_ab_cuped): purchase-rate 2×2 over (treatment = "
        "user parity, period = before/after the corpus midpoint day), "
        "DID = (r_t,post − r_t,pre) − (r_c,post − r_c,pre) combined "
        "from round-6 rates in fixed operand order — subtraction of "
        "identical doubles is bit-identical, so the causal estimate "
        "itself is hash-gated, not just the cell counts"
    ),
    oracle="""
    WITH ev AS (
      SELECT user_id % 2 = 1 AS treat,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events),
    bounds AS (
      SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
    cells AS (
      SELECT
        sum(CASE WHEN NOT treat AND day <  mid THEN 1 ELSE 0 END) AS n_c_pre,
        sum(CASE WHEN NOT treat AND day <  mid THEN conv ELSE 0 END) AS k_c_pre,
        sum(CASE WHEN NOT treat AND day >= mid THEN 1 ELSE 0 END) AS n_c_post,
        sum(CASE WHEN NOT treat AND day >= mid THEN conv ELSE 0 END) AS k_c_post,
        sum(CASE WHEN treat AND day <  mid THEN 1 ELSE 0 END) AS n_t_pre,
        sum(CASE WHEN treat AND day <  mid THEN conv ELSE 0 END) AS k_t_pre,
        sum(CASE WHEN treat AND day >= mid THEN 1 ELSE 0 END) AS n_t_post,
        sum(CASE WHEN treat AND day >= mid THEN conv ELSE 0 END) AS k_t_post
      FROM ev CROSS JOIN bounds),
    rates AS (
      SELECT *,
        round(CAST(k_c_pre AS DOUBLE) / n_c_pre, 6) AS r_c_pre,
        round(CAST(k_c_post AS DOUBLE) / n_c_post, 6) AS r_c_post,
        round(CAST(k_t_pre AS DOUBLE) / n_t_pre, 6) AS r_t_pre,
        round(CAST(k_t_post AS DOUBLE) / n_t_post, 6) AS r_t_post
      FROM cells)
    SELECT CAST(n_c_pre AS BIGINT) AS n_c_pre,
           CAST(k_c_pre AS BIGINT) AS k_c_pre,
           CAST(n_c_post AS BIGINT) AS n_c_post,
           CAST(k_c_post AS BIGINT) AS k_c_post,
           CAST(n_t_pre AS BIGINT) AS n_t_pre,
           CAST(k_t_pre AS BIGINT) AS k_t_pre,
           CAST(n_t_post AS BIGINT) AS n_t_post,
           CAST(k_t_post AS BIGINT) AS k_t_post,
           r_c_pre, r_c_post, r_t_pre, r_t_post,
           round((r_t_post - r_t_pre) - (r_c_post - r_c_pre), 6) AS did
    FROM rates
    """,
)
def behavior_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the event stream: treatment =
    odd user ids, periods split at the corpus midpoint day (a 1-row
    min/max broadcast — the w15 integer-threshold class), outcome =
    purchase share. All eight cell counts land in ONE conditional
    global aggregation (single scan, map-side partials); the four
    rates are round-6 single divisions and the DID estimate combines
    them in fixed operand order, where IEEE subtraction of identical
    doubles is deterministic — the behavior_ab_test discipline
    extended to the 2×2 design.

    Scale shape: one scan + a 1-row bounds broadcast; the output is
    one row. The parallel-trends caveat is the analyst's, not the
    engine's. n > 0 per cell holds for any corpus with both parities
    and ≥2 days; degenerate sources yield NULL rates (ANSI division
    guarded by the CASE-free round/NULL propagation on both engines
    only when n=0 — here counts are corpus-guaranteed positive)."""
    ev = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 1).alias("treat"),
        _day(),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    bounds = ev.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("mid")
    )
    j = ev.crossJoin(F.broadcast(bounds))
    t, d, c = F.col("treat"), F.col("day"), F.col("conv")
    pre, post = d < F.col("mid"), d >= F.col("mid")
    cells = j.agg(
        F.sum(F.when(~t & pre, 1).otherwise(0)).alias("n_c_pre"),
        F.sum(F.when(~t & pre, c).otherwise(0)).alias("k_c_pre"),
        F.sum(F.when(~t & post, 1).otherwise(0)).alias("n_c_post"),
        F.sum(F.when(~t & post, c).otherwise(0)).alias("k_c_post"),
        F.sum(F.when(t & pre, 1).otherwise(0)).alias("n_t_pre"),
        F.sum(F.when(t & pre, c).otherwise(0)).alias("k_t_pre"),
        F.sum(F.when(t & post, 1).otherwise(0)).alias("n_t_post"),
        F.sum(F.when(t & post, c).otherwise(0)).alias("k_t_post"),
    )
    r = lambda k, n: F.round(  # noqa: E731 — local rate shorthand
        F.col(k).cast("double") / F.col(n), 6
    )
    rates = cells.select(
        *[F.col(x).cast("long").alias(x) for x in (
            "n_c_pre", "k_c_pre", "n_c_post", "k_c_post",
            "n_t_pre", "k_t_pre", "n_t_post", "k_t_post",
        )],
        r("k_c_pre", "n_c_pre").alias("r_c_pre"),
        r("k_c_post", "n_c_post").alias("r_c_post"),
        r("k_t_pre", "n_t_pre").alias("r_t_pre"),
        r("k_t_post", "n_t_post").alias("r_t_post"),
    )
    return rates.select(
        "*",
        F.round(
            (F.col("r_t_post") - F.col("r_t_pre"))
            - (F.col("r_c_post") - F.col("r_c_pre")),
            6,
        ).alias("did"),
    )


@register(
    "w36_anova_dow",
    survey_ref=(
        "[EXT] one-way ANOVA of daily volumes by day-of-week (Fisher "
        "1925) — the variance-explained seasonality test the stats "
        "family lacked beside chi², KS, bootstrap and CUPED: sum-of-"
        "squares decomposition with every group term round-6 then "
        "summed in exact DECIMAL (the eval_bleu_log assembly), F and "
        "η² as single identically-ordered divisions; a strong weekly "
        "pattern shows as η² → 1 on the dow axis"
    ),
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS x
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type, day % 7 AS dow,
             count(*) AS n_g, sum(x) AS s_g, sum(x * x) AS q_g
      FROM daily GROUP BY 1, 2),
    terms AS (
      SELECT event_type,
             count(*) AS k,
             sum(n_g) AS n,
             sum(s_g) AS s,
             sum(q_g) AS q,
             sum(CAST(round(CAST(s_g * s_g AS DOUBLE) / n_g, 6)
                      AS DECIMAL(18,6))) AS a
      FROM g GROUP BY event_type),
    sums AS (
      SELECT event_type, k, n, q,
             a - CAST(round(CAST(s * s AS DOUBLE) / n, 6)
                      AS DECIMAL(18,6)) AS ssb,
             CAST(q AS DECIMAL(18,6)) - a AS ssw,
             CAST(q AS DECIMAL(18,6))
               - CAST(round(CAST(s * s AS DOUBLE) / n, 6)
                      AS DECIMAL(18,6)) AS sst
      FROM terms)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(k AS BIGINT) AS k_groups,
           CAST(ssb AS DOUBLE) AS ssb,
           CAST(ssw AS DOUBLE) AS ssw,
           CASE WHEN CAST(ssw AS DOUBLE) > 0 AND k > 1 AND n > k THEN
             round(CAST(ssb AS DOUBLE) * (n - k)
                   / (CAST(ssw AS DOUBLE) * (k - 1)), 6) END AS f_stat,
           CASE WHEN CAST(sst AS DOUBLE) > 0 THEN
             round(CAST(ssb AS DOUBLE) / CAST(sst AS DOUBLE), 6) END
             AS eta_sq
    FROM sums
    """,
)
def w36_anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does day-of-week explain a type's daily volume? One-way ANOVA
    per event type with dow groups: SSB = Σ_g S_g²/n_g − S²/n and
    SSW = Q − Σ_g S_g²/n_g, where each data-dependent division is
    rounded at 6 and the sums are assembled in exact DECIMAL so no
    cross-group float addition order exists (the README round-then-
    DECIMAL discipline); F = [SSB/(k−1)]/[SSW/(n−k)] is computed as
    ONE division of identically-derived doubles with the integer df
    factors multiplied through, and η² = SSB/SST likewise. Degenerate
    sources (zero within-group variance, k=1) yield NULL statistics
    on both engines via the same guards.

    Scale shape: the (type, day) rollup cuts the stream (w19/w20
    class), the (type, dow) grid is ≤ 7 rows per type, and everything
    after is per-type arithmetic — no joins at all."""
    daily = _daily_counts(spark, sf_dir)
    g = daily.groupBy("event_type", (F.col("day") % 7).alias("dow")).agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("n").alias("s_g"),
        F.sum(F.col("n") * F.col("n")).alias("q_g"),
    )
    terms = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(
            F.round(
                (F.col("s_g") * F.col("s_g")).cast("double") / F.col("n_g"), 6
            ).cast("decimal(18,6)")
        ).alias("a"),
    )
    grand = F.round(
        (F.col("s") * F.col("s")).cast("double") / F.col("n"), 6
    ).cast("decimal(18,6)")
    sums = terms.select(
        "event_type",
        "k",
        "n",
        "q",
        (F.col("a") - grand).alias("ssb"),
        (F.col("q").cast("decimal(18,6)") - F.col("a")).alias("ssw"),
        (F.col("q").cast("decimal(18,6)") - grand).alias("sst"),
    )
    ssb_d = F.col("ssb").cast("double")
    ssw_d = F.col("ssw").cast("double")
    sst_d = F.col("sst").cast("double")
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("k_groups"),
        ssb_d.alias("ssb"),
        ssw_d.alias("ssw"),
        F.when(
            (ssw_d > 0) & (F.col("k") > 1) & (F.col("n") > F.col("k")),
            F.round(
                ssb_d * (F.col("n") - F.col("k"))
                / (ssw_d * (F.col("k") - 1)),
                6,
            ),
        ).alias("f_stat"),
        F.when(sst_d > 0, F.round(ssb_d / sst_d, 6)).alias("eta_sq"),
    )


@register(
    "behavior_matched_att",
    survey_ref=(
        "[EXT] exact-matching ATT (Rubin 1973 stratified matching — "
        "the observational-causal estimator beside the experimental "
        "ab_test/CUPED/DID family): users stratified into covariate "
        "cells, per-cell treated/control purchase rates, and the "
        "average treatment effect on the treated as the n_t,c-weighted "
        "sum of round-6 cell contrasts assembled in exact DECIMAL — "
        "cells missing a control arm are EXCLUDED and reported (the "
        "common-support count matching papers insist on)"
    ),
    oracle="""
    WITH u AS (
      SELECT user_id,
             user_id % 2 = 1 AS treat,
             (user_id // 2) % 10 AS cell,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS k,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3),
    c AS (
      SELECT cell,
             sum(CASE WHEN treat THEN 1 ELSE 0 END) AS n_t,
             sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS n_c,
             sum(CASE WHEN treat THEN k ELSE 0 END) AS k_t,
             sum(CASE WHEN treat THEN n ELSE 0 END) AS e_t,
             sum(CASE WHEN NOT treat THEN k ELSE 0 END) AS k_c,
             sum(CASE WHEN NOT treat THEN n ELSE 0 END) AS e_c
      FROM u GROUP BY cell),
    rates AS (
      SELECT cell, n_t, n_c,
             round(CAST(k_t AS DOUBLE) / e_t, 6) AS r_t,
             round(CAST(k_c AS DOUBLE) / e_c, 6) AS r_c
      FROM c WHERE n_t > 0 AND n_c > 0),
    att AS (
      SELECT sum(n_t) AS n_t_matched,
             sum(n_t * CAST(round(r_t - r_c, 6) AS DECIMAL(18,6)))
               AS wsum
      FROM rates),
    supp AS (
      SELECT count(*) AS n_cells_total,
             sum(CASE WHEN n_t > 0 AND n_c > 0 THEN 1 ELSE 0 END)
               AS n_cells_matched
      FROM c)
    SELECT r.cell AS cell,
           CAST(r.n_t AS BIGINT) AS n_treated,
           CAST(r.n_c AS BIGINT) AS n_control,
           r.r_t AS rate_treated,
           r.r_c AS rate_control,
           round(r.r_t - r.r_c, 6) AS cell_diff,
           round(CAST(a.wsum AS DOUBLE) / a.n_t_matched, 6) AS att,
           CAST(s.n_cells_matched AS BIGINT) AS n_cells_matched,
           CAST(s.n_cells_total AS BIGINT) AS n_cells_total
    FROM rates r CROSS JOIN att a CROSS JOIN supp s
    """,
)
def behavior_matched_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified-matching treatment effect over the event stream:
    per-user purchase counts roll up into (treatment, covariate-cell)
    strata — the cell key (user div 2) mod 10 is parity-independent, so
    every cell carries both arms (a user%10 cell would DETERMINE the
    arm and leave zero common support — the first cut's empty result); cells with both arms contribute their round-6 rate
    contrast, weighted by the treated count in exact DECIMAL (the
    README round-then-DECIMAL assembly — a float weighted sum would
    depend on cell order); ATT = Σ n_t,c·(r_t,c − r_c,c) / Σ n_t,c is
    one final identically-ordered division. Off-support cells (an arm
    empty) are excluded from the estimate and COUNTED in the output —
    the common-support disclosure. The ATT and support counts repeat
    on every cell row (two 1-row broadcasts), so the gate hashes the
    estimate once per cell alongside the decomposition that produced
    it.

    Scale shape: one user-keyed rollup cuts the stream, one cell-keyed
    re-aggregation (≤10 rows), two 1-row broadcasts. No joins touch
    event rows."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id",
        (F.col("user_id") % 2 == 1).alias("treat"),
        (F.expr("user_id div 2") % 10).alias("cell"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    t = F.col("treat")
    c = u.groupBy("cell").agg(
        F.sum(F.when(t, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(~t, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(t, F.col("k")).otherwise(0)).alias("k_t"),
        F.sum(F.when(t, F.col("n")).otherwise(0)).alias("e_t"),
        F.sum(F.when(~t, F.col("k")).otherwise(0)).alias("k_c"),
        F.sum(F.when(~t, F.col("n")).otherwise(0)).alias("e_c"),
    )
    rates = c.filter((F.col("n_t") > 0) & (F.col("n_c") > 0)).select(
        "cell",
        "n_t",
        "n_c",
        F.round(F.col("k_t").cast("double") / F.col("e_t"), 6).alias("r_t"),
        F.round(F.col("k_c").cast("double") / F.col("e_c"), 6).alias("r_c"),
    )
    att = rates.agg(
        F.sum("n_t").alias("n_t_matched"),
        F.sum(
            F.col("n_t")
            * F.round(F.col("r_t") - F.col("r_c"), 6).cast("decimal(18,6)")
        ).alias("wsum"),
    )
    supp = c.agg(
        F.count(F.lit(1)).alias("n_cells_total"),
        F.sum(
            F.when((F.col("n_t") > 0) & (F.col("n_c") > 0), 1).otherwise(0)
        ).alias("n_cells_matched"),
    )
    return (
        rates.crossJoin(F.broadcast(att))
        .crossJoin(F.broadcast(supp))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n_t").cast("long").alias("n_treated"),
            F.col("n_c").cast("long").alias("n_control"),
            F.col("r_t").alias("rate_treated"),
            F.col("r_c").alias("rate_control"),
            F.round(F.col("r_t") - F.col("r_c"), 6).alias("cell_diff"),
            F.round(
                F.col("wsum").cast("double") / F.col("n_t_matched"), 6
            ).alias("att"),
            F.col("n_cells_matched").cast("long").alias("n_cells_matched"),
            F.col("n_cells_total").cast("long").alias("n_cells_total"),
        )
    )


@register(
    "stream_holt_replay",
    survey_ref=(
        "[EXT] streaming-state replay witness for the Holt recurrence "
        "(round 10; the stream_session_replay discipline applied to "
        "w35): the day grid is processed as TWO micro-batch "
        "generations — the first grouped-map emits per-type (level, "
        "trend) state, the second RESUMES from that carried state — "
        "and the oracle is the ONE-SHOT recursive CTE that never saw "
        "generations, so a hash match proves state carry-over "
        "reproduces the batch fold exactly (a left fold splits at any "
        "point; the witness checks the MECHANICS, not the algebra)"
    ),
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    dseq AS (
      SELECT day, row_number() OVER (ORDER BY day) - 1 AS t
      FROM (SELECT DISTINCT day FROM daily)),
    nmax AS (SELECT count(*) AS T FROM dseq),
    grid AS (
      SELECT ty.event_type, d.t, coalesce(da.n, 0) AS c
      FROM (SELECT DISTINCT event_type FROM daily) ty
      CROSS JOIN dseq d
      LEFT JOIN daily da ON da.event_type = ty.event_type
                        AND da.day = d.day),
    rec AS (
      SELECT g0.event_type, 0 AS t,
             g0.c * 1000000 AS l,
             CASE WHEN (SELECT T FROM nmax) >= 2
                  THEN (g1.c - g0.c) * 1000000 ELSE 0 END AS b
      FROM grid g0
      LEFT JOIN grid g1 ON g1.event_type = g0.event_type AND g1.t = 1
      WHERE g0.t = 0
      UNION ALL
      SELECT r.event_type, r.t + 1,
             (g.c * 1000000 + r.l + r.b + 2199023255552) // 2
               - 1099511627776 AS l,
             (((g.c * 1000000 + r.l + r.b + 2199023255552) // 2
               - 1099511627776) - r.l + r.b + 2199023255552) // 2
               - 1099511627776 AS b
      FROM rec r
      JOIN grid g ON g.event_type = r.event_type AND g.t = r.t + 1)
    SELECT r.event_type,
           CAST(n.T AS BIGINT) AS n_days,
           CAST(r.l AS BIGINT) AS level_scaled,
           CAST(r.b AS BIGINT) AS trend_scaled,
           2 AS n_generations
    FROM rec r CROSS JOIN nmax n
    WHERE r.t = n.T - 1
    """,
)
def stream_holt_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Holt smoothing across two generations: generation 1
    (days below the corpus midpoint) runs the same grouped-map as
    w35_holt_linear and emits per-type scaled-integer (level, trend,
    n_seen) state; generation 2's grouped-map receives that state on
    its rows and CONTINUES the recurrence instead of re-initializing —
    exactly what a stateful streaming operator's store does between
    micro-batches. The oracle replays the whole history as one
    recursive CTE, so the gate passes iff the carried state makes the
    split fold land on the identical final integers. A type whose
    generation-1 slice is empty initializes fresh in generation 2 (the
    left-fold identity), handled by the same NULL-state branch.

    Scale shape: two (type, day)-grid grouped-maps plus one per-type
    state join (|types| rows); the 1-row midpoint broadcast is the
    behavior_did threshold class. State is two integers per type
    regardless of history length — the streaming-store contract."""

    def gen1(c):
        # the state a stream store would hold after these counts;
        # n1 == 1 is the BRIDGE case — the trend seed needs the NEXT
        # count (which lives in generation 2), so carry c0 and defer
        lvl, b = _holt_state_after(c)
        return {"l1": lvl, "b1": b, "n1": len(c), "c0": c[0]}

    def gen2(c, st):
        if st is None:
            # empty generation 1: fresh batch init on this slice
            n1, (lvl, b) = 0, _holt_state_after(c)
        elif st["n1"] == 1:
            # bridge: one-shot's b-init straddles the generation split
            c0 = st["c0"]
            n1, (lvl, b) = 1, _holt_resume(c0 * _S, (c[0] - c0) * _S, c)
        else:
            n1, (lvl, b) = st["n1"], _holt_resume(st["l1"], st["b1"], c)
        return _holt_row(n1 + len(c), lvl, b)

    out = _split_replay(
        spark,
        sf_dir,
        gen1,
        "event_type string, l1 long, b1 long, n1 long, c0 long",
        gen2,
        "event_type string, n_days long, level_scaled long, "
        "trend_scaled long",
    )
    return out.select(
        "event_type",
        "n_days",
        "level_scaled",
        "trend_scaled",
        F.lit(2).alias("n_generations"),
    )


# Holt-Winters seasonal slot update: the recursive CTE carries the
# 7-slot seasonal state as columns s0..s6; each step rewrites ONE slot
# (the current t mod 7) and copies the rest.
_HW_SCOPY = ", ".join(
    f"CASE WHEN (t0 % 7) = {j} THEN snew ELSE s{j} END" for j in range(7)
)
_HW_INIT_S = ", ".join(
    f"c{j} * 1000000 - l6 AS s{j}" for j in range(7)
)
_HW_C_FIRST7 = ", ".join(
    f"sum(CASE WHEN t = {j} THEN c ELSE 0 END) AS c{j}" for j in range(7)
)


@register(
    "w37_holt_winters",
    survey_ref=(
        "[EXT] Holt-Winters ADDITIVE-SEASONAL smoothing (Winters "
        "1960; the seasonal upgrade over w35's level+trend Holt): "
        "α=β=γ=1/2 in micro-unit scaled integers with the w35 bias "
        "trick for floor-div-by-2, classic initialization (level = "
        "first-week mean, trend 0, seasonal s_j = x_j − mean), and "
        "the 7-slot seasonal STATE VECTOR carried as columns through "
        "a DuckDB RECURSIVE CTE while Spark runs the same recurrence "
        "as a per-type grouped-map — the sequential-recurrence gate "
        "class, now with vector state"
    ),
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    dseq AS (
      SELECT day, row_number() OVER (ORDER BY day) - 1 AS t
      FROM (SELECT DISTINCT day FROM daily)),
    nmax AS (SELECT count(*) AS T FROM dseq),
    grid AS (
      SELECT ty.event_type, d.t, coalesce(da.n, 0) AS c
      FROM (SELECT DISTINCT event_type FROM daily) ty
      CROSS JOIN dseq d
      LEFT JOIN daily da ON da.event_type = ty.event_type
                        AND da.day = d.day),
    init AS (
      SELECT event_type, {_HW_C_FIRST7},
             (sum(CASE WHEN t < 7 THEN c ELSE 0 END) * 1000000) // 7
               AS l6
      FROM grid WHERE t < 7 GROUP BY event_type),
    rec AS (
      SELECT event_type, 6 AS t, l6 AS l, CAST(0 AS BIGINT) AS b,
             {_HW_INIT_S}
      FROM init
      UNION ALL
      SELECT event_type, t0, lnew,
             (lnew - l + b + 2199023255552) // 2 - 1099511627776,
             {_HW_SCOPY}
      FROM (
        SELECT event_type, t0, l, b, s0, s1, s2, s3, s4, s5, s6, sprev,
               x, lnew,
               (x - lnew + sprev + 2199023255552) // 2
                 - 1099511627776 AS snew
        FROM (
          SELECT event_type, t0, l, b, s0, s1, s2, s3, s4, s5, s6,
                 sprev, x,
                 (x - sprev + l + b + 2199023255552) // 2
                   - 1099511627776 AS lnew
          FROM (
            SELECT r.event_type, r.t + 1 AS t0, r.l, r.b,
                   r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6,
                   g.c * 1000000 AS x,
                   (CASE ((r.t + 1) % 7)
                    WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
                    WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
                    ELSE r.s6 END) AS sprev
            FROM rec r
            JOIN grid g ON g.event_type = r.event_type
                       AND g.t = r.t + 1
          )
        )
      )
    )
    SELECT r.event_type,
           CAST(n.T AS BIGINT) AS n_days,
           CAST(r.l AS BIGINT) AS level_scaled,
           CAST(r.b AS BIGINT) AS trend_scaled,
           CAST((CASE (n.T % 7)
                 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
                 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
                 ELSE r.s6 END) AS BIGINT) AS season_next_scaled,
           round(CAST(r.l + r.b + (CASE (n.T % 7)
                 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
                 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
                 ELSE r.s6 END) AS DOUBLE) / 1000000, 6) AS forecast_next
    FROM rec r CROSS JOIN nmax n
    WHERE r.t = n.T - 1
    """,
)
def w37_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple exponential smoothing over per-type daily volumes,
    exact: with α = β = γ = 1/2 every update is a floor-div-by-2 of
    integer micro-units ((v + 2^41) div 2 − 2^40 keeps the numerator
    non-negative — the w35/README division audit), the seasonal
    period is 7 sequence slots, and initialization is the classic
    first-week mean (level), zero trend, and x_j − mean seasonals.
    The Spark side carries the 7-slot seasonal vector in a per-type
    grouped-map; the oracle carries it as SEVEN COLUMNS of a
    recursive CTE rewriting one slot per step — two execution models,
    one integer fixpoint, now with vector state (the w35 class
    extended). A corpus spanning fewer than 7 days has no first week
    to initialize from, so the query emits NO row — the oracle's
    recursion starts at t = 6 and never reaches t = n_days − 1.

    Scale shape: one (type, day) rollup cuts the stream; the
    grouped-map holds nine integers per type regardless of history
    length. At 100 TB the recurrence still touches only the
    |types|×|days| grid."""
    out = _grouped_fold(
        _daily_grid(spark, sf_dir),
        lambda c: _hw_row(*_hw_state_after(c)),
        _HW_SCHEMA,
    )
    return out.select(
        "event_type",
        "n_days",
        "level_scaled",
        "trend_scaled",
        "season_next_scaled",
        F.round(
            (
                F.col("level_scaled")
                + F.col("trend_scaled")
                + F.col("season_next_scaled")
            ).cast("double")
            / 1000000,
            6,
        ).alias("forecast_next"),
    )


@register(
    "stream_hw_replay",
    survey_ref=(
        "[EXT] streaming-state replay witness for Holt-Winters (round "
        "11; the stream_holt_replay discipline applied to w37's "
        "VECTOR state): generation 1's grouped-map emits per-type "
        "(level, trend, SEVEN seasonal slots) — or, while the 7-day "
        "init window is still filling, the raw carried counts — and "
        "generation 2 RESUMES from that state at the correct absolute "
        "day offset (the dow slots depend on t mod 7, so a replay "
        "that loses the offset scrambles the seasonal vector); the "
        "oracle is the ONE-SHOT recursive CTE that never saw "
        "generations"
    ),
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    dseq AS (
      SELECT day, row_number() OVER (ORDER BY day) - 1 AS t
      FROM (SELECT DISTINCT day FROM daily)),
    nmax AS (SELECT count(*) AS T FROM dseq),
    grid AS (
      SELECT ty.event_type, d.t, coalesce(da.n, 0) AS c
      FROM (SELECT DISTINCT event_type FROM daily) ty
      CROSS JOIN dseq d
      LEFT JOIN daily da ON da.event_type = ty.event_type
                        AND da.day = d.day),
    init AS (
      SELECT event_type, {_HW_C_FIRST7},
             (sum(CASE WHEN t < 7 THEN c ELSE 0 END) * 1000000) // 7
               AS l6
      FROM grid WHERE t < 7 GROUP BY event_type),
    rec AS (
      SELECT event_type, 6 AS t, l6 AS l, CAST(0 AS BIGINT) AS b,
             {_HW_INIT_S}
      FROM init
      UNION ALL
      SELECT event_type, t0, lnew,
             (lnew - l + b + 2199023255552) // 2 - 1099511627776,
             {_HW_SCOPY}
      FROM (
        SELECT event_type, t0, l, b, s0, s1, s2, s3, s4, s5, s6, sprev,
               x, lnew,
               (x - lnew + sprev + 2199023255552) // 2
                 - 1099511627776 AS snew
        FROM (
          SELECT event_type, t0, l, b, s0, s1, s2, s3, s4, s5, s6,
                 sprev, x,
                 (x - sprev + l + b + 2199023255552) // 2
                   - 1099511627776 AS lnew
          FROM (
            SELECT r.event_type, r.t + 1 AS t0, r.l, r.b,
                   r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6,
                   g.c * 1000000 AS x,
                   (CASE ((r.t + 1) % 7)
                    WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
                    WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
                    ELSE r.s6 END) AS sprev
            FROM rec r
            JOIN grid g ON g.event_type = r.event_type
                       AND g.t = r.t + 1
          )
        )
      )
    )
    SELECT r.event_type,
           CAST(n.T AS BIGINT) AS n_days,
           CAST(r.l AS BIGINT) AS level_scaled,
           CAST(r.b AS BIGINT) AS trend_scaled,
           CAST((CASE (n.T % 7)
                 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
                 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
                 ELSE r.s6 END) AS BIGINT) AS season_next_scaled,
           2 AS n_generations
    FROM rec r CROSS JOIN nmax n
    WHERE r.t = n.T - 1
    """,
)
def stream_hw_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Holt-Winters across two micro-batch generations:
    generation 1 folds its day slice and emits the streaming store's
    state — nine integers per type (level, trend, seven seasonal
    slots) once the init window has filled, or the raw counts while
    it has not (carrying partial-window inputs IS what a real state
    store does before a window closes); generation 2 resumes at the
    correct absolute day offset so each update lands in the right
    seasonal slot. The oracle replays the whole history as one
    recursive CTE with the seasonal vector as seven columns — a hash
    match proves the split fold reproduces the one-shot fold to the
    last micro-unit, vector state included. The split-at-EVERY-point
    identity (including mid < 7 bridges this corpus never hits) is
    pytest-pinned over the shared fold helpers. Below 7 days in all
    the fold never initializes and, as in w37 and the oracle, no row
    is emitted.

    Scale shape: two (type, day)-grid grouped-maps + one |types|-row
    state join; the 1-row midpoint broadcast is the behavior_did
    class. State is nine integers per type regardless of history."""

    def gen1(c):
        n1, lvl, b, s = _hw_state_after(c)
        craw = (c + [0] * 7)[:7] if n1 < 7 else [0] * 7
        row = {"n1": n1, "l": lvl, "b": b}
        row.update({f"s{j}": s[j] for j in range(7)})
        row.update({f"craw{j}": craw[j] for j in range(7)})
        return row

    def gen2(c2, st):
        n1 = 0 if st is None else st["n1"]
        if n1 < 7:
            carried = [st[f"craw{j}"] for j in range(n1)]
            return _hw_row(*_hw_state_after(carried + c2))
        s = [st[f"s{j}"] for j in range(7)]
        return _hw_row(*_hw_resume(n1, st["l"], st["b"], s, c2))

    out = _split_replay(
        spark,
        sf_dir,
        gen1,
        "event_type string, n1 long, l long, b long, "
        + ", ".join(f"s{j} long" for j in range(7))
        + ", "
        + ", ".join(f"craw{j} long" for j in range(7)),
        gen2,
        _HW_SCHEMA,
    )
    return out.select(
        "event_type",
        "n_days",
        "level_scaled",
        "trend_scaled",
        "season_next_scaled",
        F.lit(2).alias("n_generations"),
    )


@register(
    "behavior_sprt",
    survey_ref=(
        "[EXT] sequential probability ratio test (Wald 1945 — the "
        "always-valid sequential-decision primitive modern "
        "experimentation platforms run instead of fixed-horizon "
        "tests): per-user Bernoulli SPRT on purchase conversion, H0 "
        "p=0.2 vs H1 p=0.3, α=β=0.05; each event contributes a "
        "CONSTANT log-likelihood step (ln(1.5) / ln(7/8) pre-scaled "
        "to ×1e6 integers as shared literals — the behavior_power_mde "
        "z-quantile discipline, so no runtime float exists), the LLR "
        "walk is one ordered cumsum, and the decision is the FIRST "
        "boundary crossing (ln19-scaled), all exact integers"
    ),
    oracle="""
    WITH steps AS (
      SELECT user_id,
             row_number() OVER w AS seq,
             sum(CASE WHEN event_type = 'purchase'
                 THEN 405465 ELSE -133531 END) OVER w AS cum
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)),
    per_user AS (
      SELECT user_id,
             max(seq) AS n_events,
             min(CASE WHEN cum >= 2944439 THEN seq END) AS hi_at,
             min(CASE WHEN cum <= -2944439 THEN seq END) AS lo_at,
             max(CASE WHEN seq IS NOT NULL THEN cum END)
               FILTER (seq = (SELECT max(s2.seq) FROM steps s2
                              WHERE s2.user_id = steps.user_id))
               AS llr_final
      FROM steps GROUP BY user_id)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CASE
             WHEN hi_at IS NOT NULL
                  AND (lo_at IS NULL OR hi_at < lo_at) THEN 'accept_h1'
             WHEN lo_at IS NOT NULL THEN 'accept_h0'
             ELSE 'continue' END AS decision,
           CAST(coalesce(least(hi_at, lo_at), hi_at, lo_at, 0)
                AS BIGINT) AS n_at_decision,
           CAST(llr_final AS BIGINT) AS llr_scaled
    FROM per_user
    """,
)
def behavior_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT as a relational fold: the per-event log-likelihood
    increments are compile-time constants (the test's p0/p1 fix them),
    so the sequential statistic is an ordered integer cumsum and the
    stopping rule is the first index crossing ±ln((1−β)/α) — no
    iteration, no state machine, one user-keyed window. Decisions,
    stopping times and final LLRs are all exact ×1e6 integers.

    Scale shape: one user-keyed ordered window + a per-user rollup on
    the SAME key (Catalyst reuses the partitioning) — at 100 TB this
    is a single shuffle of the event stream, the w10/w12 class."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    step = F.when(F.col("event_type") == "purchase", 405465).otherwise(
        -133531
    )
    s = e.select(
        "user_id",
        F.row_number().over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("seq"),
        F.sum(step).over(w).alias("cum"),
    )
    hi, lo = F.lit(2944439), F.lit(-2944439)
    per_user = s.groupBy("user_id").agg(
        F.max("seq").alias("n_events"),
        F.min(F.when(F.col("cum") >= hi, F.col("seq"))).alias("hi_at"),
        F.min(F.when(F.col("cum") <= lo, F.col("seq"))).alias("lo_at"),
        F.max_by("cum", "seq").alias("llr_final"),
    )
    return per_user.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.when(
            F.col("hi_at").isNotNull()
            & (F.col("lo_at").isNull() | (F.col("hi_at") < F.col("lo_at"))),
            F.lit("accept_h1"),
        )
        .when(F.col("lo_at").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.coalesce(
            F.least("hi_at", "lo_at"), F.col("hi_at"), F.col("lo_at"),
            F.lit(0),
        )
        .cast("long")
        .alias("n_at_decision"),
        F.col("llr_final").cast("long").alias("llr_scaled"),
    )


# BH step-up thresholds for m=5 tests at FDR alpha=0.05, df=1:
# T_k = (Phi^{-1}(1 - (k*alpha/m)/2))^2, precomputed with stdlib
# statistics.NormalDist and embedded as round-6 SHARED LITERALS (the
# behavior_power_mde z-quantile discipline) — comparing the round-6
# statistic to a literal is ulp-stable because both engines derive
# the statistic from identical doubles in identical operand order.
_BH_T = {1: 6.634897, 2: 5.411894, 3: 4.709292, 4: 4.217885, 5: 3.841459}
_BH_T_SQL = (
    "(CASE rnk "
    + " ".join(f"WHEN {k} THEN {v}" for k, v in _BH_T.items())
    + " END)"
)


@register(
    "behavior_fdr_bh",
    survey_ref=(
        "[EXT] Benjamini-Hochberg FDR control (Benjamini & Hochberg "
        "1995) over a metric battery — what an experimentation "
        "platform runs when one A/B test reads out MANY metrics: per "
        "event type, the two-proportion z² statistic between user-"
        "parity arms assembled as one fixed-order double expression "
        "(squares via x·x, round-6 at the end), then the step-up rule "
        "against PRECOMPUTED chi²(1) thresholds T_k (inverse-normal "
        "shared literals, the power_mde discipline) — reject every "
        "metric ranked ≤ the largest k with stat_(k) ≥ T_k; "
        "statistics, ranks, thresholds and the rejection frontier "
        "are all gated"
    ),
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN user_id % 2 = 1 AND event_type2 = 'purchase'
                 THEN 1 ELSE 0 END) AS k1,
             sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN user_id % 2 = 0 AND event_type2 = 'purchase'
                 THEN 1 ELSE 0 END) AS k0
      FROM (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                 AS event_type2
        FROM events)
      WHERE event_type2 IS NOT NULL
      GROUP BY event_type),
    stats AS (
      -- a testable metric needs both arms nonempty and a
      -- non-degenerate pooled rate (else the z² denominator is 0);
      -- the screen is part of the contract on BOTH engines
      SELECT event_type, n1, k1, n0, k0,
             round(
               ((CAST(k1 AS DOUBLE)/n1 - CAST(k0 AS DOUBLE)/n0)
                * (CAST(k1 AS DOUBLE)/n1 - CAST(k0 AS DOUBLE)/n0))
               / ((CAST(k1 + k0 AS DOUBLE)/(n1 + n0))
                  * (1.0 - CAST(k1 + k0 AS DOUBLE)/(n1 + n0))
                  * (1.0/n1 + 1.0/n0)), 6) AS z2
      FROM cells
      WHERE n1 > 0 AND n0 > 0 AND k1 + k0 > 0 AND k1 + k0 < n1 + n0),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY z2 DESC, event_type ASC)
               AS rnk
      FROM stats),
    frontier AS (
      SELECT coalesce(max(CASE WHEN z2 >= {_BH_T_SQL} THEN rnk END), 0)
               AS k_star
      FROM ranked)
    SELECT r.event_type,
           CAST(r.n1 AS BIGINT) AS n_treat,
           CAST(r.k1 AS BIGINT) AS conv_treat,
           CAST(r.n0 AS BIGINT) AS n_ctrl,
           CAST(r.k0 AS BIGINT) AS conv_ctrl,
           r.z2,
           CAST(r.rnk AS BIGINT) AS rnk,
           {_BH_T_SQL} AS bh_threshold,
           r.rnk <= f.k_star AS rejected,
           CAST(f.k_star AS BIGINT) AS k_star
    FROM ranked r CROSS JOIN frontier f
    """,
)
def behavior_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing correction as a relational step-up: each event
    type tests whether the NEXT event is a purchase at a different
    rate between arms (a lead() conditional rollup — one user-keyed
    window), z² assembled once per type in fixed operand order, and
    the BH frontier k* = max{k : stat_(k) ≥ T_k} computed over the
    ≤|types|-row ranked battery (a bounded global window + a 1-row
    frontier broadcast — allowlisted classes). BH's step-up REJECTS
    EVERY rank ≤ k* even where an individual stat dips below its own
    threshold — the property a naive per-metric comparison gets
    wrong, and exactly what the gate checks.

    Scale shape: one event-stream window + a |types|-sized battery;
    at 100 TB the stream rollup is the entire cost (the w13 class) —
    the correction itself runs on a handful of rows however large
    the corpus."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("event_type2"),
    ).filter(F.col("event_type2").isNotNull())
    treat = F.col("user_id") % 2 == 1
    conv = F.col("event_type2") == "purchase"
    cells = s.groupBy("event_type").agg(
        F.sum(F.when(treat, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(treat & conv, 1).otherwise(0)).alias("k1"),
        F.sum(F.when(~treat, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(~treat & conv, 1).otherwise(0)).alias("k0"),
    )
    k1d = F.col("k1").cast("double")
    k0d = F.col("k0").cast("double")
    d = k1d / F.col("n1") - k0d / F.col("n0")
    pp = (F.col("k1") + F.col("k0")).cast("double") / (
        F.col("n1") + F.col("n0")
    )
    den = pp * (F.lit(1.0) - pp) * (
        F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n0")
    )
    stats = cells.filter(
        (F.col("n1") > 0)
        & (F.col("n0") > 0)
        & (F.col("k1") + F.col("k0") > 0)
        & (F.col("k1") + F.col("k0") < F.col("n1") + F.col("n0"))
    ).withColumn("z2", F.round(d * d / den, 6))
    ranked = stats.withColumn(
        "rnk",
        F.row_number().over(W.orderBy(F.desc("z2"), F.asc("event_type"))),
    )
    thr = F.coalesce(
        *[
            F.when(F.col("rnk") == kk, F.lit(vv))
            for kk, vv in _BH_T.items()
        ]
    )
    ranked = ranked.withColumn("bh_threshold", thr)
    frontier = ranked.agg(
        F.coalesce(
            F.max(
                F.when(F.col("z2") >= F.col("bh_threshold"), F.col("rnk"))
            ),
            F.lit(0),
        ).alias("k_star")
    )
    return (
        ranked.crossJoin(F.broadcast(frontier))
        .select(
            "event_type",
            F.col("n1").cast("long").alias("n_treat"),
            F.col("k1").cast("long").alias("conv_treat"),
            F.col("n0").cast("long").alias("n_ctrl"),
            F.col("k0").cast("long").alias("conv_ctrl"),
            "z2",
            F.col("rnk").cast("long").alias("rnk"),
            "bh_threshold",
            (F.col("rnk") <= F.col("k_star")).alias("rejected"),
            F.col("k_star").cast("long").alias("k_star"),
        )
    )


_ATTR_GAP_S = 43_200  # 12h session gap, in whole seconds


@register(
    "behavior_attribution_position",
    survey_ref=(
        "[EXT] sessionized position-based (U-shaped) conversion "
        "attribution (round 12 — the multi-touch upgrade over w14's "
        "last-touch form): event-time sessions per user (12h gap, "
        "lag + cumsum gaps-and-islands on exact unix_micros), the "
        "JOURNEY = non-purchase touches strictly before the session's "
        "first purchase (running-purchase-count = 0, so equal-ts "
        "ordering is pinned by event_id), credit in EXACT basis "
        "points: 1 touch 10000, 2 touches 5000/5000, else 40/20/40 "
        "with the middle split by integer floor-division and the "
        "REMAINDER assigned to the first touch — every conversion "
        "session sums to exactly 10000 bp by construction, no float "
        "anywhere; touchless conversions surface as the 'direct' "
        "channel, so total credit equals 10000 x conversion sessions"
    ),
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tus
      FROM events),
    lagd AS (
      SELECT *, lag(tus) OVER
        (PARTITION BY user_id ORDER BY tus, event_id) AS pus
      FROM ev),
    brk AS (
      SELECT *, CASE WHEN pus IS NULL
                       OR tus - pus > {_ATTR_GAP_S} THEN 1 ELSE 0 END AS b
      FROM lagd),
    sess AS (
      SELECT *, sum(b) OVER
        (PARTITION BY user_id ORDER BY tus, event_id
         ROWS UNBOUNDED PRECEDING) AS sid
      FROM brk),
    cum AS (
      SELECT *, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, sid ORDER BY tus, event_id
                     ROWS UNBOUNDED PRECEDING) AS cp,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, sid) AS np
      FROM sess),
    journey AS (
      SELECT user_id, sid, event_type,
             row_number() OVER
               (PARTITION BY user_id, sid ORDER BY tus, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, sid) AS n
      FROM cum WHERE np > 0 AND cp = 0),
    credited AS (
      SELECT event_type AS channel,
             CASE WHEN n = 1 THEN 10000
                  WHEN n = 2 THEN 5000
                  WHEN rn = 1 THEN 4000 + (2000 - (n-2) * (2000 // (n-2)))
                  WHEN rn = n THEN 4000
                  ELSE 2000 // (n-2) END AS bp,
             CASE WHEN rn = 1 THEN 1 ELSE 0 END AS isf,
             CASE WHEN rn = n THEN 1 ELSE 0 END AS isl
      FROM journey),
    direct AS (
      SELECT count(*) AS n_direct FROM (
        SELECT user_id, sid
        FROM cum WHERE np > 0
        GROUP BY user_id, sid
        HAVING sum(CASE WHEN cp = 0 THEN 1 ELSE 0 END) = 0))
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(isf) AS BIGINT) AS n_first,
           CAST(sum(isl) AS BIGINT) AS n_last,
           CAST(sum(bp) AS BIGINT) AS credit_bp
    FROM credited GROUP BY channel
    UNION ALL
    SELECT 'direct', 0, 0, 0, CAST(10000 * n_direct AS BIGINT)
    FROM direct WHERE n_direct > 0
    """,
)
def behavior_attribution_position(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which channels EARN conversions, not just which touched last:
    the U-shaped model marketing/growth stacks run over sessionized
    journeys, made hash-exact — 40/20/40 in integer basis points with
    the floor-division remainder pinned to the first touch, so both
    engines produce identical integers and every conversion session's
    credit sums to exactly 10000. A single-touch journey counts as
    both first AND last touch (documented, gated). Touchless
    conversions are the 'direct' row.

    Scale shape: two user-keyed window passes (lag, cumsum) + one
    (user, session)-keyed pass — all three reuse ONE user-hash
    shuffle partitioning (Catalyst chains same-key windows without
    re-exchanging); the credit math is per-row codegen; the final
    rollup is a 6-key channel aggregate with map-side partials. At
    100 TB the state never exceeds the events table width + 3 longs.
    Cites reference analog: none — the reference has no event
    analytics; [EXT] surface."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").alias("tus"),
    )
    wu = Window.partitionBy("user_id").orderBy("tus", "event_id")
    sess = ev.withColumn(
        "b",
        F.when(
            F.lag("tus").over(wu).isNull()
            | (F.col("tus") - F.lag("tus").over(wu) > _ATTR_GAP_S),
            1,
        ).otherwise(0),
    ).withColumn(
        "sid", F.sum("b").over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    # Round 13: ONE pass instead of two. The old form consumed the
    # sessionized `cum` frame from two branches (journey credits +
    # the touchless-direct count), so the whole two-window sessionize
    # chain over events ran TWICE (plan: 2 parquet scans, 2 window
    # stacks). Three observations fold both branches into the same
    # window pass:
    #   - journey rows (cp = 0) are a PREFIX of their session (cp is
    #     non-decreasing), so the post-filter row_number over journey
    #     rows equals the whole-session row_number — computable in the
    #     SAME same-key window stack before any filter;
    #   - the journey length n is sum(cp = 0) over the session — the
    #     same shape as np, one more agg on the existing partition;
    #   - a touchless conversion session is np > 0 ∧ n_journey = 0,
    #     countable from its rs = 1 representative row.
    # The final rollup groups by (channel, is_direct) so the 'direct'
    # row stays a separate output row by construction (the old
    # unionByName semantics), not by assuming no event_type collides.
    ws = Window.partitionBy("user_id", "sid").orderBy("tus", "event_id")
    wsess = Window.partitionBy("user_id", "sid")
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    cum = (
        sess.withColumn(
            "cp",
            F.sum(is_p).over(ws.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("np", F.sum(is_p).over(wsess))
        .withColumn("rs", F.row_number().over(ws))
        .withColumn(
            "nj",
            F.sum(F.when(F.col("cp") == 0, 1).otherwise(0)).over(wsess),
        )
    )
    contrib = cum.filter(
        (F.col("np") > 0)
        & (
            (F.col("cp") == 0)
            | ((F.col("rs") == 1) & (F.col("nj") == 0))
        )
    )
    is_direct = F.col("nj") == 0
    n, rn = F.col("nj"), F.col("rs")
    credited = contrib.select(
        is_direct.alias("is_direct"),
        F.when(is_direct, F.lit("direct"))
        .otherwise(F.col("event_type"))
        .alias("channel"),
        F.when(is_direct, F.lit(10000))
        .when(n == 1, F.lit(10000))
        .when(n == 2, F.lit(5000))
        .when(
            rn == 1,
            F.lit(4000)
            + (F.lit(2000) - (n - 2) * F.expr("2000 div (nj - 2)")),
        )
        .when(rn == n, F.lit(4000))
        .otherwise(F.expr("2000 div (nj - 2)"))
        .alias("bp"),
        F.when(is_direct, 0).otherwise(1).alias("touch"),
        F.when(~is_direct & (rn == 1), 1).otherwise(0).alias("isf"),
        F.when(~is_direct & (rn == n), 1).otherwise(0).alias("isl"),
    )
    return (
        credited.groupBy("is_direct", "channel")
        .agg(
            F.sum("touch").cast("long").alias("n_touches"),
            F.sum("isf").cast("long").alias("n_first"),
            F.sum("isl").cast("long").alias("n_last"),
            F.sum("bp").cast("long").alias("credit_bp"),
        )
        .drop("is_direct")
    )


@register(
    "w38_changepoint_binseg",
    survey_ref=(
        "[EXT] binary-segmentation changepoint detection (round 12 — "
        "the SEGMENTATION family beside w15's CUSUM drift MONITOR: "
        "CUSUM asks 'is the stream drifting now', binseg asks 'where "
        "did the level shift' — Scott & Knott 1974; the single-split "
        "step PELT/ruptures iterate): per event type over the daily "
        "grid, the best split t* maximizes the between-segment "
        "functional S_L^2/n_L + S_R^2/n_R, made EXACT-integer by "
        "scoring q(t) = ((S_L^2 n_R + S_R^2 n_L) * 1e6) div "
        "(n_L n_R) — floor division both engines replay bit-for-bit "
        "— with argmax resolved by one max(struct(q, -t)) so score "
        "ties break to the earliest day; the no-split score "
        "q0 = (S^2 * 1e6) div n rides along and gain = q* - q0 >= 0 "
        "is gated as data (the variance-explained evidence for the "
        "split)"
    ),
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT event_type, day - min(day) OVER (PARTITION BY event_type) AS t,
             cnt FROM daily),
    pre AS (
      SELECT event_type, t,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY t) AS ps,
             sum(cnt) OVER (PARTITION BY event_type) AS s,
             count(*) OVER (PARTITION BY event_type) AS n,
             row_number() OVER (PARTITION BY event_type ORDER BY t) AS rn
      FROM grid),
    cand AS (
      SELECT event_type, t, rn AS nl, n - rn AS nr, ps AS sl, s - ps AS sr,
             s, n
      FROM pre WHERE rn < n),
    scored AS (
      SELECT event_type, t, nl, nr, sl, sr,
             ((sl*sl*nr + sr*sr*nl) * 1000000) // (nl*nr) AS q,
             (s*s*1000000) // n AS q0
      FROM cand),
    best AS (
      SELECT event_type,
             max(struct_pack(q := q, tneg := -t)) AS b
      FROM scored GROUP BY event_type)
    SELECT s.event_type,
           CAST(s.t AS BIGINT) AS t_star,
           CAST(s.nl AS BIGINT) AS n_left,
           CAST(s.nr AS BIGINT) AS n_right,
           CAST(s.sl AS BIGINT) AS sum_left,
           CAST(s.sr AS BIGINT) AS sum_right,
           CAST(s.q AS BIGINT) AS q_star,
           CAST(s.q0 AS BIGINT) AS q_single,
           CAST(s.q - s.q0 AS BIGINT) AS gain
    FROM best b JOIN scored s
      ON s.event_type = b.event_type AND s.q = b.b.q AND s.t = -b.b.tneg
    """,
)
def w38_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the level shifted, per event type: prefix sums give every
    candidate split's segment sums in one pass, the scaled integer
    score makes the argmax engine-exact (no float SSE anywhere — the
    identity argmin SSE == argmax S_L^2/n_L + S_R^2/n_R needs only
    sums and counts), and gain >= 0 holds by Cauchy-Schwarz so a
    negative gain is an arithmetic bug the gate would catch.

    Scale shape: the |types| x |days| grid is calendar-bounded (the
    w19/w20 discipline — never the raw stream); one type-keyed window
    pass + a |grid|-row score scan + a 5-row argmax join. Recursing
    binseg on the sub-segments (full PELT) iterates this same bounded
    step. Reference analog: none; [EXT] time-series surface."""
    from pyspark.sql import Window as SqlWindow

    daily = _daily_counts(spark, sf_dir)
    wt = SqlWindow.partitionBy("event_type")
    grid = daily.select(
        "event_type",
        (F.col("day") - F.min("day").over(wt)).alias("t"),
        F.col("n").alias("cnt"),
    )
    wo = wt.orderBy("t")
    pre = grid.select(
        "event_type",
        "t",
        F.sum("cnt").over(wo).alias("ps"),
        F.sum("cnt").over(wt).alias("s"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.row_number().over(wo).alias("rn"),
    )
    cand = pre.filter(F.col("rn") < F.col("n")).select(
        "event_type",
        "t",
        F.col("rn").alias("nl"),
        (F.col("n") - F.col("rn")).alias("nr"),
        F.col("ps").alias("sl"),
        (F.col("s") - F.col("ps")).alias("sr"),
        "s",
        "n",
    )
    scored = cand.select(
        "event_type",
        "t",
        "nl",
        "nr",
        "sl",
        "sr",
        F.expr("((sl*sl*nr + sr*sr*nl) * 1000000) div (nl*nr)").alias("q"),
        F.expr("(s*s*1000000) div n").alias("q0"),
    )
    best = scored.groupBy("event_type").agg(
        F.max(F.struct(F.col("q"), (-F.col("t")).alias("tneg"))).alias("b")
    )
    return (
        best.join(
            scored.alias("s"),
            (F.col("s.event_type") == best["event_type"])
            & (F.col("s.q") == F.col("b.q"))
            & (F.col("s.t") == -F.col("b.tneg")),
        )
        .select(
            F.col("s.event_type").alias("event_type"),
            F.col("s.t").cast("long").alias("t_star"),
            F.col("s.nl").cast("long").alias("n_left"),
            F.col("s.nr").cast("long").alias("n_right"),
            F.col("s.sl").cast("long").alias("sum_left"),
            F.col("s.sr").cast("long").alias("sum_right"),
            F.col("s.q").cast("long").alias("q_star"),
            F.col("s.q0").cast("long").alias("q_single"),
            (F.col("s.q") - F.col("s.q0")).cast("long").alias("gain"),
        )
    )
