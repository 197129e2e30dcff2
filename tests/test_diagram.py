"""The chunked diagram fast path: value-identical to the general form,
and genuinely lambda-free in the optimized plan (the whole point —
lambda HOFs are CodegenFallback and degrade ~10x on profile-polluted
interpreter call sites in long sessions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.operators import diagram
from shippai_knowledge_etl_spark.queries.nested import (
    scenario_source,
    scenario_struct,
)


def test_chunked_fastpath_equals_general(spark, sf_dir):
    df = scenario_struct(scenario_source(spark, sf_dir))
    gen = diagram.positioned_items(df, "doc_id")
    fast = diagram.positioned_items_chunked(df, "doc_id")
    cols = gen.columns
    assert fast.columns == cols
    assert gen.exceptAll(fast.select(*cols)).count() == 0
    assert fast.select(*cols).exceptAll(gen).count() == 0


def test_flat_pipeline_has_no_lambdas(spark, sf_dir):
    """The shipped diagram plan (scenario_flat → chunked layout →
    rect_ops) is codegen'd end to end: no interpreted lambda HOF
    anywhere — the regression gate for the r4 profile-pollution class
    of slowdowns."""
    from shippai_knowledge_etl_spark.queries.nested import scenario_flat

    fast = diagram.positioned_items_chunked(
        scenario_flat(scenario_source(spark, sf_dir)),
        "doc_id",
        "__cats",
        nested=False,
    )
    ops = diagram.rect_ops(fast, "doc_id")
    plan = ops._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan.lower(), plan


def test_flat_equals_nested_chunked(spark, sf_dir):
    from shippai_knowledge_etl_spark.queries.nested import scenario_flat

    src = scenario_source(spark, sf_dir)
    nested_form = diagram.positioned_items_chunked(
        scenario_struct(src), "doc_id"
    )
    flat_form = diagram.positioned_items_chunked(
        scenario_flat(src), "doc_id", "__cats", nested=False
    )
    cols = nested_form.columns
    assert flat_form.columns == cols
    assert nested_form.exceptAll(flat_form.select(*cols)).count() == 0
    assert flat_form.select(*cols).exceptAll(nested_form).count() == 0


def _scenarios(spark, cases):
    """(doc_id, scenario) rows from per-case flat cause/action/result
    lists, chunked by 3 like every production scenario."""
    from shippai_knowledge_etl_spark.functions import nested as fn

    df = spark.createDataFrame(
        [(i, c, a, r) for i, (c, a, r) in enumerate(cases)],
        "doc_id long, c array<string>, a array<string>, r array<string>",
    )
    return df.select(
        "doc_id",
        F.struct(
            fn.chunk(F.col("c")).alias("cause"),
            fn.chunk(F.col("a")).alias("action"),
            fn.chunk(F.col("r")).alias("result"),
        ).alias("scenario"),
    )


def test_chunked_fastpath_irregular_tails(spark):
    """Chunk-3 inputs with every tail shape (empty categories, 1- and
    2-wide tail groups, single category only) agree with the general
    form — the arithmetic's edge cases."""
    cases = [
        (["a", "b", "c", "d"], ["e"], ["f", "g"]),
        (["a"], [], []),
        ([], ["a", "b", "c"], []),
        ([], [], ["a", "b", "c", "d", "e", "f", "g"]),
        (["a", "b"], ["c", "d", "e", "f"], ["g", "h", "i", "j", "k"]),
    ]
    scn = _scenarios(spark, cases)
    gen = diagram.positioned_items(scn, "doc_id")
    fast = diagram.positioned_items_chunked(scn, "doc_id")
    cols = gen.columns
    assert gen.exceptAll(fast.select(*cols)).count() == 0
    assert fast.select(*cols).exceptAll(gen).count() == 0


def test_draw_ops_sort_key_is_unique(spark, sf_dir):
    """The PDF sink draws a page's ops in (section, seq, op) order, so
    that key must identify one op per document and page — otherwise
    draw order (and the PDF bytes) depend on shuffle arrival. Braces
    are the case to watch: one line and one label per category."""
    pos = diagram.positioned_items_chunked(
        scenario_struct(scenario_source(spark, sf_dir)), "doc_id"
    )
    key = ["doc_id", "page", "section", "seq", "op"]
    ops = diagram.draw_ops(pos, "doc_id")
    multi_cat = pos.groupBy("doc_id").agg(
        F.countDistinct("category").alias("n")
    ).filter(F.col("n") >= 2)
    assert multi_cat.count() > 0
    assert ops.groupBy(*key).count().filter(F.col("count") > 1).count() == 0


def test_draw_ops_plan_has_one_aggregate_and_no_join(spark):
    """Page size comes from each row, so the only shuffle left in
    draw_ops is brace_ops' per-category aggregate: no per-document
    dims aggregate, no join back to it."""
    cases = [
        (["a", "b", "c", "d"], ["e"], ["f", "g"]),
        (["a"], [], []),
        ([], ["a", "b", "c"], ["d"]),
    ]
    pos = diagram.positioned_items_chunked(_scenarios(spark, cases), "doc_id")
    ops = diagram.draw_ops(pos, "doc_id")
    ops.collect()
    # the adaptive plan prints the executed (final) plan first, then
    # the initial plan it started from
    plan = ops._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, plan
    assert "category" in exchanges[0], plan
