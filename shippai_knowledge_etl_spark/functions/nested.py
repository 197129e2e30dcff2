"""Nested-array restructuring primitives (SURVEY.md §2.8 W1/W2, §2.5 O1/O3).

All pure column expressions — chunking, boundary slicing, ordinal
sort, order-preserving dedup, first-label lookup — usable per-row on
array columns.
One case = one row, so every operator here is a narrow map at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def chunk(arr: Column, n: int = 3) -> Column:
    """W1: split an array into consecutive groups of ≤n, order preserved
    (``group_by_three``, src/extract.py:370-371; requirements.md:144).

    ``flatten(chunk(x)) == x`` and all groups but the last have size n.

    ``arr`` is let-bound through a one-element transform so the
    per-group slices read a lambda variable: an expression inside a HOF
    lambda is re-evaluated per element, so a computed ``arr`` (e.g. the
    scenario category slices in run.py) would otherwise be rebuilt for
    every group (see operators/textops._let).
    """

    def _groups(a: Column) -> Column:
        groups = F.transform(
            F.sequence(F.lit(0), F.floor((F.size(a) - 1) / n).cast("int")),
            lambda i: F.slice(a, i * n + 1, n),
        )
        return F.when(F.size(a) > 0, groups).otherwise(
            F.expr("CAST(array() AS ARRAY<ARRAY<STRING>>)")
        )

    return F.element_at(F.transform(F.array(arr), _groups), 1)


def slice_categories(items: Column, doubles: Column) -> Column:
    """W2: split an ordered item array at double-line boundary positions
    into (cause, action, result), with the reference's degraded branches
    (src/extract.py:350-367):

      ≥2 boundaries → [:b1] / [b1:b2] / [b2:]
      1 boundary    → [:b1] / []       / [b1:]
      0 boundaries  → all   / []       / []

    ``doubles`` must be the sorted array of 1-based boundary positions.
    Slices are bounds-tolerant like Python slicing.
    """
    size = F.size(items)
    b1 = F.get(doubles, 0)
    b2 = F.get(doubles, 1)
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")

    def _slice(start: Column, length: Column) -> Column:
        # Spark slice() demands positive start and non-negative length;
        # clamp to emulate tolerant Python slicing.
        safe_len = F.greatest(F.lit(0), F.least(length, size - start + 1))
        return F.when(start <= size, F.slice(items, start, safe_len)).otherwise(empty)

    two = F.struct(
        _slice(F.lit(1), b1).alias("cause"),
        _slice(b1 + 1, b2 - b1).alias("action"),
        _slice(b2 + 1, size - b2).alias("result"),
    )
    one = F.struct(
        _slice(F.lit(1), b1).alias("cause"),
        empty.alias("action"),
        _slice(b1 + 1, size - b1).alias("result"),
    )
    flat = F.struct(
        items.alias("cause"), empty.alias("action"), empty.alias("result")
    )
    return (
        F.when(F.size(doubles) >= 2, two)
        .when(F.size(doubles) == 1, one)
        .otherwise(flat)
    )


def sort_items_by_num(items: Column) -> Column:
    """O1: sort ``array<struct<num,text>>`` by ordinal and project text
    (src/extract.py:347-348). Struct sort compares fields in order, so
    ``num`` must be first; callers guarantee unique nums (the reference's
    stable sort and this differ only on duplicate ordinals)."""
    return F.transform(F.array_sort(items), lambda x: x.getField("text"))


def dedup_preserving_order(arr: Column) -> Column:
    """O3 (array form): first-occurrence dedup, document order kept
    (src/extract.py:96-97). ``array_distinct`` preserves first-occurrence
    order in Spark; the row form needs an explicit position key — see
    queries.nested.o3_first_occurrence_dedup."""
    return F.array_distinct(arr)


def scenario_presence(scenario: Column) -> Column:
    """P11: any of cause/action/result non-empty
    (src/extract.py:266-269, src/render_pdf.py:393-394)."""
    return (
        F.size(scenario.getField("cause"))
        + F.size(scenario.getField("action"))
        + F.size(scenario.getField("result"))
    ) > 0


def first_val(rows: Column, label: str) -> Column:
    """First occurrence of a label among ``array<struct<label,value>>``
    rows (the bgcolor-sentinel label/value pairs the case-page parser
    emits) — raw value (``<br>`` already mapped to newline by the
    parser), ``""`` when absent. A position lookup on the label array,
    no lambda."""
    pos = F.array_position(rows.getField("label"), label).cast("int")
    return F.coalesce(
        F.when(pos > 0, F.element_at(rows.getField("value"), pos)), F.lit("")
    )
