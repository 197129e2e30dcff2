"""Validation / status-partition / manifest operators.

Re-expresses the reference's error-handling core as data, not control
flow (reference: required-field validation raising MissingFieldsError,
``src/extract.py:262-279``; per-case try/except loop classifying
success / excluded / error, ``src/run.py:86-131``; manifest aggregation
``src/run.py:122-146``).

Spark-first design: exceptions become a ``status`` column plus a
``missing_fields`` array; the run-never-aborts guarantee is row-level
(a bad row is classified, never fails the task). At 100 TB this is a
narrow map stage followed by one 2-phase aggregation — no skew risk
because the final agg is a single partial-combined group.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATUS_SUCCESS = "success"
STATUS_EXCLUDED = "excluded"
STATUS_ERROR = "error"


def missing_fields(required: Mapping[str, Column]) -> Column:
    """Array of field names whose requirement predicate failed.

    ``required`` maps field-name → "is missing" predicate. Mirrors the
    reference's REQUIRED_FIELDS scan (``src/extract.py:14-20,262-279``):
    the output array preserves the declaration order, like the
    reference's dict-iteration order.
    """
    tagged = F.array(
        *[F.when(pred, F.lit(name)) for name, pred in required.items()]
    )
    return F.filter(tagged, lambda x: x.isNotNull())


def with_status(
    df: DataFrame,
    required: Mapping[str, Column],
    error_when: Column,
) -> DataFrame:
    """Append ``missing_fields`` and a 3-way ``status`` column.

    Order of precedence mirrors the reference loop (``src/run.py:93-120``):
    a hard error beats exclusion beats success.
    """
    return df.withColumn("missing_fields", missing_fields(required)).withColumn(
        "status",
        F.when(error_when, F.lit(STATUS_ERROR))
        .when(F.size("missing_fields") > 0, F.lit(STATUS_EXCLUDED))
        .otherwise(F.lit(STATUS_SUCCESS)),
    )


def status_summary(df: DataFrame) -> DataFrame:
    """A1 one-row run summary: total / success / excluded / error counts
    (reference ``src/run.py:126-131``). 2-phase agg: partials map-side,
    single tiny final group — scale-safe."""
    def _n(status: str) -> Column:
        return F.count(F.when(F.col("status") == status, F.lit(1)))

    return df.agg(
        F.count(F.lit(1)).alias("total"),
        _n(STATUS_SUCCESS).alias("n_success"),
        _n(STATUS_EXCLUDED).alias("n_excluded"),
        _n(STATUS_ERROR).alias("n_error"),
    )


def profile_table(df, columns: list[str]):
    """Data-profiling report: one row per profiled column with the
    stats a pipeline health check needs — row/null/distinct counts,
    min/max/avg length of the string form. The scan is ONE pass:
    every per-column aggregate is computed in the same map-side-
    combined aggregation (no per-column jobs, no collect), then the
    wide 1-row result unpivots to the tall report via a literal
    struct array — zero shuffle beyond the single global aggregate.

    At 100 TB: cost == one full scan + a constant-width 1-row
    aggregate; add columns freely, the pass count stays 1. Exact
    countDistinct is the one per-column expander — swap to
    approx_count_distinct at extreme cardinalities (the engine's
    a_approx_distinct pattern)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in columns:
        s = F.col(c).cast("string")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.length(s)).alias(f"{c}__min_len"),
            F.max(F.length(s)).alias(f"{c}__max_len"),
            F.sum(F.coalesce(F.length(s), F.lit(0))).alias(f"{c}__sum_len"),
        ]
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min_len").cast("long").alias("min_len"),
                F.col(f"{c}__max_len").cast("long").alias("max_len"),
                F.round(
                    F.col(f"{c}__sum_len")
                    / F.greatest(
                        F.col(f"{c}__rows") - F.col(f"{c}__nulls"), F.lit(1)
                    ),
                    6,
                ).alias("avg_len"),
            )
            for c in columns
        ]
    )
    return wide.select(F.explode(entries).alias("p")).select("p.*")
