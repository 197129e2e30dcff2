"""Simulate the driver's verify pass against __spark_entry__.py.

Usage: python scripts/driver_sim.py [sf_dir] [query ...]

Runs entry(spark) (smoke), then every queries()[name] at sf_dir
(default sf0.01) and compares row-count / sorted-column-names /
order-insensitive canonical values against oracle_sql()[name] via
DuckDB. Prints one line per query and a final summary; if the JVM
dies mid-sweep, prints one ``JVM LOST`` line instead of an error per
remaining query and exits 2.

Faithfulness to the real driver (round-1 lesson — do NOT soften):
  - the driver canonicalizes through pandas (Spark ``toPandas`` vs
    DuckDB ``.df()``); list-valued cells crash its factorize/sort path
    (``TypeError: unhashable type: 'list'``) → we PRE-FAIL any query
    whose Spark output schema contains Array/Map/Struct columns;
  - Spark DECIMAL outputs arrive as ``Decimal`` objects while DuckDB
    yields float64, so numerically-equal values hash differently → we
    PRE-FAIL DecimalType output columns (queries must cast to rounded
    DOUBLE at the gate boundary);
  - floats are compared by exact repr (no rounding leniency): if the
    two engines' doubles differ in the last ulp the real driver's hash
    differs too.
"""

from __future__ import annotations

import datetime
import math
import sys
import traceback
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from py4j.protocol import Py4JError

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Spark output types the real driver cannot canonicalize (or canonicalizes
# asymmetrically vs DuckDB). Presence in a FINAL schema is a gate bug.
_FORBIDDEN_SPARK_TYPES = ("ArrayType", "MapType", "StructType", "DecimalType")


def forbidden_output_types(df) -> list[str]:
    bad = []
    for f in df.schema.fields:
        tname = type(f.dataType).__name__
        if tname in _FORBIDDEN_SPARK_TYPES:
            bad.append(f"{f.name}:{tname}")
    return bad


def canon(v):
    """Type-strict canonical cell value. Decimal stays tagged as Decimal
    (so Decimal-vs-float64 fails, as it does in the real driver); floats
    keep full repr; lists/dicts raise like pandas factorize does."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise TypeError(f"unhashable type: {type(v).__name__!r}")
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        d = v.to_pydatetime() if isinstance(v, pd.Timestamp) else v
        d = d.replace(tzinfo=None)
        # DATE columns surface as datetime.date from Spark toPandas but as
        # midnight Timestamps from DuckDB .df(); the real driver treats
        # them as equal (f1_date_normalize passed round 1), so fold
        # midnight datetimes onto the date form.
        if (d.hour, d.minute, d.second, d.microsecond) == (0, 0, 0, 0):
            return d.date().isoformat()
        return d.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon_frame(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted canonical row reprs) — raises on
    list-typed cells exactly where the driver's canonicalizer does."""
    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False, name=None):
        rows.append(repr(tuple(canon(v) for v in row)))
    rows.sort()
    return cols, rows


def frame_mismatch(
    spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame
) -> str | None:
    """The driver's value check of two result frames: sorted column
    names, row count, then the sorted canonical rows (floats by full
    repr). Returns the first failure, or None on a hash match."""
    scols, srows = canon_frame(spark_pdf)
    dcols, drows = canon_frame(duck_pdf)
    if scols != dcols:
        return f"cols {scols} != {dcols}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} != {len(drows)}"
    if srows != drows:
        a, b = next((a, b) for a, b in zip(srows, drows) if a != b)
        return f"values, first diff: {a[:200]} != {b[:200]}"
    return None


def jvm_lost(spark, n_left: int) -> str | None:
    """After a py4j error: the one-line report when the gateway's JVM
    process has exited (its exit code, or the signal that killed it,
    and the ``n_left`` queries, the failing one included, that did not
    run), else None."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    rc = None if proc is None else proc.poll()
    if rc is None:
        return None
    how = f"killed by signal {-rc}" if rc < 0 else f"exit code {rc}"
    return f"JVM LOST: gateway process ended ({how}); {n_left} queries not run"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from shippai_knowledge_etl_spark.session import get_spark

    spark = get_spark("driver-sim")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    smoke = e.entry(spark).collect()
    print(f"entry(): {len(smoke)} rows {'OK' if len(smoke) > 0 else 'FAIL'}")

    q, o = e.queries(), e.oracle_sql()
    todo = [name for name in q if not only or name in only]
    n_pass = n_fail = 0
    for pos, (name, fn) in enumerate(q.items(), 1):
        if only and name not in only:
            continue
        tag = f"#{pos:02d} {name}"
        try:
            df = fn(spark, sf_dir)
            if name not in o:
                # the real driver's rows-only check never canonicalizes
                # values, so array/decimal outputs are legal here
                print(f"  {tag}: rows-only, {df.count()} rows OK")
                n_pass += 1
                continue
            bad = forbidden_output_types(df)
            if bad:
                print(f"  {tag}: FAIL forbidden output types {bad}")
                n_fail += 1
                continue
            spdf = df.toPandas()
            msg = frame_mismatch(spdf, con.execute(o[name]).df())
            if msg:
                print(f"  {tag}: FAIL {msg}")
                n_fail += 1
            else:
                print(f"  {tag}: OK ({len(spdf)} rows, hash-match)")
                n_pass += 1
        except Exception as ex:
            if isinstance(ex, (Py4JError, ConnectionError)):
                lost = jvm_lost(spark, len(todo) - n_pass - n_fail)
                if lost:
                    print(f"  {tag}: {lost}")
                    return 2
            print(f"  {tag}: ERROR {type(ex).__name__}: {ex}")
            traceback.print_exc(limit=3)
            n_fail += 1

    print(f"SUMMARY: {n_pass} pass, {n_fail} fail, sf_dir={sf_dir}")
    spark.stop()
    return 1 if n_fail or len(smoke) == 0 else 0


if __name__ == "__main__":
    sys.exit(main())
