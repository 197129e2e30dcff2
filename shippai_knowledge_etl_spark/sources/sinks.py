"""Record/report/manifest sinks and re-sources (SURVEY.md §2.1 S5–S8).

  - S5 JSON case sink: one JSON document per case (distributed write;
    per-case filenames are a driver-side rename concern, kept out of
    executors).
  - S6 PDF report sink: foreachPartition emitter producing REAL,
    openable multi-page PDF reports (flowed prose pages, the scenario
    diagram page, one page per multimedia image) via the
    dependency-free writer in sources/pdf_writer.py (no reportlab
    needed). Its input is rows of one draw-op format, built only by
    ``draw_op``; the diagram layout math lives in
    operators/diagram.py.
  - S7 run-manifest sink: max+1 numbered results_NNN.json; sequencing
    is inherently single-writer → computed on the driver
    (SURVEY §7.4 item 4). The streaming analog is foreachBatch batchId
    (streaming/windows.py).
  - S8 case re-source: read saved case JSON back under CASE_SCHEMA.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.schemas import CASE_SCHEMA


def write_cases_json(cases: DataFrame, out_dir: str) -> None:
    """S5: distributed JSON write (one line-delimited part per task).
    UTF-8 with non-ASCII preserved — Spark never ASCII-escapes."""
    cases.write.mode("overwrite").json(out_dir)


def write_cases_json_named(cases: DataFrame, out_dir: str) -> None:
    """S5 with the reference's naming contract: one
    ``{case_id}_{case_name}.json`` file per case
    (src/extract.py:417; requirements.md:85-90).

    Spark's native writer controls part-file names, not per-row names,
    so the contract is honored with a foreachPartition writer: serialize
    each case to a JSON document JVM-side (``to_json``), repartition on
    case_id so a case is written exactly once, and stream rows to
    individually named files. Path separators in case_name are
    sanitized; everything else (incl. UTF-8) passes through."""
    os.makedirs(out_dir, exist_ok=True)
    payload = cases.select(
        F.col("case_id"),
        F.regexp_replace(F.col("case_name"), r"[/\\\x00]", "_").alias("_fname"),
        F.to_json(F.struct(*[F.col(f.name) for f in cases.schema.fields])).alias(
            "_js"
        ),
    )

    def emit(rows) -> None:
        # executors run on other machines in cluster mode: out_dir must
        # be a SHARED filesystem (NFS/fuse mount), and each task creates
        # it locally — driver-side makedirs alone doesn't reach here
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            path = os.path.join(out_dir, f"{r['case_id']}_{r['_fname']}.json")
            with open(path, "w", encoding="utf-8") as f:
                f.write(r["_js"])
                f.write("\n")

    payload.repartition(F.col("case_id")).foreachPartition(emit)


def read_cases_json(spark: SparkSession, path: str) -> DataFrame:
    """S8: schema-pinned read-back (never infer — at 100 TB inference
    is a full extra pass)."""
    return spark.read.schema(CASE_SCHEMA).json(path)


def next_manifest_name(out_dir: str) -> str:
    """S7/F13/A2: results_(NNN).json max+1 sequencing, driver-side.
    Mirrors src/run.py:135-142 including the empty-dir → 001 case."""
    seq = 0
    if os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            m = re.fullmatch(r"results_(\d+)\.json", name)
            if m:
                seq = max(seq, int(m.group(1)))
    return f"results_{seq + 1:03d}.json"


def write_manifest(manifest_row: dict, out_dir: str) -> str:
    """Write one pretty-printed UTF-8 manifest (ensure_ascii=False per
    requirements.md:43-77 worked example). Single JSON object, single
    writer — this is a run summary, not data."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, next_manifest_name(out_dir))
    with open(path, "w", encoding="utf-8") as f:
        json.dump(manifest_row, f, ensure_ascii=False, indent=2)
    return path


def iter_json_parts(path: str):
    """Yield dicts from a Spark JSON output directory, part files in
    name order — with an upstream ``orderBy``, Spark's range partitioner
    makes part-file name order the global sort order, so iteration
    preserves it. One line in memory at a time."""
    for part in sorted(os.listdir(path)):
        if not (part.startswith("part-") and part.endswith(".json")):
            continue
        with open(os.path.join(path, part), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _dump_indented(obj, level: int) -> str:
    s = json.dumps(obj, ensure_ascii=False, indent=2)
    pad = "  " * level
    lines = s.splitlines()
    return "\n".join([lines[0], *(pad + ln for ln in lines[1:])])


def write_manifest_streamed(summary: dict, entries, out_dir: str) -> str:
    """S7 at scale: the manifest's ``cases`` array is written from an
    ITERATOR of per-case dicts — the driver never holds more than one
    entry in memory, so a 100x worklist costs it nothing (the entries
    come from a distributed Spark JSON write via iter_json_parts).
    Output formatting matches ``json.dump(..., ensure_ascii=False,
    indent=2)`` byte for byte."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, next_manifest_name(out_dir))
    with open(path, "w", encoding="utf-8") as f:
        f.write('{\n  "summary": ')
        f.write(_dump_indented(summary, 1))
        f.write(',\n  "cases": ')
        wrote = False
        for e in entries:
            f.write("[\n    " if not wrote else ",\n    ")
            f.write(_dump_indented(e, 2))
            wrote = True
        f.write("\n  ]\n}" if wrote else "[]\n}")
    return path


# Default page size, tenth-mm: A4 portrait.
PAGE_W, PAGE_H = 2100, 2970


def draw_op(
    page, section, seq, op, x, y, *,
    x2=None, y2=None, w=None, h=None, fill=None, label=None, img=None,
    page_w=PAGE_W, page_h=PAGE_H,
) -> Column:
    """One drawing instruction in the S6 sink's row format — the only
    place its fields and types are written down. Every argument is a
    Column or a Python literal; unset fields are typed nulls.

    ``page`` -1 marks flow content, which the sink lays out down the
    page by measured height; other pages are drawn as given, in page
    order. ``page_w`` x ``page_h`` (tenth-mm) is the size of the page
    the op lands on. Within a page, ops draw in (section, seq, op)
    order, so that key must be unique per document and page for the
    PDF bytes not to depend on shuffle arrival order."""

    def c(v, t: str) -> Column:
        return (v if isinstance(v, Column) else F.lit(v)).cast(t)

    return F.struct(
        c(page, "int").alias("page"),
        c(section, "int").alias("section"),
        c(seq, "int").alias("seq"),
        c(op, "string").alias("op"),
        c(x, "double").alias("x"),
        c(y, "double").alias("y"),
        c(x2, "double").alias("x2"),
        c(y2, "double").alias("y2"),
        c(w, "double").alias("w"),
        c(h, "double").alias("h"),
        c(fill, "string").alias("fill"),
        c(label, "string").alias("label"),
        c(img, "binary").alias("img"),
        c(page_w, "long").alias("page_w"),
        c(page_h, "long").alias("page_h"),
    )


def draw_rows(df: DataFrame, doc_id: Column, ops: Column) -> DataFrame:
    """Sink rows ``(doc_id, *draw_op fields)`` from an array of
    :func:`draw_op` structs per input row; null entries (ops switched
    off by a ``when``) are dropped."""
    return (
        df.select(doc_id.alias("doc_id"), F.explode(ops).alias("o"))
        .filter(F.col("o").isNotNull())
        .select("doc_id", "o.*")
    )


def render_pdf_sink(draw_ops: DataFrame, out_dir: str) -> None:
    """S6: one multi-page PDF report per ``doc_id`` from
    :func:`draw_rows` output, in the reference's page flow
    (src/render_pdf.py:324-471): flow pages first, then the paged ops
    (diagram, multimedia) in page order. Distributed shape: repartition
    on the document id so one document's ops land contiguous in one
    task, sortWithinPartitions pins draw order, then foreachPartition
    streams each document's rows into a hand-rolled PDF — no reportlab,
    no driver collect, no materialization beyond one document's op rows.
    ``out_dir`` must be storage every executor can reach (local mode:
    any dir; cluster mode: a shared mount)."""
    os.makedirs(out_dir, exist_ok=True)

    def emit(rows) -> None:
        from shippai_knowledge_etl_spark.sources.pdf_writer import (
            flow_pages,
            pdf_document,
        )

        # see write_cases_json_named.emit: out_dir must be shared storage
        # in cluster mode, and each task ensures it exists locally
        os.makedirs(out_dir, exist_ok=True)
        cur_id = None
        cur_pages: dict[int, dict] = {}

        def flush() -> None:
            if cur_id is None:
                return
            path = os.path.join(out_dir, f"{cur_id}.pdf")
            # page == -1 rows are FLOW content: laid out down the page
            # by measured height (text wrap + pagination in the
            # emitter, the reference's Paragraph-flowable model,
            # src/render_pdf.py:368-379,469); they become the leading
            # pages, followed by the explicitly-paged ops (diagram,
            # multimedia) in page order
            flow = cur_pages.pop(-1, None)
            pages = []
            if flow is not None:
                pages.extend(flow_pages(flow["ops"], flow["w"], flow["h"]))
            pages.extend(cur_pages[k] for k in sorted(cur_pages))
            with open(path, "wb") as f:
                f.write(pdf_document(pages))

        for r in rows:
            if r["doc_id"] != cur_id:
                flush()
                cur_id, cur_pages = r["doc_id"], {}
            page = cur_pages.setdefault(r["page"], {"ops": []})
            page["w"], page["h"] = r["page_w"], r["page_h"]
            page["ops"].append(r.asDict())
        flush()

    (
        draw_ops.repartition("doc_id")
        .sortWithinPartitions("doc_id", "page", "section", "seq", "op")
        .foreachPartition(emit)
    )


def json_roundtrip_check(cases: DataFrame) -> DataFrame:
    """F17/F18 pairing: serialize each case to JSON and parse it back —
    to_json ∘ from_json must be lossless under CASE_SCHEMA."""
    js = F.to_json(F.struct(*[F.col(f.name) for f in CASE_SCHEMA.fields]))
    back = F.from_json(js, CASE_SCHEMA)
    checks = [
        (F.col(f.name) == back.getField(f.name))
        | (F.col(f.name).isNull() & back.getField(f.name).isNull())
        for f in CASE_SCHEMA.fields
    ]
    ok = checks[0]
    for c in checks[1:]:
        ok = ok & c
    return cases.select(F.col("case_id"), ok.alias("roundtrip_ok"))
