"""CLI entry point — the reference's ``run.py`` UX on the Spark engine.

Mirrors ``/root/reference/src/run.py`` (usage at :4-13, arg parsing
:37-57, worklist routing :66-81, per-case loop :86-133, manifest
:122-146) as one declarative pipeline:

    python -m shippai_knowledge_etl_spark.run URL [URL...] \
        [--limit N] [--output-dir DIR] [--pdf]

Routing (src/run.py:66-77): ``/lis/`` list pages are expanded by
fetching and parsing their ``ul.list_all`` anchor list (S2,
src/extract.py:396-407) with ``--limit`` case links kept per list;
``/cf/`` URLs are direct case pages; anything else warns and is
skipped. An empty worklist exits 1 (src/run.py:79-81). argv and its
list pages are driver-sized, so ``expand_worklist`` routes, fetches and
parses them on the driver and runs no Spark job: the first job of a
call is the records checkpoint below. Routing comes before the
session too: the Spark session is only started once there are case
rows to parallelize, so an argv that routes to nothing exits without
starting a JVM.

Where the reference loops sequentially with 30 s timeouts per fetch,
the case worklist here is one ``createDataFrame`` over the driver's
rows in worklist order, which PySpark slices into ``defaultParallelism``
near-equal partitions, so case fetches fan out partition-parallel
on every core (errors are data, never task failures). The case edge is
ONE Arrow-batched pandas UDF (``fetch.fetch_case_pages``): per case it
fetches and parses the case page, resolves and fetches the scenario
sub-page (S3) and parses it, so each case crosses the Python boundary
once and no page body enters the JVM; a Generate barrier pins that one
evaluation. Everything downstream is column expressions: the scenario
facts are decoded Spark-side (F19 separator decode →
O1 ordinal sort → W2 boundary slice → W1 chunk-by-3), multimedia links
are merged and order-preserving-deduped (P7/J3/O3), dates normalize via
F1, casualty counts via F2, knowledge via the F6 fold, and validation /
status partitioning is the same column logic the driver-verified
queries use (P10/U2/A1).

The assembled records are materialized once, into an eager
``localCheckpoint``, before any sink runs. Each sink, the manifest
entries and the summary then plan over that one-node leaf: the driver
does not re-analyze the fetch → parse → assembly tree per frame, and
no page is fetched twice.

Artifacts match the reference's contract: one full NESTED case record
per success as ``{case_id}_{case_name}.json`` (requirements.md:107-142,
src/extract.py:417), a ``results_NNN.json`` run manifest with per-case
entries + summary (src/run.py:122-146) written with the entries
STREAMED from a distributed Spark write (no per-case driver collect),
and optionally one PDF per success via the dependency-free emitter
(``--pdf``).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import urllib.request

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.functions import listparse, nested, scalar
from shippai_knowledge_etl_spark.operators import quality
from shippai_knowledge_etl_spark.sources import sinks
from shippai_knowledge_etl_spark.sources.fetch import _fetch_one, fetch_case_pages
from shippai_knowledge_etl_spark.sources.html_parse import parse_list_page

# src/extract.py:14-20 — HTML label → JSON key for required fields
REQUIRED_FIELDS = {
    "事例概要": "summary",
    "経過": "process",
    "原因": "cause",
    "対策": "countermeasure",
    "シナリオ": "scenario",
}
CASE_NAME_LABEL = "事例名称"  # src/extract.py:132

# get_text fields (single-line prose, src/extract.py:100-107) vs
# get_html_text fields (paragraph re-segmented, src/extract.py:109-130)
_TEXT_FIELDS = {
    "case_name": CASE_NAME_LABEL,
    "location": "事例発生地",
    "facility": "事例発生場所",
    "summary": "事例概要",
    "phenomenon": "事象",
    "financial_damage": "被害金額",
    "social_impact": "社会への影響",
    "notes": "備考",
    "field": "分野",
}
_PARA_FIELDS = {
    "process": "経過",
    "cause": "原因",
    "response": "対処",
    "countermeasure": "対策",
    "background": "背景",
}


_WARN_CAP = 100  # warning lines per kind before "... and N more"


def _warn(lines: list[str], more: str) -> None:
    """One stderr warning per line, capped so a pathological worklist
    (e.g. fed from a file) cannot flood the terminal."""
    for line in lines[:_WARN_CAP]:
        print(f"warning: {line}", file=sys.stderr)
    if len(lines) > _WARN_CAP:
        print(f"warning: ... and {len(lines) - _WARN_CAP} more {more}",
              file=sys.stderr)


def expand_worklist(urls: list[str], limit: int | None) -> DataFrame | None:
    """argv URLs → the case worklist: one row per case URL
    (``case_url``) with ``seq``, a bigint sort key holding the URL's
    argv position in its high 32 bits and, for a link expanded from a
    list page, the link's position on that page in its low 32. Ordering
    by ``seq`` is worklist order, so the manifest lists cases the way
    the reference's sequential loop appends them (src/run.py:66-77).
    ``None`` when no case URL survives, and then no Spark session is
    started: ``session.get_spark`` is called only for the one
    ``createDataFrame`` at the end.

    argv and its list pages are driver-sized (a handful of URLs, one
    page of anchors each), so routing, list-page fetch (the one fetch
    definition, ``fetch._fetch_one``) and link extraction
    (``parse_list_page``, the body of the ``list_page_links`` UDF) run
    on the driver, and no Spark job runs here. ``case_url`` stays a
    lazy ``resolve_url`` column over ``(base, href)``; a direct URL has
    a null href and passes through as typed.

    The worklist is where ``process_cases`` gets its fan-out: the rows
    are parallelized from the driver in ``seq`` order, and PySpark cuts
    a local list into ``defaultParallelism`` contiguous slices whose
    sizes differ by at most one, so case fetch, parse and record
    assembly run on every core.
    """
    rows: list[tuple[str, str | None, int, int]] = []
    skipped: list[str] = []
    failed: list[str] = []
    opener = urllib.request.build_opener()
    for pos, url in enumerate(urls):
        if "/lis/" in url:
            body, _, error = _fetch_one(opener, url, binary=False)
            # a failed list fetch must be LOUD, not an empty expansion
            # (reference surfaces list-expansion failures, src/run.py:66-77)
            if error is not None:
                failed.append(
                    f"list page fetch failed ({error}), 0 cases expanded: {url}"
                )
            hrefs = [h for _, h, _ in parse_list_page(body or "") if "/cf/" in h]
            rows += [(url, h, pos, i) for i, h in enumerate(hrefs[:limit])]
        elif "/cf/" in url:
            rows.append((url, None, pos, 0))
        else:
            skipped.append(f"unrecognized URL pattern, skipping: {url}")
    _warn(skipped, "unrecognized URLs")
    _warn(failed, "failed list fetches")
    if not rows:
        return None
    from shippai_knowledge_etl_spark.session import get_spark

    spark = get_spark("shippai-etl-run")  # Columns need a live session
    base, href = F.col("base"), F.col("href")
    return spark.createDataFrame(
        rows, "base string, href string, pos long, link int"
    ).select(
        F.when(href.isNull(), base)
        .otherwise(scalar.resolve_url(base, href))
        .alias("case_url"),
        F.shiftleft("pos", 32).bitwiseOR(F.col("link")).alias("seq"),
    )


def _single_line(col: F.Column) -> F.Column:
    """``get_text`` analog (src/extract.py:100-107): join the value's
    lines without separators (bs4's strip=True drops the whitespace-only
    fragments the <br> substitution produced)."""
    return scalar.trim_ws(F.regexp_replace(col, r"[ \t]*\n[ \t]*", ""))


def _scenario_struct(facts: F.Column) -> F.Column:
    """Scenario-page facts → the nested scenario value
    (requirements.md:126-131) entirely in column expressions:
    F19 decodes each double-line separator's spacer width into a
    1-based item boundary, O1 sorts items by ordinal, W2 slices at the
    boundaries into (cause, action, result), W1 chunks each category
    into groups of 3 (src/extract.py:343-377)."""
    items = nested.sort_items_by_num(facts.getField("items"))
    doubles = F.array_sort(
        F.transform(
            F.filter(
                facts.getField("seps"),
                lambda s: s.getField("kind") == "double",
            ),
            lambda s: scalar.separator_item_after(s.getField("width")),
        )
    )
    cats = nested.slice_categories(items, doubles)
    return F.struct(
        nested.chunk(cats.getField("cause")).alias("cause"),
        nested.chunk(cats.getField("action")).alias("action"),
        nested.chunk(cats.getField("result")).alias("result"),
    )


def process_cases(cases_urls: DataFrame) -> DataFrame:
    """case URL → full nested, validated record with status (never
    throws: fetch failures → status 'error', missing required fields →
    'excluded'). Column order of the produced record follows the output
    contract (requirements.md:107-142)."""
    rows = F.filter(
        F.col("__p.rows"),
        lambda r: F.upper(r.getField("bgcolor")) == "#DFE9F2",
    )
    # the case edge: ONE Python evaluation per case fetches and parses
    # the case page and its scenario sub-page (fetch_case_pages); the
    # Generate barrier pins that one evaluation, so the field reads
    # below never re-run it. Fetch errors carry through as data.
    staged = cases_urls.select(
        "seq",
        F.col("case_url"),
        scalar.case_id_from_url(F.col("case_url")).alias("case_id"),
        F.explode(F.array(fetch_case_pages(F.col("case_url")))).alias("__p"),
    ).select("*", rows.alias("__rows"))

    # multimedia: labeled-row links ++ page-wide /mf/ scan, first-
    # occurrence dedup on (href, caption) pairs (P7/J3 merge + O3,
    # src/extract.py:73-97,217-227), then id = stem(basename) (P9)
    mm_pairs = nested.dedup_preserving_order(
        F.concat(F.col("__p.mm_label_links"), F.col("__p.mf_links"))
    )
    multimedia = F.transform(
        mm_pairs,
        lambda l: F.struct(
            scalar.stem(l.getField("href")).alias("id"),
            l.getField("caption").alias("caption"),
        ),
    )
    images = F.struct(
        F.coalesce(
            scalar.basename(F.col("__p.rep_image_src")), F.lit("")
        ).alias("representative"),
        multimedia.alias("multimedia"),
    )

    # every field reads the staged __rows column, so the sentinel-row
    # filter above is evaluated once per case
    rows = F.col("__rows")
    fields: dict[str, F.Column] = {}
    for name, label in _TEXT_FIELDS.items():
        fields[name] = _single_line(nested.first_val(rows, label))
    for name, label in _PARA_FIELDS.items():
        fields[name] = scalar.paragraphs(nested.first_val(rows, label))
    fields["date"] = scalar.normalize_jp_date(
        _single_line(nested.first_val(rows, "事例発生日付"))
    )
    fields["knowledge"] = listparse.parse_knowledge(
        nested.first_val(rows, "知識化")
    )
    fields["scenario"] = _scenario_struct(F.col("__p"))
    fields["images"] = images
    fields["sources"] = scalar.split_nonblank(nested.first_val(rows, "情報源"))
    fields["casualties"] = F.struct(
        scalar.leading_int(nested.first_val(rows, "死者数")).alias("deaths"),
        scalar.leading_int(nested.first_val(rows, "負傷者数")).alias("injuries"),
    )
    fields["authors"] = scalar.split_nonblank(
        scalar.normalize_nbsp(
            scalar.paragraphs(nested.first_val(rows, "データ作成者"))
        )
    )

    # output-contract column order (requirements.md:107-142) — the
    # single module-level list, so the record builder and the JSON sink
    # selection can never drift apart
    record_order = RECORD_COLUMNS
    named = dict(fields)
    named["url"] = F.col("case_url")
    named["case_id"] = F.col("case_id")
    # a present-but-failed scenario fetch (scen_error, null when the
    # case links no scenario page) aborts the case like the reference's
    # raise_for_status inside parse_scenario_page (src/extract.py:284-286
    # → run.py:113-120 generic error)
    wide = staged.select(
        "seq",
        F.col("case_url"),
        F.col("__p.error").alias("fetch_error"),
        F.col("__p.scen_error").alias("scen_error"),
        *[named[c].alias(c) for c in record_order],
    )

    # required-field validation (src/extract.py:262-279): text fields
    # must be non-empty; scenario needs any populated category (P11).
    # Missing entries are reported as the reference's HTML labels.
    required = {}
    for label, key in REQUIRED_FIELDS.items():
        if key == "scenario":
            required[label] = ~nested.scenario_presence(F.col("scenario"))
        else:
            required[label] = F.col(key) == ""
    return quality.with_status(
        wide,
        required,
        error_when=F.col("fetch_error").isNotNull()
        | F.col("scen_error").isNotNull(),
    )


RECORD_COLUMNS = (
    "case_id", "case_name", "url", "date", "location", "facility",
    "summary", "phenomenon", "process", "cause", "response",
    "countermeasure", "knowledge", "background", "scenario", "images",
    "sources", "casualties", "financial_damage", "social_impact",
    "notes", "field", "authors",
)


def _render_pdfs(successes: DataFrame, out_dir: str) -> None:
    """Per-case composite report through the S6 emitter, mirroring the
    reference's section flow (src/render_pdf.py:324-471):

      flow pages (page = -1) — title, labeled fields, representative
               image (S4-fetched, scale-to-fit, failure placeholder,
               src/render_pdf.py:361-365,96-118), every prose section
               at FULL length, sources (URLs hyperlinked,
               src/render_pdf.py:423-435), casualties and trailing
               fields — laid out by the emitter's measured-height flow
               (wrap + pagination), the Paragraph-flowable model;
      then the diagonal scenario diagram page (bars, separator lines,
               category braces) when scenario structure is present
               (src/render_pdf.py:393-408, operators/diagram.py);
      then one multimedia image per page with its caption, URL guessed
               as ``../mf/{id}.jpg`` like the reference
               (src/render_pdf.py:411-420).

    All geometry is relational draw-ops rows; image bytes ride a binary
    column fetched partition-parallel inside the sink's single action.
    """
    from shippai_knowledge_etl_spark.operators import diagram
    from shippai_knowledge_etl_spark.sources.fetch import fetch_binary

    op = sinks.draw_op
    box_w = float(sinks.PAGE_W - 200)  # text box inside 100-tmm side margins

    def _head(
        sec: int, label: str | F.Column, seq: int = 0, h2: bool = False
    ) -> F.Column:
        """``h2=True`` for the headings the reference styles JP_H2
        (background fill + 13 pt, src/render_pdf.py:43-53,363,425,440);
        labeled one-liner fields stay plain text (JP_Label class)."""
        if h2:
            return op(-1, sec, seq, "h2", 100, 0.0, w=box_w, label=label)
        return op(-1, sec, seq, "text", 100, 0.0, label=label)

    def _body(sec: int, text: F.Column, seq: int = 1) -> F.Column:
        return op(-1, sec, seq, "para", 100, 0.0, w=box_w, label=text)

    # --- flow content, reference section order ---
    ops: list[F.Column] = [_head(0, F.col("case_name"))]
    labeled = [("事例発生日付", "date"), ("事例発生地", "location"),
               ("事例発生場所", "facility")]
    for i, (jp, key) in enumerate(labeled):
        ops.append(F.when(
            F.col(key) != "",
            _head(1 + i, F.concat(F.lit(f"{jp}："), F.col(key))),
        ))
    has_rep = F.col("images.representative") != ""
    rep_url = F.when(
        has_rep,
        scalar.resolve_url(
            F.col("url"),
            F.concat(F.lit("../df/"), F.col("images.representative")),
        ),
    )
    ops.append(F.when(has_rep, _head(4, "代表図", h2=True)))
    ops.append(F.when(
        has_rep,
        op(-1, 4, 1, "image", 100, 0.0, w=1600.0, h=1100.0,
           img=fetch_binary(rep_url).getField("content"), label="代表図"),
    ))
    prose = [
        ("事例概要", F.col("summary")),
        ("事象", F.col("phenomenon")),
        ("経過", F.col("process")),
        ("原因", F.col("cause")),
        ("対処", F.col("response")),
        ("対策", F.col("countermeasure")),
        ("知識化", F.array_join(
            F.transform(F.col("knowledge"),
                        lambda k: F.concat(F.lit("・"), k)), "\n")),
        ("背景", F.col("background")),
    ]
    for i, (jp, text) in enumerate(prose):
        sec = 5 + i
        present = text != ""
        ops.append(F.when(present, _head(sec, jp, h2=True)))
        ops.append(F.when(present, _body(sec, text)))
    # sources: one paragraph per line, URLs become live hyperlinks in
    # the emitter (blue + underline + /Annots /URI)
    ops.append(F.when(F.size(F.col("sources")) > 0,
                      _head(13, "情報源", h2=True)))
    # casualties + trailing labeled fields (src/render_pdf.py:436-466)
    ops.append(_head(14, "被害情報", h2=True))
    ops.append(F.when(
        F.col("casualties.deaths").isNotNull(),
        _head(14, F.concat(F.lit("死者数："),
                           F.col("casualties.deaths").cast("string")), 1),
    ))
    ops.append(F.when(
        F.col("casualties.injuries").isNotNull(),
        _head(14, F.concat(F.lit("負傷者数："),
                           F.col("casualties.injuries").cast("string")), 2),
    ))
    trailing = [("被害金額", "financial_damage"), ("社会への影響", "social_impact"),
                ("備考", "notes"), ("分野", "field")]
    for i, (jp, key) in enumerate(trailing):
        ops.append(F.when(
            F.col(key) != "",
            _head(15 + i, F.concat(F.lit(f"{jp}："), F.col(key))),
        ))
    ops.append(F.when(
        F.size(F.col("authors")) > 0,
        _head(19, F.concat(F.lit("データ作成者："),
                           F.array_join(F.col("authors"), " / "))),
    ))
    # one struct per source line, seq from the array index; the
    # section-13 heading above (seq 0) sorts before these seq>=1 rows
    src_ops = F.transform(
        F.col("sources"),
        lambda s_, i: op(-1, 13, i + 1, "para", 100, 0.0, w=box_w, label=s_),
    )
    text_ops = sinks.draw_rows(
        successes, F.col("case_id"), F.concat(F.array(*ops), src_ops)
    )

    # --- page 1: the diagonal diagram (scenario cases only) ---
    scen = successes.filter(nested.scenario_presence(F.col("scenario"))).select(
        F.col("case_id").alias("doc_id"), "scenario"
    )
    diag_ops = diagram.draw_ops(
        diagram.positioned_items_chunked(scen, "doc_id"), "doc_id"
    )

    # --- pages 2+: one multimedia image per page ---
    mm = successes.select(
        F.col("case_id").alias("doc_id"),
        "url",
        F.posexplode("images.multimedia").alias("i", "m"),
    )
    mm_img = fetch_binary(
        scalar.resolve_url(
            F.col("url"),
            F.concat(F.lit("../mf/"), F.col("m.id"), F.lit(".jpg")),
        )
    ).getField("content")
    page = F.col("i") + 2
    mm_ops = sinks.draw_rows(mm, F.col("doc_id"), F.array(
        op(page, 0, 0, "text", 100, sinks.PAGE_H - 150,
           label=F.col("m.caption")),
        op(page, 0, 1, "image", 100, 300, w=1900.0, h=2300.0,
           img=mm_img, label=F.col("m.caption")),
    ))

    draw = text_ops.unionByName(diag_ops).unionByName(mm_ops)
    sinks.render_pdf_sink(draw, out_dir)


def _non_negative(text: str) -> int:
    """``--limit`` type: an int >= 0 (0 expands no case from a list)."""
    n = int(text)
    if n < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="shippai_knowledge_etl_spark.run",
        description="Extract failure-knowledge cases (Spark engine)",
    )
    p.add_argument("urls", nargs="+", help="case (/cf/) or list (/lis/) URLs")
    p.add_argument("--limit", type=_non_negative, default=None,
                   help="max cases expanded per list page")
    p.add_argument("--output-dir", default="data")
    p.add_argument("--pdf", action="store_true",
                   help="also render one PDF report per success")
    args = p.parse_args(argv)

    worklist = expand_worklist(args.urls, args.limit)
    if worklist is None:  # src/run.py:79-81
        print("error: empty worklist", file=sys.stderr)
        return 1

    # the records are computed ONCE into an eager checkpoint: every
    # frame below (the success filter, the JSON sink, the PDF branches,
    # the manifest entries, the summary) is then analyzed and planned
    # over a one-node leaf instead of the whole fetch → parse → assembly
    # tree, and no later action can re-fetch a page through lineage
    records = process_cases(worklist).localCheckpoint(eager=True)
    successes = records.filter(F.col("status") == quality.STATUS_SUCCESS)

    out = args.output_dir
    sinks.write_cases_json_named(successes.select(*RECORD_COLUMNS), out)
    if args.pdf:
        _render_pdfs(successes, out)

    # manifest: per-case entries with status-dependent payloads +
    # summary (src/run.py:95-132). The entries flow through a
    # DISTRIBUTED json write ordered by worklist position; the driver
    # streams them into the manifest one at a time — no per-case collect
    json_name = scalar.output_filename(
        F.col("case_id"), F.col("case_name"), "json"
    )
    if args.pdf:
        outputs = F.array(json_name, F.concat(F.col("case_id"), F.lit(".pdf")))
    else:
        outputs = F.array(json_name)
    is_err = F.col("status") == quality.STATUS_ERROR
    entries = records.select(
        "seq",
        # error entries carry only url/status/message (src/run.py:113-119)
        F.when(~is_err, F.col("case_id")).alias("case_id"),
        F.when(~is_err, F.col("case_name")).alias("case_name"),
        F.col("url"),
        F.col("status"),
        F.when(F.col("status") == quality.STATUS_SUCCESS, outputs
               ).alias("outputs"),
        F.when(
            F.col("status") == quality.STATUS_EXCLUDED, F.col("missing_fields")
        ).alias("missing_fields"),
        F.when(is_err, F.coalesce(F.col("fetch_error"), F.col("scen_error"))
               ).alias("message"),
    )
    tmp = os.path.join(out, ".manifest_entries")
    try:
        entries.orderBy("seq").drop("seq").write.mode("overwrite").json(tmp)
        summary = quality.status_summary(records).collect()[0].asDict()
        path = sinks.write_manifest_streamed(
            summary, sinks.iter_json_parts(tmp), out
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"manifest: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
