"""Sink/re-source tests: JSON case write/read-back, manifest sequencing,
to_json/from_json round-trip, PDF-stub behavior."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.schemas import CASE_SCHEMA
from shippai_knowledge_etl_spark.sources import sinks


@pytest.fixture(scope="module")
def cases_df(spark):
    rows = [
        {
            "case_id": "CZ0000001",
            "case_name": "テスト事例",
            "url": "https://www.shippai.org/fkd/cf/CZ0000001.html",
            "date_str": "2006-06-15",
            "date": None,
            "summary": "概要",
            "knowledge": ["a", "b"],
            "scenario": {"cause": [["x", "y", "z"]], "action": [], "result": [["w"]]},
            "images": {"representative": "r.jpg", "multimedia": [
                {"id": "m1", "caption": "c1"}]},
            "sources": ["s1"],
            "casualties": {"deaths": 0, "injuries": 2},
            "authors": ["author_1"],
        },
        {"case_id": "CZ0000002", "case_name": "second", "knowledge": []},
    ]
    return spark.createDataFrame(rows, CASE_SCHEMA)


def test_json_sink_roundtrip(spark, cases_df, tmp_path):
    out = str(tmp_path / "cases")
    sinks.write_cases_json(cases_df, out)
    back = sinks.read_cases_json(spark, out)
    assert back.count() == 2
    a = {r.case_id: r for r in back.collect()}
    assert a["CZ0000001"].case_name == "テスト事例"  # UTF-8 preserved
    assert a["CZ0000001"].scenario.cause == [["x", "y", "z"]]
    assert a["CZ0000001"].casualties.injuries == 2
    assert a["CZ0000002"].date is None


def test_manifest_sequencing(tmp_path):
    d = str(tmp_path / "m")
    assert sinks.next_manifest_name(d) == "results_001.json"
    p1 = sinks.write_manifest({"run": 1, "note": "日本語"}, d)
    assert p1.endswith("results_001.json")
    p2 = sinks.write_manifest({"run": 2}, d)
    assert p2.endswith("results_002.json")
    raw = open(p1, encoding="utf-8").read()
    assert "日本語" in raw  # ensure_ascii=False per spec
    assert json.loads(raw)["run"] == 1


def test_to_from_json_roundtrip(cases_df):
    out = sinks.json_roundtrip_check(cases_df).collect()
    assert all(r.roundtrip_ok for r in out)


def test_named_json_sink_roundtrip(spark, cases_df, tmp_path):
    """S5 naming contract (src/extract.py:417): exact
    {case_id}_{case_name}.json filenames that round-trip through S8."""
    out = tmp_path / "named"
    sinks.write_cases_json_named(cases_df, str(out))
    names = sorted(p.name for p in out.iterdir())
    assert names == ["CZ0000001_テスト事例.json", "CZ0000002_second.json"]
    back = sinks.read_cases_json(spark, str(out))
    a = {r.case_id: r for r in back.collect()}
    assert len(a) == 2
    assert a["CZ0000001"].scenario.cause == [["x", "y", "z"]]
    assert a["CZ0000001"].casualties.injuries == 2


def test_pdf_sink_renders_real_per_case_artifacts(spark, sf_dir, tmp_path):
    """S6 (src/render_pdf.py:324-471): one openable PDF per case, with
    title → bars → separator lines → braces in the reference's section
    order, emitted without reportlab."""
    from shippai_knowledge_etl_spark.operators import diagram
    from shippai_knowledge_etl_spark.queries.nested import (
        scenario_source,
        scenario_struct,
    )

    src = scenario_struct(scenario_source(spark, sf_dir)).filter(
        F.col("doc_id") < 6
    )
    pos = diagram.positioned_items(src, "doc_id")
    # expected " l S" strokes: separators (a double renders as a ±4
    # pair) for marked non-final items, plus one brace line per category
    sep_weight = F.when(
        F.col("idx0") >= F.col("total_items") - 1, 0
    ).otherwise(
        F.when(F.array_contains("doubles", F.col("idx0")), 2)
        .when(F.array_contains("singles", F.col("idx0")), 1)
        .otherwise(0)
    )
    # page size: total_h high, and wide enough for the last bar plus
    # its brace (tenth-mm; the PDF's /MediaBox is in points)
    pt = 72 / 254
    page_w = (
        diagram.MARGIN_LEFT + (F.max("total_items") - 1) * diagram.STEP_X
        + diagram.BAR_W + diagram.BRACE_GAP + 200
    )
    expected = {
        r["doc_id"]: (
            r["n"],
            r["n_lines"] + r["n_cats"],
            b"/MediaBox [0 0 %.2f %.2f]" % (r["page_w"] * pt, r["page_h"] * pt),
        )
        for r in pos.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(sep_weight).alias("n_lines"),
            F.countDistinct("category").alias("n_cats"),
            page_w.alias("page_w"),
            F.max("total_h").alias("page_h"),
        )
        .collect()
    }
    ops = diagram.draw_ops(pos, "doc_id")
    sinks.render_pdf_sink(ops, str(tmp_path / "pdf"))

    files = sorted((tmp_path / "pdf").iterdir())
    assert len(files) == len(expected)
    for p in files:
        doc_id = int(p.stem)
        raw = p.read_bytes()
        assert raw.startswith(b"%PDF-1.4")
        assert raw.rstrip().endswith(b"%%EOF")
        assert raw.count(b"/MediaBox") == 1 and expected[doc_id][2] in raw
        n_rects = raw.count(b" re f")
        assert n_rects == expected[doc_id][0], f"doc {doc_id} rect count"
        assert raw.count(b" l S") == expected[doc_id][1], f"doc {doc_id} line count"
        # every bar carries its numbered label; labels render after their
        # rect and before the first separator line (section order)
        assert raw.count(b"(01. ") == 1
        first_line = raw.find(b" l S")
        last_rect = raw.rfind(b" re f")
        if first_line != -1:
            assert last_rect < first_line, "rects must precede lines"
        # braces: one vertical line + text label per category present
        assert raw.count(b"(cause) Tj") + raw.count(b"(action) Tj") + raw.count(
            b"(result) Tj"
        ) >= 1


def _tiny_jpeg() -> bytes:
    """A minimal structurally-valid JPEG (SOI + SOF0 8x4 gray + EOI) —
    enough for the dimension scanner and DCTDecode embedding path."""
    sof = b"\xff\xc0" + b"\x00\x0b" + b"\x08" + b"\x00\x04" + b"\x00\x08" + b"\x01" + b"\x01\x11\x00"
    return b"\xff\xd8" + sof + b"\xff\xd9"


def test_pdf_writer_cjk_and_images():
    """CJK text goes through the reference's own mechanism — a
    non-embedded Adobe-Japan1 CID font (UnicodeCIDFont analog,
    src/render_pdf.py:23-24) with UTF-16BE hex strings — and JPEG
    bytes embed as raw DCTDecode XObjects; unparseable image bytes
    degrade to the reference's placeholder text
    (src/render_pdf.py:116-118)."""
    from shippai_knowledge_etl_spark.sources.pdf_writer import (
        jpeg_dimensions,
        minimal_pdf,
    )

    jpg = _tiny_jpeg()
    assert jpeg_dimensions(jpg) == (8, 4, 1)
    ops = [
        {"op": "text", "x": 100, "y": 2800, "label": "タンク爆発"},
        {"op": "text", "x": 100, "y": 2700, "label": "ascii only"},
        {"op": "image", "x": 100, "y": 2000, "w": 800, "h": 400,
         "img": jpg, "label": "代表図"},
        {"op": "image", "x": 100, "y": 1500, "w": 800, "h": 400,
         "img": b"not a jpeg", "label": "写真1"},
    ]
    raw = minimal_pdf(ops, 2100, 2970)
    assert raw.startswith(b"%PDF-1.4")
    # CJK string present as UTF-16BE hex under the CID font
    hex_cjk = "タンク爆発".encode("utf-16-be").hex().encode()
    assert b"<" + hex_cjk + b"> Tj" in raw
    assert b"/F2" in raw and b"/HeiseiKakuGo-W5-UniJIS-UCS2-H" in raw
    assert b"/Registry (Adobe) /Ordering (Japan1)" in raw
    # Latin text stays on Helvetica literal strings
    assert b"(ascii only) Tj" in raw
    # the parseable JPEG is embedded raw under DCTDecode and drawn
    assert b"/Filter /DCTDecode" in raw
    assert jpg in raw
    assert b"/Im0 Do" in raw
    # the unparseable one became the reference's placeholder text
    ph = "[画像読み込みエラー: 写真1]".encode("utf-16-be").hex().encode()
    assert b"<" + ph + b"> Tj" in raw
    assert raw.count(b"/Subtype /Image") == 1


def test_pdf_para_wraps_long_cjk_text():
    """A long Japanese paragraph in a ``para`` op must wrap: multiple
    text-show ops, each line re-positioned at the SAME x with a
    descending baseline (x-advance reset per line). CJK width math is
    exact — uniform 1000/em CID advance — so the wrap point is
    chars-per-line = box_width // em (reference wraps via Paragraph
    flowables, src/render_pdf.py:368-379)."""
    from shippai_knowledge_etl_spark.sources.pdf_writer import (
        content_stream,
        para_budget,
        wrap_para,
    )

    text = "失敗知識は組織の財産である。" * 20  # 280 chars, one logical line
    cpl, _ = para_budget(text, 1900.0)
    lines = wrap_para(text, 1900.0)
    assert len(lines) > 1 and all(len(ln) <= cpl for ln, _ in lines)
    assert "".join(ln for ln, _ in lines) == text  # nothing lost
    stream, annots = content_stream(
        [{"op": "para", "x": 100, "y": 2800, "w": 1900.0, "label": text}], {}
    )
    assert annots == []
    # one positioned show per wrapped line, same x, strictly
    # descending baselines
    tds = re.findall(rb"BT 0 0 0 rg ([\d.]+) ([\d.]+) Td", stream)
    assert len(tds) == len(lines) > 1
    xs = {x for x, _ in tds}
    ys = [float(y) for _, y in tds]
    assert len(xs) == 1
    assert ys == sorted(ys, reverse=True) and len(set(ys)) == len(ys)


def test_pdf_para_url_becomes_hyperlink_annotation():
    """A source line's URL renders blue + underlined with a matching
    /Annots /URI rect (reference src/render_pdf.py:423-435); text
    before and after the URL stays black."""
    from shippai_knowledge_etl_spark.sources.pdf_writer import (
        content_stream,
        minimal_pdf,
    )

    line = "出典: http://example.com/a?x=1 による"
    op = {"op": "para", "x": 100, "y": 2800, "w": 1900.0, "label": line}
    stream, annots = content_stream([op], {})
    assert len(annots) == 1
    x0, y0, x1, y1, url = annots[0]
    assert url == "http://example.com/a?x=1"
    assert x0 < x1 and y0 < y1
    assert b"0 0 1 rg" in stream  # link segment drawn blue
    assert stream.count(b"0 0 0 rg") == 2  # pre- and post-URL segments
    assert b"0 0 1 RG" in stream and b" l S" in stream  # underline
    raw = minimal_pdf([op], 2100, 2970)
    assert b"/Subtype /Link" in raw
    assert b"/S /URI /URI (http://example.com/a?x=1)" in raw
    assert b"/Annots [" in raw


def test_pdf_flow_paginates_by_measured_height():
    """flow_pages stacks blocks down the page and breaks when the next
    line would cross the bottom margin — a para taller than one page
    SPLITS across pages, and the split fragments re-wrap to the same
    lines (wrap_para's re-wrap identity)."""
    from shippai_knowledge_etl_spark.sources.pdf_writer import (
        flow_pages,
        wrap_para,
    )

    text = "長い本文がページ境界を越えて流れる。" * 250
    ops = [
        {"op": "text", "x": 100, "y": 0, "label": "背景"},
        {"op": "para", "x": 100, "y": 0, "w": 1900.0, "label": text},
    ]
    pages = flow_pages(ops, 2100, 2970)
    assert len(pages) > 1
    placed = [r for p in pages for r in p["ops"] if r["op"] == "para"]
    # fragments rejoin to the original wrap, nothing dropped or re-split
    frag_lines = [
        ln for r in placed for ln, _ in wrap_para(r["label"], 1900.0)
    ]
    assert frag_lines == [ln for ln, _ in wrap_para(text, 1900.0)]
    # every placed op sits inside the page box
    for p in pages:
        for r in p["ops"]:
            assert 0 <= r["y"] <= 2970


def test_pdf_h2_heading_draws_background_fill():
    """The JP_H2 analog (reference src/render_pdf.py:43-53): an h2 op
    must emit the #ecf0f1 background rect padded 4 pt around the text
    box and the 13 pt heading in #2c3e50."""
    from shippai_knowledge_etl_spark.sources.pdf_writer import (
        content_stream,
    )

    stream, _ = content_stream(
        [{"op": "h2", "x": 100, "y": 2500, "w": 1900.0, "label": "事例概要"}],
        {},
    )
    # _rgb("#ecf0f1") -> 0.925 0.941 0.945, filled before the text
    assert b"0.925 0.941 0.945 rg" in stream
    assert b" re f" in stream
    # heading text: CJK CID font at 13 pt in #2c3e50 (0.173 0.243 0.314)
    assert b"/F2 13 Tf" in stream
    assert b"0.173 0.243 0.314 rg" in stream
    fill_at = stream.index(b" re f")
    text_at = stream.index(b"/F2 13 Tf")
    assert fill_at < text_at  # background under the glyphs


def test_pdf_flow_widow_orphan_control():
    """Platypus-style pagination fidelity: no paragraph opens with a
    single line at a page bottom (orphan), no split strands the last
    line alone on the next page (widow), and an h2 heading never
    dangles as the last element of a page (keep-with-next)."""
    from shippai_knowledge_etl_spark.sources.pdf_writer import (
        LEAD_FACTOR,
        PARA_SIZE,
        TENTH_MM_TO_PT,
        flow_pages,
    )

    lead = (LEAD_FACTOR * PARA_SIZE) / TENTH_MM_TO_PT
    mk = lambda n: "\n".join(f"行{i}" for i in range(n))  # noqa: E731

    # widow: room for 5.5 leads, a 6-line para must split 4+2, not 5+1
    page_h = 300 + 5.5 * lead
    pages = flow_pages(
        [{"op": "para", "x": 100, "y": 0, "w": 1900.0, "label": mk(6)}],
        2100,
        page_h,
    )
    frags = [
        len(r["label"].split("\n"))
        for p in pages
        for r in p["ops"]
        if r["op"] == "para"
    ]
    assert frags == [4, 2], frags

    # orphan: 5 lines then a 3-line para with ~1.5 leads left — the
    # whole second paragraph moves to page 2
    page_h = 300 + 6.5 * lead
    pages = flow_pages(
        [
            {"op": "para", "x": 100, "y": 0, "w": 1900.0, "label": mk(5)},
            {"op": "para", "x": 100, "y": 0, "w": 1900.0, "label": mk(3)},
        ],
        2100,
        page_h,
    )
    assert len(pages) == 2
    assert [len(r["label"].split("\n")) for r in pages[1]["ops"]] == [3]

    # keep-with-next: a heading with no room for itself + one body
    # line breaks to page 2 together with its paragraph
    pages = flow_pages(
        [
            {"op": "para", "x": 100, "y": 0, "w": 1900.0, "label": mk(6)},
            {"op": "h2", "x": 100, "y": 0, "w": 1900.0, "label": "原因"},
            {"op": "para", "x": 100, "y": 0, "w": 1900.0, "label": mk(2)},
        ],
        2100,
        page_h,
    )
    assert len(pages) == 2
    assert [r["op"] for r in pages[1]["ops"]] == ["h2", "para"]
    for p in pages:  # a heading is never the last op on its page
        assert p["ops"][-1]["op"] != "h2"


def test_anchor_list_parser_edge_cases():
    from shippai_knowledge_etl_spark.sources.html_parse import parse_list_page

    html = (
        '<ul><li><a href="/cf/out.html">out</a></li></ul>'  # not list_all
        '<ul class="menu list_all"><li><a href="a.html">A</a></li>'
        '<ul><li><a href="b.html">B</a></li></ul>'  # nested in target
        '<li><a href="c.html">C</a></li></ul>'
        '<a href="/cf/stray.html">stray</a>'  # outside any list
    )
    assert parse_list_page(html) == [
        (0, "a.html", "A"),
        (1, "b.html", "B"),
        (2, "c.html", "C"),
    ]
    assert parse_list_page("") == []
    assert parse_list_page('<ul class="list_all"></ul>') == []


def test_html_parser_edge_cases(spark):
    from shippai_knowledge_etl_spark.sources.html_parse import parse_page

    rows = parse_page(
        '<table><tr><td bgcolor="#DFE9F2">名称</td><td>A<br>B</td></tr>'
        "<tr><td>only-one-td</td></tr>"
        '<tr><td bgcolor="#dfe9f2">リンク</td>'
        '<td><a href="/mf/x.jpg">img</a> cap</td></tr></table>'
    )
    assert rows[0][1] == "名称" and rows[0][2] == "A\nB"
    assert len(rows) == 2  # single-td row dropped (needs >= 2 tds)
    assert rows[1][4] == "/mf/x.jpg"


def test_case_parser_recovers_unclosed_anchor():
    # the legacy site the reference scrapes has malformed pages; bs4
    # auto-recovers an <a> with a missing end tag, so our parser must
    # too: implicit close at the next anchor or cell/row boundary
    from shippai_knowledge_etl_spark.sources.html_parse import (
        _CasePageParser,
    )

    html = (
        "<table>"
        '<tr><td bgcolor="#DFE9F2">シナリオ</td>'
        '<td><a href="../sf/SC001.html">シナリオ表示</td></tr>'  # no </a>
        '<tr><td bgcolor="#DFE9F2">マルチメディアファイル</td>'
        '<td><a href="../mf/MA1.jpg">図1<a href="../mf/MA2.jpg">図2</a>'
        "</td></tr>"  # first anchor closed implicitly by the second
        "</table>"
    )
    p = _CasePageParser()
    p.feed(html)
    p.close()
    assert p.scenario_row_href == "../sf/SC001.html"
    assert ("../mf/MA1.jpg", "図1") in p.mf_links
    assert ("../mf/MA2.jpg", "図2") in p.mf_links
