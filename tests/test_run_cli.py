"""End-to-end CLI test: the reference's run.py workflow against a
loopback HTTP site — list-page expansion, fetch fan-out, full nested
case-record assembly (scenario sub-page, images struct, casualties,
normalized date), validation, per-case JSON naming contract, streamed
manifest sequencing, PDF emission, and the empty-worklist exit code."""

from __future__ import annotations

import json
import re
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

CASE_OK = """
<html><table>
<tr><td bgcolor="#DFE9F2">事例名称</td><td>タンク爆発</td></tr>
<tr><td bgcolor="#DFE9F2">事例発生日付</td><td>1990年6月2日</td></tr>
<tr><td bgcolor="#DFE9F2">事例発生地</td><td>川崎市</td></tr>
<tr><td bgcolor="#DFE9F2">事例発生場所</td><td>化学工場</td></tr>
<tr><td bgcolor="#DFE9F2">代表図</td><td><img src="../df/DZ001.jpg"></td></tr>
<tr><td bgcolor="#DFE9F2">事例概要</td><td>summary text</td></tr>
<tr><td bgcolor="#DFE9F2">事象</td><td>phenomenon text</td></tr>
<tr><td bgcolor="#DFE9F2">経過</td><td>process line 1<br>process line 2<br><br>para 2</td></tr>
<tr><td bgcolor="#DFE9F2">原因</td><td>cause text</td></tr>
<tr><td bgcolor="#DFE9F2">対処</td><td>response text</td></tr>
<tr><td bgcolor="#DFE9F2">対策</td><td>fix text</td></tr>
<tr><td bgcolor="#DFE9F2">知識化</td><td>・知識その一<br>・知識その二</td></tr>
<tr><td bgcolor="#DFE9F2">背景</td><td>background text</td></tr>
<tr><td bgcolor="#DFE9F2">シナリオ</td><td><a href="../sf/SA0000001.html">シナリオ表示</a></td></tr>
<tr><td bgcolor="#DFE9F2" rowspan="2">マルチメディアファイル</td>
    <td><a href="../mf/MA1.jpg">写真1</a></td></tr>
<tr><td><a href="../mf/MA2.jpg">写真2</a></td></tr>
<tr><td bgcolor="#DFE9F2">情報源</td><td>source one<br>失敗知識DB http://example.com/ref.html</td></tr>
<tr><td bgcolor="#DFE9F2">死者数</td><td>0名</td></tr>
<tr><td bgcolor="#DFE9F2">負傷者数</td><td>2名</td></tr>
<tr><td bgcolor="#DFE9F2">被害金額</td><td>1億円</td></tr>
<tr><td bgcolor="#DFE9F2">社会への影響</td><td>impact text</td></tr>
<tr><td bgcolor="#DFE9F2">備考</td><td>notes text</td></tr>
<tr><td bgcolor="#DFE9F2">分野</td><td>化学物質</td></tr>
<tr><td bgcolor="#DFE9F2">データ作成者</td><td>山田&nbsp;太郎<br>佐藤&nbsp;花子</td></tr>
<tr><td bgcolor="#FFFFFF">無視</td><td>not a label cell</td></tr>
</table></html>
"""

# the diagonal-diagram page: 9 numbered items (listed out of order to
# exercise the O1 sort), double separator lines after items 3 and 6
# (spacer widths 15 and 35 → F19 decodes boundaries 3 and 6), one
# single line that must NOT create a category boundary
SCENARIO_PAGE = """
<html><table><tr><td valign="top" width="60%">
<table>
<tr><td><b>2.</b></td><td> </td><td>腐食</td></tr>
<tr><td><b>1.</b></td><td> </td><td>組織運営不良</td></tr>
<tr><td><b>3.</b></td><td> </td><td>管理不良</td></tr>
<tr><td><img src="img/space.gif" width="15"><img src="img/sinario_line_2.gif"></td></tr>
<tr><td><b>4.</b></td><td> </td><td>定常操作</td></tr>
<tr><td><b>5.</b></td><td> </td><td>誤操作</td></tr>
<tr><td><img src="img/space.gif" width="25"><img src="img/sinario_line_1.gif"></td></tr>
<tr><td><b>6.</b></td><td> </td><td>破損</td></tr>
<tr><td><img src="img/space.gif" width="35"><img src="img/sinario_line_2.gif"></td></tr>
<tr><td><b>7.</b></td><td> </td><td>二次災害</td></tr>
<tr><td><b>8.</b></td><td> </td><td>損壊</td></tr>
<tr><td><b>9.</b></td><td> </td><td>環境破壊</td></tr>
</table>
</td><td width="40%">right pane decoy <b>99.</b></td></tr></table></html>
"""

# 原因 missing → excluded (scenario link present so only 原因 is missing)
CASE_MISSING = """
<html><table>
<tr><td bgcolor="#DFE9F2">事例名称</td><td>name only</td></tr>
<tr><td bgcolor="#DFE9F2">事例概要</td><td>summary</td></tr>
<tr><td bgcolor="#DFE9F2">経過</td><td>process</td></tr>
<tr><td bgcolor="#DFE9F2">対策</td><td>fix</td></tr>
<tr><td bgcolor="#DFE9F2">シナリオ</td><td><a href="../sf/SA0000001.html">シナリオ</a></td></tr>
</table></html>
"""


def _required_case(name: str, tail: str) -> str:
    """A case page with every required text field; ``tail`` is the
    markup that decides its scenario link."""
    return f"""
<html><table>
<tr><td bgcolor="#DFE9F2">事例名称</td><td>{name}</td></tr>
<tr><td bgcolor="#DFE9F2">事例概要</td><td>summary</td></tr>
<tr><td bgcolor="#DFE9F2">経過</td><td>process</td></tr>
<tr><td bgcolor="#DFE9F2">原因</td><td>cause</td></tr>
<tr><td bgcolor="#DFE9F2">対策</td><td>fix</td></tr>
{tail}
</table></html>
"""


# the labeled シナリオ anchor has href="": it still wins over the
# page-wide /sf/ anchor (a null coalesce, not a truthiness test) and
# resolves to the case page itself, which holds no scenario item
CASE_EMPTY_HREF = _required_case(
    "空リンク",
    '<tr><td bgcolor="#DFE9F2">シナリオ</td><td><a href="">シナリオ</a></td></tr>\n'
    '<tr><td>関連</td><td><a href="../sf/SA0000001.html">関連</a></td></tr>',
)
# no labeled シナリオ row: the page-wide /sf/ anchor is the scenario link
CASE_SF_ONLY = _required_case(
    "頁内リンク",
    '<tr><td>関連</td><td><a href="../sf/SA0000001.html">シナリオ図</a></td></tr>',
)
# the labeled scenario link points at a page that 404s
CASE_SCEN_404 = _required_case(
    "シナリオ欠落",
    '<tr><td bgcolor="#DFE9F2">シナリオ</td>'
    '<td><a href="../sf/SA0000404.html">シナリオ</a></td></tr>',
)

LIST_PAGE = """
<html>
<ul class="other"><li><a href="/cf/DECOY.html">decoy</a></li></ul>
<ul class="list_all">
<li><a href="../cf/CA0000001.html">case 1</a></li>
<li><a href="../sf/noise.html">noise</a></li>
<li><a href="../cf/CA0000002.html">case 2</a></li>
<li><a href="../cf/CA0000003.html">case 3 (past limit)</a></li>
</ul></html>
"""


# minimal structurally-valid JPEG (SOI + SOF0 8x4 gray + EOI): enough
# for the emitter's dimension scan + DCTDecode embedding
TINY_JPEG = (
    b"\xff\xd8"
    b"\xff\xc0\x00\x0b\x08\x00\x04\x00\x08\x01\x01\x11\x00"
    b"\xff\xd9"
)


def _big_list(n: int) -> str:
    """A list page of ``n`` case links (``/fkd/lis/big{n}.html``)."""
    items = "".join(
        f'<li><a href="../cf/CB{i:07d}.html">case {i}</a></li>' for i in range(n)
    )
    return f'<html><ul class="list_all">{items}</ul></html>'


class _Site(BaseHTTPRequestHandler):
    hits: Counter = Counter()  # requests per path; the server is single-threaded

    def do_GET(self):
        self.hits[self.path] += 1
        big = re.fullmatch(r"/fkd/lis/big(\d+)\.html", self.path)
        pages = {
            "/fkd/lis/lis1.html": LIST_PAGE,
            "/fkd/cf/CA0000001.html": CASE_OK,
            "/fkd/cf/CA0000002.html": CASE_MISSING,
            "/fkd/sf/SA0000001.html": SCENARIO_PAGE,
            "/fkd/cf/CA0000005.html": CASE_EMPTY_HREF,
            "/fkd/cf/CA0000006.html": CASE_SF_ONLY,
            "/fkd/cf/CA0000007.html": CASE_SCEN_404,
        }
        # a case page that 404s with a body that links a scenario page
        not_found = {"/fkd/cf/CA0000009.html": CASE_SCEN_404}
        images = {
            "/fkd/df/DZ001.jpg": TINY_JPEG,
            "/fkd/mf/MA1.jpg": TINY_JPEG,
            # MA2.jpg intentionally 404s → placeholder text in the PDF
        }
        if self.path in images:
            self.send_response(200)
            self.send_header("Content-Type", "image/jpeg")
            self.end_headers()
            self.wfile.write(images[self.path])
            return
        body = _big_list(int(big.group(1))) if big else pages.get(self.path)
        status = 200
        if body is None and self.path in not_found:
            status, body = 404, not_found[self.path]
        if body is None:
            self.send_error(404)
            return
        self.send_response(status)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.end_headers()
        self.wfile.write(body.encode("utf-8"))

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def site():
    srv = HTTPServer(("127.0.0.1", 0), _Site)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/fkd"
    srv.shutdown()


@pytest.mark.slow
def test_cli_end_to_end(spark, site, tmp_path):
    from shippai_knowledge_etl_spark.run import main

    out = tmp_path / "data"
    rc = main(
        [
            f"{site}/lis/lis1.html",
            f"{site}/cf/CA0000404.html",  # 404 → status error
            f"{site}/xx/unknown.html",  # warn + skip
            "--limit", "2",  # CA0000003 dropped by the per-list limit
            "--output-dir", str(out),
            "--pdf",
        ]
    )
    assert rc == 0

    # success artifacts: naming contract + the FULL nested case record
    # per requirements.md:107-142
    case_json = out / "CA0000001_タンク爆発.json"
    assert case_json.exists(), sorted(p.name for p in out.iterdir())
    doc = json.loads(case_json.read_text(encoding="utf-8"))
    assert doc["case_id"] == "CA0000001"
    assert doc["case_name"] == "タンク爆発"
    assert doc["url"].endswith("/fkd/cf/CA0000001.html")
    assert doc["date"] == "1990-06-02"  # F1 normalized
    assert doc["location"] == "川崎市"
    assert doc["facility"] == "化学工場"
    assert doc["summary"] == "summary text"
    assert doc["phenomenon"] == "phenomenon text"
    # get_html_text: line breaks kept, blank-line runs = paragraph break
    assert doc["process"] == "process line 1\nprocess line 2\n\npara 2"
    assert doc["cause"] == "cause text"
    assert doc["response"] == "response text"
    assert doc["countermeasure"] == "fix text"
    assert doc["knowledge"] == ["知識その一", "知識その二"]  # F6 bullets
    assert doc["background"] == "background text"
    # scenario: O1 sort → F19 boundaries (3, 6) → W2 slice → W1 chunk3
    assert doc["scenario"] == {
        "cause": [["組織運営不良", "腐食", "管理不良"]],
        "action": [["定常操作", "誤操作", "破損"]],
        "result": [["二次災害", "損壊", "環境破壊"]],
    }
    # images struct: representative basename + deduped multimedia ids
    assert doc["images"] == {
        "representative": "DZ001.jpg",
        "multimedia": [
            {"id": "MA1", "caption": "写真1"},
            {"id": "MA2", "caption": "写真2"},
        ],
    }
    assert doc["sources"] == ["source one", "失敗知識DB http://example.com/ref.html"]
    assert doc["casualties"] == {"deaths": 0, "injuries": 2}  # F2
    assert doc["financial_damage"] == "1億円"
    assert doc["social_impact"] == "impact text"
    assert doc["notes"] == "notes text"
    assert doc["field"] == "化学物質"
    assert doc["authors"] == ["山田 太郎", "佐藤 花子"]  # F8 nbsp → space
    # contract key order (requirements.md:107-142)
    assert list(doc) == [
        "case_id", "case_name", "url", "date", "location", "facility",
        "summary", "phenomenon", "process", "cause", "response",
        "countermeasure", "knowledge", "background", "scenario", "images",
        "sources", "casualties", "financial_damage", "social_impact",
        "notes", "field", "authors",
    ]
    # composite PDF: flowed prose pages (title, fields, representative
    # image, full-length sections, sources, casualties), then the
    # diagonal diagram page, then one multimedia page per image
    pdf = (out / "CA0000001.pdf").read_bytes()
    assert pdf.startswith(b"%PDF-1.4")
    m = re.search(rb"/Count (\d+)", pdf)
    n_pages = int(m.group(1))
    # ≥2 flow pages (fields + image + sections overflow one A4) +
    # diagram + MA1 + MA2
    assert n_pages >= 5, n_pages
    # title rendered in the CID CJK font (UTF-16BE hex string)
    assert "タンク爆発".encode("utf-16-be").hex().encode() in pdf
    # full section text flows (no 120-char truncation): every prose
    # field and the trailing labeled fields render
    for frag in ("背景", "知識その二", "被害情報", "死者数：0", "分野：化学物質"):
        assert frag.encode("utf-16-be").hex().encode() in pdf, frag
    assert pdf.count(b"/Subtype /Image") == 2  # DZ001 + MA1 embedded
    assert b"/Filter /DCTDecode" in pdf
    # the source URL renders as a live hyperlink: blue underline in the
    # content stream + a /Annots /URI rect (reference
    # src/render_pdf.py:423-435)
    assert b"/Subtype /Link" in pdf
    assert b"/S /URI /URI (http://example.com/ref.html)" in pdf
    assert b"0 0 1 rg" in pdf  # link text drawn blue
    # MA2.jpg 404s → the reference's failure-placeholder text
    ph = "[画像読み込みエラー: 写真2]".encode("utf-16-be").hex().encode()
    assert ph in pdf
    # JP_H2 section headings draw their #ecf0f1 background fill
    # (reference src/render_pdf.py:43-53); this case renders 11 H2
    # sections (代表図, 8 prose, 情報源, 被害情報)
    n_h2 = pdf.count(b"0.925 0.941 0.945 rg")
    assert n_h2 == 11, n_h2
    # diagram geometry: 9 item bars + the H2 background fills
    assert pdf.count(b" re f") == 9 + n_h2
    # 2 category-end doubles (±4 pairs) + 3 braces (the single-line
    # separator coincides with a category boundary so adds nothing)
    # + 1 hyperlink underline on the flow pages
    assert pdf.count(b" l S") == 8

    # manifest: sequencing + summary + per-status payloads (entries
    # streamed from the distributed write — reference src/run.py:95-132)
    manifest = json.loads((out / "results_001.json").read_text("utf-8"))
    assert manifest["summary"] == {
        "total": 3, "n_success": 1, "n_excluded": 1, "n_error": 1,
    }
    assert not (out / ".manifest_entries").exists()  # temp dir cleaned
    # argv order: the list's links in page order, then the direct URL
    # (reference src/run.py:66-77 appends cases in argv order)
    assert [c["url"].rsplit("/", 1)[-1] for c in manifest["cases"]] == [
        "CA0000001.html", "CA0000002.html", "CA0000404.html",
    ]
    by_url = {c["url"].rsplit("/", 1)[-1]: c for c in manifest["cases"]}
    ok = by_url["CA0000001.html"]
    assert ok["case_id"] == "CA0000001"
    assert ok["case_name"] == "タンク爆発"
    assert ok["status"] == "success"
    assert ok["outputs"] == ["CA0000001_タンク爆発.json", "CA0000001.pdf"]
    excl = by_url["CA0000002.html"]
    assert excl["status"] == "excluded"
    assert excl["missing_fields"] == ["原因"]  # the reference's HTML label
    err = by_url["CA0000404.html"]
    assert err["status"] == "error"
    assert "404" in err["message"]
    assert "case_id" not in err  # error entries carry url/status/message only

    # second run appends the sequence, never overwrites
    assert main([f"{site}/cf/CA0000001.html", "--output-dir", str(out)]) == 0
    results2 = json.loads((out / "results_002.json").read_text("utf-8"))
    assert results2["cases"][0]["outputs"] == ["CA0000001_タンク爆発.json"]


def test_cli_empty_worklist_exits_1(spark, tmp_path):
    from shippai_knowledge_etl_spark.run import main

    assert main(["http://x/unknown/route.html",
                 "--output-dir", str(tmp_path)]) == 1


def _job_count(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through the job group ``group``
    on the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_expand_worklist_spreads_rows_in_argv_order(spark, site):
    """The worklist comes back spread over defaultParallelism partitions
    (sizes within one of each other) and ordered by (argv position,
    link position) — direct URLs on both sides of a list page."""
    from shippai_knowledge_etl_spark.run import expand_worklist

    par = spark.sparkContext.defaultParallelism
    n = par * 4 + 3
    argv = [f"{site}/cf/CA0000001.html", f"{site}/lis/big{n}.html",
            f"{site}/cf/CA0000002.html"]
    worklist = expand_worklist(argv, None)

    sizes = worklist.rdd.glom().map(len).collect()
    rows = n + 2
    assert sum(s > 0 for s in sizes) == min(rows, par), sizes
    assert max(sizes) - min(s for s in sizes if s > 0) <= 1, sizes
    urls = [r.case_url for r in sorted(worklist.collect(), key=lambda r: r.seq)]
    assert urls == (
        [argv[0]] + [f"{site}/cf/CB{i:07d}.html" for i in range(n)] + [argv[2]]
    )


def test_expand_worklist_warnings(spark, site, capsys):
    """Unrecognized URLs and failed list fetches warn on stderr with the
    reference-facing text; a 404 list page expands to zero cases, and
    an argv with no case URL left gives no worklist."""
    from shippai_knowledge_etl_spark.run import expand_worklist

    unknown = f"{site}/xx/unknown.html"
    missing = f"{site}/lis/missing.html"
    assert expand_worklist([unknown, missing], None) is None
    warned = [ln for ln in capsys.readouterr().err.splitlines()
              if ln.startswith("warning: ")]
    assert warned == [
        f"warning: unrecognized URL pattern, skipping: {unknown}",
        f"warning: list page fetch failed (http 404), 0 cases expanded: {missing}",
    ]

    # at most 100 lines per kind, then one summary line
    expand_worklist([f"http://x/{i}.html" for i in range(101)], None)
    warned = [ln for ln in capsys.readouterr().err.splitlines()
              if ln.startswith("warning: ")]
    assert len(warned) == 101
    assert warned[-1] == "warning: ... and 1 more unrecognized URLs"


def test_expand_worklist_job_count(spark, site):
    """Routing, list-page fetch and link parsing stay on the driver:
    neither direct URLs nor a list page run a Spark job."""
    from shippai_knowledge_etl_spark.run import expand_worklist

    direct = [f"{site}/cf/CA0000001.html", f"{site}/cf/CA0000002.html"]
    n_direct = _job_count(
        spark, "expand-direct", lambda: expand_worklist(direct, None)
    )
    assert n_direct == 0
    n_list = _job_count(
        spark, "expand-list",
        lambda: expand_worklist([f"{site}/lis/lis1.html"], None),
    )
    assert n_list == 0, n_list


def test_main_unrecognized_argv_runs_no_job(spark, tmp_path):
    """An argv whose URLs are all skipped exits 1 before any Spark job."""
    from shippai_knowledge_etl_spark.run import main

    argv = ["http://x/unknown/route.html", "http://x/other.html",
            "--output-dir", str(tmp_path)]
    rc = []
    assert _job_count(spark, "main-empty", lambda: rc.append(main(argv))) == 0
    assert rc == [1]


def test_main_routes_before_the_session(site, tmp_path, monkeypatch, capsys):
    """argv routing comes first: an argv that routes to no case URL
    (an unknown route, or a list page under ``--limit 0``) exits 1
    without asking for a Spark session."""
    from shippai_knowledge_etl_spark import session
    from shippai_knowledge_etl_spark.run import main

    def no_session(*_args, **_kwargs):
        raise AssertionError("get_spark called for an empty worklist")

    monkeypatch.setattr(session, "get_spark", no_session)
    out = ["--output-dir", str(tmp_path)]
    for argv in (
        ["http://x/unknown/route.html"],
        [f"{site}/lis/lis1.html", "--limit", "0"],
    ):
        assert main(argv + out) == 1
        assert "error: empty worklist" in capsys.readouterr().err


@pytest.mark.parametrize("limit,cases", [("-1", None), ("0", 0)])
def test_limit_must_not_be_negative(spark, site, tmp_path, capsys, limit, cases):
    """``--limit -1`` is a usage error (exit 2); ``--limit 0`` expands no
    case from a list page, so a list-only argv has an empty worklist."""
    from shippai_knowledge_etl_spark.run import main

    argv = [f"{site}/lis/lis1.html", "--limit", limit, "--output-dir", str(tmp_path)]
    if cases is None:
        with pytest.raises(SystemExit) as e:
            main(argv)
        assert e.value.code == 2
        assert "--limit" in capsys.readouterr().err
    else:
        assert main(argv) == 1
        assert "error: empty worklist" in capsys.readouterr().err


@pytest.fixture(scope="module")
def pdf_run(spark, site, tmp_path_factory):
    """One ``main --pdf`` call over ``lis1`` (limit 2): the frames handed
    to the JSON and PDF sinks, and the site's requests per path."""
    from shippai_knowledge_etl_spark.run import main
    from shippai_knowledge_etl_spark.sources import sinks

    frames = {}

    def capture(name):
        sink = getattr(sinks, name)

        def wrapper(df, out_dir):
            frames[name] = df
            return sink(df, out_dir)
        return wrapper

    _Site.hits.clear()
    with pytest.MonkeyPatch.context() as mp:
        for name in ("write_cases_json_named", "render_pdf_sink"):
            mp.setattr(sinks, name, capture(name))
        out = tmp_path_factory.mktemp("pdf_run")
        rc = main([f"{site}/lis/lis1.html", "--limit", "2",
                   "--output-dir", str(out), "--pdf"])
    assert rc == 0
    return frames, dict(_Site.hits)


@pytest.mark.slow
def test_sinks_plan_over_checkpointed_records(pdf_run):
    """The records are checkpointed before any sink: the sink frames'
    analyzed plans carry no fetch or parse UDF, so the driver plans them
    over a one-node leaf and no page can be re-fetched through lineage."""
    frames, _ = pdf_run
    assert set(frames) == {"write_cases_json_named", "render_pdf_sink"}
    for name, df in frames.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        for udf in ("fetch_html", "fetch_case_pages", "case_page_facets",
                    "scenario_page_facts"):
            assert udf not in plan, (name, udf)


@pytest.mark.slow
def test_each_page_fetched_once(pdf_run):
    """One call requests every page and image once (the list page too,
    fetched on the driver); the scenario page both cases link is
    requested once per linking case."""
    _, hits = pdf_run
    assert hits["/fkd/lis/lis1.html"] == 1
    assert hits == {
        "/fkd/lis/lis1.html": 1,
        "/fkd/cf/CA0000001.html": 1,
        "/fkd/cf/CA0000002.html": 1,
        "/fkd/sf/SA0000001.html": 2,
        "/fkd/df/DZ001.jpg": 1,
        "/fkd/mf/MA1.jpg": 1,
        "/fkd/mf/MA2.jpg": 1,
    }


def test_case_edge_is_one_python_evaluation(spark, site):
    """Each case crosses the Python boundary once: the executed plan of
    ``process_cases`` holds one ArrowEvalPython (the fused case and
    scenario fetch-and-parse edge) under one Generate barrier. Chained
    fetch and parse UDFs would each add a node, and each node holds its
    own Python worker per running task."""
    from shippai_knowledge_etl_spark.run import expand_worklist, process_cases

    df = process_cases(expand_worklist([f"{site}/cf/CA0000001.html"], None))
    assert df.select("status").collect()[0].status == "success"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1, plan
    assert len(re.findall(r"\bGenerate\b", plan)) == 1, plan
    assert "fetch_case_pages" in plan, plan


@pytest.mark.slow
def test_case_edge_scenario_link_semantics(spark, site, tmp_path):
    """The scenario decisions the case edge makes per case:

    - a labeled シナリオ anchor with ``href=""`` beats the page-wide
      ``/sf/`` anchor and resolves to the case page itself, so the
      scenario is empty and the case is excluded for シナリオ;
    - with no labeled link, the page-wide ``/sf/`` anchor is used;
    - a scenario page that 404s makes the case an error ``http 404``;
    - a case page that 404s is an error with its own message, and the
      scenario link in its error body is never fetched."""
    from shippai_knowledge_etl_spark.run import main

    ids = ["CA0000005", "CA0000006", "CA0000007", "CA0000009"]
    urls = [f"{site}/cf/{i}.html" for i in ids]
    out = tmp_path / "data"
    _Site.hits.clear()
    assert main(urls + ["--output-dir", str(out)]) == 0

    assert dict(_Site.hits) == {
        "/fkd/cf/CA0000005.html": 2,  # once as the case, once as its scenario
        "/fkd/cf/CA0000006.html": 1,
        "/fkd/sf/SA0000001.html": 1,
        "/fkd/cf/CA0000007.html": 1,
        "/fkd/sf/SA0000404.html": 1,
        "/fkd/cf/CA0000009.html": 1,
    }
    manifest = json.loads((out / "results_001.json").read_text("utf-8"))
    assert manifest["summary"] == {
        "total": 4, "n_success": 1, "n_excluded": 1, "n_error": 2,
    }
    assert manifest["cases"] == [
        {"case_id": "CA0000005", "case_name": "空リンク", "url": urls[0],
         "status": "excluded", "missing_fields": ["シナリオ"]},
        {"case_id": "CA0000006", "case_name": "頁内リンク", "url": urls[1],
         "status": "success", "outputs": ["CA0000006_頁内リンク.json"]},
        {"url": urls[2], "status": "error", "message": "http 404"},
        {"url": urls[3], "status": "error", "message": "http 404"},
    ]
    assert sorted(p.name for p in out.iterdir()) == [
        "CA0000006_頁内リンク.json", "results_001.json",
    ]
    doc = json.loads((out / "CA0000006_頁内リンク.json").read_text("utf-8"))
    assert doc["case_name"] == "頁内リンク"
    assert doc["scenario"] == {
        "cause": [["組織運営不良", "腐食", "管理不良"]],
        "action": [["定常操作", "誤操作", "破損"]],
        "result": [["二次災害", "損壊", "環境破壊"]],
    }


def test_engine_session_skips_call_site_capture(spark, monkeypatch):
    """PySpark's call-site capture costs about 10 py4j round trips per
    Column or functions call, seconds of driver time per CLI call;
    ENGINE_CONF turns it off. Clearing the module's cache makes the
    check read the session conf."""
    from pyspark.errors import utils

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False


def test_manifest_failure_removes_entries_dir(spark, site, tmp_path, monkeypatch):
    """A manifest write that raises still removes the temporary
    ``.manifest_entries`` directory."""
    from shippai_knowledge_etl_spark.run import main
    from shippai_knowledge_etl_spark.sources import sinks

    def fail(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(sinks, "write_manifest_streamed", fail)
    out = tmp_path / "data"
    with pytest.raises(OSError, match="disk full"):
        main([f"{site}/cf/CA0000001.html", "--output-dir", str(out)])
    assert (out / "CA0000001_タンク爆発.json").exists()
    assert not (out / ".manifest_entries").exists()
