"""Seeded failure-knowledge site: every case starts as the record the
pipeline should produce and is rendered from it to a case page, a
scenario page, a list-page anchor and JPEG bytes.

``build_site(seed, n_cases)`` is pure: the benchmark process calls it to
know what to expect, and the server process (``python3 perfbench/sitegen.py
--seed S --cases N``) calls it again with the same arguments to serve the
same bytes. The server keeps every page in memory, answers from a pool of
at most ``--threads`` threads and counts requests, repeated paths, bytes
and busy time; ``GET /__stats`` returns the counts since the last
``GET /__reset``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import struct
import sys
import threading
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, HTTPServer

PREFIX = "/fkd"
LABEL_BG = "#DFE9F2"

# required fields: HTML label -> record key, in the pipeline's
# missing_fields order
REQUIRED = (
    ("事例概要", "summary"),
    ("経過", "process"),
    ("原因", "cause"),
    ("対策", "countermeasure"),
    ("シナリオ", "scenario"),
)

_WORDS = (
    "配管 腐食 亀裂 漏洩 反応槽 温度 圧力 上昇 作業員 点検 手順 確認 不足 "
    "弁 開放 閉止 誤操作 設計 変更 管理 体制 教育 訓練 火災 爆発 停電 "
    "冷却水 供給 停止 異常 検知 遅れ 警報 無視 溶接 疲労 破断 振動 "
    "計装 故障 保守 記録 伝達 連絡 夜間 交代 運転 再開 原料 混入 "
    "静電気 着火 換気 不良 残留 ガス 酸欠 墜落 足場 崩落 地盤 沈下"
).split()
_SCENARIO_TERMS = (
    "組織運営不良 価値観不良 管理不良 調査検討の不足 環境変化への対応不良 "
    "定常操作 非定常操作 誤操作 誤判断 手順の不遵守 連絡不足 使用 破損 "
    "腐食 劣化 漏洩 火災 爆発 身体的被害 二次災害 損壊 環境破壊 "
    "社会的損失 経済的損失 信用失墜"
).split()
_PLACES = "川崎市 横浜市 大阪府堺市 北九州市 千葉県市原市 岡山県倉敷市 富山市 名古屋市".split()
_FACILITIES = "化学工場 石油精製所 発電所 製鉄所 倉庫 研究所 建設現場 浄水場".split()
_FIELDS = "化学物質 機械 建設 電気 材料 原子力 食品 医療".split()
_NAMES = "山田 佐藤 鈴木 高橋 田中 伊藤 渡辺 中村 小林 加藤".split()
_GIVEN = "太郎 花子 一郎 次郎 美咲 健 翔 葵".split()


def _phrase(rng: random.Random, lo: int, hi: int) -> str:
    """Prose with no ASCII whitespace, no '・' and no leading digit, so
    every trimming and list-dispatch rule leaves it unchanged."""
    words = [rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))]
    out = []
    for i, w in enumerate(words):
        out.append(w)
        if i + 1 < len(words):
            out.append(rng.choice(("の", "が", "を", "、", "により", "で")))
    return "".join(out) + "。"


def _paragraphs(rng: random.Random, max_paras: int, max_lines: int, max_words: int):
    """(expected text, value HTML): lines joined by <br>, paragraphs by
    a run of 2-3 <br> that the pipeline squeezes to one blank line."""
    paras = [
        [_phrase(rng, 2, max_words) for _ in range(rng.randint(1, max_lines))]
        for _ in range(rng.randint(1, max_paras))
    ]
    text = "\n\n".join("\n".join(p) for p in paras)
    html = "".join(
        (("<br>" * rng.randint(2, 3)) if i else "") + "<br>".join(p)
        for i, p in enumerate(paras)
    )
    return text, html


def _knowledge(rng: random.Random, max_words: int):
    """(expected items, value HTML) in one of the three list formats;
    bullet and numbered items may continue on a second line, which the
    pipeline appends to the item with no separator."""
    kind = rng.choice(("bullet", "numbered", "single", "none"))
    if kind == "none":
        return [], None
    if kind == "single":
        item = _phrase(rng, 2, max_words)
        return [item], item
    items, lines = [], []
    for i in range(rng.randint(1, 4)):
        head = _phrase(rng, 2, max_words)
        tail = _phrase(rng, 1, 3) if rng.random() < 0.3 else ""
        items.append(head + tail)
        marker = "・" if kind == "bullet" else rng.choice((f"{i + 1}．", f"{i + 1}."))
        lines.append(marker + head)
        if tail:
            lines.append(tail)
    return items, "<br>".join(lines)


def _chunk3(xs: list) -> list:
    return [xs[i:i + 3] for i in range(0, len(xs), 3)]


def _scenario(rng: random.Random, n: int):
    """(expected scenario, scenario page HTML) for ``n`` items. Double
    separator lines encode category boundaries in their spacer width
    (boundary = ((width - 15) // 20 + 1) * 3); single lines carry no
    boundary. Items are listed out of ordinal order."""
    items = [rng.choice(_SCENARIO_TERMS) for _ in range(n)]
    cuts = [b for b in range(3, n, 3)]
    n_doubles = min(len(cuts), rng.choice((0, 1, 2, 2, 2)))
    bounds = sorted(rng.sample(cuts, n_doubles))
    if len(bounds) >= 2:
        cats = (items[:bounds[0]], items[bounds[0]:bounds[1]], items[bounds[1]:])
    elif len(bounds) == 1:
        cats = (items[:bounds[0]], [], items[bounds[0]:])
    else:
        cats = (items, [], [])
    expected = {k: _chunk3(v) for k, v in zip(("cause", "action", "result"), cats)}

    rows = [
        f'<tr><td><b>{i + 1}.</b></td><td> </td><td>{t}</td></tr>'
        for i, t in enumerate(items)
    ]
    rng.shuffle(rows)
    for b in bounds:
        w = 15 + 20 * (b // 3 - 1) + rng.randint(0, 19)
        rows.insert(
            rng.randint(0, len(rows)),
            f'<tr><td><img src="img/space.gif" width="{w}">'
            '<img src="img/sinario_line_2.gif"></td></tr>',
        )
    for _ in range(rng.randint(0, 2)):
        rows.insert(
            rng.randint(0, len(rows)),
            f'<tr><td><img src="img/space.gif" width="{rng.randint(15, 95)}">'
            '<img src="img/sinario_line_1.gif"></td></tr>',
        )
    html = (
        '<html><table><tr><td valign="top" width="60%">\n<table>\n'
        + "\n".join(rows)
        + '\n</table>\n</td><td width="40%">凡例 <b>99.</b></td></tr></table></html>\n'
    )
    return expected, html


_FILLER = bytes((i * 7 + 1) % 251 for i in range(65533))


def jpeg_bytes(width: int, height: int, size: int) -> bytes:
    """A structurally valid baseline JPEG header (SOI, COM filler, SOF0,
    EOI) of exactly ``size`` bytes: enough for the PDF emitter's
    dimension scan and DCTDecode embedding, no image library needed."""
    sof = b"\xff\xc0\x00\x0b\x08" + struct.pack(">HH", height, width) + b"\x01\x01\x11\x00"
    n = min(len(_FILLER), max(0, size - 2 - 4 - len(sof) - 2))  # SOI, COM header, SOF0, EOI
    com = b"\xff\xfe" + struct.pack(">H", n + 2) + _FILLER[:n]
    return b"\xff\xd8" + com + sof + b"\xff\xd9"


@dataclass
class Case:
    case_id: str
    status: str  # success | excluded | error
    record: dict  # the expected JSON document, "url" filled by the caller
    missing: list = field(default_factory=list)
    rep: str | None = None  # representative image file name; always served
    multimedia: list = field(default_factory=list)  # [(id, caption, served?)]
    has_scenario_page: bool = False


@dataclass
class Site:
    cases: list  # worklist order
    argv_paths: list  # run.main URL arguments, relative to the site root
    pages: dict  # path -> bytes
    images: dict  # path -> (width, height, size)


def _deal(rng: random.Random, n: int, values) -> Iterator:
    """``n`` draws that take every value in ``values`` equally often, in
    seeded order: per-case properties vary while the totals a run's
    cost depends on stay nearly the same from seed to seed."""
    values = list(values)
    out = [values[i % len(values)] for i in range(n)]
    rng.shuffle(out)
    return iter(out)


def _case(rng: random.Random, case_id: str, draw: dict, pages: dict, images: dict) -> Case:
    status = next(draw["status"])
    rec: dict = {"case_id": case_id}
    name = rng.choice(_FACILITIES) + "の" + rng.choice(_WORDS) + rng.choice(("事故", "爆発", "火災", "漏洩"))
    rec["case_name"] = name
    rec["url"] = None
    rows: list[tuple[str, str]] = [("事例名称", name)]

    y, m, d = rng.randint(1950, 2015), rng.randint(1, 12), rng.randint(1, 28)
    if rng.random() < 0.85:
        rec["date"] = f"{y}-{m:02d}-{d:02d}"
        rows.append(("事例発生日付", f"{y}年{m}月{d}日"))
    else:
        rec["date"] = f"{y}年頃"
        rows.append(("事例発生日付", f"{y}年頃"))
    rec["location"] = rng.choice(_PLACES)
    rec["facility"] = rng.choice(_FACILITIES)
    rows += [("事例発生地", rec["location"]), ("事例発生場所", rec["facility"])]

    rep = None
    if next(draw["rep"]):
        rep = f"DZ{case_id[2:]}.jpg"
        rows.append(("代表図", f'<img src="../df/{rep}">'))
        images[f"{PREFIX}/df/{rep}"] = (rng.randint(8, 640), rng.randint(8, 480), next(draw["size"]))

    summary_lines = [_phrase(rng, 3, 12) for _ in range(rng.randint(1, 2))]
    rec["summary"] = "".join(summary_lines)
    rows.append(("事例概要", "<br>".join(summary_lines)))
    rec["phenomenon"] = _phrase(rng, 2, 6)
    rows.append(("事象", rec["phenomenon"]))
    for key, label in (("process", "経過"), ("cause", "原因"), ("response", "対処"),
                       ("countermeasure", "対策")):
        rec[key], html = _paragraphs(rng, 3, 3, 14)
        rows.append((label, html))
    rec["knowledge"], k_html = _knowledge(rng, 10)
    if k_html is not None:
        rows.append(("知識化", k_html))
    rec["background"], html = _paragraphs(rng, 2, 2, 10)
    rows.append(("背景", html))

    sid = f"SA{case_id[2:]}"
    rec["scenario"], scen_html = _scenario(rng, next(draw["items"]))
    rows.append(("シナリオ", f'<a href="../sf/{sid}.html">シナリオ表示</a>'))

    mm = []
    for k in range(next(draw["mm"])):
        mid, cap = f"M{case_id[2:]}_{k + 1}", f"写真{k + 1}"
        served = next(draw["served"])
        mm.append((mid, cap, served))
        if served:
            images[f"{PREFIX}/mf/{mid}.jpg"] = (rng.randint(8, 1024), rng.randint(8, 768), next(draw["size"]))
    rec["images"] = {
        "representative": rep or "",
        "multimedia": [{"id": i, "caption": c} for i, c, _ in mm],
    }
    mm_rows = [
        (f'<tr><td bgcolor="{LABEL_BG}" rowspan="{len(mm)}">マルチメディアファイル</td>'
         if j == 0 else "<tr>") + f'<td><a href="../mf/{i}.jpg">{c}</a></td></tr>'
        for j, (i, c, _) in enumerate(mm)
    ]

    sources = [_phrase(rng, 2, 5) for _ in range(rng.randint(0, 2))]
    if rng.random() < 0.5:
        sources.append(f"失敗知識DB http://example.com/ref/{case_id}.html")
    rec["sources"] = sources
    if sources:
        rows.append(("情報源", "<br>".join(sources)))
    deaths, injuries = rng.choice((0, 0, 1, 2, 5)), rng.randint(0, 30)
    rec["casualties"] = {"deaths": deaths, "injuries": injuries}
    rows.append(("死者数", f"{deaths}名"))
    rows.append(("負傷者数", f"{injuries}名" if injuries else "なし"))
    rec["financial_damage"] = f"{rng.randint(1, 900)}億円"
    rec["social_impact"] = _phrase(rng, 2, 5)
    rec["notes"] = _phrase(rng, 1, 4) if rng.random() < 0.5 else ""
    rec["field"] = rng.choice(_FIELDS)
    rows += [("被害金額", rec["financial_damage"]), ("社会への影響", rec["social_impact"])]
    if rec["notes"]:
        rows.append(("備考", rec["notes"]))
    rows.append(("分野", rec["field"]))
    authors = [f"{rng.choice(_NAMES)} {rng.choice(_GIVEN)}" for _ in range(rng.randint(1, 3))]
    rec["authors"] = authors
    rows.append(("データ作成者", "<br>".join(a.replace(" ", "&nbsp;") for a in authors)))

    missing: list[str] = []
    if status == "excluded":
        labels = [label for label, _ in REQUIRED]
        gone = set(rng.sample(labels, rng.choice((1, 1, 2))))
        missing = [label for label in labels if label in gone]
        rows = [(lab, v) for lab, v in rows if lab not in gone]
        for label, key in REQUIRED:
            if label in gone:
                rec[key] = {"cause": [], "action": [], "result": []} if key == "scenario" else ""

    has_scen = "シナリオ" not in missing and status != "error"
    html = ['<html><head><meta charset="utf-8"></head><body><table>']
    for label, value in rows:
        html.append(f'<tr><td bgcolor="{LABEL_BG}">{label}</td><td>{value}</td></tr>')
        if label == "背景":
            html.extend(mm_rows)
    html.append('<tr><td bgcolor="#FFFFFF">参考</td><td>ラベル行ではない</td></tr>')
    html.append("</table></body></html>\n")
    if status != "error":
        pages[f"{PREFIX}/cf/{case_id}.html"] = "\n".join(html).encode("utf-8")
    if has_scen:
        pages[f"{PREFIX}/sf/{sid}.html"] = scen_html.encode("utf-8")
    return Case(case_id, status, rec, missing, rep, mm, has_scen)


def build_site(seed: int, n_cases: int, n_direct: int = 3) -> Site:
    """``n_cases`` list-page cases plus ``n_direct`` direct /cf/ URLs;
    about 5 % of case pages 404 (status error) and about 10 % lack one
    or two required fields (status excluded)."""
    rng = random.Random(seed)
    pages: dict = {}
    images: dict = {}
    n = n_direct + n_cases
    draw = {
        "status": _deal(rng, n, ["error"] + ["excluded"] * 2 + ["success"] * 17),
        "rep": _deal(rng, n, [False] + [True] * 19),
        "mm": _deal(rng, n, (1, 2, 3, 4)),
        "served": _deal(rng, 4 * n, [False] * 3 + [True] * 17),  # some multimedia 404
        "items": _deal(rng, n, range(3, 16)),
        "size": _deal(rng, 5 * n, range(800, 12001, 400)),  # JPEG bytes
    }
    direct = [_case(rng, f"CA9{i:06d}", draw, pages, images) for i in range(n_direct)]
    listed = [_case(rng, f"CA{i + 1:07d}", draw, pages, images) for i in range(n_cases)]
    anchors = ['<li><a href="../sf/noise.html">凡例</a></li>'] + [
        f'<li><a href="../cf/{c.case_id}.html">{c.record["case_name"]}</a></li>'
        for c in listed
    ]
    pages[f"{PREFIX}/lis/lis1.html"] = (
        '<html><body><ul class="menu"><li><a href="../cf/CA0000000.html">トップ</a></li></ul>\n'
        '<ul class="list_all">\n' + "\n".join(anchors) + "\n</ul></body></html>\n"
    ).encode("utf-8")
    # direct case URLs first, then the list page: the worklist order is
    # the same whether list links or direct URLs are numbered first
    argv = [f"/cf/{c.case_id}.html" for c in direct] + ["/lis/lis1.html", "/xx/unknown.html"]
    return Site(direct + listed, argv, pages, images)


class _PoolServer(HTTPServer):
    """HTTPServer whose requests run on a fixed-size thread pool."""

    def __init__(self, addr, handler, threads: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.threads = threads
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.stats = {"requests": 0, "dup_requests": 0, "bytes": 0, "busy_s": 0.0,
                          "threads": self.threads}
            self.seen: set = set()
            self.since = time.perf_counter()

    def snapshot(self) -> dict:
        with self.lock:
            return dict(self.stats, window_s=time.perf_counter() - self.since)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except OSError:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def _handler(site: Site):
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802
            srv: _PoolServer = self.server
            if self.path.startswith("/__"):
                snap = srv.snapshot()
                if self.path == "/__reset":
                    srv.reset()
                self._send(200, "application/json", json.dumps(snap).encode())
                return
            t0 = time.perf_counter()
            body = site.pages.get(self.path)
            ctype = "text/html; charset=utf-8"
            if body is None and self.path in site.images:
                body, ctype = jpeg_bytes(*site.images[self.path]), "image/jpeg"
            if body is None:
                self.send_error(404)
                n = 0
            else:
                self._send(200, ctype, body)
                n = len(body)
            with srv.lock:
                s = srv.stats
                s["requests"] += 1
                s["bytes"] += n
                if self.path in srv.seen:
                    s["dup_requests"] += 1
                srv.seen.add(self.path)
                s["busy_s"] += time.perf_counter() - t0

        def _send(self, code: int, ctype: str, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a) -> None:
            pass

    return Handler


def _exit_with_parent(parent: int) -> None:
    while os.getppid() == parent:
        time.sleep(0.5)
    os._exit(0)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--cases", type=int, required=True)
    p.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    a = p.parse_args()
    site = build_site(a.seed, a.cases)
    srv = _PoolServer(("127.0.0.1", 0), _handler(site), a.threads)
    threading.Thread(target=_exit_with_parent, args=(os.getppid(),), daemon=True).start()
    print(srv.server_port, flush=True)
    try:
        srv.serve_forever(poll_interval=0.1)
    finally:
        srv.pool.shutdown(wait=True)
        srv.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
