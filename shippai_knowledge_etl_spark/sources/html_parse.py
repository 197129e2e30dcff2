"""HTML → tall label/value rows: the parse edge (SURVEY.md §2.9, S1/P2).

The reference walks ``<tr>`` rows with BeautifulSoup and keeps pairs
whose first ``<td>`` has bgcolor #DFE9F2 (src/extract.py:57-82). Here
the full-fidelity HTML→rows step is the ONE place Python touches raw
markup: an Arrow-batched pandas UDF (iterator form — parser state
reused across batches) built on stdlib ``html.parser`` (bs4/lxml are
not in this container). Everything downstream of the tall rows is pure
column expressions, so the UDF boundary is also the pushdown boundary
by design (SURVEY §4.2).

Per-row parse is embarrassingly parallel: one page = one row; at 100 TB
the UDF scales with executors and shuffles nothing.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html import unescape
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from shippai_knowledge_etl_spark.schemas import PAGE_ROW_SCHEMA

# A real DataType, not a DDL string: string return types are re-parsed
# on the Python worker, where no SparkSession exists.
ROWS_TYPE = T.ArrayType(PAGE_ROW_SCHEMA)


# ---------------------------------------------------------------------------
# Fast event scanner (guide §4.2: make the inside of the UDF fast).
#
# stdlib HTMLParser spends ~85% of its time in the generic goahead /
# parse_starttag machinery (measured 108 µs for a ~250-byte case page,
# round 13). This scanner tokenizes the STRICT common subset — plain
# start/end/self-closing tags with well-formed attributes, text, and
# character references — with one regex pass plus a tag-string memo
# (tag syntax repeats massively across pages), and BAILS to the real
# HTMLParser for anything else: comments, doctypes, CDATA elements
# (script/style), quoted '>' inside attributes, lone '<', or a trailing
# ambiguous '&' (which HTMLParser withholds pending more input —
# parse_* never call close(), so the fallback reproduces that too).
# Event semantics are HTMLParser-equivalent by construction where it
# does NOT bail (tag/attr names lowercased, charrefs unescaped with the
# same html.unescape, handle_startendtag for '<t/>'), and the fallback
# guarantees equivalence everywhere else; a 6000-doc fuzz battery
# comparing event streams is pinned in tests. Handlers stay HTMLParser
# subclasses so the fallback is just handler.feed().
# ---------------------------------------------------------------------------

_SCAN = re.compile(r"[^<]+|<[^>]*>|<")
_TAG = re.compile(
    r"<(?:"
    r"/(?P<cname>[a-zA-Z][a-zA-Z0-9]*)\s*"
    r"|(?P<name>[a-zA-Z][a-zA-Z0-9]*)"
    r"(?P<attrs>(?:\s+[a-zA-Z][\-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>\"'`=]+))?)*)"
    r"\s*(?P<selfclose>/?)"
    r")>\Z"
)
_ATTR = re.compile(
    r"([a-zA-Z][\-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>\"'`=]+)))?"
)
_AMBIG_AMP = re.compile(r"[\s;]")
_CDATA_ELEMS = ("script", "style")

_BAIL = ("bail",)
# tag-SYNTAX memo (token string → parsed event), shared per worker: it
# caches how markup parses, never what any page's data produced
_tag_cache: dict = {}


def _parse_tag(tok: str):
    m = _TAG.match(tok)
    if m is None:
        return _BAIL
    cname = m.group("cname")
    if cname is not None:
        return ("e", cname.lower())
    name = m.group("name").lower()
    if name in _CDATA_ELEMS:
        return _BAIL
    rawattrs = m.group("attrs")
    attrs = []
    if rawattrs:
        for am in _ATTR.finditer(rawattrs):
            v = am.group(2)
            if v is None:
                v = am.group(3)
            if v is None:
                v = am.group(4)
            if v is not None and "&" in v:
                v = unescape(v)
            attrs.append((am.group(1).lower(), v))
    return ("se" if m.group("selfclose") else "s", name, attrs)


def feed_fast(handler: HTMLParser, html: str) -> HTMLParser:
    """Feed ``html`` into ``handler`` via the fast scanner, falling back
    to ``handler.feed`` (the inherited HTMLParser) on any construct the
    scanner does not prove it handles identically. Events are only
    dispatched after the WHOLE page scanned clean, so a mid-page bail
    never leaves half-applied state."""
    cache = _tag_cache
    n = len(html)
    events: list = []
    append = events.append
    for m in _SCAN.finditer(html):
        tok = m.group()
        if tok[0] != "<":
            if "&" in tok:
                if m.end() == n:
                    amp = tok.rfind("&", max(0, len(tok) - 34))
                    if amp >= 0 and not _AMBIG_AMP.search(tok, amp):
                        handler.feed(html)
                        return handler
                tok = unescape(tok)
            append(("d", tok))
            continue
        ev = cache.get(tok)
        if ev is None:
            if len(cache) > 65536:
                cache.clear()
            cache[tok] = ev = _parse_tag(tok)
        if ev is _BAIL:
            handler.feed(html)
            return handler
        append(ev)
    hs, he, hd, hse = (
        handler.handle_starttag,
        handler.handle_endtag,
        handler.handle_data,
        handler.handle_startendtag,
    )
    for e in events:
        k = e[0]
        if k == "d":
            hd(e[1])
        elif k == "s":
            hs(e[1], e[2])
        elif k == "e":
            he(e[1])
        else:
            hse(e[1], e[2])
    return handler


class _TableRowParser(HTMLParser):
    """Collect (label_td, value_td) pairs per <tr>: first td = label
    (with its bgcolor), last td = value; hrefs anywhere in the row."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[tuple[str, str, str, str | None]] = []
        self._in_tr = False
        self._tds: list[dict] = []
        self._href: str | None = None

    def handle_starttag(self, tag: str, attrs: list) -> None:
        a = dict(attrs)
        if tag == "tr":
            self._in_tr, self._tds, self._href = True, [], None
        elif tag == "td" and self._in_tr:
            self._tds.append({"bgcolor": a.get("bgcolor", ""), "text": []})
        elif tag == "a" and self._in_tr and self._href is None:
            self._href = a.get("href")
        elif tag == "br" and self._tds:
            self._tds[-1]["text"].append("\n")

    def handle_data(self, data: str) -> None:
        if self._in_tr and self._tds:
            self._tds[-1]["text"].append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag == "tr" and self._in_tr:
            if len(self._tds) >= 2:
                first, last = self._tds[0], self._tds[-1]
                self.rows.append(
                    (
                        "".join(first["text"]).strip(),
                        "".join(last["text"]).strip(),
                        first["bgcolor"],
                        self._href,
                    )
                )
            self._in_tr = False


def parse_page(html: str) -> list[tuple[int, str, str, str, str | None]]:
    p = _TableRowParser()
    feed_fast(p, html)
    return [
        (i, label, value, bgcolor, href)
        for i, (label, value, bgcolor, href) in enumerate(p.rows)
    ]


@pandas_udf(ROWS_TYPE)
def html_to_rows(pages: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for batch in pages:
        yield pd.Series([parse_page(h) if h else [] for h in batch])


LINK_ROW_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.IntegerType()),
        T.StructField("href", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)
LINKS_TYPE = T.ArrayType(LINK_ROW_SCHEMA)


class _AnchorListParser(HTMLParser):
    """S2: anchors inside ``<ul class="list_all">`` in document order —
    the reference's list-page walk (src/extract.py:396-407). Anchors in
    other lists (or outside any list) are ignored, nested uls inside the
    target list are included, and the class attribute may contain
    multiple names."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[int, str, str]] = []
        self._depth = 0  # >0 while inside a list_all ul
        self._href: str | None = None
        self._text: list[str] = []

    def handle_starttag(self, tag: str, attrs: list) -> None:
        a = dict(attrs)
        if tag == "ul":
            if self._depth > 0 or "list_all" in (a.get("class") or "").split():
                self._depth += 1
        elif tag == "a" and self._depth > 0:
            self._href, self._text = a.get("href"), []

    def handle_data(self, data: str) -> None:
        if self._href is not None:
            self._text.append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag == "ul" and self._depth > 0:
            self._depth -= 1
        elif tag == "a" and self._href is not None:
            self.links.append(
                (len(self.links), self._href, "".join(self._text).strip())
            )
            self._href = None

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        # a self-closing tag opens AND closes: without the end-tag half,
        # '<ul class="list_all"/>' would leak _depth for the rest of the
        # document and '<a ... />' would leave _href dangling
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)


def parse_list_page(html: str) -> list[tuple[int, str, str]]:
    p = _AnchorListParser()
    feed_fast(p, html)
    return p.links


@pandas_udf(LINKS_TYPE)
def list_page_links(pages: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for batch in pages:
        yield pd.Series([parse_list_page(h) if h else [] for h in batch])


# ---------------------------------------------------------------------------
# Full case-page facets: tall rows PLUS the page-level structures the
# nested case record needs (representative image, multimedia links,
# scenario sub-page link) — all from ONE parse pass. The CLI calls
# ``parse_case_page`` / ``parse_scenario_page`` inside its one fused
# fetch-and-parse edge (``fetch.fetch_case_pages``); the
# ``case_page_facets`` / ``scenario_page_facts`` UDFs are the same parses
# as standalone Arrow edges over page bodies already in a frame.
# ---------------------------------------------------------------------------

MM_LINK_SCHEMA = T.StructType(
    [
        T.StructField("href", T.StringType()),
        T.StructField("caption", T.StringType()),
    ]
)

CASE_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("rows", T.ArrayType(PAGE_ROW_SCHEMA)),
        T.StructField("rep_image_src", T.StringType()),
        T.StructField("mm_label_links", T.ArrayType(MM_LINK_SCHEMA)),
        T.StructField("mf_links", T.ArrayType(MM_LINK_SCHEMA)),
        T.StructField("scenario_row_href", T.StringType()),
        T.StructField("sf_href", T.StringType()),
    ]
)

_LABEL_BG = "#DFE9F2"  # src/extract.py:69-71
_MULTIMEDIA_LABEL = "マルチメディアファイル"  # src/extract.py:73
_REP_IMAGE_LABEL = "代表図"  # src/extract.py:185
_SCENARIO_LABEL = "シナリオ"  # src/extract.py:199


class _CasePageParser(HTMLParser):
    """One-pass extraction of everything parse_main_page reads from the
    raw markup (src/extract.py:49-227): the tall label/value rows, the
    representative-figure img src, multimedia links (both the labeled
    row's first anchor and the page-wide ``/mf/`` anchor scan,
    src/extract.py:73-97), and the scenario sub-page href (labeled row
    first, page-wide ``/sf/`` anchor as fallback, src/extract.py:197-210).

    Uses a <tr> STACK (unlike the flat _TableRowParser) so tables nested
    inside a cell don't corrupt the enclosing row's cells."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[tuple[str, str, str, str | None]] = []
        self.mm_label_links: list[tuple[str, str]] = []
        self.mf_links: list[tuple[str, str]] = []
        self.rep_image_src: str | None = None
        self.scenario_row_href: str | None = None
        self.sf_href: str | None = None
        self._trs: list[dict] = []
        self._a_stack: list[dict] = []

    def _cur_td(self) -> dict | None:
        if self._trs and self._trs[-1]["tds"]:
            return self._trs[-1]["tds"][-1]
        return None

    def _flush_dangling_a(self) -> None:
        """Implicit close of unclosed anchors — bs4 (the reference's
        parser) recovers an ``<a>`` with a missing end tag at the next
        anchor or cell/row boundary; without this, a malformed scenario
        link would silently lose its href (and trailing cell text would
        keep accumulating into the dead stack entry)."""
        while self._a_stack:
            link = self._a_stack.pop()
            td = self._cur_td()
            if td is not None and link["href"] is not None:
                td["links"].append(
                    (link["href"], "".join(link["text"]).strip())
                )

    def handle_starttag(self, tag: str, attrs: list) -> None:
        a = dict(attrs)
        if tag == "tr":
            self._flush_dangling_a()
            self._trs.append({"tds": []})
        elif tag == "td" and self._trs:
            self._flush_dangling_a()
            self._trs[-1]["tds"].append(
                {"bgcolor": a.get("bgcolor", ""), "text": [],
                 "links": [], "imgs": []}
            )
        elif tag == "a":
            self._flush_dangling_a()
            href = a.get("href")
            self._a_stack.append({"href": href, "text": []})
            # page-wide /sf/ fallback scans ALL anchors in document
            # order, first match wins (src/extract.py:205-210)
            if href and "/sf/" in href and self.sf_href is None:
                self.sf_href = href
        elif tag == "img":
            td = self._cur_td()
            if td is not None:
                td["imgs"].append(a.get("src", ""))
        elif tag == "br":
            td = self._cur_td()
            if td is not None:
                td["text"].append("\n")

    def handle_data(self, data: str) -> None:
        if self._a_stack:
            self._a_stack[-1]["text"].append(data)
        td = self._cur_td()
        if td is not None:
            td["text"].append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag == "a" and self._a_stack:
            link = self._a_stack.pop()
            td = self._cur_td()
            if td is not None and link["href"] is not None:
                td["links"].append(
                    (link["href"], "".join(link["text"]).strip())
                )
        elif tag == "tr" and self._trs:
            self._flush_dangling_a()
            self._close_tr(self._trs.pop())

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def _close_tr(self, ctx: dict) -> None:
        tds = ctx["tds"]
        # page-wide /mf/ scan covers every td (incl. rowspan
        # continuation rows with a single cell), src/extract.py:87-97
        for td in tds:
            for href, caption in td["links"]:
                if "/mf/" in href:
                    self.mf_links.append((href, caption))
        if len(tds) < 2:
            return
        first, last = tds[0], tds[-1]
        label = "".join(first["text"]).strip()
        value = "".join(last["text"]).strip()
        row_href = next(
            (h for td in tds for h, _ in td["links"]), None
        )
        self.rows.append((label, value, first["bgcolor"], row_href))
        if first["bgcolor"].upper() != _LABEL_BG:
            return
        if label == _MULTIMEDIA_LABEL:
            if last["links"]:
                self.mm_label_links.append(last["links"][0])
        elif label == _REP_IMAGE_LABEL and self.rep_image_src is None:
            if last["imgs"]:
                self.rep_image_src = last["imgs"][0]
        elif label == _SCENARIO_LABEL and self.scenario_row_href is None:
            if last["links"]:
                self.scenario_row_href = last["links"][0][0]


def parse_case_page(html: str) -> dict:
    p = _CasePageParser()
    feed_fast(p, html)
    return {
        "rows": [
            (i, label, value, bgcolor, href)
            for i, (label, value, bgcolor, href) in enumerate(p.rows)
        ],
        "rep_image_src": p.rep_image_src,
        "mm_label_links": p.mm_label_links,
        "mf_links": p.mf_links,
        "scenario_row_href": p.scenario_row_href,
        "sf_href": p.sf_href,
    }


@pandas_udf(CASE_PAGE_SCHEMA)
def case_page_facets(pages: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in CASE_PAGE_SCHEMA.fields]
    empty = parse_case_page("")
    for batch in pages:
        rows = [parse_case_page(h) if h else dict(empty) for h in batch]
        yield pd.DataFrame(rows, columns=cols)


# ---------------------------------------------------------------------------
# Scenario (sf/) page: numbered items + separator-line facts. The
# LAYOUT-DECODING stays Spark-side (F19 separator_item_after, O1 sort,
# W2 slice, W1 chunk) — the parser only reports what the markup says.
# ---------------------------------------------------------------------------

SCENARIO_PAGE_SCHEMA = T.StructType(
    [
        T.StructField(
            "items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("num", T.IntegerType()),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "seps",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("width", T.IntegerType()),
                        T.StructField("kind", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


class _ScenarioPageParser(HTMLParser):
    """Raw facts from a scenario page (src/extract.py:284-341): numbered
    items (``<b>N.</b>`` rows — item text from the row's 3rd cell) and
    separator-line rows (``sinario_line_1/2`` imgs with their row's
    ``space.gif`` width). Rows inside the main layout cell
    (valign=top, width⊇60%) are preferred; the page-wide collection is
    the fallback when that cell is absent (src/extract.py:292-301)."""

    _ITEM_RE = re.compile(r"(\d+)\.")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.main: dict = {"items": [], "seps": []}
        self.all: dict = {"items": [], "seps": []}
        self.saw_main = False
        self._trs: list[dict] = []
        self._td_depth = 0
        self._main_depth: int | None = None
        self._in_b = False

    def handle_starttag(self, tag: str, attrs: list) -> None:
        a = dict(attrs)
        if tag == "td":
            self._td_depth += 1
            if (
                self._main_depth is None
                and a.get("valign", "").lower() == "top"
                and "60%" in a.get("width", "")
            ):
                self._main_depth = self._td_depth
                self.saw_main = True
            if self._trs:
                self._trs[-1]["tds"].append({"text": [], "b": [], "imgs": []})
        elif tag == "tr":
            self._trs.append(
                {"tds": [], "in_main": self._main_depth is not None}
            )
        elif tag == "b":
            self._in_b = True
            if self._trs and self._trs[-1]["tds"]:
                self._trs[-1]["tds"][-1]["b"].append([])
        elif tag == "img":
            if self._trs and self._trs[-1]["tds"]:
                self._trs[-1]["tds"][-1]["imgs"].append(
                    (a.get("src", ""), a.get("width"))
                )

    def handle_data(self, data: str) -> None:
        if self._trs and self._trs[-1]["tds"]:
            td = self._trs[-1]["tds"][-1]
            td["text"].append(data)
            if self._in_b and td["b"]:
                td["b"][-1].append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag == "b":
            self._in_b = False
        elif tag == "td":
            if self._main_depth is not None and self._td_depth == self._main_depth:
                self._main_depth = None
            self._td_depth = max(0, self._td_depth - 1)
        elif tag == "tr" and self._trs:
            self._close_tr(self._trs.pop())

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def _close_tr(self, ctx: dict) -> None:
        sinks = [self.all] + ([self.main] if ctx["in_main"] else [])
        tds = ctx["tds"]
        num = None
        for td in tds:
            for run in td["b"]:
                m = self._ITEM_RE.match("".join(run).strip())
                if m:
                    num = int(m.group(1))
                    break
            if num is not None:
                break
        if num is not None and len(tds) >= 3:
            text = "".join(tds[2]["text"]).strip()
            for s in sinks:
                s["items"].append((num, text))
        kind = None
        space_w = None
        for td in tds:
            for src, w in td["imgs"]:
                if "sinario_line_1" in src:
                    kind = kind or "single"
                elif "sinario_line_2" in src:
                    kind = kind or "double"
                elif "space.gif" in src and space_w is None:
                    try:
                        space_w = int(w or 0)
                    except (TypeError, ValueError):
                        space_w = 0
        if kind is not None and space_w is not None:
            for s in sinks:
                s["seps"].append((space_w, kind))


def parse_scenario_page(html: str) -> dict:
    p = _ScenarioPageParser()
    feed_fast(p, html)
    scope = p.main if p.saw_main else p.all
    return {"items": scope["items"], "seps": scope["seps"]}


@pandas_udf(SCENARIO_PAGE_SCHEMA)
def scenario_page_facts(pages: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    for batch in pages:
        rows = [
            parse_scenario_page(h) if h else {"items": [], "seps": []}
            for h in batch
        ]
        yield pd.DataFrame(rows, columns=["items", "seps"])


def label_rows(html_col: Column) -> Column:
    """Page HTML → exploded-ready tall rows, pre-filtered on the label
    bgcolor sentinel like the reference's in-scan predicate
    (src/extract.py:69-71): the filter runs right after parse, before
    anything shuffles."""
    return F.filter(
        html_to_rows(html_col),
        lambda r: F.upper(r.getField("bgcolor")) == "#DFE9F2",
    )


# ---------------------------------------------------------------------------
# Block-level parse edge for boilerplate removal ([EXT], jusText-style)
# ---------------------------------------------------------------------------

BLOCK_ROW_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("block_idx", T.IntegerType(), nullable=False),
            T.StructField("tag", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_anchor_chars", T.IntegerType(), nullable=False),
        ]
    )
)

_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li td nav footer header article section".split()
)


class _BlockParser(HTMLParser):
    """Segment a page into text blocks at block-level element
    boundaries, counting the characters that sit inside anchors — the
    inputs jusText/Boilerpipe-style content classification needs
    (text length + link density per block). Everything downstream of
    these rows is pure column expressions."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[int, str, str, int]] = []
        self._tag = ""
        self._buf: list[str] = []
        self._anchor_chars = 0
        self._in_anchor = 0

    def _flush(self) -> None:
        text = re.sub(r"\s+", " ", "".join(self._buf)).strip()
        if text:
            self.blocks.append(
                (len(self.blocks), self._tag, text, self._anchor_chars)
            )
        self._buf, self._anchor_chars = [], 0

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if tag in _BLOCK_TAGS:
            self._flush()
            self._tag = tag
        elif tag == "a":
            self._in_anchor += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _BLOCK_TAGS:
            self._flush()
            self._tag = ""
        elif tag == "a" and self._in_anchor:
            self._in_anchor -= 1

    def handle_data(self, data: str) -> None:
        self._buf.append(data)
        if self._in_anchor:
            self._anchor_chars += len(data.strip())


def parse_blocks(html: str) -> list[tuple[int, str, str, int]]:
    p = _BlockParser()
    feed_fast(p, html or "")
    p._flush()
    return p.blocks


@pandas_udf(BLOCK_ROW_TYPE)
def html_to_blocks(pages: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for batch in pages:
        yield pd.Series([parse_blocks(h) if h else [] for h in batch])


def page_blocks(html_col: Column) -> Column:
    """Column form of the block-segmentation edge."""
    return html_to_blocks(html_col)
