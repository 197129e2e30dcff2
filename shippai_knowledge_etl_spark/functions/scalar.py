"""Scalar function library: F1–F19 of SURVEY.md §2.3 as Column functions.

Every function is a pure built-in-expression composition — no Python
UDFs — so all of them run inside whole-stage codegen and never break
predicate pushdown. Reference citations give the behavior being
re-expressed; the implementations are Spark-native.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Matches the reference's Japanese-date rule (src/extract.py:380-385;
# requirements.md:19).
JP_DATE_RE = r"(\d{4})年(\d{1,2})月(\d{1,2})日"


def trim_ws(col: Column) -> Column:
    """Python ``str.strip()`` analog over ASCII whitespace (reference
    strips around every extracted text, e.g. src/extract.py:107)."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def normalize_jp_date(col: Column) -> Column:
    """F1: ``YYYY年M月D日`` → zero-padded ``YYYY-MM-DD``; raw text
    passes through unchanged when the pattern doesn't match
    (src/extract.py:380-385)."""
    y = F.regexp_extract(col, JP_DATE_RE, 1)
    m = F.regexp_extract(col, JP_DATE_RE, 2).cast("int")
    d = F.regexp_extract(col, JP_DATE_RE, 3).cast("int")
    return F.when(y != "", F.format_string("%s-%02d-%02d", y, m, d)).otherwise(col)


def try_date(col: Column) -> Column:
    """Typed companion of F1 (SURVEY §7.4 item 3): DATE or null —
    keeps the reference's passthrough string and a real DateType side
    by side instead of overloading one column."""
    return F.try_to_timestamp(normalize_jp_date(col), F.lit("yyyy-MM-dd")).cast("date")


def leading_int(col: Column, default: int = 0) -> Column:
    """F2: first run of digits as int, else ``default``
    (src/extract.py:388-393)."""
    return F.coalesce(
        F.regexp_extract(col, r"\d+", 0).try_cast("int"), F.lit(default)
    )


def split_nonblank(col: Column, sep: str = "\n") -> Column:
    """F7: split, trim each piece, drop blanks — sources/authors lists
    (src/extract.py:230-237,254-260)."""
    return F.filter(
        F.transform(F.split(col, sep), trim_ws), lambda x: x != ""
    )


def normalize_nbsp(col: Column) -> Column:
    """F8: U+00A0 → space (src/extract.py:257)."""
    return F.translate(col, " ", " ")


def extract_url(col: Column) -> Column:
    """F9: first http(s) URL in the text, '' if none
    (src/render_pdf.py:428-432)."""
    return F.regexp_extract(col, r"(https?://\S+)", 1)


def br_to_newline(col: Column) -> Column:
    """P4: ``<br>`` variants → newline, then strip
    (src/extract.py:100-107)."""
    return trim_ws(F.regexp_replace(col, r"(?i)<br\s*/?>", "\n"))


def paragraphs(col: Column) -> Column:
    """P5: re-segment text into paragraphs — trim every line, collapse
    blank-line runs to one blank line, drop leading/trailing blanks
    (``get_html_text``, src/extract.py:109-130). Pure regex pipeline:
      1. strip horizontal whitespace around each line;
      2. squeeze runs of 2+ newlines (i.e. ≥1 blank line) to ``\\n\\n``;
      3. trim boundary newlines.
    """
    line_trimmed = F.regexp_replace(col, r"(?m)^[ \t]+|[ \t]+$", "")
    squeezed = F.regexp_replace(line_trimmed, r"\n{2,}", "\n\n")
    return F.regexp_replace(squeezed, r"^\n+|\n+$", "")


def basename(col: Column) -> Column:
    """P9: last path segment (src/extract.py:191)."""
    return F.element_at(F.split(col, "/"), -1)


def stem(col: Column) -> Column:
    """P9: basename without its last extension (src/extract.py:223)."""
    return F.regexp_extract(basename(col), r"^(.*?)(?:\.[^.]*)?$", 1)


def case_id_from_url(col: Column) -> Column:
    """P1: ``/cf/(\\w+).html`` case-id; '' when absent — the error
    branch becomes a validation filter (src/extract.py:41-46)."""
    return F.regexp_extract(col, r"/cf/(\w+)\.html", 1)


_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"
_ORIGIN_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*"


def _remove_dot_segments(url: Column) -> Column:
    """RFC 3986 dot-segment removal over the PATH portion of an absolute
    URL, as a pure fold — no UDF. ``..`` pops one segment (never past
    the root); ``.`` disappears; a trailing ``.``/``..`` leaves the
    directory slash, matching ``urllib.parse.urljoin``. Query string and
    fragment are split off first and re-attached untouched (a ``/..``
    inside ``?q=a/..`` is data, not a path segment)."""
    origin = F.regexp_extract(url, _ORIGIN_RE, 0)
    rest = F.regexp_replace(url, _ORIGIN_RE, "")
    suffix = F.regexp_extract(rest, r"([?#].*)$", 1)
    path = F.regexp_replace(rest, r"[?#].*$", "")
    # final "." / ".." keep their directory semantics once exploded
    path = F.regexp_replace(path, r"/\.$", "/./")
    path = F.regexp_replace(path, r"/\.\.$", "/../")
    segs = F.filter(F.split(path, "/"), lambda x: x != ".")
    folded = F.aggregate(
        segs,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            x == "..",
            # pop, but never the leading '' root marker
            F.when(F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1)).otherwise(acc),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.concat(origin, F.array_join(folded, "/"), suffix)


def resolve_url(base: Column | str, href: Column) -> Column:
    """F10: reference-faithful ``urljoin(base_page_url, href)``
    (src/extract.py:206,210) as built-in expressions:

      - scheme-absolute hrefs pass through;
      - ``//host/...`` takes the base's scheme;
      - ``/abs/path`` resolves against the base's origin;
      - ``?query`` / ``#frag`` attach to the base's path;
      - anything else joins the base page's directory, then ``.``/``..``
        segments are normalized RFC-3986-style.
    """
    if isinstance(base, str):
        base = F.lit(base)
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(base, _ORIGIN_RE, 0)
    # base path WITHOUT its query/fragment: relative resolution joins
    # against the page's directory, and '?q' hrefs REPLACE the query
    base_path = F.regexp_replace(
        F.regexp_replace(base, _ORIGIN_RE, ""), r"[?#].*$", ""
    )
    base_dir = F.regexp_replace(base_path, r"[^/]*$", "")
    joined = (
        F.when(href.rlike(_SCHEME_RE), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when(href == "", base)
        .when(
            href.startswith("?") | href.startswith("#"),
            F.concat(origin, base_path, href),
        )
        .otherwise(
            F.concat(
                origin,
                F.when(base_dir == "", F.lit("/")).otherwise(base_dir),
                href,
            )
        )
    )
    return _remove_dot_segments(joined)


def output_filename(case_id: Column, case_name: Column, ext: str) -> Column:
    """F11: ``{case_id}_{case_name}.{ext}`` (src/extract.py:417;
    requirements.md:85-90)."""
    return F.concat(case_id, F.lit("_"), case_name, F.lit("." + ext))


def split_filename(col: Column) -> tuple[Column, Column]:
    """F12: split basename on the FIRST '_' → (case_id, case_name)
    (src/run.py:96-97). Limit-2 split keeps underscores in the name."""
    parts = F.split(col, "_", 2)
    # F.get is null-tolerant — a name with no '_' yields (whole, NULL)
    # instead of an ANSI array-index error.
    return F.get(parts, 0), F.get(parts, 1)


def results_seq_no(col: Column) -> Column:
    """F13: ``results_(NNN).json`` → int, null if not a results file
    (src/run.py:135-141)."""
    return F.regexp_extract(col, r"results_(\d+)\.json$", 1).try_cast("int")


def numbered_label(num: Column, text: Column) -> Column:
    """F14: ``%02d. text`` numbering (src/render_pdf.py:249)."""
    return F.format_string("%02d. %s", num, text)


def scale_to_fit(w: Column, h: Column, max_w: float, max_h: float) -> tuple[Column, Column]:
    """F15: proportional downscale iff the image exceeds the box; never
    upscale (src/render_pdf.py:107-110,308-311)."""
    ratio = F.least(F.lit(max_w) / w, F.lit(max_h) / h)
    keep = ratio >= 1
    return (
        F.when(keep, w).otherwise(w * ratio),
        F.when(keep, h).otherwise(h * ratio),
    )


def iso_now() -> Column:
    """F16: seconds-precision ISO timestamp (src/run.py:125)."""
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss")


def separator_item_after(width: Column) -> Column:
    """F19: decode the layout-encoded group boundary from a spacer GIF
    width: ``((w - 15) div 20 + 1) * 3`` (src/extract.py:330-331,339-340;
    requirements.md:21). Integer arithmetic only."""
    return ((F.floor((width - F.lit(15)) / F.lit(20)) + 1) * 3).cast("long")
