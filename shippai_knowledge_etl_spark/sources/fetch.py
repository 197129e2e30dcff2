"""HTTP fetch edge (SURVEY.md §2.1 S1/S3/S4; §2.9 policy).

The reference fetches pages and images sequentially with a 30 s timeout
(src/extract.py:34-38, src/render_pdf.py:90-98). Here fetching is an
iterator-form pandas UDF: one HTTP session per Python worker (connection
reuse across Arrow batches), rows fetched within a partition, failures
returned as null/status columns — never task failures (errors-are-data).

Partition-parallel fan-out replaces the reference's sequential loop.
Rows of one partition are fetched one after another, so the requests
in flight equal the running tasks and the fan-out is the partitioning
of the input: the CLI's ``run.expand_worklist`` spreads the case
worklist evenly over ``defaultParallelism`` partitions.

``_fetch_one`` is the one fetch definition (timeout, decoding, error
strings). Its users:

- ``fetch_html`` and ``fetch_binary``, per row: page text for the
  isolated fetch/parse queries, image bytes for the PDF sink;
- ``fetch_case_pages``, twice per row: the CLI's case edge, which
  fetches and parses the case page and its scenario sub-page in one
  Python evaluation;
- ``run.expand_worklist``, on the driver, for the CLI's list pages.

Correctness tests use a loopback HTTP server (tests/test_fetch.py);
live-network use is smoke-only (SURVEY §7.4 item 6).
"""

from __future__ import annotations

from collections.abc import Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from shippai_knowledge_etl_spark.sources.html_parse import (
    CASE_PAGE_SCHEMA,
    SCENARIO_PAGE_SCHEMA,
    parse_case_page,
    parse_scenario_page,
)

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("body", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)

FETCH_BINARY_SCHEMA = T.StructType(
    [
        T.StructField("content", T.BinaryType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)

TIMEOUT_SEC = 30  # reference: src/extract.py:36


def _fetch_one(opener, url: str, binary: bool):
    import urllib.error

    if not url:
        # null URL = "nothing to fetch" (e.g. a case with no scenario
        # link): pass the null through, never a synthetic error row
        return None, None, None
    try:
        with opener.open(url, timeout=TIMEOUT_SEC) as resp:
            raw = resp.read()
            status = resp.status
        if status >= 300:
            return None, status, f"http {status}"
        return (raw if binary else raw.decode("utf-8", "replace")), status, None
    except urllib.error.HTTPError as e:
        return None, e.code, f"http {e.code}"
    except Exception as e:  # timeouts, DNS, conn reset — tolerated (S4)
        return None, None, f"{type(e).__name__}: {e}"


@pandas_udf(FETCH_RESULT_SCHEMA)
def fetch_html(urls: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """S1/S3: URL → page text with status/error columns. The opener is
    created once per worker and reused across batches."""
    import urllib.request

    opener = urllib.request.build_opener()
    for batch in urls:
        rows = [_fetch_one(opener, u, binary=False) for u in batch]
        yield pd.DataFrame(rows, columns=["body", "status", "error"])


@pandas_udf(FETCH_BINARY_SCHEMA)
def fetch_binary(urls: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """S4: URL → bytes, null on any failure (reference returns None,
    src/render_pdf.py:96-98)."""
    import urllib.request

    opener = urllib.request.build_opener()
    for batch in urls:
        rows = [_fetch_one(opener, u, binary=True) for u in batch]
        yield pd.DataFrame(rows, columns=["content", "status", "error"])


# case fetch error, scenario fetch error (null when the case links no
# scenario page), then the case-page and scenario-page parse fields
CASE_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("error", T.StringType()),
        T.StructField("scen_error", T.StringType()),
        *CASE_PAGE_SCHEMA.fields,
        *SCENARIO_PAGE_SCHEMA.fields,
    ]
)


def _case_pages(opener, url: str) -> dict:
    """One case row of ``fetch_case_pages``: case fetch and parse, the
    scenario href (labeled-row link first, page-wide ``/sf/`` anchor as
    fallback, src/extract.py:197-210), resolved by the reference's own
    ``urljoin`` (src/extract.py:206,210), then scenario fetch and parse.
    The href fallback is a null test, not a truthiness test: an
    ``href=""`` anchor wins and resolves to the case URL itself."""
    body, _, error = _fetch_one(opener, url, binary=False)
    case = parse_case_page(body or "")
    href = case["scenario_row_href"]
    if href is None:
        href = case["sf_href"]
    scen_body = scen_error = None
    if href is not None:
        scen_body, _, scen_error = _fetch_one(
            opener, urljoin(url, href), binary=False
        )
    scen = parse_scenario_page(scen_body or "")
    return {"error": error, "scen_error": scen_error, **case, **scen}


@pandas_udf(CASE_PAGES_SCHEMA)
def fetch_case_pages(urls: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """S1+S3 fused: case URL → both pages fetched and parsed in ONE
    Python evaluation, so page bodies never cross into the JVM and a
    running task holds one Python worker for the whole case edge. A
    failed fetch leaves the fields of its page empty (errors are data)."""
    import urllib.request

    opener = urllib.request.build_opener()
    cols = [f.name for f in CASE_PAGES_SCHEMA.fields]
    for batch in urls:
        rows = [_case_pages(opener, u) for u in batch]
        yield pd.DataFrame(rows, columns=cols)
