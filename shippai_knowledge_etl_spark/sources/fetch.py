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
strings). Both UDFs call it per row, and ``run.expand_worklist`` calls
it on the driver for the CLI's list pages.

Correctness tests use a loopback HTTP server (tests/test_fetch.py);
live-network use is smoke-only (SURVEY §7.4 item 6).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

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
