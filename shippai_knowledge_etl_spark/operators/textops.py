"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.11 [EXT]).

Language-ID (stopword heuristic), quality scoring, token counting,
document fingerprinting. All pure built-in expressions over the
``documents`` table — whole-stage codegen'd, narrow maps except the
langid argmax (5 rows/doc window) — so they scale to 100 TB corpora
without a Python worker in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shippai_knowledge_etl_spark.operators.multimodal import _synthesize

# Tiny per-language marker sets for the n-gram/stopword heuristic.
# Deliberately small: the operator shape (tokenize → bucket-count →
# argmax) is what matters; swap in real frequency tables at production.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "nicht"),
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "了", "在", "我"),
}

# BPE-ish pretokenizer: word runs OR single non-space symbols.
BPE_TOKEN_RE = r"[\p{L}\p{Nd}]+|[^\p{L}\p{Nd}\s]"


def marker_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Total occurrences of ``words`` in the token array, lambda-free:
    occurrences(w) == size(toks) - size(array_remove(toks, w)) —
    array_remove drops every copy, so the size delta counts them. A
    handful of codegen'd array passes beats one interpreted ``filter``
    lambda walk (see tokenize's docstring for why lambdas are avoided
    in per-row hot paths)."""
    sz = F.size(toks)
    out = F.lit(0)
    for w in words:
        out = out + (sz - F.size(F.array_remove(toks, w)))
    return out


def tokenize(col: Column) -> Column:
    """Lowercase, strip non-letter/digit runs to single spaces, split,
    drop blanks. Unicode classes so CJK/full-width text survives.

    Lambda-free on purpose: after the regex collapses separator runs
    and trim removes the edges, a single-space split can only produce
    an empty token for the empty/all-separator document — the CASE
    handles that one case, so no ``filter`` lambda is needed. HOF
    lambdas are CodegenFallback and their shared interpreter call sites
    degrade ~10x once a session has run many different lambdas (see
    dedup.shingle_structs); tokenize sits under every text query, so it
    must stay inside whole-stage codegen.
    """
    t = F.trim(F.regexp_replace(F.lower(col), r"[^\p{L}\p{Nd}]+", " "))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, " ")
    )


def token_counts(col: Column) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish regex token count)."""
    ws = F.size(tokenize(col))
    bpe = F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))
    return ws, bpe


def quality_metrics(col: Column) -> dict[str, Column]:
    """Heuristic quality signals: length, punctuation density, stopword
    ratio, mean token length. Ratios are double divisions of exact ints
    (deterministic at any parallelism)."""
    toks = tokenize(col)
    n_chars = F.length(col)
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(col, F.lit(r"[^\p{L}\p{Nd}\s]"), 0))
    n_stop = marker_hits(toks, LANG_MARKERS["en"])
    # total token chars == length of the separator-less concat: the
    # lambda-free form of aggregate(toks, 0, acc + length(x))
    total_tok_len = F.length(F.concat_ws("", toks))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": n_punct / F.greatest(n_chars, F.lit(1)).cast("double"),
        "stopword_ratio": n_stop / F.greatest(n_tokens, F.lit(1)).cast("double"),
        "avg_token_len": total_tok_len
        / F.greatest(n_tokens, F.lit(1)).cast("double"),
    }


def langid_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Long-format language scores: one row per (doc, lang) with the
    marker-hit count. Relational on purpose — argmax is then a window,
    and the 5× row expansion is trivial next to the text itself.

    The tokenize evaluation is pinned behind a Generate barrier
    (``explode(array(...))``): the score array references the token
    array from 25 marker_hits sub-expressions (5 langs × 5 words × 2
    array passes each), and without the barrier CollapseProject
    inlines the regex+split pipeline into every one — measured 11.7 s
    warm vs 0.6 s for the identical query at sf0.1 (the
    queries/curation.py lesson, applied here in round 7)."""
    base = df.select(
        F.col(id_col),
        F.explode(F.array(tokenize(F.col(text_col)))).alias("toks"),
    )
    toks = F.col("toks")
    scores = F.array(
        *[
            F.struct(
                F.lit(lang).alias("lang"),
                marker_hits(toks, words).alias("score"),
            )
            for lang, words in sorted(LANG_MARKERS.items())
        ]
    )
    return base.select(F.col(id_col), F.explode(scores).alias("s")).select(
        id_col, "s.lang", "s.score"
    )


def langid_predict(scores: DataFrame, id_col: str) -> DataFrame:
    """argmax(score) with alphabetical tie-break — deterministic."""
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("lang").alias("pred_lang"), "score")
    )


def fingerprint(col: Column) -> Column:
    """Whole-document fingerprint: md5 over normalized tokens."""
    return F.md5(F.concat_ws(" ", tokenize(col)))


def _let(bound: Column, body) -> Column:
    """Single-element ``transform`` as a let binding: evaluate ``bound``
    ONCE, hand the lambda variable to ``body``. An expression placed
    inside a higher-order-function lambda is re-evaluated per element —
    ``transform(seq, i -> f(slice(heavy, ...)))`` recomputes the whole
    ``heavy`` subtree for EVERY i (round-13 measurement: the winnowing
    query spent 71 s at sf0.001 re-tokenizing per gram and re-hashing
    every gram per window, O(n²) per document). Binding the heavy array
    through a one-element transform makes the inner references cheap
    lambda-variable reads: O(n²) → O(n·w)."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def window_fingerprints(col: Column, window: int = 8, stride: int = 4) -> Column:
    """Rolling-window fingerprints (near-dup building block): md5 of
    each token window of ``window`` tokens every ``stride`` tokens.

    The token array is let-bound (see ``_let``) so the per-window slices
    read a lambda variable instead of re-running tokenize per window."""

    def _fps(toks: Column) -> Column:
        n_windows = F.greatest(
            F.lit(1),
            (F.floor((F.size(toks) - window) / stride) + 1).cast("int"),
        )
        return F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, i * stride + 1, window))
            ),
        )

    return _let(tokenize(col), _fps)



def winnow_fingerprints(col: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every k-token gram, slide a window
    of ``w`` consecutive gram hashes, keep the minimum hash of each
    window, return the distinct selected hashes SORTED.

    Guarantees (pytest-pinned in ``tests/test_functions.py``):
    coverage — any match of length >= w+k-1 tokens shares at least one
    selected fingerprint; density — expected selections ~ 2/(w+1) of
    all grams, so the per-doc index entry count is bounded regardless
    of document length. This is the local-dedup complement to
    ``window_fingerprints``' fixed-stride sampling: stride sampling
    can straddle a copied passage, winnowing cannot.

    Pure array HOFs over the token list — per-row, zero shuffle; the
    min over md5 hex strings is lexicographic, identical in Spark and
    DuckDB, and the output is sorted so the oracle compares as a set.

    Both intermediate arrays are let-bound (see ``_let``): the gram
    hashes read the BOUND token array and the window minima read the
    BOUND gram array. The original form re-evaluated ``grams`` (itself
    re-running tokenize per gram) inside every window's slice —
    O(n_windows · n_grams) tokenize+md5 per document, measured 71 s for
    the sf0.001 parity case; the bound form is one tokenize, n md5s and
    n·w comparisons.
    """

    def _mins(grams: Column) -> Column:
        n_windows = F.greatest(F.lit(1), F.size(grams) - w + 1)
        return F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), n_windows - 1),
                    lambda i: F.array_min(F.slice(grams, i + 1, w)),
                )
            )
        )

    def _grams(toks: Column) -> Column:
        n_grams = F.greatest(F.lit(1), (F.size(toks) - k + 1).cast("int"))
        return F.transform(
            F.sequence(F.lit(0), n_grams - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))),
        )

    return _let(
        tokenize(col), lambda toks: _let(_grams(toks), _mins)
    )


# ---------------------------------------------------------------------------
# Count-min sketch (mergeable frequency summary for heavy hitters)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows; P(overest > eps*N) <= (1/2)^depth-ish


def _cms_bucket(tok, j: int):
    """Row-j bucket: 2 hex chars of a salted md5 — 256 buckets,
    identical in Spark and DuckDB."""
    return F.substring(
        F.md5(F.concat(tok, F.lit(f":cms{j}"))), 1, 2
    )


def countmin_sketch(tok_counts: DataFrame, d: int = CMS_DEPTH) -> DataFrame:
    """Build a count-min sketch (Cormode & Muthukrishnan 2005) from a
    (tok, cnt) table: d salted-hash rows × 256 buckets, counter =
    sum of counts hashing into the cell. The result is d×256 rows —
    CONSTANT size at any corpus scale, and mergeable by cell-wise
    addition (union two sketches → groupBy (j, bucket) sum), which is
    what makes it the streaming/distributed heavy-hitter summary: at
    100 TB each partition sketches locally (map-side partial agg does
    exactly this) and only the fixed-size grid shuffles."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                _cms_bucket(F.col("tok"), j).alias("bucket"),
            )
            for j in range(d)
        ]
    )
    return (
        tok_counts.select(F.explode(cells).alias("c"), F.col("cnt"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket"))
        .agg(F.sum("cnt").alias("counter"))
    )


def countmin_estimate(
    sketch: DataFrame, probes: DataFrame, d: int = CMS_DEPTH
) -> DataFrame:
    """Point-query the sketch: est(tok) = min over the d rows of the
    probed cell — never an underestimate (every cell the token hashes
    to contains its true count plus collisions). A probed cell absent
    from the sketch is an EMPTY cell (counter 0) — the left join +
    coalesce below, not an inner join, or a never-seen token would
    inherit its colliding cells' counts (or vanish entirely) instead
    of correctly estimating 0. Probe set joins the BROADCAST sketch
    (the grid is d×256 rows regardless of scale), so estimating is
    shuffle-free up to the final per-token min, which
    partial-aggregates map-side."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                _cms_bucket(F.col("tok"), j).alias("bucket"),
            )
            for j in range(d)
        ]
    )
    pr = probes.select("tok", "exact", F.explode(cells).alias("c")).select(
        "tok", "exact", F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket")
    )
    return (
        pr.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy("tok", "exact")
        .agg(
            F.min(F.coalesce(F.col("counter"), F.lit(0))).alias("cms_est")
        )
        .select(
            "tok",
            F.col("exact").cast("long"),
            F.col("cms_est").cast("long"),
            (F.col("cms_est") >= F.col("exact")).alias("is_overestimate"),
        )
    )


def collocation_pmi(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus-level PMI over adjacent token pairs (Church & Hanks
    1990): pmi = ln(co * total / (left * right)) from the bigram
    contingency table, reported for pairs with co >= ``min_count``.
    Returns (tok_a, tok_b, n_cooccur, pmi).

    Scale shape: ONE tokenize → posexplode pass; the doc-keyed lead
    window shares the document partitioning; bigram counts partial-
    aggregate map-side to the bigram VOCABULARY (Heaps-bounded) and
    are persisted, so the marginals and grand total are three cheap
    re-aggregations of the bounded table — never a second corpus
    scan. Counts are exact integers; the one ln per surviving pair
    rounds 6 dp with identical operand order on both engines (the
    ext_char_entropy precedent)."""
    ex = df.select(
        id_col, F.posexplode(tokenize(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    co = (
        ex.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("tok_a"), F.col("nxt").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .persist()
    )
    lf = co.groupBy("tok_a").agg(F.sum("n_cooccur").alias("n_left"))
    rt = co.groupBy("tok_b").agg(F.sum("n_cooccur").alias("n_right"))
    tt = co.agg(F.sum("n_cooccur").alias("n_pairs"))
    return (
        co.join(lf, "tok_a")
        .join(rt, "tok_b")
        .crossJoin(F.broadcast(tt))
        .filter(F.col("n_cooccur") >= min_count)
        .select(
            "tok_a",
            "tok_b",
            F.col("n_cooccur").cast("long").alias("n_cooccur"),
            F.round(
                F.log(
                    F.col("n_cooccur").cast("double")
                    * F.col("n_pairs")
                    / (F.col("n_left").cast("double") * F.col("n_right"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# UTF-8 validation / sanitization (round 12)
# ---------------------------------------------------------------------------

REPLACEMENT_CP = 0xFFFD


def utf8_decode_replace(b: bytes) -> tuple[int, int, int]:
    """Hand-rolled WHATWG UTF-8 decoder with U+FFFD substitution of
    MAXIMAL SUBPARTS (Unicode 15 §3.9 "best practice", the behavior
    CPython's ``errors='replace'`` implements — the fuzz test pins the
    two equal over random byte soup): returns (n_codepoints,
    codepoint_sum, n_replacements).

    The subtle parts a naive decoder gets wrong, all covered: C0/C1
    and F5-FF are invalid LEAD bytes (one FFFD each — C0 AF overlong
    yields TWO replacements, not an accepted '/'); E0's second byte
    floor is A0 (overlong guard), ED's ceiling is 9F (surrogate
    guard), F0's floor is 90, F4's ceiling is 8F (plane 17 guard) —
    a lead byte whose FIRST continuation is range-invalid forms a
    1-byte subpart, while a valid prefix truncated later forms a
    subpart of its valid length (E3 81 at end of stream = ONE FFFD).
    """
    i = 0
    nl = len(b)
    n = s = r = 0

    def cont(j: int, lo: int = 0x80, hi: int = 0xBF) -> bool:
        return j < nl and lo <= b[j] <= hi

    while i < nl:
        c = b[i]
        if c < 0x80:
            n, s, i = n + 1, s + c, i + 1
            continue
        if 0xC2 <= c <= 0xDF:
            if cont(i + 1):
                s += ((c & 0x1F) << 6) | (b[i + 1] & 0x3F)
                n, i = n + 1, i + 2
                continue
            width = 1
        elif 0xE0 <= c <= 0xEF:
            lo = 0xA0 if c == 0xE0 else 0x80
            hi = 0x9F if c == 0xED else 0xBF
            if cont(i + 1, lo, hi):
                if cont(i + 2):
                    s += (
                        ((c & 0x0F) << 12)
                        | ((b[i + 1] & 0x3F) << 6)
                        | (b[i + 2] & 0x3F)
                    )
                    n, i = n + 1, i + 3
                    continue
                width = 2
            else:
                width = 1
        elif 0xF0 <= c <= 0xF4:
            lo = 0x90 if c == 0xF0 else 0x80
            hi = 0x8F if c == 0xF4 else 0xBF
            if cont(i + 1, lo, hi):
                if cont(i + 2):
                    if cont(i + 3):
                        s += (
                            ((c & 0x07) << 18)
                            | ((b[i + 1] & 0x3F) << 12)
                            | ((b[i + 2] & 0x3F) << 6)
                            | (b[i + 3] & 0x3F)
                        )
                        n, i = n + 1, i + 4
                        continue
                    width = 3
                else:
                    width = 2
            else:
                width = 1
        else:  # lone continuation 80-BF, overlong leads C0/C1, F5-FF
            width = 1
        n, s, r, i = n + 1, s + REPLACEMENT_CP, r + 1, i + width
    return n, s, r


def utf8_sanitize_features(df: DataFrame) -> DataFrame:
    """Per-payload UTF-8 intake audit over (doc_id, payload binary):
    byte count, decoded codepoint count, codepoint sum (with FFFD
    substitutions included — so the sums pin the decoder's exact
    replacement behavior, not just a validity bit), replacement
    count, and the clean flag.

    Scale shape: one narrow Arrow map, no shuffle — bytes never leave
    the worker; five integers per document return to the JVM. At
    100 TB this is the crawl-intake sanitize pass that runs BEFORE
    any tokenizer (a tokenizer fed raw invalid bytes poisons its
    merges)."""
    from typing import Iterator as _It

    import pandas as _pd

    def batches(it: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                bb = bytes(payload)
                n, s, r = utf8_decode_replace(bb)
                rows.append((int(doc_id), len(bb), n, s, r, r == 0))
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "n_codepoints", "cp_sum",
                    "n_replacements", "clean",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(
        batches,
        "doc_id long, n_bytes long, n_codepoints long, cp_sum long, "
        "n_replacements long, clean boolean",
    )


def attach_utf8_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic mixed-validity byte corpus for the UTF-8 intake
    audit: ascii 'u{id}', one valid 3-byte hiragana cp 0x3042+id%60,
    then — unless id%5==0 (the clean cohort) — one planted invalid
    sequence by id%4: lone continuation 80 / overlong C0 AF (the
    classic '/' smuggle — must yield TWO replacements, never an
    accepted slash) / surrogate ED A0 80 (three) / truncated E3 81 at
    END of stream (one, the maximal-subpart case), with a trailing
    'z' except in the truncated case."""
    planted = (b"\x80", b"\xc0\xaf", b"\xed\xa0\x80", b"\xe3\x81")

    def make(i: int) -> tuple:
        p = b"u" + str(i).encode()
        p += chr(0x3042 + i % 60).encode()
        if i % 5 != 0:
            p += planted[i % 4]
        if not (i % 5 != 0 and i % 4 == 3):
            p += b"z"
        return (p,)

    return _synthesize(df, id_col, make)
