"""Web-ingestion rows: WARC/PDF/ZIP/WebDataset ingestion, HTML
extraction, URL and robots handling, crawl frontier and JSONL."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hash60_expr, hash60_sql, token_count_expr
from ..session import fan_out

from ._registry import _register, _t, media_fixture, staged_sort


# ===========================================================================
# Web ingestion (Common Crawl front half): WARC record walk + HTML main-
# text extraction — sources/warc.py, functions/html.py, operators/web.py.
# Fixture WARCs are genuine wire bytes (per-record gzip on odd docs), the
# same encode-then-decode gate pattern as the multimodal codecs.
# ===========================================================================

_WARC_INFO_PAYLOAD = "software: ohsome-planet-spark"


def _tpl_html(d: int, text: str, lang: str, source: str) -> str:
    ent = "&#68;&amp;" if d % 2 == 0 else "&amp;"
    return (
        f"<html><head><title>skip {d}</title><style>p{{c:red}}</style>"
        f"</head><body><h1>Doc {ent}{d}</h1><p>{text} <b>{lang}</b></p>"
        f'<script>var x="</div>";</script>'
        f"<ul><li>{lang}</li><li>{source}</li></ul><!-- n{d} -->"
        f"</body></html>"
    )


def _warc_fixture_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..sources.warc import encode_warc, http_response_wrap

    for pdf in batches:
        payloads = []
        for _, r in pdf.iterrows():
            d = int(r["doc_id"])
            html = _tpl_html(d, r["text"], r["lang"], r["source"])
            recs = [
                {"warc_type": "warcinfo",
                 "payload": _WARC_INFO_PAYLOAD.encode()},
                {"warc_type": "response",
                 "target_uri": f"http://example.test/{d}",
                 "content_type": "application/http;msgtype=response",
                 "payload": http_response_wrap(html.encode())},
            ] + [
                {"warc_type": "request",
                 "target_uri": f"http://example.test/{d}",
                 "payload": f"GET /{d}".encode()}
                for _ in range(d % 3)
            ]
            payloads.append(encode_warc(recs, gzip_records=d % 2 == 1))
        out = pdf[["doc_id"]].copy()
        out["warc"] = payloads
        yield out


_WARC_PROBE_ORACLE = f"""
SELECT doc_id,
       CAST(2 + doc_id % 3 AS BIGINT) AS n_records,
       CAST(1 AS BIGINT) AS n_response,
       -- warcinfo + HTTP envelope (62 fixed bytes + the Content-Length
       -- digit count) + html body + doc%3 request payloads 'GET /<id>'
       CAST({len(_WARC_INFO_PAYLOAD)}
            + 62 + length(CAST(length(html) AS VARCHAR)) + length(html)
            + (doc_id % 3) * (5 + length(CAST(doc_id AS VARCHAR)))
         AS BIGINT) AS total_payload_bytes
FROM (
  SELECT doc_id,
         '<html><head><title>skip ' || doc_id ||
         '</title><style>p{{c:red}}</style></head><body><h1>Doc ' ||
         CASE WHEN doc_id % 2 = 0 THEN '&#68;&amp;' ELSE '&amp;' END ||
         doc_id || '</h1><p>' || text || ' <b>' || lang ||
         '</b></p><script>var x="</div>";</script><ul><li>' || lang ||
         '</li><li>' || source || '</li></ul><!-- n' || doc_id ||
         ' --></body></html>' AS html
  FROM documents
)
ORDER BY doc_id
"""


def _warc_archives(
    spark: SparkSession, sf_dir: str, encode=_warc_fixture_encode
) -> DataFrame:
    """(doc_id, warc): one fixture WARC archive per document, written by
    ``encode``."""
    docs = fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", "text", "lang", "source"
    )
    return docs.mapInPandas(encode, "doc_id bigint, warc binary")


def _warc_main_text(spark: SparkSession, sf_dir: str, encode) -> DataFrame:
    """Record walk → response filter → HTTP envelope strip → HTML
    main-text extraction over the archives ``encode`` writes."""
    from ..operators.web import extract_main_text, warc_records

    responses = warc_records(_warc_archives(spark, sf_dir, encode), "warc")
    return extract_main_text(
        responses.filter(F.col("warc_type") == "response"), "payload",
        http=True,
    )


@_register("warc_records_probe", _WARC_PROBE_ORACLE)
def warc_records_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record walk (``sources/warc.py``) through the web-ingestion
    seam: genuine WARC/1.0 archives — warcinfo + HTTP-wrapped response +
    doc%3 request records, per-record gzip members on odd docs — are
    parsed back by declared Content-Length (never separator scanning).
    The oracle recomputes every record's payload size arithmetically from
    the template, so one wrong framing byte, gzip member boundary, or
    header parse breaks the hash."""
    from ..operators.web import warc_records

    recs = warc_records(_warc_archives(spark, sf_dir), "warc")
    return (
        recs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(
                (F.col("warc_type") == "response").cast("bigint")
            ).alias("n_response"),
            F.sum("content_length").alias("total_payload_bytes"),
        )
        .orderBy("doc_id")
    )


_WARC_HTML_ORACLE = """
WITH exp AS (
  SELECT doc_id,
         list_filter([
           'Doc ' || CASE WHEN doc_id % 2 = 0 THEN 'D&' ELSE '&' END
                  || CAST(doc_id AS VARCHAR),
           trim(text || ' ' || lang),
           lang,
           source
         ], x -> x <> '') AS lines
  FROM documents
)
SELECT doc_id,
       array_to_string(lines, chr(10)) AS extracted_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(length(array_to_string(lines, chr(10))) AS BIGINT) AS n_chars
FROM exp ORDER BY doc_id
"""


@_register("warc_html_extract", _WARC_HTML_ORACLE)
def warc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl front half end-to-end: WARC archive → record walk
    → response filter → HTTP envelope strip → HTML main-text extraction
    (``functions/html.py``: script/style/head dropped with raw-text
    handling — the planted ``</div>`` inside a script must NOT terminate
    early — named and numeric character references decoded, block
    boundaries to newlines, whitespace collapsed). The oracle constructs
    the expected text from the template fields, so a wrong drop scope,
    entity decode, or block split breaks the hash."""
    return staged_sort(
        _warc_main_text(spark, sf_dir, _warc_fixture_encode).select(
            "doc_id",
            "extracted_text",
            F.size(F.split("extracted_text", "\n")).cast("bigint").alias(
                "n_lines"
            ),
            F.length("extracted_text").cast("bigint").alias("n_chars"),
        ),
        "doc_id",
    )


def _warc_fixture_encode_enveloped(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Same archive content as ``_warc_fixture_encode`` but the response
    record's HTTP envelope varies per doc — plain Content-Length, chunked
    (doc-dependent chunk sizes), gzip, chunked+deflate — the real-crawl
    wire forms the Content-Length-only fixture never exercised. Gate rows
    built on this encoder reuse the SAME oracle as their plain twins:
    the envelope must be invisible to extraction."""
    from ..sources.warc import encode_warc, http_response_wrap

    for pdf in batches:
        payloads = []
        for _, r in pdf.iterrows():
            d = int(r["doc_id"])
            html = _tpl_html(d, r["text"], r["lang"], r["source"]).encode()
            mode = d % 4
            if mode == 0:
                resp = http_response_wrap(html)
            elif mode == 1:
                resp = http_response_wrap(
                    html, chunked=True, chunk_size=1 + d % 97
                )
            elif mode == 2:
                resp = http_response_wrap(html, content_encoding="gzip")
            else:
                resp = http_response_wrap(
                    html,
                    chunked=True,
                    chunk_size=1 + d % 53,
                    content_encoding="deflate",
                )
            recs = [
                {"warc_type": "warcinfo",
                 "payload": _WARC_INFO_PAYLOAD.encode()},
                {"warc_type": "response",
                 "target_uri": f"http://example.test/{d}",
                 "content_type": "application/http;msgtype=response",
                 "payload": resp},
            ]
            payloads.append(encode_warc(recs, gzip_records=d % 2 == 1))
        out = pdf[["doc_id"]].copy()
        out["warc"] = payloads
        yield out


@_register("warc_html_extract_enveloped", _WARC_HTML_ORACLE)
def warc_html_extract_enveloped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``warc_html_extract``'s differential twin over REAL-crawl HTTP
    envelopes: the same documents wrapped as Transfer-Encoding: chunked
    (doc-dependent chunk sizes), Content-Encoding: gzip, and
    chunked+deflate (`sources/warc.py::http_response_body` de-chunks then
    decompresses). The oracle is byte-identical to the plain-envelope
    row's — one leaked chunk-size line or compressed byte breaks the
    hash, which is exactly the bug class the verdict flagged
    (Content-Length-only envelope handling)."""
    return staged_sort(
        _warc_main_text(spark, sf_dir, _warc_fixture_encode_enveloped).select(
            "doc_id",
            "extracted_text",
            F.size(F.split("extracted_text", "\n")).cast("bigint").alias(
                "n_lines"
            ),
            F.length("extracted_text").cast("bigint").alias("n_chars"),
        ),
        "doc_id",
    )


_URL_DEDUP_ORACLE = """
WITH f AS (
  SELECT doc_id, (doc_id // 8) % 40 AS p, doc_id % 8 AS v FROM documents
),
canon AS (
  SELECT doc_id,
         CASE WHEN v IN (0, 1, 2, 3, 5, 6)
              THEN 'http://host' || p || '.com/page/' || p || '?a=1&b=2'
              WHEN v = 4
              THEN 'https://host' || p || '.com:8443/?a=1'
              ELSE 'http://[2001:db8::' || p || ']:8080/x?a=1' END
           AS canonical_url
  FROM f
)
SELECT doc_id, canonical_url,
       CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT)
         AS n_fetches,
       doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS keep
FROM canon ORDER BY doc_id
"""


@_register("url_dedup", _URL_DEDUP_ORACLE)
def url_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL dedup through the canonicalization grammar
    (``operators/web.py::canonical_url_expr``): the same page fetched as
    case-noisy host + default port + fragment, shuffled query params, or
    tracking-tagged (utm_*/gclid) must collapse to ONE canonical URL
    with the minimum doc as the surviving fetch; a genuinely different
    page (https + non-default port + different params, path-less form,
    a distinct IPv6 origin) must not. ADVICE-r11 adversaries included:
    a '?' INSIDE the fragment with a real query present (v=5 — the old
    first-'?' grammar read fragment text as params), userinfo + uppercase
    host + default port (v=6), and a bracketed IPv6 host with kept
    non-default port (v=7). The oracle is INDEPENDENT of the grammar —
    it asserts the expected canonical string in closed form from the
    fixture parameters, so any canonicalization bug (kept fragment,
    unsorted params, surviving tracking tag, mangled port, userinfo or
    bracket leak) breaks the hash."""
    from ..operators.web import url_dedup

    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id")
    p = (F.floor(F.col("doc_id") / 8) % 40).cast("string")
    v = F.col("doc_id") % 8
    url = (
        F.when(v == 0, F.concat(
            F.lit("http://host"), p, F.lit(".com/page/"), p,
            F.lit("?a=1&b=2")))
        .when(v == 1, F.concat(
            F.lit("HTTP://HOST"), p, F.lit(".COM:80/page/"), p,
            F.lit("?a=1&b=2#frag")))
        .when(v == 2, F.concat(
            F.lit("http://host"), p, F.lit(".com/page/"), p,
            F.lit("?b=2&a=1&utm_source=x")))
        .when(v == 3, F.concat(
            F.lit("http://host"), p, F.lit(".com/page/"), p,
            F.lit("?utm_campaign=y&gclid=z&a=1&b=2")))
        .when(v == 4, F.concat(
            F.lit("https://host"), p, F.lit(".com:8443?a=1")))
        .when(v == 5, F.concat(
            F.lit("http://host"), p, F.lit(".com/page/"), p,
            F.lit("?b=2&a=1#frag?c=3&utm_source=t")))
        .when(v == 6, F.concat(
            F.lit("http://u:pw@HOST"), p, F.lit(".com:80/page/"), p,
            F.lit("?a=1&b=2")))
        .otherwise(F.concat(
            F.lit("http://[2001:DB8::"), p, F.lit("]:8080/x?a=1#sec")))
    )
    inp = docs.select("doc_id", url.alias("url"))
    return url_dedup(inp, "doc_id", "url").orderBy("doc_id")


_UNICODE_ORACLE = """
WITH inp AS (
  SELECT doc_id,
         text || CASE doc_id % 4
           WHEN 0 THEN ' cafe' || chr(769)
           WHEN 1 THEN ' ' || chr(64257) || 'le ' || chr(9312)
           WHEN 2 THEN ' ' || chr(8491) || 'ngstro' || chr(776) || 'm'
           ELSE '' END AS raw,
         text || CASE doc_id % 4
           WHEN 0 THEN ' caf' || chr(233)
           WHEN 1 THEN ' file 1'
           WHEN 2 THEN ' ' || chr(197) || 'ngstr' || chr(246) || 'm'
           ELSE '' END AS nfkc_expected
  FROM documents
)
SELECT doc_id,
       nfc_normalize(raw) AS nfc_text,
       nfkc_expected AS nfkc_text,
       CAST(length(nfc_normalize(raw)) AS INT) AS nfc_chars,
       CAST(length(nfkc_expected) AS INT) AS nfkc_chars
FROM inp ORDER BY doc_id
"""


@_register("unicode_normalize", _UNICODE_ORACLE)
def unicode_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC/NFKC normalization through the curation seam: each doc
    gets a planted denormalized suffix (combining acute, the fi ligature +
    circled one, the angstrom sign + combining diaeresis) and the operator
    canonicalizes it. TWO independent referees: the NFC column is checked
    against DuckDB's ICU ``nfc_normalize`` (a different UCD implementation
    than CPython's ``unicodedata``), and the NFKC column against
    hand-derived published compatibility mappings."""
    from ..operators.curation import normalize_unicode

    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    # explicit escapes: the inputs are the DECOMPOSED wire forms
    # (e + U+0301, U+FB01 ligature + U+2460, U+212B + o + U+0308)
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" cafe\u0301"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" \ufb01le \u2460"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" \u212bngstro\u0308m"))
        .otherwise(F.lit(""))
    )
    raw = docs.select("doc_id", F.concat("text", suffix).alias("raw"))
    out = normalize_unicode(raw, "raw")
    return staged_sort(
        out.select(
        "doc_id",
        "nfc_text",
        "nfkc_text",
        F.length("nfc_text").cast("int").alias("nfc_chars"),
        F.length("nfkc_text").cast("int").alias("nfkc_chars"),
    ),
        "doc_id",
    )


_CC_PIPELINE_ORACLE = f"""
WITH exp AS (
  SELECT doc_id,
         list_filter([
           'Doc ' || CASE WHEN doc_id % 2 = 0 THEN 'D&' ELSE '&' END
                  || CAST(doc_id AS VARCHAR),
           trim(text || ' ' || lang),
           lang,
           source
         ], x -> x <> '') AS lines
  FROM documents
),
kept AS (
  SELECT doc_id,
         lines,
         list_filter(lines, l ->
           len(list_filter(string_split_regex(trim(l), '\\s+'),
                           w -> w <> '')) >= 2
           AND NOT contains(lower(l), 'javascript')) AS keptl
  FROM exp
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(keptl) AS BIGINT) AS n_kept_lines,
       len(keptl) >= 2 AS keep_doc,
       CAST(len(list_filter(regexp_split_to_array(
              lower(coalesce(array_to_string(keptl, chr(10)), '')), '\\W+'),
            x -> x <> '')) AS BIGINT) AS n_tokens
FROM kept ORDER BY doc_id
"""


def _cc_ingest(spark: SparkSession, sf_dir: str, encode) -> DataFrame:
    """The CC ingest funnel over the WARC fixture ``encode`` writes."""
    from ..operators.curation import c4_line_filter

    filtered = c4_line_filter(
        _warc_main_text(spark, sf_dir, encode),
        "doc_id",
        "extracted_text",
        min_words_per_line=2,
        require_terminal_punct=False,
        min_kept_lines=2,
    )
    return staged_sort(
        filtered.select(
            F.col("doc").alias("doc_id"),
            "n_lines",
            "n_kept_lines",
            "keep_doc",
            token_count_expr(F.col("kept_text")).cast("bigint").alias("n_tokens"),
        ),
        "doc_id",
    )


@_register("cc_ingest_pipeline", _CC_PIPELINE_ORACLE)
def cc_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl ingest chain composed end-to-end: WARC archive →
    record walk → HTTP envelope strip → HTML main-text extraction →
    C4 line filter (the extracted text is MULTI-line, so the line rules
    bite for real here: 1-word lang/source lines drop, the heading and
    body lines survive) → token accounting on the surviving text. One
    narrow pipeline, no shuffles until the final orderBy."""
    return _cc_ingest(spark, sf_dir, _warc_fixture_encode)


@_register("cc_ingest_envelope_invariance", _CC_PIPELINE_ORACLE)
def cc_ingest_envelope_invariance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composed CC ingest funnel over the ENVELOPED fixture (chunked /
    gzip / chunked+deflate HTTP wire forms) with the byte-identical oracle
    of ``cc_ingest_pipeline`` — the chunked-vs-content-length differential
    referee as a hash-gate row: the HTTP framing must be invisible to the
    whole funnel (extraction, C4 line rules, token accounting)."""
    return _cc_ingest(spark, sf_dir, _warc_fixture_encode_enveloped)


_URL_ORACLE = """
WITH urls AS (
  SELECT doc_id, lang,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://h' ||
    CAST(doc_id % 37 AS VARCHAR) ||
    (CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END) ||
    (CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
    '/p/' || CAST(doc_id AS VARCHAR) || '?q=' || lang || '&x=1' ||
    (CASE WHEN doc_id % 3 = 0 THEN '#f' || CAST(doc_id AS VARCHAR)
          ELSE '' END) AS url
  FROM documents
),
parsed AS (
  SELECT doc_id, lang,
         regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
         regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q,
         regexp_replace(url, '#.*$', '') AS canonical
  FROM urls
)
SELECT host,
       regexp_extract(host, '(\\.[a-z]+)$', 1) AS tld,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT q) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical
FROM parsed
GROUP BY host ORDER BY host
"""


@_register("url_host_rollup", _URL_ORACLE)
def url_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL analysis for crawl pipelines, zero UDFs: synthetic but fully
    varied URLs (scheme, host, explicit port, path, query, fragment) go
    through Spark's JVM-side ``parse_url`` — HOST must strip the port,
    QUERY key lookup must stop at the fragment — then a per-host rollup
    (doc count, distinct query langs, fragment-stripped canonical URL
    dedup). The oracle re-parses with plain regex, so the two engines'
    URL grammars are checked against each other."""
    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id", "lang")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(
            F.lit("http")
        ),
        F.lit("://h"),
        (F.col("doc_id") % 37).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".com"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".org"))
        .otherwise(F.lit(".net")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        F.col("lang"),
        F.lit("&x=1"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("#f"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    parsed = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q"),
        F.regexp_replace(url, "#.*$", "").alias("canonical"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("q").alias("n_langs"),
            F.count_distinct("canonical").alias("n_canonical"),
        )
        .select(
            "host",
            F.regexp_extract("host", r"(\.[a-z]+)$", 1).alias("tld"),
            "n_docs",
            "n_langs",
            "n_canonical",
        )
        .orderBy("host")
    )


_SCRIPT_ORACLE = """
WITH inp AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 1 THEN ' ' || chr(19990) || chr(30028) || chr(21644) || chr(24179)
           WHEN 2 THEN ' ' || chr(1084) || chr(1080) || chr(1088)
           WHEN 3 THEN ' ' || chr(1587) || chr(1604) || chr(1575) || chr(1605)
           WHEN 4 THEN ' ' || chr(949) || chr(953) || chr(961) || chr(951)
           ELSE '' END AS s
  FROM documents
),
counts AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(s, '\\p{Latin}')) AS BIGINT) AS n_latin,
         CAST(len(regexp_extract_all(s, '\\p{Han}')) AS BIGINT) AS n_han,
         CAST(len(regexp_extract_all(s, '\\p{Cyrillic}')) AS BIGINT)
           AS n_cyrillic,
         CAST(len(regexp_extract_all(s, '\\p{Arabic}')) AS BIGINT) AS n_arabic,
         CAST(len(regexp_extract_all(s, '\\p{Greek}')) AS BIGINT) AS n_greek
  FROM inp
)
SELECT doc_id, n_latin, n_han, n_cyrillic, n_arabic, n_greek,
       CASE
         WHEN n_latin >= n_han AND n_latin >= n_cyrillic
              AND n_latin >= n_arabic AND n_latin >= n_greek THEN 'latin'
         WHEN n_han >= n_cyrillic AND n_han >= n_arabic
              AND n_han >= n_greek THEN 'han'
         WHEN n_cyrillic >= n_arabic AND n_cyrillic >= n_greek
              THEN 'cyrillic'
         WHEN n_arabic >= n_greek THEN 'arabic'
         ELSE 'greek'
       END AS dominant_script
FROM counts ORDER BY doc_id
"""


@_register("script_profile", _SCRIPT_ORACLE)
def script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system detection — the pre-tokenizer routing signal a
    multilingual pipeline needs before language-ID: per-script character
    counts via Unicode script property classes, entirely native regex on
    BOTH engines but through genuinely different regex implementations
    (Java's ``\\p{script=...}`` vs RE2's ``\\p{...}``), so the two
    engines' Unicode script tables referee each other. The corpus is
    ASCII, so planted Han/Cyrillic/Arabic/Greek suffixes drive the
    non-latin counts."""
    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    suffix = (
        F.when(F.col("doc_id") % 5 == 1, F.lit(" 世界和平"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" мир"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" سلام"))
        .when(F.col("doc_id") % 5 == 4, F.lit(" ειρη"))
        .otherwise(F.lit(""))
    )
    s = F.concat("text", suffix)
    counts = docs.select(
        "doc_id",
        F.regexp_count(s, F.lit(r"\p{script=Latin}")).cast("bigint").alias(
            "n_latin"
        ),
        F.regexp_count(s, F.lit(r"\p{script=Han}")).cast("bigint").alias(
            "n_han"
        ),
        F.regexp_count(s, F.lit(r"\p{script=Cyrillic}")).cast("bigint").alias(
            "n_cyrillic"
        ),
        F.regexp_count(s, F.lit(r"\p{script=Arabic}")).cast("bigint").alias(
            "n_arabic"
        ),
        F.regexp_count(s, F.lit(r"\p{script=Greek}")).cast("bigint").alias(
            "n_greek"
        ),
    )
    dom = (
        F.when(
            (F.col("n_latin") >= F.col("n_han"))
            & (F.col("n_latin") >= F.col("n_cyrillic"))
            & (F.col("n_latin") >= F.col("n_arabic"))
            & (F.col("n_latin") >= F.col("n_greek")),
            F.lit("latin"),
        )
        .when(
            (F.col("n_han") >= F.col("n_cyrillic"))
            & (F.col("n_han") >= F.col("n_arabic"))
            & (F.col("n_han") >= F.col("n_greek")),
            F.lit("han"),
        )
        .when(
            (F.col("n_cyrillic") >= F.col("n_arabic"))
            & (F.col("n_cyrillic") >= F.col("n_greek")),
            F.lit("cyrillic"),
        )
        .when(F.col("n_arabic") >= F.col("n_greek"), F.lit("arabic"))
        .otherwise(F.lit("greek"))
    )
    return staged_sort(
        counts.withColumn("dominant_script", dom),
        "doc_id",
    )


_JSONL_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum({hash60_sql('text')} % 1000003) AS BIGINT) AS text_hash_sum,
       CAST(sum({hash60_sql("lang || '|' || source")} % 1000003) AS BIGINT)
         AS meta_hash_sum,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids
FROM documents
"""


@_register("jsonl_roundtrip", _JSONL_ORACLE)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round-trip (``sources/jsonl.py``) — the
    interchange format training corpora ship in: documents → gzip JSONL
    via native ``to_json``/text sink → back through ``spark.read.json``
    with an explicit schema and FAILFAST — then content fingerprints over
    the ROUND-TRIPPED frame. The oracle computes the same fingerprints
    from the original parquet table, so any JSON escaping loss, encoding slip,
    or dropped/duplicated line breaks the hash."""
    import hashlib
    import os
    import tempfile

    from ..sources.jsonl import read_jsonl, write_jsonl

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"jsonl_rt_{key}")
    write_jsonl(docs, path, gzip=True, n_files=4)
    back = read_jsonl(
        spark, path, "doc_id bigint, text string, lang string, source string"
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum(F.pmod(hash60_expr(F.col("text")), F.lit(1000003)))
        .cast("bigint")
        .alias("text_hash_sum"),
        F.sum(
            F.pmod(
                hash60_expr(F.concat_ws("|", "lang", "source")),
                F.lit(1000003),
            )
        )
        .cast("bigint")
        .alias("meta_hash_sum"),
        F.count_distinct("doc_id").alias("n_ids"),
    )


_CC_PDF_ORACLE = """
WITH cfg AS (
  SELECT doc_id, text, lang,
    string_split(text, ' ') AS words,
    doc_id % 5 + 3 AS wpl
  FROM documents
), sized AS (
  SELECT *, len(words) AS nw,
    CAST(ceil(len(words) / CAST(wpl AS DOUBLE)) AS BIGINT) AS n_lines
  FROM cfg
)
SELECT doc_id,
  array_to_string(
    list_transform(range(1, nw + 1), i ->
      words[i] || CASE WHEN i = nw THEN ''
                       WHEN i % wpl = 0 THEN chr(10)
                       ELSE ' ' END), '') AS pdf_text,
  CAST(ceil(n_lines / CAST(doc_id % 3 + 2 AS DOUBLE)) AS INT) AS pdf_pages,
  CAST(len(list_filter(regexp_split_to_array(lower(text || ' ' || lang),
       '\\W+'), x -> x <> '')) AS BIGINT) AS html_tokens
FROM sized ORDER BY doc_id
"""


def _fixture_pdf_pages(d: int, text: str) -> list[list[str]]:
    """Doc ``d``'s words laid out as PDF fixture pages: ``d % 5 + 3``
    words per line, ``d % 3 + 2`` lines per page."""
    words = str(text).split(" ")
    wpl, lpp = d % 5 + 3, d % 3 + 2
    lines = [
        " ".join(words[j : j + wpl])
        for j in range(0, len(words), wpl)
    ]
    return [lines[k : k + lpp] for k in range(0, len(lines), lpp)]


@_register("cc_pdf_ingest", _CC_PDF_ORACLE)
def cc_pdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-ingestion chain with MIXED media routed by URI: each
    fixture WARC carries a warcinfo record, an HTML response AND a PDF
    response whose HTTP envelopes rotate Content-Length / chunked /
    gzip framing (and the PDFs rotate Flate compression), exactly the
    mess a real CC segment hands the reader. One record walk feeds two
    extraction branches — HTML main text and PDF page text — re-joined
    per document. The PDF branch's oracle rebuilds the typeset text
    newline-for-newline; the HTML branch re-counts tokens from the
    template arithmetic. A mis-routed record, a leaked chunk-size line
    or an un-stripped envelope breaks one side's hash."""
    from ..operators.web import extract_main_text, pdf_text_extract, warc_records
    from ..functions.text import tokens_expr

    from ..functions.pdf import encode_pdf
    from ..sources.warc import encode_warc, http_response_wrap

    def payload(d: int, text: str, lang: str) -> bytes:
        pdf_bytes = encode_pdf(_fixture_pdf_pages(d, text), compress=d % 2 == 0)
        html = (
            f"<html><body><p>{text}</p>"
            f"<ul><li>{lang}</li></ul></body></html>"
        )
        env = d % 3
        recs = [
            {"warc_type": "warcinfo", "payload": b"robots: classic"},
            {
                "warc_type": "response",
                "target_uri": f"http://example.test/{d}.html",
                "content_type": "application/http;msgtype=response",
                "payload": http_response_wrap(
                    html.encode(),
                    chunked=env == 0,
                    chunk_size=48,
                    content_encoding="gzip" if env == 1 else None,
                ),
            },
            {
                "warc_type": "response",
                "target_uri": f"http://example.test/{d}.pdf",
                "content_type": "application/http;msgtype=response",
                "payload": http_response_wrap(
                    pdf_bytes,
                    content_type="application/pdf",
                    chunked=env == 2,
                    chunk_size=96,
                    content_encoding="deflate" if env == 0 else None,
                ),
            },
        ]
        return encode_warc(recs, gzip_records=d % 2 == 1)

    archives = media_fixture(
        spark, sf_dir, payload, cols=("text", "lang"), name="warc"
    )
    responses = warc_records(archives, "warc").filter(
        F.col("warc_type") == "response"
    )
    pdf_side = (
        pdf_text_extract(
            responses.filter(F.col("target_uri").endswith(".pdf")),
            "payload",
            out_col="pdf_text",
            http=True,
        )
        .select("doc_id", "pdf_text", F.col("n_pages").alias("pdf_pages"))
    )
    html_side = (
        extract_main_text(
            responses.filter(F.col("target_uri").endswith(".html")),
            "payload",
            http=True,
        )
        .select(
            "doc_id",
            F.size(tokens_expr(F.col("extracted_text")))
            .cast("bigint")
            .alias("html_tokens"),
        )
    )
    return staged_sort(
        pdf_side.join(html_side, "doc_id")
        .select("doc_id", "pdf_text", "pdf_pages", "html_tokens"),
        "doc_id",
    )


def _fixture_robots_bodies(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Shared robots.txt fixture grid for the admission rows (host id
    column ``hid`` in, (host, robots) out)."""
    for pdf in batches:
        out_host, out_robots = [], []
        for hid in pdf["hid"]:
            h = int(hid)
            lines = [
                "# fixture robots for host %d" % h,
                "Sitemap: http://h%d.test/sitemap.xml" % h,
                "User-agent: *   # the catch-all group",
                "Disallow: /private/",
                "Allow: /private/ok/",
                "Crawl-delay: %d" % (h % 2 + 1),
            ]
            if h % 4 == 0:
                lines.append("Disallow: /*.bak$")
            if h % 4 == 1:
                lines += ["Disallow: /tmp/*", "Allow: /tmp/keep/"]
            if h % 3 == 0:
                lines += [
                    "",
                    "User-agent: TrainingBot",
                    "Disallow: /bot/",
                    "Allow: /",
                ]
            out_host.append("h%d.test" % h)
            out_robots.append("\n".join(lines) + "\n")
        yield pd.DataFrame({"host": out_host, "robots": out_robots})


_ROBOTS_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id % 40 AS h, doc_id % 6 AS p,
    'h' || CAST(doc_id % 40 AS VARCHAR) || '.test' AS host,
    CASE doc_id % 6
      WHEN 0 THEN '/private/ok/page' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/sec' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN '/tmp/file' || CAST(doc_id AS VARCHAR) || '.bak'
      WHEN 4 THEN '/bot/x' || CAST(doc_id AS VARCHAR)
      ELSE '/tmp/keep/y' || CAST(doc_id AS VARCHAR)
    END AS path
  FROM documents
)
SELECT doc_id, host, path,
  CASE
    WHEN h % 3 = 0 THEN p <> 4
    WHEN p = 1 THEN false
    WHEN p = 3 AND h % 4 IN (0, 1) THEN false
    ELSE true
  END AS allowed,
  CASE
    WHEN h % 3 = 0 THEN CASE WHEN p = 4 THEN '/bot/' ELSE '/' END
    WHEN p = 0 THEN '/private/ok/'
    WHEN p = 1 THEN '/private/'
    WHEN p = 3 AND h % 4 = 0 THEN '/*.bak$'
    WHEN p = 3 AND h % 4 = 1 THEN '/tmp/*'
    WHEN p = 5 AND h % 4 = 1 THEN '/tmp/keep/'
    ELSE NULL
  END AS matched_pattern
FROM cfg ORDER BY doc_id
"""


@_register("robots_url_filter", _ROBOTS_ORACLE)
def robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 crawl admission end-to-end: 40 hosts carry fixture
    robots.txt bodies exercising group selection (every third host has
    a dedicated ``trainingbot`` group that OVERRIDES the ``*`` group
    entirely), longest-match precedence (``Allow: /private/ok/`` inside
    ``Disallow: /private/``), wildcards + end anchors (``/*.bak$``,
    ``/tmp/*`` vs ``Allow: /tmp/keep/``), comments, crawl-delay and
    sitemap lines. The rule table parses once per host and BROADCASTS;
    URL admission is one regexp pass + a map-side-combinable
    max(struct) — the oracle replays every decision AND the winning
    pattern, so a wrong group pick, tie-break or anchor translation
    flips a concrete row."""
    from ..operators.web import robots_filter, robots_rules

    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 40).cast("string"), F.lit(".test"))
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/private/ok/page"), d.cast("string")))
        .when(d % 6 == 1, F.concat(F.lit("/private/sec"), d.cast("string")))
        .when(d % 6 == 2, F.concat(F.lit("/public/p"), d.cast("string")))
        .when(d % 6 == 3, F.concat(F.lit("/tmp/file"), d.cast("string"), F.lit(".bak")))
        .when(d % 6 == 4, F.concat(F.lit("/bot/x"), d.cast("string")))
        .otherwise(F.concat(F.lit("/tmp/keep/y"), d.cast("string")))
    )
    urls = docs.select("doc_id", host.alias("host"), path.alias("path"))

    hosts = docs.select((d % 40).cast("int").alias("hid")).distinct()
    bodies = hosts.mapInPandas(
        _fixture_robots_bodies, "host string, robots string"
    )
    rules = robots_rules(bodies, "robots", agent="trainingbot")
    return (
        robots_filter(urls, rules)
        .select("doc_id", "host", "path", "allowed", "matched_pattern")
        .orderBy("doc_id")
    )


_WDS_ORACLE = """
SELECT doc_id,
  CAST(i AS INT) AS sample_idx,
  's/' || CAST(doc_id AS VARCHAR) || CASE WHEN i = 1 THEN 'x' ELSE '' END
    AS key,
  CAST(CASE WHEN i = 0 THEN 3 ELSE 1 END AS INT) AS n_parts,
  CASE WHEN i = 0 THEN 'cls,json,txt' ELSE 'seg.txt' END AS exts_csv,
  CASE WHEN i = 0 THEN text ELSE lang END AS part_text,
  CASE WHEN i = 0 THEN CAST(doc_id % 10 AS VARCHAR) ELSE NULL END AS label
FROM documents, UNNEST(range(0, 2)) AS t(i)
ORDER BY doc_id, i
"""


@_register("webdataset_ingest", _WDS_ORACLE)
def webdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard ingestion end-to-end: every document becomes a
    ustar shard holding TWO samples — (key.txt, key.json, key.cls) and
    a second key exercising the first-dot extension split
    (``.seg.txt``) — with gzip envelopes, ustar prefix-field name
    spelling and mtime grids rotating by doc. The shard walks back
    through checksum-verified member parsing and the consecutive-key
    sample grouping of :func:`operators.webdataset.wds_samples`; the
    oracle replays keys, part counts, extension sets and the text/label
    payload round trip. A checksum slip, a wrong 512-block pad or a
    broken key split shifts a concrete row."""
    from ..operators.webdataset import wds_samples

    from ..sources.tar import encode_tar

    def payload(d: int, text: str, lang: str) -> bytes:
        k = f"s/{d}"
        members = [
            (f"{k}.txt", str(text).encode()),
            (f"{k}.json",
             b'{"doc": %d, "lang": "%s"}'
             % (d, str(lang).encode())),
            (f"{k}.cls", str(d % 10).encode()),
            (f"{k}x.seg.txt", str(lang).encode()),
        ]
        return encode_tar(
            members,
            gzip_envelope=d % 2 == 0,
            mtime=d,
            prefix_split=d % 3 == 0,
        )

    shards = media_fixture(
        spark, sf_dir, payload, cols=("text", "lang"), name="shard"
    )
    samples = wds_samples(shards, "shard")
    return staged_sort(
        samples.select(
        "doc_id",
        "sample_idx",
        "key",
        "n_parts",
        F.concat_ws(",", "exts").alias("exts_csv"),
        F.coalesce(
            F.col("parts").getItem("txt"), F.col("parts").getItem("seg.txt")
        ).cast("string").alias("part_text"),
        F.col("parts").getItem("cls").cast("string").alias("label"),
    ),
        "doc_id",
        "sample_idx",
    )


_ZIP_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id AS d, text, lang FROM documents
)
SELECT doc_id,
  CAST(i AS INT) AS member_idx,
  CASE i WHEN 0 THEN 'd/' || CAST(doc_id AS VARCHAR) || '.txt'
         WHEN 1 THEN 'd/' || CAST(doc_id AS VARCHAR) || '.json'
         ELSE 'd/' || CAST(doc_id AS VARCHAR) || '.cls' END AS name,
  CAST(CASE i WHEN 0 THEN length(text)
              WHEN 1 THEN length('{"lang": "' || lang || '"}')
              ELSE length(CAST(d % 10 AS VARCHAR)) END AS BIGINT) AS size,
  CAST(CASE WHEN d % 2 = 0 THEN 8 ELSE 0 END AS INT) AS method,
  CASE i WHEN 0 THEN text
         WHEN 1 THEN '{"lang": "' || lang || '"}'
         ELSE CAST(d % 10 AS VARCHAR) END AS member_text
FROM cfg, UNNEST(range(0, 3)) AS t(i)
ORDER BY doc_id, i
"""


@_register("zip_ingest", _ZIP_ORACLE)
def zip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP archive ingestion end-to-end: each document becomes a
    three-member archive rotating STORED vs DEFLATE, bit-3 data
    descriptors and trailing archive comments (the EOCD backward-scan
    trap), walked back through the central directory with CRC
    verification by :func:`operators.webdataset.zip_members`. The
    oracle replays names, sizes, methods and the payload round trip; a
    wrong EOCD locate, a raw-window deflate slip or a skipped CRC
    check shifts a concrete row."""
    from ..operators.webdataset import zip_members

    from ..sources.zip import encode_zip

    def payload(d: int, text: str, lang: str) -> bytes:
        members = [
            (f"d/{d}.txt", str(text).encode()),
            (f"d/{d}.json",
             b'{"lang": "%s"}' % str(lang).encode()),
            (f"d/{d}.cls", str(d % 10).encode()),
        ]
        return encode_zip(
            members,
            deflate=d % 2 == 0,
            comment=b"c" * (d % 30),
            data_descriptors=d % 3 == 0,
            dos_time=d,
        )

    archives = media_fixture(
        spark, sf_dir, payload, cols=("text", "lang"), name="archive"
    )
    return staged_sort(
        zip_members(archives, "archive")
        .select(
            "doc_id",
            "member_idx",
            "name",
            "size",
            "method",
            F.col("payload").cast("string").alias("member_text"),
        ),
        "doc_id",
        "member_idx",
    )


_FRONTIER_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id % 40 AS h, doc_id % 6 AS p, doc_id AS d,
    'h' || CAST(doc_id % 40 AS VARCHAR) || '.test' AS host,
    CASE doc_id % 6
      WHEN 0 THEN '/private/ok/page' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/sec' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
              || '?a=1&b=2'
      WHEN 3 THEN '/tmp/file' || CAST(doc_id AS VARCHAR) || '.bak'
      WHEN 4 THEN '/bot/x' || CAST(doc_id AS VARCHAR)
      ELSE '/tmp/keep/y' || CAST(doc_id AS VARCHAR)
    END AS path
  FROM documents
)
SELECT doc_id,
  CASE WHEN d % 7 = 3 THEN 'plain' ELSE 'urlset' END AS kind,
  'http://' || host || path AS loc,
  CASE
    WHEN h % 3 = 0 THEN p <> 4
    WHEN p = 1 THEN false
    WHEN p = 3 AND h % 4 IN (0, 1) THEN false
    ELSE true
  END AS allowed,
  CASE WHEN d % 7 = 3 THEN NULL
    ELSE epoch_ms(TIMESTAMP '2020-01-01'
                  + to_days(CAST(d % 1000 AS INT))
                  + to_hours(CAST(d % 24 AS INT)))
  END AS lastmod_ms,
  CASE WHEN d % 7 = 3 OR d % 3 = 0 THEN NULL
    ELSE round((d % 11) / 10.0, 1) END AS priority,
  CASE WHEN d % 7 = 3 OR d % 5 = 4 THEN NULL
    ELSE ['always', 'hourly', 'daily', 'weekly', 'monthly',
          'yearly', 'never'][d % 7 + 1] END AS changefreq
FROM cfg ORDER BY doc_id
"""


@_register("crawl_frontier", _FRONTIER_ORACLE)
def crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-frontier composition the web lane builds toward:
    per-doc sitemap documents (urlset XML with ``&amp;``-escaped query
    URLs, W3C lastmod datetimes, changefreq/priority grids, gzip
    envelopes on every fifth doc, the plain-text one-URL-per-line form
    on every seventh) parse into entries, split into host/path, and
    pass through RFC 9309 admission against the SAME broadcast robots
    rule dim as ``robots_url_filter`` — sitemap discovery and
    politeness joined before a single fetch is spent. The oracle
    replays the entity-decoded loc, the epoch-millis lastmod
    arithmetic (refereed against CPython's datetime over a randomized
    grid in pytest), the priority clamp and every admission decision."""
    from ..operators.web import robots_filter, robots_rules, sitemap_entries

    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id")
    d = F.col("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import datetime as _dt
        import gzip as _gzip

        freqs = ("always", "hourly", "daily", "weekly", "monthly",
                 "yearly", "never")
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                dd = int(doc_id)
                h = dd % 40
                p = dd % 6
                path = (
                    f"/private/ok/page{dd}", f"/private/sec{dd}",
                    f"/public/p{dd}?a=1&b=2", f"/tmp/file{dd}.bak",
                    f"/bot/x{dd}", f"/tmp/keep/y{dd}",
                )[p]
                url = f"http://h{h}.test{path}"
                if dd % 7 == 3:
                    doc = url + "\n"
                else:
                    when = _dt.datetime(2020, 1, 1) + _dt.timedelta(
                        days=dd % 1000, hours=dd % 24
                    )
                    lastmod = when.strftime("%Y-%m-%dT%H:%M:%SZ")
                    fields = [
                        "<loc>" + url.replace("&", "&amp;") + "</loc>",
                        f"<lastmod>{lastmod}</lastmod>",
                    ]
                    if dd % 3 != 0:
                        fields.append(
                            f"<priority>{(dd % 11) / 10.0:.1f}</priority>"
                        )
                    if dd % 5 != 4:
                        fields.append(
                            f"<changefreq>{freqs[dd % 7]}</changefreq>"
                        )
                    doc = (
                        '<?xml version="1.0" encoding="UTF-8"?>\n'
                        '<urlset xmlns="http://www.sitemaps.org/schemas'
                        '/sitemap/0.9">\n<url>'
                        + "".join(fields)
                        + "</url>\n</urlset>\n"
                    )
                raw = doc.encode()
                payloads.append(
                    _gzip.compress(raw, 6) if dd % 5 == 0 else raw
                )
            out = pdf[["doc_id"]].copy()
            out["sitemap"] = payloads
            yield out

    maps = docs.mapInPandas(encode, "doc_id bigint, sitemap binary")
    entries = sitemap_entries(maps, "sitemap")
    urls = entries.select(
        "doc_id",
        "kind",
        "loc",
        "lastmod_ms",
        "changefreq",
        "priority",
        F.regexp_extract("loc", r"^https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("loc", r"^https?://[^/]+(/.*)$", 1).alias("path"),
    )
    hosts = docs.select((d % 40).cast("int").alias("hid")).distinct()
    bodies = hosts.mapInPandas(
        _fixture_robots_bodies, "host string, robots string"
    )
    rules = robots_rules(bodies, "robots", agent="trainingbot")
    admitted = robots_filter(urls, rules).select(
        "doc_id", "host", "path", "allowed"
    )
    return (
        urls.join(admitted, ["doc_id", "host", "path"])
        .select(
            "doc_id",
            "kind",
            "loc",
            "allowed",
            "lastmod_ms",
            "priority",
            "changefreq",
        )
        .orderBy("doc_id")
    )
