"""WARC ingestion as a Spark operator, oracle-backed by round trip.

The extraction job's A1 source is a scan over an Iceberg pages table,
but that table is itself loaded from Common Crawl's WARC archives —
this probe proves the repo owns that ingestion step.  Each Arrow batch
is serialized into ONE multi-record WARC blob (warcinfo + per-document
request and response records, each as its own gzip member — the Common
Crawl layout) by `gooselite.warc.write_warc`, then parsed back by
`read_warc`.  The probe emits, per response record, the target URI, the
HTTP status from the embedded HTTP message, and the md5 of the decoded
payload; the DuckDB oracle recomputes url and md5(text) straight from
the documents table, so the value hash matches iff gzip member
splitting, record framing, header parsing, Content-Length body framing
and HTTP header/payload separation are all correct — including
skipping the interleaved warcinfo/request records.

Scale shape (100 TB): one linear mapInPandas pass, no shuffle.  On a
real crawl the blob arrives per file split (spark.read.format
("binaryFile") or a list of (path, offset) splits since members are
independently decompressible) and the write half drops out; the parse
half is unchanged.
"""
from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from goose_spark.queries import load


def _roundtrip_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.warc import read_warc, write_warc

    for batch in it:
        if not len(batch):
            continue
        pages = [(f"https://example.com/doc/{int(i)}", (t or "").encode("utf-8"))
                 for i, t in zip(batch["doc_id"], batch["text"])]
        blob = write_warc(pages, gzip_records=True)
        recs = [r for r in read_warc(blob) if r.rec_type == "response"]
        yield pd.DataFrame({
            "doc_id": pd.Series([int(r.url.rsplit("/", 1)[1]) for r in recs],
                                dtype="int64"),
            "url": [r.url for r in recs],
            "http_status": pd.Series([r.http_status for r in recs],
                                     dtype="int64"),
            "payload_md5": [hashlib.md5(r.payload).hexdigest() for r in recs],
        })


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one gzipped multi-record WARC blob per Arrow batch →
    parsed back; one shuffle-free mapInPandas pass."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _roundtrip_batches,
        schema="doc_id long, url string, http_status long, payload_md5 string")


ORACLE_WARC_ROUNDTRIP = """
SELECT doc_id,
       'https://example.com/doc/' || doc_id AS url,
       CAST(200 AS BIGINT) AS http_status,
       md5(text) AS payload_md5
FROM documents
"""


# ------------------------------------------------- WARC → article extract --
# The end-to-end crawl chain: deterministic article page per document →
# WARC container (gzip members, warcinfo/request records interleaved) →
# WARC parse → full gooselite extraction on the response payload. The
# page is a known-extractable shape (one <article><p> holding a
# stopword-rich sentinel + the document text, plus a pure-link nav that
# link-density scoring must reject), so the extracted title and cleaned
# text are SQL-recomputable from the source row — the hash gate covers
# the WHOLE chain: WARC framing, charset decode, DOM parse, boilerplate
# rejection, top-node scoring and formatter whitespace normalization.
_WARC_SENTINEL = ("This is the article body and it has the words that "
                  "the scorer counts for all of the languages involved.")


def _page_html(doc_id: int, text: str) -> bytes:
    import html as _h

    body = _h.escape(f"{_WARC_SENTINEL} {text}".strip())
    return (
        f"<html><head><meta charset=\"utf-8\"><title>Doc {doc_id}</title>"
        f"</head><body><div><a href=\"/\">Home</a> <a href=\"/a\">About</a>"
        f"</div><article><p>{body}</p></article></body></html>"
    ).encode("utf-8")


def _extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite import extract_one
    from gooselite.warc import read_warc, write_warc

    for batch in it:
        if not len(batch):
            continue
        pages = [(f"https://example.com/doc/{int(i)}", _page_html(int(i), t or ""))
                 for i, t in zip(batch["doc_id"], batch["text"])]
        blob = write_warc(pages, gzip_records=True)
        out = {"doc_id": [], "title": [], "text_norm": [], "status": []}
        for rec in read_warc(blob):
            if rec.rec_type != "response":
                continue
            doc_id = int(rec.url.rsplit("/", 1)[1])
            # lang is pinned 'en': the corpus seed text is English-shaped
            # regardless of the documents.lang metadata column, and the
            # language-aware table path is pinned by the L1/L2 fixture
            # suites — this probe gates the container→extraction CHAIN.
            art = extract_one(rec.payload, "en", rec.url)
            out["doc_id"].append(doc_id)
            out["title"].append(art["title"])
            out["text_norm"].append(art["cleaned_text"])
            out["status"].append(art["status"])
        out["doc_id"] = pd.Series(out["doc_id"], dtype="int64")
        yield pd.DataFrame(out)


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-chain integration: page synth → WARC → parse → extract, one
    shuffle-free mapInPandas pass."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _extract_batches,
        schema="doc_id long, title string, text_norm string, status string")


ORACLE_WARC_EXTRACT = f"""
SELECT doc_id,
       'Doc ' || doc_id AS title,
       trim('{_WARC_SENTINEL} ' ||
            trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text_norm,
       'ok' AS status
FROM documents
"""


# ----------------------------------------------------------- WET export --
def _wet_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.warc import read_warc, write_wet

    for batch in it:
        if not len(batch):
            continue
        docs = [(f"https://example.com/doc/{int(i)}", t or "")
                for i, t in zip(batch["doc_id"], batch["text"])]
        blob = write_wet(docs, gzip_records=True)
        recs = [r for r in read_warc(blob) if r.rec_type == "conversion"]
        yield pd.DataFrame({
            "doc_id": pd.Series([int(r.url.rsplit("/", 1)[1]) for r in recs],
                                dtype="int64"),
            "url": [r.url for r in recs],
            "text_md5": [hashlib.md5(r.payload).hexdigest() for r in recs],
            "n_bytes": pd.Series([len(r.payload) for r in recs],
                                 dtype="int64"),
        })


def q_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's OUTPUT container: extracted text → WET sidecar
    (WARC `conversion` records, per-record gzip members) → parsed back;
    one shuffle-free mapInPandas pass. Proves conversion-record dispatch
    and that the writer emits spec-shaped records the reader (and any
    WET consumer) can split on member boundaries."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _wet_batches,
        schema="doc_id long, url string, text_md5 string, n_bytes long")


ORACLE_WET_EXPORT = """
SELECT doc_id,
       'https://example.com/doc/' || doc_id AS url,
       md5(text) AS text_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


# ------------------------------------------------------- salvage parse --
# Damage tolerance as a graded operator: real crawl archives contain
# corrupt gzip members, and a reader that discards the whole file on
# one bad member loses ~1 GB per bit-flip at CC scale. Each doc is
# written as its own 3-member WARC segment (warcinfo/request/response);
# docs with doc_id % 7 == 3 get the MIDDLE BYTE of their response
# member flipped (CRC-32 guarantees the member can never parse), and
# gooselite.warc.read_warc_salvage must drop exactly those responses
# while every surrounding member survives. The oracle recomputes the
# surviving set closed-form. The salvage COUNT is pytest-asserted on a
# fixed single batch instead (it depends on batch composition).
_SALVAGE_DROP_MOD = 7
_SALVAGE_DROP_RESIDUE = 3


def _member_spans(blob: bytes):
    import zlib

    spans, pos = [], 0
    while pos < len(blob):
        d = zlib.decompressobj(31)
        d.decompress(blob[pos:])
        d.flush()
        ln = len(blob) - pos - len(d.unused_data)
        spans.append((pos, ln))
        pos += ln
    return spans


def _salvage_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.warc import read_warc_salvage, write_warc

    for batch in it:
        if not len(batch):
            continue
        segs = []
        for i, t in zip(batch["doc_id"], batch["text"]):
            doc_id = int(i)
            seg = write_warc(
                [(f"https://example.com/doc/{doc_id}", (t or "").encode())],
                gzip_records=True)
            if doc_id % _SALVAGE_DROP_MOD == _SALVAGE_DROP_RESIDUE:
                start, ln = _member_spans(seg)[-1]  # the response member
                seg = bytearray(seg)
                seg[start + ln // 2] ^= 0xFF
                seg = bytes(seg)
            segs.append(seg)
        recs, _bad = read_warc_salvage(b"".join(segs))
        out = {"doc_id": [], "payload_md5": [], "http_status": []}
        for r in recs:
            if r.rec_type != "response":
                continue
            out["doc_id"].append(int(r.url.rsplit("/", 1)[1]))
            out["payload_md5"].append(hashlib.md5(r.payload).hexdigest())
            out["http_status"].append(r.http_status)
        yield pd.DataFrame({
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "payload_md5": out["payload_md5"],
            "http_status": pd.Series(out["http_status"], dtype="int64"),
        })


def q_warc_salvage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-member salvage: one shuffle-free mapInPandas pass; only
    the planted-bad responses disappear."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _salvage_batches,
        schema="doc_id long, payload_md5 string, http_status long")


ORACLE_WARC_SALVAGE = f"""
SELECT doc_id, md5(text) AS payload_md5, CAST(200 AS BIGINT) AS http_status
FROM documents
WHERE doc_id % {_SALVAGE_DROP_MOD} <> {_SALVAGE_DROP_RESIDUE}
"""


# ----------------------------------------------------------- WAT export --
# Completes the archive-container triple (WARC raw captures /
# q_warc_roundtrip, WET extracted text / q_wet_export, WAT metadata /
# this probe). Each page's html (the shared synth from
# corpusops.synth_link_page — ONE definition of the outlink formula) is
# parsed with the real DOM parser; its <title> and resolved outlinks
# become the page's JSON envelope (canonical form: sorted keys, no
# whitespace); the envelopes are serialized as WARC `metadata` records
# by gooselite.warc.write_wat and parsed BACK by read_warc — the
# emitted rows come from the parsed-back records, so the value hash
# gates metadata-record framing and JSON canonicalization end to end
# (the oracle rebuilds the exact envelope string closed-form and md5s
# it).
#
# Scale shape (100 TB): one linear mapInPandas pass, no shuffle; the
# broadcast 1-row count feeds the synth only (a real crawl reads html
# from the pages table and the crossJoin drops out).


def _wat_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import json as _json
    from urllib.parse import urljoin

    from goose_spark.corpusops import synth_link_page
    from gooselite.minidom import parse_html
    from gooselite.warc import read_warc, write_wat

    for batch in it:
        if not len(batch):
            continue
        entries = []
        for i, source, n in zip(batch["doc_id"], batch["source"],
                                batch["n"]):
            page_url, html = synth_link_page(int(i), source, int(n))
            root = parse_html(html)
            titles = root.get_elements_by_tag("title")
            links = [urljoin(page_url, (a.attrib or {}).get("href"))
                     for a in root.get_elements_by_tag("a")
                     if (a.attrib or {}).get("href")]
            env = {"links": links,
                   "title": titles[0].get_text().strip() if titles else "",
                   "url": page_url}
            entries.append((page_url, _json.dumps(
                env, sort_keys=True, separators=(",", ":")).encode()))
        blob = write_wat(entries, gzip_records=True)
        recs = [r for r in read_warc(blob) if r.rec_type == "metadata"]
        rows = {"doc_id": [], "url": [], "title": [], "n_links": [],
                "links": [], "wat_md5": []}
        for r in recs:
            env = _json.loads(r.payload)
            rows["doc_id"].append(int(env["url"].rsplit("/", 1)[1]))
            rows["url"].append(env["url"])
            rows["title"].append(env["title"])
            rows["n_links"].append(len(env["links"]))
            rows["links"].append("|".join(env["links"]))
            rows["wat_md5"].append(hashlib.md5(r.payload).hexdigest())
        yield pd.DataFrame({
            "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
            "url": pd.Series(rows["url"], dtype="object"),
            "title": pd.Series(rows["title"], dtype="object"),
            "n_links": pd.Series(rows["n_links"], dtype="int32"),
            "links": pd.Series(rows["links"], dtype="object"),
            "wat_md5": pd.Series(rows["wat_md5"], dtype="object"),
        })


def q_wat_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    n_df = d.groupBy().agg(F.count(F.lit(1)).alias("n"))
    src = d.select("doc_id", "source").crossJoin(F.broadcast(n_df))
    return src.mapInPandas(
        _wat_batches,
        schema=("doc_id long, url string, title string, n_links int, "
                "links string, wat_md5 string"))


def _oracle_wat_export() -> str:
    from goose_spark.corpusops import LINK_DST_SQL

    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
d AS (SELECT doc_id, source, n,
             'https://' || source || '.example/d/' ||
             CAST(doc_id AS VARCHAR) AS url
      FROM documents, nn),
e AS (SELECT doc_id, url, source, n,
             unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS pos
      FROM d),
edges AS (
  SELECT doc_id, url, pos,
         'https://' || source || '.example/d/' ||
         CAST({LINK_DST_SQL} AS VARCHAR) AS dst_url
  FROM e),
agg AS (
  SELECT doc_id, url, list(dst_url ORDER BY pos) AS links
  FROM edges GROUP BY doc_id, url),
env AS (
  SELECT doc_id, url, links,
         '{{"links":["' || array_to_string(links, '","')
          || '"],"title":"doc ' || CAST(doc_id AS VARCHAR)
          || '","url":"' || url || '"}}' AS payload
  FROM agg)
SELECT doc_id, url, 'doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(len(links) AS INT) AS n_links,
       array_to_string(links, '|') AS links,
       md5(payload) AS wat_md5
FROM env
"""


ORACLE_WAT_EXPORT = _oracle_wat_export()


def _http_responses(doc_id: int, source: str):
    """Closed-form synthetic HTTP response for a doc: the five shapes a
    crawler's status-handling path must dispatch on (ok, permanent
    redirect, not-found, alternate media type, throttle). Every field
    is a pure function of (doc_id, source) so the DuckDB oracle can
    recompute the parsed columns exactly."""
    url = f"https://{source}.example/d/{doc_id}"
    k = doc_id % 5
    if k == 0:
        return (url, b"ok " * (doc_id % 7 + 1), "200 OK",
                [("Content-Type", "text/html; charset=utf-8")])
    if k == 1:
        return (url, b"", "301 Moved Permanently",
                [("Content-Type", "text/html"),
                 ("Location", f"https://{source}.example/moved/{doc_id}")])
    if k == 2:
        return (url, b"", "404 Not Found",
                [("Content-Type", "text/html")])
    if k == 3:
        return (url, b"ok " * (doc_id % 7 + 1), "200 OK",
                [("Content-Type", "text/plain; charset=iso-8859-1")])
    return (url, b"", "503 Service Unavailable",
            [("Content-Type", "text/html"),
             ("Retry-After", str(doc_id % 120))])


def _http_header_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.warc import parse_http_headers, read_warc, write_warc

    for batch in it:
        if not len(batch):
            continue
        pages = [_http_responses(int(i), s)
                 for i, s in zip(batch["doc_id"], batch["source"])]
        blob = write_warc(pages, gzip_records=True)
        rows = {"doc_id": [], "url": [], "status": [], "content_type": [],
                "charset": [], "location": [], "retry_after": [],
                "is_redirect": [], "body_len": []}
        for r in read_warc(blob):
            if r.rec_type != "response":
                continue
            h = parse_http_headers(r.http_headers)
            ct = h.get("content-type", "")
            media, _, param = ct.partition(";")
            charset = ""
            if "charset=" in param:
                charset = param.split("charset=", 1)[1].strip()
            rows["doc_id"].append(int(r.url.rsplit("/", 1)[1]))
            rows["url"].append(r.url)
            rows["status"].append(int(r.http_status))
            rows["content_type"].append(media.strip())
            rows["charset"].append(charset)
            rows["location"].append(h.get("location", ""))
            rows["retry_after"].append(int(h.get("retry-after", -1)))
            rows["is_redirect"].append(300 <= r.http_status < 400)
            rows["body_len"].append(len(r.payload))
        yield pd.DataFrame({
            "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
            "url": pd.Series(rows["url"], dtype="object"),
            "status": pd.Series(rows["status"], dtype="int32"),
            "content_type": pd.Series(rows["content_type"], dtype="object"),
            "charset": pd.Series(rows["charset"], dtype="object"),
            "location": pd.Series(rows["location"], dtype="object"),
            "retry_after": pd.Series(rows["retry_after"], dtype="int32"),
            "is_redirect": pd.Series(rows["is_redirect"], dtype="bool"),
            "body_len": pd.Series(rows["body_len"], dtype="int32"),
        })


def q_http_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP response-header parse over WARC response records — the
    status-dispatch step between fetch and extraction (redirect
    following, error skipping, throttle backoff, media-type routing).
    One linear mapInPandas pass, no shuffle; at crawl scale the WARC
    blob arrives per file split and the synth half drops out."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "source").mapInPandas(
        _http_header_batches,
        schema=("doc_id long, url string, status int, content_type string,"
                " charset string, location string, retry_after int,"
                " is_redirect boolean, body_len int"))


ORACLE_HTTP_HEADERS = """
SELECT doc_id,
       'https://' || source || '.example/d/' || CAST(doc_id AS VARCHAR)
           AS url,
       CAST(CASE doc_id % 5 WHEN 1 THEN 301 WHEN 2 THEN 404
            WHEN 4 THEN 503 ELSE 200 END AS INT) AS status,
       CASE doc_id % 5 WHEN 3 THEN 'text/plain' ELSE 'text/html' END
           AS content_type,
       CASE doc_id % 5 WHEN 0 THEN 'utf-8' WHEN 3 THEN 'iso-8859-1'
            ELSE '' END AS charset,
       CASE doc_id % 5 WHEN 1 THEN 'https://' || source ||
            '.example/moved/' || CAST(doc_id AS VARCHAR) ELSE '' END
           AS location,
       CAST(CASE doc_id % 5 WHEN 4 THEN doc_id % 120 ELSE -1 END AS INT)
           AS retry_after,
       doc_id % 5 = 1 AS is_redirect,
       CAST(CASE WHEN doc_id % 5 IN (0, 3) THEN 3 * (doc_id % 7 + 1)
            ELSE 0 END AS INT) AS body_len
FROM documents
"""
