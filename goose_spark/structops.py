"""Structured-data harvesting from pages (round 4): JSON-LD article
metadata and web-table extraction — the two structured channels a
modern extractor reads BESIDE the article text (schema.org JSON-LD is
today's canonical publish-date/headline source; HTML tables feed
tabular training data).

Both probes synthesize the structured payload per doc from closed-form
doc_id-keyed rules, run the REAL parser chain on workers
(gooselite.minidom with keep_raw_text=True for script payloads +
stdlib json), and gate the extracted values against a DuckDB oracle
that recomputes them closed-form — a hash match proves the parser,
the script-payload retention path, and the JSON/table walk extracted
exactly what was planted. One mapInPandas pass each, no shuffle of
page bytes.
"""

from __future__ import annotations

import hashlib
import json
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goose_spark.queries import load


# -------------------------------------------------------------- JSON-LD --
def _jsonld_pages(batches):
    from gooselite.minidom import parse_html

    for pdf in batches:
        out = {"doc_id": [], "headline": [], "date_published": [],
               "word_count": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            doc_id = int(doc_id)
            day = doc_id % 28 + 1
            payload = json.dumps({
                "@context": "https://schema.org",
                "@type": "NewsArticle",
                "headline": f"headline {doc_id}",
                "datePublished": f"2026-01-{day:02d}",
                # trim + ASCII \s+ split, matching the oracle's
                # string_split_regex(trim(text), '\s+') exactly (str
                # .split() would diverge on empty text — 0 vs 1 — and
                # on non-ASCII whitespace, which Python \s matches but
                # RE2/Java \s does not without re.ASCII)
                "wordCount": len(re.split(
                    r"\s+", (text or "").strip(), flags=re.ASCII)),
            })
            html = (
                "<html><head>"
                f'<script type="application/ld+json">{payload}</script>'
                '<script>var decoy = {"headline": "not this one"};</script>'
                f"</head><body><p>{(text or '')[:60]}</p></body></html>")
            root = parse_html(html, keep_raw_text=True)
            meta = {}
            for s in root.get_elements_by_tag("script"):
                if (s.attrib or {}).get("type") == "application/ld+json":
                    try:
                        meta = json.loads(s.raw_text())
                    except ValueError:
                        meta = {}
                    break
            out["doc_id"].append(doc_id)
            out["headline"].append(meta.get("headline"))
            out["date_published"].append(meta.get("datePublished"))
            out["word_count"].append(int(meta.get("wordCount", -1)))
        yield pd.DataFrame({
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "headline": pd.Series(out["headline"], dtype="object"),
            "date_published": pd.Series(out["date_published"],
                                        dtype="object"),
            "word_count": pd.Series(out["word_count"], dtype="int64"),
        })


def q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD harvesting: the planted NewsArticle object
    must come back through DOM parse (script payload retained via the
    keep_raw_text opt-in), type-dispatch past a decoy plain script, and
    a JSON round-trip. wordCount ties the payload to the corpus text so
    the oracle cross-checks tokenization too."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _jsonld_pages,
        schema="doc_id long, headline string, date_published string,"
               " word_count long")


ORACLE_JSONLD_EXTRACT = """
SELECT doc_id,
       'headline ' || CAST(doc_id AS VARCHAR) AS headline,
       '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           AS date_published,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS word_count
FROM documents
"""


# ------------------------------------------------------ table extraction --
_TBL_ROWS = 3


def _table_pages(batches):
    from gooselite.minidom import parse_html

    for pdf in batches:
        out = {"doc_id": [], "n_rows": [], "col_sum": [], "cells_md5": []}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            rows = "".join(
                f"<tr><td>row {i}</td><td>{doc_id * i % 97}</td></tr>"
                for i in range(1, _TBL_ROWS + 1))
            html = (
                "<html><body><table>"
                "<tr><th>key</th><th>value</th></tr>"
                f"{rows}</table></body></html>")
            root = parse_html(html)
            cells, n_rows, col_sum = [], 0, 0
            for tr in root.get_elements_by_tag("tr"):
                tds = tr.get_elements_by_tag("td")
                if not tds:  # header row (th only)
                    continue
                n_rows += 1
                col_sum += int(tds[-1].get_text())
                cells.extend(td.get_text() for td in tds)
            out["doc_id"].append(doc_id)
            out["n_rows"].append(n_rows)
            out["col_sum"].append(col_sum)
            out["cells_md5"].append(
                hashlib.md5("|".join(cells).encode("utf-8")).hexdigest())
        yield pd.DataFrame({
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "n_rows": pd.Series(out["n_rows"], dtype="int64"),
            "col_sum": pd.Series(out["col_sum"], dtype="int64"),
            "cells_md5": pd.Series(out["cells_md5"], dtype="object"),
        })


def q_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-table harvesting: planted 2-column tables parsed back via
    the DOM walk (tr/td traversal, th header skipped), numeric column
    summed exactly, all cell texts md5-gated in traversal order."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _table_pages,
        schema="doc_id long, n_rows long, col_sum long, cells_md5 string")


_TBL_SUM = " + ".join(
    f"doc_id * {i} % 97" for i in range(1, _TBL_ROWS + 1))
_TBL_CELLS = " || '|' || ".join(
    f"'row {i}' || '|' || CAST(doc_id * {i} % 97 AS VARCHAR)"
    for i in range(1, _TBL_ROWS + 1))

ORACLE_TABLE_EXTRACT = f"""
SELECT doc_id,
       CAST({_TBL_ROWS} AS BIGINT) AS n_rows,
       CAST({_TBL_SUM} AS BIGINT) AS col_sum,
       md5({_TBL_CELLS}) AS cells_md5
FROM documents
"""


# ------------------------------------------------------- markdown export --
# The markdown output surface (gooselite/markdown.py): same content
# selection as the canonical flat text, but inline structure preserved
# (links as [label](href), bold/italic emphasis, '# title' heading).
# The page planted per doc keeps the oracle closed-form: only <p>
# blocks (post_cleanup never prunes <p> children, so survival is
# deterministic) with inline <a>/<b>/<i>; heading/list/blockquote/
# table rendering is pinned by unit tests on DOM nodes instead
# (tests/test_markdown.py). The md5 gate covers the WHOLE chain:
# page synth → parse → clean → score → markdown render.
_MD_SENTINEL = ("This is the article body and it has the words that "
                "the scorer counts for all of the languages involved.")


def _md_page(doc_id: int, text: str) -> bytes:
    import html as _h

    body = _h.escape(f"{_MD_SENTINEL} {text}".strip())
    nxt = doc_id + 1
    return (
        f"<html><head><meta charset=\"utf-8\"><title>Doc {doc_id}</title>"
        f"</head><body><div><a href=\"/\">Home</a> <a href=\"/a\">About"
        f"</a></div><article><p>{body}</p>"
        f"<p>See <a href=\"/d/{nxt}\">doc {nxt}</a> for <b>more</b> of "
        f"the <i>same</i> prose we keep for this test</p>"
        f"</article></body></html>"
    ).encode("utf-8")


def _md_batches(it):
    from gooselite import extract_one

    for batch in it:
        out = {"doc_id": [], "title": [], "md_md5": [], "n_blocks": []}
        for i, t in zip(batch["doc_id"], batch["text"]):
            doc_id = int(i)
            art = extract_one(_md_page(doc_id, t or ""), "en",
                              f"https://example.com/doc/{doc_id}",
                              markdown=True)
            md = art["markdown"] or ""
            out["doc_id"].append(doc_id)
            out["title"].append(art["title"])
            out["md_md5"].append(hashlib.md5(md.encode()).hexdigest())
            out["n_blocks"].append(md.count("\n\n") + 1 if md else 0)
        yield pd.DataFrame({
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "title": out["title"],
            "md_md5": out["md_md5"],
            "n_blocks": pd.Series(out["n_blocks"], dtype="int32"),
        })


def q_markdown_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown rendering of the extracted article: one shuffle-free
    mapInPandas pass over (doc_id, text)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _md_batches,
        schema="doc_id long, title string, md_md5 string, n_blocks int")


ORACLE_MARKDOWN_EXPORT = f"""
SELECT doc_id,
       'Doc ' || doc_id AS title,
       md5('# Doc ' || doc_id || chr(10) || chr(10) ||
           trim('{_MD_SENTINEL} ' ||
                trim(regexp_replace(text, '\\s+', ' ', 'g'))) ||
           chr(10) || chr(10) ||
           'See [doc ' || (doc_id + 1) || '](/d/' || (doc_id + 1) ||
           ') for **more** of the *same* prose we keep for this test')
           AS md_md5,
       CAST(3 AS INT) AS n_blocks
FROM documents
"""
