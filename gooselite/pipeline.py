"""extract_one — the full Goose pipeline for one document (SURVEY.md A20).

[canon: goose/crawler.py Crawler.process] — ordered composition
decode (A2) → parse (A3) → metadata (A4–A5) → clean (A6) → score/top-node
(A7–A12) → siblings + post-cleanup (A13–A14) → format (A15), with
early-outs: no html → empty Article; decode/parse failure → error status.

This function is deliberately Spark-free: the Spark layer calls it in a
loop per Arrow batch (SURVEY.md §2.5), and the L2 test asserts the Spark
path equals this local oracle row-for-row.
"""

from __future__ import annotations

import time
from typing import Any

from gooselite.cleaner import clean_document
from gooselite.encoding import DecodeError, decode_html
from gooselite.formatter import get_formatted_text
from gooselite.metadata import (
    extract_links,
    extract_tags,
    get_authors,
    get_canonical_link,
    get_domain,
    get_meta_description,
    get_meta_keywords,
    get_meta_lang,
    get_movies,
    get_opengraph,
    get_publish_date,
    get_title,
    get_top_image,
    metadata_index,
    score_top_node_image,
)
from gooselite.minidom import ParseError, dispose, parse_html
from gooselite.scoring import calculate_best_node, post_cleanup
from gooselite.stopwords_data import STOPWORDS
from gooselite.text import resolve_language

class ExtractionTimeout(BaseException):
    """Raised by a per-doc watchdog (the Spark UDF's SIGALRM handler).
    Derives from BaseException so broad `except Exception` recovery
    paths (e.g. parse_html's) cannot convert a timeout into a
    parse_error."""


STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_PARSE_ERROR = "parse_error"
STATUS_DECODE_ERROR = "decode_error"
STATUS_TIMEOUT = "timeout"  # emitted by the Spark UDF's per-doc budget


def _empty_result(url: str, status: str, err: str | None, bytes_in: int,
                  lang: str, parse_ms: float,
                  lang_fallback: bool = True) -> dict[str, Any]:
    return {
        "url": url, "lang": lang, "title": "", "cleaned_text": "",
        "meta_description": "", "meta_keywords": "", "meta_lang": None,
        "canonical_link": "", "domain": get_domain(url), "tags": [],
        "movies": [], "publish_date": None, "top_image": None,
        "authors": [], "opengraph": [], "links": [], "markdown": None,
        "lang_fallback": lang_fallback,
        "status": status, "err": err, "bytes_in": bytes_in,
        "parse_ms": parse_ms,
    }


def _requested_lang_ok(lang: str | None) -> bool:
    """True iff the primary lang source maps directly to a shipped table."""
    return bool(lang) and lang.strip().lower()[:2] in STOPWORDS


def timeout_result(html: bytes | None, lang: str | None, url: str,
                   budget_s: float) -> dict[str, Any]:
    """The row for a document that ran past the per-doc budget: the same
    effective lang / lang_fallback rule as extract_one, so METRICS lang
    grouping stays consistent."""
    return _empty_result(url, STATUS_TIMEOUT,
                         f"exceeded {budget_s:.0f}s budget",
                         len(html) if html else 0,
                         resolve_language(lang), budget_s * 1000.0,
                         lang_fallback=not _requested_lang_ok(lang))


def extract_one(html: bytes | None, lang: str | None, url: str,
                markdown: bool = False) -> dict[str, Any]:
    """Extract the main article content of one page.

    Returns a dict matching goose_spark.schema.EXTRACTED (minus warc_ts,
    which the Spark layer passes through). ``lang`` in the result is the
    EFFECTIVE language whose stopword table was used: the lang column is
    primary and is also how a caller forces a table (the reference's
    target_language, A21/EP3; BASELINE.json:6), document meta-lang is
    the fallback, then 'en' (SURVEY.md A5). ``lang_fallback`` is True
    when the lang column did NOT directly provide the table (feeds the
    METRICS lang_fallbacks count). ``markdown=True`` also renders the
    cleaned top node as markdown into the ``markdown`` key (else None);
    the flat ``cleaned_text`` is the same either way.
    """
    t0 = time.perf_counter()
    fallback = not _requested_lang_ok(lang)
    bytes_in = len(html) if html else 0
    if not html:
        return _empty_result(url, STATUS_EMPTY, "no html bytes", 0,
                             resolve_language(lang), 0.0, fallback)

    try:
        text, _encoding = decode_html(html)
    except DecodeError as exc:
        return _empty_result(url, STATUS_DECODE_ERROR, str(exc), bytes_in,
                             resolve_language(lang),
                             (time.perf_counter() - t0) * 1000.0, fallback)

    try:
        root = parse_html(text)
    except ParseError as exc:
        return _empty_result(url, STATUS_PARSE_ERROR, str(exc), bytes_in,
                             resolve_language(lang),
                             (time.perf_counter() - t0) * 1000.0, fallback)

    try:
        return _extract_parsed(root, lang, url, bytes_in, t0, markdown)
    finally:
        dispose(root)


def _extract_parsed(root, lang: str | None, url: str, bytes_in: int,
                    t0: float, markdown: bool) -> dict[str, Any]:
    # metadata BEFORE cleaning (cleaner strips <meta>-adjacent structure);
    # all getters read the index the tree builder filled while parsing
    # (metadata_index), so the metadata phase walks no tree
    idx = metadata_index(root)
    title = get_title(idx)
    meta_description = get_meta_description(idx)
    meta_keywords = get_meta_keywords(idx)
    meta_lang = get_meta_lang(idx)
    canonical_link = get_canonical_link(idx, url)
    tags = extract_tags(idx)
    movies = get_movies(idx)
    publish_date = get_publish_date(idx)
    top_image = get_top_image(idx, url)
    authors = get_authors(idx)
    # OpenGraph map serialized as sorted "key=value" strings: a plain
    # array column keeps the Spark row deterministic (map column
    # iteration order is not) while staying losslessly parseable
    opengraph = sorted(f"{k}={v}" for k, v in get_opengraph(idx).items())

    # A5: primary lang (the lang column), meta-lang fallback, then 'en';
    # lang_fallback records any non-primary path
    lang_fallback = False
    if _requested_lang_ok(lang):
        effective_lang = lang.strip().lower()[:2]
    elif meta_lang and meta_lang in STOPWORDS:
        effective_lang = meta_lang
        lang_fallback = True
    else:
        effective_lang = resolve_language(lang)
        lang_fallback = True

    clean_document(root)
    seen: list = []  # scoring's <p> and <a>, for the top node's readers
    top_node = calculate_best_node(root, effective_lang, seen)
    cleaned_text = ""
    markdown_text: str | None = None
    links: list[str] = []
    if top_node is not None:
        # A17 offline fallback: no page-declared image → attribute-score
        # the <img>s inside the top node. Runs BEFORE post_cleanup, per
        # the goose-lineage order (its image extractor reads the top
        # node before the prune detaches non-<p> children — a bare <img>
        # child never survives the node-score threshold); meta schemas
        # keep priority, per the check_known_schemas-first order.
        if top_image is None:
            top_image = score_top_node_image(top_node, url)
        top_node = post_cleanup(top_node, seen)
        # A16-ext: anchors surviving the cleaner + post-cleanup — must
        # read BEFORE the formatter, which unwraps every <a>; this
        # is the cleaned-top-node snapshot (goose-family Article.links
        # semantics), so an anchor in a paragraph the FORMATTER later
        # drops (<3 stopwords / negative score) still appears here
        links = extract_links(top_node, url, seen)
        # markdown renders BEFORE get_formatted_text: the flat formatter
        # unwraps every <a>/<b>/<i> in place, destroying the
        # structure markdown preserves
        if markdown:
            from gooselite.markdown import to_markdown

            markdown_text = to_markdown(top_node, title)
        cleaned_text = get_formatted_text(top_node, effective_lang)

    parse_ms = (time.perf_counter() - t0) * 1000.0
    status = STATUS_OK if cleaned_text else STATUS_EMPTY
    return {
        "url": url, "lang": effective_lang, "title": title,
        "cleaned_text": cleaned_text, "meta_description": meta_description,
        "meta_keywords": meta_keywords, "meta_lang": meta_lang,
        "canonical_link": canonical_link, "domain": get_domain(url),
        "tags": tags, "movies": movies, "publish_date": publish_date,
        "top_image": top_image, "authors": authors,
        "opengraph": opengraph, "links": links, "markdown": markdown_text,
        "lang_fallback": lang_fallback, "status": status, "err": None,
        "bytes_in": bytes_in, "parse_ms": parse_ms,
    }
