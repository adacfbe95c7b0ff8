"""Metadata extraction: title, meta description/keywords/lang, canonical
link, domain, tags (SURVEY.md A4, A5, A16).

[canon: goose/extractors.py get_title / get_meta_description /
get_meta_keywords / get_meta_lang / get_canonical_link / extract_tags].
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse

from gooselite.constants import TITLE_SPLITTERS
from gooselite.minidom import Document, Node
from gooselite.text import inner_trim

_MOTLEY_RE = re.compile(r"[«»]")


def metadata_index(root: Document) -> dict[str, list[Node]]:
    """Every metadata-relevant element (constants.INDEX_TAGS) as {tag:
    [nodes in document order]}, as the tree builder recorded them: the
    A4/A5/A16–A19 getters read this instead of walking the raw tree.
    Read it before the cleaner rewrites the tree."""
    return root.index


def _split_title(title_text: str, splitter: str) -> str:
    """Pick the longest (by chars) segment [canon: extractors.py split_title]."""
    pieces = title_text.split(splitter)
    best = ""
    for piece in pieces:
        if len(piece) > len(best):
            best = piece
    return best.strip()


def get_title(idx: dict) -> str:
    """A4: og:title wins over <title>; either way split on the first
    matching splitter and keep the longest segment (SURVEY.md A4)."""
    title_text = _meta_content(idx, "property", "og:title")
    if not title_text:
        els = idx["title"]
        if not els:
            return ""
        title_text = els[0].get_text()
    used = False
    for splitter in TITLE_SPLITTERS:
        if splitter in title_text and not used:
            title_text = _split_title(title_text, splitter)
            used = True
    return inner_trim(_MOTLEY_RE.sub("", title_text))


def _meta_content(idx: dict, name_attr: str, name_value: str) -> str:
    """First <meta name_attr=name_value> content, inner-trimmed."""
    target = name_value.lower()
    for meta in idx["meta"]:
        if meta.attrib.get(name_attr, "").lower() == target:
            return inner_trim(meta.attrib.get("content", ""))
    return ""


def get_meta_description(idx: dict) -> str:
    return _meta_content(idx, "name", "description")


def get_meta_keywords(idx: dict) -> str:
    return _meta_content(idx, "name", "keywords")


def get_meta_lang(idx: dict) -> str | None:
    """A5 fallback chain element: html@lang, else meta http-equiv
    content-language, else og:locale prefix."""
    for html in idx["html"]:
        lang = html.attrib.get("lang")
        if lang:
            return lang.strip()[:2].lower()
    val = _meta_content(idx, "http-equiv", "content-language")
    if val:
        return val.strip()[:2].lower()
    for meta in idx["meta"]:
        if meta.attrib.get("property", "").lower() == "og:locale":
            content = meta.attrib.get("content", "")
            if content:
                return content.strip()[:2].lower()
    return None


def _safe_urljoin(base: str, href: str) -> str:
    """Total urljoin: urllib raises ValueError on pathological hrefs
    (e.g. 'http://[bad' -> Invalid IPv6 URL); extract_one must be total
    over arbitrary web bytes, so resolution failures keep the raw href
    (same spirit as get_domain's guarded urlparse)."""
    try:
        return urljoin(base, href)
    except ValueError:
        return href


def get_canonical_link(idx: dict, url: str) -> str:
    for link in idx["link"]:
        if link.attrib.get("rel", "").lower() == "canonical":
            href = link.attrib.get("href", "").strip()
            if href:
                return _safe_urljoin(url, href)
    return url


def get_domain(url: str) -> str:
    try:
        return urlparse(url).netloc
    except ValueError:
        return ""


# A19: meta names/properties carrying the publish timestamp, in priority
# order — og/article first, then the common CMS conventions.
_PUBLISH_META = (
    ("property", "article:published_time"),
    ("property", "og:article:published_time"),
    ("itemprop", "datePublished"),
    ("name", "pubdate"),
    ("name", "publishdate"),
    ("name", "publish-date"),
    ("name", "dc.date.issued"),
    ("name", "dc.date"),
    ("name", "sailthru.date"),
    ("name", "parsely-pub-date"),
    ("name", "date"),
)


def get_publish_date(idx: dict) -> str | None:
    """A19: publish timestamp as the page states it (no reformatting —
    byte-stable, parseable downstream with to_timestamp). Meta tags in
    `_PUBLISH_META` priority order, then the first <time datetime=...>.
    The meta list is iterated once per priority entry, but over the
    prebuilt index bucket — no tree walks."""
    metas = idx["meta"]
    for attr, value in _PUBLISH_META:
        target = value.lower()
        for meta in metas:
            if meta.attrib.get(attr, "").lower() == target:
                content = inner_trim(meta.attrib.get("content", ""))
                if content:
                    return content
    for t in idx["time"]:
        dt = inner_trim(t.attrib.get("datetime", ""))
        if dt:
            return dt
    return None


# A18: hosted-video sources the Goose lineage recognizes.
_MOVIE_SRC_RE = re.compile(
    r"(youtube\.com|youtube-nocookie\.com|youtu\.be|player\.vimeo\.com"
    r"|vimeo\.com|dailymotion\.com)", re.IGNORECASE)


def get_movies(idx: dict) -> list[str]:
    """A18: src urls of <iframe>/<embed>/<object data=...> pointing at a
    known video host; iframes first then embeds then objects, document
    order within each group, duplicates dropped (first wins)."""
    movies: list[str] = []
    seen: set[str] = set()
    for tag, attr in (("iframe", "src"), ("embed", "src"), ("object", "data")):
        for el in idx[tag]:
            src = el.attrib.get(attr, "").strip()
            if src and src not in seen and _MOVIE_SRC_RE.search(src):
                seen.add(src)
                movies.append(src)
    return movies


# A17-lite: network-free top-image metadata. Full Goose image scoring
# fetches candidate images to rank by dimensions/bytes (a legitimate
# non-goal here — no network); og:image / twitter:image / link
# rel=image_src are declared by the page itself and need only a
# metadata_index lookup [canon: goose/images/extractors.py
# check_known_schemas — the lineage checks these meta schemas FIRST,
# before any fetch-based scoring].
_TOP_IMAGE_META = (
    ("property", "og:image"),
    ("name", "twitter:image"),
    ("property", "twitter:image"),
    ("name", "twitter:image:src"),
    ("itemprop", "image"),
)


def get_top_image(idx: dict, url: str) -> str | None:
    """A17-lite: the page-declared lead image url, resolved against the
    page url; meta schemas in priority order, then <link rel=image_src>.
    None when the page declares no image (never a fetch)."""
    metas = idx["meta"]
    for attr, value in _TOP_IMAGE_META:
        target = value.lower()
        for meta in metas:
            if meta.attrib.get(attr, "").lower() == target:
                content = inner_trim(meta.attrib.get("content", ""))
                if content:
                    return _safe_urljoin(url, content)
    for link in idx["link"]:
        if link.attrib.get("rel", "").lower() == "image_src":
            href = link.attrib.get("href", "").strip()
            if href:
                return _safe_urljoin(url, href)
    return None


# A17 offline scoring subset [canon: goose ImageExtractor — the
# attribute-driven slice of its candidate filtering; the fetch-based
# bytes/dimension probing is a documented non-goal on this offline box].
# Known-ad/furniture filename fragments, adapted from the goose-lineage
# matchBadImageNames list; anchored to the PATH (query strings excluded
# by the split in _score) so an article image named "...?from=digg"
# isn't rejected.
_BAD_IMAGE_RE = re.compile(
    # digit boundaries around the tracker-dimension fragments so a
    # legitimate "/photos/21x15/pic.jpg" isn't rejected for containing
    # "1x1"; the brand/ad fragments stay unanchored like the lineage list
    r"\.html$|\.gif$|\.ico$|button|twitter\.jpg|facebook\.jpg|digg"
    r"|delicious|reddit\.|doubleclick|adserver|/ads?/|adsatt|spacer"
    r"|\bpixel\b|(?<!\d)1x1(?!\d)|mediaplex|atdmt", re.I)
_MIN_IMG_DIM = 50      # goose-lineage: candidates under 50px are skipped
_BANNER_RATIO = 5.0    # and extreme aspect ratios are ad banners/skyscrapers

_DIM_RE = re.compile(r"\s*(\d+)\s*(?:px)?\s*$", re.I)


def _img_dim(val) -> int | None:
    """Parse a width/height ATTRIBUTE: plain integers and "NNpx" count;
    percentages/auto/garbage → unknown (None)."""
    if not val:
        return None
    m = _DIM_RE.match(str(val))
    return int(m.group(1)) if m else None


def score_top_node_image(top_node: Node | None, url: str) -> str | None:
    """A17 offline subset: attribute-scored <img> inside the cleaned top
    node — the fallback when the page declares no og/twitter/link-rel
    image. Candidates are filtered by the known-ad filename regex, the
    50px minimum and the banner aspect cap, then ranked by declared
    width×height area (doc-order tie-break). Images with no usable
    dimension attributes can't be ranked offline; the first clean one is
    kept as a weak fallback so attribute-less article pages still get a
    lead image."""
    if top_node is None:
        return None
    best: str | None = None
    best_area = -1
    fallback: str | None = None
    for img in top_node.get_elements_by_tag("img"):
        src = (img.attrib.get("src") or "").strip()
        if not src or src.startswith("data:"):
            continue
        if _BAD_IMAGE_RE.search(src.split("?", 1)[0]):
            continue
        w = _img_dim(img.attrib.get("width"))
        h = _img_dim(img.attrib.get("height"))
        if (w is not None and w < _MIN_IMG_DIM) or \
                (h is not None and h < _MIN_IMG_DIM):
            continue
        if w and h:
            ratio = w / h
            if ratio > _BANNER_RATIO or ratio < 1.0 / _BANNER_RATIO:
                continue
            area = w * h
            if area > best_area:
                best_area, best = area, src
        elif fallback is None:
            fallback = src
    chosen = best if best is not None else fallback
    return _safe_urljoin(url, chosen) if chosen else None


_TAG_HREF_RE = re.compile(r"/tag[s]?/")


def extract_tags(idx: dict) -> list[str]:
    """A16: a[rel=tag] plus hrefs matching /tag/; sorted for determinism."""
    tags: set[str] = set()
    for a in idx["a"]:
        rel = a.attrib.get("rel", "").lower()
        href = a.attrib.get("href", "")
        if "tag" == rel or _TAG_HREF_RE.search(href):
            text = a.get_text()
            if text:
                tags.add(text)
    return sorted(tags)


# A4-ext: author byline meta conventions, in goose-family priority order
# (meta[name=author] first, then the article/dublin-core forms).
_AUTHOR_META = (
    ("name", "author"),
    ("property", "article:author"),
    ("name", "dc.creator"),
    ("itemprop", "author"),
)


def get_authors(idx: dict) -> list[str]:
    """A4-ext: author bylines from meta tags, priority-ordered with an
    order-preserving dedupe (a page repeating the same byline in two
    conventions yields it once)."""
    metas = idx["meta"]
    out: list[str] = []
    seen: set[str] = set()
    for attr, value in _AUTHOR_META:
        target = value.lower()
        for meta in metas:
            if meta.attrib.get(attr, "").lower() == target:
                content = inner_trim(meta.attrib.get("content", ""))
                if content and content.lower() not in seen:
                    seen.add(content.lower())
                    out.append(content)
    return out


def get_opengraph(idx: dict) -> dict[str, str]:
    """A4-ext: the full OpenGraph map — every meta[property="og:*"]
    keyed by the property minus its "og:" prefix; first occurrence wins
    (same first-wins rule as the og:title lookup in get_title)."""
    og: dict[str, str] = {}
    for meta in idx["meta"]:
        prop = meta.attrib.get("property", "").strip().lower()
        if prop.startswith("og:"):
            content = inner_trim(meta.attrib.get("content", ""))
            if content:
                og.setdefault(prop[3:], content)
    return og


def extract_links(top_node: Node | None, url: str,
                  seen: list[Node]) -> list[str]:
    """A16-ext: absolute hrefs of anchors INSIDE the extracted article
    (the goose-family Article.links field) — boilerplate/nav anchors are
    gone by the time this runs (cleaner + link-density scoring), so these
    are the article's own citations; order-preserving dedupe, resolved
    against the page url. ``seen``: calculate_best_node's, see there."""
    if top_node is None:
        return []
    out: list[str] = []
    done: set[str] = set()
    for a in top_node.descendants_in(seen, "a"):
        href = a.attrib.get("href", "").strip()
        if href:
            absolute = _safe_urljoin(url, href)
            if absolute not in done:
                done.add(absolute)
                out.append(absolute)
    return out
