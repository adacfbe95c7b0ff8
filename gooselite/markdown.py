"""Markdown output surface (beyond-reference, SURVEY.md §2.7 training-
data additions): render the cleaned top node as lightweight markdown —
headings, emphasis, links, lists, blockquotes, code — instead of the
canonical flat text.

node-goose's OutputFormatter emits plain text only; LLM-corpus
pipelines increasingly keep this much structure (headings anchor
sections, anchors carry link context). This formatter is ADDITIVE and
opt-in (``extract_one(..., markdown=True)``, default False): the
canonical flat-text bytes that the north rule compares are untouched,
which the L1/L2 golden suites keep proving.

Semantics, deliberately simple and deterministic:
  * renders AFTER DocumentCleaner + post_cleanup and after the
    formatter's negative-score prune (shared helper — idempotent, so
    ``get_formatted_text`` re-running it is a no-op), but WITHOUT the
    few-words paragraph prune: markdown keeps short headings and list
    items by design;
  * h1..h6 → ``#``-runs; b/strong → ``**..**``; i/em → ``*..*``;
    code → `` `..` ``; a[href] → ``[label](href)``; ul/ol → ``- `` /
    ``1. `` lines; blockquote → ``> `` prefix; pre → fenced block;
  * inline whitespace is innerTrim'd per block, blocks join '\\n\\n' —
    the same normalization contract as the flat formatter.
"""

from __future__ import annotations

from gooselite.formatter import _walk
from gooselite.minidom import TEXT, Node, remove_all
from gooselite.text import inner_trim

_SKIP = frozenset({"script", "style"})
_HEADINGS = {f"h{i}": "#" * i for i in range(1, 7)}
_BOLD = frozenset({"b", "strong"})
_ITALIC = frozenset({"i", "em"})
_BLOCK_TAGS = frozenset(
    {"p", "div", "article", "section", "main", "figure", "figcaption",
     "blockquote", "pre", "ul", "ol", "li", "table", "thead", "tbody",
     "tr", "td", "th"} | set(_HEADINGS))


def _content_inline(el: Node) -> str:
    parts: list[str] = []
    if el.text:
        parts.append(el.text)
    for c in el.children:
        if not c.is_element:
            if c.tag == TEXT and c.text:
                parts.append(c.text)
        else:
            parts.append(_wrap_inline(c))
    return "".join(parts)


def _wrap_inline(el: Node) -> str:
    # No surrounding padding: markers hug the content so punctuation
    # adjacent to the element ("<code>f()</code>," / "(<i>x</i>)")
    # keeps the canonical text's word/punctuation stream — source
    # whitespace alone separates words, exactly as in the flat formatter
    t = el.tag
    if t in _SKIP:
        return ""
    if t == "br":
        return " "
    inner = _content_inline(el)
    trimmed = inner_trim(inner)
    if not trimmed:
        return ""
    if t in _BOLD:
        return f"**{trimmed}**"
    if t in _ITALIC:
        return f"*{trimmed}*"
    if t == "code":
        return f"`{trimmed}`"
    if t == "a":
        href = (el.attrib or {}).get("href") or ""
        return f"[{trimmed}]({href})" if href else trimmed
    return inner  # transparent wrapper (span, u, time, ...)


def _blocks_of(el: Node) -> list[str]:
    """Children → block list: inline runs become paragraphs, block-level
    children recurse. Handles mixed content (text around <p>s)."""
    blocks: list[str] = []
    pending: list[str] = []

    def flush() -> None:
        txt = inner_trim("".join(pending))
        pending.clear()
        if txt:
            blocks.append(txt)

    if el.text:
        pending.append(el.text)
    for c in el.children:
        if not c.is_element:
            if c.tag == TEXT and c.text:
                pending.append(c.text)
        elif c.tag in _BLOCK_TAGS:
            flush()
            blocks.extend(_block(c))
        else:
            pending.append(_wrap_inline(c))
    flush()
    return blocks


def _block(el: Node) -> list[str]:
    t = el.tag
    if t in _SKIP:
        return []
    if t in _HEADINGS:
        txt = inner_trim(_content_inline(el))
        return [f"{_HEADINGS[t]} {txt}"] if txt else []
    if t in ("ul", "ol"):
        items: list[str] = []
        for c in el.children:
            if c.is_element and c.tag == "li":
                txt = inner_trim(_content_inline(c))
                if txt:
                    mark = "-" if t == "ul" else f"{len(items) + 1}."
                    items.append(f"{mark} {txt}")
        return ["\n".join(items)] if items else []
    if t == "blockquote":
        inner = _blocks_of(el)
        if not inner:
            return []
        # blank '>' line between inner blocks: consecutive '>' lines
        # are lazy continuation of ONE paragraph in CommonMark, so
        # without it separate paragraphs would render merged
        quoted = ["\n".join("> " + line for line in b.split("\n"))
                  for b in inner]
        return ["\n>\n".join(quoted)]
    if t == "pre":
        raw = "".join(el.itertext()).strip("\n")
        return [f"```\n{raw}\n```"] if raw.strip() else []
    if t in ("tr", "thead", "tbody", "table"):
        # minimal table rendering: one "cell | cell" line per row
        rows: list[str] = []
        for tr in ([el] if t == "tr" else el.get_elements_by_tag("tr")):
            cells = [inner_trim(_content_inline(c)) for c in tr.children
                     if c.is_element and c.tag in ("td", "th")]
            cells = [c for c in cells if c]
            if cells:
                rows.append(" | ".join(cells))
        return ["\n".join(rows)] if rows else []
    # p / div / li / section / ... : mixed-content default
    return _blocks_of(el)


def to_markdown(top_node: Node, title: str | None = None) -> str:
    """Render the cleaned top node as markdown. Mutates only via the
    idempotent negative-score prune shared with the flat formatter."""
    remove_all(_walk(top_node)[0])
    blocks = _blocks_of(top_node)
    head = inner_trim(title or "")
    if head:
        blocks = [f"# {head}"] + blocks
    return "\n\n".join(blocks)
