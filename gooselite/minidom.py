"""Minimal mutable DOM on stdlib ``html.parser``.

[canon: goose/parsers.py Parser — wraps lxml.html; node ports wrap
cheerio.load(htmlparser2)]. No HTML parser library is installed in this
environment (SURVEY.md §0.4), so this module vendors a defensive
tree-builder on ``html.parser`` behind the same small surface Goose needs:
tag/attr access, document-order traversal, sibling walks, node removal /
insertion / drop-tag, and per-node score annotations (gravityScore).

HTML5-ish recovery implemented (SURVEY.md §7.4 item 4): void elements,
implied end tags for p / li / dt / dd / td / th / tr / option, raw-text
script/style (html.parser CDATA mode), mismatched end tags ignored.
Entity decoding: ``convert_charrefs=True`` (stdlib) — entities become text.

Tokenizing is split in two. The builder overrides html.parser's
``goahead`` with one loop that handles the three common tokens inline,
with no per-token callback dispatch: text runs (``html.unescape`` only
when the run holds ``&``), complete start tags (one precompiled regex
built from html.parser's own start-tag grammar; attributes still go
through its ``attrfind_tolerant``) and complete end tags. Every other
construct — comments, ``<!doctype``, ``<?pi``, ``<![``, malformed or
unterminated tags, a bare ``<``, end tags in script/style — is handed to
the inherited html.parser method for that one construct, under the
stdlib loop's own end-of-input recovery. So the trees, and the inputs
that raise ParseError, are exactly html.parser's (tests/test_minidom.py
checks this against the stdlib loop).

The parse root is a ``Document``. As the builder creates each element,
on either path, it appends it to ``Document.elements`` and, when its tag
is one the metadata getters read, to its bucket in ``Document.index``.
Nodes are only ever appended below the open-element stack, so creation
order is document order and the index needs no walk. ``dispose`` clears
the children of every listed element (the cleaner and the sibling pass
list the <p> they create), which reaches subtrees detached earlier too.

All traversals are iterative (no recursion) so pathologically nested
real-world HTML cannot blow the stack.
"""

from __future__ import annotations

import html.parser as _hp
import re
from html import unescape
from html.parser import HTMLParser
from types import MappingProxyType

from gooselite.constants import (INDEX_TAGS, P_CLOSING_TAGS, RAW_TEXT_TAGS,
                                 VOID_ELEMENTS)
from gooselite.text import inner_trim

# Shared read-only attrib for the (majority) attribute-less nodes: one
# dict per node is ~18 MB of allocator traffic on a 300k-node page and
# needless L3 pressure under wide parallelism. Nothing mutates attrib
# after parse; the proxy enforces that.
_EMPTY_ATTRS: dict = MappingProxyType({})  # type: ignore[assignment]

TEXT = "#text"
COMMENT = "#comment"
DOCUMENT = "#document"


class ParseError(Exception):
    """Raised when the tree-builder cannot recover from malformed input."""


class Node:
    """One DOM node. Element nodes carry tag/attrib/children; text and
    comment nodes carry ``text`` and have tag ``#text`` / ``#comment``."""

    __slots__ = ("tag", "attrib", "children", "parent", "text", "score",
                 "gravity_nodes", "is_element", "swc", "link_dense")

    def __init__(self, tag: str, attrib: dict[str, str] | None = None, text: str | None = None):
        self.tag = tag
        self.attrib: dict[str, str] = attrib if attrib is not None else _EMPTY_ATTRS
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.text = text
        self.score: float | None = None   # gravityScore annotation (A11)
        self.gravity_nodes: int = 0
        # stopword-count cache (scoring A8): valid while the node's own
        # subtree text is unchanged — scoring/sibling phases never mutate
        # a counted paragraph's text, only detach/attach whole blocks
        self.swc: int | None = None
        # link-density cache (scoring A9), set with swc and valid while it is
        self.link_dense: bool | None = None
        # precomputed: the profiler showed a property here costs ~13% of
        # total extraction time (6M+ calls/150 docs). Node kind never
        # changes (div→p stays an element), so a plain slot is safe.
        self.is_element: bool = tag[:1] != "#"

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    # -- traversal (document order, iterative) ------------------------------
    # These return LISTS, not generators: traversal is the single hottest
    # code path (millions of visits per batch) and chained generator
    # dispatch roughly doubled its cost; lists are also mutation-safe for
    # the destructive cleaner passes.
    def iter_nodes(self) -> list["Node"]:
        """All descendant nodes (not self), document order."""
        out: list[Node] = []
        stack = list(reversed(self.children))
        pop, push, append = stack.pop, stack.extend, out.append
        while stack:
            node = pop()
            append(node)
            if node.children:
                push(reversed(node.children))
        return out

    def iter_elements(self) -> list["Node"]:
        out: list[Node] = []
        stack = list(reversed(self.children))
        pop, push, append = stack.pop, stack.extend, out.append
        while stack:
            node = pop()
            if node.is_element:
                append(node)
            if node.children:
                push(reversed(node.children))
        return out

    def itertext(self) -> list[str]:
        """Descendant text-node strings, document order.

        [canon: lxml .itertext(); getText joins these with ' ']."""
        out: list[str] = []
        stack = list(reversed(self.children))
        pop, push, append = stack.pop, stack.extend, out.append
        while stack:
            node = pop()
            if node.text and node.tag == TEXT:
                append(node.text)
            if node.children:
                push(reversed(node.children))
        return out

    def get_elements_by_tag(self, *tags: str) -> list["Node"]:
        """Descendants matching any tag, in document order. With multiple
        tags, results are concatenated PER TAG GROUP — the canonical Goose
        candidate order (all <p>, then all <pre>, then all <td>;
        SURVEY.md A7 ordering matters for the boost index) — collected in
        ONE walk."""
        if not self.children:
            return []
        if len(tags) == 1:
            want = tags[0]
            out: list[Node] = []
            kids = self.children
            # leaf fast path: the per-candidate callers (link density's
            # <a> scan, para-span unwrap) hit <p> nodes whose children
            # are all leaves — a plain filter beats the stack walk and
            # preserves document order exactly
            for k in kids:
                if k.children:
                    break
            else:
                return [k for k in kids if k.tag == want]
            stack = list(reversed(kids))
            pop, push, append = stack.pop, stack.extend, out.append
            while stack:
                node = pop()
                if node.tag == want:
                    append(node)
                if node.children:
                    push(reversed(node.children))
            return out
        buckets: dict[str, list[Node]] = {t: [] for t in tags}
        stack = list(reversed(self.children))
        pop, push = stack.pop, stack.extend
        while stack:
            node = pop()
            b = buckets.get(node.tag)
            if b is not None:
                b.append(node)
            if node.children:
                push(reversed(node.children))
        merged: list[Node] = []
        for t in tags:
            merged.extend(buckets[t])
        return merged

    def descendants_in(self, nodes: list["Node"], tag: str) -> list["Node"]:
        """The ``tag`` nodes of ``nodes`` that lie below self, in the order
        of ``nodes``: one parent chase per node instead of a walk of self
        (scoring's ``seen`` list holds every descendant its readers need)."""
        out: list[Node] = []
        for node in nodes:
            if node.tag == tag:
                up = node.parent
                while up is not None and up is not self:
                    up = up.parent
                if up is not None:
                    out.append(node)
        return out

    def previous_siblings(self) -> list["Node"]:
        """Element siblings before self, nearest first (reverse document
        order) — [canon: goose/extractors.py walk_siblings]."""
        parent = self.parent
        if parent is None:
            return []
        out: list[Node] = []
        for sib in parent.children:
            if sib is self:
                break
            if sib.is_element:
                out.append(sib)
        out.reverse()
        return out

    # -- text ----------------------------------------------------------------
    def get_text(self) -> str:
        """[canon: goose/parsers.py getText]: ' '.join(itertext) → innerTrim."""
        kids = self.children
        if not kids:
            return ""
        if len(kids) == 1 and not kids[0].children:  # single text child
            k = kids[0]
            return inner_trim(k.text) if k.tag == TEXT else ""
        return inner_trim(" ".join(self.itertext()))

    def raw_text(self) -> str:
        """Descendant text WITHOUT innerTrim — zero-copy for the common
        single-text-child case. For whitespace-insensitive consumers only
        (token counting / stopword density); display paths use get_text."""
        kids = self.children
        if not kids:
            return ""
        if len(kids) == 1 and not kids[0].children:
            k = kids[0]
            return k.text if (k.tag == TEXT and k.text) else ""
        return " ".join(self.itertext())

    def __repr__(self) -> str:  # debug aid only
        if self.tag == TEXT:
            return f"#text({self.text!r})"
        ident = self.attrib.get("id") or self.attrib.get("class") or ""
        return f"<{self.tag} {ident}>({len(self.children)} kids)"


def remove_all(nodes: list["Node"]) -> None:
    """Batch-remove nodes: one children-list rebuild per affected parent.

    Removing nodes one by one costs O(len(parent.children)) each (list.remove);
    on Common-Crawl skew-tail pages a parent can hold 10^5 children and a
    cleanup pass can doom most of them — per-node removal would be O(n²).
    """
    if not nodes:
        return
    doomed = set(map(id, nodes))
    parents: dict[int, Node] = {}
    for n in nodes:
        if n.parent is not None:
            parents[id(n.parent)] = n.parent
    for parent in parents.values():
        parent.children = [c for c in parent.children if id(c) not in doomed]
    for n in nodes:
        n.parent = None


def drop_all(nodes: list["Node"]) -> None:
    """Batch drop-tag: replace every node with its children, in place, with
    one children-list rebuild per affected parent.

    Same tree as a per-node drop-tag (``index`` + slice splice) on each
    node in any order (unwrapping is confluent), without that splice's
    O(len(parent.children)) cost per node, O(n²) under a wide parent.
    Nested drops (a span in a span, a <b> in an <a>) splice the inner
    node's children straight into the nearest kept ancestor. A node with
    no parent is left in place.
    """
    dropped = {id(n) for n in nodes if n.parent is not None}
    if not dropped:
        return
    anchors: dict[int, Node] = {}
    for n in nodes:
        p = n.parent
        if p is not None and id(p) not in dropped:
            anchors[id(p)] = p
    for parent in anchors.values():
        kids: list[Node] = []
        append = kids.append
        for c in parent.children:
            if id(c) not in dropped:
                append(c)
                continue
            stack = list(reversed(c.children))
            while stack:
                k = stack.pop()
                if id(k) in dropped:
                    stack.extend(reversed(k.children))
                else:
                    k.parent = parent
                    append(k)
        parent.children = kids
    for n in nodes:
        if id(n) in dropped:
            n.children = []
            n.parent = None


class Document(Node):
    """The parse root, with the builder's two records: ``index``, every
    element of an ``INDEX_TAGS`` tag bucketed by tag in document order,
    and ``elements``, every element ever created for this tree."""

    __slots__ = ("index", "elements")

    def __init__(self) -> None:
        super().__init__(DOCUMENT)
        self.index: dict[str, list[Node]] = {t: [] for t in INDEX_TAGS}
        self.elements: list[Node] = []


def owner_document(node: Node) -> Document | None:
    """The Document at the top of node's tree; None for a detached or
    hand-built tree."""
    while node.parent is not None:
        node = node.parent
    return node if isinstance(node, Document) else None


def dispose(root: Document) -> None:
    """Break parent↔child reference cycles so the tree is reclaimed by
    refcounting alone. A 15 MB page builds a ~300k-node DOM whose cycles
    otherwise sit on the cyclic GC: with per-allocation-threshold
    collections repeatedly walking that many live containers, extraction
    measures ~30% slower (worse under concurrent workers, where the GC
    walks add memory-bandwidth contention). Call when done with the tree.

    No walk: only elements hold children, and ``root.elements`` lists
    every one, detached or not, so clearing their children leaves only
    child→parent references, which form no cycle."""
    for n in root.elements:
        n.children = []
    root.children = []
    root.elements = []
    root.index = {}


def new_text(value: str) -> Node:
    return Node(TEXT, text=value)


def new_element(tag: str, text: str | None = None) -> Node:
    el = Node(tag)
    if text is not None:
        el.append(new_text(text))
    return el


# Barriers past which implied-end-tag searches never look.
_SCOPE_BOUNDARY = frozenset((DOCUMENT, "html", "body", "table", "td", "th", "caption"))

# starttag → (tags it implicitly closes, scope stop set)
_IMPLIED_CLOSE: dict[str, tuple[frozenset[str], frozenset[str]]] = {
    "li": (frozenset(("li",)), frozenset(("ol", "ul", "body", "html", DOCUMENT))),
    "dt": (frozenset(("dt", "dd")), frozenset(("dl", "body", "html", DOCUMENT))),
    "dd": (frozenset(("dt", "dd")), frozenset(("dl", "body", "html", DOCUMENT))),
    "td": (frozenset(("td", "th")), frozenset(("tr", "table", "body", "html", DOCUMENT))),
    "th": (frozenset(("td", "th")), frozenset(("tr", "table", "body", "html", DOCUMENT))),
    "tr": (frozenset(("tr", "td", "th")), frozenset(("table", "thead", "tbody", "tfoot", "body", "html", DOCUMENT))),
    "option": (frozenset(("option",)), frozenset(("select", "body", "html", DOCUMENT))),
}


# -- tokenizer fast path ------------------------------------------------------
# A start tag html.parser accepts as complete: its locatestarttagend_tolerant
# grammar, verbatim but with the tag name as group 1, matched ATOMICALLY
# (the first match, which is what check_for_whole_start_tag reads), then
# ">" or "/>". The empty group 2 inside the lookahead marks where
# tagfind_tolerant stops, which is where parse_starttag's attribute scan
# begins.
_STARTTAG = re.compile(r"""
  <(?>
    ([a-zA-Z][^\t\n\r\f />\x00]*)      # tag name
    (?=(?:\s|/(?!>))*())               # tagfind_tolerant's end
    (?:[\s/]*                          # optional whitespace before attribute name
      (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
        (?:\s*=+\s*                    # value indicator
          (?:'[^']*'                   # LITA-enclosed value
            |"[^"]*"                   # LIT-enclosed value
            |(?!['"])[^>\s]*           # bare value
           )
          \s*                          # possibly followed by a space
         )?(?:\s|/(?!>))*
       )*
     )?
    \s*                                # trailing whitespace
  )/?>
""", re.VERBOSE).match
_ATTRFIND = _hp.attrfind_tolerant.match
_ENDTAG = _hp.endtagfind.match  # a complete "</name>"
_STARTTAGOPEN = _hp.starttagopen.match
_CHARREF_TAIL = re.compile(r"[\s;]").search
_CDATA_TAGS = frozenset(HTMLParser.CDATA_CONTENT_ELEMENTS)
_P_ONLY = frozenset(("p",))


class _TreeBuilder(HTMLParser):
    def __init__(self, keep_raw_text: bool = False,
                 xml_mode: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Document()
        self.stack: list[Node] = [self.root]
        # opt-in: keep script/style text nodes (JSON-LD harvesting
        # needs <script type="application/ld+json"> payloads); the
        # extraction pipeline keeps the default skip
        self.keep_raw_text = keep_raw_text
        # opt-in: XML semantics — no HTML void elements and no
        # implied-close recovery. RSS's <link>url</link> is a void
        # element in HTML, so feed parsing under HTML rules silently
        # drops the link text out of the node; feeds are XML.
        self.xml_mode = xml_mode

    # helpers -----------------------------------------------------------------
    def _top(self) -> Node:
        return self.stack[-1]

    def _close_implied(self, targets: frozenset[str], stops: frozenset[str]) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            tag = self.stack[i].tag
            if tag in targets:
                del self.stack[i:]
                return
            if tag in stops:
                return

    def _element(self, tag: str, attrs) -> Node:
        """A new element for html.parser's (tag, attrs), recorded on the
        root as goahead records the elements it creates."""
        attrib: dict[str, str] | None = None  # None: the shared empty mapping
        if attrs:
            attrib = {}
            for name, value in attrs:
                if name not in attrib:
                    attrib[name] = value if value is not None else ""
        node = Node(tag, attrib)
        root = self.root
        root.elements.append(node)
        bucket = root.index.get(tag)
        if bucket is not None:
            bucket.append(node)
        return node

    # tokenizer ---------------------------------------------------------------
    def goahead(self, end: int) -> None:
        """html.parser's ``goahead`` (3.11, ``convert_charrefs=True``)
        with text runs, complete start tags and complete end tags
        tokenized and applied to the tree inline. Any other construct at
        a ``<`` goes to the inherited ``parse_*`` method, with the
        stdlib's ``end`` / ``k < 0`` recovery around it."""
        rawdata = self.rawdata
        n = len(rawdata)
        stack = self.stack
        skip_raw = not self.keep_raw_text
        xml_mode = self.xml_mode
        startswith = rawdata.startswith
        cdata = self.cdata_elem
        record = self.root.elements.append
        bucket_of = self.root.index.get
        i = 0
        while i < n:
            if cdata is None:
                j = rawdata.find("<", i)
                if j < 0:
                    # a charref may be cut at the buffer end: leave it
                    # for more input, as html.parser does
                    amppos = rawdata.rfind("&", max(i, n - 34))
                    if amppos >= 0 and not _CHARREF_TAIL(rawdata, amppos):
                        break
                    j = n
            else:
                match = self.interesting.search(rawdata, i)
                if match is None:
                    break
                j = match.start()
            if i < j:
                data = rawdata[i:j]
                if cdata is None and "&" in data:
                    data = unescape(data)
                # script/style content is never consulted: the cleaner
                # (A6) drops those subtrees before any text is read and
                # no metadata getter looks inside them, so the (often
                # large) JS/CSS payload is never copied into a node
                top = stack[-1]
                if data and not (skip_raw and top.tag in RAW_TEXT_TAGS):
                    node = Node(TEXT, None, data)
                    node.parent = top
                    top.children.append(node)
            i = j
            if i == n:
                break
            if cdata is None:
                m = _STARTTAG(rawdata, i)
                if m is not None:
                    k = m.end()
                    attrib = None
                    tail = ">"
                    if k != m.end(1) + 1:  # more than "<name>"
                        # parse_starttag's attribute scan, first name wins
                        a = m.start(2)
                        while a < k:
                            am = _ATTRFIND(rawdata, a)
                            if not am:
                                break
                            name, rest, value = am.group(1, 2, 3)
                            if not rest:
                                value = ""
                            elif value[:1] == "'" == value[-1:] or \
                                    value[:1] == '"' == value[-1:]:
                                value = value[1:-1]
                            if "&" in value:
                                value = unescape(value)
                            if attrib is None:
                                attrib = {name.lower(): value}
                            else:
                                attrib.setdefault(name.lower(), value)
                            a = am.end()
                        tail = rawdata[a:k].strip()
                    # any other tail: parse_starttag below makes it text
                    if tail == ">" or tail == "/>":
                        tag = m.group(1).lower()
                        node = Node(tag, attrib)
                        record(node)
                        bucket = bucket_of(tag)
                        if bucket is not None:
                            bucket.append(node)
                        i = k
                        if tail == "/>":
                            top = stack[-1]
                            node.parent = top
                            top.children.append(node)
                            continue
                        if not xml_mode:
                            if tag in P_CLOSING_TAGS:
                                self._close_implied(_P_ONLY, _SCOPE_BOUNDARY)
                            implied = _IMPLIED_CLOSE.get(tag)
                            if implied is not None:
                                self._close_implied(*implied)
                        top = stack[-1]
                        node.parent = top
                        top.children.append(node)
                        if xml_mode or tag not in VOID_ELEMENTS:
                            stack.append(node)
                        if tag in _CDATA_TAGS:
                            self.set_cdata_mode(tag)
                            cdata = tag
                        continue
                else:
                    m = _ENDTAG(rawdata, i)
                    if m is not None:
                        tag = m.group(1).lower()
                        # a void element is never on the stack (html mode)
                        if stack[-1].tag == tag:
                            stack.pop()
                        else:
                            self.handle_endtag(tag)
                        i = m.end()
                        continue
            # rare constructs: html.parser's own methods and recovery
            if _STARTTAGOPEN(rawdata, i):
                k = self.parse_starttag(i)
            elif startswith("</", i):
                k = self.parse_endtag(i)
            elif startswith("<!--", i):
                k = self.parse_comment(i)
            elif startswith("<?", i):
                k = self.parse_pi(i)
            elif startswith("<!", i):
                k = self.parse_html_declaration(i)
            elif i + 1 < n:
                self.handle_data("<")
                k = i + 1
            else:
                break
            cdata = self.cdata_elem
            if k < 0:
                if not end:
                    break
                k = rawdata.find(">", i + 1)
                if k < 0:
                    k = rawdata.find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                if cdata is None:
                    self.handle_data(unescape(rawdata[i:k]))
                else:
                    self.handle_data(rawdata[i:k])
            i = k
        if end and i < n and not self.cdata_elem:
            self.handle_data(unescape(rawdata[i:n]))
            i = n
        self.rawdata = rawdata[i:]

    # html.parser callbacks (the rare constructs above) -----------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if self.xml_mode:
            node = self._element(tag, attrs)
            self._top().append(node)
            self.stack.append(node)
            return
        if tag in P_CLOSING_TAGS:
            self._close_implied(_P_ONLY, _SCOPE_BOUNDARY)
        implied = _IMPLIED_CLOSE.get(tag)
        if implied is not None:
            self._close_implied(*implied)
        node = self._element(tag, attrs)
        self._top().append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._top().append(self._element(tag, attrs))

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS and not self.xml_mode:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # mismatched end tag with no open counterpart: ignore (recovery)

    def handle_data(self, data: str) -> None:
        if data:
            if self.stack[-1].tag in RAW_TEXT_TAGS and not self.keep_raw_text:
                return
            self._top().append(new_text(data))

    def handle_comment(self, data: str) -> None:
        self._top().append(Node(COMMENT, text=data))

    # declarations / PIs / unknown: ignored
    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


def parse_html(text: str, keep_raw_text: bool = False,
               xml_mode: bool = False) -> Document:
    """Parse an HTML string into a mini-DOM; raises ParseError on
    unrecoverable parser failures (rare — html.parser is lenient).
    ``keep_raw_text=True`` retains script/style text nodes (JSON-LD
    harvesting); the extraction pipeline uses the default skip.
    ``xml_mode=True`` disables the HTML void-element and implied-close
    recovery (RSS/sitemap/feed XML, where <link>…</link> must nest)."""
    builder = _TreeBuilder(keep_raw_text, xml_mode)
    try:
        builder.feed(text)
        builder.close()
    except Exception as exc:  # html.parser can raise on pathological input
        raise ParseError(str(exc)) from exc
    return builder.root
