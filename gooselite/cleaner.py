"""DocumentCleaner — destructive DOM rewrite before scoring (SURVEY.md A6).

[canon: goose/cleaners.py StandardDocumentCleaner.clean] — canonical pass
order: em drop-tag → dropcaps → scripts/styles/comments → blacklist-regex
node removal (id/class/name) → targeted regex removals (caption / google /
entries / facebook / twitter) → span-in-p unwrap → div→p conversion.
Constants and the blacklist regex live in :mod:`gooselite.constants`
(SURVEY.md §2.4 — re-verify on reference mount, §0.3 item 2).

The seven passes are one pre-order walk that records every decision, then
one batched unwrap (``drop_all``), one batched removal (``remove_all``)
and the div rewrites. The walk never descends into a doomed subtree. It
makes the canonical decisions because each one depends only on facts
that the earlier passes do not change, or change in a way the walk
tracks:

* an <em> is unwrapped iff no <img> lies anywhere below it, doomed
  subtrees included (the em pass runs before any removal);
* a dropcap <span> is always unwrapped, and an unwrapped <em> or dropcap
  is never matched by the blacklist: canonically it has left the tree
  before the blacklist looks. Only a blacklisted <em> that keeps its
  <img> is doomed;
* a <span> below a <p> is unwrapped unless it is doomed itself ("below
  a <p>" is an open-<p> count on the walk; unwraps never change it);
* a <div> becomes a <p> iff no block tag lies below it outside the
  doomed subtrees (unwrapped em/span are not block tags, and a div that
  becomes a <p> is still one). Otherwise each of its direct, non-blank
  text children, read after the unwraps, is wrapped in a new <p>.

Unwraps and removals touch disjoint nodes, and unwrapping is confluent,
so applying them as two batches gives the sequential passes' tree.
"""

from __future__ import annotations

import re

from gooselite import constants as C
from gooselite.minidom import (COMMENT, TEXT, Document, Node, drop_all,
                               new_element, new_text, remove_all)

# Canonical pass order is blacklist (id/class/name) then six targeted
# regexes (id/class); both doom, so one predicate serves both passes.
_TARGETED_RES = (C.CAPTION_RE, C.GOOGLE_RE, C.ENTRIES_RE,
                 C.FACEBOOK_RE, C.FACEBOOK_BROADCASTING_RE, C.TWITTER_RE)
_DROPCAP_RE = re.compile(r"^(dropcap|drop_cap)$", re.I)
_BLOCK = frozenset(C.DIV_TO_P_BLOCK_TAGS)
_RAW = frozenset(("script", "style"))


def _is_bad(attrib) -> bool:
    bad = C.REMOVE_NODES_RE
    eid = attrib.get("id")
    ecls = attrib.get("class")
    name = attrib.get("name")
    return bool(
        (eid and bad.search(eid))
        or (ecls and bad.search(ecls))
        or (name and bad.search(name))
        or any((eid and rx.search(eid)) or (ecls and rx.search(ecls))
               for rx in _TARGETED_RES))


def clean_document(root: Document) -> Document:
    unwrap: list[Node] = []    # em / dropcap / span-in-p
    doomed: list[Node] = []    # top-most doomed nodes only
    to_p: list[Node] = []      # divs with no block tag below
    to_wrap: list[Node] = []   # divs whose text runs become <p>
    # open <p>/<em>/<div> with children, innermost last; a None on the
    # walk stack marks where the innermost one's subtree ends
    exits: list[Node] = []
    marks: list[int] = []      # n_img at an open em's entry, n_block at a div's
    in_p = open_em = n_img = n_block = 0
    stack = list(reversed(root.children))
    pop, push, push_end = stack.pop, stack.extend, stack.append
    while stack:
        node = pop()
        if node is None:
            e = exits.pop()
            tag = e.tag
            if tag == "p":
                in_p -= 1
            elif tag == "div":
                (to_wrap if n_block > marks.pop() else to_p).append(e)
            else:  # em
                open_em -= 1
                if n_img == marks.pop():
                    unwrap.append(e)
            continue
        if not node.is_element:
            if node.tag == COMMENT:
                doomed.append(node)
            continue
        tag = node.tag
        if tag in _RAW:
            doomed.append(node)
            continue
        attrib = node.attrib
        if tag == "em":
            if attrib and _is_bad(attrib):
                if node.get_elements_by_tag("img"):
                    doomed.append(node)
                    n_img += 1  # for the ems around it
                    continue
                unwrap.append(node)
            elif node.children:
                open_em += 1
                exits.append(node)
                marks.append(n_img)
                push_end(None)
            else:
                unwrap.append(node)
        elif tag == "span" and _DROPCAP_RE.search(attrib.get("class", "")):
            unwrap.append(node)
        elif attrib and _is_bad(attrib):
            doomed.append(node)
            if open_em and (tag == "img" or node.get_elements_by_tag("img")):
                n_img += 1
            continue
        elif tag == "span":
            if in_p:
                unwrap.append(node)
        elif tag in _BLOCK:
            n_block += 1
            if tag == "img":
                n_img += 1
            elif tag == "p":
                if node.children:
                    in_p += 1
                    exits.append(node)
                    push_end(None)
            elif tag == "div":
                if node.children:
                    exits.append(node)
                    marks.append(n_block)
                    push_end(None)
                else:
                    to_p.append(node)
        if node.children:
            push(reversed(node.children))
    drop_all(unwrap)
    remove_all(doomed)
    for div in to_p:
        div.tag = "p"
    for div in to_wrap:
        _wrap_text_runs(div, root.elements)
    return root


def _wrap_text_runs(div: Node, elements: list[Node]) -> None:
    """[canon: cleaners.py div_to_para + get_replacement_nodes] for a div
    that holds block tags: each bare text run between blocks (a direct,
    non-blank text child) is replaced by a new <p> holding that text.
    Each new <p> goes on ``elements``, the document's list for dispose."""
    kids: list[Node] = []
    for child in div.children:
        if child.tag == TEXT and child.text and child.text.strip():
            p = new_element("p")
            p.append(new_text(child.text))
            elements.append(p)
            p.parent = div
            child.parent = None
            kids.append(p)
        else:
            kids.append(child)
    div.children = kids
