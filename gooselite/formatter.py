"""OutputFormatter — top_node subtree → final text (SURVEY.md A15).

[canon: goose/outputformatters.py OutputFormatter.get_formatted_text]:
  1. remove scored descendants with gravityScore < 1;
  2. drop-tag <a> (links_to_text);
  3. drop-tag b / strong / i / br (replace_with_text);
  4. remove elements with stopword_count < 3 unless they contain
     <object>/<embed> (remove_fewwords_paragraphs, reverse doc order);
  5. text of each remaining direct child, innerTrim'd, joined '\n\n'.

Steps 1–4 read one pre-order walk of the top node (:func:`_walk`). It
does not descend into a negative-score element, so a scored node below
one goes with it, as in the sequential passes. It yields the doomed set,
the drop-tag groups in canonical ``a, b, strong, i, br`` order, and the
elements that survive both, in pre-order. Unwrapping never adds, removes
or reorders the other elements, so that list is the pre-order of the
tree step 4 sees, and step 4 folds stopword counts over it bottom-up, in
every language.

THIS stage defines the bytes the north rule compares (BASELINE.json:14
"byte-identical extracted text per url"); see SURVEY.md §7.5.
Deviation recorded: the canonical add_newline_to_br quirk (br.text set to a
literal backslash-n pair, collapsed later) is realized here as plain <br>
drop-tagging — identical observable output under innerTrim.
"""

from __future__ import annotations

from gooselite import constants as C
from gooselite.minidom import TEXT, Node, drop_all, remove_all
from gooselite.text import stopword_counter

_DROP_ORDER = ("a",) + C.FORMATTER_DROP_TAGS
_MEDIA = frozenset(("object", "embed"))


def _walk(top_node: Node) -> tuple[list[Node], list[Node], list[Node]]:
    """(negative-score doomed, drop-tag nodes in canonical group order,
    surviving elements in pre-order) of the top node, in one walk."""
    doomed: list[Node] = []
    kept: list[Node] = []
    groups: dict[str, list[Node]] = {t: [] for t in _DROP_ORDER}
    min_score = C.FORMATTER_MIN_NODE_SCORE
    stack = list(reversed(top_node.children))
    pop, push = stack.pop, stack.extend
    while stack:
        node = pop()
        if not node.is_element:
            continue
        score = node.score
        if score is not None and int(score) < min_score:
            doomed.append(node)
            continue
        group = groups.get(node.tag)
        if group is None:
            kept.append(node)
        else:
            group.append(node)
        if node.children:
            push(reversed(node.children))
    drops: list[Node] = []
    for t in _DROP_ORDER:
        drops.extend(groups[t])
    return doomed, drops, kept


def _remove_fewwords_paragraphs(ordered: list[Node], lang: str | None) -> None:
    """Remove elements with stopword_count < 3 (object/embed-containing
    exempt), evaluating in reverse document order so ancestors see the
    already-pruned text of their descendants. ``ordered`` is the top
    node's elements in pre-order.

    [canon: outputformatters.py remove_fewwords_paragraphs — sequential
    reversed() loop]. Reverse document order is bottom-up (all descendants
    of X precede X in reversed pre-order), so this is implemented as one
    memoized bottom-up pass with a single batched removal — identical
    decisions, O(n) instead of the naive O(n²) on skew-tail pages.
    The stopword count is additive over space-joined parts in every
    language (:func:`gooselite.text.stopword_counter`), so each element's
    count is the sum of its kept children's counts and its own text
    nodes' counts, not a recount of the concatenated text: O(total text)
    instead of O(depth × text) on deep pages.
    """
    live_cnt: dict[Node, int] = {}  # kept element → count after pruning
    # kept element → live object/embed below it, stored when > 0 (Nodes
    # hash by identity)
    live_media: dict[Node, int] = {}
    doomed: list[Node] = []
    count = stopword_counter(lang)
    for e in reversed(ordered):
        cnt = 0
        desc_media = 0
        for child in e.children:
            if child.is_element:
                ccnt = live_cnt.get(child)
                if ccnt is None:  # child was doomed
                    continue
                cnt += ccnt
                if live_media:
                    desc_media += live_media.get(child, 0)
            elif child.tag == TEXT and child.text:
                cnt += count(child.text)
        # exemption counts object/embed DESCENDANTS only (canonical
        # getElementsByTag semantics — an element never matches itself)
        if cnt < C.FORMATTER_MIN_PARA_STOPWORDS and desc_media == 0:
            doomed.append(e)
        else:
            live_cnt[e] = cnt
            media = desc_media + (e.tag in _MEDIA)
            if media:
                live_media[e] = media
    remove_all(doomed)


def _convert_to_text(top_node: Node) -> str:
    # element children only: canonical getText-per-block joins elements
    # with '\n\n'; bare text nodes between blocks are not emitted
    txts: list[str] = []
    for child in top_node.children:
        if child.is_element:
            txt = child.get_text()
            if txt:
                txts.append(txt)
    return C.PARAGRAPH_JOIN.join(txts)


def get_formatted_text(top_node: Node, lang: str | None) -> str:
    doomed, drops, kept = _walk(top_node)
    remove_all(doomed)
    drop_all(drops)
    _remove_fewwords_paragraphs(kept, lang)
    return _convert_to_text(top_node)
