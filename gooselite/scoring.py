"""Content scoring: candidates, boosts, score propagation, top-node
selection, sibling absorption, post-cleanup (SURVEY.md A7–A14).

[canon: goose/extractors.py ContentExtractor — calculate_best_node,
the boost check, is_highlink_density, update_score/update_node_count,
add_siblings/get_siblings_content/get_siblings_score, post_cleanup,
is_table_and_no_para_exist, is_nodescore_threshold_met]. Reference checkout
empty at build time (SURVEY.md §0.1); every constant sourced from
:mod:`gooselite.constants` (§2.4) for one-place re-verification.

Candidate enumeration and the A9 link-density fold of every candidate
share one tree walk (:func:`_link_walk`). ``calculate_best_node`` caches
each candidate's stopword count and link-density decision on the node
(``Node.swc``, ``Node.link_dense``); post_cleanup reads them back for the
same, still unchanged paragraphs instead of rescanning them. It also
fills the caller's ``seen`` list with the <p> it scored and the <a> its
walk met, so the sibling baseline and ``extract_links`` read the top
node's share of those instead of walking the top node.
"""

from __future__ import annotations

from gooselite import constants as C
from gooselite.minidom import (TEXT, Node, new_element, owner_document,
                               remove_all)
from gooselite.text import stopword_counter


def _is_dense(words: int, links: int, link_words: int) -> bool:
    """A9: (link words / words) * n_links >= 1.0, from whitespace-token
    counts; a node with links and no words is all link."""
    if not links:
        return False
    if not words:
        return True
    return (link_words / words) * links >= C.LINK_DENSITY_THRESHOLD


def is_highlink_density(node: Node) -> bool:
    """A9 for one node: the totals of one :func:`_link_walk` over it."""
    _, _, links, link_words, _ = _link_walk(node, ())
    return bool(links) and _is_dense(len(node.raw_text().split()), links,
                                     link_words)


def _link_dense(node: Node) -> bool:
    dense = node.link_dense
    return is_highlink_density(node) if dense is None else dense


def _precompute_boostable(candidates: list[Node]) -> set[Node]:
    """One pass per parent: for each candidate, whether any of its nearest
    BOOST_SIBLING_REACH previous <p> siblings has stopword_count >
    BOOST_MIN_STOPWORDS; returns the boostable ones. Nodes hash by
    identity. Every <p> below calculate_best_node's root is a candidate,
    so its count is already on it (``Node.swc``).

    [canon: extractors.py boost check, SURVEY.md A10 — walk_siblings =
    previous siblings], nearest-first in one left-to-right pass: the
    per-candidate sibling walk is O(n²) on Common-Crawl skew-tail pages
    with 10^5 sibling paragraphs."""
    wanted = set(candidates)
    parents = dict.fromkeys(n.parent for n in candidates)
    parents.pop(None, None)
    out: set[Node] = set()
    reach = C.BOOST_SIBLING_REACH
    for parent in parents:
        gap = reach  # <p> siblings since the last one over the threshold
        for child in parent.children:
            if gap < reach and child in wanted:
                out.add(child)
            if child.tag == "p":
                gap = 0 if child.swc > C.BOOST_MIN_STOPWORDS else gap + 1
    return out


def _link_walk(root: Node, tags: tuple[str, ...]) -> tuple[
        list[Node], dict[Node, tuple[int, int, int]], int, int, list[Node]]:
    """One walk below ``root``: the nodes tagged ``tags`` (per tag group,
    each in document order — A7's candidate order), the A9 link fold of
    each that has an <a> below it, the fold's totals for ``root``, and
    every <a> below ``root`` in document order.

    The fold is (n_links, Σ words × <a>-depth, <a>-depth at the node).
    Word counts are additive over text nodes (the join space never merges
    tokens), and a text's words count once per <a> above it: nested <a>
    count the way ``get_elements_by_tag("a")`` lists them. Running totals
    are read where a node's subtree begins and ends; a None on the walk
    stack marks the end of the innermost open <a> or tagged node. Only
    text below an <a> is tokenized here. A node's own word count W comes
    from the raw text its caller reads anyway, and its link words are
    Σ − depth × W."""
    buckets: dict[str, list[Node]] = {t: [] for t in tags}
    links: dict[Node, tuple[int, int, int]] = {}
    anchors: list[Node] = []
    exits: list[Node] = []
    marks: list[tuple[int, int, int]] = []
    n_a = a_words = depth = 0
    stack = list(reversed(root.children))
    pop, push, push_end = stack.pop, stack.extend, stack.append
    while stack:
        node = pop()
        if node is None:
            e = exits.pop()
            if e.tag == "a":
                depth -= 1
            else:
                n0, w0, d0 = marks.pop()
                if n_a > n0:
                    links[e] = (n_a - n0, a_words - w0, d0)
            continue
        kids = node.children
        if not kids:
            if node.tag == TEXT:
                if depth and node.text:
                    a_words += len(node.text.split()) * depth
            elif node.tag == "a":
                n_a += 1
                anchors.append(node)
            else:
                bucket = buckets.get(node.tag)
                if bucket is not None:
                    bucket.append(node)
            continue
        tag = node.tag
        if tag == "a":
            n_a += 1
            anchors.append(node)
            depth += 1
            exits.append(node)
            push_end(None)
        else:
            bucket = buckets.get(tag)
            if bucket is not None:
                bucket.append(node)
                exits.append(node)
                marks.append((n_a, a_words, depth))
                push_end(None)
        push(reversed(kids))
    out: list[Node] = []
    for t in tags:
        out.extend(buckets[t])
    return out, links, n_a, a_words, anchors


def calculate_best_node(root: Node, lang: str | None,
                        seen: list[Node]) -> Node | None:
    """A7–A12: enumerate candidates, score, propagate to parents and
    grandparents, return argmax parent (first-in-document-order tie-break).
    ``seen`` receives the <p> candidates that scored (above the stopword
    floor, not link-dense), then every <a>, each in document order."""
    candidates, links, _, _, anchors = _link_walk(root, C.CANDIDATE_TAGS)

    # stopword counts and link-density decisions cached ON the node
    # (Node.swc, Node.link_dense): the sibling-baseline pass (A13) re-reads
    # the same paragraphs and nothing between here and there mutates a
    # counted paragraph's subtree
    count = stopword_counter(lang)
    nodes_with_text: list[Node] = []
    for node in candidates:
        text = node.raw_text()
        cnt = count(text)
        node.swc = cnt
        if cnt > C.CANDIDATE_MIN_STOPWORDS:
            fold = links.get(node)
            if fold is None:
                dense = False
            else:
                n_links, a_words, depth = fold
                words = len(text.split())
                dense = _is_dense(words, n_links, a_words - depth * words)
            node.link_dense = dense
            if not dense:
                nodes_with_text.append(node)
        else:
            node.link_dense = None

    # CANDIDATE_TAGS puts every <p> first, in document order
    seen.extend(n for n in nodes_with_text if n.tag == "p")
    seen.extend(anchors)
    boostable = _precompute_boostable(nodes_with_text)

    nodes_number = len(nodes_with_text)
    negative_scoring = 0.0
    bottom_negativescore_nodes = nodes_number * C.NEGATIVE_SCORING_BOTTOM_FRACTION
    starting_boost = 1.0
    parent_nodes: dict[Node, None] = {}  # insertion-ordered set

    for i, node in enumerate(nodes_with_text):
        boost_score = 0.0
        if node in boostable:
            boost_score = (1.0 / starting_boost) * C.BOOST_BASE
            starting_boost += 1
        if nodes_number > C.NEGATIVE_SCORING_MIN_NODES:
            if (nodes_number - i) <= bottom_negativescore_nodes:
                booster = bottom_negativescore_nodes - (nodes_number - i)
                boost_score = -(booster ** 2)
                negscore = abs(boost_score) + negative_scoring
                if negscore > C.NEGATIVE_SCORING_CLAMP_TOTAL:
                    boost_score = float(C.NEGATIVE_SCORING_CLAMP_VALUE)

        upscore = int(node.swc + boost_score)

        parent = node.parent
        if parent is None:
            continue
        # A11 update_score / update_node_count
        parent.score = (parent.score or 0.0) + upscore
        parent.gravity_nodes += 1
        parent_nodes[parent] = None
        grandparent = parent.parent
        if grandparent is not None:
            grandparent.score = ((grandparent.score or 0.0)
                                 + upscore / C.GRANDPARENT_SCORE_DIVISOR)
            grandparent.gravity_nodes += 1
            parent_nodes[grandparent] = None

    top_node: Node | None = None
    top_node_score = 0.0
    for e in parent_nodes:
        score = e.score if e.score is not None else 0.0
        if score > top_node_score:
            top_node = e
            top_node_score = score
        if top_node is None:
            top_node = e
    return top_node


def _get_siblings_baseline_score(top_node: Node, seen: list[Node]) -> float:
    """A13 baseline: mean stopword score of top_node's qualifying <p>
    (above the stopword floor, not link-dense). Those are the <p> that
    calculate_best_node put in ``seen``, with their counts cached on them,
    and the tree is unchanged since."""
    counts = [p.swc for p in top_node.descendants_in(seen, "p")]
    return sum(counts) / len(counts) if counts else 100000.0


def _get_siblings_content(sibling: Node, baseline_score: float,
                          made: list[Node]) -> list[Node]:
    """A13: content a previous sibling contributes — the sibling itself when
    it is a non-empty <p>, else fresh <p> nodes for each qualifying
    descendant paragraph (score > 0.30 × baseline, not link-dense), each
    also appended to ``made``. Every <p> below calculate_best_node's root
    was a candidate, so its stopword count is already on it (``Node.swc``:
    counts do not depend on whitespace, and a paragraph that counts above
    the threshold has text)."""
    if sibling.tag == "p" and sibling.get_text():
        return [sibling]
    out: list[Node] = []
    threshold = baseline_score * C.SIBLING_SCORE_MULTIPLIER
    for para in sibling.get_elements_by_tag("p"):
        if threshold < para.swc and not _link_dense(para):
            out.append(new_element("p", text=para.get_text()))
    made.extend(out)
    return out


def add_siblings(top_node: Node, seen: list[Node]) -> Node:
    """A13: prepend what each previous sibling contributes, nearest sibling
    first, as one rebuild of ``top_node.children`` (a per-paragraph
    ``insert(0, p)`` is O(n) each, so O(n²) on an article split across
    sibling blocks)."""
    baseline_score = _get_siblings_baseline_score(top_node, seen)
    # the new <p> go on the document's element list, for dispose
    doc = owner_document(top_node)
    made = doc.elements if doc is not None else []
    absorbed: list[Node] = []
    for sibling in top_node.previous_siblings():
        absorbed.extend(_get_siblings_content(sibling, baseline_score, made))
    if absorbed:
        remove_all(absorbed)  # a sibling <p> leaves its parent
        for p in absorbed:
            p.parent = top_node
        top_node.children = absorbed[::-1] + top_node.children
    return top_node


def _is_table_and_no_para_exist(e: Node) -> bool:
    """A14 helper [canon: is_table_and_no_para_exist] — also destructively
    drops sub-paragraphs shorter than TABLE_PARA_MIN_CHARS."""
    remove_all([p for p in e.get_elements_by_tag("p")
                if len(p.get_text()) < C.TABLE_PARA_MIN_CHARS])
    remaining = e.get_elements_by_tag("p")
    return len(remaining) == 0 and e.tag != "td"


def _is_nodescore_threshold_met(top_node: Node, e: Node) -> bool:
    top_score = top_node.score if top_node.score is not None else 0.0
    node_score = e.score if e.score is not None else 0.0
    threshold = top_score * C.CHILD_PRUNE_THRESHOLD
    if node_score < threshold and e.tag != "td":
        return False
    return True


def post_cleanup(top_node: Node, seen: list[Node]) -> Node:
    """A13 + A14: absorb qualifying previous-sibling paragraphs, then prune
    non-<p> children that are link-dense / para-less tables / low-scored,
    in one batch. ``seen``: what calculate_best_node put in its own."""
    node = add_siblings(top_node, seen)
    remove_all([e for e in node.children
                if e.is_element and e.tag != "p"
                and (_link_dense(e)
                     or _is_table_and_no_para_exist(e)
                     or not _is_nodescore_threshold_met(node, e))])
    return node
