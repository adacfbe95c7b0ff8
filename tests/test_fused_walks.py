"""Differential tests for the one-walk clean, score and format phases.

Each fused function is compared against the code it replaced, kept here
as a test-local oracle: the sequential cleaner passes, the per-candidate
``<a>`` scan of link density, the flag-list boost precompute, the
per-node score updates, the per-paragraph rescans of post_cleanup and
the three formatter walks, all with the per-node ``drop_tag`` splice, and
the few-words pass recounting each element's concatenated text in every
language where the formatter folds child counts.
The top node's <p> and <a> that post_cleanup and ``extract_links`` read
from scoring's ``seen`` list are checked against a walk of the top node.
Trees, scores, top nodes, anchors and output text must be equal on every
sf0.001 and sf0.01 fixture page, on generated tag soup, and on the edge cases
where the canonical pass order decides the outcome.
"""

import gc
import importlib.util
import os
import re
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gooselite import constants as C
from gooselite.cleaner import clean_document
from gooselite.formatter import get_formatted_text
from gooselite.minidom import (COMMENT, Node, ParseError, drop_all,
                               new_element, new_text, parse_html,
                               remove_all)
from gooselite.scoring import (calculate_best_node, is_highlink_density,
                               post_cleanup)
from gooselite.text import stopword_counter


# -- oracles: the replaced code ----------------------------------------------

def _detach(node):
    if node.parent is not None:
        node.parent.children.remove(node)
        node.parent = None


def _drop_tag(node):
    parent = node.parent
    if parent is None:
        return
    idx = parent.children.index(node)
    kids = list(node.children)
    parent.children[idx:idx + 1] = kids
    for k in kids:
        k.parent = parent
    node.children = []
    node.parent = None


_TARGETED_RES = (C.CAPTION_RE, C.GOOGLE_RE, C.ENTRIES_RE,
                 C.FACEBOOK_RE, C.FACEBOOK_BROADCASTING_RE, C.TWITTER_RE)
_DROPCAP_RE = re.compile(r"^(dropcap|drop_cap)$", re.I)


def _old_remove_bad_and_targeted(root):
    doomed = []
    bad = C.REMOVE_NODES_RE
    for e in root.iter_elements():
        attrib = e.attrib
        if not attrib:
            continue
        eid = attrib.get("id")
        ecls = attrib.get("class")
        name = attrib.get("name")
        if (
            (eid and bad.search(eid))
            or (ecls and bad.search(ecls))
            or (name and bad.search(name))
            or any((eid and rx.search(eid)) or (ecls and rx.search(ecls))
                   for rx in _TARGETED_RES)
        ):
            doomed.append(e)
    remove_all(doomed)


def _old_div_to_para(root):
    block = set(C.DIV_TO_P_BLOCK_TAGS)
    for div in list(root.get_elements_by_tag("div")):
        if div.parent is None:
            continue
        if not any(e.tag in block for e in div.iter_elements()):
            div.tag = "p"
        else:
            for child in list(div.children):
                if child.tag == "#text" and child.text and child.text.strip():
                    p = new_element("p")
                    p.append(new_text(child.text))
                    pos = div.children.index(child)
                    div.children[pos] = p
                    p.parent = div
                    child.parent = None


def _old_clean(root):
    for em in root.get_elements_by_tag("em"):
        if not em.get_elements_by_tag("img"):
            _drop_tag(em)
    for span in root.get_elements_by_tag("span"):
        if _DROPCAP_RE.search(span.attrib.get("class", "")):
            _drop_tag(span)
    remove_all(root.get_elements_by_tag("script", "style", COMMENT))
    _old_remove_bad_and_targeted(root)
    for p in root.get_elements_by_tag("p"):
        for span in p.get_elements_by_tag("span"):
            _drop_tag(span)
    _old_div_to_para(root)
    return root


def _old_highlink_density(node):
    links = node.get_elements_by_tag("a")
    if not links:
        return False
    words = node.raw_text().split()
    if not words:
        return True
    n_link_words = sum(len(a.raw_text().split()) for a in links)
    return (n_link_words / len(words)) * len(links) >= C.LINK_DENSITY_THRESHOLD


def _old_precompute_boostable(candidates, lang):
    wanted = {id(n) for n in candidates}
    parents, seen = [], set()
    for n in candidates:
        p = n.parent
        if p is not None and id(p) not in seen:
            seen.add(id(p))
            parents.append(p)
    out = {}
    reach = C.BOOST_SIBLING_REACH
    for parent in parents:
        flags = []
        for child in parent.children:
            if id(child) in wanted:
                out[id(child)] = any(flags[-reach:])
            if child.is_element and child.tag == "p":
                cnt = child.swc
                if cnt is None:
                    cnt = stopword_counter(lang)(child.raw_text())
                    child.swc = cnt
                flags.append(cnt > C.BOOST_MIN_STOPWORDS)
    return out


def _update_score(node, add):
    current = node.score if node.score is not None else 0.0
    node.score = current + add


def _old_best_node(root, lang):
    candidates = root.get_elements_by_tag(*C.CANDIDATE_TAGS)
    nodes_with_text = []
    for node in candidates:
        cnt = stopword_counter(lang)(node.raw_text())
        node.swc = cnt
        if cnt > C.CANDIDATE_MIN_STOPWORDS and not _old_highlink_density(node):
            nodes_with_text.append(node)
    boostable = _old_precompute_boostable(nodes_with_text, lang)
    nodes_number = len(nodes_with_text)
    negative_scoring = 0.0
    bottom = nodes_number * C.NEGATIVE_SCORING_BOTTOM_FRACTION
    starting_boost = 1.0
    parent_nodes, parent_seen = [], set()
    for i, node in enumerate(nodes_with_text):
        boost_score = 0.0
        if boostable.get(id(node), False):
            boost_score = (1.0 / starting_boost) * C.BOOST_BASE
            starting_boost += 1
        if nodes_number > C.NEGATIVE_SCORING_MIN_NODES:
            if (nodes_number - i) <= bottom:
                booster = bottom - (nodes_number - i)
                boost_score = -(booster ** 2)
                negscore = abs(boost_score) + negative_scoring
                if negscore > C.NEGATIVE_SCORING_CLAMP_TOTAL:
                    boost_score = float(C.NEGATIVE_SCORING_CLAMP_VALUE)
        upscore = int(node.swc + boost_score)
        parent = node.parent
        if parent is None:
            continue
        _update_score(parent, upscore)
        parent.gravity_nodes += 1
        if id(parent) not in parent_seen:
            parent_seen.add(id(parent))
            parent_nodes.append(parent)
        grandparent = parent.parent
        if grandparent is not None:
            _update_score(grandparent, upscore / C.GRANDPARENT_SCORE_DIVISOR)
            grandparent.gravity_nodes += 1
            if id(grandparent) not in parent_seen:
                parent_seen.add(id(grandparent))
                parent_nodes.append(grandparent)
    top_node, top_node_score = None, 0.0
    for e in parent_nodes:
        score = e.score if e.score is not None else 0.0
        if score > top_node_score:
            top_node, top_node_score = e, score
        if top_node is None:
            top_node = e
    return top_node


def _old_post_cleanup(top_node, lang):
    base, number, total = 100000.0, 0, 0.0
    for node in top_node.get_elements_by_tag("p"):
        cnt = node.swc
        if cnt is None:
            cnt = stopword_counter(lang)(node.raw_text())
            node.swc = cnt
        if cnt > C.CANDIDATE_MIN_STOPWORDS and not _old_highlink_density(node):
            number += 1
            total += cnt
    if number > 0:
        base = total / number
    for sibling in top_node.previous_siblings():
        if sibling.tag == "p" and sibling.get_text():
            content = [sibling]
        else:
            content = []
            for para in sibling.get_elements_by_tag("p"):
                text = para.get_text()
                if not text:
                    continue
                if (base * C.SIBLING_SCORE_MULTIPLIER
                        < stopword_counter(lang)(text)
                        and not _old_highlink_density(para)):
                    content.append(new_element("p", text=text))
        for p in content:
            _detach(p)
            p.parent = top_node
            top_node.children.insert(0, p)
    top_score = top_node.score if top_node.score is not None else 0.0
    for e in list(top_node.children):
        if not e.is_element or e.tag == "p":
            continue
        if _old_highlink_density(e):
            _detach(e)
            continue
        for p in e.get_elements_by_tag("p"):
            if len(p.get_text()) < C.TABLE_PARA_MIN_CHARS:
                _detach(p)
        if not e.get_elements_by_tag("p") and e.tag != "td":
            _detach(e)
            continue
        score = e.score if e.score is not None else 0.0
        if score < top_score * C.CHILD_PRUNE_THRESHOLD and e.tag != "td":
            _detach(e)
    return top_node


def _old_fewwords(top_node, lang):
    """The canonical form: each element's text is its kept children's
    texts joined by a space, counted whole, in every language."""
    count = stopword_counter(lang)
    live_media, doomed = {}, []
    ordered = list(top_node.iter_elements())
    live = {}
    for e in reversed(ordered):
        parts, desc_media = [], 0
        for child in e.children:
            if child.is_element:
                v = live.get(id(child))
                if v is None:
                    continue
                parts.append(v)
                desc_media += live_media.get(id(child), 0)
            elif child.tag == "#text" and child.text:
                parts.append(child.text)
        v = " ".join(parts)
        if count(v) < C.FORMATTER_MIN_PARA_STOPWORDS and desc_media == 0:
            doomed.append(e)
        else:
            live[id(e)] = v
            live_media[id(e)] = desc_media + (1 if e.tag in ("object", "embed") else 0)
    remove_all(doomed)


def _old_format(top_node, lang):
    remove_all([e for e in top_node.iter_elements()
                if e.score is not None and int(e.score) < C.FORMATTER_MIN_NODE_SCORE])
    for e in top_node.get_elements_by_tag("a", *C.FORMATTER_DROP_TAGS):
        _drop_tag(e)
    _old_fewwords(top_node, lang)
    txts = [c.get_text() for c in top_node.children if c.is_element]
    return C.PARAGRAPH_JOIN.join(t for t in txts if t)


# -- comparison ----------------------------------------------------------------

def _tree(root):
    """(depth, tag, attributes, text, score, gravity_nodes) in document
    order, with a check that every parent pointer is consistent."""
    out = []
    stack = [(root, 0)]
    while stack:
        node, depth = stack.pop()
        out.append((depth, node.tag, tuple(node.attrib.items()), node.text,
                    node.score, node.gravity_nodes))
        for kid in node.children:
            assert kid.parent is node
        stack.extend((kid, depth + 1) for kid in reversed(node.children))
    return out


def _path(node):
    path = []
    while node is not None and node.parent is not None:
        path.append(node.parent.children.index(node))
        node = node.parent
    return path[::-1]


def _stages(text, lang, new):
    root = parse_html(text)
    (clean_document if new else _old_clean)(root)
    out = [_tree(root)]
    if new:
        # the fold against the per-candidate scan, before scoring mutates
        for node in root.get_elements_by_tag(*C.CANDIDATE_TAGS, "div"):
            assert is_highlink_density(node) == _old_highlink_density(node)
    seen = []  # calculate_best_node's <p> and <a>, for post_cleanup
    top = (calculate_best_node(root, lang, seen) if new
           else _old_best_node(root, lang))
    out += [_tree(root), top is not None and _path(top)]
    if top is None:
        return out
    if new:
        for node in root.get_elements_by_tag(*C.CANDIDATE_TAGS):
            if node.link_dense is not None:
                assert node.link_dense == _old_highlink_density(node)
    top = (post_cleanup(top, seen) if new
           else _old_post_cleanup(top, lang))
    anchors = (top.descendants_in(seen, "a") if new
               else top.get_elements_by_tag("a"))  # extract_links reads
    out += [_tree(root), _path(top), [_path(a) for a in anchors]]
    txt = (get_formatted_text if new else _old_format)(top, lang)
    return out + [_tree(root), txt]


def _assert_same(text, lang="en"):
    try:
        parse_html(text)
    except ParseError:
        return  # no tree to clean
    new, old = _stages(text, lang, True), _stages(text, lang, False)
    for stage, (a, b) in enumerate(zip(new, old)):
        assert a == b, (stage, text[:300])
    assert len(new) == len(old)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fused_phases_match_oracles_on_fixture_pages(sf):
    import pyarrow.parquet as pq

    from goose_spark.ducklab import SF_DIR_DEFAULT
    from goose_spark.fixtures import ensure_pages
    from gooselite.encoding import DecodeError, decode_html

    pages, _ = ensure_pages(os.path.join(os.path.dirname(SF_DIR_DEFAULT), sf))
    cols = pq.read_table(pages, columns=["html", "lang"]).to_pydict()
    checked = []
    for blob, lang in zip(cols["html"], cols["lang"]):
        if not blob:
            continue
        try:
            text, _enc = decode_html(blob)
        except DecodeError:
            continue
        _assert_same(text, lang)
        checked.append(lang)
    assert len(checked) > 100
    # the segmenting counters' pages, where the formatter's count fold
    # meets the concatenating oracle
    assert {"zh", "ja", "th", "ko", "ar"} <= set(checked)


def _minidom_soup():
    """The tag-soup strategy of tests/test_minidom.py."""
    path = os.path.join(os.path.dirname(__file__), "test_minidom.py")
    spec = importlib.util.spec_from_file_location("_minidom_soup", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._SOUP


@settings(max_examples=300, deadline=None)
@given(_minidom_soup())
def test_fused_phases_match_oracles_on_tag_soup(text):
    _assert_same(text)


# Soup aimed at the decisions the fused walks make: unwraps with
# blacklisted attributes, dropcaps, spans under <p>, nested <a>, media,
# and enough stopwords for candidates to score.
_TAGS = ["p", "div", "span", "em", "a", "b", "strong", "i", "br", "img",
         "td", "tr", "table", "pre", "ul", "li", "object", "embed",
         "script", "h2"]
_ATTRS = ["", "", " class=dropcap", " class=Drop_Cap", " class=sidebar",
          " id=footer", " class=caption", " name=meta", " class=art",
          " id=x-twitter", " class=dropcap id=footer", " src=x.jpg"]
_WORDS = ["the", "of", "and", "to", "in", "is", "it", "was", "for", "on",
          "that", "with", "fox", "dog", "ran", "x"]
_AIMED = st.lists(st.one_of(
    st.tuples(st.sampled_from(_TAGS), st.sampled_from(_ATTRS))
      .map(lambda t: f"<{t[0]}{t[1]}>"),
    st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=14).map(" ".join),
    st.just("<!-- c -->"),
), max_size=80).map("".join)


@settings(max_examples=300, deadline=None)
@given(_AIMED, st.sampled_from(["en", "zh"]))
def test_fused_phases_match_oracles_on_aimed_soup(text, lang):
    _assert_same(text, lang)


@settings(max_examples=300, deadline=None)
@given(_AIMED, st.lists(st.booleans(), max_size=120))
def test_drop_all_matches_sequential_drop_tag(text, picks):
    a, b = parse_html(text), parse_html(text)
    ea, eb = a.iter_elements(), b.iter_elements()
    chosen = [i for i, p in zip(range(len(ea)), picks) if p]
    drop_all([ea[i] for i in chosen])
    for i in reversed(chosen):  # any order gives the same tree
        _drop_tag(eb[i])
    assert _tree(a) == _tree(b)
    assert all(ea[i].parent is None and not ea[i].children for i in chosen)


# -- edge cases where the canonical order decides ------------------------------

_WORDY = "the fox and the dog were in the barn for the night with the rest of it"


def _cleaned(html):
    root = clean_document(parse_html(html))
    return root, root.get_elements_by_tag, " ".join(root.itertext())


@pytest.mark.parametrize("html", [
    f"<div><p>{_WORDY} <em class=sidebar>kept words</em></p></div>",
    f"<div><p>{_WORDY} <em class=sidebar>lost<img src=a.jpg></em></p></div>",
    f"<div><p>{_WORDY} <em>em words<span class=footer><img src=a.jpg>"
    "</span></em></p></div>",
    f"<div><p>{_WORDY} <em>outer<em class=sidebar>inner<img src=a.jpg>"
    "</em></em></p></div>",
    f"<div><p><span class=dropcap id=footer>T</span>he {_WORDY}</p></div>",
    f"<div><p>{_WORDY}</p><div class=sidebar><p>in <span>side</span>"
    "</p></div></div>",
    f"<body><div>{_WORDY}<div class=footer><p>x</p></div></div></body>",
    f"<body><div>{_WORDY}<em>run</em><p>{_WORDY}</p>tail</div></body>",
    f"<div><p>{_WORDY} <a href=u>one <a href=v>two</a></a></p></div>",
    f"<div><p>{_WORDY} <a href=u>one <a href=v>two three four five six "
    "seven eight nine ten eleven twelve</a></a></p></div>",
    # candidates below an <a>: their link words exclude the outer link
    f"<div><a href=u><p>{_WORDY} <a href=v>one</a></p><p>{_WORDY}</p>"
    f"<table><tr><td>{_WORDY} <a href=w>two</a></td></tr></table></a></div>",
])
def test_edge_cases_match_oracles(html):
    _assert_same(html)


def test_blacklisted_em_is_unwrapped_unless_it_holds_an_img():
    _, by_tag, text = _cleaned(
        f"<p>{_WORDY} <em class=sidebar>kept words</em></p>")
    assert not by_tag("em") and "kept words" in text
    _, by_tag, text = _cleaned(
        f"<p>{_WORDY} <em class=sidebar>lost<img src=a.jpg></em></p>")
    assert not by_tag("em") and not by_tag("img") and "lost" not in text


def test_img_in_doomed_subtree_keeps_the_em():
    _, by_tag, text = _cleaned(
        f"<p>{_WORDY} <em>em words<span class=footer><img src=a.jpg>"
        "</span></em></p>")
    assert len(by_tag("em")) == 1 and not by_tag("img")
    assert "em words" in text
    # an img in a doomed blacklisted em counts for the em around it
    _, by_tag, text = _cleaned(
        f"<p>{_WORDY} <em>outer<em class=sidebar>inner<img src=a.jpg>"
        "</em></em></p>")
    assert len(by_tag("em")) == 1 and "outer" in text and "inner" not in text


def test_dropcap_with_blacklisted_id_is_unwrapped():
    _, by_tag, text = _cleaned(
        f"<p><span class=dropcap id=footer>T</span>he {_WORDY}</p>")
    assert not by_tag("span") and text.startswith("T he ")


def test_span_in_p_in_doomed_div_goes_with_the_div():
    root, by_tag, text = _cleaned(
        f"<body><p>{_WORDY}</p><div class=sidebar><p>in <span>side</span>"
        "</p></div></body>")
    assert "side" not in text and not by_tag("div") and len(by_tag("p")) == 1


def test_div_with_blocks_only_in_doomed_subtree_becomes_p():
    _, by_tag, text = _cleaned(
        f"<body><div>{_WORDY}<div class=footer><p>x</p></div></div></body>")
    assert not by_tag("div") and [p.get_text() for p in by_tag("p")] == [_WORDY]


def test_text_runs_read_after_unwraps():
    root, by_tag, _ = _cleaned(
        "<body><div>a<em>b</em><p>c</p>d</div></body>")
    div = by_tag("div")[0]
    assert [(k.tag, k.get_text()) for k in div.children] == \
        [("p", "a"), ("p", "b"), ("p", "c"), ("p", "d")]


def test_nested_links_fold():
    root = parse_html("<p>w1 w2 w3 w4 w5 w6 <a>x <a>y z</a></a></p>")
    p = root.get_elements_by_tag("p")[0]
    # 2 links; link words 3 (outer) + 2 (inner) over 9 words: 5/9*2 >= 1
    assert _old_highlink_density(p) and is_highlink_density(p)
    root = parse_html("<p>w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 <a>x <a>y</a></a></p>")
    p = root.get_elements_by_tag("p")[0]
    assert not _old_highlink_density(p) and not is_highlink_density(p)
    root = parse_html(f"<div><a href=u><p>{_WORDY} <a href=v>one</a></p></a></div>")
    p = root.get_elements_by_tag("p")[0]
    assert not _old_highlink_density(p) and not is_highlink_density(p)
    calculate_best_node(root, "en", [])
    assert p.link_dense is False


def test_scored_node_below_negative_score_node():
    def top_node():
        top = Node("div")
        for score in (5.0, -3.0):
            child = new_element("p", _WORDY)
            child.score = score
            top.append(child)
        inner = new_element("p", _WORDY + " inner")
        inner.score = 10.0
        top.children[1].append(inner)
        return top

    new, old = top_node(), top_node()
    assert get_formatted_text(new, "en") == _old_format(old, "en") == _WORDY
    assert _tree(new) == _tree(old)


# -- planted inputs: no quadratic term under one wide parent -------------------

def _clean_cpu_s(html):
    """Min of 3 process_time runs of clean_document on fresh parses."""
    best = float("inf")
    for _ in range(3):
        root = parse_html(html)
        gc.collect()
        gc.disable()
        try:
            t0 = time.process_time()
            clean_document(root)
            best = min(best, time.process_time() - t0)
        finally:
            gc.enable()
    return best


@pytest.mark.parametrize("unit", [
    "run<p>x</p>",   # one div, n text runs between blocks (text-run wrap)
    "<em>w</em> ",   # one p, n unwrapped <em> (drop-tag splice)
], ids=["div_text_runs", "em_unwraps"])
def test_clean_scales_linearly_on_planted_input(unit):
    def page(n):
        return "<body><div><p>" + unit * n + "</p></div></body>"

    small, big = _clean_cpu_s(page(4000)), _clean_cpu_s(page(16000))
    # linear is 4; the per-node index + splice of the old code read ~17
    assert big / small <= 8, (small, big)


def _post_cleanup_cpu_s(html):
    """Min of 3 process_time runs of post_cleanup on fresh scored trees;
    also the top node's child count and its index under its parent."""
    best = float("inf")
    for _ in range(3):
        root = clean_document(parse_html(html))
        seen = []
        top = calculate_best_node(root, "en", seen)
        gc.collect()
        gc.disable()
        try:
            t0 = time.process_time()
            post_cleanup(top, seen)
            best = min(best, time.process_time() - t0)
        finally:
            gc.enable()
    return best, len(top.children), top.parent.children.index(top)


def test_sibling_absorption_scales_linearly_on_split_article():
    """The article split across two sibling <div>s: the second, with more
    stopwords per <p>, is the top node and absorbs every <p> of the
    first."""
    def page(n):
        return ("<body><div>" + "<p>the fox and the dog were in the barn</p>" * n
                + f"</div><div>{f'<p>{_WORDY}</p>' * n}</div></body>")

    small, kids, index = _post_cleanup_cpu_s(page(5000))
    assert (kids, index) == (10000, 1)
    big, kids, _ = _post_cleanup_cpu_s(page(20000))
    assert kids == 40000
    # linear is 4; one insert(0, p) per absorbed <p> read ~10
    assert big / small <= 8, (small, big)
