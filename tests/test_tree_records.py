"""The tree builder's two records and what reads them.

``parse_html`` returns a ``Document`` whose ``index`` (the metadata
buckets) and ``elements`` (every element, for ``dispose``) are filled as
the builder creates each node, on the fused tokenizer path and on
html.parser's callback path. The index must equal a document-order walk
of the parsed tree; ``dispose`` must leave no Node for the cyclic GC,
detached subtrees and the <p> that the cleaner and the sibling pass
create included. ``inner_trim``'s fast path rests on ' ' being the only
printable whitespace character.
"""

import gc
import sys

import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st
from test_fuzz import HTML_TEXT, MANGLED_MARKUP
from test_minidom import MODES, _parse_stdlib

from gooselite import extract_one
from gooselite.constants import INDEX_TAGS
from gooselite.metadata import metadata_index
from gooselite.minidom import Node, ParseError, parse_html
from gooselite.text import inner_trim

_WORDY = ("the fox and the dog were in the barn for the night with the rest "
          "of them, and it was there that they heard what the farmer said")

# A blacklisted subtree the cleaner detaches, a bare text run in a
# block-holding div (the cleaner wraps it in a new <p>) and a previous
# sibling of the top node whose paragraph the sibling pass copies into
# a new <p>.
PLANTED = [
    "<html lang=en><head><title>Planted | Site</title>"
    "<meta name=description content='planted page'>"
    "<link rel=canonical href='/planted'></head><body>"
    f"<div class=intro><span>{_WORDY} again</span><p>{_WORDY} before</p></div>"
    f"<div class=article><p>{_WORDY} one</p><p>{_WORDY} two</p>"
    f"{_WORDY} bare run<p>{_WORDY} three <a href=/x>link</a></p></div>"
    "<div id=comments><p>first comment <a href=/c>reply</a></p>"
    "<div><p>nested comment</p></div></div>"
    "</body></html>",
    # the rare-path constructs: comments, a doctype, a bogus end tag, an
    # unterminated start tag, upper-case and self-closed indexed tags
    "<!doctype html><HTML><head><!-- c --><TITLE>t</TITLE><meta charset=utf-8/>"
    "<link rel=x href=y /></head><body><p>a<a href='1'>b</a></junk>"
    "<iframe src=v></iframe><embed src=e><object data=o></object>"
    "<time datetime=2020>x</time><p>tail <a href=2",
]


def _walked_index(root):
    """The index as a pre-order walk of the parsed tree buckets it."""
    buckets = {t: [] for t in INDEX_TAGS}
    stack = list(reversed(root.children))
    while stack:
        node = stack.pop()
        if node.tag in buckets:
            buckets[node.tag].append(node)
        stack.extend(reversed(node.children))
    return buckets


def _assert_records_match_walk(text):
    for parse in (parse_html, _parse_stdlib):
        for mode in MODES:
            try:
                root = parse(text, **mode)
            except ParseError:
                continue
            assert metadata_index(root) == _walked_index(root), (parse, mode)
            assert root.elements == root.iter_elements(), (parse, mode)


@settings(max_examples=150, deadline=None)
@given(MANGLED_MARKUP)
def test_index_matches_walk_on_tag_soup(text):
    _assert_records_match_walk(text)


@settings(max_examples=150, deadline=None)
@given(HTML_TEXT)
def test_index_matches_walk_on_text(text):
    _assert_records_match_walk(text)


def test_index_matches_walk_on_planted_pages():
    for page in PLANTED:
        _assert_records_match_walk(page)
        assert all(metadata_index(parse_html(page))[t] for t in
                   ("title", "meta", "link", "a", "html"))


# -- dispose: nothing left for the cyclic GC -----------------------------------

def _new_nodes_left(pages):
    """Nodes still alive after extracting pages with the collector off,
    apart from the ones alive before."""
    gc.collect()
    before = [o for o in gc.get_objects() if isinstance(o, Node)]
    seen = {id(o) for o in before}
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        for html, lang, url in pages:
            extract_one(html, lang, url)
        return sum(1 for o in gc.get_objects()
                   if isinstance(o, Node) and id(o) not in seen)
    finally:
        gc.collect()
        if was_enabled:
            gc.enable()


def test_planted_page_exercises_every_node_source():
    r = extract_one(PLANTED[0].encode(), "en", "https://planted.example/a")
    assert r["status"] == "ok"
    assert "bare run" in r["cleaned_text"]            # the cleaner's new <p>
    assert r["cleaned_text"].startswith(_WORDY + " before")  # a sibling's
    assert "comment" not in r["cleaned_text"]         # detached subtree


def test_extract_one_leaves_no_node_for_the_gc(sf0001_fixtures):
    planted = [(p.encode(), "en", f"https://planted.example/{i}")
               for i, p in enumerate(PLANTED)]
    assert _new_nodes_left(planted) == 0
    pages_path, _ = sf0001_fixtures
    cols = pq.read_table(pages_path, columns=["url", "html", "lang"]) \
        .slice(0, 200).to_pydict()
    pages = list(zip(cols["html"], cols["lang"], cols["url"]))
    assert len(pages) == 200
    assert _new_nodes_left(pages) == 0


# -- inner_trim's fast path ----------------------------------------------------

def test_space_is_the_only_printable_whitespace():
    chars = [chr(c) for c in range(sys.maxunicode + 1)]
    spaces = [c for c in chars if c.isspace()]
    assert [c for c in spaces if c.isprintable()] == [" "]
    # str.split() with no separator splits on exactly these
    assert [c for c in chars if len(("a" + c + "b").split()) == 2] == spaces


_TRIM_TEXT = st.lists(st.sampled_from(
    ["a", "bc", "é", " ", "  ", "\t", "\n", "\xa0", "\u3000", "\x85",
     "\u200b", "\x00"]), max_size=30).map("".join)


@settings(max_examples=300, deadline=None)
@given(st.one_of(_TRIM_TEXT, st.text()))
def test_inner_trim_collapses_like_split_join(text):
    assert inner_trim(text) == " ".join(text.split())
