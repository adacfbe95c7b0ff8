import os
from html.parser import HTMLParser

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gooselite.minidom import ParseError, _TreeBuilder, drop_all, parse_html


def test_basic_tree_and_text():
    root = parse_html("<html><body><p>hello <b>world</b></p></body></html>")
    ps = root.get_elements_by_tag("p")
    assert len(ps) == 1
    assert ps[0].get_text() == "hello world"


def test_entities_decoded():
    root = parse_html("<p>fish &amp; chips &lt;3</p>")
    assert root.get_elements_by_tag("p")[0].get_text() == "fish & chips <3"


def test_void_elements_do_not_swallow():
    root = parse_html("<p>a<br>b<img src=x>c</p>")
    p = root.get_elements_by_tag("p")[0]
    assert p.get_text() == "a b c"
    assert len(root.get_elements_by_tag("br")) == 1
    assert len(root.get_elements_by_tag("img")) == 1


def test_implied_p_close():
    root = parse_html("<body><p>one<p>two<div>three</div></body>")
    ps = root.get_elements_by_tag("p")
    assert [p.get_text() for p in ps] == ["one", "two"]
    divs = root.get_elements_by_tag("div")
    # div must be a sibling of the p's, not nested inside
    assert divs[0].parent.tag == "body"


def test_implied_li_td_close():
    root = parse_html("<ul><li>a<li>b</ul><table><tr><td>x<td>y<tr><td>z</table>")
    assert [li.get_text() for li in root.get_elements_by_tag("li")] == ["a", "b"]
    assert [td.get_text() for td in root.get_elements_by_tag("td")] == ["x", "y", "z"]
    assert len(root.get_elements_by_tag("tr")) == 2


def test_script_style_raw_text():
    # raw-text mode: script content must not be parsed as markup, and it
    # is deliberately NOT materialized as text nodes (the cleaner drops
    # script/style subtrees before any text is read — skipping at parse
    # time avoids copying the JS/CSS payload of real pages at all)
    root = parse_html("<script>if (a < b) { x(); }</script><p>t</p>")
    scripts = root.get_elements_by_tag("script")
    assert len(scripts) == 1
    assert scripts[0].itertext() == []          # content skipped, not parsed
    assert root.get_elements_by_tag("b") == []  # "a < b" never became a tag
    assert root.get_elements_by_tag("p")[0].get_text() == "t"


def test_mismatched_end_tags_ignored():
    root = parse_html("<div><p>a</span></p></div></article>")
    assert root.get_elements_by_tag("p")[0].get_text() == "a"


def test_comment_nodes():
    root = parse_html("<div><!-- hidden -->shown</div>")
    div = root.get_elements_by_tag("div")[0]
    assert div.get_text() == "shown"
    assert any(n.tag == "#comment" for n in div.children)


def test_previous_siblings_nearest_first():
    root = parse_html("<body><div id=a></div><div id=b></div><p id=c></p></body>")
    p = root.get_elements_by_tag("p")[0]
    sibs = p.previous_siblings()
    assert [s.attrib["id"] for s in sibs] == ["b", "a"]


def test_drop_tag_splices_children():
    root = parse_html("<p>x <a href=u>link text</a> y</p>")
    a = root.get_elements_by_tag("a")[0]
    drop_all([a])
    p = root.get_elements_by_tag("p")[0]
    assert p.get_text() == "x link text y"
    assert not root.get_elements_by_tag("a")


def test_candidate_order_per_tag_group():
    root = parse_html("<td>t</td><p>p1</p><pre>r</pre><p>p2</p>")
    nodes = root.get_elements_by_tag("p", "pre", "td")
    assert [n.tag for n in nodes] == ["p", "p", "pre", "td"]


def test_attrs_first_wins_and_none_value():
    root = parse_html("<div class='a' class='b' hidden>x</div>")
    d = root.get_elements_by_tag("div")[0]
    assert d.attrib["class"] == "a"
    assert d.attrib["hidden"] == ""


def test_deep_nesting_no_recursion_error():
    html = "<div>" * 5000 + "deep" + "</div>" * 5000
    root = parse_html(html)
    assert "deep" in " ".join(root.itertext())


def test_xml_mode_void_elements_nest():
    from gooselite.minidom import parse_html

    xml = ("<channel><item><link>https://e/d/1</link>"
           "<guid>g1</guid></item></channel>")
    # HTML rules: <link> is void, its text escapes the node
    html_link = parse_html(xml).get_elements_by_tag("link")[0]
    assert html_link.get_text() == ""
    # XML rules: the text nests and the end tag closes the element
    root = parse_html(xml, xml_mode=True)
    item = root.get_elements_by_tag("item")[0]
    assert item.get_elements_by_tag("link")[0].get_text() == "https://e/d/1"
    assert item.get_elements_by_tag("guid")[0].get_text() == "g1"
    # no implied-close recovery in xml_mode: <p> inside <p> nests
    nested = parse_html("<p>a<p>b</p></p>", xml_mode=True)
    outer = nested.get_elements_by_tag("p")[0]
    assert outer.get_text().replace(" ", "") == "ab"


# -- differential: the fused tokenizer vs html.parser's own loop -------------

MODES = ({}, {"keep_raw_text": True}, {"xml_mode": True})


class _StdlibLoop(_TreeBuilder):
    """The oracle: the same tree callbacks driven by html.parser's goahead."""

    goahead = HTMLParser.goahead


def _parse_stdlib(text, **mode):
    builder = _StdlibLoop(**mode)
    try:
        builder.feed(text)
        builder.close()
    except Exception as exc:
        raise ParseError(str(exc)) from exc
    return builder.root


def _node_seq(root):
    """(depth, tag, attribute items in order, text) in document order."""
    out = []
    stack = [(root, 0)]
    while stack:
        node, depth = stack.pop()
        out.append((depth, node.tag, tuple(node.attrib.items()), node.text))
        stack.extend((kid, depth + 1) for kid in reversed(node.children))
    return out


def _outcome(parse, text, mode):
    try:
        return _node_seq(parse(text, **mode))
    except ParseError as exc:
        return ("ParseError", str(exc))


def _assert_same(text):
    for mode in MODES:
        assert _outcome(parse_html, text, mode) == \
            _outcome(_parse_stdlib, text, mode), (mode, text[:200])


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_tokenizer_matches_stdlib_loop_on_fixture_pages(sf):
    import pyarrow.parquet as pq

    from goose_spark.ducklab import SF_DIR_DEFAULT
    from goose_spark.fixtures import ensure_pages
    from gooselite.encoding import DecodeError, decode_html

    pages, _ = ensure_pages(os.path.join(os.path.dirname(SF_DIR_DEFAULT), sf))
    checked = 0
    for blob in pq.read_table(pages, columns=["html"]).column("html").to_pylist():
        if not blob:
            continue
        try:
            text, _enc = decode_html(blob)
        except DecodeError:
            continue
        _assert_same(text)
        checked += 1
    assert checked > 100


_NAMES = ["p", "P", "div", "DiV", "li", "td", "TR", "br", "img", "link", "a",
          "b", "span", "table", "option", "dl", "dt", "dd", "html", "body",
          "script", "style", "SCRIPT", "x-y", "h1"]
_ATTR = st.tuples(
    st.sampled_from(["class", "CLASS", "id", "href", "data-x", "x", "=x", "a'b"]),
    st.sampled_from(["", "=v", '="a b"', "='q'", '="&amp;&#x41;"', "=&bogus",
                     "= 'sp' ", "==x", "=", '="unterminated', "=a/", "=/"]),
).map(lambda nv: " " + nv[0] + nv[1])
_START = st.tuples(
    st.sampled_from(_NAMES), st.lists(_ATTR, max_size=4),
    st.sampled_from([">", "/>", " />", " >", "/ >", "", "\n>"]),
).map(lambda t: "<" + t[0] + "".join(t[1]) + t[2])
_END = st.sampled_from(_NAMES).flatmap(lambda n: st.sampled_from(
    [f"</{n}>", f"</{n} >", f"</ {n}>", f"</{n} junk>", f"</{n}"]))
_MARKUP = st.sampled_from([
    "<!-- c -->", "<!--x", "<!---->", "<!-- a -- b --!>", "<!>", "<!x>",
    "<!doctype html>", "<!DOCTYPE", "<?pi x?>", "<?pi", "<![CDATA[x]]>",
    "<![bogus[x]]>", "<![if x]>", "<![", "</>", "</", "<", "&", "&amp;",
    "&#x41;", "&#65", "&bogus", "&#1;", "& ;", "<3", "< p>",
    "<script>a < b</scriptx>c</script>", "<style>x</style >",
    "<script>", "</SCRIPT>", "<SCRIPT>x</script>",
])
_TEXT = st.text(alphabet="ab &;<>\"'=/!-#x\n", max_size=12)
_SOUP = st.lists(st.one_of(_START, _END, _MARKUP, _TEXT), max_size=40) \
    .map("".join)


@settings(max_examples=400, deadline=None)
@given(_SOUP)
def test_tokenizer_matches_stdlib_loop_on_tag_soup(text):
    _assert_same(text)


@pytest.mark.parametrize("text", [
    "<![bogus[x]]>",            # ParseError from parse_marked_section
    "<p>a<![bogus[",
    "<div class='x' <!-- -->",
    "<p>tail &amp",             # charref cut at the buffer end
    "<script>never closed <b>",
    "<a href=/x/>t</a>",        # bare value swallows the slash
    "<br/><br /><img src=a/>",
])
def test_tokenizer_matches_stdlib_loop_on_edge_cases(text):
    _assert_same(text)
