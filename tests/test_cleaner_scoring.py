from gooselite.cleaner import clean_document
from gooselite.minidom import parse_html
from gooselite.scoring import calculate_best_node, is_highlink_density, post_cleanup
from gooselite.formatter import get_formatted_text


def _clean(html):
    root = parse_html(html)
    return clean_document(root)


def test_cleaner_removes_blacklist_ids_and_classes():
    root = _clean(
        "<body><div id='navbar'>nav</div><div class='sidebar'>side</div>"
        "<div id='footer'>foot</div><div class='comment'>c</div>"
        "<div class='article-body'><p>keep</p></div></body>"
    )
    assert len(root.get_elements_by_tag("div")) == 1
    assert root.get_elements_by_tag("p")[0].get_text() == "keep"


def test_cleaner_removes_scripts_styles_comments():
    root = _clean("<body><script>x()</script><style>a{}</style><!--c--><p>k</p></body>")
    assert not root.get_elements_by_tag("script")
    assert not root.get_elements_by_tag("style")
    assert not any(n.tag == "#comment" for n in root.iter_nodes())


def test_cleaner_em_and_span_unwrap():
    root = _clean("<p>a <em>b</em> <span>c</span></p>")
    assert not root.get_elements_by_tag("em")
    assert not root.get_elements_by_tag("span")
    assert root.get_elements_by_tag("p")[0].get_text() == "a b c"


def test_div_to_para_conversion():
    root = _clean("<body><div>just text no blocks</div></body>")
    ps = root.get_elements_by_tag("p")
    assert len(ps) == 1 and ps[0].get_text() == "just text no blocks"


def test_div_with_blocks_not_converted():
    root = _clean("<body><div><p>inner</p></div></body>")
    divs = root.get_elements_by_tag("div")
    assert len(divs) == 1


def test_link_density():
    root = parse_html(
        "<div><p id='dense'><a href='x'>all of this text is links</a></p>"
        "<p id='sparse'>lots of normal words here with just one <a href='y'>link</a>"
        " and plenty more text to dilute it well beyond the threshold</p></div>"
    )
    dense, sparse = root.get_elements_by_tag("p")
    assert is_highlink_density(dense)
    assert not is_highlink_density(sparse)


ARTICLE = """
<body>
<div class='pre'><p>And so it was that they would all be there for it in the end.</p></div>
<div class='art'>
<p>Once upon a time there was a quick brown fox that would not jump over the lazy dog because it was far too dignified for such games.</p>
<p>The dog, for his part, did not mind this at all and was happy to sleep in the sun while the fox went about its business.</p>
<p>In the end they both agreed that it was better to be friends than to quarrel about who should jump over whom.</p>
</div>
</body>
"""


def test_top_node_selection_and_scores():
    root = _clean(ARTICLE)
    top = calculate_best_node(root, "en", [])
    assert top is not None
    assert top.attrib.get("class") == "art"
    assert top.score and top.score > 0


def test_sibling_absorption_prepends():
    root = _clean(ARTICLE)
    seen = []
    top = calculate_best_node(root, "en", seen)
    top = post_cleanup(top, seen)
    text = get_formatted_text(top, "en")
    paras = text.split("\n\n")
    assert paras[0].startswith("And so it was")
    assert len(paras) == 4


def test_no_candidates_returns_none():
    root = _clean("<body><div><a href='x'>only links</a></div></body>")
    assert calculate_best_node(root, "en", []) is None


def test_formatter_removes_fewword_paragraphs():
    html = """
    <body><div class='art'>
    <p>Once upon a time there was a quick brown fox that would not jump over the lazy dog for it was far too dignified.</p>
    <p>The dog did not mind this at all and was happy to sleep in the sun while the fox went about its own business.</p>
    <p>short nothing</p>
    </div></body>
    """
    root = _clean(html)
    seen = []
    top = calculate_best_node(root, "en", seen)
    top = post_cleanup(top, seen)
    text = get_formatted_text(top, "en")
    assert "short nothing" not in text
    assert len(text.split("\n\n")) == 2


def test_formatter_drop_tags_keep_text():
    html = """
    <body><div class='art'>
    <p>Once upon a <b>time</b> there was a <i>quick</i> brown fox that would not jump over the lazy dog at all.</p>
    <p>The dog did not mind this at all and was happy to sleep in the sun while the fox went about its own business.</p>
    <p>In the end they both agreed it was better to be friends than to quarrel about who jumped over whom.</p>
    </div></body>
    """
    root = _clean(html)
    seen = []
    top = calculate_best_node(root, "en", seen)
    top = post_cleanup(top, seen)
    text = get_formatted_text(top, "en")
    assert "Once upon a time there was a quick brown fox" in text
