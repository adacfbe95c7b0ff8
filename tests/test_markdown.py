"""Markdown output surface (gooselite/markdown.py): renderer semantics
on DOM nodes, opt-in behavior, and flat-text invariance."""

from gooselite.markdown import to_markdown
from gooselite.minidom import parse_html


def _md(html: str, title: str | None = None) -> str:
    root = parse_html(html)
    body = root.get_elements_by_tag("body")
    return to_markdown(body[0] if body else root, title)


def test_headings_levels():
    assert _md("<body><h1>A</h1><h3>B c</h3></body>") == "# A\n\n### B c"


def test_title_heading_prepended():
    assert _md("<body><p>x y</p></body>", "T  t") == "# T t\n\nx y"


def test_inline_emphasis_links_code():
    out = _md("<body><p>a <b>b</b> and <i>i</i> with "
              "<a href='/u'>lnk</a> plus <code>c()</code> end</p></body>")
    assert out == "a **b** and *i* with [lnk](/u) plus `c()` end"


def test_anchor_without_href_is_plain_text():
    assert _md("<body><p>go <a>here</a> now</p></body>") == "go here now"


def test_unordered_and_ordered_lists():
    out = _md("<body><ul><li>a</li><li>b</li></ul>"
              "<ol><li>x</li><li>y</li></ol></body>")
    assert out == "- a\n- b\n\n1. x\n2. y"


def test_blockquote_prefixes_every_block_line():
    # a blank '>' line separates inner paragraphs (CommonMark lazy
    # continuation would merge '> a\n> b' into one paragraph)
    out = _md("<body><blockquote><p>a</p><p>b</p></blockquote></body>")
    assert out == "> a\n>\n> b"


def test_inline_markers_hug_punctuation():
    out = _md("<body><p>Use <code>f()</code>, then <b>stop</b>. "
              "Done (<i>really</i>)?</p></body>")
    assert out == "Use `f()`, then **stop**. Done (*really*)?"


def test_pre_fenced():
    out = _md("<body><pre>x = 1</pre></body>")
    assert out == "```\nx = 1\n```"


def test_table_rows_as_pipe_lines():
    out = _md("<body><table><tr><th>h1</th><th>h2</th></tr>"
              "<tr><td>a</td><td>b</td></tr></table></body>")
    assert out == "h1 | h2\na | b"


def test_mixed_content_text_around_blocks():
    out = _md("<body>lead in <p>para</p> tail out</body>")
    assert out == "lead in\n\npara\n\ntail out"


def test_empty_and_script_only_nodes_render_empty():
    assert _md("<body><script>x()</script></body>") == ""
    assert _md("<body></body>") == ""


def test_markdown_is_opt_in_and_flat_bytes_invariant():
    from gooselite import extract_one

    html = (b"<html><head><title>T</title></head><body><article><p>"
            b"This paragraph has all of the common words that the "
            b"scorer needs to keep it as the main content of the page."
            b"</p></article></body></html>")
    plain = extract_one(html, "en", "https://u")
    assert plain["markdown"] is None
    rich = extract_one(html, "en", "https://u", markdown=True)
    assert rich["markdown"].startswith("# T\n\n")
    # the canonical flat bytes are byte-identical with markdown enabled
    assert rich["cleaned_text"] == plain["cleaned_text"]
