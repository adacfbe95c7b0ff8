"""Property tests (SURVEY.md §5.2): extract_one must be total — any
bytes in, a well-formed result dict out, never an exception. Hypothesis
drives random byte blobs, mangled HTML, and truncations. The parser is
total on its own too: a tree or a ParseError, in every mode."""

from hypothesis import given, settings
from hypothesis import strategies as st

from gooselite import extract_one
from gooselite.minidom import DOCUMENT, ParseError, parse_html

VALID_STATUS = {"ok", "empty", "parse_error", "decode_error"}


def _check(result):
    assert result["status"] in VALID_STATUS
    assert isinstance(result["cleaned_text"], str)
    assert isinstance(result["title"], str)
    assert isinstance(result["tags"], list)
    assert isinstance(result["movies"], list)
    assert result["publish_date"] is None or isinstance(result["publish_date"], str)
    assert isinstance(result["lang_fallback"], bool)
    assert result["bytes_in"] >= 0


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=4096))
def test_arbitrary_bytes_never_raise(blob):
    _check(extract_one(blob, "en", "https://fuzz.example/x"))


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=2048), st.sampled_from(["en", "de", "ru", "zh", None]))
def test_arbitrary_text_never_raises(text, lang):
    _check(extract_one(text.encode("utf-8", "surrogatepass"), lang,
                       "https://fuzz.example/y"))


_TAGS = ["p", "div", "span", "td", "table", "script", "style", "a", "b",
         "li", "ul", "br", "img", "iframe", "h1", "title", "meta", "html"]

# The HTML strategies: any text, and tag soup over _TAGS.
HTML_TEXT = st.text(max_size=2048)
MANGLED_MARKUP = st.lists(
    st.one_of(
        st.sampled_from(_TAGS).map(lambda t: f"<{t}>"),
        st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
        st.sampled_from(_TAGS).map(lambda t: f"<{t} class='x' id=y>"),
        st.text(alphabet="abc <>&;\"'=!-", max_size=24),
    ),
    max_size=60,
).map("".join)


@settings(max_examples=150, deadline=None)
@given(MANGLED_MARKUP)
def test_mangled_markup_never_raises(html):
    _check(extract_one(html.encode(), "en", "https://fuzz.example/z"))


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=400))
def test_truncation_never_raises(cut):
    page = (b"<html lang=en><head><meta charset=utf-8><title>t|s</title>"
            b"</head><body><div><p>Some of the words that we know are "
            b"here in the page body for all of us.</p></div></body></html>")
    _check(extract_one(page[:cut], "en", "https://fuzz.example/t"))


@settings(max_examples=150, deadline=None)
@given(HTML_TEXT)
def test_parse_html_returns_tree_or_parse_error(text):
    for mode in ({}, {"keep_raw_text": True}, {"xml_mode": True}):
        try:
            root = parse_html(text, **mode)
        except ParseError:
            continue
        assert root.tag == DOCUMENT and root.parent is None
