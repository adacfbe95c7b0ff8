import pandas as pd

from gooselite import extract_one
from gooselite.encoding import decode_html, sniff_declared_charset


PAGE = """<!DOCTYPE html>
<html lang="{lang}"><head><meta charset="utf-8">
<title>{title} | s3</title>
<meta name="description" content="desc here">
<meta name="keywords" content="k1, k2">
<link rel="canonical" href="/canon/1">
</head><body>
<div id="navbar"><a href="/">home</a> <a href="/x">x</a> <a href="/y">y</a></div>
<div class="prelude"><p>{sibling}</p></div>
<div class="article-body">
{paras}
</div>
<ul class="related"><li><a href="/1">more stories here now</a></li></ul>
<div id="footer">copyright</div>
</body></html>"""

SIB = "And so it was that the fox and the hound would not be able to agree about it at all."
P1 = "Once upon a time there was a quick brown fox that would not jump over the lazy dog because it was far too dignified for such games."
P2 = "The dog, for his part, did not mind this at all and was happy to sleep in the sun while the fox went about its business."
P3 = "In the end they both agreed that it was better to be friends than to quarrel about who should jump over whom."


def _page(lang="en", title="The quick brown fox story"):
    paras = "\n".join(f"<p>{p}</p>" for p in (P1, P2, P3))
    return PAGE.format(lang=lang, title=title, sibling=SIB, paras=paras)


def test_golden_extraction():
    r = extract_one(_page().encode(), "en", "https://site3.example/en/article/1")
    assert r["status"] == "ok"
    assert r["cleaned_text"] == "\n\n".join([SIB, P1, P2, P3])
    assert r["title"] == "The quick brown fox story"
    assert r["meta_description"] == "desc here"
    assert r["meta_keywords"] == "k1, k2"
    assert r["canonical_link"] == "https://site3.example/canon/1"
    assert r["domain"] == "site3.example"
    assert r["lang"] == "en"


def test_null_html_is_empty_status():
    r = extract_one(None, "en", "https://x.example/1")
    assert r["status"] == "empty"
    assert r["cleaned_text"] == ""
    assert r["bytes_in"] == 0


def test_lang_column_primary_meta_fallback():
    # lang column unsupported (yi) + html lang=de → meta fallback applies
    r = extract_one(_page(lang="de").encode(), "yi", "https://x.example/1")
    assert r["lang"] == "de"
    # lang column present and supported → wins over meta
    r = extract_one(_page(lang="de").encode(), "en", "https://x.example/1")
    assert r["lang"] == "en"
    # neither → 'en'
    r = extract_one(_page(lang="xx").encode(), None, "https://x.example/1")
    assert r["lang"] == "en"


def test_latin1_with_meta_charset():
    html = _page().replace('charset="utf-8"', 'charset="iso-8859-1"')
    html = html.replace("lazy dog", "lazy caf\xe9 dog")
    raw = html.encode("iso-8859-1")
    assert sniff_declared_charset(raw) == "iso-8859-1"
    r = extract_one(raw, "en", "https://x.example/1")
    assert r["status"] == "ok"
    assert "caf\xe9" in r["cleaned_text"]


def test_decode_utf8_bom():
    text, enc = decode_html(b"\xef\xbb\xbf<p>hi</p>")
    assert enc == "utf-8-sig" and text == "<p>hi</p>"


def test_truncated_html_yields_empty_not_crash():
    raw = _page().encode()[:180]  # head only, article lost
    r = extract_one(raw, "en", "https://x.example/1")
    assert r["status"] == "empty"
    assert r["cleaned_text"] == ""


def test_idempotence_reextract_stable():
    """Re-extracting the <p>-wrapped output is stable (SURVEY.md §5.2)."""
    first = extract_one(_page().encode(), "en", "https://x.example/1")
    rewrapped = "<html><body><div class='b'>%s</div></body></html>" % "".join(
        f"<p>{p}</p>" for p in first["cleaned_text"].split("\n\n")
    )
    second = extract_one(rewrapped.encode(), "en", "https://x.example/1")
    assert second["cleaned_text"] == first["cleaned_text"]


def test_german_page_uses_de_table():
    sib = "und der die das ist nicht eine von dem auch so wie wir hier sind"
    p1 = "und der die das ist nicht eine von dem auch so haben wir alles gesehen was hier steht"
    p2 = "das ist auch nicht so schlecht denn wir haben eine menge zeit und viel geduld mitgebracht"
    p3 = "am ende sind wir alle nur menschen und das ist auch gut so denn anders geht es nicht"
    page = PAGE.format(lang="de", title="Die schnelle braune katze", sibling=sib,
                       paras="\n".join(f"<p>{p}</p>" for p in (p1, p2, p3)))
    r = extract_one(page.encode(), "de", "https://x.example/de/1")
    assert r["status"] == "ok"
    assert r["lang"] == "de"
    assert r["cleaned_text"] == "\n\n".join([sib, p1, p2, p3])


def _with_head_extra(extra: str, lang="en", title="The quick brown fox story"):
    return _page(lang=lang, title=title).replace(
        "</head>", extra + "\n</head>")


def test_og_title_wins_over_title_tag():
    # boilerplate <title>, real og:title (SURVEY.md A4)
    html = _page(title="untitled page").replace(
        "</head>",
        '<meta property="og:title" content="The real fox headline">\n</head>')
    r = extract_one(html.encode(), "en", "https://x.example/1")
    assert r["title"] == "The real fox headline"
    # without og:title the <title> (longest splitter segment) is used
    r2 = extract_one(_page().encode(), "en", "https://x.example/1")
    assert r2["title"] == "The quick brown fox story"


def test_publish_date_meta_priority_and_time_fallback():
    html = _with_head_extra(
        '<meta property="article:published_time" content="2024-03-01T09:30:00+00:00">'
        '<meta name="date" content="2020-01-01">')
    r = extract_one(html.encode(), "en", "https://x.example/1")
    assert r["publish_date"] == "2024-03-01T09:30:00+00:00"
    # name=date alone
    html2 = _with_head_extra('<meta name="date" content="2020-01-01">')
    assert extract_one(html2.encode(), "en", "https://x")["publish_date"] == "2020-01-01"
    # <time datetime> fallback inside the body
    html3 = _page().replace(
        "<div class=\"prelude\">",
        '<time datetime="2019-07-04T12:00:00Z">July 4</time><div class="prelude">')
    assert extract_one(html3.encode(), "en", "https://x")["publish_date"] == "2019-07-04T12:00:00Z"
    # absent → None
    assert extract_one(_page().encode(), "en", "https://x")["publish_date"] is None


def test_movies_extraction():
    html = _page().replace(
        "</body>",
        '<iframe src="https://www.youtube.com/embed/abc123"></iframe>'
        '<iframe src="https://example.com/not-a-video"></iframe>'
        '<embed src="https://player.vimeo.com/video/99"></embed></body>')
    r = extract_one(html.encode(), "en", "https://x.example/1")
    assert r["movies"] == ["https://www.youtube.com/embed/abc123",
                          "https://player.vimeo.com/video/99"]
    assert extract_one(_page().encode(), "en", "https://x")["movies"] == []


def test_lang_fallback_flag():
    # supported lang column → no fallback
    assert extract_one(_page().encode(), "en", "https://x")["lang_fallback"] is False
    # yi column + de meta → fallback (meta path; vi got a table in r4)
    r = extract_one(_page(lang="de").encode(), "yi", "https://x")
    assert r["lang"] == "de" and r["lang_fallback"] is True
    # null column, en meta… html lang="en" resolves via meta path → fallback
    r2 = extract_one(_page().encode(), None, "https://x")
    assert r2["lang_fallback"] is True


def test_optional_fields_always_extracted():
    html = _page(lang="de").replace(
        "</body>",
        '<iframe src="https://www.youtube.com/embed/z"></iframe>'
        '<a rel="tag" href="/t/fox">fox</a></body>')
    html = html.replace(
        "</head>",
        '<meta property="article:published_time" content="2024-01-01">\n</head>')
    # the lang column is the language override (EP3/A21)
    r = extract_one(html.encode(), "de", "https://x")
    assert r["lang"] == "de" and r["lang_fallback"] is False
    r2 = extract_one(html.encode(), "en", "https://x")
    assert r2["publish_date"] == "2024-01-01" and r2["movies"] == [
        "https://www.youtube.com/embed/z"]
    assert r2["tags"] == ["fox"]


def test_new_language_tables_score():
    from gooselite.stopwords_data import STOPWORDS

    for code in ("da", "fi", "hu", "id", "nb", "no", "pl", "ru"):
        assert code in STOPWORDS and len(STOPWORDS[code]) > 80, code
    # a Russian paragraph built from stopwords + content words extracts
    ru_stop = sorted(w for w in STOPWORDS["ru"] if w.isalpha())[:8]
    para = " ".join(ru_stop) + " статья про важные новости дня и событий."
    html = _page(lang="ru").replace(P1, para)
    r = extract_one(html.encode(), "ru", "https://x.example/ru/1")
    assert r["lang"] == "ru"
    assert r["status"] == "ok"


def test_zh_extraction_end_to_end():
    """A8 r3: a real (spaceless) Chinese page extracts non-empty byte-stable
    text with the zh table, lang_fallback=False."""
    paras = [
        "这个故事的主人公是一个年轻人，他从小就喜欢读书，因为书里有很多知识。",
        "没有人知道他为什么这样努力，但是大家都觉得他将来一定会成功的。",
        "在城市的另一边，他的朋友们也在为自己的梦想而努力，他们相信只要坚持就可以实现。",
    ]
    html = ('<html lang="zh"><head><title>年轻人的故事</title></head><body>'
            '<div id="nav"><a href="/a">首页</a> <a href="/b">新闻</a></div>'
            '<div class="article">'
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</div></body></html>")
    r = extract_one(html.encode("utf-8"), "zh", "https://x.example/zh")
    assert r["status"] == "ok"
    assert r["lang"] == "zh" and r["lang_fallback"] is False
    assert r["cleaned_text"] == "\n\n".join(paras)
    r2 = extract_one(html.encode("utf-8"), "zh", "https://x.example/zh")
    assert r2["cleaned_text"] == r["cleaned_text"]  # byte-stable


def test_ko_extraction_end_to_end():
    paras = [
        "그 학생은 도서관에서 매일 책을 읽었다. 친구들과 함께 공부를 했다. "
        "선생님도 그의 노력을 알고 있었다.",
        "시험이 끝난 후에 모두가 결과를 기다렸다. 결국 그는 좋은 성적을 받았다. "
        "가족들은 매우 기뻐했다.",
        "지금도 그는 같은 자리에서 공부를 한다. 꿈을 위해 다시 시작하는 것이다. "
        "우리도 그것을 보고 배운다.",
    ]
    html = ('<html lang="ko"><head><title>학생의 이야기</title></head><body>'
            '<div class="article">'
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</div></body></html>")
    r = extract_one(html.encode("utf-8"), "ko", "https://x.example/ko")
    assert r["status"] == "ok"
    assert r["lang"] == "ko" and r["lang_fallback"] is False
    assert r["cleaned_text"] == "\n\n".join(paras)


def test_ar_extraction_end_to_end():
    paras = [
        "كان هذا الطالب يقرأ في المكتبة كل يوم لأن القراءة هي طريقه إلى المعرفة "
        "وكان أصدقاؤه معه في هذا الطريق.",
        "بعد الامتحان كان الجميع في انتظار النتيجة وقد حصل على درجة عالية "
        "وكانت عائلته سعيدة جدا بهذا النجاح.",
        "حتى الآن هو يدرس في نفس المكان من أجل حلمه الكبير ونحن نتعلم منه "
        "كيف يكون العمل مع الصبر طريقا إلى الهدف.",
    ]
    html = ('<html lang="ar"><head><title>قصة الطالب</title></head><body>'
            '<div class="article">'
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</div></body></html>")
    r = extract_one(html.encode("utf-8"), "ar", "https://x.example/ar")
    assert r["status"] == "ok"
    assert r["lang"] == "ar" and r["lang_fallback"] is False
    assert r["cleaned_text"] == "\n\n".join(paras)


def test_vi_extraction_end_to_end():
    """A8 r4: Vietnamese writes spaces between syllables, so the plain
    tokenizer works — only a table was needed; lang_fallback=False."""
    paras = [
        "Người trẻ đó đọc sách mỗi ngày vì sách là nguồn tri thức của "
        "con người và ai cũng có thể học được từ những trang sách đó.",
        "Không ai biết vì sao anh cố gắng như vậy nhưng mọi người đều "
        "tin rằng anh sẽ thành công trong tương lai gần đây.",
        "Ở phía bên kia thành phố các bạn của anh cũng đang làm việc "
        "cho ước mơ của mình và họ tin rằng chỉ cần kiên trì là được.",
    ]
    html = ('<html lang="vi"><head><title>Câu chuyện</title></head><body>'
            '<div class="article">'
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</div></body></html>")
    r = extract_one(html.encode("utf-8"), "vi", "https://x.example/vi")
    assert r["status"] == "ok"
    assert r["lang"] == "vi" and r["lang_fallback"] is False
    assert r["cleaned_text"] == "\n\n".join(paras)


def test_he_extraction_end_to_end():
    """A8 r4: Hebrew function words are standalone tokens (clitic
    prefixes stay attached), so the plain tokenizer works."""
    paras = [
        "הסטודנט קרא ספרים בספרייה כל יום כי הקריאה היא הדרך שלו אל "
        "הידע והוא לא ויתר על החלום הזה גם כאשר היה קשה.",
        "אחרי הבחינה כולם חיכו לתוצאות ובסוף הוא קיבל ציון גבוה מאוד "
        "והמשפחה שלו היתה שמחה על ההצלחה הגדולה הזאת.",
        "גם היום הוא לומד באותו מקום כדי להגשים את החלום הגדול שלו "
        "ואנחנו לומדים ממנו איך עבודה עם סבלנות היא דרך אל המטרה.",
    ]
    html = ('<html lang="he"><head><title>סיפור הסטודנט</title></head><body>'
            '<div class="article">'
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</div></body></html>")
    r = extract_one(html.encode("utf-8"), "he", "https://x.example/he")
    assert r["status"] == "ok"
    assert r["lang"] == "he" and r["lang_fallback"] is False
    assert r["cleaned_text"] == "\n\n".join(paras)


def test_top_image_extraction():
    """A17-lite: og:image wins, twitter:image fallback, relative urls
    resolve against the page url, no-image pages yield None."""
    base = _page()
    og = base.replace(
        "</head>",
        '<meta property="og:image" content="https://cdn.example/a.jpg">\n'
        '<meta name="twitter:image" content="https://cdn.example/b.jpg">\n'
        "</head>")
    r = extract_one(og.encode(), "en", "https://x.example/1")
    assert r["top_image"] == "https://cdn.example/a.jpg"  # og wins
    tw = base.replace(
        "</head>",
        '<meta name="twitter:image" content="/img/lead.jpg">\n</head>')
    r = extract_one(tw.encode(), "en", "https://x.example/sub/1")
    assert r["top_image"] == "https://x.example/img/lead.jpg"  # urljoin
    link = base.replace(
        "</head>", '<link rel="image_src" href="pic.png">\n</head>')
    r = extract_one(link.encode(), "en", "https://x.example/sub/1")
    assert r["top_image"] == "https://x.example/sub/pic.png"
    assert extract_one(base.encode(), "en", "https://x")["top_image"] is None


def test_top_image_attribute_scoring():
    """A17 offline subset: with no meta schema, <img>s inside the top
    node are filtered (ad filename, banner aspect, sub-50px, .gif) and
    ranked by declared width×height area; meta schemas keep priority;
    attribute-less images are only a last-resort fallback."""
    imgs = (
        '<img src="/img/spacer.gif" width="600" height="400">\n'
        '<img src="/ads/banner_1.jpg" width="728" height="90">\n'
        '<img src="/img/icon.png" width="32" height="32">\n'
        '<img src="/img/tall_sky.jpg" width="120" height="900">\n'
        '<img src="/img/winner.jpg" width="640" height="480">\n'
        '<img src="/img/runner.jpg" width="300" height="200">\n')
    page = _page().replace("</div>\n<ul", imgs + "</div>\n<ul", 1)
    r = extract_one(page.encode(), "en", "https://x.example/a/1")
    assert r["top_image"] == "https://x.example/img/winner.jpg"
    # cleaned_text untouched by body images
    assert r["cleaned_text"] == "\n\n".join([SIB, P1, P2, P3])
    # meta schema still wins over a bigger body image
    withmeta = page.replace(
        "</head>", '<meta property="og:image" content="/img/meta.jpg">\n</head>')
    r = extract_one(withmeta.encode(), "en", "https://x.example/a/1")
    assert r["top_image"] == "https://x.example/img/meta.jpg"
    # no scored candidate → first clean attribute-less image
    noattrs = page.replace(' width="640" height="480"', "").replace(
        ' width="300" height="200"', "")
    r = extract_one(noattrs.encode(), "en", "https://x.example/a/1")
    assert r["top_image"] == "https://x.example/img/winner.jpg"
    # only rejects → None
    rejects = _page().replace(
        "</div>\n<ul",
        '<img src="/ads/banner.jpg" width="728" height="90">\n</div>\n<ul', 1)
    assert extract_one(rejects.encode(), "en", "https://x")["top_image"] is None


def test_authors_opengraph_links_extraction():
    html = """<!DOCTYPE html><html><head><meta charset="utf-8">
<title>t | s</title>
<meta name="author" content="Ada Writer">
<meta property="article:author" content="Ada Writer">
<meta property="article:author" content="Co Author">
<meta property="og:title" content="OG Title">
<meta property="og:type" content="article">
<meta property="og:type" content="ignored-duplicate">
</head><body>
<div class="article-body">
<p>{p1} Read <a href="/cite/1">the first source</a> for more.</p>
<p>{p2} And <a href="https://other.example/x">an external one</a> too.</p>
<p>{p3}</p>
</div>
</body></html>""".format(p1=P1, p2=P2, p3=P3)
    r = extract_one(html.encode(), "en", "https://site.example/a/9")
    # priority + order-preserving dedupe: name=author first, then the
    # article:author not already seen
    assert r["authors"] == ["Ada Writer", "Co Author"]
    # full og map as sorted key=value strings, first occurrence wins
    assert r["opengraph"] == ["title=OG Title", "type=article"]
    # in-article anchors only (nav/related removed pre-scoring),
    # urljoin-resolved, order preserved
    assert r["links"] == ["https://site.example/cite/1",
                          "https://other.example/x"]


def test_links_empty_when_no_article():
    r = extract_one(None, "en", "https://x.example/1")
    assert r["authors"] == [] and r["opengraph"] == [] and r["links"] == []


def test_hi_extraction_end_to_end():
    """A8 late-r4: Hindi (Devanagari) is space-delimited — only a table
    was needed; lang_fallback=False."""
    paras = [
        "यह एक लंबी कहानी है जो हर दिन नई होती है और सभी लोग इस को "
        "पढ़ने के लिए यहाँ आते हैं क्योंकि इस में बहुत कुछ है।",
        "उस शहर में कई लोग थे जो अपने काम से बहुत प्यार करते थे और "
        "वे हर दिन कुछ नया करने की कोशिश करते थे।",
        "अब समय आ गया है कि हम सब मिल कर इस काम को पूरा करें और "
        "अपने सपनों की ओर एक कदम और बढ़ें।",
    ]
    html = ('<html lang="hi"><head><title>कहानी</title></head><body>'
            '<div class="article">'
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</div></body></html>")
    r = extract_one(html.encode("utf-8"), "hi", "https://x.example/hi")
    assert r["status"] == "ok"
    assert r["lang"] == "hi" and r["lang_fallback"] is False
    assert r["cleaned_text"] == "\n\n".join(paras)


def test_tr_el_bn_tables_resolve():
    """Space-delimited late-r4 tables: lang column resolves directly
    (no fallback) and stopword counting sees the function words."""
    from gooselite.stopwords_data import STOPWORDS
    from gooselite.text import stopword_counter

    assert stopword_counter("tr")("bu bir kitap ve ben onu çok sevdim") >= 4
    assert stopword_counter("el")("και αυτό είναι ένα βιβλίο για μας") >= 4
    assert stopword_counter("bn")("এবং এই বই থেকে আমরা কিছু শিখি") >= 3
    for lang in ("hi", "bn", "tr", "el"):
        assert lang in STOPWORDS and len(STOPWORDS[lang]) >= 60


def test_malformed_href_totality():
    """extract_one must be total: pathological hrefs (urljoin raises
    ValueError on 'http://[bad') must not escape the UDF loop — the raw
    href is kept instead (same spirit as get_domain's guarded parse)."""
    body = ("<div class='a'><p>" + P1 + " <a href=\"http://[bad\">x</a> "
            + P2 + "</p></div>")
    r = extract_one(f"<html><body>{body}</body></html>".encode(),
                    "en", "https://x.example/1")
    assert r["status"] == "ok"
    assert "http://[bad" in r["links"]
    canon = ('<html><head><link rel="canonical" href="http://[bad">'
             "</head><body><p>text</p></body></html>")
    assert extract_one(canon.encode(), "en",
                       "https://x.example/1")["canonical_link"] == "http://[bad"


def test_new_fields_always_extracted():
    html = """<html><head><meta name="author" content="A">
<meta property="og:type" content="article"></head><body>
<div class="article-body"><p>{p} <a href="/c">cite link</a></p></div>
</body></html>""".format(p=P1)
    r = extract_one(html.encode(), "en", "https://x.example/1")
    assert r["authors"] == ["A"] and r["opengraph"] == ["type=article"]


def test_danda_final_stopwords_counted():
    """Devanagari danda / Greek ano teleia are stripped like ASCII
    punctuation, so sentence-final function words match their tables."""
    from gooselite.text import stopword_counter

    assert stopword_counter("hi")("वह घर में है।") == 3
    assert stopword_counter("el")("αυτό είναι εδώ· και") == 4


SLOW_PAGE = (b"<html><body><div>"
             + b"<p>Some of the words that we know are stopwords here.</p>"
             * 500 + b"</div></body></html>")


def _udf_frame(langs):
    """A mapInPandas input batch of SLOW_PAGE rows, one per lang."""
    return pd.DataFrame({
        "url": [f"https://slow.example/{i}" for i in range(len(langs))],
        "warc_ts": [None] * len(langs), "html": [SLOW_PAGE] * len(langs),
        "lang": list(langs), "bucket": [0] * len(langs)})


def test_timeout_row_follows_extract_ones_lang_rule():
    """A document past the per-doc budget reports the effective lang and
    lang_fallback that extract_one would: the row lang (the language
    override), else 'en'."""
    from goose_spark import udf
    from goose_spark.schema import EXTRACTED

    out = pd.concat(udf.extract_batches(iter([_udf_frame(["de", "xx"])]),
                                        1e-4))
    assert list(out["status"]) == ["timeout", "timeout"]
    assert list(out["lang"]) == ["de", "en"]
    assert list(out["lang_fallback"]) == [False, True]
    assert list(out.columns) == EXTRACTED.fieldNames()


def test_alarm_handler_installed_once_per_task_and_restored():
    """extract_batches installs one SIGALRM handler for the task. An alarm
    that lands while the generator is suspended between batches is a
    no-op; the previous handler and the gc state come back whether the
    generator is exhausted or closed early."""
    import gc
    import signal

    from goose_spark import udf

    def previous(signum, frame):
        raise AssertionError("previous handler called")

    outer = signal.signal(signal.SIGALRM, previous)
    gc_was = gc.isenabled()
    try:
        for finish in ("exhaust", "close"):
            gen = udf.extract_batches(
                iter([_udf_frame(["en"]), _udf_frame(["en"])]), 30.0)
            assert list(next(gen)["status"]) == ["ok"]
            handler = signal.getsignal(signal.SIGALRM)
            assert handler is not previous and not gc.isenabled()
            handler(signal.SIGALRM, None)  # a late alarm must not raise
            if finish == "exhaust":
                assert len(list(gen)) == 1
            else:
                gen.close()
            assert signal.getsignal(signal.SIGALRM) is previous, finish
            assert gc.isenabled() is gc_was, finish
    finally:
        signal.signal(signal.SIGALRM, outer)
