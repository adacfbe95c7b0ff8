"""Text utilities: innerTrim and the per-language stopword count.

[canon: goose/text.py — StopWords, innerTrim] (SURVEY.md A8; reference
checkout empty at build time, SURVEY.md §0.1). Goose's per-block stats
also carry the block's word count and stopword list; scoring and
formatting read only the stopword count, so :func:`stopword_counter`
returns just that.
"""

from __future__ import annotations

import re
import string
from functools import lru_cache
from typing import Callable

from gooselite.stopwords_data import DEFAULT_LANGUAGE, STOPWORDS

# string.punctuation removal table [canon: goose/text.py remove_punctuation]
# plus the sentence-final marks of the non-Latin tabled scripts: the
# Devanagari/Bengali danda and double danda (।॥ end most hi/bn
# sentences — without stripping them the sentence-final copula never
# matches its stopword entry) and the Greek ano teleia / erotimatiko.
# PUNCT_CHARS is the single source of truth: the q_lang_id DuckDB
# oracle embeds the SAME characters so both engines normalize alike.
PUNCT_CHARS = string.punctuation + "।॥··;"
_PUNCT_TABLE = str.maketrans("", "", PUNCT_CHARS)


def inner_trim(value: str) -> str:
    """Collapse all whitespace runs to a single space and strip.

    str.split() with no separator splits on the same Unicode whitespace
    class as \\s+ for str patterns (incl. \\xa0) and drops leading/trailing
    runs — identical output to the regex, ~3× faster on the hot path.
    ' ' is the only whitespace character that str.isprintable() accepts,
    so a printable string with no double space has no run to collapse:
    only a leading or trailing space to strip.
    """
    if not value:
        return ""
    if "  " not in value and value.isprintable():
        return value.strip()
    return " ".join(value.split())


def remove_punctuation(content: str) -> str:
    return content.translate(_PUNCT_TABLE)


def resolve_language(lang: str | None) -> str:
    """Map a lang code to a shipped stopword table; unknown/None → 'en'.

    The `lang` column is primary per BASELINE.json:6 ("keyed by the lang
    column"); callers should pass meta-lang as fallback before None
    (SURVEY.md A5).
    """
    if lang:
        code = lang.strip().lower()[:2]
        if code in STOPWORDS:
            return code
    return DEFAULT_LANGUAGE


# --- Segmentation variants (SURVEY.md A8) -------------------------------
# [canon: goose/text.py StopWordsChinese / StopWordsKorean /
# StopWordsArabic — reference checkout empty at build time, §0.1]. The
# Goose lineage dispatches stopword counting per language class:
#   zh — content is dictionary-segmented before matching (the lineage
#        uses a full lexicon segmenter); from scratch here: greedy
#        maximal-match over the zh stopword table itself (longest entry
#        first) across CJK runs. The zh table is 1–2 char function
#        words, so max-match over the table reproduces the stopword
#        COUNT without shipping a lexicon; non-CJK spans fall back to
#        the default whitespace tokenizer.
#   ko — space-split eojeol; a token counts when a stopword occurs as a
#        SUBSTRING (particles agglutinate onto content words).
#   ar — strip tatweel (U+0640) and harakat diacritics (U+064B–065F,
#        U+0670), then exact whitespace-token match.

_CJK_RUN_RE = re.compile(r"[㐀-䶿一-鿿]+")
# ja runs add the kana blocks (hiragana U+3040–309F, katakana U+30A0–30FF)
# to the ideograph ranges — particles are hiragana and agglutinate directly
# onto kanji stems, so one run carries both; th runs are the Thai block
# (U+0E00–0E7F), also space-less.
_JA_RUN_RE = re.compile(r"[぀-ゟ゠-ヿ㐀-䶿一-鿿]+")
_TH_RUN_RE = re.compile(r"[฀-๿]+")
_AR_DIACRITICS_RE = re.compile("[\u0640\u064b-\u065f\u0670]")  # tatweel + harakat only (NOT digits/letters)

# per-table longest-entry bounds for the max-match variants, computed once
_MAX_LEN = {c: max((len(w) for w in STOPWORDS.get(c, ())), default=1)
            for c in ("zh", "ja", "th")}


def _token_count(content: str, table) -> int:
    """The default counter: strip punctuation, lowercase, split on
    whitespace, count the tokens in the table."""
    n = 0
    for w in content.translate(_PUNCT_TABLE).lower().split():
        if w in table:
            n += 1
    return n


def _zh_match_run(run: str, table, max_len: int) -> int:
    """Greedy maximal-match of table entries over one space-less-script
    run; returns the match count. Shared by the zh / ja / th variants."""
    n = 0
    i = 0
    L = len(run)
    while i < L:
        for w in range(min(max_len, L - i), 0, -1):
            if run[i:i + w] in table:
                n += 1
                i += w
                break
        else:
            i += 1
    return n


def _run_count(content: str, table, run_re, max_len: int) -> int:
    """Stopword count for space-less scripts: script runs are max-match
    segmented; interleaved other-script spans use the default tokenizer."""
    sc = 0
    pos = 0
    for m in run_re.finditer(content):
        sc += (_token_count(content[pos:m.start()], table)
               + _zh_match_run(m.group(), table, max_len))
        pos = m.end()
    return sc + _token_count(content[pos:], table)


def _zh_count(content, table):
    return _run_count(content, table, _CJK_RUN_RE, _MAX_LEN["zh"])


def _ja_count(content, table):
    """Japanese [canon: goose StopWordsKorean-style variant dispatch; no
    StopWordsJapanese in the lineage — this is an extension]: kana+kanji
    runs max-match segmented against the ja particle table."""
    return _run_count(content, table, _JA_RUN_RE, _MAX_LEN["ja"])


def _th_count(content, table):
    """Thai (extension): Thai-script runs max-match segmented."""
    return _run_count(content, table, _TH_RUN_RE, _MAX_LEN["th"])


def _ko_count(content: str, table) -> int:
    """Stopword count for Korean: space-split tokens, a token is a
    stopword hit when any table entry occurs inside it
    [canon: StopWordsKorean's `stop_word in word` containment]."""
    sc = 0
    for tok in content.translate(_PUNCT_TABLE).lower().split():
        for sw in table:
            if sw in tok:
                sc += 1
                break
    return sc


def _ar_count(content: str, table) -> int:
    """Stopword count for Arabic: strip tatweel + harakat, then exact
    token match [canon: StopWordsArabic.remove_harakat]."""
    return _token_count(_AR_DIACRITICS_RE.sub("", content), table)


_VARIANT_COUNTERS = {"zh": _zh_count, "ko": _ko_count, "ar": _ar_count,
                     "ja": _ja_count, "th": _th_count}


_CACHEABLE_LEN = 2048


def stopword_counter(lang: str | None) -> Callable[[str], int]:
    """The stopword count of a text block in ``lang``, resolved once: the
    scoring and formatter loops count up to 10^5 texts per page.

    [canon: goose/text.py StopWords] inner-trims, strips
    punctuation, lowercases, splits on single spaces and counts the
    tokens in the table. Punctuation stripping never touches whitespace
    and no table holds the empty string, so counting over a whitespace
    split of the raw text gives the same count without the trim.
    zh/ja/th/ko/ar dispatch to their segmentation variants (above).

    Every counter is additive over space-joined parts:
    ``count(" ".join(parts)) == sum(map(count, parts))``. Each tokenizes
    on whitespace or on script runs, and a space ends both, so the
    formatter folds child counts bottom-up instead of recounting
    concatenations (guarded for every table in tests/test_text.py).

    Memoized on (content, resolved code): scoring, sibling absorption and
    the formatter re-count the same node texts, and boilerplate chrome
    repeats across pages — measured 87% repeated calls on the fixture
    corpus, and the count is a pure function of its arguments. Only
    short contents are cached: the repeat class is chrome (nav labels,
    footers, bylines), while long article bodies are near-unique, so
    caching them would pin megabytes of text per long-lived Spark
    worker for no hit-rate. 65536 entries × ≤2 KiB keys bounds the
    cache at ~128 MiB worst case, in practice far less.
    """
    code = resolve_language(lang)
    cached, uncached = _stopword_count_cached, _stopword_count_uncached

    def count(content: str) -> int:
        if not content:
            return 0
        if len(content) > _CACHEABLE_LEN:
            return uncached(content, code)
        return cached(content, code)
    return count


@lru_cache(maxsize=65536)
def _stopword_count_cached(content: str, code: str) -> int:
    return _stopword_count_uncached(content, code)


def _stopword_count_uncached(content: str, code: str) -> int:
    return _VARIANT_COUNTERS.get(code, _token_count)(content, STOPWORDS[code])
