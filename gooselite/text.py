"""Text utilities: innerTrim, WordStats, StopWords.

[canon: goose/text.py — StopWords.get_stopword_count, innerTrim]
(SURVEY.md A8; reference checkout empty at build time, SURVEY.md §0.1).
"""

from __future__ import annotations

import re
import string
from dataclasses import dataclass, field
from functools import lru_cache
from typing import Callable

from gooselite.stopwords_data import DEFAULT_LANGUAGE, STOPWORDS

# \s with a str pattern matches Unicode whitespace incl. \xa0 (nbsp) —
# exactly the "innerTrim" normalization of SURVEY.md §2.4 (A15):
# collapse \s+ to one space, then strip.
_WHITESPACE_RE = re.compile(r"\s+")

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


@dataclass
class WordStats:
    """Per-text-block statistics [canon: goose/text.py WordStats]."""

    word_count: int = 0
    stop_word_count: int = 0
    stop_words: list[str] = field(default_factory=list)


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

_ZH_TABLE = STOPWORDS.get("zh", frozenset())
_ZH_MAX_LEN = max((len(w) for w in _ZH_TABLE), default=1)


def _zh_match_run(run: str, table, out: list[str] | None,
                  max_len: int = _ZH_MAX_LEN) -> int:
    """Greedy maximal-match of table entries over one space-less-script
    run; returns the match count, appending matched words to `out` when
    given. Shared by the zh / ja / th variants."""
    n = 0
    i = 0
    L = len(run)
    while i < L:
        for w in range(min(max_len, L - i), 0, -1):
            cand = run[i:i + w]
            if cand in table:
                n += 1
                if out is not None:
                    out.append(cand)
                i += w
                break
        else:
            i += 1
    return n


def _run_count(content: str, table, run_re, max_len: int,
               out: list[str] | None = None) -> tuple[int, int]:
    """(word_count, stop_word_count) for space-less scripts: script runs
    are max-match segmented; interleaved other-script spans use the
    default tokenizer. word_count = run chars + other whitespace tokens."""
    wc = 0
    sc = 0
    pos = 0
    for m in run_re.finditer(content):
        gap = content[pos:m.start()]
        if gap:
            for tok in gap.translate(_PUNCT_TABLE).lower().split():
                wc += 1
                if tok in table:
                    sc += 1
                    if out is not None:
                        out.append(tok)
        run = m.group()
        wc += len(run)
        sc += _zh_match_run(run, table, out, max_len)
        pos = m.end()
    tail = content[pos:]
    if tail:
        for tok in tail.translate(_PUNCT_TABLE).lower().split():
            wc += 1
            if tok in table:
                sc += 1
                if out is not None:
                    out.append(tok)
    return wc, sc


# per-table longest-entry bounds for the max-match variants, computed once
_MAX_LEN = {c: max((len(w) for w in STOPWORDS.get(c, ())), default=1)
            for c in ("zh", "ja", "th")}


def _zh_count(content, table, out=None):
    return _run_count(content, table, _CJK_RUN_RE, _MAX_LEN["zh"], out)


def _ja_count(content, table, out=None):
    """Japanese [canon: goose StopWordsKorean-style variant dispatch; no
    StopWordsJapanese in the lineage — this is an extension]: kana+kanji
    runs max-match segmented against the ja particle table."""
    return _run_count(content, table, _JA_RUN_RE, _MAX_LEN["ja"], out)


def _th_count(content, table, out=None):
    """Thai (extension): Thai-script runs max-match segmented."""
    return _run_count(content, table, _TH_RUN_RE, _MAX_LEN["th"], out)


def _ko_count(content: str, table, out: list[str] | None = None) -> tuple[int, int]:
    """(word_count, stop_word_count) for Korean: space-split tokens, a
    token is a stopword hit when any table entry occurs inside it
    [canon: StopWordsKorean's `stop_word in word` containment]."""
    toks = content.translate(_PUNCT_TABLE).lower().split()
    sc = 0
    for tok in toks:
        for sw in table:
            if sw in tok:
                sc += 1
                if out is not None:
                    out.append(tok)
                break
    return len(toks), sc


def _ar_count(content: str, table, out: list[str] | None = None) -> tuple[int, int]:
    """(word_count, stop_word_count) for Arabic: strip tatweel + harakat,
    then exact token match [canon: StopWordsArabic.remove_harakat]."""
    normalized = _AR_DIACRITICS_RE.sub("", content)
    toks = normalized.translate(_PUNCT_TABLE).lower().split()
    sc = 0
    for tok in toks:
        if tok in table:
            sc += 1
            if out is not None:
                out.append(tok)
    return len(toks), sc


_VARIANT_COUNTERS = {"zh": _zh_count, "ko": _ko_count, "ar": _ar_count,
                     "ja": _ja_count, "th": _th_count}


def count_is_additive(lang: str | None) -> bool:
    """True when stopword_count_fast is exactly additive over
    space-joined parts: count(" ".join(parts)) == sum(count(p)).

    Holds for the default counter (whitespace split — a joining space
    can never merge tokens); NOT asserted for the zh/ja/th/ko/ar
    segmentation variants, whose substring/n-gram matching could in
    principle see across a boundary. Callers use this to fold counts
    bottom-up instead of recounting concatenations (formatter hot path).
    """
    return resolve_language(lang) not in _VARIANT_COUNTERS


def stopword_count_fast(content: str, lang: str | None = None) -> int:
    """``get_stopword_count(content, lang).stop_word_count`` without the
    inner-trim and overlap-list allocations — the scoring hot path only
    ever consumes the count.

    Equivalence proof: the canonical path inner-trims, strips punctuation,
    lowercases, splits on single spaces, and counts tokens in the table.
    Punctuation stripping never touches whitespace, and the table holds no
    empty string, so counting over ``raw.translate().lower().split()``
    (whitespace split, empties dropped, trim-insensitive) yields the
    identical count; byte-identity is guarded by the golden suite.
    zh/ko/ar dispatch to their segmentation variants (module header).

    Memoized on (content, resolved code): scoring + sibling absorption +
    the formatter re-count the same node texts, and boilerplate chrome
    repeats across pages — measured 87% repeated calls on the fixture
    corpus, and the count is a pure function of its arguments. Only
    short contents are cached: the repeat class is chrome (nav labels,
    footers, bylines), while long article bodies are near-unique, so
    caching them would pin megabytes of text per long-lived Spark
    worker for no hit-rate. 65536 entries × ≤2 KiB keys bounds the
    cache at ~128 MiB worst case, in practice far less.
    """
    return stopword_counter(lang)(content)


_CACHEABLE_LEN = 2048


def stopword_counter(lang: str | None) -> Callable[[str], int]:
    """:func:`stopword_count_fast` for one language, resolved once: the
    scoring and formatter loops count up to 10^5 texts per page."""
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
    table = STOPWORDS[code]
    variant = _VARIANT_COUNTERS.get(code)
    if variant is not None:
        return variant(content, table)[1]
    n = 0
    for w in content.translate(_PUNCT_TABLE).lower().split():
        if w in table:
            n += 1
    return n


def get_stopword_count(content: str, lang: str | None = None) -> WordStats:
    """Count tokens of `content` present in the per-language stopword set.

    [canon: goose/text.py StopWords.get_stopword_count]: strip punctuation,
    split on single spaces (content is expected inner-trimmed), membership
    test lowercased. zh/ko/ar dispatch to their segmentation variants.
    """
    ws = WordStats()
    if not content:
        return ws
    code = resolve_language(lang)
    table = STOPWORDS[code]
    variant = _VARIANT_COUNTERS.get(code)
    if variant is not None:
        overlapping: list[str] = []
        wc, sc = variant(content, table, overlapping)
        ws.word_count = wc
        ws.stop_word_count = sc
        ws.stop_words = overlapping
        return ws
    # lowercase the whole block once (lower() never adds/removes spaces,
    # so the split is unchanged) instead of per candidate word
    candidate_words = remove_punctuation(content).lower().split(" ")
    overlapping = [w for w in candidate_words if w in table]
    ws.word_count = len(candidate_words)
    ws.stop_word_count = len(overlapping)
    ws.stop_words = overlapping
    return ws
