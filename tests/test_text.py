import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gooselite.stopwords_data import STOPWORDS
from gooselite.text import (inner_trim, remove_punctuation, resolve_language,
                            stopword_counter)


def _canonical_count(content, lang):
    """Oracle: Goose's default stopword count. The caller's text is
    inner-trimmed, punctuation is stripped, the text is split on single
    spaces, and each lowercased token is looked up in the table."""
    table = STOPWORDS[resolve_language(lang)]
    words = remove_punctuation(inner_trim(content)).split(" ")
    return sum(w.lower() in table for w in words)


def _count(content, lang):
    return stopword_counter(lang)(content)


def test_inner_trim_collapses_all_whitespace():
    assert inner_trim("  a \t b\n\nc\xa0d  ") == "a b c d"
    assert inner_trim("") == ""
    assert inner_trim("\n \t") == ""


def test_stopword_count_en():
    assert _count("the quick brown fox is in the barn", "en") == 4  # the, is, in, the


def test_stopword_count_punctuation_stripped():
    assert _count("The, quick. fox! is: here?", "en") == 3  # the, is, here
    assert _count("The,", "en") == 1


def test_stopword_count_lang_tables_differ():
    assert _count("und der die das hund", "de") == 4
    assert _count("und der die das hund", "en") == 0


def test_resolve_language():
    assert resolve_language("en") == "en"
    assert resolve_language("de-DE") == "de"
    assert resolve_language("zh") == "zh"  # segmentation variant (r3)
    assert resolve_language("ja") == "ja"  # segmentation variant (r3)
    assert resolve_language("th") == "th"  # segmentation variant (r3)
    assert resolve_language("vi") == "vi"  # space-delimited table (r4)
    assert resolve_language("he") == "he"  # space-delimited table (r4)
    assert resolve_language("yi") == "en"  # no table → fallback
    assert resolve_language(None) == "en"
    assert resolve_language("") == "en"


def test_empty_text():
    assert _count("", "en") == 0
    assert _count("", "zh") == 0


# --- Segmentation variants (A8: zh / ko / ar, r3) -----------------------

def test_zh_greedy_max_match():
    # 没有 is one table entry — greedy max-match counts it once, not 没+有
    assert _count("没有", "zh") == 1
    # 没有 人 知道 这个 的
    assert _count("没有人知道这个故事的结局", "zh") == 5


def test_zh_mixed_script():
    # latin spans tokenize by whitespace; CJK runs segment independently:
    # 是 一个 的
    assert _count("spark 是一个 engine 的框架", "zh") == 3


def test_ko_substring_particles():
    # particles agglutinate: 에서/를 occur INSIDE the tokens
    assert _count("학교에서 공부를 했다", "ko") == 3


def test_ar_diacritics_stripped():
    # هَذَا matches table entry هذا after harakat strip; مِنْ matches من
    assert _count("هَذَا كتاب مِنْ المكتبة", "ar") == 2


def test_ja_kana_kanji_max_match():
    # particles ride inside one kana+kanji run; これ/は/の/です are table
    # entries, greedy max-match finds them without a lexicon
    assert _count("これは日本語のテストです", "ja") == 4


def test_ja_mixed_script():
    assert _count("spark は高速な engine です", "ja") == 3  # は + な + です


def test_th_max_match():
    # คือ/การ/ที่/เรา/ใช้/ใน are table entries inside unspaced Thai runs
    assert _count("นี่คือการทดสอบที่เราใช้ในงาน", "th") == 6


def test_variant_fast_path_agrees():
    """Each segmenting counter gives the default count of its text once
    the text is split into words (particles apart, harakat stripped)."""
    for lang, text, segmented in (
            ("zh", "没有人知道这个故事的结局", "没有 人 知道 这个 故事 的 结局"),
            ("ja", "これは日本語のテストです", "これ は 日本語 の テスト です"),
            ("th", "นี่คือการทดสอบที่เราใช้ในงาน",
             "นี่ คือ การ ทดสอบ ที่ เรา ใช้ ใน งาน"),
            ("ko", "학교에서 공부를 했다", "학교 에서 공부 를 했다"),
            ("ar", "هَذَا كتاب مِنْ المكتبة", "هذا كتاب من المكتبة")):
        assert _count(text, lang) == _canonical_count(segmented, lang), lang


# Fragments for the properties below: table words plus the characters
# where tokenizers, punctuation stripping and lowercasing can go wrong —
# danda, ano teleia, Greek capital sigma (final form on lower()), harakat
# and tatweel, NBSP, ideographic and zero-width space, and text in the
# segmented scripts.
_NOISE = [".", ",", "!", "'", "-", "।", "॥", "·", ";", "Σ", "ΑΣ",
          "\u064e", "\u0650", "\u0640", "\xa0", "\u3000", "\u200b", " ",
          "  ", "\t", "\n", "İ", "x", "Fox", "人", "的", "の", "です",
          "การ", "에서"]
_DEFAULT_CODES = sorted(c for c in STOPWORDS
                        if c not in ("zh", "ja", "th", "ko", "ar"))


def _fragments(code):
    return st.one_of(st.sampled_from(sorted(STOPWORDS[code])),
                     st.sampled_from(_NOISE))


def _text(code):
    return st.lists(_fragments(code), max_size=12).map("".join)


@pytest.mark.parametrize("code", _DEFAULT_CODES)
@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_default_counter_matches_canonical(code, data):
    """The whitespace-split counter of the default languages equals
    Goose's split-on-single-spaces count of the inner-trimmed text."""
    text = data.draw(st.lists(st.one_of(_fragments(code), st.just(" ")),
                              max_size=20).map("".join))
    assert _count(text, code) == _canonical_count(text, code)


@pytest.mark.parametrize("code", sorted(STOPWORDS))
@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_count_is_additive_over_space_joined_parts(code, data):
    """The formatter's fold rests on this: a joining space never merges
    or splits a counted token, so the count of the space-joined parts is
    the sum of the parts' counts, in every language."""
    parts = data.draw(st.lists(_text(code), max_size=6))
    count = stopword_counter(code)
    assert count(" ".join(parts)) == sum(count(p) for p in parts)
