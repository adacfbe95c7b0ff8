"""Fidelity-critical constants of the Goose algorithm, in one place.

Single source of truth for SURVEY.md §2.4. Every value is the canonical
Goose-lineage constant ([canon: goose/extractors.py, goose/cleaners.py,
goose/outputformatters.py] — python-goose form, which node ports follow).
The reference checkout /root/reference was EMPTY at build time
(SURVEY.md §0.1); re-verify each value per SURVEY.md §0.3 item 2 when it
mounts — byte-identical output depends on these.
"""

from __future__ import annotations

import re

# ---- candidate enumeration (A7) ------------------------------------------
CANDIDATE_TAGS = ("p", "pre", "td")

# ---- stopword-density scoring (A8) ----------------------------------------
# candidate kept iff stopword_count > CANDIDATE_MIN_STOPWORDS
CANDIDATE_MIN_STOPWORDS = 2

# ---- link-density predicate (A9) -------------------------------------------
# node is "high link density" iff (link_words/words)*n_links >= this
LINK_DENSITY_THRESHOLD = 1.0

# ---- boost / negative scoring (A10) ----------------------------------------
BOOST_BASE = 50.0                 # boost = BOOST_BASE / starting_boost
BOOST_SIBLING_REACH = 3           # paragraphs stepped through before giving up
BOOST_MIN_STOPWORDS = 5           # sibling para must have > this to boost
NEGATIVE_SCORING_MIN_NODES = 15   # negative scoring only when n > this
NEGATIVE_SCORING_BOTTOM_FRACTION = 0.25
NEGATIVE_SCORING_CLAMP_TOTAL = 40
NEGATIVE_SCORING_CLAMP_VALUE = 5

# ---- score propagation (A11) ------------------------------------------------
GRANDPARENT_SCORE_DIVISOR = 2.0   # grandparent gets upscore / 2

# ---- sibling absorption (A13) -----------------------------------------------
SIBLING_SCORE_MULTIPLIER = 0.30   # sibling para kept iff score > 0.30 * baseline

# ---- post-cleanup prune (A14) -----------------------------------------------
CHILD_PRUNE_THRESHOLD = 0.08      # child removed iff score < 0.08 * top score
TABLE_PARA_MIN_CHARS = 25         # paras shorter than this dropped in table check

# ---- output formatter (A15) -------------------------------------------------
FORMATTER_MIN_NODE_SCORE = 1      # scored nodes with gravityScore < 1 removed
FORMATTER_MIN_PARA_STOPWORDS = 3  # paragraphs with stopword_count < 3 removed
FORMATTER_DROP_TAGS = ("b", "strong", "i", "br")  # after <a> drop-tagging
PARAGRAPH_JOIN = "\n\n"

# ---- DocumentCleaner blacklist (A6) ----------------------------------------
# [canon: goose/cleaners.py REMOVE_NODES_RE]. Matched with re.search against
# each of the id / class / name attribute values of every element.
# NOTE: the canonical python-goose regex uses "^side$"; node ports and the
# fixture template use "sidebar" — both are included (SURVEY.md A6).
REMOVE_NODES_RE = re.compile(
    r"^side$|sidebar|combx|retweet|mediaarticlerelated|menucontainer|navbar"
    r"|comment(?!ed)|PopularQuestions|contact|foot|footer|Footer|footnote"
    r"|cnn_strycaptiontxt|links|meta$|scroll(?!able)|shoutbox|sponsor"
    r"|tags|socialnetworking|socialNetworking|cnnStryHghLght|cnn_stryspcvbx"
    r"|^inset$|pagetools|post-attributes|welcome_form|contentTools2"
    r"|the_answers|remember-tool-tip|communitypromo|runaroundLeft|subscribe"
    r"|vcard|articleheadings|date|^print$|popup|author-dropdown|tools"
    r"|socialtools|byline|konafilter|KonaFilter|breadcrumbs|^fn$"
    r"|wp-caption-text"
)
CAPTION_RE = re.compile(r"^caption$")
GOOGLE_RE = re.compile(r" google ")
ENTRIES_RE = re.compile(r"^[^entry-]more.*$")
FACEBOOK_RE = re.compile(r"[^-]facebook")
FACEBOOK_BROADCASTING_RE = re.compile(r"facebook-broadcasting")
TWITTER_RE = re.compile(r"[^-]twitter")

# div→p conversion (A6f): a <div> with none of these inside becomes a <p>
DIV_TO_P_BLOCK_TAGS = (
    "a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul",
)

# ---- title splitting (A4) ----------------------------------------------------
TITLE_SPLITTERS = ("|", "-", "»", ":")

# ---- metadata index (A4/A5/A16–A19) ------------------------------------------
# The tags the metadata getters read. The tree builder buckets each one
# as it creates it (gooselite.minidom.Document.index), so the metadata
# phase reads them without walking the tree.
INDEX_TAGS = ("title", "meta", "link", "time", "a", "iframe", "embed",
              "object", "html")

# ---- HTML structural sets (minidom, A3) --------------------------------------
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# HTML5 tags whose start implicitly closes an open <p>
P_CLOSING_TAGS = frozenset(
    (
        "address article aside blockquote details div dl fieldset figcaption "
        "figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu nav "
        "ol p pre section table ul"
    ).split()
)
RAW_TEXT_TAGS = frozenset(("script", "style"))
