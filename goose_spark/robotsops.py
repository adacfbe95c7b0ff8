"""Crawl politeness as a Spark operator: RFC 9309 robots.txt verdicts,
oracle-backed by an independent decision table.

Six deterministic scenarios keyed on doc_id exercise each precedence
rule of `gooselite.robots` — path-prefix disallow, longest-match
allow-override, ``*``-wildcard + ``$``-anchor patterns, specific-agent
group beating the ``*`` group, no-matching-rule default-allow, and the
equal-length Allow-wins tie-break — with comment/unknown-field lines
interleaved so lexing is on the gated path.  The DuckDB oracle encodes
the EXPECTED verdict as a truth table over doc_id (it never parses
robots text), so a hash match means the evaluator derived every verdict
from the rules independently.

Scale shape: one linear mapInPandas pass, no shuffle.  In a real
pipeline the robots text arrives as a per-host column (one fetch per
host, broadcast- or host-bucket-joined to the url stream) and this
verdict is the filter before fetch/extraction.
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from goose_spark.queries import load

_PREAMBLE = "# synthetic robots\nCrawl-delay: 10\nSitemap: /s.xml\n"

_SCENARIOS = [
    # (robots_text, agent, path_prefix)        expected (oracle truth table)
    (_PREAMBLE + "User-agent: *\nDisallow: /private/",
     "goosebot", "/private/x"),                          # 0 → False
    (_PREAMBLE + "User-agent: *\nDisallow: /p\nAllow: /p/ok",
     "goosebot", "/p/ok/f"),                             # 1 → True
    (_PREAMBLE + "User-agent: *\nDisallow: /*.pdf$",
     "goosebot", None),                                  # 2 → False (path below)
    (_PREAMBLE + "User-agent: goosebot\nDisallow: /\n"
     "User-agent: *\nAllow: /",
     "goosebot/1.0", "/x"),                              # 3 → False
    (_PREAMBLE + "User-agent: *\nDisallow: /private/",
     "goosebot", "/public/"),                            # 4 → True
    (_PREAMBLE + "User-agent: *\nDisallow: /dir/\nAllow: /dir*",
     "goosebot", "/dir/a"),                              # 5 → True (tie)
]


def _path_for(v: int, d: int) -> str:
    if v == 2:
        return f"/doc{d}.pdf"
    return f"{_SCENARIOS[v][2]}{d}"


def _robots_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.robots import allowed_compiled, compile_rules

    # parse + regex-compile each (robots text, agent) pair ONCE per task —
    # the hot path is verdict-per-url, exactly as a per-host compiled
    # matcher would be broadcast at scale
    compiled = [compile_rules(text, agent) for text, agent, _ in _SCENARIOS]
    for batch in it:
        rows = {"doc_id": [], "agent": [], "path": [], "allowed": []}
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            v = d % len(_SCENARIOS)
            _, agent, _ = _SCENARIOS[v]
            path = _path_for(v, d)
            rows["doc_id"].append(d)
            rows["agent"].append(agent)
            rows["path"].append(path)
            rows["allowed"].append(allowed_compiled(compiled[v], path))
        rows["doc_id"] = pd.Series(rows["doc_id"], dtype="int64")
        yield pd.DataFrame(rows)


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 verdicts over the six scenario classes; one shuffle-free
    mapInPandas pass."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _robots_batches,
        schema="doc_id long, agent string, path string, allowed boolean")


ORACLE_ROBOTS_GATE = """
SELECT doc_id,
       CASE WHEN doc_id % 6 = 3 THEN 'goosebot/1.0' ELSE 'goosebot' END
         AS agent,
       CASE doc_id % 6
         WHEN 0 THEN '/private/x' || doc_id
         WHEN 1 THEN '/p/ok/f' || doc_id
         WHEN 2 THEN '/doc' || doc_id || '.pdf'
         WHEN 3 THEN '/x' || doc_id
         WHEN 4 THEN '/public/' || doc_id
         ELSE '/dir/a' || doc_id END AS path,
       doc_id % 6 NOT IN (0, 2, 3) AS allowed
FROM documents
"""


# ------------------------------------------------------- sitemap parsing --
# The discovery half of crawl politeness: robots.txt points at sitemap
# XML; the crawler parses <urlset> entries into the frontier with their
# lastmod/changefreq/priority scheduling hints. One sitemap per host is
# synthesized as REAL XML by a JVM aggregate (deterministic fields keyed
# on doc_id), then parsed back by gooselite.minidom inside mapInPandas —
# the DuckDB oracle recomputes the fields closed-form and never sees the
# XML, so a hash match proves the parse round-trip, entry order
# included (pos = document order within the sitemap).
#
# Scale shape: sitemaps are per-host files (50k urls / 50 MB cap per
# the protocol), so the build side is a host-keyed aggregate whose
# groups are protocol-bounded, and the parse is one linear mapInPandas
# pass over (host, xml) rows — no corpus shuffle in either direction.
_SITEMAP_XML = (
    "concat('<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
    "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">',"
    " array_join(transform(array_sort(collect_list(doc_id)), i -> concat("
    "   '<url><loc>https://', source, '.example/d/', cast(i as string),"
    "   '</loc><lastmod>2026-', lpad(cast(i % 12 + 1 as string), 2, '0'),"
    "   '-', lpad(cast(i % 28 + 1 as string), 2, '0'),"
    "   '</lastmod><changefreq>',"
    "   element_at(array('daily','weekly','monthly','yearly'),"
    "              cast(i % 4 as int) + 1),"
    "   '</changefreq><priority>0.', cast(i % 10 as string),"
    "   '</priority></url>')), ''),"
    " '</urlset>')"
)


def _sitemap_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.minidom import parse_html

    for pdf in it:
        out = {"source": [], "pos": [], "loc": [], "lastmod": [],
               "changefreq": [], "priority": []}
        for source, xml in zip(pdf["source"], pdf["xml"]):
            root = parse_html(xml)
            for pos, u in enumerate(root.get_elements_by_tag("url")):
                vals = {}
                for f in ("loc", "lastmod", "changefreq", "priority"):
                    els = u.get_elements_by_tag(f)
                    vals[f] = els[0].get_text().strip() if els else None
                out["source"].append(source)
                out["pos"].append(pos)
                for f in ("loc", "lastmod", "changefreq", "priority"):
                    out[f].append(vals[f])
        yield pd.DataFrame({
            "source": pd.Series(out["source"], dtype="object"),
            "pos": pd.Series(out["pos"], dtype="int32"),
            "loc": pd.Series(out["loc"], dtype="object"),
            "lastmod": pd.Series(out["lastmod"], dtype="object"),
            "changefreq": pd.Series(out["changefreq"], dtype="object"),
            "priority": pd.Series(out["priority"], dtype="object"),
        })


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    sm = d.groupBy("source").agg(F.expr(_SITEMAP_XML).alias("xml"))
    return sm.mapInPandas(
        _sitemap_batches,
        schema=("source string, pos int, loc string, lastmod string,"
                " changefreq string, priority string"))


ORACLE_SITEMAP_PARSE = """
SELECT source,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
            AS INT) AS pos,
       'https://' || source || '.example/d/' || CAST(doc_id AS VARCHAR)
           AS loc,
       '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
           lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
       (['daily','weekly','monthly','yearly'])[CAST(doc_id % 4 AS INT) + 1]
           AS changefreq,
       '0.' || CAST(doc_id % 10 AS VARCHAR) AS priority
FROM documents
"""


# -------------------------------------------------- frontier scheduling --
# Politeness-aware fetch scheduling: the frontier step between sitemap
# discovery (q_sitemap_parse) and the WARC fetch — per host, urls are
# ordered by sitemap priority (ties by id), given fetch slots, and each
# slot is offset by the host's crawl delay (the robots.txt Crawl-delay
# knob, synthesized deterministically per host via md5int60 so both
# engines compute the identical schedule).
#
# Scale shape: ONE host-keyed window over (priority, id) int pairs —
# bounded by host size, which is exactly the politeness unit (a host's
# schedule is inherently sequential; parallelism comes from the
# millions of hosts, not from inside one). The corpus text never
# enters; the shuffle rows are four ints and a hostname.


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from goose_spark.textops import _MD5INT60_SPARK

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    d = d.withColumn(
        "delay_s",
        F.expr(_MD5INT60_SPARK.format(x="source") + " % 4 * 5 + 5")
        .cast("long"))
    d = d.withColumn("priority", (F.col("doc_id") % 10).cast("long"))
    w = Window.partitionBy("source").orderBy(
        F.desc("priority"), F.asc("doc_id"))
    d = d.withColumn("slot", (F.row_number().over(w) - 1).cast("long"))
    return d.select(
        "source", "doc_id", "priority", "slot", "delay_s",
        (F.col("slot") * F.col("delay_s")).alias("fetch_offset_s"))


ORACLE_CRAWL_SCHEDULE = """
WITH d AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(source), 1, 15)) AS BIGINT)
             % 4 * 5 + 5 AS delay_s,
         CAST(doc_id % 10 AS BIGINT) AS priority
  FROM documents)
SELECT source, doc_id, priority,
       CAST(ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY priority DESC, doc_id) - 1
            AS BIGINT) AS slot,
       delay_s,
       (ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY priority DESC, doc_id) - 1) * delay_s
           AS fetch_offset_s
FROM d
"""


# --------------------------------------------------------- crawl funnel --
# The crawl-side twin of filterops.q_corpus_funnel: every gate between
# URL discovery and an actual fetch, composed in execution order with
# survivor counts — discovered urls -> robots-allowed (q_robots_gate's
# real RFC 9309 evaluator) -> not already fetched (the exact seen-set
# the Bloom gate pre-filters for) -> due in the first politeness batch
# (q_crawl_schedule's slot 0). Same single-pass discipline as the
# corpus funnel: per-gate presence/verdict flags join once, ONE
# aggregate, stack() unpivot.
CRAWL_FUNNEL_STAGES = ("discovered", "robots_allowed", "not_seen",
                       "first_batch")


def q_crawl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents").select("doc_id")
    robots = q_robots_gate(spark, sf_dir).select("doc_id", "allowed")
    sched = q_crawl_schedule(spark, sf_dir).select("doc_id", "slot")
    flags = (
        d.join(robots, "doc_id")
        .join(sched, "doc_id")
        .select(
            "doc_id",
            F.col("allowed").alias("f1"),
            # exact seen-set (checkpoint semantics; the approximate
            # Bloom pre-filter for such sets is graded separately by
            # textops.q_bloom_dedup). Residue 5 is coprime to the six
            # robots scenario classes, so this gate actually intersects
            # the allowed set — %3 would alias with the mod-6 classes
            # and drop nothing
            (~(F.col("doc_id") % 5 == 2)).alias("f2"),
            (F.col("slot") == 0).alias("f3")))
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        F.sum(F.when(F.col("f1"), 1).otherwise(0))
        .cast("long").alias("c1"),
        F.sum(F.when(F.col("f1") & F.col("f2"), 1).otherwise(0))
        .cast("long").alias("c2"),
        F.sum(F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1)
              .otherwise(0)).cast("long").alias("c3"))
    stack_args = ", ".join(
        f"{i}, '{n}', c{i}" for i, n in enumerate(CRAWL_FUNNEL_STAGES))
    return agg.select(F.expr(
        f"stack({len(CRAWL_FUNNEL_STAGES)}, {stack_args})"
        " as (stage, gate, n_kept)"))


ORACLE_CRAWL_FUNNEL = f"""
WITH rq AS ({ORACLE_ROBOTS_GATE}),
sq AS ({ORACLE_CRAWL_SCHEDULE}),
f AS (
  SELECT d.doc_id, rq.allowed AS f1,
         d.doc_id % 5 <> 2 AS f2,
         sq.slot = 0 AS f3
  FROM documents d JOIN rq USING (doc_id) JOIN sq USING (doc_id)),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT)
             AS c3
  FROM f)
SELECT CAST(0 AS INT) AS stage, 'discovered' AS gate, c0 AS n_kept FROM a
UNION ALL SELECT 1, 'robots_allowed', c1 FROM a
UNION ALL SELECT 2, 'not_seen', c2 FROM a
UNION ALL SELECT 3, 'first_batch', c3 FROM a
"""


# ------------------------------------------------------------ feed parse --
# Crawl discovery's third channel beside robots.txt sitemaps and page
# outlinks: site feeds, in both formats a crawl meets. One Atom feed and
# one RSS 2.0 feed per host are synthesized as REAL XML by a JVM
# aggregate (entry fields keyed on doc_id, entries in sorted-id document
# order), then parsed back by gooselite.minidom in one mapInPandas pass.
# The formats differ in three places, and _FEED_TAGS is that whole
# difference: Atom carries the article URL in <link href="..."/>, RSS in
# <link>TEXT</link>; identity is <id> against <guid>; dates are RFC 3339
# <updated> against RFC-822 <pubDate>. The parse always runs in
# xml_mode, since `link` is an HTML void element and RSS's link text
# would escape the node under HTML rules. The DuckDB oracle recomputes
# every field closed-form and never sees XML, so a hash match proves the
# parse round-trip including entry order (pos = document order within
# the feed). 2026-01-01 is a Thursday, so the RSS weekday token is
# constant and the oracle needs no calendar math.
#
# Scale shape: same as q_sitemap_parse — feeds are per-host documents,
# the build side is a host-keyed aggregate with protocol-bounded
# groups, and the parse is one linear mapInPandas pass over the
# per-host rows; no corpus shuffle in either direction.

_FEED_XML = {
    "atom": (
        "concat('<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
        "<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>', source, "
        "'</title>',"
        " array_join(transform(array_sort(collect_list(doc_id)), i -> concat("
        "   '<entry><title>Article ', cast(i as string), '</title>',"
        "   '<link href=\"https://', source, '.example/d/', cast(i as string),"
        "   '\"/>',"
        "   '<id>urn:doc:', cast(i as string), '</id>',"
        "   '<updated>2026-', lpad(cast(i % 12 + 1 as string), 2, '0'), '-',"
        "   lpad(cast(i % 28 + 1 as string), 2, '0'),"
        "   'T00:00:00Z</updated></entry>')), ''),"
        " '</feed>')"
    ),
    "rss": (
        "concat('<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
        "<rss version=\"2.0\"><channel><title>', source, '</title>',"
        " array_join(transform(array_sort(collect_list(doc_id)), i -> concat("
        "   '<item><title>Article ', cast(i as string), '</title>',"
        "   '<link>https://', source, '.example/d/', cast(i as string),"
        "   '</link>',"
        "   '<guid isPermaLink=\"false\">urn:doc:', cast(i as string),"
        "   '</guid>',"
        "   '<pubDate>Thu, 01 Jan 2026 ',"
        "   lpad(cast(i % 24 as string), 2, '0'), ':',"
        "   lpad(cast(i % 60 as string), 2, '0'),"
        "   ':00 GMT</pubDate></item>')), ''),"
        " '</channel></rss>')"
    ),
}

# format -> (entry tag, id tag, date tag, link is the href attribute);
# html.parser lowercases tag names, hence "pubdate"
_FEED_TAGS = {
    "atom": ("entry", "id", "updated", True),
    "rss": ("item", "guid", "pubdate", False),
}

_FEED_COLS = ("source", "format", "pos", "title", "link", "entry_id",
              "updated")


def _feed_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.minidom import parse_html

    def text(e, tag):
        els = e.get_elements_by_tag(tag)
        return els[0].get_text() if els else ""

    for batch in it:
        if not len(batch):
            continue
        rows = []
        for fmt, (entry, id_tag, date_tag, href) in _FEED_TAGS.items():
            for source, xml in zip(batch["source"], batch[fmt]):
                root = parse_html(xml, xml_mode=True)
                for pos, e in enumerate(root.get_elements_by_tag(entry)):
                    ln = e.get_elements_by_tag("link")
                    if not ln:
                        link = ""
                    elif href:
                        link = (ln[0].attrib or {}).get("href", "")
                    else:
                        link = ln[0].get_text()
                    rows.append((source, fmt, pos, text(e, "title"), link,
                                 text(e, id_tag), text(e, date_tag)))
        yield pd.DataFrame(rows, columns=_FEED_COLS).astype({"pos": "int32"})


def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    feeds = d.groupBy("source").agg(
        *[F.expr(xml).alias(fmt) for fmt, xml in _FEED_XML.items()])
    return feeds.mapInPandas(
        _feed_batches,
        schema=("source string, format string, pos int, title string,"
                " link string, entry_id string, updated string"))


ORACLE_FEED_PARSE = """
WITH d AS (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
              AS INT) AS pos,
         'Article ' || CAST(doc_id AS VARCHAR) AS title,
         'https://' || source || '.example/d/' || CAST(doc_id AS VARCHAR)
             AS link,
         'urn:doc:' || CAST(doc_id AS VARCHAR) AS entry_id
  FROM documents)
SELECT source, 'atom' AS format, pos, title, link, entry_id,
       '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
           lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z'
           AS updated
FROM d
UNION ALL
SELECT source, 'rss' AS format, pos, title, link, entry_id,
       'Thu, 01 Jan 2026 ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
           || ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
           || ':00 GMT' AS updated
FROM d
"""
