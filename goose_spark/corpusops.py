"""Corpus-maintenance operators (round 4): the jobs a web-scale
training-data pipeline runs BETWEEN crawls and extraction passes —
paragraph-level boilerplate removal (CCNet-style line dedup), mixture
sampling to per-language token budgets, crawl-snapshot deltas and
outlink extraction (the crawl frontier's link graph).

House rules (same as textops/filterops): every step is a JVM-side
expression; outputs are exact integers / md5 gates so each probe is
value-hash-gated against an independent DuckDB twin; synthesized inputs
come from ONE SQL template shared verbatim by both engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goose_spark.queries import load
from goose_spark.textops import _MD5INT60_SPARK

# ------------------------------------------------- paragraph-level dedup --
# CCNet-style: a paragraph whose exact text occurs >= DUP_PARA_MIN times
# corpus-wide is boilerplate (nav bars, subscribe banners, copyright
# footers) and is removed from every document; the document's own prose
# survives. The corpus has no newline structure, so the probe synthesizes
# a deterministic 4-paragraph page per doc: two source-keyed boilerplate
# paragraphs (repeat across the ~25 docs of each source -> dropped) and
# two doc_id-keyed body slices (unique -> kept, so no document ever
# empties: md5('') vs NULL would diverge across engines).
DUP_PARA_MIN = 3

_PG_SYNTH = (
    "concat_ws(chr(10),"
    " concat('subscribe to the ', source, ' newsletter for daily updates'),"
    " concat('body ', CAST(doc_id AS {S}), ' ', substr(text, 1, 120)),"
    " CASE WHEN doc_id % 2 = 0"
    "      THEN concat('copyright ', source, ' all rights reserved')"
    "      ELSE concat('about ', source, ' contact and terms') END,"
    " concat('tail ', CAST(doc_id AS {S}), ' ', substr(text, 121, 120)))"
)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus paragraph dedup: explode paragraphs with position,
    count occurrences on a 16-byte md5 key, drop paragraphs with
    count >= DUP_PARA_MIN, reassemble each doc in original order.

    Shuffle discipline at 100 TB: (1) the count is a hash aggregate on
    the md5 key with map-side combine — the shuffle carries (16 B, long)
    rows, never paragraph text; (2) counts rejoin the exploded side as a
    shuffle join so AQE can skew-split the wordpress-footer key — a
    window COUNT() OVER (PARTITION BY hash) would pin a 10^9-occurrence
    paragraph onto one reducer; (3) reassembly is one doc_id-keyed
    aggregate (collect_list of the surviving (pos, para) structs,
    array_sort, concat_ws), zero-exchange on a table bucketed by
    doc_id."""
    d = load(spark, sf_dir, "documents")
    pg = F.expr(_PG_SYNTH.format(S="STRING"))
    paras = d.select(
        "doc_id", F.posexplode(F.split(pg, "\n")).alias("pos", "para"))
    counts = (
        paras.groupBy(F.md5(F.col("para").cast("binary")).alias("ph"))
        .agg(F.count(F.lit(1)).alias("n_occ")))
    kept = (
        paras.withColumn("ph", F.md5(F.col("para").cast("binary")))
        .join(counts, "ph"))
    clean = F.expr(
        "md5(cast(concat_ws(chr(10), transform(array_sort("
        f" collect_list(CASE WHEN n_occ < {DUP_PARA_MIN}"
        "  THEN struct(pos, para) END)"
        "), x -> x.para)) as binary))")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(F.col("n_occ") < DUP_PARA_MIN, 1).otherwise(0))
        .cast("long").alias("n_kept"),
        clean.alias("clean_md5"),
    )


ORACLE_PARAGRAPH_DEDUP = f"""
WITH t AS (
  SELECT doc_id, string_split({_PG_SYNTH.format(S='VARCHAR')}, chr(10)) AS ps
  FROM documents),
px AS (SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, ps
       FROM t),
p AS (SELECT doc_id, pos, ps[pos] AS para FROM px),
c AS (SELECT md5(para) AS ph, COUNT(*) AS n_occ FROM p GROUP BY 1),
k AS (SELECT p.doc_id, p.pos, p.para, c.n_occ
      FROM p JOIN c ON md5(p.para) = c.ph)
SELECT doc_id,
       COUNT(*) AS n_paras,
       CAST(SUM(CASE WHEN n_occ < {DUP_PARA_MIN} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       md5(string_agg(CASE WHEN n_occ < {DUP_PARA_MIN} THEN para END,
                      chr(10) ORDER BY pos)) AS clean_md5
FROM k GROUP BY doc_id
"""


# ------------------------------------------------------ mixture sampling --
# Deterministic hash-rate sampling to a per-language token budget — the
# "data mixing" step that turns a raw corpus into a training mixture with
# chosen language (or source/quality-tier) weights. keep(doc) iff
# h(doc_id) < floor(BUDGET * 2^40 / lang_total_tokens), h uniform on
# [0, 2^40): every language lands its budget in expectation, the decision
# is a pure per-row expression, and reruns are reproducible (hash, not
# rand()).
MIX_BUDGET_TOKENS = 6000
_MIX_M = 1 << 40  # hash modulus; BUDGET * M ~ 6.6e15 << 2^63


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling at 100 TB: the alternative — a per-language
    cumulative-sum window "take docs until the budget fills" — partitions
    the whole corpus by a handful of language values, pinning each
    language onto ONE reducer. This shape instead does one tiny
    map-side-combined aggregate (rows = #languages), broadcasts the
    per-language threshold table, and keeps/drops every row with pure
    codegen — the corpus itself never shuffles."""
    d = load(spark, sf_dir, "documents")
    h = _MD5INT60_SPARK.format(x="cast(doc_id as string)")
    base = d.select(
        "doc_id", "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long").alias("n_tokens"),
        F.expr(f"{h} % {_MIX_M}").alias("h"))
    thresholds = (
        base.groupBy("lang")
        .agg(F.sum("n_tokens").alias("lang_tokens"))
        .select("lang", F.expr(
            f"CAST({MIX_BUDGET_TOKENS} AS BIGINT) * {_MIX_M}"
            " div lang_tokens").alias("thresh")))
    return (
        base.join(F.broadcast(thresholds), "lang")
        .select("doc_id", "lang", "n_tokens",
                (F.col("h") < F.col("thresh")).alias("kept")))


ORACLE_MIX_SAMPLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_MIX_M} AS h
  FROM documents),
thresh AS (
  SELECT lang,
         CAST({MIX_BUDGET_TOKENS} AS BIGINT) * {_MIX_M} // SUM(n_tokens)
             AS thresh
  FROM base GROUP BY lang)
SELECT b.doc_id, b.lang, b.n_tokens, b.h < t.thresh AS kept
FROM base b JOIN thresh t USING (lang)
"""


# -------------------------------------------------- crawl-snapshot delta --
# Incremental crawl processing: given two snapshots of the same URL space
# (e.g. consecutive monthly crawls), classify every URL as
# added / removed / changed / unchanged by content hash — the operator
# that lets the pipeline re-extract ONLY the changed slice. Snapshots are
# synthesized deterministically from the corpus: A = doc_id % 7 != 0,
# B = doc_id % 5 != 0 with every doc_id % 3 == 0 page revised.


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full-outer sort-merge join keyed on the document id (url at
    deploy); with both snapshots co-bucketed by url the join is
    zero-exchange — the 100 TB shape for diffing consecutive crawls."""
    d = load(spark, sf_dir, "documents")
    snap_a = (
        d.filter(F.col("doc_id") % 7 != 0)
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("ha")))
    snap_b = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select("doc_id", F.md5(
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.col("text"), F.lit(" rev2")))
            .otherwise(F.col("text")).cast("binary")).alias("hb")))
    j = snap_a.join(snap_b, "doc_id", "full_outer")
    status = (
        F.when(F.col("ha").isNull(), "added")
        .when(F.col("hb").isNull(), "removed")
        .when(F.col("ha") != F.col("hb"), "changed")
        .otherwise("unchanged"))
    return j.select("doc_id", status.alias("status"))


ORACLE_CRAWL_DELTA = """
WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents
           WHERE doc_id % 7 != 0),
b AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN text || ' rev2'
                      ELSE text END) AS hb
      FROM documents WHERE doc_id % 5 != 0)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN ha != hb THEN 'changed'
            ELSE 'unchanged' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""


# ------------------------------------------------------ link extraction --
# Closes the crawl loop: page HTML -> DOM parse -> outlink extraction ->
# link graph. Each doc gets a deterministic page whose anchors encode a
# closed-form edge set, in three href shapes a real crawl sees —
# root-relative ("/d/7"), dot-dot-relative ("../d/7"), and
# protocol-absolute — all resolved by urllib's urljoin
# against the page URL. The DuckDB oracle never parses HTML: it
# recomputes the resolved URLs closed-form, so a hash match proves the
# real parser + resolver chain (gooselite.minidom + urljoin) extracted
# exactly the planted edge set.
#
# The k-th outlink of node u is (u * PR_MULT[k] + PR_ADD[k]) % n for
# k <= u % 3 (doc_ids are contiguous 0..n-1 at every SF, so every target
# exists). The page synthesis, the oracles (through LINK_DST_SQL, over
# columns doc_id, pos and n) and the pytests all read these constants.
PR_MULT = (7, 31, 97)
PR_ADD = (13, 57, 241)
LINK_DST_SQL = (f"(doc_id * (CASE WHEN pos = 0 THEN {PR_MULT[0]}"
                f" WHEN pos = 1 THEN {PR_MULT[1]} ELSE {PR_MULT[2]} END)"
                f" + (CASE WHEN pos = 0 THEN {PR_ADD[0]}"
                f" WHEN pos = 1 THEN {PR_ADD[1]}"
                f" ELSE {PR_ADD[2]} END)) % n")


def synth_link_page(doc_id: int, source: str, n: int) -> tuple:
    """Deterministic (page_url, html) for the link-graph probes: doc_id%3+1
    outlinks exercising root-relative / parent-relative / absolute hrefs,
    plus a <title> for the WAT metadata probe. Shared by _link_pages and
    warcops._wat_batches so the link formula has ONE definition."""
    page_url = f"https://{source}.example/d/{doc_id}"
    anchors = []
    for k in range(doc_id % 3 + 1):
        t = (doc_id * PR_MULT[k] + PR_ADD[k]) % n
        if k == 0:
            href = f"/d/{t}"                        # root-relative
        elif k == 1:
            href = f"../d/{t}"                      # needs '..'
        else:
            href = f"https://{source}.example/d/{t}"  # absolute
        anchors.append(f'<a href="{href}">link {k}</a>')
    html = (f"<html><head><title>doc {doc_id}</title></head>"
            f"<body><nav>{' '.join(anchors)}</nav>"
            f"<p>article body</p></body></html>")
    return page_url, html


def _link_pages(batches):
    from urllib.parse import urljoin

    from gooselite.minidom import parse_html

    for pdf in batches:
        out = {"doc_id": [], "pos": [], "dst_url": [], "anchor": []}
        for doc_id, source, n in zip(
                pdf["doc_id"], pdf["source"], pdf["n"]):
            doc_id, n = int(doc_id), int(n)
            page_url, html = synth_link_page(doc_id, source, n)
            root = parse_html(html)
            for pos, a in enumerate(root.get_elements_by_tag("a")):
                href = (a.attrib or {}).get("href")
                if href:
                    out["doc_id"].append(doc_id)
                    out["pos"].append(pos)
                    out["dst_url"].append(urljoin(page_url, href))
                    out["anchor"].append(a.get_text().strip())
        yield pd.DataFrame({
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "pos": pd.Series(out["pos"], dtype="int32"),
            "dst_url": pd.Series(out["dst_url"], dtype="object"),
            "anchor": pd.Series(out["anchor"], dtype="object"),
        })


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction: one mapInPandas pass (parse + resolve), no
    shuffle of page bytes; N enters via a broadcast 1-row aggregate.
    At crawl scale this runs fused with the extraction UDF over the
    same WARC batches — the edge list, not the HTML, is what shuffles
    into a link-graph ranking."""
    return _link_edges(spark, sf_dir).select("doc_id", "pos", "dst_url")


def _link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared parse pass: (doc_id, pos, dst_url, anchor) edge rows."""
    d = load(spark, sf_dir, "documents")
    n_df = d.groupBy().agg(F.count(F.lit(1)).alias("n"))
    src = d.select("doc_id", "source").crossJoin(F.broadcast(n_df))
    return src.mapInPandas(
        _link_pages,
        schema="doc_id long, pos int, dst_url string, anchor string")


def _oracle_link_extract() -> str:
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
d AS (SELECT doc_id, source, n FROM documents, nn),
e AS (SELECT doc_id, source, n,
             unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS pos
      FROM d)
SELECT doc_id, CAST(pos AS INT) AS pos,
       'https://' || source || '.example/d/' ||
       CAST({LINK_DST_SQL} AS VARCHAR) AS dst_url
FROM e
"""


ORACLE_LINK_EXTRACT = _oracle_link_extract()


# ------------------------------------------------- anchor-text harvest --
# The classic web-corpus side-channel: the text OTHER pages use to link
# to a URL (anchor text) is a high-quality description of the target —
# search engines and LLM-corpus builders aggregate it per target. This
# rides the same parse pass as q_link_extract: per dst_url, the inlink
# count and the distinct anchor strings (sorted, '|'-joined so the row
# is hash-comparable).
#
# Scale shape: the parse emits (dst_url, short anchor) pairs — the only
# shuffle is ONE dst_url-keyed hash aggregate with map-side combine
# (collect_set partials merge map-side). A mega-inlink URL (a homepage
# with 10^9 inlinks) bounds the state at the distinct-anchor set, not
# the inlink count; at CC scale the distinct set is additionally capped
# (slice after sort) — the cap is applied here too so the operator IS
# the deploy shape.
ANCHOR_SET_CAP = 8


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _link_edges(spark, sf_dir)
    return e.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct("doc_id").alias("n_src_docs"),
        F.array_join(
            F.slice(F.array_sort(F.collect_set("anchor")),
                    1, ANCHOR_SET_CAP), "|").alias("anchors"),
    )


def _oracle_anchor_text() -> str:
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
d AS (SELECT doc_id, source, n FROM documents, nn),
e AS (SELECT doc_id, source, n,
             unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS pos
      FROM d),
edges AS (
  SELECT doc_id,
         'https://' || source || '.example/d/' ||
         CAST({LINK_DST_SQL} AS VARCHAR) AS dst_url,
         'link ' || CAST(pos AS VARCHAR) AS anchor
  FROM e)
SELECT dst_url,
       COUNT(*) AS n_inlinks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
       array_to_string(
         list_slice(list_sort(list_distinct(list(anchor))),
                    1, {ANCHOR_SET_CAP}), '|') AS anchors
FROM edges GROUP BY dst_url
"""


ORACLE_ANCHOR_TEXT = _oracle_anchor_text()


# ---------------------------------------------------- host-level stats --
# The per-host (per-source) rollup a crawl pipeline keeps as its
# "source prior": document and token volume, exact-duplicate pressure,
# quality-gate pass rate, language diversity, and size extremes. Whole
# domains get boosted or cut on this table — it is the aggregation
# level above q_domain_cap_kept's per-document decisions.
#
# Scale shape: per-doc features are projections; the duplicate flag
# joins the 16-byte md5-count aggregate back on its own key (same
# discipline as q_dedup_exact); the gopher verdict REUSES the probe
# operator; the final aggregate is ONE source-keyed hash agg with
# map-side combine. Hosts are numerous and bounded — no skew concern
# at the source key beyond what AQE handles.


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goose_spark.textops import q_gopher_rules

    d = load(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    base = d.select(
        "doc_id", "source", "lang", toks.alias("n_tokens"),
        F.md5(F.col("text").cast("binary")).alias("th"))
    counts = base.groupBy("th").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_id"))
    flagged = base.join(counts, "th").select(
        "doc_id", "source", "lang", "n_tokens",
        ((F.col("n_copies") > 1) & (F.col("doc_id") != F.col("keep_id")))
        .alias("is_dup"))
    g = q_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("gopher_ok"))
    j = flagged.join(g, "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("long").alias("dup_docs"),
        F.sum(F.when(F.col("gopher_ok"), 1).otherwise(0))
        .cast("long").alias("gopher_pass"),
        F.countDistinct("lang").alias("n_langs"),
        F.max("n_tokens").alias("max_tokens"),
        F.min("n_tokens").alias("min_tokens"),
    )


def _oracle_host_stats() -> str:
    from goose_spark.textops import ORACLE_GOPHER_RULES

    return f"""
WITH gq AS ({ORACLE_GOPHER_RULES}),
base AS (
  SELECT doc_id, source, lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens,
         md5(text) AS th
  FROM documents),
c AS (SELECT th, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
      FROM base GROUP BY th),
f AS (SELECT base.*, (c.n_copies > 1 AND base.doc_id <> c.keep_id)
             AS is_dup
      FROM base JOIN c USING (th)),
j AS (SELECT f.*, gq.passes AS gopher_ok FROM f JOIN gq USING (doc_id))
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       CAST(SUM(CASE WHEN gopher_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS gopher_pass,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MAX(n_tokens) AS max_tokens,
       MIN(n_tokens) AS min_tokens
FROM j GROUP BY source
"""


ORACLE_HOST_STATS = _oracle_host_stats()


# ------------------------------------------------------ CDX crawl index --
# The crawl-side lookup artifact every Common-Crawl-style archive ships:
# one index row per capture, keyed by the SURT-canonicalized URL
# (lowercased host with the `www.` prefix and default port stripped,
# host labels REVERSED so one host's captures sort adjacent, query
# params sorted so param order never splits a URL), carrying the
# content digest and a revisit marker for captures whose payload digest
# was already seen (CDX `warc/revisit` semantics — the archive stores
# the bytes once and the index points every later capture at them).
# The probe synthesizes a deliberately messy raw URL per doc (mixed
# case, alternating `WWW.` prefix, `:80` default port on every third
# doc, query params out of order) and canonicalizes it FROM THE STRING
# — the parse, not the synthesis, is the operator under test. Each URL
# carries TWO crawl captures (the corpus has no exact-dup texts, so a
# content-level collision must come from re-crawls, as it does in real
# archives): the re-capture of an unchanged page (3 of every 4 docs)
# has an identical payload and must be marked `revisit`; changed pages
# (doc_id % 4 == 0, payload grows a ' v2' suffix) stay `response`.
#
# Scale shape: canonicalization + digest are pure codegen projections
# (zero shuffle); revisit detection is ONE hash aggregate over the
# 16-byte digest key with map-side combine plus a join back on that
# same key (the q_dedup_exact discipline — the fat payload column
# never shuffles, and AQE can split a viral payload's digest key). The
# real index is then range-partitioned on surt_key and sorted within
# partitions at write time (repartitionByRange + sortWithinPartitions,
# the Spark form of CC's sharded cluster.idx); the driver compare is
# order-insensitive so the probe returns the unsorted rows.
_CDX_CHANGED_MOD = 4


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/d/"), F.col("doc_id").cast("string"),
        F.lit("?b="), (F.col("doc_id") % 5).cast("string"),
        F.lit("&a="), (F.col("doc_id") % 7).cast("string"))
    caps = d.select(
        "doc_id", raw.alias("url"), "text",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("capture"))
    payload = F.when(
        (F.col("capture") == 2) & (F.col("doc_id") % _CDX_CHANGED_MOD == 0),
        F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text"))
    base = caps.select(
        "doc_id", "capture", "url",
        F.md5(payload.cast("binary")).alias("digest"),
        F.octet_length(payload).cast("long").alias("n_bytes"))
    hostport = F.regexp_extract("url", r"^https://([^/]+)", 1)
    host = F.regexp_replace(
        F.regexp_replace(F.lower(hostport), r":80$", ""), r"^www\.", "")
    path = F.lower(F.regexp_extract("url", r"^https://[^/]+([^?]*)", 1))
    qsorted = F.array_join(
        F.array_sort(F.split(F.regexp_extract("url", r"\?(.*)$", 1), "&")),
        "&")
    keyed = base.withColumn(
        "surt_key",
        F.concat(F.array_join(F.reverse(F.split(host, r"\.")), ","),
                 F.lit(")"), path, F.lit("?"), qsorted))
    counts = keyed.groupBy("digest").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("capture").alias("first_capture"))
    return (keyed.join(counts, "digest")
            .select("doc_id", "capture", "surt_key", "url", "digest",
                    "n_bytes",
                    F.when((F.col("n_copies") > 1)
                           & (F.col("capture") != F.col("first_capture")),
                           F.lit("revisit"))
                    .otherwise(F.lit("response")).alias("record_type")))


ORACLE_CDX_INDEX = rf"""
WITH r AS (
  SELECT doc_id, text,
         'https://'
          || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
          || source || '.Example.COM'
          || CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END
          || '/d/' || CAST(doc_id AS VARCHAR)
          || '?b=' || CAST(doc_id % 5 AS VARCHAR)
          || '&a=' || CAST(doc_id % 7 AS VARCHAR) AS url
  FROM documents),
caps AS (
  SELECT doc_id, url, CAST(capture AS INT) AS capture,
         CASE WHEN capture = 2 AND doc_id % {_CDX_CHANGED_MOD} = 0
              THEN text || ' v2' ELSE text END AS payload
  FROM r, unnest([1, 2]) AS u(capture)),
s AS (
  SELECT doc_id, capture, url, md5(payload) AS digest,
         CAST(octet_length(encode(payload)) AS BIGINT) AS n_bytes,
         regexp_replace(regexp_replace(
             lower(regexp_extract(url, '^https://([^/]+)', 1)),
             ':80$', ''), '^www\.', '') AS host,
         lower(regexp_extract(url, '^https://[^/]+([^?]*)', 1)) AS path,
         regexp_extract(url, '\?(.*)$', 1) AS q
  FROM caps),
k AS (
  SELECT doc_id, capture, url, digest, n_bytes,
         array_to_string(list_reverse(string_split(host, '.')), ',')
          || ')' || path || '?'
          || array_to_string(list_sort(string_split(q, '&')), '&')
             AS surt_key
  FROM s),
c AS (SELECT digest, COUNT(*) AS n_copies, MIN(capture) AS first_capture
      FROM k GROUP BY digest)
SELECT k.doc_id, k.capture, surt_key, url, k.digest, n_bytes,
       CASE WHEN n_copies > 1 AND k.capture <> first_capture
            THEN 'revisit' ELSE 'response' END AS record_type
FROM k JOIN c USING (digest)
"""
