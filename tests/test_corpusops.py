"""Corpus-maintenance operators (goose_spark/corpusops.py, encops NFC):
semantic assertions beyond the L3 cross-engine conformance that
tests/test_relational_probes.py already applies to every oracle-backed
probe — planted boilerplate must be dropped, sampling must hit budgets,
deltas must partition, NFC must actually compose — plus physical-plan
shape checks."""

import unicodedata

import pytest
from pyspark.sql import functions as F

from goose_spark import corpusops as C
from goose_spark import encops as E

from test_plans import _plan  # shared formatted-explain helper

SF = "/root/testdata/sf0.01"


# ------------------------------------------------------ paragraph dedup --
def test_paragraph_dedup_drops_planted_boilerplate(spark):
    out = {r["doc_id"]: r for r in
           C.q_paragraph_dedup(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .groupBy("source").count().collect()
    big_sources = {r["source"] for r in docs
                   if r["count"] >= C.DUP_PARA_MIN}
    assert big_sources, "fixture must have sources above the threshold"
    # every doc has exactly 4 synthesized paragraphs; in a source with
    # >= DUP_PARA_MIN docs the subscribe header repeats across them all
    # and must be dropped, while the two doc_id-keyed body slices are
    # unique and must always survive
    src_of = {r["doc_id"]: r["source"] for r in
              spark.read.parquet(f"{SF}/documents.parquet")
              .select("doc_id", "source").collect()}
    for doc_id, row in out.items():
        assert row["n_paras"] == 4
        assert row["n_kept"] >= 2, "body slices are unique, always kept"
        if src_of[doc_id] in big_sources:
            assert row["n_kept"] < 4, (
                f"doc {doc_id}: source-keyed boilerplate must be dropped")


def test_paragraph_dedup_counts_via_partial_agg_not_window(spark):
    plan = _plan(C.q_paragraph_dedup(spark, SF))
    # occurrence counting must be a map-side-combined hash aggregate on
    # the md5 key (partial_count), NOT a COUNT() OVER (PARTITION BY
    # hash) window — a window pins each hot boilerplate paragraph onto
    # one reducer at crawl scale
    assert "partial_count" in plan
    assert "Window" not in plan


# --------------------------------------------------------- mix sampling --
def test_mix_sample_respects_budget_semantics(spark):
    rows = C.q_mix_sample(spark, SF).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        total = sum(r["n_tokens"] for r in rs)
        kept_tokens = sum(r["n_tokens"] for r in rs if r["kept"])
        if total <= C.MIX_BUDGET_TOKENS:
            # threshold >= modulus: every doc of the language is kept
            assert kept_tokens == total, lang
        else:
            # hash sampling: kept fraction tracks budget/total (loose
            # 3x bound — the probe corpus has ~60-220 docs per lang)
            assert 0 < kept_tokens < total, lang
            assert kept_tokens < 3 * C.MIX_BUDGET_TOKENS, lang


def test_mix_sample_broadcasts_rates_no_corpus_shuffle(spark):
    plan = _plan(C.q_mix_sample(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the only shuffle allowed is the tiny per-language aggregate
    # feeding the broadcast — never a corpus-wide hash repartition of
    # the base rows. Count shuffle Exchange nodes in the TREE section
    # ("Exchange hashpartitioning" never appears as one string in
    # formatted output — the arguments sit on a separate detail line).
    tree = plan.split("\n\n")[0]
    n_shuffles = sum(1 for ln in tree.splitlines()
                     if "Exchange" in ln and "BroadcastExchange" not in ln)
    assert n_shuffles == 1, f"corpus rows must not shuffle:\n{tree}"


# ---------------------------------------------------------- crawl delta --
def test_crawl_delta_partitions_url_space(spark):
    rows = {r["doc_id"]: r["status"] for r in
            C.q_crawl_delta(spark, SF).collect()}
    ids = [r["doc_id"] for r in
           spark.read.parquet(f"{SF}/documents.parquet")
           .select("doc_id").collect()]
    for i in ids:
        in_a, in_b = i % 7 != 0, i % 5 != 0
        if not in_a and not in_b:
            assert i not in rows
        elif in_a and not in_b:
            assert rows[i] == "removed"
        elif in_b and not in_a:
            assert rows[i] == "added"
        else:
            assert rows[i] == ("changed" if i % 3 == 0 else "unchanged")


# ------------------------------------------------------------------ NFC --
def test_nfc_actually_composes():
    # the decoration classes exercised by q_unicode_nfc, asserted
    # against Python's unicodedata directly (DuckDB's independent
    # utf8proc implementation is cross-checked by the L3 oracle test)
    assert unicodedata.normalize("NFC", "e\u0301") == "\u00e9"
    assert unicodedata.normalize("NFC", "A\u030a") == "\u00c5"
    # canonical reordering: dot-below (ccc 220) must sort before acute
    # (ccc 230), then o+dot-below composes to U+1ECD
    assert unicodedata.normalize("NFC", "o\u0323\u0301") == \
        unicodedata.normalize("NFC", "o\u0301\u0323") == "\u1ecd\u0301"
    # already-NFC input passes through unchanged
    assert unicodedata.normalize("NFC", "\u00e9 x") == "\u00e9 x"


def test_nfc_probe_single_udf_pass_no_shuffle(spark):
    df = E.q_unicode_nfc(spark, SF)
    plan = _plan(df)
    assert plan.count("ArrowEvalPython (") == 1, "UDF must run once"
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "source" not in read_schema and "lang" not in read_schema
    rows = {r["doc_id"]: r for r in df.collect()}
    # composing classes shrink by one+ codepoint; the precomposed class
    # (doc_id % 4 == 2) must pass through unchanged
    for doc_id, r in rows.items():
        if doc_id % 4 == 2:
            assert not r["changed"] and r["n_cp_raw"] == r["n_cp_nfc"]
        else:
            assert r["changed"] and r["n_cp_nfc"] < r["n_cp_raw"]


# --------------------------------------------------- quality classifier --
def test_quality_classifier_pure_codegen_no_shuffle(spark):
    from goose_spark import filterops as FL

    df = FL.q_quality_classifier(spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    rows = df.collect()
    for r in rows:
        assert r["keep"] == (r["uni_sum"] + r["bi_sum"] >= 0)
        if r["n_tokens"] >= 2:
            assert r["n_bigrams"] == r["n_tokens"] - 1
        assert abs(r["uni_sum"]) <= 1000 * r["n_tokens"]
    # the planted weights must actually split the corpus (both verdicts
    # occur) or the probe carries no signal
    keeps = {r["keep"] for r in rows}
    assert keeps == {True, False}


# ------------------------------------------------------ link extraction --
def test_link_extract_edges_equal_pagerank_graph(spark):
    """The crawl loop closes: the edge set the REAL parser+resolver
    extracts from the synthesized pages is exactly the planted modular
    graph, node u linking to (u * PR_MULT[k] + PR_ADD[k]) % n for
    k <= u % 3."""
    rows = C.q_link_extract(spark, SF).collect()
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    extracted = {(r["doc_id"], int(r["dst_url"].rsplit("/", 1)[1]))
                 for r in rows}
    P, Q = C.PR_MULT, C.PR_ADD
    planted = {(u, (u * P[k] + Q[k]) % n)
               for u in range(n) for k in range(u % 3 + 1)}
    assert extracted == planted
    # href shape coverage: every resolved URL is absolute on the page's
    # own host (root-relative, ../-relative and absolute forms all
    # normalize to the same canonical shape)
    assert all(r["dst_url"].startswith("https://") and "/../" not in
               r["dst_url"] and "/d/" in r["dst_url"] for r in rows)


def test_link_extract_single_python_pass(spark):
    tree = _plan(C.q_link_extract(spark, SF)).split("\n\n")[0]
    assert tree.count("MapInPandas") == 1, "parse+resolve in ONE pass"
    # the only shuffle is the SinglePartition exchange under the 1-row
    # COUNT(*) aggregate that broadcasts N — page rows never shuffle
    assert sum(1 for ln in tree.splitlines()
               if "Exchange" in ln and "BroadcastExchange" not in ln) == 1


def test_anchor_text_aggregates_parsed_anchors(spark):
    """Anchor strings come from the DOM parse (a.get_text()), the
    inlink count ties out with q_link_extract's edge list, and the
    distinct-anchor set respects ANCHOR_SET_CAP."""
    from goose_spark.corpusops import (
        ANCHOR_SET_CAP, q_anchor_text, q_link_extract)

    SF = "/root/testdata/sf0.001"
    agg = q_anchor_text(spark, SF).collect()
    n_edges = q_link_extract(spark, SF).count()
    assert sum(r.n_inlinks for r in agg) == n_edges
    for r in agg:
        parts = r.anchors.split("|")
        assert 1 <= len(parts) <= ANCHOR_SET_CAP
        assert all(p.startswith("link ") for p in parts)
        assert parts == sorted(parts)


def test_corpus_funnel_monotone_and_anchored(spark):
    """The funnel never grows (each stage is an intersection), stage 0
    is the corpus size, and the mix-sample tail equals the standalone
    probe's kept count (composition == per-gate operators)."""
    from goose_spark.corpusops import q_mix_sample
    from goose_spark.filterops import FUNNEL_STAGES, q_corpus_funnel

    SF = "/root/testdata/sf0.001"
    rows = {r.stage: r for r in q_corpus_funnel(spark, SF).collect()}
    assert [rows[i].gate for i in range(len(FUNNEL_STAGES))] == \
        list(FUNNEL_STAGES)
    counts = [rows[i].n_kept for i in range(len(FUNNEL_STAGES))]
    assert counts[0] == 500
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] > 0
