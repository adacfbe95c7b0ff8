"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)`` is the smoke check: the flagship extraction over the
  sf0.001 test data must return rows.
- ``queries()`` maps each probe name to ``fn(spark, sf_dir) -> DataFrame``.
  The grader runs the probes at sf=0.01 and grades only the first 50, so
  the order of ``queries()`` is part of the contract.
- ``oracle_sql()`` maps a probe name to its DuckDB SQL twin. The grader
  compares row count, column names and an order-insensitive value hash
  (CORRECTNESS_r{N}.json).

All three come from one table, ``probes()``. A probe's name is its
function's ``__name__``. A probe is rows-only (no oracle, so the grader
checks only that it returns rows) when its result has no exact SQL
twin. The one such probe is the extraction UDF itself.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]
# (fn, oracle); oracle is SQL, a zero-argument renderer of SQL, or None
Probe = tuple[Query, str | Callable[[], str] | None]


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction pipeline end-to-end on pages synthesized from sf_dir's
    documents: partition by url → dedupe → anti-join-ready prep →
    size-bucketed mapInPandas extraction (SURVEY.md §3.2)."""
    from goose_spark import job as J
    from goose_spark.fixtures import ensure_pages

    pages_path, _ = ensure_pages(sf_dir)
    pages = J.read_pages(spark, pages_path)
    return J.extract(J.prepare(pages))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


def q_udf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = _flagship(spark, sf_dir)
    return out.select(
        "url", "status", "lang", "title", "publish_date", "top_image",
        "lang_fallback",
        F.length("cleaned_text").alias("text_len"),
        F.size("movies").alias("n_movies"),
        F.size("authors").alias("n_authors"),
        F.size("opengraph").alias("n_og"),
        F.size("links").alias("n_links"),
    )


def probes() -> tuple[tuple[Probe, ...], tuple[Probe, ...]]:
    """The probe registry as ``(graded, tail)``: the 50 probes that are
    graded, then the rest, each in ``queries()`` order. Built on call so
    that importing this module stays cheap."""
    from goose_spark import ann as A
    from goose_spark import components as CC
    from goose_spark import corpusops as CO
    from goose_spark import encops as EN
    from goose_spark import filterops as FL
    from goose_spark import pdfops as P
    from goose_spark import queries as Q
    from goose_spark import robotsops as RB
    from goose_spark import streaming as S
    from goose_spark import structops as ST
    from goose_spark import textops as T
    from goose_spark import warcops as W

    graded = (
        (CC.q_dedup_groups, CC.ORACLE_DEDUP_GROUPS),
        (S.q_stream_window_append, S.ORACLE_STREAM_WINDOW_APPEND),
        # the ANN oracles take the query vector from sf0.01, read via
        # pyarrow, so they render without a live session
        (A.q_ann_cosine_topk, A.oracle_ann_cosine_topk),
        (A.q_ann_lsh_probe, A.oracle_ann_lsh_probe),
        (A.q_embed_neardup, A.ORACLE_EMBED_NEARDUP),
        (A.q_ann_ivf_probe, A.oracle_ann_ivf_probe),
        # streaming must not change a byte of the batch extraction
        (S.q_stream_extract, W.ORACLE_WARC_EXTRACT),
        (S.q_stream_dedup, S.ORACLE_STREAM_DEDUP),
        (FL.q_corpus_funnel, FL.ORACLE_CORPUS_FUNNEL),
        (FL.q_repetition_filter, FL.ORACLE_REPETITION_FILTER),
        (FL.q_quality_classifier, FL.ORACLE_QUALITY_CLASSIFIER),
        (FL.q_domain_cap_kept, FL.ORACLE_DOMAIN_CAP_KEPT),
        (FL.q_decontaminate, FL.ORACLE_DECONTAMINATE),
        (T.q_substring_dedup, T.ORACLE_SUBSTRING_DEDUP),
        (T.q_substring_clean, T.ORACLE_SUBSTRING_CLEAN),
        (T.q_bloom_dedup, T.ORACLE_BLOOM_DEDUP),
        (CO.q_anchor_text, CO.ORACLE_ANCHOR_TEXT),
        (T.q_minhash_pairs, T.ORACLE_MINHASH_PAIRS),
        (T.q_simhash, T.ORACLE_SIMHASH),
        (T.q_simhash_pairs, T.ORACLE_SIMHASH_PAIRS),
        # rendered from the same stopword tables as the kernel
        (T.q_lang_id, T.oracle_lang_id),
        (ST.q_jsonld_extract, ST.ORACLE_JSONLD_EXTRACT),
        (ST.q_table_extract, ST.ORACLE_TABLE_EXTRACT),
        (T.q_tfidf_top_terms, T.ORACLE_TFIDF_TOP_TERMS),
        (T.q_length_quantiles, T.ORACLE_LENGTH_QUANTILES),
        (CO.q_paragraph_dedup, CO.ORACLE_PARAGRAPH_DEDUP),
        (CO.q_crawl_delta, CO.ORACLE_CRAWL_DELTA),
        (CO.q_link_extract, CO.ORACLE_LINK_EXTRACT),
        (CO.q_host_stats, CO.ORACLE_HOST_STATS),
        (EN.q_unicode_nfc, EN.ORACLE_UNICODE_NFC),
        (P.q_pdf_extract, P.ORACLE_PDF_EXTRACT),
        (W.q_warc_extract, W.ORACLE_WARC_EXTRACT),
        (W.q_warc_salvage, W.ORACLE_WARC_SALVAGE),
        (RB.q_robots_gate, RB.ORACLE_ROBOTS_GATE),
        (RB.q_sitemap_parse, RB.ORACLE_SITEMAP_PARSE),
        (RB.q_crawl_funnel, RB.ORACLE_CRAWL_FUNNEL),
        (RB.q_crawl_schedule, RB.ORACLE_CRAWL_SCHEDULE),
        (ST.q_markdown_export, ST.ORACLE_MARKDOWN_EXPORT),
        (A.q_semdedup, A.ORACLE_SEMDEDUP),
        (T.q_minhash_est_vs_exact, T.ORACLE_MINHASH_EST_VS_EXACT),
        (W.q_http_headers, W.ORACLE_HTTP_HEADERS),
        (EN.q_mojibake_repair, EN.ORACLE_MOJIBAKE_REPAIR),
        (FL.q_soft404, FL.ORACLE_SOFT404),
        (W.q_wat_export, W.ORACLE_WAT_EXPORT),
        (CO.q_cdx_index, CO.ORACLE_CDX_INDEX),
        (CO.q_mix_sample, CO.ORACLE_MIX_SAMPLE),
        (FL.q_ccnet_buckets, FL.ORACLE_CCNET_BUCKETS),
        (FL.q_unigram_lm_score, FL.ORACLE_UNIGRAM_LM_SCORE),
        (RB.q_feed_parse, RB.ORACLE_FEED_PARSE),
        (Q.q_equi_join_3way, Q.ORACLE_EQUI_JOIN_3WAY),
    )
    tail = (
        (S.q_stream_sessions, S.ORACLE_STREAM_SESSIONS),
        (S.q_stateful_running_max, S.ORACLE_STATEFUL_RUNNING_MAX),
        (Q.q_grouped_agg, Q.ORACLE_GROUPED_AGG),
        (T.q_dedup_exact, T.ORACLE_DEDUP_EXACT),
        (T.q_chunk_windows, T.ORACLE_CHUNK_WINDOWS),
        (T.q_pack_sequences, T.ORACLE_PACK_SEQUENCES),
        (W.q_warc_roundtrip, W.ORACLE_WARC_ROUNDTRIP),
        (W.q_wet_export, W.ORACLE_WET_EXPORT),
        (EN.q_charset_decode, EN.ORACLE_CHARSET_DECODE),
        (T.q_gopher_rules, T.ORACLE_GOPHER_RULES),
        (FL.q_pii_redact, FL.ORACLE_PII_REDACT),
        (Q.q_anti_join, Q.ORACLE_ANTI_JOIN),
        (Q.q_hash_agg, Q.ORACLE_HASH_AGG),
        (Q.q_window_dedupe, Q.ORACLE_WINDOW_DEDUPE),
        # rows-only: the full chain is hash-gated by q_warc_extract
        (q_udf_extract, None),
        (Q.q_topk, Q.ORACLE_TOPK),
        (T.q_token_count, T.ORACLE_TOKEN_COUNT),
        (T.q_fingerprint, T.ORACLE_FINGERPRINT),
        (T.q_url_normalize, T.ORACLE_URL_NORMALIZE),
        (T.q_quality_score, T.ORACLE_QUALITY_SCORE),
        (T.q_ngram_jaccard, T.ORACLE_NGRAM_JACCARD),
    )
    return graded, tail


def queries() -> dict[str, Query]:
    """Every registered probe by name, the graded 50 first."""
    graded, tail = probes()
    return {fn.__name__: fn for fn, _ in graded + tail}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins (same column aliases as the Spark
    plans), keyed by probe name."""
    import sys
    import traceback

    graded, tail = probes()
    oracles: dict[str, str] = {}
    for fn, oracle in graded + tail:
        if callable(oracle):
            # A failed render degrades only this probe to rows-only, and
            # says so: a silent drop would shrink the oracle gate unseen.
            try:
                oracle = oracle()
            except Exception as e:
                print(f"WARNING __spark_entry__: {fn.__name__} oracle "
                      f"degraded to rows-only: {e!r}", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                continue
        if oracle is not None:
            oracles[fn.__name__] = oracle
    return oracles
