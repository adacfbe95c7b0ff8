"""L2 tests (SURVEY.md §5.2): Spark mapInPandas output ≡ local
gooselite.extract_one oracle, byte-identical, under multiple partitionings
and Arrow batch sizes; plus the job-level resume contract."""

import datetime
import os
import pathlib
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from goose_spark import job as J


@pytest.fixture(scope="module")
def extracted_and_expected(spark, sf0001_fixtures):
    pages_path, expected_path = sf0001_fixtures
    pages = J.read_pages(spark, pages_path)
    out = J.extract(J.prepare(pages, partitions=8)).toPandas()
    exp = pq.read_table(expected_path).to_pandas()
    return out, exp


def test_spark_matches_goldens_byte_identical(extracted_and_expected):
    out, exp = extracted_and_expected
    assert len(out) == len(exp)
    merged = out.merge(exp, on="url", how="inner", validate="1:1")
    assert len(merged) == len(exp)
    text_eq = merged.cleaned_text == merged.expected_text
    assert text_eq.all(), merged.loc[~text_eq, "url"].head().tolist()
    # explicit byte-level check (utf-8), not just str equality
    for _, r in merged.head(50).iterrows():
        assert r.cleaned_text.encode("utf-8") == r.expected_text.encode("utf-8")
    assert (merged.status == merged.expected_status).all()
    ok = merged[merged.expected_status == "ok"]
    assert (ok.title == ok.expected_title).all()
    # effective lang matches the golden's effective lang
    assert (merged.lang_x == merged.lang_y).all()
    # A19 publish date: equal where expected, None where absent
    pd_eq = merged.publish_date.fillna("∅") == merged.expected_publish_date.fillna("∅")
    assert pd_eq.all(), merged.loc[~pd_eq, "url"].head().tolist()
    # A18 movies (arrays → compare as lists)
    mv_eq = merged.apply(lambda r: list(r.movies) == list(r.expected_movies), axis=1)
    assert mv_eq.all(), merged.loc[~mv_eq, "url"].head().tolist()
    # A17-lite top_image: og:image/twitter:image resolved against the url
    ti_eq = merged.top_image.fillna("∅") == merged.expected_top_image.fillna("∅")
    assert ti_eq.all(), merged.loc[~ti_eq, "url"].head().tolist()
    assert merged.top_image.notna().sum() > 0  # image pages exist
    # A4-ext authors: byline metas extracted where planted, [] elsewhere
    au_eq = merged.apply(
        lambda r: list(r.authors) == list(r.expected_authors), axis=1)
    assert au_eq.all(), merged.loc[~au_eq, "url"].head().tolist()
    assert merged.authors.map(len).sum() > 0  # byline pages exist
    # fixtures span every shipped stopword table (≥12 languages)
    assert merged.lang_x.nunique() >= 12


def test_status_and_metrics_reconcile(spark, extracted_and_expected):
    out, exp = extracted_and_expected
    sdf = spark.createDataFrame(out[["partition_id", "bucket", "lang", "status",
                                     "bytes_in", "parse_ms", "lang_fallback"]])
    m = J.metrics_from_extracted(sdf, "t").toPandas()
    assert m.docs_in.sum() == len(out)
    assert (m.ok + m.parse_failures + m.empty_extractions + m.decode_errors
            + m.timeouts).sum() == len(out)
    assert m.bytes_processed.sum() == out.bytes_in.sum()
    # A5 lang_fallback metric reconciles with the per-row flag
    assert m.lang_fallbacks.sum() == int(out.lang_fallback.sum())
    assert m.lang_fallbacks.sum() > 0  # zh/null-lang fixture rows exist


def test_partitioning_invariance(spark, sf0001_fixtures, extracted_and_expected):
    """B15: result identical under different url partition counts."""
    pages_path, _ = sf0001_fixtures
    base, _ = extracted_and_expected
    pages = J.read_pages(spark, pages_path)
    alt = J.extract(J.prepare(pages, partitions=3)).toPandas()
    b = base.sort_values("url")[["url", "cleaned_text", "status", "title"]].reset_index(drop=True)
    a = alt.sort_values("url")[["url", "cleaned_text", "status", "title"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_arrow_batch_size_invariance(spark, sf0001_fixtures, extracted_and_expected):
    """B16: result identical under a tiny Arrow batch cap."""
    pages_path, _ = sf0001_fixtures
    base, _ = extracted_and_expected
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        pages = J.read_pages(spark, pages_path)
        alt = J.extract(J.prepare(pages, partitions=8)).toPandas()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    b = base.sort_values("url")[["url", "cleaned_text", "status"]].reset_index(drop=True)
    a = alt.sort_values("url")[["url", "cleaned_text", "status"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_dedupe_keeps_latest(spark, sf0001_fixtures):
    pages_path, _ = sf0001_fixtures
    pages = J.read_pages(spark, pages_path)
    raw = pages.count()
    deduped = J.dedupe_latest(pages)
    n = deduped.count()
    assert n < raw  # fixture contains ~5% dup rows
    assert deduped.groupBy("url").count().filter("count > 1").count() == 0
    # each kept row carries its url's latest warc_ts
    latest = pages.groupBy("url").agg(F.max("warc_ts").alias("latest"))
    kept = deduped.join(latest, "url")
    assert kept.count() == n
    stale = ~F.col("warc_ts").eqNullSafe(F.col("latest"))
    assert kept.filter(stale).count() == 0


def test_dedupe_tie_break_ignores_input_order(spark):
    """Rows that tie on (url, warc_ts), a null warc_ts included, keep the
    same row in either input order, so a resumed re-run extracts the page
    the first run did."""
    ts = datetime.datetime(2025, 1, 1)
    rows = [("https://t/a", ts, bytearray(b"<p>one</p>"), "en"),
            ("https://t/a", ts, bytearray(b"<p>two</p>"), "en"),
            ("https://t/b", None, bytearray(b"<p>three</p>"), "en"),
            ("https://t/b", None, bytearray(b"<p>four</p>"), "en"),
            ("https://t/c", ts, bytearray(b"<p>same</p>"), "en"),
            ("https://t/c", ts, bytearray(b"<p>same</p>"), "fr")]

    def kept(op, rows):
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, lang string")
        return sorted((r.url, bytes(r.html), r.lang)
                      for r in op(df.coalesce(1)).collect())

    for op in (J.dedupe_latest, lambda df: J.prepare(df, partitions=4)):
        assert kept(op, rows) == kept(op, rows[::-1])


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
def test_resume_job_kill_and_rerun(spark, sf0001_fixtures, tmp_path_factory,
                                   as_uri):
    """B21/§5.4: run on half the corpus, then full corpus with same run-id —
    second run must extract only the missing urls; final result equals a
    single-shot run (exceptAll both ways empty, B13). The output dir is a
    plain path or a file:// URI: resume must not depend on local OS calls."""
    pages_path, _ = sf0001_fixtures
    out_dir = str(tmp_path_factory.mktemp("resume"))
    pages = J.read_pages(spark, pages_path)
    half = pages.filter(F.xxhash64("url") % 2 == 0)
    half_path = os.path.join(out_dir, "pages_half")
    half.write.parquet(half_path)
    dst = pathlib.Path(out_dir).as_uri() if as_uri else out_dir

    r1 = J.run_job(spark, half_path, dst, run_id="r", partitions=4)
    r2 = J.run_job(spark, pages_path, dst, run_id="r", partitions=4)
    # batch_rows is per-run: the resume run extracts ONLY the missing urls
    n_total = J.prepare(pages).count()
    assert r1["batch_rows"] + r2["batch_rows"] == n_total
    assert 0 < r2["batch_rows"] < n_total

    # per-run lineage contract: each run's METRICS rows count only that
    # run's documents — a resumed run must NOT re-count prior history
    m = spark.read.parquet(r2["metrics_path"])
    import pyspark.sql.functions as SF
    per_run = {r["run_id"]: r["docs"] for r in
               m.groupBy("run_id").agg(SF.sum("docs_in").alias("docs")).collect()}
    assert per_run == {"r": n_total}  # both batches, no double count
    # checkpoint accumulated by APPEND: every url exactly once for run r
    # (a row count, not a distinct-url count: the fixture has duplicate
    # urls, so this pins one checkpoint row per url)
    ck = spark.read.parquet(r2["checkpoint_path"])
    assert ck.filter("run_id = 'r'").count() == n_total

    resumed = spark.read.parquet(r2["extracted_path"]).select("url", "cleaned_text", "status")
    single_dir = str(tmp_path_factory.mktemp("single"))
    J.run_job(spark, pages_path, single_dir, run_id="s", partitions=4)
    single = spark.read.parquet(os.path.join(single_dir, "extracted")).select(
        "url", "cleaned_text", "status")
    assert resumed.exceptAll(single).count() == 0
    assert single.exceptAll(resumed).count() == 0
    shutil.rmtree(out_dir, ignore_errors=True)


def test_resume_skips_completed_urls_without_forced_broadcast(
        spark, sf0001_fixtures, tmp_path, monkeypatch):
    """A checkpoint past the size cap drops the forced broadcast (with a
    warning) but resume still skips every completed url."""
    pages_path, _ = sf0001_fixtures
    monkeypatch.setattr(J, "CHECKPOINT_BROADCAST_MAX_BYTES", 0)
    r1 = J.run_job(spark, pages_path, str(tmp_path), run_id="r", partitions=4)
    assert r1["batch_rows"] > 0
    with pytest.warns(UserWarning, match="skipping the forced broadcast"):
        r2 = J.run_job(spark, pages_path, str(tmp_path), run_id="r",
                       partitions=4)
    assert r2["batch_rows"] == 0
    extracted = spark.read.parquet(r2["extracted_path"])
    assert extracted.count() == r1["batch_rows"]


def test_per_doc_timeout_yields_timeout_row(spark):
    """A document exceeding the per-doc budget becomes a status='timeout'
    row instead of a pinned task (SURVEY.md §4.2). The budget rides the
    UDF closure, so it reaches the worker processes."""
    html = (b"<html><body><div>"
            + b"<p>Some of the words that we know are stopwords here.</p>" * 500
            + b"</div></body></html>")
    pages = spark.createDataFrame(
        [("https://slow.example/a", None, bytearray(html), "en")],
        schema="url string, warc_ts timestamp, html binary, lang string")
    rows = J.extract(pages, doc_timeout_s=1e-4).collect()
    assert len(rows) == 1
    assert rows[0].status == "timeout"
    assert rows[0].cleaned_text == ""
    assert "budget" in rows[0].err
    # and with the default budget the same page extracts fine
    ok = J.extract(pages).collect()
    assert ok[0].status == "ok"
