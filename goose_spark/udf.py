"""The extraction operator: gooselite wrapped in one mapInPandas UDF.

SURVEY.md §2.5 / B17 — the entire Goose pipeline (A2–A16) is ONE scalar
operator from Spark's viewpoint: one Python invocation per Arrow batch
(BASELINE.json:6 "batch-parses html bytes ... inside a single pandas UDF,
no per-row Python dispatch"). Stopword tables and regexes are loaded at
module import — once per executor Python worker, not per batch.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd

from gooselite.config import DEFAULT_CONFIG, ExtractionConfig
from gooselite.pipeline import ExtractionTimeout, extract_one, timeout_result

# Per-document wall-clock budget (SURVEY.md §4.2): an adversarial or
# pathological page must produce a status='timeout' row, not a pinned
# task. 0 disables. SIGALRM-based — works in the Spark python worker's
# main thread; silently disabled where signals are unavailable.
DOC_TIMEOUT_S = float(os.environ.get("GOOSE_DOC_TIMEOUT_S", "300"))


def _extract_with_timeout(html, lang, url, budget_s: float,
                          config: ExtractionConfig = DEFAULT_CONFIG):
    if budget_s <= 0:
        return extract_one(html, lang, url, config)
    import signal

    def _on_alarm(signum, frame):
        raise ExtractionTimeout()

    try:
        prev = signal.signal(signal.SIGALRM, _on_alarm)
    except (ValueError, OSError, AttributeError):
        return extract_one(html, lang, url, config)  # not main thread / platform
    try:
        signal.setitimer(signal.ITIMER_REAL, budget_s)
        result = extract_one(html, lang, url, config)
        # Disarm INSIDE the guarded region: if the alarm lands in the gap
        # between extract_one returning and the timer being cleared, the
        # ExtractionTimeout is still caught below instead of escaping the
        # function and failing the whole Spark task. (A further window of
        # 1-2 bytecodes remains at the top of the finally; extract_batches
        # catches ExtractionTimeout at the call site to close it.)
        signal.setitimer(signal.ITIMER_REAL, 0.0)
        return result
    except ExtractionTimeout:
        return timeout_result(html, lang, url, budget_s, config)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0.0)
        signal.signal(signal.SIGALRM, prev)

# column order must match goose_spark.schema.EXTRACTED
_OUT_COLS = [
    "url", "warc_ts", "lang", "title", "cleaned_text", "meta_description",
    "meta_keywords", "meta_lang", "canonical_link", "domain", "tags",
    "movies", "publish_date", "top_image", "authors", "opengraph", "links",
    "markdown", "lang_fallback",
    "status", "err", "bytes_in", "parse_ms", "partition_id", "bucket",
]


def make_extract_batches(doc_timeout_s: float | None = None, config=None):
    """Build the mapInPandas body with the per-doc budget resolved here,
    once (None → GOOSE_DOC_TIMEOUT_S) and an optional ExtractionConfig
    (A21). Both are captured in the closure so they serialize to the
    workers (a module global patched on the driver never reaches them)."""
    budget = DOC_TIMEOUT_S if doc_timeout_s is None else doc_timeout_s
    config = DEFAULT_CONFIG if config is None else config

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return extract_batches(it, budget, config)

    return _batches


def extract_batches(it: Iterator[pd.DataFrame], budget_s: float,
                    config: ExtractionConfig = DEFAULT_CONFIG
                    ) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (url, warc_ts, html, lang, bucket) → EXTRACTED.

    Input batches are Arrow record batches sized by
    ``spark.sql.execution.arrow.maxBytesPerBatch`` /
    ``maxRecordsPerBatch`` (size-bucketed batching, SURVEY.md B16) so one
    batch never mixes 1 KB and 100 MB documents into an oversized
    allocation. partition_id comes from TaskContext for the per-partition
    lineage metrics (BASELINE.json:6). budget_s is the per-doc budget
    (0 disables).
    """
    import gc

    from pyspark import TaskContext  # import inside worker

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1

    # Cyclic-GC policy: extract_one dispose()s each DOM so refcounting
    # reclaims the bulk; threshold-triggered collections during the
    # million-allocation parse phase would re-walk every live container
    # (~30% slowdown, worse under 32 concurrent workers). Disable the
    # collector and run one collect per batch for detached-subtree scraps.
    # Spark reuses Python workers across tasks (spark.python.worker.reuse),
    # so the prior state MUST be restored on exit — including exceptional
    # exit — or the collector stays off for every later task in the app.
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for pdf in it:
            rows = []
            for url, warc_ts, html, lang, bucket in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"], pdf["bucket"]
            ):
                try:
                    r = _extract_with_timeout(html, lang, url, budget_s, config)
                except ExtractionTimeout:
                    # alarm delivered in _extract_with_timeout's 1-2
                    # bytecode disarm window — doc finished at the budget
                    # boundary; record it as a timeout row, not a task kill
                    r = timeout_result(html, lang, url, budget_s, config)
                r["warc_ts"] = warc_ts
                r["partition_id"] = pid
                r["bucket"] = int(bucket) if pd.notna(bucket) else 0
                rows.append(r)
            out = pd.DataFrame(rows, columns=_OUT_COLS)
            gc.collect()
            yield out
    finally:
        if gc_was_enabled:
            gc.enable()
