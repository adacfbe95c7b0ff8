"""The extraction operator: gooselite wrapped in one mapInPandas UDF.

SURVEY.md §2.5 / B17 — the entire Goose pipeline (A2–A16) is ONE scalar
operator from Spark's viewpoint: one Python invocation per Arrow batch
(BASELINE.json:6 "batch-parses html bytes ... inside a single pandas UDF,
no per-row Python dispatch"). Stopword tables and regexes are loaded at
module import — once per executor Python worker, not per batch.
"""

from __future__ import annotations

import signal
from typing import Iterator

import pandas as pd

from goose_spark.schema import EXTRACTED
from gooselite.pipeline import ExtractionTimeout, extract_one, timeout_result

# Per-document wall-clock budget (SURVEY.md §4.2): an adversarial or
# pathological page must produce a status='timeout' row, not a pinned
# task. 0 disables. SIGALRM-based — works in the Spark python worker's
# main thread; silently disabled where signals are unavailable.
DOC_TIMEOUT_S = 300.0

_OUT_COLS = EXTRACTED.fieldNames()


def make_extract_batches(doc_timeout_s: float | None = None):
    """Build the mapInPandas body with the per-doc budget resolved here,
    once (None → DOC_TIMEOUT_S). The budget is captured in the
    closure so it serializes to the workers (a module global patched on
    the driver never reaches them)."""
    budget = DOC_TIMEOUT_S if doc_timeout_s is None else doc_timeout_s

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return extract_batches(it, budget)

    return _batches


def extract_batches(it: Iterator[pd.DataFrame], budget_s: float
                    ) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (url, warc_ts, html, lang, bucket) → EXTRACTED.

    Every row runs ``extract_one(html, lang, url)``: the lang column is
    the only language override, and the markdown column stays null
    (``extract_one(markdown=True)`` is the local-call surface).

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

    # One SIGALRM handler per task. It raises only while ``armed``: a
    # document's alarm that lands after extract_one returned (or while
    # the generator is suspended between batches) is a no-op.
    armed = False

    def _on_alarm(signum, frame):
        nonlocal armed
        if armed:
            armed = False
            raise ExtractionTimeout()

    timed = budget_s > 0
    if timed:
        try:
            prev_handler = signal.signal(signal.SIGALRM, _on_alarm)
        except (ValueError, OSError, AttributeError):
            timed = False  # not the main thread, or no SIGALRM here

    # Cyclic-GC policy: extract_one dispose()s each DOM, detached
    # subtrees and the cleaner's new nodes included, so refcounting
    # reclaims it; threshold-triggered collections during the
    # million-allocation parse phase would re-walk every live container
    # (~30% slowdown, worse under 32 concurrent workers). Disable the
    # collector and run one collect per batch for what dispose cannot
    # reach: a tree abandoned mid-parse by a timeout, and other cycles.
    # Spark reuses Python workers across tasks (spark.python.worker.reuse),
    # so the prior GC state and SIGALRM handler MUST be restored on exit —
    # including exceptional exit — or they leak into every later task.
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for pdf in it:
            rows = []
            for url, warc_ts, html, lang, bucket in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"], pdf["bucket"]
            ):
                if timed:
                    try:
                        armed = True
                        signal.setitimer(signal.ITIMER_REAL, budget_s)
                        r = extract_one(html, lang, url)
                        armed = False
                    except ExtractionTimeout:
                        r = timeout_result(html, lang, url, budget_s)
                    signal.setitimer(signal.ITIMER_REAL, 0.0)
                else:
                    r = extract_one(html, lang, url)
                r["warc_ts"] = warc_ts
                r["partition_id"] = pid
                r["bucket"] = int(bucket) if pd.notna(bucket) else 0
                rows.append(r)
            out = pd.DataFrame(rows, columns=_OUT_COLS)
            gc.collect()
            yield out
    finally:
        if timed:
            armed = False
            signal.setitimer(signal.ITIMER_REAL, 0.0)
            signal.signal(signal.SIGALRM, prev_handler)
        if gc_was_enabled:
            gc.enable()
