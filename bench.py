#!/usr/bin/env python
"""The ``headline_suite_sec`` line: the flagship extraction plus the tail
operators below at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data)
on local[$SPARK_GRAFT_CPUS] (default: every CPU),
printed as ONE JSON line. Fixture synthesis (cached in /tmp) is not
timed. Each number is a plain min of N wall times with no host-noise
correction; perfbench/run.py is the calibrated, layer-split benchmark.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Timed after q_extract, min of 2 passes each; the sum of all these plus
# q_extract is the headline.
_TAIL_QUERIES = (
    "q_hash_agg", "q_window_dedupe", "q_equi_join_3way", "q_topk",
    "q_dedup_exact", "q_token_count", "q_fingerprint",
    "q_minhash_pairs", "q_simhash", "q_ann_cosine_topk",
    "q_pdf_extract", "q_repetition_filter", "q_paragraph_dedup",
    "q_substring_dedup",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or 0)

    from pyspark.sql import functions as F

    from goose_spark import job as J
    from goose_spark.fixtures import ensure_pages

    pages_path, _ = ensure_pages(sf_dir)  # cached; generation NOT timed

    spark = J.local_session(cpus)

    # --- flagship: url partitioning → dedupe → mapInPandas extraction ---
    todo = J.prepare(J.read_pages(spark, pages_path))
    # untimed warm-up: JVM stages, python workers, stopword tables
    J.extract(todo.limit(64)).agg(F.count(F.lit(1))).collect()

    runs: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        row = J.extract(todo).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("bytes_in").alias("bytes_in"),
        ).collect()[0]
        runs.append(time.perf_counter() - t0)
    timings = {"q_extract": min(runs)}
    mb_in = (row["bytes_in"] or 0) / 1e6

    # --- tail: the first pass doubles as each query's warm-up ---
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in _TAIL_QUERIES:
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            walls.append(time.perf_counter() - t0)
        timings[name] = min(walls)

    print(json.dumps({
        "metric": "headline_suite_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "cpus": cpus,
        "q_extract_runs": [round(t, 3) for t in runs],
        "docs_extracted": int(row["docs"]),
        "mb_in": round(mb_in, 1),
        "docs_per_sec": round(row["docs"] / timings["q_extract"], 2),
        "mb_per_sec": round(mb_in / timings["q_extract"], 2),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
