#!/usr/bin/env python
"""Throughput scaling of the extraction job from N to 4N cores, on the
machine it runs on.

    python scripts/scaling.py

4N is the number of CPUs this process may use and N is 4N // 4, so a
4-CPU machine measures local[1] against local[4]. The input is the sf0.1
fixture pages (``goose_spark.fixtures.ensure_pages``), as written: one
row group, duplicates included.

Each of 3 repetitions runs, back to back, so that each pair shares the
host's state:

* the job at N and at 4N: a fresh interpreter and JVM per level, one
  untimed ``run_job_df`` over 64 pages, then one timed ``run_job_df``
  over all of them, each into its own temporary directory;
* the ceiling at N and at 4N: ``gooselite.extract_one`` over every page
  in a fork pool of that many processes on md5(url)-striped shards, with
  no Spark and no coordination between the workers.

The ceiling's N→4N speedup is what this host gives the workload itself
(memory bandwidth, frequency, other tenants), so the job's speedup over
it is what the job's own plan loses: the serial scan, the shuffles, skew
and the Python worker hand-off. A job level whose ``batch_rows`` is not
the input's distinct url count fails the run. Prints one JSON line on
stdout and writes nothing outside the temporary directories.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

SCRIPTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(SCRIPTS)
sys.path.insert(0, REPO)

import pyarrow.parquet as pq  # noqa: E402

from goose_spark.ducklab import SF_DIR_DEFAULT  # noqa: E402
from goose_spark.fixtures import ensure_pages  # noqa: E402
from gooselite.pipeline import extract_one  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(SF_DIR_DEFAULT), "sf0.1")
REPETITIONS = 3

_PAGES: dict[str, list] = {}  # the ceiling's columns, shared by fork


def input_record(pages: str) -> dict:
    """Rows, distinct urls, and the row groups' count and uncompressed size."""
    meta = pq.ParquetFile(pages).metadata
    groups = [meta.row_group(i).total_byte_size for i in range(meta.num_row_groups)]
    urls = pq.read_table(pages, columns=["url"]).column("url").to_pylist()
    return {"pages": pages, "rows": meta.num_rows, "urls": len(set(urls)),
            "row_groups": len(groups), "mib": round(sum(groups) / 2**20, 1)}


def job_level(cpus: int, pages: str) -> dict:
    """The timed job at local[cpus], in this interpreter."""
    from goose_spark import job as J

    spark = J.local_session(cpus)
    with tempfile.TemporaryDirectory() as warm, \
            tempfile.TemporaryDirectory() as out:
        J.run_job_df(spark, J.read_pages(spark, pages).limit(64), warm, "warm")
        t0 = time.perf_counter()
        done = J.run_job_df(spark, J.read_pages(spark, pages), out, "scaling")
        sec = time.perf_counter() - t0
    spark.stop()
    return {"sec": round(sec, 2), "batch_rows": done["batch_rows"]}


def _extract_shard(shard: list[int]) -> int:
    for i in shard:
        extract_one(_PAGES["html"][i], _PAGES["lang"][i], _PAGES["url"][i])
    return len(shard)


def ceiling_level(cpus: int, pages: str) -> dict:
    """extract_one over every page in a fork pool of ``cpus`` processes."""
    import multiprocessing as mp

    _PAGES.update(pq.read_table(pages, columns=["url", "html", "lang"])
                  .to_pydict())
    urls = _PAGES["url"]
    # the pool's twin of the url partitioning and in-partition hash sort:
    # order by md5(url), round-robin, so shard sizes do not follow the file
    order = sorted(range(len(urls)),
                   key=lambda i: hashlib.md5(urls[i].encode()).digest())
    t0 = time.perf_counter()
    with mp.get_context("fork").Pool(cpus) as pool:
        docs = sum(pool.map(_extract_shard, [order[k::cpus] for k in range(cpus)]))
    return {"sec": round(time.perf_counter() - t0, 2), "docs": docs}


def run_level(kind: str, cpus: int, pages: str) -> dict:
    """One level (``job`` or ``ceiling``) in a fresh interpreter."""
    code = (f"import json, sys; sys.path.insert(0, {SCRIPTS!r})\n"
            f"import scaling; print('RESULT', json.dumps("
            f"scaling.{kind}_level({cpus}, {pages!r})))")
    # the Python workers find the packages through the driver's directory
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                          capture_output=True, text=True, timeout=3600)
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"{kind}[{cpus}] failed:\n{proc.stderr[-3000:]}")


def main() -> None:
    wide = len(os.sched_getaffinity(0))
    if wide < 4:
        sys.exit(f"scaling: needs at least 4 usable CPUs, has {wide}")
    lo, hi = levels = (wide // 4, wide)
    pages, _ = ensure_pages(SF_DIR)
    record = input_record(pages)
    samples: dict[str, dict[int, list[float]]] = {
        "job": {n: [] for n in levels}, "ceiling": {n: [] for n in levels}}
    for rep in range(REPETITIONS):
        for kind in ("job", "ceiling"):
            for n in levels:
                res = run_level(kind, n, pages)
                if kind == "job" and res["batch_rows"] != record["urls"]:
                    sys.exit(f"scaling: job[{n}] wrote {res['batch_rows']} "
                             f"rows for {record['urls']} urls")
                samples[kind][n].append(res["sec"])
                print(f"# rep {rep + 1} {kind}[{n}] {res['sec']} s", file=sys.stderr)
    job, ceil = samples["job"], samples["ceiling"]
    median = {kind: {n: statistics.median(v) for n, v in s.items()}
              for kind, s in samples.items()}
    vs_ceiling = [round((job[lo][r] / job[hi][r]) / (ceil[lo][r] / ceil[hi][r]), 3)
                  for r in range(REPETITIONS)]
    print(json.dumps({
        "levels": levels, "input": record, "samples_s": samples,
        "median_s": median,
        "raw_efficiency": round(median["job"][lo] / median["job"][hi] / 4, 3),
        "vs_ceiling": vs_ceiling,
        "vs_ceiling_median": statistics.median(vs_ceiling)}))


if __name__ == "__main__":
    main()
