"""The extraction job: scan → resume anti-join → partition by url →
dedupe → extract → write → metrics → checkpoint (SURVEY.md §3.2).

Scale design (the part that must hold at 10^12 documents / 1000 executors):

* **Column pruning first.** The ``html`` column dominates bytes; every
  plan selects only (url, warc_ts, html, lang) before the UDF and lets
  Catalyst push the projection into the Parquet/Iceberg scan — never
  ``select('*')`` (SURVEY.md §4.2).
* **Completed urls leave at the scan (B4).** Resume broadcasts the
  run's url history and anti-joins it into the scan, so the url shuffle,
  the dedupe window and the UDF see only the urls still to do. Past
  ``CHECKPOINT_BROADCAST_MAX_BYTES`` on storage (~57M urls) the forced
  broadcast is skipped and the anti-join runs after the url shuffle as a
  sort-merge join that reuses its partitioning; that is the job's limit.
* **One url partitioning, before the dedupe (B11, B15).** The scan is
  hash-partitioned by url once, at the UDF width (P = cores). The dedupe
  window's clustering by url is then met without a second exchange, and
  the UDF runs on those same P partitions: the fat html column shuffles
  once (plan-asserted in tests/test_plans.py).
* **Size-bucketed Arrow batches (B16).** Spark 4.1 supports
  ``spark.sql.execution.arrow.maxBytesPerBatch`` — one giant document
  rides in its own small batch while 2 KB pages batch by the hundreds;
  plus a ``bucket = floor(log2(bytes))`` column for metrics/skew triage.
* **Exactly-once-ish resume (B21).** EXTRACTED is written before the
  checkpoint append; on restart the anti-join plus write-side idempotence
  make replays safe.
* **Any Hadoop filesystem.** The output dir may be a local path or a URI
  (``file://``, ``hdfs://``, ``s3a://``): the job reads its own batch back
  through Spark's reader and asks Hadoop's ``FileSystem`` about the
  checkpoint, with no driver-local file calls.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goose_spark.schema import EXTRACTED, METRICS
from goose_spark.udf import make_extract_batches
from gooselite.pipeline import (STATUS_DECODE_ERROR, STATUS_EMPTY, STATUS_OK,
                                STATUS_PARSE_ERROR, STATUS_TIMEOUT)

# Arrow batch caps (B16): ≤64 MB or ≤256 rows per batch, whichever first.
# The row cap also bounds the Parquet reader's batches: at Spark's default
# 4096 rows, one batch of a single-row-group pages file holds most of its
# html column on heap (an sf0.1 scan dies with OutOfMemoryError at 2 GB).
ARROW_MAX_BYTES = str(64 * 1024 * 1024)
ARROW_MAX_RECORDS = "256"

# Checkpoint bytes on storage past which resume stops forcing a broadcast
# of the url history (run_job_df's size guard).
CHECKPOINT_BROADCAST_MAX_BYTES = 512 * 1024 * 1024

# glibc malloc knobs for the python workers: without these, every
# multi-MB string copy during giant-doc extraction is served by
# mmap/munmap, and 32 concurrent workers serialize on the kernel's mmap
# lock (measured +21% throughput at 32 workers from this alone). Export
# before the JVM starts (local mode: workers inherit the driver env); on
# a cluster pass as spark.executorEnv.MALLOC_MMAP_THRESHOLD_ etc.
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(256 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
}


def apply_malloc_env() -> None:
    """Set the worker malloc knobs in this process's env (must run before
    the SparkSession / JVM is created to reach the python workers)."""
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)


def configure_session(spark: SparkSession) -> None:
    """Session knobs for the extraction stage (idempotent)."""
    spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", ARROW_MAX_BYTES)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_MAX_RECORDS)
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", ARROW_MAX_RECORDS)
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def driver_heap_mb(mem_total_mb: float) -> int:
    """An eighth of RAM, within 1-4 GB: the JVM, the Python workers and
    the driver process must fit the box together, next to other tenants."""
    return int(min(4096, max(1024, mem_total_mb // 8)))


def local_session(cpus: int) -> SparkSession:
    """The one local-mode session of every harness and of the test suite:
    the worker malloc knobs before the JVM starts, ``local[cpus]``, a
    driver heap sized from RAM, one shuffle partition per core (at least
    8), no UI, and UTC, so string→timestamp casts do not follow the
    host's zone (the DuckDB oracles read naive timestamps). It comes
    with :func:`configure_session` applied, so a scan that runs before
    the first ``extract()`` already has the capped Parquet reader batch.
    A cluster sets its own master and heap, so scripts/run_extract.py
    builds a plain session instead."""
    apply_malloc_env()
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.driver.memory", f"{driver_heap_mb(ram_mb)}m")
             .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    configure_session(spark)
    return spark


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """B1: scan the pages table. Locally Parquet; on a real cluster this is
    ``spark.read.format("iceberg").load(...)`` with partition pruning on
    days(warc_ts) / bucket(url) (SURVEY.md §1.2; no Iceberg jar on this box,
    §0.4 — DDL documented in README)."""
    return spark.read.parquet(path)


def dedupe_latest(pages: DataFrame) -> DataFrame:
    """B11: keep the latest warc_ts row per url. Rows that tie on
    (url, warc_ts), null warc_ts included, are ordered by html and then
    lang, so the kept row does not depend on the input's order."""
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc_nulls_last(),
                                          "html", "lang")
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def resume_filter(pages: DataFrame, checkpoint: DataFrame | None,
                  run_id: str | None = None,
                  broadcast: bool = True) -> DataFrame:
    """B4: drop urls already completed — LEFT ANTI join against the
    checkpoint table. The checkpoint side is urls-only (small relative to
    pages) and broadcast EXPLICITLY by default: relying on the size-stats
    threshold let a stat-less checkpoint source degrade to a
    SortMergeJoin that re-shuffled the fat pages side. No distinct() on
    the url set — LeftAnti semantics are insensitive to right-side
    duplicates, and the distinct was a whole extra shuffle of the url
    history for nothing.

    broadcast=False restores graceful degradation for a checkpoint too
    big to build driver/executor-side (the forced hint would OOM
    outright): the join falls back to Catalyst/AQE strategy choice.
    This stays a pure plan-builder — the size decision belongs to the
    caller, who can see the checkpoint's storage (run_job_df checks its
    bytes on storage; no extra Spark action per resume)."""
    if checkpoint is None:
        return pages
    ckpt = checkpoint
    if run_id is not None:
        ckpt = ckpt.filter(F.col("run_id") == run_id)
    urls = ckpt.select("url")
    if not broadcast:
        return pages.join(urls, on="url", how="left_anti")
    return pages.join(F.broadcast(urls), on="url", how="left_anti")


def with_bucket(pages: DataFrame) -> DataFrame:
    """B16: size bucket = floor(log2(html bytes)); null/empty html → 0."""
    blen = F.length(F.col("html"))
    return pages.withColumn(
        "bucket",
        F.when(blen.isNull() | (blen <= 0), F.lit(0))
        .otherwise(F.floor(F.log2(blen)))
        .cast("int"),
    )


def salted_repartition(df: DataFrame, partitions: int) -> DataFrame:
    """B15: the one placement rule — hash-partition by url into
    `partitions` slots, row → pmod(hash(url), P) (Spark's murmur3 hash
    partitioning). ``prepare`` applies it to the scan before the dedupe,
    so the same partitioning serves the window and the UDF stage;
    giant-HTML skew cannot be rebalanced by AQE inside the UDF stage, so
    the spread is explicit.

    The width is one Python task per core. Every Python task costs
    ~0.23-0.28 s of worker CPU before the UDF runs (pyspark.worker's
    importlib.invalidate_caches() re-reads 16 cached zip/jar entries,
    230 ms measured in a worker), empty partitions included: 64 tasks
    took 4.5-5.3 s, 4 tasks 0.44-0.53 s. A width of 4× cores paid it 16
    times on local[4]; P = cores cut the benchmark full_crawl's CPU by
    about 30%. The price is skew: with P slots, two giant pages that hash
    into one slot share a task (on a full_crawl seed where they do,
    3.05 s wall against 2.39 s with them apart). Re-dealing each slot's
    largest page by bytes (LPT) fixed that seed, but planning it reads
    every html value a second time (length(html)), and over seeds 1-10 it
    tied plain hashing (median wall 2.53 against 2.51 s), so it is not
    done. AQE coalescing instead (repartition(col) or REBALANCE) packs by
    compressed shuffle bytes into 2-3 tasks and was slower."""
    return df.repartition(partitions, "url")


def extract(pages: DataFrame, doc_timeout_s: float | None = None) -> DataFrame:
    """The extraction operator (B17): prune columns, bucket, then one
    mapInPandas pass with gooselite over the input's own partitions
    (``prepare`` has placed them). doc_timeout_s: per-doc wall budget
    (None → GOOSE_DOC_TIMEOUT_S env, default 300s; 0 disables). The
    ``lang`` column is the language override (the reference's
    target_language); the markdown column is null here, markdown is
    ``gooselite.extract_one(markdown=True)``."""
    configure_session(pages.sparkSession)
    cols = pages.select("url", "warc_ts", "html", "lang")
    # Decorrelate arrival order from any upstream ordering: after the
    # dedupe window the rows arrive url-sorted, and url order correlates
    # with document size in CC-style crawls, so giant docs cluster into
    # the same Arrow batches (measured: ~2× worker-side slowdown from
    # allocator churn). A cheap in-partition hash sort interleaves sizes.
    shuffled = with_bucket(cols).sortWithinPartitions(
        F.xxhash64(F.col("url"), F.lit(1)))
    return shuffled.mapInPandas(make_extract_batches(doc_timeout_s),
                                schema=EXTRACTED)


def prepare(pages: DataFrame, checkpoint: DataFrame | None = None,
            run_id: str | None = None, broadcast: bool = True,
            partitions: int | None = None) -> DataFrame:
    """resume filter → partition by url → dedupe (the pre-extraction
    relational shell). The broadcast anti-join runs on the scan, so
    completed urls never reach the url shuffle. With broadcast=False it
    runs after the dedupe instead: there its sort-merge join reuses the
    url partitioning, where below it the html would shuffle twice.
    partitions: the UDF width (default defaultParallelism, one Python
    task per core; see salted_repartition)."""
    if partitions is None:
        partitions = pages.sparkSession.sparkContext.defaultParallelism
    if broadcast:
        pages, checkpoint = resume_filter(pages, checkpoint, run_id), None
    return resume_filter(dedupe_latest(salted_repartition(pages, partitions)),
                         checkpoint, run_id, broadcast=False)


def metrics_from_extracted(extracted: DataFrame, run_id: str) -> DataFrame:
    """B8: per-(partition, bucket, lang) lineage metrics (FIXTURES.md §3).
    Pure hash aggregation with map-side partial combine — no extra pass
    over html."""

    def count(status):
        return F.sum((F.col("status") == status).cast("long"))

    return (
        extracted.groupBy("partition_id", "bucket", "lang")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            count(STATUS_OK).alias("ok"),
            count(STATUS_PARSE_ERROR).alias("parse_failures"),
            count(STATUS_EMPTY).alias("empty_extractions"),
            count(STATUS_DECODE_ERROR).alias("decode_errors"),
            count(STATUS_TIMEOUT).alias("timeouts"),
            F.sum(F.col("lang_fallback").cast("long")).alias("lang_fallbacks"),
            F.sum("bytes_in").alias("bytes_processed"),
            F.sum("parse_ms").alias("wall_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("started_ts", F.current_timestamp())
        .select(*METRICS.fieldNames())
    )


def run_job(spark: SparkSession, pages_path: str, out_dir: str, run_id: str,
            partitions: int | None = None) -> dict:
    """Full batch job over a Parquet pages path (see run_job_df)."""
    return run_job_df(spark, read_pages(spark, pages_path), out_dir, run_id,
                      partitions)


def run_job_df(spark: SparkSession, pages: DataFrame, out_dir: str,
               run_id: str, partitions: int | None = None) -> dict:
    """Full batch job with durable writes + resumable checkpoint (B20/B21).

    Write order is the exactly-once-ish contract: EXTRACTED first, then
    METRICS, then the checkpoint rows for the urls just completed.

    Everything after the extraction derives from **this batch only**:
    the UDF runs exactly once (for the durable write), and metrics /
    checkpoint / row count come from a column-pruned re-read of the
    batch=<id> directory THAT WRITE created (the local stand-in for
    reading an Iceberg write's own snapshot). The job
    never re-reads prior history, never caches the fat text columns
    (persisting the full output was measured 4× slower than the bare
    extraction — columnar cache compression of the article text), and a
    resumed run is O(batch): each run's METRICS rows count only the
    documents that run processed (per-run lineage, BASELINE.json:6).
    """
    configure_session(spark)
    extracted_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "metrics")
    ckpt_path = os.path.join(out_dir, "checkpoint")

    checkpoint = None
    broadcast_ckpt = True
    jpath = spark._jvm.org.apache.hadoop.fs.Path(ckpt_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        checkpoint = spark.read.parquet(ckpt_path)
        # Size guard from the filesystem's metadata (no Spark action): a
        # checkpoint whose parquet exceeds the cap would OOM the forced
        # broadcast build (urls compress ~3-5x on disk → ~512 MB of files
        # is already a multi-GB build side). Fall back to Catalyst/AQE
        # choice after the url shuffle (prepare).
        ckpt_bytes = fs.getContentSummary(jpath).getLength()
        if ckpt_bytes > CHECKPOINT_BROADCAST_MAX_BYTES:
            import warnings

            warnings.warn(
                f"run_job_df: checkpoint is {ckpt_bytes >> 20} MB on "
                "disk; skipping the forced broadcast",
                stacklevel=2)
            broadcast_ckpt = False

    todo = prepare(pages, checkpoint, run_id, broadcast=broadcast_ckpt,
                   partitions=partitions)

    # B20: partitioned append; partition by size bucket (dt at real
    # scale). Cluster by the partition column first: dynamic partition
    # writes emit one file per (task × partition-value), and the url
    # partitioning spreads every bucket across every task — tasks ×
    # buckets files (measured 3455 files for 5000 docs; linear in task
    # count → 100× scale means hundreds of thousands of files per run). The
    # repartition shuffles only the (small) extracted output, after the
    # expensive UDF stage, and lands each bucket in one file. On Iceberg
    # the writer's target-file-size + fanout handles this instead.
    #
    # Each batch writes under its own batch=<run_id>-<uuid> partition dir,
    # so "this batch's rows" is a read of that subtree — never a global
    # before/after diff. Concurrent runs (or a crash between the
    # extracted append and the checkpoint append) cannot mis-attribute
    # another writer's files into this batch's metrics/checkpoint; the
    # batch id doubles as write-level lineage in the table layout (the
    # local stand-in for an Iceberg snapshot/commit id).
    batch_id = f"{run_id}-{uuid.uuid4().hex[:12]}"
    batch_root = os.path.join(extracted_path, f"batch={batch_id}")
    (extract(todo)
     .repartition(F.col("bucket"))
     .write.mode("append").partitionBy("bucket").parquet(batch_root))

    # This batch's rows: a column-pruned re-read of its own subtree (the
    # fat cleaned_text column is never read back). The given schema
    # skips footer inference and lets an empty batch (only _SUCCESS)
    # read as 0 rows; basePath keeps the bucket partition column.
    batch = (
        spark.read.schema(EXTRACTED).option("basePath", extracted_path)
        .parquet(batch_root)
        .select("url", "lang", "status", "bytes_in", "parse_ms",
                "partition_id", "bucket", "lang_fallback")
    )

    metrics_from_extracted(batch, run_id).write.mode("append").parquet(metrics_path)
    n = batch.count()

    # B21: checkpoint APPEND (not rewrite) strictly AFTER the durable
    # extracted write — only the urls this batch completed. No distinct():
    # prepare() leaves one row per url and extraction emits one row per
    # input row, so the url set is already unique.
    (
        batch.select("url")
        .withColumn("run_id", F.lit(run_id))
        .withColumn("completed_ts", F.current_timestamp())
        .select("run_id", "url", "completed_ts")
        .write.mode("append").parquet(ckpt_path)
    )
    return {"batch_rows": n, "extracted_path": extracted_path,
            "metrics_path": metrics_path, "checkpoint_path": ckpt_path}
