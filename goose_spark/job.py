"""The extraction job: scan → dedupe → resume anti-join → salt → extract →
write → metrics → checkpoint (SURVEY.md §3.2).

Scale design (the part that must hold at 10^12 documents / 1000 executors):

* **Column pruning first.** The ``html`` column dominates bytes; every
  plan selects only (url, warc_ts, html, lang) before the UDF and lets
  Catalyst push the projection into the Parquet/Iceberg scan — never
  ``select('*')`` (SURVEY.md §4.2).
* **Dedupe + resume before the expensive stage.** row_number dedupe (B11)
  and the checkpoint LEFT ANTI join (B4) run on (url, warc_ts) only —
  Spark 4 pushes the projection down so the shuffle carries html only for
  surviving rows... html must ride the dedupe shuffle on a plain parquet
  scan; the cluster-scale fix is the bucketed-by-url layout, implemented
  below (``write_pages_bucketed`` / ``dedupe_latest_bucketed``) and
  plan-asserted shuffle-free. The anti-join's right side (checkpoint
  urls) is small per run → broadcast.
* **Salted repartition (B15).** ``repartition(P, pmod(xxhash64(url), P))``
  spreads documents uniformly; AQE rebalances by bytes but cannot split
  inside a UDF stage, so uniform row spread is done explicitly
  (BASELINE.json:6 "salted repartitioning").
* **Size-bucketed Arrow batches (B16).** Spark 4.1 supports
  ``spark.sql.execution.arrow.maxBytesPerBatch`` — one giant document
  rides in its own small batch while 2 KB pages batch by the hundreds;
  plus a ``bucket = floor(log2(bytes))`` column for metrics/skew triage.
* **Exactly-once-ish resume (B21).** EXTRACTED is written before the
  checkpoint append; on restart the anti-join plus write-side idempotence
  make replays safe.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goose_spark.schema import EXTRACTED
from goose_spark.udf import make_extract_batches

# Arrow batch caps (B16): ≤64 MB or ≤256 rows per batch, whichever first.
ARROW_MAX_BYTES = str(64 * 1024 * 1024)
ARROW_MAX_RECORDS = "256"

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
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """B1: scan the pages table. Locally Parquet; on a real cluster this is
    ``spark.read.format("iceberg").load(...)`` with partition pruning on
    days(warc_ts) / bucket(url) (SURVEY.md §1.2; no Iceberg jar on this box,
    §0.4 — DDL documented in README)."""
    return spark.read.parquet(path)


def dedupe_latest(pages: DataFrame) -> DataFrame:
    """B11: keep the latest warc_ts row per url (deterministic tie-break on
    the full ordering)."""
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc_nulls_last())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def write_pages_bucketed(pages: DataFrame, table: str,
                         buckets: int = 32) -> None:
    """The cluster-scale table layout named in the module docstring: a
    url-bucketed (and in-bucket url-sorted) pages table. Reading it back,
    the scan reports HashPartitioning(url) so the dedupe window — and the
    checkpoint anti-join when both sides share the layout — run with ZERO
    exchange: the fat html column never shuffles (plan-asserted in
    tests/test_plans.py::test_bucketed_dedupe_has_no_exchange). At 10^12
    rows this is the Iceberg `bucket(url, N)` partition transform
    (goose_spark/iceberg.py DDL); locally it is Spark's native bucketed
    parquet via saveAsTable."""
    (pages.write.mode("overwrite")
     .bucketBy(buckets, "url").sortBy("url").saveAsTable(table))


def dedupe_latest_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """`dedupe_latest` over the bucketed layout — identical semantics,
    shuffle-free plan."""
    return dedupe_latest(spark.table(table))


def resume_filter_bucketed(spark: SparkSession, pages_table: str,
                           checkpoint_table: str) -> DataFrame:
    """`resume_filter` at 10^12-row scale: when the checkpoint history
    has grown past broadcast size, co-bucket BOTH sides by url (same
    bucket count) and the LEFT ANTI join runs as a zero-exchange
    SortMergeJoin — neither the fat pages side nor the full url history
    ever shuffles (plan-asserted in tests/test_plans.py)."""
    return spark.table(pages_table).join(
        spark.table(checkpoint_table).select("url"), "url", "left_anti")


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
    caller, who can see the checkpoint's storage (run_job_df checks the
    on-disk bytes; no extra Spark action per resume). At 10^12-row
    checkpoint scale use resume_filter_bucketed instead (co-bucketed
    zero-exchange SMJ; no broadcast, no re-shuffle of the fat side)."""
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
    """B15: uniform spread of documents over `partitions` by hashing the
    full-width xxhash64(url) — giant-HTML skew cannot be rebalanced by AQE
    inside the UDF stage, so it is spread explicitly.

    Deliberately NOT ``pmod(xxhash64(url), P)``: repartition() re-hashes
    its expression, so feeding it only P distinct pmod values is a
    balls-into-bins collision (measured: 41/64 partitions non-empty, some
    carrying 3 buckets). Hashing the full 64-bit value spreads uniformly
    over all P partitions."""
    return df.repartition(partitions, F.xxhash64(F.col("url")))


def extract(pages: DataFrame, partitions: int | None = None,
            doc_timeout_s: float | None = None, config=None,
            presalted: bool = False) -> DataFrame:
    """The extraction operator (B17): prune columns, bucket, salt, then one
    mapInPandas pass with gooselite. doc_timeout_s: per-doc wall budget
    (None → GOOSE_DOC_TIMEOUT_S env, default 300s; 0 disables).
    config: optional gooselite.config.ExtractionConfig (A21) riding the
    UDF closure to every worker.

    presalted=True: the input already arrives spread by url hash — the
    url-bucketed table layout (write_pages_bucketed) IS the salt, since
    bucket assignment is hash(url) % N just like salted_repartition. The
    explicit repartition would be a second full shuffle of the fat html
    column for zero added uniformity, so the bucketed flagship path skips
    it; with it gone the whole pre-UDF plan is exchange-free
    (plan-asserted in tests/test_plans.py). Partition granularity then
    comes from the table's bucket count — size it ~4× cluster cores at
    write time for the same straggler-packing effect the salt's
    `partitions` argument provides on unbucketed sources."""
    spark = pages.sparkSession
    configure_session(spark)
    if partitions is None:
        # fine-grained tasks (4× cores): the skew tail is single giant
        # documents that pin a task; small partitions let the scheduler
        # pack around them and cap stragglers at ~one giant doc each
        # (measured on the sf0.1 corpus on a 32-vCPU host: 4× beats 2×
        # and 8×). On a 4-vCPU host, width = cores cut the benchmark
        # full_crawl's CPU 30-35% but lost ~10% wall on a seed whose two
        # giant pages hash into one partition: narrowing the width
        # needs size-aware packing first.
        partitions = spark.sparkContext.defaultParallelism * 4
    cols = pages.select("url", "warc_ts", "html", "lang")
    bucketed = with_bucket(cols)
    salted = bucketed if presalted else salted_repartition(bucketed, partitions)
    # Decorrelate arrival order from any upstream ordering: after the
    # dedupe window the rows arrive url-sorted, and url order correlates
    # with document size in CC-style crawls, so giant docs cluster into
    # the same Arrow batches (measured: ~2× worker-side slowdown from
    # allocator churn). A cheap in-partition hash sort interleaves sizes.
    shuffled = salted.sortWithinPartitions(F.xxhash64(F.col("url"), F.lit(1)))
    return shuffled.mapInPandas(make_extract_batches(doc_timeout_s, config),
                                schema=EXTRACTED)


def prepare(pages: DataFrame, checkpoint: DataFrame | None = None,
            run_id: str | None = None, broadcast: bool = True) -> DataFrame:
    """dedupe → resume filter (the pre-extraction relational shell)."""
    return resume_filter(dedupe_latest(pages), checkpoint, run_id,
                         broadcast=broadcast)


def metrics_from_extracted(extracted: DataFrame, run_id: str) -> DataFrame:
    """B8: per-(partition, bucket, lang) lineage metrics (FIXTURES.md §3).
    Pure hash aggregation with map-side partial combine — no extra pass
    over html."""
    return (
        extracted.groupBy("partition_id", "bucket", "lang")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
            F.sum((F.col("status") == "parse_error").cast("long")).alias("parse_failures"),
            F.sum((F.col("status") == "empty").cast("long")).alias("empty_extractions"),
            F.sum((F.col("status") == "decode_error").cast("long")).alias("decode_errors"),
            F.sum((F.col("status") == "timeout").cast("long")).alias("timeouts"),
            F.sum(F.col("lang_fallback").cast("long")).alias("lang_fallbacks"),
            F.sum("bytes_in").alias("bytes_processed"),
            F.sum("parse_ms").alias("wall_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("started_ts", F.current_timestamp())
        .select("run_id", "partition_id", "bucket", "lang", "docs_in", "ok",
                "parse_failures", "empty_extractions", "decode_errors",
                "timeouts", "lang_fallbacks", "bytes_processed", "wall_ms",
                "started_ts")
    )


def run_job(spark: SparkSession, pages_path: str, out_dir: str, run_id: str,
            partitions: int | None = None) -> dict:
    """Full batch job over a Parquet pages path (see run_job_df)."""
    return run_job_df(spark, read_pages(spark, pages_path), out_dir, run_id,
                      partitions)


def _url_bucket_count(spark: SparkSession, table: str) -> int | None:
    """Bucket count when `table` is bucketed by url in the catalog (Spark
    native bucketing locally; the Iceberg bucket(url, N) transform at
    scale); None when not url-bucketed."""
    try:
        rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    except Exception:
        return None
    info = {r.col_name.strip(): (r.data_type or "").strip() for r in rows}
    if ("Num Buckets" not in info
            or info.get("Bucket Columns", "").strip("[]` ") != "url"):
        return None
    try:
        return int(info["Num Buckets"])
    except ValueError:
        return None


def run_job_table(spark: SparkSession, pages_table: str, out_dir: str,
                  run_id: str, partitions: int | None = None) -> dict:
    """Full batch job over a catalog pages table — the flagship entry at
    cluster scale. When the table is bucketed by url
    (write_pages_bucketed / Iceberg bucket(url, N)), the whole pre-UDF
    plan runs exchange-free: the bucketed scan satisfies the dedupe
    window's partitioning (B11) AND stands in for the salt (B15), so the
    fat html column never shuffles — the #1 shuffle at 10^12 rows on an
    unbucketed source (module docstring). Unbucketed tables fall through
    to the salted path unchanged.

    Guard: a table bucketed FAR below the cluster width (e.g. 4 buckets
    on 32 cores) would silently run the UDF stage under-parallelized on
    the exchange-free path — extract()'s task granularity comes from the
    bucket count. In that case the salt is worth its shuffle back: the
    job warns and falls through to the salted path instead of quietly
    discarding the cluster."""
    buckets = _url_bucket_count(spark, pages_table)
    presalted = buckets is not None
    if presalted and buckets < spark.sparkContext.defaultParallelism:
        import warnings

        warnings.warn(
            f"run_job_table: {pages_table} has {buckets} url buckets but "
            f"the cluster runs {spark.sparkContext.defaultParallelism} "
            "slots; using the salted path — rewrite the table with "
            "buckets ≈ 4× cores for the exchange-free plan",
            stacklevel=2)
        presalted = False
    return run_job_df(spark, spark.table(pages_table), out_dir, run_id,
                      partitions, presalted=presalted)


def run_job_df(spark: SparkSession, pages: DataFrame, out_dir: str,
               run_id: str, partitions: int | None = None,
               presalted: bool = False) -> dict:
    """Full batch job with durable writes + resumable checkpoint (B20/B21).

    Write order is the exactly-once-ish contract: EXTRACTED first, then
    METRICS, then the checkpoint rows for the urls just completed.

    Everything after the extraction derives from **this batch only**:
    the UDF runs exactly once (for the durable write), and metrics /
    checkpoint / row count come from a column-pruned re-read of the
    files THAT WRITE created (driver-side before/after listing — the
    local stand-in for reading an Iceberg write's own snapshot). The job
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
    if os.path.exists(ckpt_path):
        checkpoint = spark.read.parquet(ckpt_path)
        # Driver-side size guard (no Spark action): a checkpoint whose
        # parquet exceeds the cap would OOM the forced broadcast build
        # (urls compress ~3-5x on disk → ~512 MB of files is already a
        # multi-GB build side). Fall back to Catalyst/AQE choice; at
        # 10^12-row history the answer is resume_filter_bucketed.
        ckpt_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(ckpt_path) for f in files)
        if ckpt_bytes > 512 * 1024 * 1024:
            import warnings

            warnings.warn(
                f"run_job_df: checkpoint is {ckpt_bytes >> 20} MB on "
                "disk; skipping the forced broadcast (consider the "
                "url-bucketed layout + resume_filter_bucketed)",
                stacklevel=2)
            broadcast_ckpt = False

    todo = prepare(pages, checkpoint, run_id, broadcast=broadcast_ckpt)

    # B20: partitioned append; partition by size bucket (dt at real
    # scale). Cluster by the partition column first: dynamic partition
    # writes emit one file per (task × partition-value), and the salt
    # spreads every bucket across every task — tasks × buckets files
    # (measured 3455 files for 5000 docs; linear in task count → 100×
    # scale means hundreds of thousands of files per run). The
    # repartition shuffles only the (small) extracted output, after the
    # expensive UDF stage, and lands each bucket in one file. On Iceberg
    # the writer's target-file-size + fanout handles this instead.
    #
    # Each batch writes under its own batch=<run_id>-<uuid> partition dir,
    # so "this batch's files" is a listing of that subtree — never a
    # global before/after diff. Concurrent runs (or a crash between the
    # extracted append and the checkpoint append) cannot mis-attribute
    # another writer's files into this batch's metrics/checkpoint; the
    # batch id doubles as write-level lineage in the table layout (the
    # local stand-in for an Iceberg snapshot/commit id).
    batch_id = f"{run_id}-{uuid.uuid4().hex[:12]}"
    batch_root = os.path.join(extracted_path, f"batch={batch_id}")
    (extract(todo, partitions, presalted=presalted)
     .repartition(F.col("bucket"))
     .write.mode("append").partitionBy("bucket").parquet(batch_root))
    new_files = sorted(_parquet_files(batch_root))

    # This batch's rows, via the new files only — a column-pruned scan
    # (the fat cleaned_text column is never read back); basePath keeps
    # the bucket partition column.
    batch = (
        spark.read.option("basePath", extracted_path).parquet(*new_files)
        .select("url", "lang", "status", "bytes_in", "parse_ms",
                "partition_id", "bucket", "lang_fallback")
    ) if new_files else spark.createDataFrame([], EXTRACTED).select(
        "url", "lang", "status", "bytes_in", "parse_ms",
        "partition_id", "bucket", "lang_fallback")

    metrics_from_extracted(batch, run_id).write.mode("append").parquet(metrics_path)
    n = batch.count()

    # B21: checkpoint APPEND (not rewrite) strictly AFTER the durable
    # extracted write — only the urls this batch completed.
    (
        batch.select("url").distinct()
        .withColumn("run_id", F.lit(run_id))
        .withColumn("completed_ts", F.current_timestamp())
        .select("run_id", "url", "completed_ts")
        .write.mode("append").parquet(ckpt_path)
    )
    return {"batch_rows": n, "extracted_rows": n,
            "extracted_path": extracted_path,
            "metrics_path": metrics_path, "checkpoint_path": ckpt_path}


def _parquet_files(root: str) -> set[str]:
    """Data files under a parquet dir (driver-side metadata listing —
    the local stand-in for an Iceberg snapshot's file manifest;
    O(file count), touches no data). Callers pass a batch-scoped
    batch=<id> subtree, so the listing is immune to concurrent writers
    in the same table root; Iceberg's snapshot isolation is the cluster
    equivalent."""
    out: set[str] = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(dirpath, f))
    return out
