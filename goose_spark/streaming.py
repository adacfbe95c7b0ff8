"""B19 (stretch): Structured Streaming ingest over the ``events`` table.

The north rule is batch (SURVEY.md §2.7), so streaming is a conformance
demo, not the pipeline: a file-source ``readStream`` with a watermark and
a tumbling event-time window, drained with ``trigger(availableNow=True)``
into a memory sink so the result is a plain DataFrame the driver can
compare against a SQL oracle (date_trunc twin).

Output modes: the tumbling-window probe runs in ``append`` mode, the
production mode — the watermark finalizes each window once event time
passes window.end + watermark, rows later than that are dropped, and the
last (not-yet-final) window is withheld, so its oracle counts only the
finalized windows. The session and dedup probes use ``complete`` mode so
the drained result covers EVERY group (matching an all-rows SQL
oracle); in complete mode the watermark neither drops late rows nor
evicts state, so the plan re-emits the full result each trigger and
keeps all state.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WATERMARK = "1 day"
WINDOW = "1 day"


def _stage_stream_dir(sf_dir: str, table: str, tag_suffix: str,
                      prefix: str, dst_names: tuple[str, ...]) -> str:
    """The file stream source requires a *directory*; stage a testdata
    parquet (read-only) into a cached tmp dir, one copy per dst name.

    Staleness is keyed on the SOURCE's (mtime_ns, size) recorded in a
    sidecar — a plain dst-vs-src mtime compare is unsound because copy2
    preserves mtimes, so a regenerated source with an equal-or-older
    mtime would be served stale and surface as an undebuggable driver
    hash mismatch."""
    tag = hashlib.md5((sf_dir + tag_suffix).encode()).hexdigest()[:12]
    d = f"/tmp/{prefix}_{tag}"
    src = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src)
    stamp = f"{st.st_mtime_ns}:{st.st_size}"
    marker = os.path.join(d, ".srcstat")
    fresh = (os.path.exists(marker)
             and open(marker).read() == stamp
             and all(os.path.exists(os.path.join(d, n)) for n in dst_names))
    if not fresh:
        os.makedirs(d, exist_ok=True)
        for n in dst_names:
            shutil.copy2(src, os.path.join(d, n))
        with open(marker, "w") as f:
            f.write(stamp)
    return d


def _stream_dir(sf_dir: str) -> str:
    return _stage_stream_dir(sf_dir, "events", "", "goose_stream_src",
                             ("events.parquet",))


def stream_window_counts_append(spark: SparkSession, sf_dir: str,
                                src_dir: str | None = None,
                                max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream(events) → watermark → tumbling 1-day window × event_type
    → count/sum in append mode, the production output mode: each window
    is emitted ONCE, when the watermark passes window.end, and rows
    later than the watermark are DROPPED.

    The session timezone is pinned to UTC for the duration of the query
    (and restored after): watermarks need TIMESTAMP (LTZ), the testdata
    ships TIMESTAMP_NTZ, and only under UTC is the ntz→ltz cast + window
    + date cast equal to the oracle's timezone-free date_trunc.

    Determinism that makes this oracle-backed rather than rows-only:
    with ``availableNow`` + the default no-data flush micro-batch, the
    final watermark is max(ts) − WATERMARK, so the emitted set is exactly
    the windows with end ≤ max(ts) − WATERMARK — SQL-expressible
    (ORACLE_STREAM_WINDOW_APPEND). The not-yet-final trailing window(s)
    are withheld, matching a continuous deployment's behavior.

    src_dir/max_files_per_trigger: test hooks — a multi-file directory
    with maxFilesPerTrigger=1 forces multiple micro-batches so the
    watermark ratchets between them (the late-row drop pytest).
    """
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        reader = spark.readStream.schema(batch_schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        src = (reader.parquet(src_dir or _stream_dir(sf_dir))
               .withColumn("ts", F.col("ts").cast("timestamp")))
        agg = (
            src.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.col("w.start").cast("date").alias("day"),
                "event_type", "n_events", "sum_value",
            )
        )
        sink = f"stream_win_app_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        out = spark.table(sink).localCheckpoint()
        spark.catalog.dropTempView(sink)
        return out
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


def q_stream_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_window_counts_append(spark, sf_dir)


# Append mode emits exactly the finalized windows: end ≤ final watermark
# = max(ts) − 1 day. (Boundary: Spark finalizes on watermark ≥ end; ties
# cannot occur here because max(ts) is not midnight-aligned in the
# synthetic events.)
ORACLE_STREAM_WINDOW_APPEND = """
WITH g AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         event_type,
         COUNT(*) AS n_events,
         ROUND(SUM(value), 4) AS sum_value
  FROM events GROUP BY 1, 2)
SELECT * FROM g
WHERE day + INTERVAL 1 DAY <= (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)
"""


# ---- session windows (gap-based) -------------------------------------------
SESSION_GAP = "30 minutes"
_GAP_SECONDS = 1800


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-based sessionization with the built-in
    ``session_window`` (dynamic, event-time, merges on overlap): a session
    extends while consecutive events are within SESSION_GAP; the window
    end is last_event + gap. Drained via availableNow into a memory sink
    (complete mode — see the module docstring for the trade-off).
    Oracle: the classic gaps-and-islands rewrite — a session break is
    LAG(ts) more than SESSION_GAP behind — which DuckDB can run;
    this makes the streaming session operator fully hash-checkable.
    """
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        return _stream_session_counts_utc(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


def _stream_session_counts_utc(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(batch_schema)
        .parquet(_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # + 0.0 folds IEEE -0.0 from round() to +0.0 (oracle parity)
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        )
        .select(
            "user_id",
            # fixed 6-digit microseconds: bare casts trim trailing zeros
            # differently across engines
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_end"),
            "n_events", "sum_value",
        )
    )
    sink = f"stream_sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table(sink).localCheckpoint()
    spark.catalog.dropTempView(sink)
    return out


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_session_counts(spark, sf_dir)


# Gaps-and-islands twin: a session starts where the previous event of the
# same user is AT LEAST the gap away (Spark merges session windows only
# on strict overlap — an event exactly gap-distant begins a new session);
# session end = last event + gap.
ORACLE_STREAM_SESSIONS = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {_GAP_SECONDS} SECOND
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events),
 sessions AS (
  SELECT user_id, ts, value,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL {_GAP_SECONDS} SECOND,
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) + 0.0 AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


# ---- custom stateful operator: applyInPandasWithState ----------------------
def q_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (oracle-backed late r4): per-user
    running event-count and max value maintained in GroupState via
    ``applyInPandasWithState`` — the escape hatch for stateful semantics
    the built-in windows can't express (SURVEY.md task brief: custom
    stateful operators). Emits one row per user per micro-batch with the
    state after that batch; with availableNow over a static directory
    there is exactly one batch, so the result is the per-user total.
    State is GroupStateTimeout-free (bounded key space here; a real
    deployment sets a timeout to evict idle users)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(batch_schema)
        .parquet(_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "value")
    )

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "max_value": [vmax]})

    out_schema = "user_id bigint, n_events bigint, max_value double"
    state_schema = "n bigint, vmax double"
    stateful = src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)

    sink = f"stream_state_{uuid.uuid4().hex[:8]}"
    q = (
        stateful.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table(sink).localCheckpoint()
    spark.catalog.dropTempView(sink)
    return out


# ---- streaming dedup (exactly-once-ish ingest) -----------------------------
def _stream_dir_doubled(sf_dir: str) -> str:
    """Stage events.parquet TWICE (distinct filenames) so the stream
    carries genuine duplicates for dropDuplicates to remove — testdata
    event_ids are unique within one copy."""
    return _stage_stream_dir(sf_dir, "events", ":x2", "goose_stream_dup",
                             ("events_a.parquet", "events_b.parquet"))


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-ish ingest: the file source delivers every
    event twice (two staged copies); ``dropDuplicates`` on the event key
    inside the stream removes replays before the windowed aggregation —
    the streaming twin of the batch job's write-side dedupe (B11/B21).
    State note: with a watermark, dedup state for keys older than the
    watermark is evicted; the availableNow drain here processes the whole
    (finite) directory. Oracle: the duplicate delivery cancels out, so
    per-type counts over the plain events table."""
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        src = (
            spark.readStream.schema(batch_schema)
            .parquet(_stream_dir_doubled(sf_dir))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            src.withWatermark("ts", WATERMARK)
            .dropDuplicates(["event_id"])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
            )
        )
        sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory").queryName(sink)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        out = spark.table(sink).localCheckpoint()
        spark.catalog.dropTempView(sink)
        return out
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


ORACLE_STREAM_DEDUP = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) + 0.0 AS sum_value
FROM events
GROUP BY event_type
"""


# q_stateful_running_max GRADUATED from rows-only (late r4): the staged
# source is ONE parquet file, so availableNow runs exactly one
# micro-batch and the appended per-user state row IS the per-user
# total — SQL-expressible. COUNT is exact int64; MAX does no float
# arithmetic, so the double survives both engines bit-identically.
ORACLE_STATEFUL_RUNNING_MAX = """
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events GROUP BY user_id
"""


# ------------------------------------------------- streaming extraction --
def _docs_stream_dir(sf_dir: str) -> str:
    """Stage documents.parquet into a dir for the file stream source."""
    return _stage_stream_dir(sf_dir, "documents", ":docs",
                             "goose_stream_docs", ("documents.parquet",))


def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion × the extraction chain: the SAME kernel the
    batch probe q_warc_extract runs (page synth → WARC container →
    parse → full gooselite extraction) applied to a file STREAM via a
    stateless mapInPandas, drained with availableNow — the continuous-
    crawl deploy shape (new WARC segments land in a directory, the
    stream extracts them incrementally with checkpointed source
    offsets). Oracle = the batch probe's closed-form twin: streaming
    must change NOTHING about the per-document bytes."""
    from goose_spark.warcops import _extract_batches

    batch_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src = (
        spark.readStream.schema(batch_schema)
        .parquet(_docs_stream_dir(sf_dir))
        .select("doc_id", "text"))
    out = src.mapInPandas(
        _extract_batches,
        schema="doc_id long, title string, text_norm string, status string")
    sink = f"stream_extract_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    res = spark.table(sink).localCheckpoint()
    spark.catalog.dropTempView(sink)
    return res
