"""Streaming operator semantics (B19 + session windows + custom state).

q_stream_window_append / q_stream_sessions are oracle-backed by the driver; the
tests here reconcile them against equivalent BATCH plans over the same
events (Structured Streaming's availableNow drain over a static source
must equal the batch computation), and assert the applyInPandasWithState
operator's per-user state against a plain groupBy.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _events_utc(spark):
    return (
        spark.read.parquet(SF + "/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def test_stream_sessions_equal_batch_sessionization(spark):
    from goose_spark.streaming import _GAP_SECONDS, stream_session_counts

    got = stream_session_counts(spark, SF)

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ev = _events_utc(spark)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts")
        marked = ev.withColumn(
            "is_start",
            (F.col("ts").cast("double")
             - F.lag(F.col("ts").cast("double")).over(w)
             >= _GAP_SECONDS).cast("int"),
        ).fillna({"is_start": 1})
        sess = marked.withColumn(
            "session_id", F.sum("is_start").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        batch = (
            sess.groupBy("user_id", "session_id")
            .agg(
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("session_start"),
                F.date_format(
                    F.timestamp_add("SECOND", F.lit(_GAP_SECONDS), F.max("ts")),
                    "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
            )
            .drop("session_id")
        )
        cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
        assert got.select(cols).exceptAll(batch.select(cols)).count() == 0
        assert batch.select(cols).exceptAll(got.select(cols)).count() == 0
        assert got.count() > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_stateful_running_max_matches_batch_groupby(spark):
    from goose_spark.streaming import q_stateful_running_max

    got = {r.user_id: (r.n_events, r.max_value)
           for r in q_stateful_running_max(spark, SF).collect()}
    exp = {r.user_id: (r.n, r.vmax)
           for r in _events_utc(spark).groupBy("user_id").agg(
               F.count(F.lit(1)).alias("n"),
               F.max("value").alias("vmax")).collect()}
    assert set(got) == set(exp)
    for u, (n, vmax) in exp.items():
        assert got[u][0] == n, u
        assert got[u][1] == pytest.approx(vmax), u


def test_stream_dedup_removes_doubled_delivery(spark):
    from goose_spark.streaming import q_stream_dedup

    got = {r.event_type: (r.n_events, r.sum_value)
           for r in q_stream_dedup(spark, SF).collect()}
    exp = {r.event_type: (r.n, round(r.s, 4) + 0.0)
           for r in _events_utc(spark).groupBy("event_type").agg(
               F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")).collect()}
    assert got == exp  # every event delivered twice, counted once


def test_stream_window_append_drops_late_rows(spark, tmp_path_factory):
    """Append-mode watermark semantics (VERDICT r2 item 9), asserting the
    HARD guarantee: a row arriving after its window was finalized and
    emitted is dropped (never re-emitted / double-counted); finalized
    windows emit exactly once; the trailing non-final window is withheld.
    (Rows later than the watermark whose window is still live are only
    best-effort dropped per Spark's contract — measured: this Spark
    accepts them — so the fixture targets an already-EMITTED window.)"""
    import os
    import pandas as pd
    from goose_spark.streaming import stream_window_counts_append

    d = str(tmp_path_factory.mktemp("late_src"))

    def _write(name, rows, mtime):
        # single parquet FILES at the top level: the file stream source
        # lists files, not subdirectories (a Spark .write.parquet dir
        # would be invisible to it)
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type", "value", "props"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        path = os.path.join(d, name)
        tbl = pa.Table.from_pandas(pdf, preserve_index=False).cast(pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string())]))
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))
        return path

    t0 = 1_700_000_000  # maxFilesPerTrigger=1 → one batch per file, mtime order
    # batch 0: the windows under test — Jan 1 (3 rows), Jan 2 (1 row)
    _write("a.parquet", [
        (1, "2025-01-01 01:00:00", 1, "view", 1.0, "{}"),
        (2, "2025-01-01 02:00:00", 1, "view", 2.0, "{}"),
        (3, "2025-01-01 03:00:00", 1, "view", 3.0, "{}"),
        (4, "2025-01-02 12:00:00", 1, "view", 4.0, "{}"),
    ], t0)
    # batches 1-2: ratchet the watermark far past those windows (Jan 9+)
    # so they are finalized, EMITTED, and their state evicted
    _write("b.parquet", [(5, "2025-01-10 00:00:00", 1, "view", 5.0, "{}")], t0 + 600)
    _write("c.parquet", [(6, "2025-01-10 01:00:00", 1, "view", 6.0, "{}")], t0 + 1200)
    # batch 3: a LATE row into the already-emitted Jan 1 window — must be
    # dropped (accepting it would re-emit Jan 1 or corrupt its count)
    _write("d.parquet", [(7, "2025-01-01 04:00:00", 1, "view", 100.0, "{}")], t0 + 1800)

    out = stream_window_counts_append(
        spark, SF, src_dir=d, max_files_per_trigger=1).toPandas()
    got = {str(r.day): (r.n_events, r.sum_value) for _, r in out.iterrows()}
    assert len(out) == 2                      # no dup emission of Jan 1
    assert got.get("2025-01-01") == (3, 6.0)  # late row NOT counted
    assert got.get("2025-01-02") == (1, 4.0)
    assert "2025-01-10" not in got            # trailing window withheld


def test_stream_window_append_matches_finalized_oracle(spark):
    """q_stream_window_append over the real events table equals a batch
    groupBy(date_trunc('day', ts), event_type) restricted to finalized
    windows (the oracle's WHERE clause): on a fully available source the
    tumbling windows are exactly date_trunc, and append mode withholds
    only the trailing day(s) whose end is past max(ts) - WATERMARK."""
    from goose_spark.streaming import stream_window_counts_append

    app = stream_window_counts_append(spark, SF)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ev = _events_utc(spark)
        batch = ev.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("wm"))
        final = (batch.crossJoin(wm)
                 .filter(F.date_add("day", 1).cast("timestamp") <= F.col("wm"))
                 .drop("wm"))
        assert 0 < app.count() < batch.count()
        assert app.exceptAll(final).count() == 0
        assert final.exceptAll(app).count() == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
