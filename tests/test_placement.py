"""Placement of the extraction stage (B15): one Python task per core, and
every page in the partition Spark's hash partitioning by url names,
pmod(hash(url), P) — the one url shuffle before the dedupe."""

import datetime

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from goose_spark import job as J


def _udf_tasks(spark, group: str) -> int:
    """Tasks run by the stages of job group `group` that evaluate the
    extraction UDF (their operator graph holds MapInPandas)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()

    def names(cluster):
        out = [cluster.name()]
        it = cluster.childClusters().iterator()
        while it.hasNext():
            out += names(it.next())
        return out

    n = 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            graph = store.operationGraphForStage(sid)
            if info is not None and "MapInPandas" in names(graph.rootCluster()):
                n += info.numCompletedTasks
    return n


def test_run_job_runs_one_udf_task_per_core(spark, sf0001_fixtures, tmp_path):
    pages_path, _ = sf0001_fixtures
    sc = spark.sparkContext
    sc.setJobGroup("placement-width", "run_job task count")
    try:
        J.run_job(spark, pages_path, str(tmp_path), run_id="w")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _udf_tasks(spark, "placement-width") == sc.defaultParallelism


def test_every_page_runs_in_its_hashed_slot(spark, tmp_path):
    P = spark.sparkContext.defaultParallelism
    para = b"<p>The quick brown fox jumps over the lazy dog and the cat.</p>"
    ts = datetime.datetime(2025, 1, 1)
    rows = [(f"https://big.example/{i}", ts,
             bytearray(b"<html><body>" + para * n + b"</body></html>"), "en")
            for i, n in enumerate((1600, 1300))]
    rows += [(f"https://small.example/{i}", ts,
              bytearray(b"<html><body>" + para * 8 + b"</body></html>"), "en")
             for i in range(40)]
    rows += [("https://small.example/null", ts, None, "en"),
             ("https://small.example/empty", ts, bytearray(), "en")]
    pages_path = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string"
    ).write.parquet(pages_path)

    out = J.run_job(spark, pages_path, str(tmp_path / "out"), run_id="p")
    got = pq.read_table(out["extracted_path"],
                        columns=["url", "partition_id"]).to_pylist()
    pid = {r["url"]: r["partition_id"] for r in got}
    assert len(got) == len(rows) == len(pid)
    assert set(pid.values()) == set(range(P))
    # the url partitioning made before the dedupe is the UDF's placement
    slot = F.pmod(F.hash("url"), F.lit(P))
    want = {r.url: r.s for r in spark.read.parquet(pages_path)
            .select("url", slot.alias("s")).collect()}
    assert pid == want
