"""Planted scan memory: a one-row-group pages file whose html column
does not fit a small driver heap in one Parquet reader batch.

Spark's vectorized reader fills 4096-row batches by default, so here one
batch would hold all 2,000 pages (~416 MB of html) on heap and the JVM
dies with OutOfMemoryError in ``OnHeapColumnVector.reserveInternal``.
``configure_session`` caps the reader batch at ``ARROW_MAX_RECORDS``
rows, and ``local_session`` applies it: the child scans on a fresh
session, before any ``extract()``. The JVM exits on that error, so the
session runs in a child interpreter.
"""

import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
ROWS = 2000
WORDS, REPEAT = "the quick brown fox jumps ", 8000  # ~208 KB of html a page

CHILD = f"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from goose_spark import job as J

path = sys.argv[1]
filler = ({WORDS!r} * {REPEAT}).encode()
html = pa.array((f"<p>{{i}} ".encode() + filler for i in range({ROWS})),
                pa.binary(), size={ROWS})
table = pa.table({{
    "url": [f"https://big.example/{{i}}" for i in range({ROWS})],
    "warc_ts": pa.nulls({ROWS}, pa.timestamp("us")),
    "html": html,
    "lang": ["en"] * {ROWS},
}})
pq.write_table(table, path, row_group_size={ROWS})
del filler, html, table

J.driver_heap_mb = lambda mem_total_mb: 2048
spark = J.local_session(2)
row = (J.prepare(J.read_pages(spark, path), partitions=8)
       .agg(F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("html")).alias("bytes"))
       .collect()[0])
print("RESULT", row["rows"], row["bytes"])
spark.stop()
"""


def test_one_row_group_scan_fits_a_2gb_heap(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path / "pages.parquet")],
        capture_output=True, text=True, cwd=str(ROOT), timeout=600)
    # a dead JVM leaves py4j's ConnectionRefusedError in the tail, so say
    # whether the OOM appears anywhere before it
    oom = "OutOfMemoryError" in proc.stderr
    assert proc.returncode == 0, (f"OutOfMemoryError in stderr: {oom}\n"
                                  + proc.stderr[-3000:])
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    expected_bytes = sum(len(f"<p>{i} ") + len(WORDS) * REPEAT
                         for i in range(ROWS))
    assert result == [f"RESULT {ROWS} {expected_bytes}"]
