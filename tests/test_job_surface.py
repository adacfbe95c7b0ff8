"""The harnesses and scripts outside the test suite call
``goose_spark.job`` by attribute (``J.<name>``) or by a ``from`` import,
so a rename or deletion there fails only when they run. This pins every
such name to the module, with no Spark session.
"""

import pathlib
import re

from goose_spark import job

ROOT = pathlib.Path(__file__).resolve().parents[1]
CALLERS = ("perfbench/sparkjob.py", "bench.py", "BENCH/run_scaling.py",
           "__spark_entry__.py", "scripts/run_extract.py")
REF = re.compile(r"\b(?:J|_J0)\.(\w+)|from goose_spark\.job import (\w+)")


def test_harnesses_reference_only_existing_job_names():
    refs = {(path, attr or imported)
            for path in CALLERS
            for attr, imported in REF.findall((ROOT / path).read_text())}
    assert {path for path, _ in refs} == set(CALLERS)
    missing = sorted((p, n) for p, n in refs if not hasattr(job, n))
    assert missing == []
