"""The surface of the product, ``goose_spark.job`` with ``udf`` and
``schema``, pinned with no Spark session.

The harnesses and scripts outside the test suite call
``goose_spark.job`` by attribute (``J.<name>``) or by a ``from`` import,
so a rename or deletion there fails only when they run. This pins every
such name to the module. It also pins which project modules the job
imports, so a probe module cannot drift into the job's closure unseen,
and the ``gooselite.pipeline`` names perfbench's trace shims wrap.
"""

import ast
import pathlib
import re
import subprocess
import sys

from goose_spark import job

ROOT = pathlib.Path(__file__).resolve().parents[1]
CALLERS = ("perfbench/sparkjob.py", "bench.py", "scripts/scaling.py",
           "__spark_entry__.py", "scripts/run_extract.py",
           "scripts/rehearse.py")
REF = re.compile(r"\bJ\.(\w+)|from goose_spark\.job import (\w+)")


def test_harnesses_reference_only_existing_job_names():
    refs = {(path, attr or imported)
            for path in CALLERS
            for attr, imported in REF.findall((ROOT / path).read_text())}
    assert {path for path, _ in refs} == set(CALLERS)
    missing = sorted((p, n) for p, n in refs if not hasattr(job, n))
    assert missing == []


def test_only_the_job_module_sets_master_and_heap():
    """``job.local_session`` is the one place a master and a driver heap
    are chosen; a cluster's plain builder sets neither."""
    session_knob = re.compile(r"spark\.driver\.memory|\.master\(")
    allowed = {
        "goose_spark/job.py",
        "tests/test_job_surface.py",  # the pattern above
        # perfbench still builds its own session; the next benchmark
        # change moves it onto job.local_session
        "perfbench/sparkjob.py",
    }
    hits = []
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if (not rel.parts[0].startswith(".") and rel.as_posix() not in allowed
                and session_knob.search(path.read_text())):
            hits.append(rel.as_posix())
    assert hits == []


# the extraction core plus the job: what a worker running the job loads
JOB_CLOSURE = {
    "goose_spark", "goose_spark.job", "goose_spark.schema", "goose_spark.udf",
    "gooselite", "gooselite.cleaner", "gooselite.constants",
    "gooselite.encoding", "gooselite.formatter", "gooselite.metadata",
    "gooselite.minidom", "gooselite.pipeline", "gooselite.scoring",
    "gooselite.stopwords_data", "gooselite.text",
}


def test_job_imports_only_the_extraction_core():
    code = ("import sys, goose_spark.job, goose_spark.udf, goose_spark.schema\n"
            "print(*[m for m in sys.modules\n"
            "        if m.split('.')[0] in ('goose_spark', 'gooselite')])\n")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, cwd=str(ROOT), timeout=120)
    assert proc.returncode == 0, proc.stderr
    assert set(proc.stdout.split()) == JOB_CLOSURE


def test_perfbench_trace_shims_resolve_on_the_pipeline():
    """perfbench's traced run wraps names it looks up on
    ``gooselite.pipeline`` (``STAGES`` and ``METADATA`` in
    perfbench/local.py); a rename there otherwise fails only under
    ``perfbench/run.py --trace 1``."""
    from gooselite import pipeline

    tree = ast.parse((ROOT / "perfbench/local.py").read_text())
    found = {target.id: ast.literal_eval(node.value)
             for node in tree.body if isinstance(node, ast.Assign)
             for target in node.targets
             if isinstance(target, ast.Name)
             and target.id in ("STAGES", "METADATA")}
    names = set(found["STAGES"]) | set(found["METADATA"])
    assert len(names) > 20
    missing = sorted(n for n in names
                     if not callable(getattr(pipeline, n, None)))
    assert missing == []
