"""Invariants of the probe registry, ``__spark_entry__.probes()``.

The grader checks the first 50 entries of ``queries()`` against
``oracle_sql()``, and ``bench.py`` times a subset by name, so all of them
must agree with the one table. No Spark session is needed.
"""

import importlib
import inspect
import pkgutil

import bench
import goose_spark
import __spark_entry__ as entry

GRADED, TAIL = entry.probes()
NAMES = [fn.__name__ for fn, _ in GRADED + TAIL]
ROWS_ONLY = {"q_udf_extract"}


def test_probe_names_are_unique():
    assert len(NAMES) == len(set(NAMES))


def test_queries_lists_the_graded_section_first():
    assert len(GRADED) == 50  # the grading cap
    qs = entry.queries()
    assert list(qs) == NAMES
    assert all(qs[fn.__name__] is fn for fn, _ in GRADED + TAIL)


def test_every_probe_but_the_rows_only_ones_has_an_oracle():
    # a renderer that raises drops its key, so it fails here too
    osql = entry.oracle_sql()
    assert set(osql) <= set(NAMES)
    assert set(NAMES) - set(osql) == ROWS_ONLY
    assert all(isinstance(sql, str) and sql.strip() for sql in osql.values())


def test_bench_tail_queries_are_registered():
    assert set(bench._TAIL_QUERIES) <= set(NAMES)


def test_every_probe_function_is_registered():
    # a probe deleted from the table must take its code with it
    defined = set()
    for info in pkgutil.iter_modules(goose_spark.__path__):
        mod = importlib.import_module(f"goose_spark.{info.name}")
        defined |= {name for name, fn in inspect.getmembers(
                        mod, inspect.isfunction)
                    if name.startswith("q_") and fn.__module__ == mod.__name__}
    assert defined
    assert defined - set(NAMES) == set()
