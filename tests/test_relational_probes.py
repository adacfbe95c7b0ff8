"""L3 conformance (SURVEY.md §5.2): every oracle-backed probe in
__spark_entry__ runs on Spark at sf0.01 and must match DuckDB on the same
parquet — row count + order-insensitive normalized values (mirrors the
driver's compare)."""

import datetime
import math

import duckdb
import pytest

import __spark_entry__ as entry
from goose_spark.ducklab import SF_DIR_DEFAULT as SF_DIR
from goose_spark.ducklab import duck_views


@pytest.fixture(scope="module")
def duck():
    con = duck_views(duckdb.connect(), SF_DIR)
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        return f"{v:.9g}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)[:10] if isinstance(v, datetime.date) else str(v)
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


ORACLED = sorted(entry.oracle_sql().keys() - {"q_ann_cosine_topk"})


@pytest.mark.parametrize("name", ORACLED)
def test_probe_matches_duckdb(spark, duck, name):
    q = entry.queries()[name]
    sdf = q(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    ores = duck.execute(entry.oracle_sql()[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    a, b = _normalize(srows, scols), _normalize(orows, ocols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diff}")


def test_ann_cosine_topk_matches_duckdb(spark, duck):
    from goose_spark.ann import oracle_ann_cosine_topk, q_ann_cosine_topk

    sdf = q_ann_cosine_topk(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    sql = oracle_ann_cosine_topk(SF_DIR)
    ores = duck.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert len(srows) == len(orows) == 10
    assert _normalize(srows, sdf.columns) == _normalize(orows, ocols)


def test_rows_only_probes_run(spark):
    """The one rows-only probe, the extraction UDF, must execute and
    return a stable schema."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    rows_only = [n for n in qs if n not in oracles]
    assert rows_only == ["q_udf_extract"]
    df = qs["q_udf_extract"](spark, SF_DIR)
    assert df.columns[:3] == ["url", "status", "lang"]
    assert df.count() > 0
