"""Semantics test for the Iceberg checkpoint MERGE (VERDICT r2 item 8):
re-committing the same url range must be a no-op — proven by executing
the WHEN-NOT-MATCHED rewrite (goose_spark.iceberg) under DuckDB, plus a
partial-overlap case (crash-between-writes replay) and a concurrent-runs
case (two run_ids over the same urls stay distinct)."""

import duckdb
import pytest

from goose_spark.iceberg import (
    checkpoint_merge_portable_sql,
    checkpoint_merge_sql,
    ddl_sql,
)


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE checkpoint "
              "(run_id VARCHAR NOT NULL, url VARCHAR NOT NULL, "
              " completed_ts TIMESTAMP)")
    c.execute("CREATE TABLE batch_urls "
              "(run_id VARCHAR, url VARCHAR, completed_ts TIMESTAMP)")
    yield c
    c.close()


def _commit(con):
    con.execute(checkpoint_merge_portable_sql())


def _rows(con):
    return con.execute(
        "SELECT run_id, url FROM checkpoint ORDER BY run_id, url").fetchall()


def test_same_batch_recommit_is_noop(con):
    con.execute("INSERT INTO batch_urls VALUES "
                "('r1','u1',now()), ('r1','u2',now()), ('r1','u3',now())")
    _commit(con)
    first = _rows(con)
    assert first == [("r1", "u1"), ("r1", "u2"), ("r1", "u3")]
    # exact replay (task retry / speculative duplicate): zero new rows
    _commit(con)
    _commit(con)
    assert _rows(con) == first


def test_partial_overlap_inserts_only_new_urls(con):
    """Crash between the extracted write and the checkpoint commit: the
    re-run's batch overlaps the committed prefix; only the tail lands."""
    con.execute("INSERT INTO batch_urls VALUES ('r1','u1',now()), ('r1','u2',now())")
    _commit(con)
    con.execute("DELETE FROM batch_urls")
    con.execute("INSERT INTO batch_urls VALUES "
                "('r1','u2',now()), ('r1','u3',now()), ('r1','u4',now())")
    _commit(con)
    assert _rows(con) == [("r1", "u1"), ("r1", "u2"), ("r1", "u3"), ("r1", "u4")]
    # u2 exactly once despite appearing in both batches
    assert con.execute(
        "SELECT COUNT(*) FROM checkpoint WHERE url='u2'").fetchone()[0] == 1


def test_distinct_run_ids_do_not_collide(con):
    """The merge key is (run_id, url): the same url completed by another
    run is a separate checkpoint row, matching resume_filter's per-run
    semantics (job.py)."""
    con.execute("INSERT INTO batch_urls VALUES ('r1','u1',now())")
    _commit(con)
    con.execute("DELETE FROM batch_urls")
    con.execute("INSERT INTO batch_urls VALUES ('r2','u1',now())")
    _commit(con)
    assert _rows(con) == [("r1", "u1"), ("r2", "u1")]


def test_rendered_statements_shape():
    """The Iceberg-native statements render with the deployment catalog;
    the portable rewrite targets the same key."""
    merge = checkpoint_merge_sql(catalog="prod.cc", batch_view="batch_urls")
    assert "MERGE INTO prod.cc.checkpoint" in merge
    assert "t.run_id = s.run_id AND t.url = s.url" in merge
    assert "WHEN NOT MATCHED" in merge
    ddls = ddl_sql("prod.cc")
    assert len(ddls) == 4
    assert any("bucket(1024, url)" in d and "checkpoint" in d for d in ddls)
    # pages and checkpoint share the url bucketing
    assert sum("bucket(1024, url)" in d for d in ddls) == 2


def test_within_batch_duplicates_collapse(con):
    """Duplicate (run_id, url) rows WITHIN one batch (task retries
    re-listing a url) must land exactly once: NOT EXISTS only guards
    against rows already in the target, so the statement pre-collapses
    the source with a GROUP BY (ADVICE r3)."""
    con.execute("INSERT INTO batch_urls VALUES "
                "('r9','u1',now()), ('r9','u1',now()), ('r9','u2',now())")
    con.execute(checkpoint_merge_portable_sql())
    n = con.execute("SELECT COUNT(*) FROM checkpoint "
                    "WHERE run_id='r9'").fetchone()[0]
    assert n == 2
    n1 = con.execute("SELECT COUNT(*) FROM checkpoint "
                     "WHERE run_id='r9' AND url='u1'").fetchone()[0]
    assert n1 == 1


def test_extracted_ddl_matches_schema():
    """The deploy DDL for the extracted table carries every column of
    schema.EXTRACTED in order (drift here silently loses columns at
    deploy time — the markdown/authors/opengraph/links surface once
    lagged this way)."""
    import re

    from goose_spark.schema import EXTRACTED

    ddl = next(d for d in ddl_sql() if ".extracted (" in d)
    body = ddl.split("(", 1)[1].rsplit(")", 1)[0]
    ddl_cols = [c.strip().split()[0]
                for c in re.split(r",(?![^<]*>)", body) if c.strip()]
    assert ddl_cols == [f.name for f in EXTRACTED.fields]
