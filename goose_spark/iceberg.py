"""Iceberg realization of the job's tables and the idempotent checkpoint
commit (SURVEY.md §0.4 / §1.2; VERDICT r2 item 8 — "the cluster path is
code, not prose").

No Iceberg jar ships in this sandbox, so `goose_spark.job` stands the
tables in as partitioned Parquet; THIS module is the artifact a cluster
deploy executes instead: the DDL for the four tables, rendered from
``goose_spark.schema`` so it cannot drift from the job, and the MERGE
that replaces the checkpoint append. `tests/test_iceberg_semantics.py` proves
the MERGE's idempotence contract (re-committing the same url range is a
no-op) by executing the standard-SQL WHEN-NOT-MATCHED rewrite under
DuckDB — same semantics, engine-checkable here.

Scale rationale (BASELINE.json north_star: "resumable from checkpoint by
anti-joining completed url ranges"):

* resume broadcasts one run's url history, up to 512 MB on storage
  (``job.CHECKPOINT_BROADCAST_MAX_BYTES``; ~57M urls at the measured
  8.9 MB per 1M urls). Past it resume still completes, with a
  sort-merge anti-join after the url shuffle.
* the MERGE makes checkpoint commits idempotent under task retries and
  speculative execution: a replayed commit of the same (run_id, url)
  range inserts nothing, so a crash between the extracted write and the
  checkpoint commit is safe to re-run end-to-end.
* metrics/checkpoint derive from the extracted write's own snapshot
  (incremental read), mirroring job.py's batch-scoped listing.
"""

from __future__ import annotations

from goose_spark.schema import CHECKPOINT, EXTRACTED, METRICS, PAGES

# The job's tables in creation order: name, schema.py schema, Iceberg
# partition spec (None: unpartitioned).
TABLES = (
    ("pages", PAGES, "days(warc_ts), bucket(1024, url)"),
    ("extracted", EXTRACTED, "bucket"),
    ("metrics", METRICS, None),
    ("checkpoint", CHECKPOINT, "bucket(1024, url)"),
)

# The B21 commit as Iceberg executes it: WHEN NOT MATCHED INSERT keyed on
# (run_id, url). A retried/replayed commit of the same batch matches every
# row and inserts nothing — the idempotence the local path gets from
# append + a LEFT ANTI resume join, which duplicate checkpoint urls
# cannot change (job.py resume_filter).
CHECKPOINT_MERGE = """
MERGE INTO {catalog}.checkpoint t
USING (SELECT run_id, url, MAX(completed_ts) AS completed_ts
       FROM {batch_view} GROUP BY run_id, url) s
ON  t.run_id = s.run_id AND t.url = s.url
WHEN NOT MATCHED THEN
  INSERT (run_id, url, completed_ts)
  VALUES (s.run_id, s.url, s.completed_ts)
"""

# Standard-SQL rewrite of CHECKPOINT_MERGE, used (a) by the DuckDB
# semantics test below the sandbox's engine support (DuckDB 1.0 has no
# MERGE parser) and (b) as the fallback on any engine without MERGE:
# WHEN NOT MATCHED ≡ insert the source rows with no match in the target.
# The NOT EXISTS must be evaluated against the PRE-statement target
# snapshot (both MERGE and a single INSERT..SELECT statement guarantee
# this), which is what makes replays no-ops rather than dup inserts.
# NOT EXISTS only guards against rows already in the TARGET; duplicate
# (run_id, url) rows WITHIN one batch (task retries re-listing a url)
# would all insert, so both statements pre-collapse the source with a
# GROUP BY on the key. (The local path needs no such collapse: its
# checkpoint is only read through job.py resume_filter's anti-join.)
CHECKPOINT_MERGE_PORTABLE = """
INSERT INTO {checkpoint_table} (run_id, url, completed_ts)
SELECT s.run_id, s.url, s.completed_ts
FROM (SELECT run_id, url, MAX(completed_ts) AS completed_ts
      FROM {batch_view} GROUP BY run_id, url) s
WHERE NOT EXISTS (
  SELECT 1 FROM {checkpoint_table} t
  WHERE t.run_id = s.run_id AND t.url = s.url
)
"""


def checkpoint_merge_sql(catalog: str = "prod.cc",
                         batch_view: str = "batch_urls") -> str:
    """Render the Iceberg MERGE for this deployment's catalog and the
    temp view holding the batch's completed urls."""
    return CHECKPOINT_MERGE.format(catalog=catalog, batch_view=batch_view)


def checkpoint_merge_portable_sql(checkpoint_table: str = "checkpoint",
                                  batch_view: str = "batch_urls") -> str:
    """Render the engine-portable WHEN-NOT-MATCHED rewrite."""
    return CHECKPOINT_MERGE_PORTABLE.format(
        checkpoint_table=checkpoint_table, batch_view=batch_view)


def ddl_sql(catalog: str = "prod.cc") -> list[str]:
    """All four table DDLs for the deployment catalog, creation order:
    one line per schema.py field, NOT NULL where the field is not
    nullable."""
    stmts = []
    for table, schema, partitioned_by in TABLES:
        cols = ",\n".join(
            f"  {f.name} {f.dataType.simpleString()}"
            + ("" if f.nullable else " NOT NULL") for f in schema.fields)
        stmt = (f"CREATE TABLE IF NOT EXISTS {catalog}.{table} (\n{cols}\n)"
                " USING iceberg")
        if partitioned_by:
            stmt += f"\nPARTITIONED BY ({partitioned_by})"
        stmts.append(stmt)
    return stmts
