#!/usr/bin/env python
"""spark-submit entry point for the extraction job (SURVEY.md §3.2).

    spark-submit --py-files dist/goose_pyfiles.zip scripts/run_extract.py \
        --src /path/to/pages.parquet --dst /path/to/out --run-id R1 \
        [--partitions 4096] [--iceberg]

With --iceberg, --src is an Iceberg table identifier instead of a
Parquet path (requires the iceberg-spark runtime jar on the cluster;
not present in this sandbox — SURVEY.md §0.4). Resume: re-running with
the same --dst/--run-id anti-joins completed urls from the checkpoint
table and extracts only the remainder. --dst may be a local path or
any Hadoop filesystem URI (s3a://, hdfs://, file://).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True, help="pages table: parquet path, or Iceberg id with --iceberg")
    ap.add_argument("--dst", required=True, help="output dir (extracted/ metrics/ checkpoint/)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--partitions", type=int, default=None,
                    help="UDF-stage partitions (default defaultParallelism)")
    ap.add_argument("--iceberg", action="store_true")
    ap.add_argument("--init-ddl", action="store_true",
                    help="with --iceberg: CREATE TABLE IF NOT EXISTS the "
                         "four job tables (goose_spark.iceberg.ddl_sql) in the "
                         "catalog derived from --src before running")
    args = ap.parse_args()

    from goose_spark import job as J

    J.apply_malloc_env()  # local mode; on a cluster use spark.executorEnv.*
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"goose-extract-{args.run_id}").getOrCreate()
    if args.iceberg:
        if args.init_ddl:
            from goose_spark.iceberg import ddl_sql

            catalog = args.src.rsplit(".", 1)[0]  # db of the pages table
            for stmt in ddl_sql(catalog):
                spark.sql(stmt)
        pages = spark.read.format("iceberg").load(args.src)
        result = J.run_job_df(spark, pages, args.dst, args.run_id, args.partitions)
    else:
        result = J.run_job(spark, args.src, args.dst, args.run_id, args.partitions)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
