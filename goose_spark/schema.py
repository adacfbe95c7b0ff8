"""Normative schemas (SURVEY.md §1.2; input shape mandated by
BASELINE.json:15 input_hint)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input: Iceberg table of Common-Crawl-style pages (BASELINE.json:15).
PAGES = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),   # CC-provided text, NOT our output
    StructField("lang", StringType(), True),
])

# Output of the extraction UDF (gooselite.extract_one fields + passthrough).
EXTRACTED = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("lang", StringType(), True),          # effective stopword lang
    StructField("title", StringType(), True),
    StructField("cleaned_text", StringType(), True),
    StructField("meta_description", StringType(), True),
    StructField("meta_keywords", StringType(), True),
    StructField("meta_lang", StringType(), True),
    StructField("canonical_link", StringType(), True),
    StructField("domain", StringType(), True),
    StructField("tags", ArrayType(StringType()), True),
    StructField("movies", ArrayType(StringType()), True),  # A18 video srcs
    StructField("publish_date", StringType(), True),  # A19, as stated on page
    StructField("top_image", StringType(), True),     # A17-lite: og/twitter image
    StructField("authors", ArrayType(StringType()), True),    # A4-ext bylines
    # full OpenGraph map as sorted "key=value" strings (a map column's
    # iteration order is nondeterministic on collect; array is stable)
    StructField("opengraph", ArrayType(StringType()), True),
    StructField("links", ArrayType(StringType()), True),  # A16-ext: in-article anchors
    # markdown output surface (gooselite/markdown.py): filled only by
    # extract_one(markdown=True); the job's rows leave it null
    StructField("markdown", StringType(), True),
    StructField("lang_fallback", BooleanType(), True),  # A5 non-primary lang
    StructField("status", StringType(), False),       # ok|empty|parse_error|decode_error
    StructField("err", StringType(), True),
    StructField("bytes_in", LongType(), True),
    StructField("parse_ms", DoubleType(), True),
    StructField("partition_id", IntegerType(), True), # lineage (TaskContext)
    StructField("bucket", IntegerType(), True),       # size bucket (B16)
])

# Per-partition lineage/metrics table (BASELINE.json:6; FIXTURES.md §3).
METRICS = StructType([
    StructField("run_id", StringType(), False),
    StructField("partition_id", IntegerType(), True),
    StructField("bucket", IntegerType(), True),
    StructField("lang", StringType(), True),
    StructField("docs_in", LongType(), True),
    StructField("ok", LongType(), True),
    StructField("parse_failures", LongType(), True),
    StructField("empty_extractions", LongType(), True),
    StructField("decode_errors", LongType(), True),
    StructField("timeouts", LongType(), True),
    StructField("lang_fallbacks", LongType(), True),  # A5 promised metric
    StructField("bytes_processed", LongType(), True),
    StructField("wall_ms", DoubleType(), True),
    StructField("started_ts", TimestampType(), True),
])

# Resume state (FIXTURES.md §4): written only AFTER extracted rows are
# durably written; consumed via LEFT ANTI join (SURVEY.md B4/B21).
CHECKPOINT = StructType([
    StructField("run_id", StringType(), False),
    StructField("url", StringType(), False),
    StructField("completed_ts", TimestampType(), True),
])
