"""goose_spark — the PySpark layer of the article-extraction engine.

Everything relational is built-in DataFrame API (Catalyst is the engine,
SURVEY.md §2.7); the only custom compute is the gooselite extraction UDF
(one ``mapInPandas`` call per Arrow batch, SURVEY.md §2.5) plus ~200 lines
of job plumbing: url partitioning, dedupe, checkpoint anti-join, size-bucketing,
metrics (SURVEY.md §7.3).
"""
