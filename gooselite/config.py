"""Per-call extraction configuration (SURVEY.md A21).

[canon: goose/configuration.py] — the reference constructs Goose with a
Configuration object (target_language forcing the stopword table, parser
choice, feature toggles). The checkout was empty at build time
(SURVEY.md §0.1); the knob set below covers the configuration surface our
pipeline actually consults. Frozen dataclass so it is hashable,
serializable into the Spark UDF closure, and immutable per job.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractionConfig:
    """Knobs consulted by gooselite.extract_one and the Spark layer.

    target_language: forces the stopword table for every document,
        overriding the per-row lang column (the reference's EP3 semantics,
        SURVEY.md §3.1); None → lang column primary, meta-lang fallback.
    enable_publish_date / enable_videos / enable_tags / enable_images /
    enable_authors / enable_opengraph / enable_links:
        feature toggles for
        the optional Article fields (A19 / A18 / A16 / A4-ext); disabled
        fields come back None/empty, the pipeline itself is unchanged.
    enable_markdown: additionally render the cleaned top node as
        markdown (gooselite.markdown; beyond-reference surface). OFF by
        default — the canonical flat-text bytes are never affected.
    """

    target_language: str | None = None
    enable_publish_date: bool = True
    enable_videos: bool = True
    enable_tags: bool = True
    enable_images: bool = True
    enable_authors: bool = True
    enable_opengraph: bool = True
    enable_links: bool = True
    enable_markdown: bool = False


DEFAULT_CONFIG = ExtractionConfig()
