#!/usr/bin/env python
"""Byte-identity fingerprint of extraction over one corpus.

    python scripts/extract_hash.py <sf_dir>

``<sf_dir>`` is a testdata scale directory (it holds documents.parquet).
Its fixture pages come from ``goose_spark.fixtures.ensure_pages``, which
generates and caches them on first use. Every page goes through
``gooselite.extract_one``; the results are sorted by url and serialised
as canonical JSON with every field except the timing field ``parse_ms``,
and the script prints the sha256 of that stream and the document count.

Run it from two checkouts on the same ``<sf_dir>``: equal hashes mean the
two produce byte-identical extraction output on that corpus.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

from goose_spark.fixtures import ensure_pages  # noqa: E402
from gooselite import extract_one  # noqa: E402


def extract_hash(sf_dir: str) -> tuple[str, int]:
    pages, _expected = ensure_pages(sf_dir)
    cols = pq.read_table(pages, columns=["url", "html", "lang"]).to_pydict()
    results = [extract_one(html, lang, url) for url, html, lang
               in zip(cols["url"], cols["html"], cols["lang"])]
    results.sort(key=lambda r: r["url"])
    digest = hashlib.sha256()
    for r in results:
        del r["parse_ms"]
        digest.update(json.dumps(r, sort_keys=True).encode() + b"\n")
    return digest.hexdigest(), len(results)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", help="testdata scale dir with documents.parquet")
    args = ap.parse_args()
    hexdigest, docs = extract_hash(args.sf_dir)
    print(f"{hexdigest}  {docs} docs  {os.path.basename(os.path.normpath(args.sf_dir))}")


if __name__ == "__main__":
    main()
