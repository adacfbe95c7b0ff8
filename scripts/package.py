#!/usr/bin/env python
"""Build the spark-submit --py-files artifact (BASELINE.json:6 "ships as
spark-submit --py-files artifacts").

Produces dist/goose_pyfiles.zip containing the ``gooselite`` and
``goose_spark`` packages (source only, deterministic ordering and
timestamps so the artifact hash is reproducible). Usage on a cluster:

    spark-submit --py-files dist/goose_pyfiles.zip \
        scripts/run_extract.py --src <pages table> --dst <out dir> --run-id R1
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGES = ("gooselite", "goose_spark")
# fixed timestamp for reproducible zips (zip format needs >= 1980)
_EPOCH = (1980, 1, 1, 0, 0, 0)


def build(out_path: str | None = None) -> str:
    out_path = out_path or os.path.join(REPO, "dist", "goose_pyfiles.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    names: list[str] = []
    for pkg in PACKAGES:
        for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, pkg)):
            dirnames[:] = [d for d in sorted(dirnames) if d != "__pycache__"]
            for fn in sorted(filenames):
                if fn.endswith(".py") or fn.endswith(".txt"):
                    names.append(os.path.relpath(os.path.join(dirpath, fn), REPO))
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel in sorted(names):
            with open(os.path.join(REPO, rel), "rb") as f:
                info = zipfile.ZipInfo(rel, date_time=_EPOCH)
                info.external_attr = 0o644 << 16
                zf.writestr(info, f.read())
    return out_path


if __name__ == "__main__":
    path = build()
    print(path, f"({os.path.getsize(path)} bytes)")
