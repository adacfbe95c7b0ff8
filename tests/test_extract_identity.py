"""Byte-identity gate for extraction output.

``scripts/extract_hash.py`` fingerprints ``extract_one`` over every page
of a fixture corpus. The sf0.001 and sf0.01 fingerprints are pinned
here, so any change to the bytes extraction produces fails tier-1
instead of waiting for a manual hash comparison. Only a
``FIXTURE_VERSION`` bump (new fixture pages) may re-pin them; a change
to gooselite that moves one is a behaviour change, not a refactor.
"""

import importlib.util
import os

from goose_spark.ducklab import SF_DIR_DEFAULT
from goose_spark.fixtures import FIXTURE_VERSION

PINNED = {  # FIXTURE_VERSION → scale → (sha256, docs)
    14: {
        "sf0.001": ("24d123fef21edcab9cdf21d4805bc581f4e03d1a36906a4f68a5766c2e1c0fd3", 525),
        "sf0.01": ("f8357db702420b8faa13381df2cf898bbeb3a4f02c3d1efcc8ca38744559bc4a", 525),
    },
}


def _assert_pinned(sf):
    assert FIXTURE_VERSION in PINNED, (
        f"FIXTURE_VERSION {FIXTURE_VERSION} has no pinned hash: re-pin it "
        "with scripts/extract_hash.py on the new fixture pages")
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "scripts", "extract_hash.py")
    spec = importlib.util.spec_from_file_location("extract_hash", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sf_dir = os.path.join(os.path.dirname(SF_DIR_DEFAULT), sf)
    assert mod.extract_hash(sf_dir) == PINNED[FIXTURE_VERSION][sf]


def test_sf0001_extraction_is_byte_identical():
    _assert_pinned("sf0.001")


def test_sf001_extraction_is_byte_identical():
    _assert_pinned("sf0.01")
