"""``scripts/scaling.py`` at its smallest: the input record, one job level
and one ceiling level at sf0.001 and local[1], each level in its own
interpreter as the script runs them."""

import importlib.util
import os
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _scaling():
    spec = importlib.util.spec_from_file_location(
        "scaling", ROOT / "scripts" / "scaling.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_one_job_level_and_one_ceiling_level_at_sf0001():
    from goose_spark.ducklab import SF_DIR_DEFAULT
    from goose_spark.fixtures import ensure_pages

    scaling = _scaling()
    pages, _ = ensure_pages(os.path.join(os.path.dirname(SF_DIR_DEFAULT),
                                         "sf0.001"))
    record = scaling.input_record(pages)
    assert record["pages"] == pages and record["row_groups"] == 1
    assert record["rows"] > record["urls"] > 0 and record["mib"] > 0

    job = scaling.run_level("job", 1, pages)
    assert job["batch_rows"] == record["urls"] and job["sec"] > 0
    ceiling = scaling.run_level("ceiling", 1, pages)
    # the ceiling extracts every row, duplicates included
    assert ceiling["docs"] == record["rows"] and ceiling["sec"] > 0
