"""Packaging artifact (BASELINE.json:6 "ships as spark-submit --py-files
artifacts"): the zip must contain both packages, be importable as a
--py-files root, and be byte-reproducible."""

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build(out: str) -> None:
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import package
    finally:
        sys.path.pop(0)
    package.build(out)


def test_pyfiles_zip_builds_and_imports(tmp_path):
    out = str(tmp_path / "goose_pyfiles.zip")
    _build(out)
    with zipfile.ZipFile(out) as zf:
        names = set(zf.namelist())
    assert "gooselite/pipeline.py" in names
    assert "goose_spark/job.py" in names
    assert "gooselite/wav.py" not in names
    assert "gooselite/config.py" not in names
    assert not any("__pycache__" in n for n in names)

    # importable with ONLY the zip on sys.path (the --py-files contract)
    html = (b"<html><body><div><p>Some of the words that we know are "
            b"stopwords for all of us here today.</p><p>And this is more "
            b"of that text we would like to keep in the end.</p></div>"
            b"</body></html>")
    code = (
        f"import sys; sys.path.insert(0, {out!r})\n"
        f"from gooselite.pipeline import extract_one\n"
        f"r = extract_one({html!r}, 'en', 'https://u')\n"
        f"assert r['status'] == 'ok', r\n"
        f"print('OK')\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, cwd=str(tmp_path), timeout=60)
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr


def test_pyfiles_zip_reproducible(tmp_path):
    a, b = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    _build(a)
    _build(b)
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()
