"""CLI + spark-submit entry-point tests."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from pdfplumber_golang_spark import spec
from pdfplumber_golang_spark.kernel.pdfwrite import build_pdf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEXT = ("cli round trip body text for the scripts " * 4).strip()


@pytest.fixture()
def pdf_file():
    data, golden = build_pdf(5, TEXT, "pdf_plain")
    d = tempfile.mkdtemp()
    path = os.path.join(d, "doc.pdf")
    with open(path, "wb") as f:
        f.write(data)
    yield path, golden
    shutil.rmtree(d, ignore_errors=True)


def _run(args):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "extract_text.py"), *args],
        capture_output=True, text=True, cwd=REPO,
    )


def test_cli_text(pdf_file):
    path, golden = pdf_file
    out = _run([path])
    assert out.returncode == 0
    assert out.stdout.rstrip("\n") == golden


def test_cli_meta_and_words(pdf_file):
    path, _ = pdf_file
    meta = json.loads(_run([path, "--meta"]).stdout)
    assert meta["Title"] == "doc 5"
    words = [json.loads(l) for l in _run([path, "--words"]).stdout.splitlines()]
    assert words[0]["text"] == "cli"


def test_cli_encrypted():
    data, golden = build_pdf(23, TEXT, "pdf_encrypted")
    d = tempfile.mkdtemp()
    path = os.path.join(d, "enc.pdf")
    with open(path, "wb") as f:
        f.write(data)
    try:
        out = _run([path])
        assert out.returncode == 0 and out.stdout.rstrip("\n") == golden
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_run_extract_script(spark, tmp_path):
    """spark-submit entry point: checkpointed run over a small pages slice
    (invoked via main() against the session fixture)."""
    from pdfplumber_golang_spark.sources.pagesgen import load_or_build_pages

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import run_extract

    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    load_or_build_pages(spark, "/root/testdata/sf0.001").limit(60).write.parquet(in_dir)
    rc = run_extract.main(
        ["--input", in_dir, "--output", out_dir, "--buckets", "4",
         "--group-size", "2", "--parallelism", "4"]
    )
    assert rc == 0
    from pdfplumber_golang_spark.plans import checkpoint

    assert checkpoint.read_output(spark, out_dir).select("url").distinct().count() == 60


def test_pages_cache_follows_checkout(tmp_path):
    """The pages cache lives in the checkout that holds the imported
    package: a copy of the package never reads this checkout's cache."""
    shutil.copytree(
        os.path.join(REPO, "pdfplumber_golang_spark"),
        tmp_path / "pdfplumber_golang_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = subprocess.run(
        [sys.executable, "-c",
         "from pdfplumber_golang_spark.sources.pagesgen import pages_cache_path;"
         "print(pages_cache_path('/data/sf0.001'))"],
        capture_output=True, text=True, cwd=tmp_path, check=True,
        env={**os.environ, "PYTHONPATH": str(tmp_path)},
    )
    path = out.stdout.strip()
    assert path == os.path.join(str(tmp_path), ".pages_cache", "sf0.001")
