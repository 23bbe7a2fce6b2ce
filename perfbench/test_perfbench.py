"""Fast tests of the benchmark's own parts (no Spark session).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from pdfplumber_golang_spark.kernel.extract import extract_document  # noqa: E402


@pytest.fixture(scope="module")
def corpus():
    return workloads.load_corpus()


@pytest.mark.parametrize("workload", list(workloads.KINDS))
def test_generator_is_deterministic_per_seed(workload, corpus):
    a = workloads.generate(workload, 7, n=48, corpus=corpus)
    b = workloads.generate(workload, 7, n=48, corpus=corpus)
    c = workloads.generate(workload, 8, n=48, corpus=corpus)
    assert a.rows == b.rows and a.expected == b.expected
    assert a.digest() == b.digest() != c.digest()


def test_pdf_text_covers_every_variant(corpus):
    inp = workloads.generate("pdf_text", 3, corpus=corpus)
    assert set(inp.variants.values()) == set(workloads.PDF_MIX) | {"malformed"}


def test_digests_match_the_recorded_canaries(corpus):
    import run

    for w in workloads.KINDS:
        run.verify_digests(w, corpus)


def test_checker_flags_a_single_corrupted_doc(corpus):
    inp = workloads.generate("pdf_text", 5, n=40, corpus=corpus)
    rows = [(u, m) for u, m in inp.expected.items() if m is not None]
    ok = check.check_text(rows, inp.expected)
    assert ok.wrong == 0 and ok.errors == sum(m is None for m in inp.expected.values()) > 0
    url, _ = rows[3]
    rows[3] = (url, hashlib.md5(b"not the golden text").hexdigest())
    assert check.check_text(rows, inp.expected).wrong == 1
    assert check.check_text(rows[:-1], inp.expected).wrong == 2  # one wrong, one missing


def test_checker_flags_a_single_wrong_canonical():
    want = {1: 1, 5: 1, 1_000_001: 1, 7: 7}
    rows = list(want.items())
    assert check.check_canonical(rows, want).wrong == 0
    rows[2] = (1_000_001, 1_000_001)
    out = check.check_canonical(rows, want)
    assert (out.docs, out.wrong) == (3, 1)


def test_expected_canonical_joins_near_copies(tmp_path, corpus):
    inp = workloads.generate(workloads.DEDUP, 2, n=24, corpus=corpus)
    workloads.write(inp, str(tmp_path), 2)
    canon = check.expected_canonical(str(tmp_path))
    ids = [i for i, _ in inp.rows]
    assert all(canon[i + workloads.dedup.DUP_OFFSET] == canon[i] for i in ids)
    assert len({canon[i] for i in ids}) < len(ids)  # the planted clusters


@pytest.mark.parametrize("workload", ["html_text", "pdf_text"])
def test_ladder_equals_extract_document(workload, corpus):
    inp = workloads.generate(workload, 11, n=120, corpus=corpus)
    counts = tracing.LadderCounts()
    for url, raw in inp.rows:
        pages, err = extract_document(url, raw)
        want = None if err is not None else "\n".join(p.text for p in pages)
        assert tracing.ladder(raw, {}, counts) == want, url
    assert counts.docs == len(inp.rows)
    assert counts.errors == sum(v == "malformed" for v in inp.variants.values())
