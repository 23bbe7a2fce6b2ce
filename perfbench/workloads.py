"""Seeded workload inputs and the expected outputs that come with them.

Every input is a pure function of ``(workload, seed)``: texts are drawn from
``corpus.parquet`` (the ``text`` column of the sf0.1 ``documents`` table) and
PDF/HTML payloads come from ``kernel.pdfwrite.build_payload``.  Doc ids are
drawn per variant so that ``spec.variant_of`` yields a fixed mix, and the
variant counts, text counts per doc and mega pages are the same for every
seed; only which texts and which ids are drawn changes.  That keeps the work
per run nearly constant across seeds, so the run-to-run spread measures the
system rather than the sample.

Besides the workloads, ``DEDUP`` names the seeded ``documents`` table that
pdf_text's traced run feeds to ``functions.dedup``.

Expected outputs never come from the code under test: the text workloads use
the golden text ``build_payload`` returns (the spec's closed-form goldens),
and the dedup table uses the DuckDB oracle pairs plus a union-find in
``check.py``.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from pdfplumber_golang_spark import spec
from pdfplumber_golang_spark.functions import dedup
from pdfplumber_golang_spark.kernel.pdfwrite import build_payload

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus.parquet")

#: workload -> (kind, docs per job)
WORKLOADS = {
    "html_text": ("html", 3992),
    "pdf_text": ("pdf", 260),
}
#: the traced dedup input: ``dedup_canonical``'s cost is mostly plan
#: building and barely grows with its input, so a small table suffices
DEDUP = "dedup"
DEDUP_DOCS = 300
KINDS = {**{w: k for w, (k, _) in WORKLOADS.items()}, DEDUP: "dedup"}

#: PDF variant mix per 16 PDF docs, as ``spec.variant_of`` spreads it over
#: every 40 consecutive doc ids
PDF_MIX = {
    "pdf_plain": 2, "pdf_xrefstream": 1, "pdf_encrypted": 1, "pdf_flate": 4,
    "pdf_cmap": 2, "pdf_kerned": 2, "pdf_multipage": 4,
}
MAX_TEXTS_PER_PDF = 20
#: near copies per cluster centre in the dedup table (cycled), and the share
#: of base docs that are centres
COPIES_PER_CENTRE = (1, 2, 3)
CENTRE_EVERY = 4
ID_LIMIT = dedup.DUP_OFFSET  # dedup twins live at +1e6 / +2e6


@dataclass
class Inputs:
    """One workload's generated input plus what the program must return."""

    workload: str
    seed: int
    #: text workloads: (url, payload); dedup: (doc_id, text)
    rows: list[tuple]
    #: text workloads: url -> md5 hex of the golden text, None for a planned
    #: malformed doc (expected: an error row or no row)
    expected: dict = field(default_factory=dict)
    variants: dict = field(default_factory=dict)
    #: chars of text each row carries, the work ``write`` balances files by
    weights: list[int] = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return len(self.rows)

    def digest(self) -> str:
        """sha256 over the payloads and the expected outputs."""
        h = hashlib.sha256(f"{self.workload}:{self.seed}\n".encode())
        for key, val in self.rows:
            h.update(str(key).encode() + b"\0")
            h.update(hashlib.md5(val if isinstance(val, bytes) else val.encode()).digest())
            h.update(str(self.expected.get(key)).encode() + b"\n")
        return h.hexdigest()


def load_corpus() -> list[str]:
    return pq.read_table(CORPUS, columns=["text"]).column("text").to_pylist()


def _draw_ids(rng: random.Random, want: str, n: int, taken: set[int]) -> list[int]:
    out = []
    while len(out) < n:
        i = rng.randrange(ID_LIMIT)
        if i not in taken and spec.variant_of(i) == want and i % spec.MEGA_MOD != spec.MEGA_REM:
            taken.add(i)
            out.append(i)
    return out


def _draw_mega_ids(rng: random.Random, n: int, taken: set[int]) -> list[int]:
    out = []
    while len(out) < n:
        i = rng.randrange(ID_LIMIT // spec.MEGA_MOD) * spec.MEGA_MOD + spec.MEGA_REM
        if i not in taken and spec.variant_of(i) == "html":
            taken.add(i)
            out.append(i)
    return out


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _text_inputs(workload: str, rng: random.Random, seed: int, n: int, corpus: list[str]) -> Inputs:
    kind = KINDS[workload]
    taken: set[int] = set()
    docs: list[tuple[int, str]] = []
    if kind == "html":
        n_mega = max(1, round(n / spec.MEGA_MOD))
        for i in _draw_mega_ids(rng, n_mega, taken):
            docs.append((i, rng.choice(corpus)))
        for i in _draw_ids(rng, "html", n - n_mega, taken):
            docs.append((i, rng.choice(corpus)))
    else:
        n_bad = max(1, round(n / spec.MALFORMED_MOD))
        per16 = (n - n_bad) // 16
        ids = _draw_ids(rng, "malformed", n_bad, taken)
        for variant, k in PDF_MIX.items():
            ids += _draw_ids(rng, variant, per16 * k, taken)
        counts = [1 + j % MAX_TEXTS_PER_PDF for j in range(len(ids))]
        rng.shuffle(counts)
        for i, k in zip(ids, counts):
            docs.append((i, " ".join(rng.choice(corpus) for _ in range(k))))
    rng.shuffle(docs)
    inp = Inputs(workload, seed, [])
    for doc_id, text in docs:
        payload, golden, variant = build_payload(doc_id, text)
        url = spec.url_of(doc_id)
        inp.rows.append((url, payload))
        inp.weights.append(len(golden))
        inp.expected[url] = None if variant == "malformed" else _md5(golden)
        inp.variants[url] = variant
    return inp


def _near_copy(rng: random.Random, text: str, vocab: list[str]) -> str:
    """Replace one word (a star leaf: close to its centre, not to its
    sibling leaves' other edits)."""
    words = text.split(" ")
    j = rng.randrange(len(words))
    words[j] = rng.choice([w for w in vocab if w != words[j]])
    return " ".join(words)


def _dedup_inputs(rng: random.Random, seed: int, n: int, corpus: list[str]) -> Inputs:
    """Star-shaped near-copy clusters: every CENTRE_EVERY-th base doc gets
    1-3 one-word edits of itself.  dedup_canonical adds an exact twin
    (+1e6) of every doc and a dropped-last-word twin (+2e6) of every fifth,
    so each cluster's diameter stays within CC_MAX_ITERS rounds."""
    vocab = sorted({w for t in corpus[:500] for w in t.split(" ")})
    per_centre = sum(COPIES_PER_CENTRE) / len(COPIES_PER_CENTRE)
    n_base = round(n / (1 + per_centre / CENTRE_EVERY))
    ids = rng.sample(range(ID_LIMIT), n)
    texts = rng.sample(corpus, n_base)
    docs = []
    for b, text in enumerate(texts):
        docs.append(text)
        if b % CENTRE_EVERY == 0:
            for _ in range(COPIES_PER_CENTRE[(b // CENTRE_EVERY) % len(COPIES_PER_CENTRE)]):
                if len(docs) < n:
                    docs.append(_near_copy(rng, text, vocab))
    while len(docs) < n:
        docs.append(rng.choice(corpus))
    return Inputs(DEDUP, seed, list(zip(ids, docs)), weights=[len(d) for d in docs])


def generate(
    workload: str, seed: int, n: int | None = None, corpus: list[str] | None = None
) -> Inputs:
    """Build the input of ``workload`` (or ``DEDUP``) for ``seed``; ``n``
    overrides the size."""
    kind = KINDS[workload]
    corpus = load_corpus() if corpus is None else corpus
    rng = random.Random(f"{kind}:main:{seed}")
    if kind == "dedup":
        return _dedup_inputs(rng, seed, DEDUP_DOCS if n is None else n, corpus)
    return _text_inputs(workload, rng, seed, WORKLOADS[workload][1] if n is None else n, corpus)


def write(inp: Inputs, out_dir: str, n_files: int) -> str:
    """Write the input as ``n_files`` parquet files the job scans.

    Text workloads: a pages table ``(url, html)`` in ``out_dir``.
    ``DEDUP``: ``out_dir/documents.parquet`` ``(doc_id, text)``, the
    layout ``dedup_canonical(spark, sf_dir)`` reads."""
    if inp.workload == DEDUP:
        path = os.path.join(out_dir, "documents.parquet")
        cols = {"doc_id": pa.int64(), "text": pa.string()}
    else:
        path = out_dir
        cols = {"url": pa.string(), "html": pa.binary()}
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(path)
    # Spark packs small files into about one scan partition per core, and
    # scan partitions are the extraction tasks: files of equal work keep the
    # stage time from depending on which seed put the big docs together
    parts: list[list[tuple]] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for w, row in sorted(zip(inp.weights, inp.rows), key=lambda x: -x[0]):
        f = load.index(min(load))
        parts[f].append(row)
        load[f] += w + 1
    for f, part in enumerate(parts):
        table = pa.table(
            {c: pa.array([r[j] for r in part], type=t) for j, (c, t) in enumerate(cols.items())}
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
    return out_dir
