"""Compare a job's collected output with the generator's expected output."""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from pdfplumber_golang_spark.functions import dedup


@dataclass
class Outcome:
    """Per-run tallies over input docs: ``errors`` came back as an error row
    or not at all, ``wrong`` differ from what was expected (a planned
    malformed doc is expected to error, so it is an error but not wrong)."""

    docs: int
    errors: int
    wrong: int


def check_text(rows, expected: dict) -> Outcome:
    """``rows`` are ``(url, md5)``; ``expected`` maps url -> md5 of the
    golden text, or None for a doc that must come back as an error."""
    got = {r[0]: r[1] for r in rows}
    errors = sum(1 for u in expected if u not in got)
    wrong = sum(1 for u, want in expected.items() if got.get(u) != want)
    wrong += sum(1 for u in got if u not in expected)
    return Outcome(len(expected), errors, wrong)


def _find(parent: dict[int, int], x: int) -> int:
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def expected_canonical(docs_dir: str) -> dict[int, int]:
    """doc_id -> canonical doc id over dedup's corpus (the input docs plus
    the twins ``dup_corpus`` injects): a union-find over the DuckDB
    MinHash-LSH oracle pairs, canonical = the component's minimum id."""
    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet/*.parquet'"
        )
        ids = [r[0] for r in con.sql(
            f"WITH {dedup.corpus_sql().strip()} SELECT doc_id FROM corpus"
        ).fetchall()]
        pairs = con.sql(dedup.minhash_lsh_oracle()).fetchall()
    finally:
        con.close()
    parent = {i: i for i in ids}
    for a, b in pairs:
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: _find(parent, i) for i in ids}


def check_canonical(rows, expected: dict[int, int]) -> Outcome:
    """``rows`` are ``(doc_id, canonical_doc_id)``.  A wrong or missing
    corpus id counts against the input doc it was derived from."""
    got = {r[0]: r[1] for r in rows}
    base = dedup.DUP_OFFSET
    inputs = {i for i in expected if i < base}
    missing = {i % base for i in expected if i not in got}
    bad = {i % base for i, want in expected.items() if got.get(i) != want}
    bad |= {i % base for i in got if i not in expected}
    return Outcome(len(inputs), len(missing), len(bad))
