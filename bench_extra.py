#!/usr/bin/env python
"""Optimization-round measurement harness (bench.py is FROZEN for the
driver's timing; this file holds the extra instrumentation the
optimization guide §1 calls for).

- noop-sink isolation per query (guide §1.4): times the computation via
  ``df.write.format("noop")`` so Catalyst cannot prune the result the way
  ``.count()`` can, and no sink cost is measured.
- ``--explain`` dumps ``.explain("formatted")`` per query into
  ``plans/r06/<query>_<tag>.txt`` for the plan-diff evidence.
- job labels (guide §1.5) so the UI/event log is readable.

Usage:
  python bench_extra.py --queries dedup_minhash_lsh,dedup_substring
  python bench_extra.py --queries tpch_q5 --explain --tag before
  python bench_extra.py --all-benched --repeats 3
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPO = os.path.dirname(os.path.abspath(__file__))

#: the queries bench.py times (minus the two pipeline-level extract jobs)
BENCHED = [
    "layout_page_text",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_langid",
    "ann_bruteforce",
    "tpch_q1",
    "tpch_q5",
    "shard_packing",
    "curation_pii_scrub",
    "dedup_substring",
    "dedup_substring_winnowed",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--all-benched", action="store_true")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--tag", default="plan")
    ap.add_argument("--count", action="store_true",
                    help="time .count() (the frozen bench's methodology) "
                         "instead of the noop sink")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from pdfplumber_golang_spark.session import get_spark

    import __spark_entry__ as E

    names = [q for q in args.queries.split(",") if q]
    if args.all_benched:
        names = BENCHED + names

    spark = get_spark(app="bench-extra", cores=CPUS)
    from pdfplumber_golang_spark.sources.pagesgen import load_or_build_pages

    load_or_build_pages(spark, SF_DIR).count()  # input materialization
    qs = E.queries()

    out: dict[str, list[float]] = {}
    for name in names:
        if args.explain:
            os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            p = os.path.join(REPO, "plans", "r06", f"{name}_{args.tag}.txt")
            with open(p, "w") as f:
                # explain() prints the plan string plus one newline
                f.write(buf.getvalue().removesuffix("\n"))
            print(f"wrote {p}")
            continue
        secs = []
        for i in range(args.repeats):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)  # labels its jobs with the name
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = secs
        print(f"{name:30s} {secs} min={min(secs)}", flush=True)
    print(json.dumps({"queries": out, "sf": SF_DIR, "cpus": CPUS}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
