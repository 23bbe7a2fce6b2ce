"""Traced mode: timed calls into the program's layers, the single-core
kernel ladder, and Spark stage metrics read back from the event log.

Every timing is taken from the benchmark's own files around calls into the
program's public functions; nothing inside the program is instrumented.

Which end-to-end metric each layer metric should move, and on which
workload (written down before any change claims a gain):

=========================================  ===========================  =====================
layer metric                               end-to-end metric            workload
=========================================  ===========================  =====================
kernel.{pdfparse,resources,content,        docs_per_s, cpu_s_per_kdoc   pdf_text; not html_text
layout}.s
kernel.html_extract.s                      docs_per_s, cpu_s_per_kdoc   html_text only
pipeline.boundary_share                    docs_per_s, peak_rss_mb      html_text
pipeline.doc_text.s                        docs_per_s                   html_text, pdf_text
pipeline.extract_chars.s,                  none (no workload runs the   traced on pdf_text
operators.layout_ops.doc_text_from_chars.s chars path end to end)
spark.shuffle_*_mb, spark.spill_mb         docs_per_s, peak_rss_mb      html_text, pdf_text
functions.dedup.*                          none (no workload runs       traced on pdf_text
                                           dedup end to end)
session.start_s, session.warm_s            setup_s                      all
=========================================  ===========================  =====================

The chars path and dedup have no workload of their own: one dedup job is
~25 s of plan building at any input size, too long to repeat in every run,
and the chars path's docs_per_s spread run to run wider than any bound a
later change could be held to.  Their layer metrics are read in pdf_text's
traced run only.
``functions.dedup.spark_jobs`` should drop when the min-label loop stops
early.  A traced run reports every per-layer metric BENCHMARK.json lists,
0 where the layer does no work on the workload.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from pdfplumber_golang_spark.kernel import layout
from pdfplumber_golang_spark.kernel.extract import load_fonts, load_xobjects
from pdfplumber_golang_spark.kernel.content import Interpreter
from pdfplumber_golang_spark.kernel.html_extract import extract_html_text
from pdfplumber_golang_spark.kernel.pdfparse import PDFDocument


@contextmanager
def timed(acc: dict[str, float], name: str):
    """Add the block's wall seconds to ``acc[name]``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        acc[name] = acc.get(name, 0.0) + time.perf_counter() - t0


class LadderCounts:
    def __init__(self) -> None:
        self.docs = self.pages = self.chars = self.content_bytes = self.errors = 0


def ladder(raw: bytes, acc: dict[str, float], counts: LadderCounts) -> str | None:
    """The per-document kernel of ``extract_document`` as separate rungs.

    Returns the doc text (pages joined by '\\n', as ``doc_text`` builds it)
    or None when ``extract_document`` would return an error; the fast test
    pins this equality so the ladder times the same program."""
    counts.docs += 1
    try:
        with timed(acc, "kernel.doc"):
            if raw[:5] != b"%PDF-":
                with timed(acc, "kernel.html_extract"):
                    return extract_html_text(raw)
            with timed(acc, "kernel.pdfparse"):
                doc = PDFDocument(raw)
            texts = []
            for page in doc.pages:
                res = page.resources if isinstance(page.resources, dict) else {}
                with timed(acc, "kernel.resources"):
                    fonts = load_fonts(doc, res)
                    xobjects = load_xobjects(doc, res)
                interp = Interpreter(fonts, xobjects)
                content = b"\n".join(page.contents)
                with timed(acc, "kernel.content"):
                    interp.run(content)
                with timed(acc, "kernel.layout"):
                    texts.append(layout.organize_text(interp.chars))
                counts.pages += 1
                counts.chars += len(interp.chars)
                counts.content_bytes += len(content)
            if not texts:
                counts.errors += 1
                return None
            return "\n".join(texts)
    except Exception:  # extract_document turns every failure into an error row
        counts.errors += 1
        return None


def kernel_metrics(payloads: list[bytes]) -> tuple[dict[str, float], float]:
    """One single-core pass of the ladder over the workload's docs: the
    kernel.* metrics and the pass's total seconds."""
    counts = LadderCounts()
    acc: dict[str, float] = {}
    for raw in payloads:
        ladder(raw, acc, counts)
    total = acc.get("kernel.doc", 0.0)
    rungs = ("pdfparse", "resources", "content", "layout", "html_extract")
    return {
        **{f"kernel.{r}.s": acc.get(f"kernel.{r}", 0.0) for r in rungs},
        "kernel.docs_per_core_s": counts.docs / total if total else 0.0,
        "kernel.pages": counts.pages,
        "kernel.chars": counts.chars,
        "kernel.content_mb": counts.content_bytes / 2**20,
    }, total


def stage_metrics(event_dir: str, groups: list[str]) -> dict[str, float]:
    """Per-iteration Spark metrics for the jobs of each job group, read from
    the session's event log; medians over the groups (one per iteration)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list[dict]] = {}
    files = glob.glob(os.path.join(event_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g in groups:
                    jobs[g] = jobs.get(g, 0) + 1
                    for s in ev["Stage IDs"]:
                        stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is not None and ev.get("Task Metrics"):
                    tasks.setdefault(g, []).append(ev)
    per: dict[str, list[float]] = {}

    def add(k: str, v: float) -> None:
        per.setdefault(k, []).append(v)

    for g in groups:
        evs = tasks.get(g, [])
        dur = [(e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]) / 1e3 for e in evs]
        m = [e["Task Metrics"] for e in evs]
        add("spark.jobs", jobs.get(g, 0))
        add("spark.tasks", len(evs))
        add("spark.task_s_median", statistics.median(dur) if dur else 0.0)
        add("spark.task_s_max", max(dur, default=0.0))
        add("spark.shuffle_write_mb", sum(
            x["Shuffle Write Metrics"]["Shuffle Bytes Written"] for x in m) / 2**20)
        add("spark.shuffle_read_mb", sum(
            x["Shuffle Read Metrics"]["Remote Bytes Read"]
            + x["Shuffle Read Metrics"]["Local Bytes Read"] for x in m) / 2**20)
        add("spark.spill_mb", sum(
            x["Memory Bytes Spilled"] + x["Disk Bytes Spilled"] for x in m) / 2**20)
        add("spark.gc_s", sum(x["JVM GC Time"] for x in m) / 1e3)
    return {k: statistics.median(v) for k, v in per.items()}
