"""Benchmark for the extraction pipeline.

    python3 perfbench/run.py --workload pdf_text --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run generates the workload from the
seed, starts a ``local[nproc]`` session through ``session.get_spark`` in this
process, repeats the workload's job for ``--seconds``, checks every output
against the generator's goldens and prints one JSON object as the last line
of standard output.

``--trace 0`` reports the end-to-end metrics (docs_per_s, cpu_s_per_kdoc,
peak_rss_mb, setup_s).  ``--trace 1`` reports the per-layer metrics: half the
time runs untraced, half in a session with an event log and job groups, then
the layer jobs and a single-core kernel ladder run (see ``tracing.py``).
pdf_text's traced run also times the chars path and ``functions.dedup`` on a
seeded documents table, checked against a DuckDB oracle.

Workloads: html_text and pdf_text (see ``workloads.py``).  Error and
wrong-output ratios are printed on the lines above the JSON; any wrong
output makes ``correct`` false and the exit code 1.

Everything the run writes goes under ``.perfbench_work/`` in the checkout,
except what the program itself writes: ``session.package_zip`` keeps its
content-addressed zip in ``/tmp``, so only the first setup on a machine
writes it.  setup_s still hashes the package on every setup; writing the
zip took 4 ms on a 4-core VM, against ~10 s for a setup.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DIGESTS = os.path.join(HERE, "digests.json")

#: session setups per run, each in a new JVM; setup_s is their median.
#: A traced run makes one: the dedup step leaves no time for more.
SETUPS = 3
#: extract-only jobs per traced run; the layer time is their median
EXTRACT_REPS = 3
#: untimed jobs over the measured input before timing starts: a count,
#: not a time, so a run slowed by the host starts its window as warm
SETTLE_JOBS = 8
#: extraction path -> (its extract layer, the layer timed as the rest of
#: the job)
PATH_LAYERS = {
    "pages": ("pipeline.extract_pages", "pipeline.doc_text.s"),
    "chars": ("pipeline.extract_chars", "operators.layout_ops.doc_text_from_chars.s"),
}
#: confs of the traced session: an event log of plain JSON lines (Spark 4
#: rolls and compresses by default) ...
EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.compress": "false",
    # ... which records every query's plan; dedup's unrolled loop makes
    # plans whose full text exhausts the heap
    "spark.sql.maxPlanStringLength": str(2**16),
}
#: docs in the canary input whose digest must match digests.json
CANARY_DOCS = 64


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-digests", action="store_true",
                   help="rewrite digests.json from the current generator and exit")
    args = p.parse_args(argv)
    if not args.record_digests and None in (args.workload, args.seed, args.seconds):
        p.error("--workload, --seed and --seconds are required")
    return args


def configure(work: str) -> dict:
    """Session resources from the machine, working dirs inside the checkout."""
    import procstat

    nproc = len(os.sched_getaffinity(0))
    ram = procstat.total_ram_bytes()
    # local mode runs every executor inside the driver JVM; a third of RAM
    # leaves room for the Python workers and the benchmark process
    mem = f"{max(1, ram // 3 // 2**30)}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": submit_args({}),
        "PYSPARK_PYTHON": sys.executable,
    })
    return {"nproc": nproc, "ram_mb": ram // 2**20, "driver_mem": mem}


def submit_args(confs: dict[str, str]) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the next JVM the session launches."""
    confs = {"spark.ui.showConsoleProgress": "false", **confs}
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def verify_digests(workload: str, corpus) -> str:
    """Refuse to run when the generator no longer makes the recorded input."""
    import workloads

    with open(DIGESTS) as f:
        recorded = json.load(f)
    got = workloads.generate(workload, 0, n=CANARY_DOCS, corpus=corpus).digest()
    if recorded.get(workload) != got:
        raise SystemExit(
            f"perfbench: {workload} canary input digest {got} != recorded "
            f"{recorded.get(workload)}; spec.py, pdfwrite.py, htmlwrite.py or the "
            "generator changed what the benchmark feeds the program, so its "
            "results would not compare with earlier runs"
        )
    return got


def record_digests(corpus) -> None:
    import workloads

    out = {w: workloads.generate(w, 0, n=CANARY_DOCS, corpus=corpus).digest()
           for w in workloads.KINDS}
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


@dataclass
class Job:
    """One timed full job: wall and process-tree CPU seconds, the host's
    steal share while it ran, and its checked outcome."""

    wall: float
    cpu: float
    steal: float
    outcome: object


@dataclass
class Measurement:
    jobs: list[Job] = field(default_factory=list)
    peak_rss: int = 0


class Bench:
    """One run: inputs on disk, expected outputs, the live session."""

    def __init__(self, workload: str, seed: int, stamp: dict, corpus, trace: bool) -> None:
        import check
        import workloads

        self.workload = workload
        self.stamp = stamp
        self.inp = workloads.generate(workload, seed, corpus=corpus)
        self.in_dir = workloads.write(self.inp, os.path.join(WORK, "input"), 2 * stamp["nproc"])
        self.check = lambda rows: check.check_text(rows, self.inp.expected)
        self.dedup_dir = None
        if trace and workload == "pdf_text":
            # the dedup table and its oracle golden, built before any timing
            dd = workloads.generate(workloads.DEDUP, seed, corpus=corpus)
            self.dedup_dir = workloads.write(dd, os.path.join(WORK, "dedup"), stamp["nproc"])
            self.dedup_want = check.expected_canonical(self.dedup_dir)
        self.spark = None

    # ------------------------------------------------------------ session
    def setup(self) -> tuple[float, float]:
        """A cold session: a new JVM started by ``get_spark`` (which also
        ships the package), then a warm-up job.

        The warm-up job counts the input table's rows: it plans and runs a
        scan without starting Python workers.  Worker start-up and the JIT
        warm-up of the workload's own plan happen in ``measure``'s untimed
        passes, which would otherwise be paid on every setup."""
        from pdfplumber_golang_spark.session import get_spark

        self.stop()
        shutdown_jvm()
        t0 = time.perf_counter()
        self.spark = get_spark(app=f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        self.group("perfbench-warm")
        self.spark.read.parquet(self.in_dir).count()
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, f"perfbench {self.workload} {gid}")

    @staticmethod
    def release() -> None:
        from pdfplumber_golang_spark.plans import cache

        cache.release()

    # ------------------------------------------------------------ timing
    def full(self):
        """The workload's job: per-url md5 of the pages path's doc text."""
        import jobs

        return jobs.doc_md5(self.spark, "pages", self.in_dir)

    def measure(self, seconds: float, group: str | None = None) -> Measurement:
        """Repeat the full job for ``seconds`` (at least once)."""
        import procstat

        # untimed passes over the real input first: the first job starts
        # the Python workers, and a fresh JVM runs the first full-size jobs
        # up to 2x slower, costs a long-lived session pays once
        for _ in range(SETTLE_JOBS):
            self.check(self.full().collect())
            self.release()
        m = Measurement()
        with procstat.Window() as window:
            start = time.perf_counter()
            while not m.jobs or time.perf_counter() - start < seconds:
                if group:
                    self.group(f"{group}-{len(m.jobs)}")
                cpu0, host0 = procstat.cpu_seconds(procstat.tree()), procstat.host_cpu_ticks()
                t0 = time.perf_counter()
                out = self.check(self.full().collect())
                wall = time.perf_counter() - t0
                cpu = procstat.cpu_seconds(procstat.tree()) - cpu0
                m.jobs.append(Job(wall, cpu, procstat.steal_share(host0), out))
                self.release()
        m.peak_rss = window.peak_rss
        return m

    @staticmethod
    def e2e(m: Measurement, setups) -> dict[str, float]:
        attempted = sum(j.outcome.docs for j in m.jobs)
        return {
            # a ratio of sums, not a median of per-job rates: the last jobs
            # still run a little faster than the first, and a median would
            # move with how many jobs fit in the window
            "docs_per_s": attempted / sum(j.wall for j in m.jobs),
            "cpu_s_per_kdoc": sum(j.cpu for j in m.jobs) / attempted * 1000,
            "peak_rss_mb": m.peak_rss / 2**20,
            "setup_s": statistics.median(a + b for a, b in setups),
            # correctness gates rather than bounded metrics: both are 0 on
            # most workloads, so a bound relative to the parent means nothing
            "error_ratio": sum(j.outcome.errors for j in m.jobs) / attempted,
            "wrong_ratio": sum(j.outcome.wrong for j in m.jobs) / attempted,
        }

    # ------------------------------------------------------------ traced
    def noop_job(self, df, name: str) -> tuple[float, int]:
        """Seconds to run ``df`` into a noop sink, and its row count."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(name)
        self.group(f"perfbench-{name}")
        t0 = time.perf_counter()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self.release()
        return dt, obs.get["rows"]

    def traced(self, seconds: float, untraced: Measurement, setups) -> tuple[dict, list]:
        import jobs
        import tracing

        ev_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(ev_dir, ignore_errors=True)
        os.makedirs(ev_dir)
        # the event log is on for the traced session's JVM only
        os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(
            {**EVENT_LOG_CONFS, "spark.eventLog.dir": "file://" + ev_dir})
        try:
            self.setup()
        finally:
            os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args({})
        traced = self.measure(seconds, group="perfbench-full")
        full_s = statistics.median(j.wall for j in traced.jobs)
        m = {
            "trace.overhead_ratio": full_s / statistics.median(j.wall for j in untraced.jobs),
            "session.start_s": statistics.median(a for a, _ in setups),
            "session.warm_s": statistics.median(b for _, b in setups),
        }
        outcomes = [j.outcome for j in traced.jobs]
        # pdf_text also traces the chars path over its inputs
        for path in ["pages"] if self.workload == "html_text" else ["pages", "chars"]:
            layer, rest = PATH_LAYERS[path]
            runs = [self.noop_job(jobs.extract(path, self.spark.read.parquet(self.in_dir)),
                                  f"{path}-extract-{i}")
                    for i in range(EXTRACT_REPS)]
            m[f"{layer}.s"] = statistics.median(s for s, _ in runs)
            m[f"{layer}.rows"] = runs[0][1]
            path_s = full_s
            if path == "chars":
                walls = []
                for i in range(EXTRACT_REPS):
                    self.group(f"perfbench-{path}-full-{i}")
                    t0 = time.perf_counter()
                    outcomes.append(self.check(jobs.doc_md5(self.spark, path, self.in_dir).collect()))
                    walls.append(time.perf_counter() - t0)
                    self.release()
                path_s = statistics.median(walls)
            m[rest] = path_s - m[f"{layer}.s"]
        if self.dedup_dir is not None:
            dm, outcome = self.dedup_layers()
            m.update(dm)
            outcomes.append(outcome)
        self.stop()
        m.update(tracing.stage_metrics(ev_dir, [f"perfbench-full-{i}" for i in range(len(traced.jobs))]))
        km, kernel_s = tracing.kernel_metrics([raw for _, raw in self.inp.rows])
        m.update(km)
        m["pipeline.boundary_share"] = 1 - kernel_s / (self.stamp["nproc"] * m["pipeline.extract_pages.s"])
        return m, outcomes

    def dedup_layers(self) -> tuple[dict, object]:
        """``dedup_canonical`` once over the dedup table, checked against the
        oracle golden, then ``minhash_lsh_candidates`` alone into a noop sink."""
        import check
        from pdfplumber_golang_spark.functions import dedup

        gid = "perfbench-dedup"
        self.group(gid)
        t0 = time.perf_counter()
        rows = dedup.dedup_canonical(self.spark, self.dedup_dir).select(
            "doc_id", "canonical_doc_id").collect()
        full_s = time.perf_counter() - t0
        n_jobs = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))
        self.release()
        outcome = check.check_canonical(rows, self.dedup_want)
        cand_s, pairs = self.noop_job(
            dedup.minhash_lsh_candidates(self.spark, self.dedup_dir), "dedup-candidates")
        sizes = collections.Counter(canon for _, canon in rows)
        return {
            "functions.dedup.candidates.s": cand_s,
            "functions.dedup.components.s": full_s - cand_s,
            "functions.dedup.candidate_pairs": pairs,
            "functions.dedup.clusters": sum(1 for n in sizes.values() if n > 1),
            "functions.dedup.spark_jobs": n_jobs,
        }, outcome


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args) -> int:
    os.makedirs(WORK, exist_ok=True)
    stamp = configure(WORK)
    try:
        import pdfplumber_golang_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    corpus = workloads.load_corpus()
    if args.record_digests:
        record_digests(corpus)
        return 0
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    stamp["canary_digest"] = verify_digests(args.workload, corpus)
    if args.trace and args.workload == "pdf_text":
        verify_digests(workloads.DEDUP, corpus)
    bench = Bench(args.workload, args.seed, stamp, corpus, bool(args.trace))
    stamp["input_digest"] = bench.inp.digest()
    stamp["docs"] = bench.inp.n_docs
    try:
        setups = []
        for _ in range(1 if args.trace else SETUPS):
            setups.append(bench.setup())
        seconds = args.seconds / 2 if args.trace else args.seconds
        measured = bench.measure(seconds)
        e2e = bench.e2e(measured, setups)
        outcomes = [j.outcome for j in measured.jobs]
        layers = {}
        if args.trace:
            layers, more = bench.traced(seconds, measured, setups)
            outcomes += more
    finally:
        bench.stop()
        shutdown_jvm()
    attempted = sum(o.docs for o in outcomes)
    failed = sum(o.wrong for o in outcomes)
    # the host's steal share per job: on a shared host other guests slowed
    # single runs by up to a third, which these let a reader tell apart
    stamp["jobs"] = [{"wall_s": round(j.wall, 4), "steal": round(j.steal, 4)} for j in measured.jobs]
    e2e_units, layer_units = metric_units()
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    for name, value in e2e.items():
        print(f"# {args.workload} {name} {value:.6g} {e2e_units.get(name, 'ratio')}")
    if args.trace:
        # every per-layer metric; 0 where the layer does no work on this
        # workload (tracing.py's table says where each one applies)
        layers = {k: layers.get(k, 0.0) for k in layer_units}
        for name, value in layers.items():
            print(f"# {args.workload} {name} {value:.6g} {layer_units[name]}")
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(WORK, f"result-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "e2e": e2e, "layers": layers, "result": result}, f, indent=1)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        return run(args)
    except SystemExit:
        raise
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
