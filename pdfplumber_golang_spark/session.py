"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import hashlib
import os
import sys
import zipfile
import zipimport

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_PKG_DIR)


def package_zip() -> str:
    """Zip this package for spark-submit --py-files / addPyFile shipping.

    Content-hashed filename so stale zips are never reused; workers unpack
    it onto their sys.path, which is exactly the multi-executor deployment
    path (north_rule: "run via spark-submit --py-files")."""
    h = hashlib.sha256()
    files = []
    for root, _dirs, names in os.walk(_PKG_DIR):
        if "__pycache__" in root:
            continue
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(root, n)
                files.append(p)
                with open(p, "rb") as f:
                    h.update(p.encode())
                    h.update(f.read())
    path = f"/tmp/pdfplumber_golang_spark-{h.hexdigest()[:12]}.zip"
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in files:
                z.write(p, os.path.relpath(p, _REPO_DIR))
        os.replace(tmp, path)
    return path


def drop_zip_finders() -> None:
    """Forget the cached ``zipimporter`` finders in ``sys.path_importer_cache``.

    Python workers import pyspark from ``pyspark.zip`` and cache one
    ``zipimporter`` per package directory in it. pyspark's worker calls
    ``importlib.invalidate_caches()`` at the start of every task, and on
    CPython before 3.13 that makes each cached ``zipimporter`` re-read the
    whole archive directory: 0.24-0.39 s per task on a 4-core VM under
    CPython 3.11, more than the kernel work of a typical task. Deleting the
    entries is safe: a missing entry is rebuilt through ``sys.path_hooks``
    on the next import from that path, and modules already in
    ``sys.modules`` never consult the cache. Batch functions call this
    first in every task, because a pyspark subpackage first imported
    mid-task caches a new finder."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def _default_driver_mem() -> str:
    """Half the memory this process may use: the smaller of physical RAM
    and the cgroup v2 ``memory.max`` limit, when one is set. The driver JVM
    shares the machine with Python workers and in-process oracles, so a
    fixed heap larger than the machine gets the JVM OOM-killed."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            cgroup = f.read().strip()
    except OSError:
        cgroup = "max"
    if cgroup != "max":
        limit = min(limit, int(cgroup))
    return f"{limit // 2 // 2**20}m"


def get_spark(
    app: str = "pdfplumber_golang_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """local[N] session tuned for this engine.

    On a real cluster these configs transfer directly: AQE on (runtime
    coalescing + skew-join handling), Arrow enabled for the pandas-UDF
    kernels, shuffle partitions sized to parallelism.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sp = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to executors (works identically on a real cluster)
    spark.sparkContext.addPyFile(package_zip())
    return spark
