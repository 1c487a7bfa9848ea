"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (local[$SPARK_GRAFT_CPUS]); on a real
cluster every setting here is safe to keep. Arrow transfer is mandatory —
all our UDFs are pandas/Arrow-vectorized (input_hint: no per-row Python).

`install_zip_cache_check` removes most of the fixed cost of every Python
task; the package runs it on import, so every worker that unpickles
library code has it.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bloomfilter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores, not the 200 default
        n = master[len("local[") : -1] if master.startswith("local[") else ""
        # local[N,maxFailures] is a valid master URL — keep only N
        n = n.split(",")[0].strip()
        shuffle_partitions = cpus if n in ("*", "") else int(n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def install_zip_cache_check() -> None:
    """Make `zipimporter.invalidate_caches` skip archives that did not change.

    PySpark's worker calls `importlib.invalidate_caches()` at the start of
    every task (`pyspark/worker_util.py`, `setup_spark_files`).  On CPython
    < 3.13 each zip importer then re-reads its archive's whole central
    directory: a worker holds ~16 of them (pyspark.zip, the py4j zip, the
    Spark core jar, any --py-files zip), a fixed cost of ~0.1 s or more
    per task (README, "Per-task Python cost").

    The replacement reuses `zipimport._zip_directory_cache` while the
    archive's (mtime_ns, size, inode) match the last read, and otherwise
    calls the original, so an archive replaced under the same name is still
    re-read.  The stat is taken before the read: an archive replaced during
    the read keeps the old stamp and is read again next time.  Idempotent;
    does nothing on 3.13+, whose `invalidate_caches` only drops the entry.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_checked", False):
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            # gone: the original drops the cached directory, so a later
            # archive under this name is read whatever its stamp
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def zip_cache_check_installed() -> bool:
    """True when this process runs the stat-checked `invalidate_caches`.

    Call it inside a Spark task to see what a worker runs: unpickling the
    task imports the package, which installs the check."""
    import zipimport

    return getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
