"""SparkSession factory with scale-appropriate defaults.

Local testing runs single-JVM (local[N]); the same config block is what we'd
hand to spark-submit on a real cluster — AQE on (runtime coalesce + skew-join
split), Arrow on (all our UDFs are pandas/Arrow-vectorized), runtime bloom
pruning on (replaces the reference's hand-rolled bloom prefilter,
/root/reference/src/hashdb.c:507,558).

Python workers start from `deduputil_spark._daemon`, not `pyspark.daemon`.
Cause: `pyspark/worker_util.py` `setup_spark_files` calls
`importlib.invalidate_caches()` on every task.  On Python 3.11 each
`zipimporter.invalidate_caches` eagerly re-reads its zip's central directory
(3.12+ invalidates lazily and re-reads on the next lookup).  A worker holds
12–16 zipimporters over `$SPARK_HOME/python/lib/pyspark.zip` (1,328
entries), so a profiled 0.57 s task spent 0.56 s re-reading that one zip.
The daemon makes zipimporter invalidation a no-op and then runs
`pyspark.daemon.manager()`; forked workers inherit the patch.  Measured on
a 4-vCPU host, `local[4]`:

- a trivial 8-task mapInArrow stage: 0.685 → 0.268 s (medians);
- perfbench `run_s`, medians of interleaved A/B runs: neardup 3.153 →
  2.777 s over 5 pairs and 3.269 → 2.719 s (−16.8%) over 10; exact
  4.343 → 3.837 s over 5 pairs and 4.493 → 3.760 s (−16.3%) over 6.

Workers import the daemon module only if this package is a plain directory
that is their cwd or on their PYTHONPATH, as local-mode workers inherit both
from the driver.  Otherwise (a zip, e.g. `--py-files`, or a cluster master)
the session keeps Spark's default daemon and logs one warning: a worker that
cannot import its daemon would fail every Python task.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

DAEMON_MODULE = "deduputil_spark._daemon"


def get_spark(
    app_name: str = "deduputil-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count()}]"
    cores = _master_cores(master)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if _workers_import_package(master):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _master_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 8


def _workers_import_package(master: str) -> bool:
    """True when Python workers of a session on `master` can import this
    package: local mode, from a plain directory that is the driver's cwd or on
    its PYTHONPATH.  Logs the one fallback warning otherwise."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    local = master == "local" or master.startswith("local[")
    if local and os.path.isdir(root) and any(os.path.realpath(p) == os.path.realpath(root) for p in paths):
        return True
    logging.getLogger(__name__).warning(
        "Python workers of %s cannot import deduputil_spark from %s; keeping Spark's default "
        "daemon (each task re-reads its zip directories)", master, root,
    )
    return False
