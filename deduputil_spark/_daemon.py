"""Spark's Python worker daemon, without the per-task zip directory re-read.

`session.get_spark` names this module in `spark.python.daemon.module`; see
its docstring for the cause and the measurements.  Zips on a live worker's
path never change, and a py-file added later gets a new zipimporter rather
than an invalidation, so zipimporter invalidation becomes a no-op.  The
`FileFinder` invalidation stays: `.py` files copied into a task's files
directory are still found.
"""

import zipimport

from pyspark import daemon

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = lambda self: None  # forked workers inherit it
    daemon.manager()
