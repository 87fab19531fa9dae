"""Session defaults: Python workers start from the package's daemon, so no
task re-reads a zip directory; a package loaded from a zip keeps Spark's
default daemon."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from deduputil_spark.session import DAEMON_MODULE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_never_reread_pyspark_zip(spark):
    """Two sequential mapInArrow jobs: every task on the same worker sees the
    same pyspark.zip directory object.  Under Spark's default daemon each
    task's `importlib.invalidate_caches()` replaces it."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    def zip_directory_id(batches):  # nested, so it is pickled by value
        """One row per task: worker pid and the identity of pyspark.zip's
        cached central directory.  Every directory seen stays alive in the
        worker, so a re-read one can never reuse a freed one's id."""
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        path = next(p for p in zipimport._zip_directory_cache if p.endswith("pyspark.zip"))
        directory = zipimport._zip_directory_cache[path]
        zipimport.__dict__.setdefault("_seen_directories", []).append(directory)
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "dir_id": id(directory)}])

    df = spark.range(0, 64, numPartitions=8)
    by_pid: dict[int, set[int]] = {}
    n_tasks = 0
    for _ in range(2):
        for r in df.mapInArrow(zip_directory_id, "pid long, dir_id long").collect():
            by_pid.setdefault(r["pid"], set()).add(r["dir_id"])
            n_tasks += 1
    assert n_tasks == 16
    assert len(by_pid) < n_tasks  # workers were reused across tasks
    assert all(len(ids) == 1 for ids in by_pid.values()), by_pid


_GET_SPARK_OPTIONS = """
import json, sys
from pyspark.sql import SparkSession
SparkSession.Builder.getOrCreate = lambda self: dict(self._options)
from deduputil_spark import session
print(json.dumps({"file": session.__file__, "options": session.get_spark("probe", master=sys.argv[1])}))
"""


def _builder_options(pythonpath: str, cwd: str, master: str = "local[1]") -> tuple[dict, str]:
    """get_spark's builder options (its getOrCreate stubbed out, no JVM) in a
    fresh interpreter that imports the package from `pythonpath`."""
    env = {**os.environ, "PYTHONPATH": pythonpath}
    proc = subprocess.run(
        [sys.executable, "-c", _GET_SPARK_OPTIONS, master], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def test_package_on_pythonpath_sets_the_daemon(tmp_path):
    out, stderr = _builder_options(REPO, str(tmp_path))
    assert out["file"].startswith(os.path.join(REPO, "deduputil_spark"))
    assert out["options"]["spark.python.daemon.module"] == DAEMON_MODULE
    assert "keeping Spark's default daemon" not in stderr


def test_cluster_master_keeps_the_default_daemon(tmp_path):
    """Executors on a cluster inherit neither the driver's cwd nor its
    PYTHONPATH, so only local masters get the package's daemon."""
    out, stderr = _builder_options(REPO, str(tmp_path), master="spark://localhost:7077")
    assert "spark.python.daemon.module" not in out["options"]
    assert "keeping Spark's default daemon" in stderr


def test_zipped_package_keeps_the_default_daemon(tmp_path):
    """Loaded from a zip (as `--py-files` ships it) the package's daemon is
    not importable by workers: get_spark leaves the conf unset and warns."""
    pkg = os.path.join(REPO, "deduputil_spark")
    archive = tmp_path / "deduputil_spark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for d, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    zf.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), REPO))
    out, stderr = _builder_options(str(archive), str(tmp_path))
    assert out["file"].startswith(str(archive))
    assert "spark.python.daemon.module" not in out["options"]
    assert "keeping Spark's default daemon" in stderr
