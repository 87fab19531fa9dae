#!/usr/bin/env python3
"""deduputil_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload neardup --seed 42 --seconds 16 --trace 0

Runs from any working directory.  It generates the workload's input corpus
from ``--seed`` (cached as parquet under ``perfbench/.work``), starts one
SparkSession on ``local[4]``, makes two untimed warm-up passes, then runs timed
passes one at a time (a closed loop with one client) until ``--seconds`` have
passed and at least four passes are done.  Every pass's outputs are checked.

Standard output ends with two JSON lines: a report with every metric of the
workload, then the result line ``{"correct", "attempted", "failed",
"metrics"}`` whose metrics are the ``end_to_end`` metrics of BENCHMARK.json
(``--trace 0``) or its ``per_layer`` metrics (``--trace 1``: a separate,
event-logged session with one untraced and one traced pass).

Exits non-zero without a result line when the package cannot be imported or
no timed pass completes.  See perfbench/README.md for the workloads, the
metrics and the sizing measurements.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

MASTER = "local[4]"  # the 4-vCPU host, pinned: session.get_spark would otherwise read SPARK_GRAFT_CPUS
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
WARMUP_PASSES = 2  # pass times still fall steeply after the first (cold) pass
MIN_PASSES = 4
KERNEL_BATCH = 2048  # docs; = spark.sql.execution.arrow.maxRecordsPerBatch in session.py

LAYERS = {
    "neardup": ("assemble", "minhash", "lsh", "verify", "cluster"),
    "exact": ("assemble", "chunk", "dedup", "reconstruct"),
}
#: per-layer metrics read from the event log, by layer
EVENT_LOG_METRICS = {
    "assemble": ("shuffle_write_mb",),
    "minhash": ("python_s",),
    "lsh": ("shuffle_write_mb",),
    "verify": ("python_s", "shuffle_write_mb"),
    "chunk": ("python_s",),
    "dedup": ("shuffle_write_mb", "spill_mb"),
    "reconstruct": ("shuffle_write_mb",),
}


def _isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the package from it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def _start_spark(event_log_dir: str | None):
    from deduputil_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",  # Spark 4's zstd default is unreadable without a zstd module
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this process and each of its descendants (Python driver, JVM,
    Python workers), in MB (10^6 bytes), by process name."""
    out: dict[str, float] = {}
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) * 1024 / 1e6
    return out


class Bench:
    """One run of one workload: inputs, session, passes, checks, metrics."""

    def __init__(self, workload: str, seed: int, base_convs: int | None):
        import workloads as W
        from deduputil_spark.cache import release_caches

        self.W = W
        self.release_caches = release_caches
        self.workload = workload
        self.seed = seed
        self.base_convs = base_convs or W.BASE_CONVS
        self.corpus = W.prepare_corpus(WORK, self.base_convs, seed)
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    def run_pass(self, spark, transcripts, check: bool = True):
        """One pass of the workload's operation -> (times, outputs, failed
        checks, digest).  The pass's persisted frames are released at the end."""
        W = self.W
        out, fails, dig = {}, [], None
        try:
            t0 = time.perf_counter()
            if self.workload == "neardup":
                res = W.cluster_pass(spark, transcripts)
                times = {"run_s": time.perf_counter() - t0}
                if check:
                    out, fails, dig = W.check_clusters(W.collect_labels(res), self.corpus)
            else:
                blocks, meta = W.exact_write(transcripts)
                t1 = time.perf_counter()
                mismatches = W.exact_read(transcripts, blocks, meta)
                t2 = time.perf_counter()
                times = {"write_s": t1 - t0, "read_s": t2 - t1, "run_s": t2 - t0}
                if check:
                    out, fails, dig = W.check_exact(blocks, meta, mismatches, self.corpus)
        finally:
            self.release_caches()
        return times, out, fails, dig

    def timed_pass(self, spark, transcripts):
        """A checked pass; an exception or a failed check counts as failed."""
        self.attempted += 1
        try:
            times, out, fails, dig = self.run_pass(spark, transcripts)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.failures.append("pass raised")
            return None
        if fails:
            self.failed += 1
            self.failures.extend(fails)
        return times, out, dig

    def run(self, seconds: float, trace: bool) -> tuple[dict, dict]:
        run_id = f"{self.workload}-s{self.seed}-{os.getpid()}"
        event_log = os.path.join(WORK, "eventlog", run_id) if trace else None
        t0 = time.perf_counter()
        spark = _start_spark(event_log)
        try:
            transcripts = spark.read.parquet(self.corpus.transcripts_path)
            spark.sparkContext.setJobDescription("warmup")
            for _ in range(WARMUP_PASSES):
                self.run_pass(spark, transcripts, check=False)
            setup_s = time.perf_counter() - t0
            if trace:
                report, result = self._traced(spark, transcripts, run_id)
            else:
                report, result = self._timed(spark, transcripts, seconds)
            rss_by_process = peak_rss_mb()
            rss = sum(rss_by_process.values())
        finally:
            _stop_spark(spark)
        if trace:
            self._event_log_metrics(event_log, result)
        else:
            result.update(setup_s=setup_s, peak_rss_mb=rss)
        report.update(setup_s=setup_s, peak_rss_mb=rss, peak_rss_mb_by_process=rss_by_process)
        return report, result

    def _timed(self, spark, transcripts, seconds: float) -> tuple[dict, dict]:
        spark.sparkContext.setJobDescription("timed")
        samples, outputs = [], []
        start = time.perf_counter()
        while self.attempted < MIN_PASSES or time.perf_counter() - start < seconds:
            r = self.timed_pass(spark, transcripts)
            if r is not None:
                samples.append(r[0])
                outputs.append(r[1])
            if self.attempted >= MIN_PASSES and not samples:
                break
        if not samples:
            raise RuntimeError("no timed pass completed")
        run_s = statistics.median(s["run_s"] for s in samples)
        report = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
        report["turns_per_s"] = self.corpus.n_turns / run_s
        report["samples"] = samples
        for k in outputs[-1]:
            report[k] = outputs[-1][k]
        result = {"run_s": run_s, "turns_per_s": self.corpus.n_turns / run_s}
        return report, result

    def _traced(self, spark, transcripts, run_id: str) -> tuple[dict, dict]:
        import tracing as T

        sc = spark.sparkContext
        sc.setJobDescription("untraced")
        r = self.timed_pass(spark, transcripts)
        if r is None:
            raise RuntimeError("untraced pass failed")
        untraced_s, untraced_digest = r[0]["run_s"], r[2]

        tracer = T.Tracer(sc, run_id)
        self.attempted += 1
        if self.workload == "neardup":
            m, labels = T.traced_cluster_pass(spark, transcripts, tracer)
            out, fails, dig = self.W.check_clusters(labels, self.corpus)
        else:
            m, (blocks, meta, mismatches) = T.traced_exact_pass(spark, transcripts, tracer)
            out, fails, dig = self.W.check_exact(blocks, meta, mismatches, self.corpus)
        m["cache.frames"] = self.release_caches()
        sc.setJobDescription(None)
        if dig != untraced_digest:
            fails.append(f"traced digest {dig} != untraced digest {untraced_digest}")
        coverage = tracer.coverage("pass")
        if coverage < 0.9:
            fails.append(f"layer spans cover {coverage:.3f} < 0.9 of the traced pass")
        if fails:
            self.failed += 1
            self.failures.extend(fails)
        for layer in LAYERS[self.workload]:
            m[f"{layer}.wall_s"] = tracer.wall(layer)
        m["trace.overhead_s"] = tracer.wall("pass") - untraced_s
        m["trace.span_coverage"] = coverage
        m.update(T.minhash_kernels(self.corpus.doc_texts()[:KERNEL_BATCH]))
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.write(os.path.join(WORK, "spans", f"{run_id}.jsonl"))
        report = {"untraced_run_s": untraced_s, "traced_pass_s": tracer.wall("pass"), "digest": dig, **out}
        return report, m

    def _event_log_metrics(self, event_log: str, m: dict) -> None:
        import tracing as T

        by_desc = T.event_log_by_description(event_log)
        for layer, keys in EVENT_LOG_METRICS.items():
            for k in keys:
                m[f"{layer}.{k}"] = by_desc.get(layer, {}).get(k, 0.0)


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(LAYERS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base-convs", type=int, default=None,
                    help="generator size override (the self-check uses a tiny corpus)")
    args = ap.parse_args(argv)

    _isolate_environment()
    try:
        import deduputil_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(deduputil_spark.__file__).startswith(os.path.join(ROOT, "")):
        print(f"perfbench: deduputil_spark is imported from {deduputil_spark.__file__}, outside {ROOT}",
              file=sys.stderr)
        return 2
    spec = _benchmark_spec()
    section = spec["per_layer"] if args.trace else spec["end_to_end"]

    bench = Bench(args.workload, args.seed, args.base_convs)
    report, values = bench.run(args.seconds, bool(args.trace))

    metrics = {}
    for m in section:
        v = values.get(m["name"], 0.0)  # a layer the workload never calls did no work
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    report.update(
        workload=args.workload, seed=args.seed, base_convs=bench.base_convs,
        n_turns=bench.corpus.n_turns, n_docs=bench.corpus.n_docs, doc_bytes=bench.corpus.doc_bytes,
        failed_ops=bench.failed / bench.attempted, failures=bench.failures,
    )
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
