#!/usr/bin/env python
"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test
data, see `__main__`) on local[$SPARK_GRAFT_CPUS] (default: the host CPU
count) and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "queries_noop": {...}, "sf": ...}
`queries` times each driver query with `.count()` (and feeds `value`);
`queries_noop` times the same query written to Spark's noop sink.

    python bench.py

The transcript corpus is synthesized deterministically per scale factor and
cached under /tmp/deduputil_bench (synthesis time is excluded from timings).
Per-layer readings come from `perfbench/run.py --trace 1`.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_BASE_CONVS = {"sf0.001": 400, "sf0.01": 3800, "sf0.1": 38000, "sfbig": 152000}
CACHE_DIR = "/tmp/deduputil_bench"

#: bench session conf.  On a slow/contended host a low-parallelism run can
#: stall the whole JVM (GC + compute) past Spark's default 120 s heartbeat
#: window, at which point HeartbeatReceiver declares the in-process executor
#: dead and tears the context down mid-job (observed r5: "no recent
#: heartbeats: 321934 ms exceeds timeout 120000 ms").  Benches measure
#: dataflow, not liveness-detection latency — give the heartbeat generous
#: rope.
BENCH_CONF = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.network.timeout": "800s",
    "spark.executor.heartbeatInterval": "30s",
}


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def ensure_corpus(sf_dir: str) -> tuple[str, int]:
    """Synthesize (once) the transcript corpus matched to this sf; return
    (parquet_path, n_turns)."""
    from deduputil_spark.synth import write_corpus

    name = _sf_name(sf_dir)
    n_base = SF_BASE_CONVS.get(name, 3800)
    out = os.path.join(CACHE_DIR, f"{name}_b{n_base}_seed42")
    marker = os.path.join(out, "transcripts.parquet")
    if not os.path.exists(marker):
        write_corpus(out, n_base_convs=n_base, seed=42)
    import pyarrow.parquet as pq

    n_turns = pq.read_metadata(marker).num_rows
    return marker, n_turns


def run_bench(sf_dir: str, cpus: int) -> dict:
    import __spark_entry__ as em
    from deduputil_spark.config import DedupConfig
    from deduputil_spark.session import get_spark

    corpus_path, n_turns = ensure_corpus(sf_dir)
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        extra_conf=BENCH_CONF,
    )
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    t = spark.read.parquet(corpus_path)

    # headline: full near-dup pipeline (assemble→minhash→lsh→verify→cluster)
    # in production shape (run_pipeline default: no per-stage counts).  One full
    # warmup run first — cold-JVM JIT otherwise dominates (~2.5× noise).
    from deduputil_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, t, DedupConfig()).clusters.count()
    spark.catalog.clearCache()
    # best-of-2 measured runs: host throughput on this VM drifts ±50% across
    # a session (same commit measured 35s and 53s twenty minutes apart), and
    # the minimum is the measurement least polluted by that noise
    best = None
    for _ in range(2):
        t0 = time.monotonic()
        res = run_pipeline(spark, t, DedupConfig())
        n_clustered = res.clusters.count()
        elapsed = time.monotonic() - t0
        best = elapsed if best is None or elapsed < best else best
        from deduputil_spark.cache import release_caches

        release_caches()
        spark.catalog.clearCache()
    timings["pipeline_cluster"] = round(best, 3)
    extras["turns_per_sec"] = round(n_turns / timings["pipeline_cluster"], 1)
    extras["n_turns"] = n_turns
    extras["n_clustered_docs"] = n_clustered

    # exact chunk dedup (mapInArrow CDC chunker + block store)
    from deduputil_spark.operators.assemble import assemble_documents
    from deduputil_spark.operators.chunk import chunk_documents
    from deduputil_spark.operators.dedup import build_block_store

    # best-of-2, same discipline as pipeline_cluster: a single reading of
    # this slice swung 2x on this host (r3 driver bench vs interleaved A/B)
    best_cdc = None
    for _ in range(2):
        t0 = time.monotonic()
        docs = assemble_documents(t)
        blocks = build_block_store(chunk_documents(docs, DedupConfig()))
        n_blocks = blocks.count()
        el = time.monotonic() - t0
        best_cdc = el if best_cdc is None or el < best_cdc else best_cdc
        spark.catalog.clearCache()
    timings["cdc_exact_dedup"] = round(best_cdc, 3)
    extras["n_unique_blocks"] = n_blocks

    # driver-table queries at sf_dir, timed twice: `count()` lets Catalyst
    # prune columns a query's rows never need, a noop sink runs every column
    noop: dict[str, float] = {}
    for name in ["fsp_chunks", "minhash_bands", "verified_pairs", "ann_topk",
                 "simhash", "token_stats", "sessionize", "suffix_spans"]:
        q = em.queries()[name]
        t0 = time.monotonic()
        q(spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        noop[name] = round(time.monotonic() - t0, 3)

    spark.stop()
    return {
        "metric": "transcript_neardup_pipeline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_noop": noop,
        "sf": _sf_name(sf_dir).replace("sf", ""),
        "cpus": cpus,
        **extras,
    }


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    print(json.dumps(run_bench(sf_dir, cpus)))
