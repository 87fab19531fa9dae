#!/usr/bin/env python
"""Round-6 optimization instrumentation (NOT the official bench — bench.py is
frozen for measurement; this file exists so guide §1 measurement — noop-sink
isolation, per-stage pipeline breakdown, explain capture — has a home).

Usage:
  python bench_extra.py --stages            # pipeline_cluster stage breakdown
  python bench_extra.py --queries a,b,c     # time driver queries (count parity + noop)
  python bench_extra.py --explain a,b,c     # write plans/r06/<q><suffix>.txt
      [--suffix _before|_after]             #   (default _before)
  python bench_extra.py --cdc               # cdc_exact_dedup stage breakdown

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the host CPU count) — same contract as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_CONF, ensure_corpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def _spark():
    from deduputil_spark.session import get_spark

    return get_spark(
        "bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS * 2, 16),
        extra_conf=BENCH_CONF,
    )


def _noop(df, desc: str) -> float:
    df.sparkSession.sparkContext.setJobDescription(desc)
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    el = time.monotonic() - t0
    df.sparkSession.sparkContext.setJobDescription(None)
    return round(el, 3)


def run_stages() -> None:
    """pipeline_cluster broken into its stages (mirrors run_pipeline's default
    persists; per-stage actions shift persist costs onto the stage that
    materializes them — attribution, not an official total)."""
    from deduputil_spark.cache import release_caches, track
    from deduputil_spark.config import DedupConfig
    from deduputil_spark.operators.assemble import assemble_documents
    from deduputil_spark.operators.cluster import connected_components
    from deduputil_spark.operators.lsh import candidate_pairs
    from deduputil_spark.operators.minhash import lsh_bands, minhash_signatures_numpy
    from deduputil_spark.operators.verify import jaccard_verify_docs

    corpus_path, n_turns = ensure_corpus(SF_DIR)
    spark = _spark()
    t = spark.read.parquet(corpus_path)
    cfg = DedupConfig()

    # warm run (JIT) exactly like bench.py
    from deduputil_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, t, cfg).clusters.count()
    release_caches()
    spark.catalog.clearCache()

    out: dict[str, float] = {}
    t_all = time.monotonic()
    docs = track(assemble_documents(t))
    out["assemble"] = _noop(docs, "stage: assemble")
    sigs = minhash_signatures_numpy(docs, cfg)
    bands = lsh_bands(sigs, cfg, band_key="xxhash")
    cands = track(candidate_pairs(bands, cfg))
    out["minhash+bands+cands"] = _noop(cands, "stage: minhash+bands+cands")
    verified = track(jaccard_verify_docs(cands, docs, cfg.shingle_k, threshold=cfg.jaccard_threshold))
    out["verify"] = _noop(verified, "stage: verify")
    t0 = time.monotonic()
    spark.sparkContext.setJobDescription("stage: cc")
    clusters = connected_components(
        verified.select("conv_a", "conv_b"), cfg.max_cc_iterations,
        all_vertices=docs.select("conv_id"),
    )
    n = clusters.count()
    out["cc+count"] = round(time.monotonic() - t0, 3)
    out["total"] = round(time.monotonic() - t_all, 3)
    out["n_clustered"] = n
    release_caches()
    spark.stop()
    print(json.dumps(out))


def run_cdc() -> None:
    """cdc_exact_dedup broken into assemble / chunk / block-store stages."""
    from deduputil_spark.cache import release_caches, track
    from deduputil_spark.config import DedupConfig
    from deduputil_spark.operators.assemble import assemble_documents
    from deduputil_spark.operators.chunk import chunk_documents
    from deduputil_spark.operators.dedup import build_block_store

    corpus_path, _ = ensure_corpus(SF_DIR)
    spark = _spark()
    t = spark.read.parquet(corpus_path)
    cfg = DedupConfig()
    # warm
    build_block_store(chunk_documents(assemble_documents(t), cfg)).count()
    spark.catalog.clearCache()

    out: dict[str, float] = {}
    t_all = time.monotonic()
    docs = track(assemble_documents(t))
    out["assemble"] = _noop(docs, "cdc: assemble")
    chunks = track(chunk_documents(docs, cfg))
    out["chunk"] = _noop(chunks, "cdc: chunk")
    t0 = time.monotonic()
    spark.sparkContext.setJobDescription("cdc: block_store")
    n = build_block_store(chunks).count()
    out["block_store+count"] = round(time.monotonic() - t0, 3)
    out["total"] = round(time.monotonic() - t_all, 3)
    out["n_blocks"] = n
    release_caches()
    spark.stop()
    print(json.dumps(out))


def run_queries(names: list[str]) -> None:
    """Driver-table queries, timed with the frozen bench's .count()
    methodology plus a noop-sink reading (computes every column)."""
    import __spark_entry__ as em

    spark = _spark()
    qs = em.queries()
    out: dict[str, dict] = {}
    for name in names:
        q = qs[name]
        spark.sparkContext.setJobDescription(f"warm: {name}")
        q(spark, SF_DIR).count()  # warm (JIT) — bench's timed leg runs warm too
        spark.sparkContext.setJobDescription(f"count: {name}")
        t0 = time.monotonic()
        q(spark, SF_DIR).count()
        t_count = round(time.monotonic() - t0, 3)
        df = q(spark, SF_DIR)
        t_noop = _noop(df, f"noop: {name}")
        out[name] = {"count": t_count, "noop": t_noop}
    spark.stop()
    print(json.dumps(out))


def run_explain(names: list[str], suffix: str) -> None:
    import __spark_entry__ as em

    root = os.path.dirname(os.path.abspath(__file__))
    outdir = os.path.join(root, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    qs = em.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote plans/r06/{name}{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--stages" in args:
        run_stages()
    elif "--cdc" in args:
        run_cdc()
    elif "--queries" in args:
        run_queries(args[args.index("--queries") + 1].split(","))
    elif "--explain" in args:
        sfx = args[args.index("--suffix") + 1] if "--suffix" in args else "_before"
        run_explain(args[args.index("--explain") + 1].split(","), sfx)
    else:
        print(__doc__)
