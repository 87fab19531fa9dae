"""Traced passes, spans, the event-log reader and the Spark-free kernel readings.

A traced pass calls each layer's public functions in the same order and with
the same persists as the untimed operation it mirrors, materializes each
layer's output, and wraps each layer in ``sc.setJobDescription(<layer>)`` so
that Spark's event log can be grouped by layer afterwards.  Spans stay in
memory until `Tracer.write`.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from deduputil_spark.cache import track
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.chunk import chunk_documents
from deduputil_spark.operators.cluster import connected_components
from deduputil_spark.operators.dedup import build_block_store, build_file_meta
from deduputil_spark.operators.lsh import bucket_skew_report, candidate_pairs
from deduputil_spark.operators.minhash import (
    MERSENNE_P,
    doc_kgram_hashes,
    lsh_bands,
    minhash_signatures_numpy,
    oph_bin_edges,
    oph_signature,
    token_hashes_from_buffer,
    utf8_buffer_view,
)
from deduputil_spark.operators.reconstruct import reconstruct_documents, roundtrip_mismatches
from deduputil_spark.operators.verify import jaccard_verify_docs

from workloads import CFG

MB = 1e6


class Tracer:
    """Records spans (name, start, end, parent, run id) around layer calls."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, job_description: bool = False):
        rec = {
            "run_id": self.run_id,
            "span_id": len(self.spans),
            "parent": self._open[-1] if self._open else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._open.append(rec["span_id"])
        if job_description:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()

    def layer(self, name: str):
        """A layer span: its Spark jobs carry the layer name as description."""
        return self.span(name, job_description=True)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def coverage(self, root: str) -> float:
        """Share of the root span's time covered by its direct children."""
        (r,) = [s for s in self.spans if s["name"] == root]
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == r["span_id"])
        return kids / (r["end"] - r["start"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def storage_mb(sc) -> float:
    """Bytes held by persisted RDDs right now (memory + disk)."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / MB


# --- traced passes ------------------------------------------------------------


def traced_cluster_pass(spark, transcripts, tr: Tracer) -> tuple[dict, object]:
    """`run_pipeline_lean`, layer by layer; the counters that need extra jobs
    are taken after the pass from the still-persisted frames.  The caller
    checks the labels, then releases the persisted frames."""
    sc = spark.sparkContext
    m: dict = {}
    with tr.span("pass"):
        with tr.layer("assemble"):
            docs = track(assemble_documents(transcripts))
            m["assemble.docs_out"] = docs.count()
        with tr.layer("minhash"):
            sigs = track(minhash_signatures_numpy(docs, CFG))
            sigs.count()
            bands = lsh_bands(sigs, CFG, band_key="xxhash")
        with tr.layer("lsh"):
            cands = track(candidate_pairs(bands, CFG, persist_bands=False))
            m["lsh.candidate_pairs"] = cands.count()
        with tr.layer("verify"):
            verified = track(
                jaccard_verify_docs(cands, docs, CFG.shingle_k, threshold=CFG.jaccard_threshold)
            )
            m["verify.verified_pairs"] = verified.count()
            m["cache.storage_mb"] = storage_mb(sc)
        with tr.layer("cluster"):
            clusters = connected_components(
                verified.select("conv_a", "conv_b"), CFG.max_cc_iterations,
                all_vertices=docs.select("conv_id"),
            )
            clusters.write.format("noop").mode("overwrite").save()
    sc.setJobDescription("counters")
    with tr.span("counters"):
        m["minhash.band_rows"] = bands.count()
        skew = bucket_skew_report(bands, CFG).first()
        m["lsh.max_bucket"] = int(skew["max_bucket"] or 0)
        m["lsh.hot_buckets"] = int(skew["hot_buckets"] or 0)
        m["lsh.multi_bucket_rows"] = int(
            bands.groupBy("band_idx", "band_hash").count()
            .agg(F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0)))
            .first()[0] or 0
        )
        m["verify.candidate_docs"] = (
            cands.select(F.col("conv_a").alias("d"))
            .union(cands.select(F.col("conv_b").alias("d")))
            .distinct()
            .count()
        )
        labels = clusters.select("conv_id", "cluster_id").toPandas()
    n_cands = m["lsh.candidate_pairs"]
    m["verify.yield"] = m["verify.verified_pairs"] / n_cands if n_cands else 0.0
    sizes = labels.groupby("cluster_id").size()
    m["cluster.edges"] = m["verify.verified_pairs"]
    m["cluster.components"] = int((sizes > 1).sum())
    m["cluster.largest_component"] = int(sizes.max()) if len(sizes) else 0
    return m, labels


def traced_exact_pass(spark, transcripts, tr: Tracer) -> tuple[dict, tuple]:
    """`workloads.exact_write` then `workloads.exact_read`, layer by layer.
    The caller checks the store, then releases the persisted frames."""
    sc = spark.sparkContext
    m: dict = {}
    with tr.span("pass"):
        with tr.span("write"):
            with tr.layer("assemble"):
                docs = track(assemble_documents(transcripts))
                m["assemble.docs_out"] = docs.count()
            with tr.layer("chunk"):
                chunks = track(chunk_documents(docs, CFG))
                m["chunk.chunks"] = chunks.count()
            with tr.layer("dedup"):
                blocks = track(build_block_store(chunks))
                meta = track(build_file_meta(chunks, blocks))
                meta.count()
                m["dedup.unique_blocks"] = blocks.count()
            m["cache.storage_mb"] = storage_mb(sc)
        with tr.span("read"):
            with tr.layer("reconstruct"):
                mismatches = roundtrip_mismatches(transcripts, reconstruct_documents(meta, blocks)).count()
    sc.setJobDescription("counters")
    with tr.span("counters"):
        body = chunks.filter(~F.col("is_tail")).count()
    m["dedup.unique_ratio"] = m["dedup.unique_blocks"] / body if body else 0.0
    return m, (blocks, meta, mismatches)


# --- event log ----------------------------------------------------------------

_STAGE_KEYS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_mb",
    "internal.metrics.diskBytesSpilled": "spill_mb",
    "time to run Python workers": "python_s",
}


def event_log_by_description(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum stage metrics of a (finished, uncompressed) Spark event log per job
    description: shuffle write MB, spilled MB and Python-worker seconds."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_STAGE_KEYS.values(), 0.0))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev["Stage IDs"]:
                        stage_desc.setdefault(sid, desc)
                elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                    info = json.loads(line)["Stage Info"]
                    acc = out[stage_desc.get(info["Stage ID"])]
                    for a in info.get("Accumulables", []):
                        key = _STAGE_KEYS.get(a.get("Name"))
                        if key:
                            acc[key] += float(a["Value"])
    for acc in out.values():
        acc["shuffle_write_mb"] /= MB
        acc["spill_mb"] /= MB
        acc["python_s"] /= 1000.0  # Spark reports this metric in ms
    return dict(out)


# --- Spark-free kernel readings -----------------------------------------------


def minhash_kernels(doc_texts: list[str], repeats: int = 5) -> dict:
    """Tokenizer MB/s and OPH us/doc on one Arrow batch of the workload's docs
    (medians of `repeats` timings of the public kernel functions)."""
    import pyarrow as pa

    buf, bounds = utf8_buffer_view(pa.array(doc_texts, type=pa.string()))
    tok = []
    for _ in range(repeats):
        t = time.perf_counter()
        token_hashes_from_buffer(buf, bounds)
        tok.append(time.perf_counter() - t)
    edges = oph_bin_edges(CFG.num_perm)
    sets = [np.sort(doc_kgram_hashes(t, CFG.shingle_k) % MERSENNE_P) for t in doc_texts]
    oph = []
    for _ in range(repeats):
        t = time.perf_counter()
        for u in sets:
            oph_signature(u, CFG.num_perm, edges)
        oph.append(time.perf_counter() - t)
    return {
        "minhash.kernel_tokenize_mb_s": len(buf) / MB / statistics.median(tok),
        "minhash.kernel_oph_us_per_doc": statistics.median(oph) / len(sets) * 1e6,
    }
