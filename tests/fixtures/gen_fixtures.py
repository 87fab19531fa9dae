"""Golden-fixture generator for the three non-SQL-expressible driver queries
(VERDICT r3 #2): precompute their EXPECTED outputs with scalar, Spark-free
code and write them as parquet that the DuckDB oracle simply reads — moving
`cdc_chunk_stats`, `transcript_clusters`, and `roundtrip_check_cdc` from the
weak rows-only check into the hard rows+schema+value-hash gate.

Independence from the distributed implementation:

- input: the same deterministic synthetic corpus the queries use
  (synthesize(n_base_convs=120, seed=42) — shared by definition, it IS the
  input), assembled to documents in plain pandas (sort + join), not via the
  Spark aggregate;
- cdc_chunk_stats: cut offsets from `cdc_cuts_ref`, the byte-at-a-time
  transliteration of /root/reference/src/dedup.c:402-546 that is itself
  golden-matched against the compiled reference binary — NOT the vectorized
  walk the mapInArrow chunker uses;
- roundtrip_check_cdc: md5/length of the SOURCE text via hashlib — the Spark
  side hashes what comes OUT of the chunk → block-store → reconstruct path,
  so a hash match certifies byte-exact CDC reconstruction with zero shared
  code;
- transcript_clusters: ALL-PAIRS exact k-gram Jaccard (no MinHash, no LSH,
  no candidate generation, and — since VERDICT r4 #3 — no shared tokenizer
  either: raw token tuples via an inline pure-Python splitter, no hashing)
  + scalar union-find with min-conv_id labels.  Equality with the pipeline
  output certifies that LSH banding missed NO above-threshold pair AND that
  no token-/k-gram-hash collision flipped a threshold decision here.

Run `python -m tests.fixtures.gen_fixtures` to (re)write the fixtures;
tests/test_golden_fixtures.py regenerates into tmp and asserts byte-equality
with the committed files (drift guard) AND asserts the live Spark queries
match them.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd

from deduputil_spark.config import DedupConfig
from deduputil_spark.functions.hashes import cdc_cuts_ref

FIXTURE_DIR = os.path.dirname(os.path.abspath(__file__))
DOC_SEP = "\n"


def assembled_docs() -> pd.DataFrame:
    """(conv_id, doc_text) — pandas re-assembly of the synthetic corpus the
    rows-only queries run on (__spark_entry__._synth_transcripts)."""
    from deduputil_spark.synth import synthesize

    t = synthesize(n_base_convs=120, seed=42).transcripts
    t = t.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    docs = t.groupby("conv_id", sort=True)["text"].agg(DOC_SEP.join).reset_index()
    docs.columns = ["conv_id", "doc_text"]
    return docs


def gen_cdc_chunk_stats(docs: pd.DataFrame) -> pd.DataFrame:
    """Expected (conv_id, n_chunks, chunk_bytes) over NON-TAIL CDC chunks:
    n_chunks = number of cuts, chunk_bytes = last cut offset (the non-tail
    chunks tile [0, last_cut)); docs with zero cuts produce no row (the Spark
    query groups a filtered frame)."""
    cfg = DedupConfig()
    rows = []
    for cid, text in zip(docs["conv_id"], docs["doc_text"]):
        cuts = cdc_cuts_ref(
            text.encode("utf-8"), cfg.block_size, cfg.block_min_size, cfg.block_max_size, cfg.cut_hash
        )
        if cuts:
            rows.append((cid, len(cuts), cuts[-1]))
    return pd.DataFrame(rows, columns=["conv_id", "n_chunks", "chunk_bytes"]).astype(
        {"n_chunks": "int64", "chunk_bytes": "int64"}
    )


def gen_roundtrip_cdc(docs: pd.DataFrame) -> pd.DataFrame:
    """Expected (conv_id, recon_md5, recon_len) — md5 over the SOURCE utf-8
    bytes, length in characters (matches Spark md5(cast binary) + length)."""
    return pd.DataFrame(
        {
            "conv_id": docs["conv_id"],
            "recon_md5": [
                hashlib.md5(t.encode("utf-8")).hexdigest() for t in docs["doc_text"]
            ],
            "recon_len": np.asarray([len(t) for t in docs["doc_text"]], dtype=np.int32),
        }
    )


def _kgram_set(text: str, k: int) -> frozenset:
    """Pure-Python k-gram set over RAW token tuples — shares NO code (and no
    hashing) with the implementation (VERDICT r4 #3: the fixture previously
    imported doc_kgram_hashes, so a k-gram-hash bug could pass undetected).
    Token definition mirrors the pipeline's documented semantics: split on
    ASCII whitespace only (space \\t \\n \\r \\x0b \\x0c; exotic unicode
    whitespace is token content).  Docs with 0 < n < k tokens contribute the
    single gram of all their tokens; empty docs the empty set.  Because the
    grams here are raw tuples (no cap, no hash), equality of the resulting
    clusters with the pipeline output additionally certifies that neither
    token-hash nor k-gram-hash collisions flipped any threshold decision on
    this corpus."""
    toks = [t for t in re.split("[ \t\n\r\x0b\x0c]+", text) if t]
    if not toks:
        return frozenset()
    if len(toks) < k:
        return frozenset([tuple(toks)])
    return frozenset(tuple(toks[i : i + k]) for i in range(len(toks) - k + 1))


def gen_transcript_clusters(docs: pd.DataFrame) -> pd.DataFrame:
    """Expected (conv_id, cluster_id): all-pairs exact k-gram Jaccard at the
    pipeline threshold, union-find, min-conv_id component labels, singletons
    labeled by themselves."""
    cfg = DedupConfig()
    ids = list(docs["conv_id"])
    sets = [_kgram_set(t, cfg.shingle_k) for t in docs["doc_text"]]
    parent = {c: c for c in ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min-label attachment keeps roots canonical

    n = len(ids)
    for i in range(n):
        si = sets[i]
        for j in range(i + 1, n):
            sj = sets[j]
            inter = len(si & sj)
            union_sz = len(si) + len(sj) - inter
            # J(∅, ∅) = 1.0, as the pipeline's verify scores two empty sets
            if (inter / union_sz if union_sz else 1.0) >= cfg.jaccard_threshold:
                union(ids[i], ids[j])

    return pd.DataFrame(
        {"conv_id": ids, "cluster_id": [find(c) for c in ids]}
    ).sort_values("conv_id", kind="mergesort").reset_index(drop=True)


GENERATORS = {
    "cdc_chunk_stats": gen_cdc_chunk_stats,
    "roundtrip_check_cdc": gen_roundtrip_cdc,
    "transcript_clusters": gen_transcript_clusters,
}


def write_fixtures(out_dir: str = FIXTURE_DIR) -> dict[str, str]:
    docs = assembled_docs()
    paths = {}
    for name, gen in GENERATORS.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        gen(docs).to_parquet(path, index=False)
        paths[name] = path
    return paths


if __name__ == "__main__":
    for name, path in write_fixtures().items():
        print(name, "->", path)
