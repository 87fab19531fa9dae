"""bsim/LCS verifier tests (reference /root/reference/src/bsim.c semantics)."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.chunk import chunk_documents
from deduputil_spark.operators.verify import (
    _lcs_components,
    bsim_components,
    lcs_verify_components,
    pair_chunk_sequences,
)

rng = random.Random(4242)


def _lcs_scalar(seq_a, len_a, seq_b, len_b):
    """Direct scalar transliteration of LCS() + similarity_detect()
    (/root/reference/src/bsim.c:177-275,284-294) used as the oracle."""
    n, m = len(seq_a), len(seq_b)
    UP, LEFT, DIAG, NEITHER = 1, 0, 2, 3
    S = [[0] * (m + 1) for _ in range(n + 1)]
    R = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n + 1):
        R[i][0] = UP
    for j in range(m + 1):
        R[0][j] = LEFT
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            if seq_a[i - 1] == seq_b[j - 1]:
                S[i][j] = S[i - 1][j - 1] + 1
                R[i][j] = DIAG
            else:
                S[i][j] = S[i - 1][j - 1]
                R[i][j] = NEITHER
            if S[i - 1][j] >= S[i][j]:
                S[i][j] = S[i - 1][j]
                R[i][j] = UP
            if S[i][j - 1] >= S[i][j]:
                S[i][j] = S[i][j - 1]
                R[i][j] = LEFT
    lens = {}
    for s, l in zip(seq_a, len_a):
        lens.setdefault(s, int(l))
    for s, l in zip(seq_b, len_b):
        lens.setdefault(s, int(l))
    ii, jj, total = n, m, 0
    while ii > 0 or jj > 0:
        r = R[ii][jj]
        if r == DIAG:
            ii -= 1
            jj -= 1
            total += lens.get(seq_a[ii], 0)
        elif r == UP:
            ii -= 1
        else:
            jj -= 1
    union = int(sum(len_a)) + int(sum(len_b))
    return 2.0 * total / union if union else 0.0


@pytest.mark.parametrize("trial", range(12))
def test_lcs_vectorized_matches_scalar_transliteration(trial):
    n, m = rng.randrange(0, 30), rng.randrange(0, 30)
    alphabet = [f"h{i}" for i in range(6)]  # small alphabet -> many ties
    seq_a = np.array([rng.choice(alphabet) for _ in range(n)], dtype=object)
    seq_b = np.array([rng.choice(alphabet) for _ in range(m)], dtype=object)
    len_a = np.array([rng.randrange(1, 100) for _ in range(n)], dtype=np.int64)
    len_b = np.array([rng.randrange(1, 100) for _ in range(m)], dtype=np.int64)
    lcs_bytes, union_bytes = _lcs_components(seq_a, len_a, seq_b, len_b)
    got = 2.0 * lcs_bytes / union_bytes if union_bytes else 0.0
    want = _lcs_scalar(list(seq_a), list(len_a), list(seq_b), list(len_b))
    assert got == pytest.approx(want), (trial, got, want)


def test_lcs_identical_sequences():
    seq = np.array(["a", "b", "c"], dtype=object)
    lens = np.array([10, 20, 30], dtype=np.int64)
    lcs_bytes, union_bytes = _lcs_components(seq, lens, seq, lens)
    assert 2 * lcs_bytes == union_bytes == 120


def test_bsim_and_lcs_on_spark(spark, transcripts, corpus):
    """bsim formula: identical docs -> 1.0; exact-dup planted pairs score 1.0
    end-to-end over CDC chunk multisets."""
    # small blocks force plenty of CDC cuts on the tiny corpus (default 4096
    # blocks rarely cut short word-soup docs -> empty chunk sequences)
    cfg = DedupConfig(block_size=256, block_min_size=64, block_max_size=1024)
    docs = assemble_documents(transcripts)
    chunks = chunk_documents(docs, cfg).cache()
    truth = corpus.truth_pairs
    exact = truth[truth["kind"] == "exact"][["conv_a", "conv_b"]]
    pairs = spark.createDataFrame(exact)
    for r in bsim_components(pairs, chunks).collect():
        # bsim = 2·w_inter/wsum == 1.0, checked in integers
        assert 2 * r["w_inter"] == r["wsum"] > 0, r
    seqs = pair_chunk_sequences(pairs, chunks)
    rows = lcs_verify_components(seqs).collect()
    assert rows, "exact pairs must have chunk sequences"
    for r in rows:
        # lcs_sim = 2·lcs_bytes/union_bytes == 1.0, checked in integers
        assert 2 * r["lcs_bytes"] == r["union_bytes"] > 0, r


def test_lcs_weighted_certified_on_real_cdc_chunks(spark):
    """J2 weighted-path external certification (VERDICT r2 item 10): on REAL
    sf0.001 documents with mixed-length CDC chunks, the distributed
    lcs_verify_components must equal the scalar bsim.c transliteration for
    every pair — near-dup pairs (same-text groups) AND unrelated pairs."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text"))
    )
    cfg = DedupConfig(block_size=64, block_min_size=48, block_max_size=256)
    # near-dup twins built FROM the real docs (sf0.001 plants no exact dups):
    # same prefix, mutated tail -> high-but-not-1.0 LCS over shared chunks
    twins = docs.limit(12).select(
        F.concat(F.col("conv_id"), F.lit("_mut")).alias("conv_id"),
        F.concat(F.expr("substring(doc_text, 1, greatest(length(doc_text) - 25, 1))"),
                 F.lit(" mutated tail divergence zz")).alias("doc_text"),
    )
    chunks = chunk_documents(docs.unionByName(twins), cfg).cache()

    near = docs.limit(12).select(
        F.col("conv_id").alias("conv_a"),
        F.concat(F.col("conv_id"), F.lit("_mut")).alias("conv_b"),
    )
    ids = [r["conv_id"] for r in docs.select("conv_id").orderBy("conv_id").limit(30).collect()]
    adjacent = spark.createDataFrame(
        [(a, b) for a, b in zip(ids[::2], ids[1::2])], "conv_a string, conv_b string"
    )
    pairs = near.unionByName(adjacent)

    seqs = pair_chunk_sequences(pairs, chunks).cache()
    got = {
        (r["conv_a"], r["conv_b"]): (r["lcs_bytes"], r["union_bytes"])
        for r in lcs_verify_components(seqs).collect()
    }
    rows = seqs.collect()
    assert len(rows) >= 15
    mixed = any(len(set(r["lens_a"])) > 1 for r in rows)
    assert mixed, "CDC at these sizes must produce mixed-length chunk sequences"
    n_nontrivial = 0
    for r in rows:
        sim = _lcs_scalar(list(r["seq_a"]), list(r["lens_a"]), list(r["seq_b"]), list(r["lens_b"]))
        lcs_b, union_b = got[(r["conv_a"], r["conv_b"])]
        want = 2.0 * lcs_b / union_b if union_b else 0.0
        assert want == pytest.approx(sim), (r["conv_a"], r["conv_b"], want, sim)
        if 0.0 < sim:
            n_nontrivial += 1
    assert n_nontrivial >= 5  # the certification must exercise real overlaps
    chunks.unpersist()
    seqs.unpersist()
