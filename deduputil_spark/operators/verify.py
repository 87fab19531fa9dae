"""Candidate-pair verification — the "strong check" tier.

Three verifiers, mirroring the reference's similarity semantics:

- exact set Jaccard over k-grams: `jaccard_verify_sets` (the pipeline's
  verify, JVM array_intersect over the k-gram sets the signature layer
  emits) and `jaccard_verify_docs` (the same core for callers holding doc
  text).
- `bsim_components` — the reference's weighted block-frequency formula
  sim = 2·Σ len·min(n1,n2) / Σ len·(n1+n2)  (/root/reference/src/bsim.c:277-294)
  over chunk-md5 multisets, relational, as integer components
  (w_inter, wsum), sim = 2·w_inter / wsum.
- `lcs_verify_components` — the reference's ordered LCS similarity
  (deduputil src/bsim.c:177-275) as integer components
  (lcs_bytes, union_bytes), sim = 2·lcs_bytes / union_bytes: O(n·m) DP over
  the two documents' chunk-hash sequences, run ONLY on surviving candidate
  pairs via a vectorized-batch pandas UDF (quadratic work must never touch
  the corpus).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduputil_spark.cache import track


_KSET_SCHEMA = "conv_id string, kset array<bigint>"


def _kgram_sets(docs: DataFrame, k: int) -> DataFrame:
    """(conv_id, kset array<long>) — per-doc UNIQUE k-gram hash set, one row
    per doc (numpy via mapInArrow, zero-copy off the Arrow UTF-8 buffer; the
    same `batch_kgram_sets` the numpy minhash emits its kset column with)."""
    from deduputil_spark.operators.minhash import arrow_token_hashes, batch_kgram_sets, list_array

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            cid = batch.column(names.index("conv_id"))
            kset = list_array(*batch_kgram_sets(*arrow_token_hashes(batch.column(names.index("doc_text"))), k))
            yield pa.RecordBatch.from_arrays([cid.cast(pa.string()), kset], names=["conv_id", "kset"])

    return docs.select("conv_id", "doc_text").mapInArrow(run, schema=_KSET_SCHEMA)


def jaccard_verify_sets(pairs: DataFrame, ksets: DataFrame, threshold: float | None = None) -> DataFrame:
    """(conv_a, conv_b) × (conv_id, kset) -> (conv_a, conv_b, jaccard), in the
    JVM only.

    `ksets` holds one row per doc with its sorted unique k-gram keys — the
    `kset` column of `minhash_signatures_numpy` in the pipeline.  |A∩B| is a
    JVM array_intersect per pair and |A∪B| = |A|+|B|-|A∩B|, so verification
    shuffles O(candidate_docs · set_size) longs and runs no Python.  Both
    join sides read `ksets`: pass a persisted frame (the pipeline's sign
    table is one) or its plan runs once per side.  Two empty sets score 1.0,
    the convention of perfbench's exact Jaccards."""
    a = ksets.select(F.col("conv_id").alias("conv_a"), F.col("kset").alias("ka"))
    b = ksets.select(F.col("conv_id").alias("conv_b"), F.col("kset").alias("kb"))
    union = F.col("nsum") - F.col("inter")
    out = (
        pairs.join(a, "conv_a")
        .join(b, "conv_b")
        .select(
            "conv_a",
            "conv_b",
            F.size(F.array_intersect("ka", "kb")).alias("inter"),
            (F.size("ka") + F.size("kb")).alias("nsum"),
        )
        .select(
            "conv_a",
            "conv_b",
            # J(∅, ∅) = 1: two docs with no k-grams (empty or whitespace-only)
            # share every band, and 0/0 fails the query under ANSI mode
            F.when(union == 0, F.lit(1.0)).otherwise(F.col("inter") / union).alias("jaccard"),
        )
    )
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def jaccard_verify_docs(
    pairs: DataFrame,
    docs: DataFrame,
    k: int = 5,
    threshold: float | None = None,
) -> DataFrame:
    """`jaccard_verify_sets` for callers that hold document text, not k-gram
    sets: candidate docs are pruned (semi-join; AQE broadcasts when small)
    BEFORE tokenization, and only they get a k-gram set (`_kgram_sets`)."""
    # no .distinct() on members: LEFT SEMI dedups by construction
    members = (
        pairs.select(F.col("conv_a").alias("conv_id"))
        .unionByName(pairs.select(F.col("conv_b").alias("conv_id")))
    )
    # no forced broadcast: distinct pair members can reach tens of millions at
    # corpus scale — let AQE pick broadcast vs shuffled semi-join by size
    cand_docs = docs.join(members, "conv_id", "left_semi")
    # persist feeds both join sides of the same returned plan; registered with
    # cache.track so the caller releases it after materializing (see cache.py)
    return jaccard_verify_sets(pairs, track(_kgram_sets(cand_docs, k)), threshold)


def bsim_components(pairs: DataFrame, chunks: DataFrame) -> DataFrame:
    """Reference bsim J1 as INTEGER-EXACT components per pair:
    (w_inter = Σ len·min(n_a, n_b), wsum = Σ_a len·n_a + Σ_b len·n_b);
    sim = 2·w_inter / wsum (/root/reference/src/bsim.c:277-294)."""
    freq = (
        chunks.filter(~F.col("is_tail"))
        .groupBy("conv_id", "md5")
        .agg(F.count(F.lit(1)).alias("n"), F.first("chunk_len").alias("len"))
    )
    tot = freq.groupBy("conv_id").agg(F.sum(F.col("n") * F.col("len")).alias("total"))
    fa = freq.select(F.col("conv_id").alias("conv_a"), "md5", F.col("n").alias("na"), "len")
    fb = freq.select(F.col("conv_id").alias("conv_b"), "md5", F.col("n").alias("nb"))
    inter = (
        pairs.join(fa, "conv_a")
        .join(fb, ["conv_b", "md5"])
        .groupBy("conv_a", "conv_b")
        .agg(F.sum(F.least("na", "nb") * F.col("len")).alias("w_inter"))
    )
    return (
        pairs.join(inter, ["conv_a", "conv_b"], "left")
        .fillna(0, subset=["w_inter"])
        .join(tot.select(F.col("conv_id").alias("conv_a"), F.col("total").alias("ta")), "conv_a")
        .join(tot.select(F.col("conv_id").alias("conv_b"), F.col("total").alias("tb")), "conv_b")
        .select(
            "conv_a",
            "conv_b",
            F.col("w_inter").cast("long").alias("w_inter"),
            (F.col("ta") + F.col("tb")).cast("long").alias("wsum"),
        )
    )


_DIAG, _UP, _LEFT = 2, 1, 0


def _lcs_components(
    seq_a: np.ndarray, len_a: np.ndarray, seq_b: np.ndarray, len_b: np.ndarray
) -> tuple[int, int]:
    """Exact transliteration of the reference LCS similarity
    (/root/reference/src/bsim.c:177-275 + similarity_detect :284-294),
    returning the INTEGER components (lcs_bytes, sim_union):

    1. unweighted LCS DP over the two chunk-hash sequences (match = +1),
       with the reference's tie-breaking (LEFT overrides UP overrides DIAG,
       each with >=),
    2. backtrack the R matrix summing the byte length of each matched hash
       (length = first-seen occurrence, file-1-first, mirroring hash_checkin),
    3. sim = 2·lcs_bytes / Σ len·(n1+n2).

    DP rows are numpy-vectorized (the cur[j-1] dependency resolves to a
    running max because LCS rows are monotone); backtrack is O(n+m).
    """
    n, m = len(seq_a), len(seq_b)
    # union weight uses first-seen lengths, file-1 first (hash_checkin order)
    lens: dict = {}
    for s, l in zip(seq_a, len_a):
        lens.setdefault(s, int(l))
    for s, l in zip(seq_b, len_b):
        lens.setdefault(s, int(l))
    sim_union = int(len_a.sum()) + int(len_b.sum())  # Σ len·(n1+n2) with len≡first-seen
    if sim_union == 0 or n == 0 or m == 0:
        return 0, sim_union
    prev = np.zeros(m + 1, dtype=np.int32)
    R = np.empty((n + 1, m + 1), dtype=np.int8)
    R[:, 0] = _UP
    R[0, :] = _LEFT
    for i in range(1, n + 1):
        eq = seq_a[i - 1] == seq_b
        cand = prev[:-1] + eq.astype(np.int32)  # S[i-1][j-1] (+1 on match)
        up = prev[1:]
        base = np.where(up >= cand, up, cand)
        cur_tail = np.maximum.accumulate(base)  # resolves the LEFT running max
        # R with reference priority: LEFT (>=) beats UP (>=) beats DIAG
        left = np.concatenate(([0], cur_tail[:-1]))
        r = np.where(eq, _DIAG, _UP)  # NEITHER is unreachable (up >= diag always)
        r = np.where(up >= cand, _UP, r)
        r = np.where(left >= np.maximum(up, cand), _LEFT, r)
        R[i, 1:] = r
        prev = np.concatenate(([0], cur_tail))
    # backtrack
    ii, jj = n, m
    lcs_bytes = 0
    while ii > 0 or jj > 0:
        rr = R[ii, jj]
        if rr == _DIAG:
            ii -= 1
            jj -= 1
            lcs_bytes += lens.get(seq_a[ii], 0)
        elif rr == _UP:
            ii -= 1
        else:
            jj -= 1
    return lcs_bytes, sim_union


_LCS_COMPONENT_SCHEMA = T.StructType(
    [
        T.StructField("conv_a", T.StringType()),
        T.StructField("conv_b", T.StringType()),
        T.StructField("lcs_bytes", T.LongType()),
        T.StructField("union_bytes", T.LongType()),
    ]
)


def lcs_verify_components(pairs_with_seqs: DataFrame) -> DataFrame:
    """Integer-exact J2: (lcs_bytes, union_bytes) per pair;
    sim = 2·lcs_bytes / union_bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lb, ub = [], []
            for ra, rla, rb, rlb in zip(pdf["seq_a"], pdf["lens_a"], pdf["seq_b"], pdf["lens_b"]):
                sa = np.asarray(ra, dtype=object)
                sb = np.asarray(rb, dtype=object)
                la = np.asarray(rla, dtype=np.int64)
                lbn = np.asarray(rlb, dtype=np.int64)
                x, y = _lcs_components(sa, la, sb, lbn)
                lb.append(x)
                ub.append(y)
            yield pd.DataFrame(
                {"conv_a": pdf["conv_a"], "conv_b": pdf["conv_b"], "lcs_bytes": lb, "union_bytes": ub}
            )

    return pairs_with_seqs.mapInPandas(run, schema=_LCS_COMPONENT_SCHEMA)


def pair_chunk_sequences(pairs: DataFrame, chunks: DataFrame) -> DataFrame:
    """Attach ordered chunk-md5 sequences + lengths to each pair (input to
    `lcs_verify_components`)."""
    seqs = (
        chunks.filter(~F.col("is_tail"))
        .groupBy("conv_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "md5", "chunk_len"))),
                lambda s: s["md5"],
            ).alias("seq"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "md5", "chunk_len"))),
                lambda s: s["chunk_len"],
            ).alias("lens"),
        )
    )
    a = seqs.select(F.col("conv_id").alias("conv_a"), F.col("seq").alias("seq_a"), F.col("lens").alias("lens_a"))
    b = seqs.select(F.col("conv_id").alias("conv_b"), F.col("seq").alias("seq_b"), F.col("lens").alias("lens_b"))
    return pairs.join(a, "conv_a").join(b, "conv_b")
