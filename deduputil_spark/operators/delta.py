"""rsync-style delta encode / patch apply — the reference sync family
(J3/J4/J5 + C3 sliding-block semantics):

- file_delta FSP variant (/root/reference/src/sync.c:307-338): stride the
  source into fixed blocks; per block do the two-tier weak(adler32) →
  strong(md5) probe against the target's chunk map; emit a copy-ref
  (target offset, len) on hit, embedded literal bytes on miss; tail literal.
- file_delta SBC variant (/root/reference/src/sync.c:461-556, the C3
  sliding-block shape): roll a block-size adler window byte-by-byte over the
  source; on weak+strong hit emit the pending literal then a copy-ref and
  jump a full block; else slide 1 byte.
- file_sync (/root/reference/src/sync.c:656-755): replay entries — embedded
  bytes from the delta, refs sliced from the target — and append the tail.

Spark shape: per-PAIR operations.  The target chunk maps ride along the pair
rows into a mapInPandas; the SBC scan's weak-candidate mask is fully
vectorized (rolling adler32 ≡ fresh adler32 at every offset mod 2^16 — both
s1 and s2 reduce to prefix sums, same derivation as the CDC cut mask).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduputil_spark.functions.hashes import adler32_checksum

DELTA_SCHEMA = T.StructType(
    [
        T.StructField("conv_src", T.StringType(), False),
        T.StructField("conv_tgt", T.StringType(), False),
        T.StructField("entry_idx", T.IntegerType(), False),
        T.StructField("embedded", T.BooleanType(), False),
        T.StructField("offset", T.LongType(), True),   # target offset when ref
        T.StructField("len", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), True),    # literal bytes when embedded
    ]
)


def _adler_all_positions(data: np.ndarray, win: int) -> np.ndarray:
    """Full 32-bit adler (reference semantics, signed chars) of EVERY length-
    `win` window, via prefix sums.  Rolling ≡ fresh mod 2^16 for both halves:
    s1(w) = Σ x[w:w+win];  s2(w) = Σ (win-i)·x[w+i] = win·s1(w) - (T(w) - w·s1(w))
    where T(w) = Σ j·x[j] over the window — both prefix-summable."""
    x = data.astype(np.int64)
    n = len(x) - win + 1
    if n <= 0:
        return np.zeros(0, dtype=np.uint64)
    c = np.concatenate(([0], np.cumsum(x)))
    j = np.arange(len(x), dtype=np.int64)
    cj = np.concatenate(([0], np.cumsum(j * x)))
    w = np.arange(n, dtype=np.int64)
    s1 = c[win:] - c[:-win]
    T_ = cj[win:] - cj[:-win]
    s2 = win * s1 - (T_ - w * s1)
    return (((s1 & 0xFFFF) + ((s2 & 0xFFFF) << 16)).astype(np.uint64))


def _target_maps(chunk_rows) -> tuple[dict, dict]:
    """weak→[entries], md5→entry maps from (offset, len, weak32, md5) rows."""
    weak: dict[int, bool] = {}
    strong: dict[str, tuple[int, int]] = {}
    for off, ln, wk, m5 in chunk_rows:
        weak[int(wk)] = True
        strong.setdefault(m5, (int(off), int(ln)))
    return weak, strong


def _delta_one(src: bytes, chunk_rows, block_size: int, mode: str):
    """Yield (entry_idx, embedded, offset, len, data) entries."""
    weak, strong = _target_maps(chunk_rows)
    sdata = np.frombuffer(src, dtype=np.int8)
    entries = []
    if mode == "fsp":
        n_full = len(src) // block_size
        for b in range(n_full):
            blk = src[b * block_size : (b + 1) * block_size]
            hkey = adler32_checksum(blk)
            hit = None
            if hkey in weak:
                hit = strong.get(hashlib.md5(blk).hexdigest())
            if hit is not None:
                entries.append((False, hit[0], len(blk), None))
            else:
                entries.append((True, None, len(blk), blk))
        tail = src[n_full * block_size :]
        if tail:
            entries.append((True, None, len(tail), tail))
    elif mode == "sbc":
        if len(src) >= block_size:
            hk = _adler_all_positions(sdata, block_size)
            weak_keys = np.fromiter(weak.keys(), dtype=np.uint64, count=len(weak))
            cand = np.flatnonzero(np.isin(hk, weak_keys))
        else:
            cand = np.zeros(0, dtype=np.int64)
        pos = 0
        lit_start = 0
        ci = 0
        while True:
            ci = int(np.searchsorted(cand, pos))
            hit = None
            hit_at = -1
            while ci < len(cand):
                p = int(cand[ci])
                blk = src[p : p + block_size]
                h = strong.get(hashlib.md5(blk).hexdigest())
                if h is not None:
                    hit, hit_at = h, p
                    break
                ci += 1
            if hit is None:
                break
            if hit_at > lit_start:  # pending literal before the match
                entries.append((True, None, hit_at - lit_start, src[lit_start:hit_at]))
            entries.append((False, hit[0], block_size, None))
            pos = hit_at + block_size
            lit_start = pos
        if lit_start < len(src):
            entries.append((True, None, len(src) - lit_start, src[lit_start:]))
    else:
        raise ValueError(f"unknown delta mode {mode!r}")
    return entries


def chunks_with_offsets(chunks: DataFrame) -> DataFrame:
    """Attach byte offsets to chunk rows (cumulative length in chunk order) —
    the chunk-file entry shape (offset, len, md5, csum) of
    /root/reference/src/sync.h:46-52."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return chunks.withColumn("offset", F.coalesce(F.sum("chunk_len").over(w), F.lit(0)))


def compute_deltas(
    pairs: DataFrame,
    docs: DataFrame,
    chunks: DataFrame,
    block_size: int = 4096,
    mode: str = "fsp",
) -> DataFrame:
    """pairs(conv_src, conv_tgt) × docs × target chunk maps -> delta entries.

    Target maps are grouped to one array row per conv (sort_array keeps
    chunk order) and joined onto the pairs — each pair row is self-contained
    for the vectorized-batch UDF."""
    tgt_maps = (
        chunks_with_offsets(chunks.filter(~F.col("is_tail")))
        .groupBy(F.col("conv_id").alias("conv_tgt"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("offset", F.col("chunk_len").alias("len"), "weak32", "md5"))
            ).alias("tmap")
        )
    )
    src_docs = docs.select(F.col("conv_id").alias("conv_src"), F.col("doc_text").alias("src_text"))
    joined = pairs.join(src_docs, "conv_src").join(tgt_maps, "conv_tgt", "left")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                tmap = r["tmap"] if r["tmap"] is not None else []
                chunk_rows = [(e["offset"], e["len"], e["weak32"], e["md5"]) for e in tmap]
                entries = _delta_one(r["src_text"].encode("utf-8"), chunk_rows, block_size, mode)
                for i, (emb, off, ln, data) in enumerate(entries):
                    rows.append((r["conv_src"], r["conv_tgt"], i, emb, off, ln, data))
            yield pd.DataFrame(
                rows,
                columns=["conv_src", "conv_tgt", "entry_idx", "embedded", "offset", "len", "data"],
            )

    return joined.mapInPandas(run, schema=DELTA_SCHEMA)


def apply_deltas(deltas: DataFrame, docs: DataFrame, chunks: DataFrame) -> DataFrame:
    """file_sync: replay delta entries against the TARGET's reconstructed
    bytes -> (conv_src, conv_tgt, doc_text).  Refs slice target bytes at
    (offset, len); embedded entries carry their bytes."""
    tgt_docs = docs.select(F.col("conv_id").alias("conv_tgt"), F.col("doc_text").alias("tgt_text"))
    grouped = deltas.groupBy("conv_src", "conv_tgt").agg(
        F.sort_array(
            F.collect_list(F.struct("entry_idx", "embedded", "offset", "len", "data"))
        ).alias("entries")
    ).join(tgt_docs, "conv_tgt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                tgt = r["tgt_text"].encode("utf-8")
                out = bytearray()
                for e in r["entries"]:
                    if e["embedded"]:
                        out += bytes(e["data"])
                    else:
                        # Arrow renders nullable ints as floats — coerce
                        off, ln = int(e["offset"]), int(e["len"])
                        out += tgt[off : off + ln]
                rows.append((r["conv_src"], r["conv_tgt"], out.decode("utf-8")))
            yield pd.DataFrame(rows, columns=["conv_src", "conv_tgt", "doc_text"])

    return grouped.mapInPandas(
        run, schema="conv_src string, conv_tgt string, doc_text string"
    )


def bdiff(pairs: DataFrame, docs: DataFrame, chunks: DataFrame, block_size: int = 4096) -> DataFrame:
    """J3 — block-diff report (/root/reference/src/bdiff.c:107-185): for each
    source FSP block, is it found in the target (and at what offset)?
    Relational reuse of the delta machinery: diff = embedded entries."""
    d = compute_deltas(pairs, docs, chunks, block_size, mode="fsp")
    return d.select(
        "conv_src",
        "conv_tgt",
        F.col("entry_idx").alias("block_no"),
        F.col("embedded").alias("diff"),
        "offset",
        "len",
    )
