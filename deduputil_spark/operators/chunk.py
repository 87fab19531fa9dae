"""C1/C2 — chunking: 1 document row in, N chunk rows out.

Two paths:

- `chunk_documents` — the real thing: byte-exact FSP/CDC chunking via
  `mapInArrow` with the golden-validated numpy cut walk
  (deduputil_spark.functions.hashes; validated cut-for-cut against the
  compiled reference binary — /root/reference/src/dedup.c:402-546,716-764).
  Emits BinaryType chunks (the reference chunks bytes, and UTF-8 slicing at
  byte offsets may split code points).  MD5 is computed JVM-side afterwards
  (`F.md5` on binary — identical 32-hex output to the reference's
  md5_2_str, /root/reference/src/dedup.c:148-161), keeping Python work to the
  cut walk + adler only.

- `chunk_fsp_sql` — a pure-SQL FSP variant (character-stride substring),
  entirely JVM/codegen-side, used as the DuckDB-oracle query shape and as a
  fast path for ASCII corpora.

Scale notes: the chunker is embarrassingly parallel (per-document), no
shuffle; Arrow batch size bounds UDF memory.  Chunk rows carry
(conv_id, chunk_idx) so all downstream grouping is declarative.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduputil_spark.config import DedupConfig
from deduputil_spark.functions.hashes import (
    BLOCK_WIN,
    CDC_R,
    adler32_checksum,
    cdc_cuts_fast,
    cdc_walk,
    fsp_cuts,
    sb_spans,
)

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("chunk_bytes", T.BinaryType(), False),
        T.StructField("chunk_len", T.IntegerType(), False),
        T.StructField("weak32", T.LongType(), False),
        T.StructField("is_tail", T.BooleanType(), False),
    ]
)


def _chunk_one(cid: str, data: bytes, cfg: DedupConfig) -> Iterator[tuple]:
    """One document's CHUNK_SCHEMA rows by the readable scalar walk: the
    reference `_batch_chunk_walk` is tested against, chunk for chunk."""
    if cfg.chunk_algo == "fsp":
        cuts = fsp_cuts(len(data), cfg.block_size)
    elif cfg.chunk_algo == "sb":
        # per-DOCUMENT state: the reference's SB tables are cross-file and
        # scan-order-dependent (dedup.c:551-711), which no parallel engine can
        # reproduce deterministically; per-doc state keeps boundaries a pure
        # function of the document (cross-doc dedup still happens exactly in
        # the (md5, bytes) block store).  sb_spans(state=...) carries the
        # sequential semantics for the golden oracle.
        spans, _tail_start = sb_spans(data, cfg.block_size)
        cuts = [e for _, e in spans]
    else:
        cuts = cdc_cuts_fast(
            data,
            block_size=cfg.block_size,
            min_size=cfg.block_min_size,
            max_size=cfg.block_max_size,
            cut_hash=cfg.cut_hash,
        )
    prev = 0
    idx = 0
    for end in cuts:
        piece = data[prev:end]
        yield (cid, idx, piece, len(piece), adler32_checksum(piece), False)
        prev = end
        idx += 1
    tail = data[prev:]
    # the tail row is ALWAYS emitted (possibly empty) so reconstruction and
    # per-doc accounting never lose a document with zero chunks
    yield (cid, idx, tail, len(tail), adler32_checksum(tail), True)


def _batch_chunk_walk(
    buf: np.ndarray, bounds: np.ndarray, cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cut walk + weak checksums for a batch of documents packed back-to-back
    in `buf` (doc i occupies bytes [bounds[i], bounds[i+1])).  Returns
    (ends, counts, weak32): doc i's chunks are the consecutive spans between
    its cuts plus the always-emitted tail end at bounds[i+1] (ends are GLOBAL
    offsets into `buf`); counts[i] = cuts_i + 1; weak32 is the reference adler
    (signed chars, /root/reference/src/checksum.c:7-24) of every chunk.

    All heavy arrays are PER-DOC and cache-resident — one signed cumsum per
    doc (built straight off the int8 view, dtype-promoted by cumsum itself)
    feeds BOTH the adler CDC residue match (block_size | 2^16 makes the cut
    condition a window-sum residue, see hashes.cdc_cuts_fast; pow2 block_size
    turns the mod into a bitwise AND) and the per-chunk weak s1; weak s2 is a
    per-chunk dot against a reusable descending-weights array (s2 = Σ
    x[s+m]·(L-m)) — chunks are few, so that costs ~one pass over the bytes
    instead of a second cumsum + multiply.  int64 wraparound on huge docs is
    harmless: the final masks are mod 2^16/2^32, which divide 2^64.  A
    batch-GLOBAL cumsum would be 8× the batch bytes in fresh temps, which
    this host's allocator punishes with page-fault churn measured at ~7×
    slower than the per-doc form."""
    n_docs = len(bounds) - 1
    counts = np.empty(n_docs, dtype=np.int64)
    ends_parts: list[np.ndarray] = []
    weak_parts: list[np.ndarray] = []
    bs, mn, mx = cfg.block_size, cfg.block_min_size, cfg.block_max_size
    adler_fast = (
        cfg.chunk_algo == "cdc"
        and cfg.cut_hash == "adler"
        and (bs & (bs - 1)) == 0
        and bs <= 65536
    )
    desc = np.arange(1 << 16, 0, -1, dtype=np.int64)  # [..., 2, 1] weight tail
    for i in range(n_docs):
        st, en = int(bounds[i]), int(bounds[i + 1])
        nd = en - st
        sub = buf[st:en]
        x8 = sub.view(np.int8)
        c1 = np.empty(nd + 1, dtype=np.int64)
        c1[0] = 0
        np.cumsum(x8, dtype=np.int64, out=c1[1:])
        # --- cuts (local offsets) ---
        if cfg.chunk_algo == "fsp":
            cuts = np.arange(bs, nd + 1, bs, dtype=np.int64)
        elif cfg.chunk_algo == "sb":
            spans, _tail_start = sb_spans(bytes(sub), bs)
            cuts = np.asarray([e for _, e in spans], dtype=np.int64)
        elif adler_fast:
            lc: list[int] = []
            if nd >= BLOCK_WIN:
                wsum = c1[BLOCK_WIN:] - c1[:-BLOCK_WIN]  # window sums off the shared cumsum
                lc = cdc_walk(np.flatnonzero((wsum & (bs - 1)) == CDC_R), nd, mn, mx)
            cuts = np.asarray(lc, dtype=np.int64)
        else:
            cuts = np.asarray(
                cdc_cuts_fast(bytes(sub), bs, mn, mx, cut_hash=cfg.cut_hash), dtype=np.int64
            )
        le = np.empty(len(cuts) + 1, dtype=np.int64)
        le[: len(cuts)] = cuts
        le[-1] = nd  # the tail end — always emitted, possibly empty
        counts[i] = len(le)
        # --- weak32 of every chunk: s1 off the shared cumsum, s2 per chunk ---
        ls = np.empty_like(le)
        ls[0] = 0
        ls[1:] = le[:-1]
        s1 = c1[le] - c1[ls]
        if nd > len(desc):
            desc = np.arange(nd, 0, -1, dtype=np.int64)
        s2 = np.fromiter(
            (np.dot(x8[s:e], desc[len(desc) - (e - s):]) for s, e in zip(ls, le)),
            dtype=np.int64,
            count=len(le),
        )
        weak_parts.append((s1 & 0xFFFF) + ((s2 & 0xFFFF) << 16))
        ends_parts.append(le + st)
    if not ends_parts:
        return np.zeros(0, np.int64), counts, np.zeros(0, np.int64)
    return np.concatenate(ends_parts), counts, np.concatenate(weak_parts)


def make_arrow_chunker(cfg: DedupConfig):
    """mapInArrow chunker: zero Python strings, zero per-chunk Python objects.

    Same treatment that won the minhash tokenizer 1.3× (minhash.py
    `sig_batches`): view the Arrow string column's UTF-8 values buffer as one
    numpy byte array, run the per-doc cut+checksum walk (`_batch_chunk_walk` —
    per-doc cache-resident arrays, one shared cumsum for cuts AND weak32),
    then build the output RecordBatch columnar —

    - chunk_bytes: chunks tile each document exactly (cuts + always-emitted
      tail), so the concatenated chunk bytes ARE the input buffer; the binary
      column is built zero-copy from (cut-offsets, shared values buffer).
    - conv_id: Arrow `take` with repeat indices (no Python str round-trip).
    """
    import pyarrow as pa

    from deduputil_spark.operators.minhash import utf8_buffer_view

    def chunker(batches):
        for batch in batches:
            names = batch.schema.names
            cid = batch.column(names.index("conv_id"))
            txt = batch.column(names.index("doc_text"))
            view = utf8_buffer_view(txt)
            if view is not None:
                buf, bounds = view
            else:  # exotic arrow layout: rebuild a packed buffer once
                enc = [t.encode("utf-8") if t is not None else b"" for t in txt.to_pylist()]
                bounds = np.zeros(len(enc) + 1, dtype=np.int64)
                np.cumsum(np.fromiter(map(len, enc), dtype=np.int64, count=len(enc)), out=bounds[1:])
                buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
            ends, counts, weak = _batch_chunk_walk(buf, bounds, cfg)
            offsets = np.concatenate(([0], ends))
            total = len(ends)
            st_, en_ = offsets[:-1], offsets[1:]
            first = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=first[1:])
            doc_of = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
            idx = np.arange(total, dtype=np.int64) - np.repeat(first, counts)
            is_tail = np.zeros(total, dtype=bool)
            is_tail[first + counts - 1] = True
            if offsets[-1] < (1 << 31):
                chunk_bytes = pa.Array.from_buffers(
                    pa.binary(), total,
                    [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)],
                )
            else:  # >2 GB batch: int32 binary offsets can't address it
                chunk_bytes = pa.array(
                    [buf[a:b].tobytes() for a, b in zip(st_, en_)], type=pa.binary()
                )
            yield pa.RecordBatch.from_arrays(
                [
                    cid.cast(pa.string()).take(pa.array(doc_of)),
                    pa.array(idx.astype(np.int32), type=pa.int32()),
                    chunk_bytes,
                    pa.array((en_ - st_).astype(np.int32), type=pa.int32()),
                    pa.array(weak, type=pa.int64()),
                    pa.array(is_tail),
                ],
                names=["conv_id", "chunk_idx", "chunk_bytes", "chunk_len", "weak32", "is_tail"],
            )

    return chunker


def chunk_documents(docs: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """docs(conv_id, doc_text) -> chunks(conv_id, chunk_idx, chunk_bytes,
    chunk_len, weak32, is_tail, md5).  Narrow (no shuffle); Arrow-native
    (`make_arrow_chunker`), MD5 JVM-side."""
    cfg = cfg or DedupConfig()
    chunks = docs.select("conv_id", "doc_text").mapInArrow(
        make_arrow_chunker(cfg), schema=CHUNK_SCHEMA
    )
    return chunks.withColumn("md5", F.md5(F.col("chunk_bytes")))


def chunk_fsp_sql(docs: DataFrame, block_size: int = 4096) -> DataFrame:
    """Pure-SQL fixed-stride chunking over characters (JVM/codegen, no Python).

    Semantics: full blocks of `block_size` chars; the `length % block_size`
    remainder is the raw tail (is_tail = true), mirroring
    /root/reference/src/dedup.c:758-759 at character granularity.
    """
    bs = int(block_size)
    full = docs.select(
        "conv_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN length(doc_text) >= {bs} THEN "
                f"transform(sequence(0, cast(floor(length(doc_text)/{bs}) as int) - 1), "
                f"i -> substring(doc_text, i*{bs}+1, {bs})) "
                f"ELSE array() END"
            )
        ).alias("chunk_idx", "chunk_text"),
    ).select(
        "conv_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk_text",
        F.length("chunk_text").cast("int").alias("chunk_len"),
        F.lit(False).alias("is_tail"),
    )
    n_full = F.expr(f"cast(floor(length(doc_text)/{bs}) as int)")
    tail = docs.select(
        "conv_id",
        n_full.alias("chunk_idx"),
        F.expr(f"substring(doc_text, cast(floor(length(doc_text)/{bs}) as bigint)*{bs}+1)").alias("chunk_text"),
        F.expr(f"cast(length(doc_text) - floor(length(doc_text)/{bs})*{bs} as int)").alias("chunk_len"),
        F.lit(True).alias("is_tail"),
    )
    return full.unionByName(tail).withColumn("md5", F.md5(F.col("chunk_text")))


def compress_chunk_blocks(chunks: DataFrame) -> DataFrame:
    """F4 full `-z` semantics: zlib each NON-TAIL chunk and REKEY the store on
    the compressed bytes — md5(zlib(chunk)), chunk_len = compressed length —
    the reference's exact order of operations (compress → md5 → dedup,
    /root/reference/src/dedup.c:462-473; same in the SB and FSP paths,
    :598-667, :739).  Tails stay raw (extract writes last_block uncompressed,
    /root/reference/src/dedup.c:1794).  weak32 stays over the RAW bytes (it
    feeds the rsync weak→strong probe, which runs pre-compression).

    zlib.compress(b, 6) is byte-identical to the binary's zlib_compress_block
    (single deflateInit stream at Z_DEFAULT_COMPRESSION,
    /root/reference/src/libz.c:270-279): golden-pinned byte-for-byte against a
    binary-built `-z` package in tests/test_cut_hash_golden.py.

    SCALE: per-block Python (Arrow-batched pandas UDF) on the chunk map side —
    narrow, no extra shuffle; the md5/length rekey stays JVM-side."""

    @F.pandas_udf("binary")
    def _zc(s: pd.Series) -> pd.Series:
        return s.map(lambda b: zlib_block(bytes(b)))

    keep_tail = F.col("is_tail")
    return (
        chunks.withColumn(
            "chunk_bytes", F.when(keep_tail, F.col("chunk_bytes")).otherwise(_zc("chunk_bytes"))
        )
        .withColumn(
            "chunk_len",
            F.when(keep_tail, F.col("chunk_len")).otherwise(F.length("chunk_bytes").cast("int")),
        )
        .withColumn("md5", F.when(keep_tail, F.col("md5")).otherwise(F.md5("chunk_bytes")))
    )


def zlib_block(data: bytes) -> bytes:
    """F4 scalar helper — per-block zlib, byte-identical to the reference's
    zlib_compress_block (/root/reference/src/libz.c:270, same system libz at
    Z_DEFAULT_COMPRESSION).  The full `-z` semantics — compress → md5 → dedup,
    i.e. the store IS keyed on md5(zlib(chunk)) exactly as the reference does
    it — live in `compress_chunk_blocks` above (golden byte-exact vs a
    binary-built `-z` package in tests/test_cut_hash_golden.py)."""
    return zlib.compress(data, 6)

