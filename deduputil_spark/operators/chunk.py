"""C1/C2/C3 — chunking: 1 document row in, N chunk rows out.

Two paths:

- `chunk_documents` — the real thing: byte-exact FSP/CDC/SB chunking via
  `mapInArrow`.  There is one chunk walk, the one the golden tests pin:
  each document's cuts come from `fsp_cuts`, `sb_spans` or `cdc_cuts_fast`
  (deduputil_spark.functions.hashes, cut-for-cut equal to the reference's
  src/dedup.c:402-546,551-711,716-764) and each chunk's weak32 from
  `adler32_checksum`.  Emits BinaryType chunks (the reference chunks bytes,
  and UTF-8 slicing at byte offsets may split code points).  MD5 is
  computed JVM-side afterwards (`F.md5` on binary — identical 32-hex output
  to the reference's md5_2_str, src/dedup.c:148-161), keeping Python work
  to the cut walk + adler only.

- `chunk_fsp_sql` — a pure-SQL FSP variant (character-stride substring),
  entirely JVM/codegen-side, used as the DuckDB-oracle query shape and as a
  fast path for ASCII corpora.

Scale notes: the chunker is embarrassingly parallel (per-document), no
shuffle; Arrow batch size bounds UDF memory.  Chunk rows carry
(conv_id, chunk_idx) so all downstream grouping is declarative.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduputil_spark.config import DedupConfig
from deduputil_spark.functions.hashes import adler32_checksum, cdc_cuts_fast, fsp_cuts, sb_spans

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


def _doc_cuts(data: bytes, cfg: DedupConfig) -> list[int]:
    """One document's chunk END offsets, tail excluded, from the primitives
    the golden tests pin (`functions.hashes`)."""
    if cfg.chunk_algo == "fsp":
        return fsp_cuts(len(data), cfg.block_size)
    if cfg.chunk_algo == "sb":
        # per-DOCUMENT state: the reference's SB tables are cross-file and
        # scan-order-dependent (dedup.c:551-711), which no parallel engine can
        # reproduce deterministically; per-doc state keeps boundaries a pure
        # function of the document (cross-doc dedup still happens exactly in
        # the (md5, bytes) block store).  sb_spans(state=...) carries the
        # sequential semantics for the golden oracle.
        spans, _tail_start = sb_spans(data, cfg.block_size)
        return [e for _, e in spans]
    return cdc_cuts_fast(data, cfg.block_size, cfg.block_min_size, cfg.block_max_size, cut_hash=cfg.cut_hash)


def make_arrow_chunker(cfg: DedupConfig):
    """mapInArrow chunker: one walk per document, columnar output.

    The documents are read zero-copy off the Arrow string column's UTF-8
    values buffer (`utf8_buffer_view`, as the minhash tokenizer does); each
    one is cut by `_doc_cuts` and each chunk checksummed by
    `adler32_checksum`.  The output RecordBatch is built columnar —

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
            buf, bounds = utf8_buffer_view(txt)
            doc_of: list[int] = []
            idx: list[int] = []
            ends: list[int] = []
            weak: list[int] = []
            is_tail: list[bool] = []
            for i, (st, en) in enumerate(zip(bounds[:-1].tolist(), bounds[1:].tolist())):
                data = buf[st:en].tobytes()
                # the tail row is ALWAYS emitted (possibly empty) so reconstruction
                # and per-doc accounting never lose a document with zero chunks
                doc_ends = [*_doc_cuts(data, cfg), len(data)]
                n = len(doc_ends)
                doc_of += [i] * n
                idx += range(n)
                ends += [st + e for e in doc_ends]
                weak += [adler32_checksum(data[s:e]) for s, e in zip([0, *doc_ends], doc_ends)]
                is_tail += [False] * (n - 1) + [True]
            offsets = np.array([0, *ends], dtype=np.int64)
            if offsets[-1] < (1 << 31):
                chunk_bytes = pa.Array.from_buffers(
                    pa.binary(), len(ends),
                    [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)],
                )
            else:  # >2 GB batch: int32 binary offsets can't address it
                chunk_bytes = pa.array(
                    [buf[a:b].tobytes() for a, b in zip(offsets[:-1], offsets[1:])], type=pa.binary()
                )
            yield pa.RecordBatch.from_arrays(
                [
                    cid.cast(pa.string()).take(pa.array(doc_of, type=pa.int64())),
                    pa.array(idx, type=pa.int32()),
                    chunk_bytes,
                    pa.array(np.diff(offsets).astype(np.int32), type=pa.int32()),
                    pa.array(weak, type=pa.int64()),
                    pa.array(is_tail, type=pa.bool_()),
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

